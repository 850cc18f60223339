"""Output check for the index workloads: a Spark result must hash-equal the
query's registered oracle SQL (SparkEntry.oracleSql) run in DuckDB over the
same generated tables, canonicalized as tools/check_oracle.py does
(columns sorted by name, values stringified exactly, rows sorted)."""
import glob
import hashlib
import json
import os

import duckdb
import pandas as pd

TABLES = ["embeddings", "region"]


def canon_digest(df: pd.DataFrame) -> str:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if isinstance(df[c].dtype, pd.DatetimeTZDtype):
            df[c] = df[c].dt.tz_convert("UTC").dt.tz_localize(None)
    s = df.astype(str)
    s = s.sort_values(by=list(s.columns), kind="mergesort").reset_index(drop=True)
    return hashlib.sha256(s.to_csv(index=False).encode()).hexdigest()


def oracle_digest(data_dir: str, sql: str, cache_dir: str) -> str:
    """DuckDB result digest, cached by (tables, SQL) so that a seed's
    oracle runs once per checkout."""
    h = hashlib.sha256(sql.encode())
    for t in TABLES:
        with open(os.path.join(data_dir, f"{t}.parquet"), "rb") as f:
            h.update(f.read())
    path = os.path.join(cache_dir, h.hexdigest() + ".json")
    if os.path.exists(path):
        return json.load(open(path))["digest"]
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(f"SET threads={max(1, len(os.sched_getaffinity(0)))}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
    digest = canon_digest(con.execute(sql).fetchdf())
    os.makedirs(cache_dir, exist_ok=True)
    with open(path, "w") as f:
        json.dump({"digest": digest}, f)
    return digest


def spark_digest(result_dir: str) -> str:
    files = glob.glob(os.path.join(result_dir, "*.parquet"))
    if not files:
        raise FileNotFoundError(result_dir)
    return canon_digest(pd.concat([pd.read_parquet(f) for f in files], ignore_index=True))


def check(data_dir: str, results_dir: str, sqls: dict, cache_dir: str) -> dict:
    """{query: "OK" | reason} for every query with an oracle."""
    out = {}
    for q, sql in sorted(sqls.items()):
        try:
            want = oracle_digest(data_dir, sql, cache_dir)
            got = spark_digest(os.path.join(results_dir, q))
            out[q] = "OK" if got == want else "MISMATCH"
        except Exception as e:  # a missing result or a failing oracle fails the check
            out[q] = f"ERROR: {type(e).__name__}: {str(e)[:200]}"
    return out
