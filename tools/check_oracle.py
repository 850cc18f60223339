#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate.

Usage: python3 tools/check_oracle.py <verify_out_dir> <sf_dir>
           [--ref <ref_out_dir>] [query...]

Reads each <out_dir>/<name> parquet (Spark result) and runs the matching
oracle_sql.json SQL in DuckDB over the sf_dir parquet tables, then
compares: schema (column names), row count, and values (columns sorted by
name, rows sorted by all columns, floats compared exactly after a stable
stringification — stricter than needed, matching a hash compare).

With --ref, each query's output must also equal the same query's output
in a reference Verify dump (say, one made from the parent commit): the
same DuckDB column types, the same parquet nullability (REQUIRED or
OPTIONAL) per column, and the same rows. The oracle compare cannot see a
type or nullability change; this one can.
"""
import argparse, json, sys, glob, os
import duckdb
import pandas as pd

TABLES = ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        col = df[c]
        # tz-aware -> naive UTC for comparison parity
        if isinstance(col.dtype, pd.DatetimeTZDtype):
            df[c] = col.dt.tz_convert("UTC").dt.tz_localize(None)
    # stable stringification (exact; floats via repr)
    s = df.astype(str)
    s = s.sort_values(by=list(s.columns), kind="mergesort").reset_index(drop=True)
    return s

def parquet_shape(con, d):
    """A dump dir's DuckDB column types and the repetition (REQUIRED or
    OPTIONAL) of every parquet schema element, nested ones included,
    both sorted by name; an error string when part files disagree."""
    files = f"{d}/*.parquet"
    types = con.execute(
        f"DESCRIBE SELECT * FROM read_parquet('{files}')").fetchall()
    per_file = {}
    for f, name, rep in con.execute(
            "SELECT file_name, name, repetition_type "
            f"FROM parquet_schema('{files}')").fetchall():
        per_file.setdefault(f, []).append(f"{name}:{rep}")
    # the first element is the schema root, whose name is the writer's
    shapes = {tuple(sorted(v[1:])) for v in per_file.values()}
    if len(shapes) != 1:
        return f"part files disagree: {sorted(shapes)[:2]}"
    return sorted(f"{n}:{t}" for n, t, *_ in types) + list(shapes.pop())

def compare_ref(con, name, got, out_dir, ref_dir):
    """None when <out_dir>/<name> has the reference dump's types,
    nullability and rows; else what differs."""
    ref = f"{ref_dir}/{name}"
    files = glob.glob(f"{ref}/*.parquet")
    if not files:
        return "REF-MISSING"
    mine, theirs = parquet_shape(con, f"{out_dir}/{name}"), parquet_shape(con, ref)
    if mine != theirs:
        if isinstance(mine, str) or isinstance(theirs, str):
            return f"REF-SCHEMA got={mine} ref={theirs}"
        return (f"REF-SCHEMA got-only={sorted(set(mine) - set(theirs))} "
                f"ref-only={sorted(set(theirs) - set(mine))}")
    want = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
    if len(got) != len(want):
        return f"REF-ROWCOUNT got={len(got)} ref={len(want)}"
    if not canon(got).equals(canon(want)):
        return "REF-VALUES-MISMATCH"
    return None

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("out_dir")
    ap.add_argument("sf_dir")
    ap.add_argument("--ref", help="reference Verify dump to compare with")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()
    out_dir, sf_dir, only = args.out_dir, args.sf_dir, set(args.queries)
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            # Mirror Tables.normalizeTemporal's generator-drift armor on
            # the oracle side: whatever storage form a temporal column
            # arrives in (DATE, tz-aware TIMESTAMP, ns-resolution), the
            # view exposes a naive microsecond TIMESTAMP, and BLOB text
            # columns decode to VARCHAR — so a future generator type
            # shift keeps BOTH engines on canonical types. Casts are
            # no-ops for today's already-canonical data (UTC session).
            cols = con.execute(
                f"DESCRIBE SELECT * FROM read_parquet('{p}')").fetchall()
            sel = []
            for cname, ctype, *_ in cols:
                u = ctype.upper()
                if u in ("DATE", "TIMESTAMP_NS", "TIMESTAMP_S", "TIMESTAMP_MS") \
                        or "WITH TIME ZONE" in u:
                    sel.append(f'CAST("{cname}" AS TIMESTAMP) AS "{cname}"')
                elif u == "BLOB":
                    sel.append(f'CAST("{cname}" AS VARCHAR) AS "{cname}"')
                else:
                    sel.append(f'"{cname}"')
            con.execute(f"CREATE VIEW {t} AS SELECT {', '.join(sel)} "
                        f"FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    results = {}   # name -> human-readable status string
    stages = {}    # name -> per-stage booleans, SET WHERE EACH CHECK RUNS
    #  (the CHECK_ORACLE_JSON artifact reads these directly instead of
    #   reverse-engineering stage outcomes from message-string prefixes)
    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue
        st = stages[name] = {"rows_match": False, "schema_match": False,
                             "hash_match": False}
        if args.ref:
            st["ref_match"] = False
        spark_dir = f"{out_dir}/{name}"
        files = glob.glob(f"{spark_dir}/*.parquet")
        if not files:
            results[name] = "MISSING-SPARK-OUTPUT"
            continue
        try:
            got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
            want = con.execute(sql).fetchdf()
        except Exception as e:
            results[name] = f"ERROR: {e}"
            continue
        st["schema_match"] = sorted(got.columns) == sorted(want.columns)
        if not st["schema_match"]:
            results[name] = f"SCHEMA-MISMATCH got={sorted(got.columns)} want={sorted(want.columns)}"
            continue
        st["rows_match"] = len(got) == len(want)
        if not st["rows_match"]:
            results[name] = f"ROWCOUNT got={len(got)} want={len(want)}"
            continue
        g, w = canon(got), canon(want)
        st["hash_match"] = g.equals(w)
        if st["hash_match"]:
            results[name] = "OK"
            if args.ref:
                diff = compare_ref(con, name, got, out_dir, args.ref)
                st["ref_match"] = diff is None
                if diff:
                    results[name] = diff
        else:
            neq = (g != w).any(axis=1)
            idx = list(g.index[neq])[:3]
            diffs = []
            for i in idx:
                diffs.append(f"row{i}: got={g.loc[i].to_dict()} want={w.loc[i].to_dict()}")
            results[name] = "VALUES-MISMATCH " + " | ".join(diffs)
    ok = sum(1 for v in results.values() if v == "OK")
    for name, v in sorted(results.items()):
        mark = "PASS" if v == "OK" else "FAIL"
        print(f"[{mark}] {name}" + ("" if v == "OK" else f" :: {v[:400]}"))
    print(f"== {ok}/{len(results)} OK")
    # Optional artifact in the driver's CORRECTNESS format (set
    # CHECK_ORACLE_JSON=/path.json): rows/schema/hash flags per query.
    art = os.environ.get("CHECK_ORACLE_JSON")
    if art:
        def entry(name, v):
            return dict(stages[name], err=None if v == "OK" else v[:400])
        with open(art, "w") as f:
            json.dump({k: entry(k, v) for k, v in sorted(results.items())},
                      f, indent=1)
    sys.exit(0 if ok == len(results) else 1)

if __name__ == "__main__":
    main()
