#!/usr/bin/env python3
"""The repository's benchmark, one command per run:

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the program from the checkout's sources (perfbench/build.py), makes
the workload's inputs from the seed, runs the workload in one JVM with
SPARK_GRAFT_CPUS set to the usable core count, checks every result, and
prints a short headline whose last line is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are BENCHMARK.json's end_to_end set, with --trace 1 its per_layer set. The
full record (all samples, per-call layer figures, oracle verdicts, and for
traced runs the span file) goes to .bench_runs/records/. Workloads and
metrics are described in perfbench/WORKLOADS.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402

RUNS = os.path.join(ROOT, ".bench_runs")
RECORDS = os.path.join(RUNS, "records")
CORPUS_ROWS = 500
# a run must end within 180 s; the JVMs get what is left of this
DEADLINE_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
LISTENERS = [
    "-Dspark.extraListeners=graftbench.JobListener",
    "-Dspark.sql.streaming.streamingQueryListeners=graftbench.StreamListener",
    "-Dspark.sql.queryExecutionListeners=graftbench.WriteListener",
]


def cores() -> int:
    return len(os.sched_getaffinity(0))


def run_jvm(classpath, run_dir, workload, seed, seconds, trace, cpus, deadline, data=None):
    """Runs graftbench.Main in a fresh JVM whose temp and Spark local dirs
    live under run_dir; returns its result.json."""
    out = os.path.join(run_dir, f"out-{workload}")
    tmp = os.path.join(run_dir, f"tmp-{workload}")
    local = os.path.join(run_dir, f"local-{workload}")
    for d in (out, tmp, local):
        os.makedirs(d)
    opts = [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        "-Xms2g", "-Xmx3g", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={local}",
        f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
    ] + (LISTENERS if trace else [])
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--out", out] + (["--data", data] if data else [])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus), SPARK_LOCAL_DIRS=local)
    with open(os.path.join(run_dir, f"jvm-{workload}.log"), "w") as log:
        p = subprocess.Popen(["java"] + opts + ["-cp", classpath, "graftbench.Main"] + args,
                             cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise RuntimeError(f"{workload} JVM timed out")
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    result = os.path.join(out, "result.json")
    if p.returncode != 0 or not os.path.exists(result):
        tail = open(os.path.join(run_dir, f"jvm-{workload}.log")).read()[-3000:]
        raise RuntimeError(f"{workload} JVM exited {p.returncode}:\n{tail}")
    return json.load(open(result)), out


def corpus_dir(seed):
    import corpus
    d = os.path.join(RUNS, "inputs", f"corpus-{CORPUS_ROWS}-{seed}")
    if not os.path.exists(os.path.join(d, "region.parquet")):
        corpus.write(d + ".tmp", seed, CORPUS_ROWS)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(d + ".tmp", d)
    return d


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    deadline = time.time() + DEADLINE_S

    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        sys.exit(f"unknown workload {a.workload}")
    try:
        built, classpath = build.build()
    except build.BuildError as e:
        sys.exit(f"build failed: {e}")
    if built:  # the first run of a checkout may also spend its build time
        deadline = time.time() + DEADLINE_S

    run_dir = os.path.join(RUNS, f"run-{a.workload}-{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    os.makedirs(RECORDS, exist_ok=True)
    record_base = os.path.join(RECORDS, f"{a.workload}-seed{a.seed}-trace{a.trace}")
    try:
        data = corpus_dir(a.seed) if a.workload.startswith("index_") else None
        t = time.time()
        res, out = run_jvm(classpath, run_dir, a.workload, a.seed, a.seconds, a.trace,
                           cores(), deadline, data)
        record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                  "trace": a.trace, "cores": cores(), "jvm_wall_s": time.time() - t,
                  "result": res}
        per_layer = dict(res["per_layer"])
        per_layer["store.tmp_bytes_left"] = res["tmp_bytes_left"] / max(1, res["calls"])
        failed_calls = res["failed_calls"]
        if a.workload == "rainstorm_stream" and a.trace:
            # the single-thread baseline runs untraced, like the end-to-end figures
            one, _ = run_jvm(classpath, run_dir, "rainstorm_drain", a.seed, a.seconds, 0, 1,
                             deadline)
            per_layer["rainstorm.drain_rps_1core"] = one["end_to_end"]["drain_rps"]
            failed_calls += one["failed_calls"]
            record["drain_1core"] = one
        if data:
            verdicts = oracle_check(data, out, res["oracle_sql"])
            record["oracle"] = verdicts
            for q, v in verdicts.items():
                if v != "OK":  # every call of a query that missed its oracle fails
                    failed_calls += res["calls_by_query"].get(q, 1)
        attempted = res["calls"] + (record.get("drain_1core", {}).get("calls", 0))
        failed = min(attempted, failed_calls)
        section = "per_layer" if a.trace else "end_to_end"
        values = per_layer if a.trace else res["end_to_end"]
        metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec[section]}
        record["failed_frac"] = failed / attempted
        record["metrics"] = metrics
        if a.trace:
            shutil.copy(os.path.join(out, "spans.json"), record_base + "-spans.json")
            untraced = f"{RECORDS}/{a.workload}-seed{a.seed}-trace0.json"
            if os.path.exists(untraced):
                base = json.load(open(untraced))["metrics"]["cycle_s"]["value"]
                record["tracing_overhead_frac"] = res["end_to_end"]["cycle_s"] / base - 1
        with open(record_base + ".json", "w") as f:
            json.dump(record, f, indent=1)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    line = {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}
    print(f"{a.workload} seed={a.seed} trace={a.trace} cores={cores()} failed={failed}/"
          f"{attempted} record={os.path.relpath(record_base, ROOT)}.json", file=sys.stderr)
    print(json.dumps(line, separators=(",", ":")))


def oracle_check(data, out, sqls):
    import oracle
    return oracle.check(data, os.path.join(out, "results"), sqls,
                        os.path.join(RUNS, "oracle-cache"))


if __name__ == "__main__":
    main()
