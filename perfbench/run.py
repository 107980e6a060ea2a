#!/usr/bin/env python3
"""graft's benchmark: one seeded workload run against the engine.

Usage (from the repository root):
  python3 perfbench/run.py --workload <dashboard|tick|batch> --seed <n>
                           --seconds <s> --trace <0|1> [--keep <dir>]

Builds the engine and the harness from source on first use (sbt, offline),
runs one JVM for the workload inside a private directory under
`.bench_run/`, checks every answer, deletes the directory, and prints as
its last stdout line one JSON object: `correct`, `attempted`, `failed` and
`metrics` (end-to-end metrics untraced, per-layer metrics traced). The
lines before it are a human-readable report with sample counts.
`--keep <dir>` copies a run's `run.json` (and `spans.jsonl`) there for
`layers.py`.
"""
import argparse
import glob
import hashlib
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
import layers  # noqa: E402
from stats import percentile, valid_tail  # noqa: E402

BUILD_DIR = os.path.join(HERE, "target", "bench")
# The tail percentile: the highest of 99/90/75 that leaves at least ten
# samples beyond it in the dashboard (~170 requests in 15 s) and batch
# (at least 42 warm query runs) workloads. A tick run has one freshness sample per
# (warm tick, committed year), 4, so its tail is reported as invalid.
TAIL = 0.75
WORKLOADS = ("dashboard", "tick", "batch")
JVM_SECONDS = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    files = []
    for top in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src", "main")):
        for dp, _, fs in os.walk(top):
            files += [os.path.join(dp, f) for f in fs]
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for p in sorted(files):
        st = os.stat(p)
        h.update(f"{os.path.relpath(p, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source state; return the classpath."""
    cp_file, stamp_file = os.path.join(BUILD_DIR, "classpath"), os.path.join(BUILD_DIR, "stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=HERE, env=env,
                       capture_output=True, text=True, timeout=840)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("/") and ".jar" in ln]
    if p.returncode != 0 or not lines:
        log(p.stdout[-4000:] + p.stderr[-2000:])
        raise SystemExit("build failed")
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"[bench] built in {time.time() - t0:.1f}s")
    return lines[-1]


def run_jvm(cp, args, run_dir):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, "graftbench.Main", "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace), "--out", run_dir]
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            p.wait(timeout=JVM_SECONDS)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit("workload JVM timed out")
    path = os.path.join(run_dir, "run.json")
    if not os.path.exists(path):
        log(open(os.path.join(run_dir, "jvm.log")).read()[-4000:])
        raise SystemExit(f"workload JVM exited {p.returncode} without a result")
    with open(path) as f:
        return json.load(f)


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1).astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def oracle_check(run):
    """Batch answers against the DuckDB oracle SQL of each query, over the
    same generated tables; returns (checked, failure messages)."""
    import duckdb
    o = run["oracle"]
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{o['tables']}/{t}.parquet/*.parquet')")
    with open(os.path.join(o["results"], "oracle_sql.json")) as f:
        sql = json.load(f)
    bad = []
    for name in o["queries"]:
        try:
            got = canon(con.execute("SELECT * FROM read_parquet(?)", [
                glob.glob(os.path.join(o["results"], name, "*.parquet"))]).fetchdf())
            exp = canon(con.execute(sql[name]).fetchdf())
            if list(got.columns) != list(exp.columns) or len(got) != len(exp) \
                    or not got.equals(exp):
                bad.append(f"{name}: differs from the DuckDB oracle "
                           f"(rows {len(got)} vs {len(exp)})")
        except Exception as e:  # a missing result or oracle error is a failure
            bad.append(f"{name}: oracle check error: {str(e)[:200]}")
    return len(o["queries"]), bad


def end_to_end(run):
    ops = run.get("op_ms", [])
    return {
        "setup_s": (run["setup_s"], "s"),
        "p50_ms": (percentile(ops, 0.5), "ms"),
        "tail_ms": (percentile(ops, TAIL), "ms"),
        "ops_per_s": (len(ops) / run["window_s"], "1/s"),
        "cold_s": (run["cold_s"], "s"),
        "warm_s": (run["warm_s"], "s"),
        "retained_heap_mb": (run["retained_heap_mb"], "MB"),
    }


def report(run, workload, attempted, failed):
    """The metrics under their user-facing names (request, freshness, batch
    passes), where each applies, with sample counts."""
    ops = run.get("op_ms", [])
    n = len(ops)
    rows = [("setup_s", run["setup_s"], "s", f"session {run['session_s']:.2f}s + "
             f"median of set-up reps {['%.2f' % x for x in run.get('setup_reps_s', [])]}")]
    if workload == "dashboard":
        rows += [("request_p50_ms", percentile(ops, 0.5), "ms", f"n={n}"),
                 ("request_p99_ms", percentile(ops, 0.99), "ms",
                  f"n={n} valid={valid_tail(n, 0.99)}"),
                 ("requests_per_s", n / run["window_s"], "1/s", "2 closed-loop clients"),
                 ("cold_s", run["cold_s"], "s", "first serial pass over the request shapes"),
                 ("warm_s", run["warm_s"], "s", "median of 3 repeats of that pass")]
    if workload == "tick":
        rd = run.get("reader_ms", [])
        rows += [("request_p50_ms", percentile(rd, 0.5), "ms", f"reader n={len(rd)}"),
                 ("request_p99_ms", percentile(rd, 0.99), "ms",
                  f"reader n={len(rd)} valid={valid_tail(len(rd), 0.99)}"),
                 ("freshness_p50_s", percentile(ops, 0.5) / 1e3, "s",
                  f"n={n} (tick, year) samples over {run.get('ticks', 1) - 1} warm ticks"),
                 ("freshness_p90_s", percentile(ops, 0.9) / 1e3, "s",
                  f"n={n} valid={valid_tail(n, 0.9)}"),
                 ("cold_s", run["cold_s"], "s", "first tick cycle"),
                 ("warm_s", run["warm_s"], "s",
                  f"median cycle of the {run.get('ticks', 1) - 1} later ticks")]
    if workload == "batch":
        rows += [("cold_s", run["cold_s"], "s", f"{len(run['oracle']['queries'])} queries"),
                 ("warm_s", run["warm_s"], "s",
                  f"median of {len(run.get('warm_passes_s', []))} warm passes")]
    rows += [("tail_ms", percentile(ops, TAIL), "ms",
              f"p75 of the {n} samples behind p50_ms, valid={valid_tail(n, TAIL)}")]
    rows += [("failed_frac", failed / attempted if attempted else 1.0, "",
              f"{failed}/{attempted}"),
             ("retained_heap_mb", run["retained_heap_mb"], "MB", "used heap after GC")]
    print(f"== {workload} seed={run['seed']} cpus={run['cpus']}")
    for name, v, unit, note in rows:
        print(f"{name:18s} {v:12.4f} {unit:4s} {note}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep")
    args = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        raise SystemExit("engine sources not found: run from a full checkout")
    cp = build()
    run_dir = os.path.join(ROOT, ".bench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        run = run_jvm(cp, args, run_dir)
        attempted, failed, wrong = run["attempted"], run["failed"], run["wrong"]
        failures = list(run.get("failures", []))
        if args.workload == "batch" and "oracle" in run:
            checked, bad = oracle_check(run)
            attempted += checked
            failed += len(bad)
            wrong += len(bad)
            failures += bad
        if args.keep:
            os.makedirs(args.keep, exist_ok=True)
            for f in ("run.json", "spans.jsonl"):
                if os.path.exists(os.path.join(run_dir, f)):
                    shutil.copy(os.path.join(run_dir, f), args.keep)
        spans = layers.load(run_dir)[1] if args.trace else []
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.join(ROOT, ".bench_run"))
        except OSError:
            pass
    for f in failures:
        print(f"[failed] {f}")
    if "aborted" in run:
        raise SystemExit(f"workload aborted: {run['aborted']}")
    if args.trace:
        metrics = {k: {"value": v, "unit": layers.unit(k)}
                   for k, v in layers.metrics(run, spans).items()}
        print(f"== {args.workload} seed={args.seed} traced")
        for k, v in metrics.items():
            print(f"{k:40s} {v['value']:14.4f}")
    else:
        report(run, args.workload, attempted, failed)
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in end_to_end(run).items()}
    print(json.dumps({"correct": wrong == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
