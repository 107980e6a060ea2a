#!/usr/bin/env python3
"""Turn a traced run's spans into the per-layer table.

Usage: python3 perfbench/layers.py <dir>

<dir> holds `run.json` and `spans.jsonl` of one traced run (keep them
with `run.py ... --trace 1 --keep <dir>`). Prints every per-layer metric
and, per span name, its count, total and self time, where self time is
the span's duration minus the part of its interval its child spans
cover. Listener spans (jobs, stages, SQL executions) are children of the
innermost benchmark span of the same request that contains their start.
"""
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from stats import median, percentile, self_time, union_length  # noqa: E402

# Engine modules that launch jobs, as attributed from each job's call site;
# `harness` is the benchmark's own actions (a batch query's noop write),
# `other` any engine module not listed.
MODULES = ["quality.DataQuality", "lake.AtomicPartitionWriter", "lake.Versioning",
           "lake.FinancePipeline", "lake.Catalog", "serving.Thrift", "sources.Tables",
           "operators", "harness", "other"]
LISTENER = ("exec.", "sql.", "catalyst.")
FS_OPS = ["list", "exists", "rename", "delete", "create", "mkdirs"]
MB = 1024.0 * 1024.0


def unit(name):
    """The unit of a per-layer metric, from its name."""
    if ".job_s." in name:
        return "s"
    for suffix, u in (("_ms", "ms"), ("_s", "s"), ("_mb", "MB"), ("mb_written", "MB")):
        if name.endswith(suffix):
            return u
    if name in ("par.overlap", "serving.attempts_per_request", "trace.overhead_frac"):
        return "ratio"
    return "count"


def module_bucket(m):
    if m in MODULES:
        return m
    if m.startswith("operators."):
        return "operators"
    return "other"


def load(d):
    with open(os.path.join(d, "run.json")) as f:
        run = json.load(f)
    spans = []
    p = os.path.join(d, "spans.jsonl")
    if os.path.exists(p):
        with open(p) as f:
            spans = [json.loads(line) for line in f if line.strip()]
    return run, spans


def link_children(spans):
    """Child lists by span id: explicit parents, then listener spans
    under the innermost containing benchmark span of their request."""
    kids = {s["id"]: [] for s in spans}
    bench = [s for s in spans if not s["name"].startswith(LISTENER)]
    by_req = {}
    for s in bench:
        by_req.setdefault(s["req"], []).append(s)
    for s in spans:
        if s["parent"]:
            kids.setdefault(s["parent"], []).append(s)
        elif s["name"].startswith(LISTENER) and s["req"] in by_req:
            hosts = [h for h in by_req[s["req"]]
                     if h["start_us"] <= s["start_us"] <= h["end_us"]]
            if hosts:
                h = min(hosts, key=lambda h: h["end_us"] - h["start_us"])
                kids[h["id"]].append(s)
    return kids


def span_table(spans):
    """{name: (count, total_ms, self_ms)} over all spans."""
    kids = link_children(spans)
    out = {}
    for s in spans:
        iv = (s["start_us"], s["end_us"])
        st = self_time(iv, [(c["start_us"], c["end_us"]) for c in kids[s["id"]]])
        n, tot, slf = out.get(s["name"], (0, 0.0, 0.0))
        out[s["name"]] = (n + 1, tot + (iv[1] - iv[0]) / 1e3, slf + st / 1e3)
    return out


def self_p50_ms(spans, name):
    kids = link_children(spans)
    xs = [self_time((s["start_us"], s["end_us"]),
                    [(c["start_us"], c["end_us"]) for c in kids[s["id"]]]) / 1e3
          for s in spans if s["name"] == name]
    return median(xs) if xs else 0.0


def metrics(run, spans):
    """Every per-layer metric of one traced run (0 where a layer is idle)."""
    wins = run.get("trace_windows_us", [])
    inwin = [s for s in spans if not s["name"].startswith(LISTENER)
             or any(a <= s["start_us"] and s["end_us"] <= b + 2000 for a, b in wins)]
    named = lambda n: [s for s in inwin if s["name"] == n]  # noqa: E731
    dur_ms = lambda ss: [(s["end_us"] - s["start_us"]) / 1e3 for s in ss]  # noqa: E731
    counts = run.get("counts", {})
    delta = lambda k: run.get("counter_deltas", {}).get(k, 0.0)  # noqa: E731
    p50 = lambda xs: percentile(xs, 0.5) if xs else 0.0  # noqa: E731

    m = {}
    m["serving.guard_ms"] = p50(dur_ms(named("serving.guard")))
    m["serving.reroutes"] = counts.get("serving.reroutes", 0)
    req = counts.get("serving.requests", 0)
    m["serving.attempts_per_request"] = counts.get("serving.attempts", 0) / req if req else 0.0
    m["serving.jdbc_ms"] = p50(run.get("jdbc_overhead_ms", []))
    m["serving.jdbc_self_ms"] = self_p50_ms(inwin, "serving.jdbc")

    q = named("catalyst.query")
    for ph in ("analysis", "optimization", "planning"):
        xs = [s[ph + "_ms"] for s in q]
        m[f"catalyst.{ph}_ms"] = float(sum(xs))
        m[f"catalyst.{ph}_p50_ms"] = p50(xs)
    m["catalyst.queries"] = len(q)

    m["codegen.compiles"] = delta("codegen.compiles")
    # the compile-time histogram keeps a sample, not a sum: count x mean
    m["codegen.compile_ms"] = delta("codegen.compiles") * run.get("codegen_compile_mean_ms", 0.0)

    jobs, stages = named("exec.job"), named("exec.stage")
    m["exec.jobs"] = len(jobs)
    m["exec.stages"] = len(stages)
    m["exec.tasks"] = sum(s["tasks"] for s in stages)
    m["exec.task_s"] = sum(s["run_ms"] for s in stages) / 1e3
    m["exec.cpu_s"] = sum(s["cpu_ns"] for s in stages) / 1e9
    m["exec.shuffle_mb"] = sum(s["shuffle_bytes"] for s in stages) / MB
    m["exec.spill_mb"] = sum(s["spill_bytes"] for s in stages) / MB
    m["exec.files_written"] = sum(s["files_written"] for s in q)
    m["exec.mb_written"] = sum(s["out_bytes"] for s in stages) / MB
    for mod in MODULES:
        mine = [j for j in jobs if module_bucket(j["module"]) == mod]
        m[f"exec.jobs.{mod}"] = len(mine)
        m[f"exec.job_s.{mod}"] = sum(dur_ms(mine)) / 1e3
    ivs = [(j["start_us"], j["end_us"]) for j in jobs]
    busy = union_length(ivs)
    m["exec.driver_self_s"] = (sum(b - a for a, b in wins) - busy) / 1e6
    m["par.overlap"] = sum(b - a for a, b in ivs) / busy if busy else 0.0

    for op in FS_OPS:
        m[f"lake.fs.{op}"] = counts.get(f"lake.fs.{op}", 0)
    for k in ("files_discovered", "partitions_fetched", "listing_jobs", "file_cache_hits"):
        m[f"lake.{k}"] = delta(f"lake.{k}")
    runs = named("lake.FinancePipeline.run")
    m["lake.run_s"] = p50(dur_ms(runs)) / 1e3
    m["lake.run_self_s"] = self_p50_ms(inwin, "lake.FinancePipeline.run") / 1e3
    m["lake.catalog_sync_ms"] = p50(dur_ms(named("lake.Catalog.syncPartition")))
    for k in ("committed_years", "quarantined_files", "alerts"):
        m[f"lake.{k}"] = counts.get(f"lake.{k}", 0)

    m["batch.query_self_ms"] = self_p50_ms(inwin, "batch.query")
    m["jvm.gc_s"] = delta("jvm.gc_s")
    m["jvm.gc_count"] = delta("jvm.gc_count")
    plain, traced = run.get("untraced_op_ms", []), run.get("traced_op_ms", [])
    m["trace.overhead_frac"] = (median(traced) / median(plain) - 1.0) if plain and traced else 0.0
    return m


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    run, spans = load(sys.argv[1])
    print(f"== per-layer metrics: workload={run.get('workload')} seed={run.get('seed')}")
    for k, v in metrics(run, spans).items():
        print(f"{k:40s} {v:14.4f}")
    print("== spans: name, count, total ms, self ms")
    for name, (n, tot, slf) in sorted(span_table(spans).items()):
        print(f"{name:40s} {n:7d} {tot:12.1f} {slf:12.1f}")


if __name__ == "__main__":
    main()
