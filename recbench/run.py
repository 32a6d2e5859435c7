#!/usr/bin/env python3
"""Record-engine benchmark: one seeded, closed-loop, single-client workload
per run, timed from outside the engine's package.

    python3 recbench/run.py --workload narrow_query --seed 1 --seconds 8 --trace 0

Run it from the repository root (or any copy of it).  The run builds its
inputs under a temporary directory inside the checkout, measures a fixed
number of whole passes of the workload sized from ``--seconds``, checks
every result against DuckDB, deletes its inputs and prints, as its last line,
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` the run wraps the engine's entry points in spans and prints
the per-layer metrics instead (spans go to ``recbench_out/``).  The line
before it is the run's metadata.  See recbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# set-up repetitions per run; set-up time is their median
SETUPS = 3
# a run measures at least this many whole passes
MIN_PASSES = 3

END_TO_END = {
    "setup_s": "s", "query_p50_ms": "ms", "queries_per_s": "1/s",
}

PER_LAYER = {
    "session.start_ms": "ms",
    "query.build_ms": "ms", "query.py4j_calls": "count", "query.driver_ms": "ms",
    "condition.parse_ms": "ms", "condition.compile_ms": "ms",
    "condition.tier_attempts": "count", "condition.tier_rejects": "count",
    "plans.plan_ms": "ms",
    "operators.stateful.build_ms": "ms",
    "operators.dedup.exact_ms": "ms", "operators.dedup.minhash_pairs_ms": "ms",
    "operators.dedup.simhash_components_ms": "ms",
    "operators.dedup.minhash_components_ms": "ms",
    "operators.dedup.components_ms": "ms", "operators.dedup.jobs": "count",
    "sources.store.read_ms": "ms", "sources.store.read_jobs": "count",
    "sources.store.write_ms": "ms", "sources.store.update_ms": "ms",
    "sources.store.remove_ms": "ms", "sources.store.compact_ms": "ms",
    "sources.store.files": "count", "sources.store.partitions": "count",
    "sources.store.bytes_on_disk": "bytes", "sources.store.space_amp": "ratio",
    "spark.analysis_ms": "ms", "spark.optimization_ms": "ms",
    "spark.planning_ms": "ms", "spark.jobs": "count", "spark.stages": "count",
    "spark.tasks": "count", "spark.action_ms": "ms", "spark.python_eval_ms": "ms",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
    "trace.overhead_ms": "ms", "trace.query_p50_ms": "ms",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "toy"), default="full",
                    help="input sizes; toy is for the smoke test")
    return ap.parse_args(argv)


def pin_env(tmp):
    """Fix the engine's environment from this machine instead of inheriting
    defaults; returns the settings for the run metadata."""
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        total_mb = int(fh.readline().split()[1]) // 1024
    heap_mb = min(2048, total_mb // 4)
    for d in ("spark-local", "jvm-tmp", "py-tmp"):
        os.makedirs(os.path.join(tmp, d), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_DRIVER_MEM": f"{heap_mb}m",
        # Spark's Python workers import the engine from the checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        "TMPDIR": os.path.join(tmp, "py-tmp"),
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-Djava.io.tmpdir={tmp}/jvm-tmp "
            f"-Xms{heap_mb}m -XX:-UsePerfData' pyspark-shell"),
    })
    return {"nproc": nproc, "master": f"local[{nproc}]", "shuffle_partitions": nproc,
            "driver_heap_mb": heap_mb, "mem_total_mb": total_mb}


def source_ids():
    """(git sha or None, sha256 of the engine's sources): a checkout
    without git history is still identified by its sources."""
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        sha = None
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "reductstore_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + b"\0" + fh.read())
    return sha, h.hexdigest()[:16]


def cpu_times():
    """(steal, total) jiffies of the whole machine, from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def pct(xs, q):
    import numpy as np
    return float(np.percentile(xs, q)) if xs else 0.0


def median(xs):
    return statistics.median(xs) if xs else 0.0


def is_query(kind):
    return kind == "query" or kind.startswith("dedup.")


def query_samples(rec, table=None):
    table = rec.samples if table is None else table
    return [t for kind, ts in table.items() if is_query(kind) for t in ts]


def end_to_end(rec, session_s, builds):
    lat = query_samples(rec)
    return {
        "setup_s": session_s + median(builds),
        "query_p50_ms": median(lat) * 1e3,
        "queries_per_s": len(lat) / sum(rec.passes),
    }


def details(rec, wl):
    """Workload-specific figures for the metadata line."""
    lat = query_samples(rec)
    out = {"read_mb_per_s": rec.bytes / 1e6 / max(sum(lat), 1e-9),
           "query_p90_ms": pct(lat, 90) * 1e3, "queries": len(lat),
           "pass_s": median(rec.passes),
           "query_cpu_ms": median(query_samples(rec, rec.cpu)) * 1e3,
           "pass_times_s": rec.passes}
    s = rec.samples
    for kind in ("write", "update", "remove", "compact"):
        if kind in s:
            out[f"{kind}_p50_ms"] = median(s[kind]) * 1e3
            out[f"{kind}_n"] = len(s[kind])
    if "write" in s:
        out["write_mb_per_s"] = sum(rec.write_bytes) / 1e6 / sum(s["write"])
    for kind, ts in s.items():
        if kind.startswith("dedup."):
            out[f"{kind}_p50_ms"] = median(ts) * 1e3
    if hasattr(wl, "store"):
        disk, live, _files, _parts = store_space(wl)
        out["space_amp"] = disk / live
    return out


def store_space(wl):
    """(bytes on disk, live user bytes, data files, partitions)."""
    disk = files = 0
    parts = set()
    for d, _dirs, names in os.walk(wl.store.root):
        pqs = [n for n in names if n.endswith(".parquet")]
        if pqs:
            parts.add(d)
        files += len(pqs)
        disk += sum(os.path.getsize(os.path.join(d, n)) for n in pqs)
    live = wl.ctx.duck.execute("SELECT sum(plen) FROM truth").fetchone()[0]
    return disk, live, files, len(parts)


def per_layer(tracer, rec, wl, session_s):
    from recbench.trace import self_times

    spans = tracer.spans
    selft = self_times(spans)
    kids = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)

    def subtree(root):
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s["id"], []))
        return out

    def outermost(tree, name):
        by_id = {s["id"]: s for s in tree}
        return [s for s in tree if s["name"] == name
                and by_id.get(s["parent"], {}).get("name") != name]

    def dur(s):
        return (s["t1"] - s["t0"]) * 1e3

    roots = [s for s in spans if s["parent"] is None]
    per_op = []   # (kind, root, {metric: value})
    for r in roots:
        tree = subtree(r)
        v = {}
        builds = [s for s in tree if s["name"] == "query.build"]
        v["query.build_ms"] = sum(selft[s["id"]] for s in builds) * 1e3
        v["query.py4j_calls"] = sum(s["py4j1"] - s["py4j0"] for s in builds)
        v["condition.parse_ms"] = sum(dur(s) for s in outermost(tree, "condition.parse"))
        comp = outermost(tree, "condition.compile")
        v["condition.compile_ms"] = sum(dur(s) for s in comp)
        v["condition.tier_attempts"] = len(comp)
        v["condition.tier_rejects"] = sum(1 for s in comp if s["meta"].get("reject"))
        v["plans.plan_ms"] = sum(selft[s["id"]] for s in tree
                                 if s["name"] == "plans.plan") * 1e3
        v["operators.stateful.build_ms"] = sum(
            dur(s) for s in outermost(tree, "operators.stateful"))
        reads = [s for s in tree if s["name"] == "sources.store.read"]
        v["sources.store.read_ms"] = sum(dur(s) for s in reads)
        v["sources.store.read_jobs"] = sum(s.get("jobs", 0) for s in reads)
        v["query.driver_ms"] = sum(dur(s) for s in outermost(tree, "query.build")) \
            + v["sources.store.read_ms"]
        for kind in ("write", "update", "remove", "compact"):
            v[f"sources.store.{kind}_ms"] = sum(
                dur(s) for s in outermost(tree, f"sources.store.{kind}"))
        v["spark.jobs"] = sum(s.get("jobs", 0) for s in tree)
        v["spark.stages"] = sum(s.get("stages", 0) for s in tree)
        v["spark.tasks"] = sum(s.get("tasks", 0) for s in tree)
        acts = [s for s in tree if s["name"] == "spark.action"]
        v["spark.action_ms"] = sum(dur(s) for s in acts)
        for key in ("analysis_ms", "optimization_ms", "planning_ms", "python_eval_ms",
                    "shuffle_write_bytes", "spill_bytes"):
            v[f"spark.{key}"] = sum(s["meta"].get(key, 0) for s in acts)
        per_op.append((r["name"][len("op."):], r, v))

    def mean(kinds, key):
        vals = [v[key] for k, _r, v in per_op if kinds(k)]
        return sum(vals) / len(vals) if vals else 0.0

    out = {"session.start_ms": session_s * 1e3}
    for key in ("query.build_ms", "query.py4j_calls", "query.driver_ms",
                "condition.parse_ms", "condition.compile_ms", "condition.tier_attempts",
                "condition.tier_rejects", "plans.plan_ms", "operators.stateful.build_ms",
                "sources.store.read_ms", "sources.store.read_jobs", "spark.analysis_ms",
                "spark.optimization_ms", "spark.planning_ms", "spark.jobs",
                "spark.stages", "spark.tasks", "spark.action_ms", "spark.python_eval_ms",
                "spark.shuffle_write_bytes", "spark.spill_bytes"):
        out[key] = mean(is_query, key)
    for kind in ("write", "update", "remove", "compact"):
        key = f"sources.store.{kind}_ms"
        out[key] = mean(lambda k, kind=kind: k == kind, key)
    for name in ("exact", "minhash_pairs", "simhash_components", "minhash_components",
                 "components"):
        durs = [dur(r) for k, r, _v in per_op if k == f"dedup.{name}"]
        out[f"operators.dedup.{name}_ms"] = sum(durs) / len(durs) if durs else 0.0
    out["operators.dedup.jobs"] = mean(lambda k: k.startswith("dedup."), "spark.jobs")
    disk, live, files, parts = store_space(wl) if hasattr(wl, "store") else (0, 0, 0, 0)
    out.update({"sources.store.files": files, "sources.store.partitions": parts,
                "sources.store.bytes_on_disk": disk,
                "sources.store.space_amp": disk / live if live else 0.0})
    out["trace.overhead_ms"] = tracer.overhead_s * 1e3 / max(len(roots), 1)
    out["trace.query_p50_ms"] = pct(query_samples(rec), 50) * 1e3
    return out


def main(argv=None):
    t_main = time.perf_counter()
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    # the engine must be importable from this checkout; outside a full
    # checkout this raises and the run exits non-zero without a result
    import reductstore_spark  # noqa: F401

    from recbench.workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        sys.exit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    tmp = os.path.join(ROOT, ".recbench_tmp", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(tmp)
    try:
        meta = pin_env(tmp)
        result = run(args, tmp, meta)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass
    meta["run_wall_s"] = time.perf_counter() - t_main
    print(json.dumps({"meta": meta}, sort_keys=True))
    print(json.dumps(result))


def stop_spark(spark):
    """Stop the session and wait for the JVM (and with it Spark's Python
    workers) to exit: the gateway JVM ends when its stdin closes."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def run(args, tmp, meta):
    """Start Spark, set up, warm up, measure; adds the run's metadata to
    ``meta`` and returns the result object."""
    import duckdb
    import pyspark

    from reductstore_spark.session import get_session
    from recbench.trace import NullTracer, Tracer
    from recbench.workloads import WORKLOADS, Ctx, Recorder

    t0 = time.perf_counter()
    spark = get_session("recbench", master=meta["master"],
                        shuffle_partitions=meta["shuffle_partitions"])
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    duck = duckdb.connect()
    try:
        ctx = Ctx(spark, tmp, args.seed, args.size, NullTracer(), duck)
        wl = WORKLOADS[args.workload](ctx)
        builds = []
        for i in range(SETUPS):
            t = time.perf_counter()
            wl.setup(i)
            builds.append(time.perf_counter() - t)
        warm = Recorder(ctx.tracer)
        t = time.perf_counter()
        wl.warmup(warm)
        warmup_s = time.perf_counter() - t

        tracer = Tracer(spark) if args.trace else NullTracer()
        tracer.install()
        ctx.tracer = tracer
        rec = Recorder(tracer)
        cpu0 = cpu_times()
        # a fixed number of passes, not "until --seconds have passed": a
        # run on a slow stretch of a shared host would otherwise measure
        # fewer passes, earlier in the JVM's warm-up, and read slower still
        passes = max(MIN_PASSES, math.ceil(args.seconds / wl.nominal_pass_s))
        t_start = time.perf_counter()
        try:
            for _ in range(passes):
                rec.run_pass(wl)
        finally:
            tracer.uninstall()
        wall = time.perf_counter() - t_start
        cpu1 = cpu_times()

        if args.trace:
            metrics, units = per_layer(tracer, rec, wl, session_s), PER_LAYER
            os.makedirs(os.path.join(ROOT, "recbench_out"), exist_ok=True)
            tracer.dump(os.path.join(ROOT, "recbench_out",
                                     f"spans-{args.workload}-{args.seed}.json"))
        else:
            metrics, units = end_to_end(rec, session_s, builds), END_TO_END
        attempted = rec.attempted + warm.attempted
        failed = rec.failed + warm.failed
        sha, src = source_ids()
        meta.update({
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "size": args.size, "data": wl.data,
            "git_sha": sha, "source_sha256": src, "spark": pyspark.__version__,
            "python": platform.python_version(), "measured_wall_s": wall,
            "session_start_s": session_s, "setup_builds_s": builds, "warmup_s": warmup_s,
            "failed_ops_frac": failed / attempted,
            # share of the machine's CPU time taken by the hypervisor while
            # measuring: a noisy-neighbour indicator for this run
            "cpu_steal_frac": (cpu1[0] - cpu0[0]) / max(cpu1[1] - cpu0[1], 1),
            "details": details(rec, wl),
        })
    finally:
        duck.close()
        stop_spark(spark)
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()}}
    return result


if __name__ == "__main__":
    main()
