#!/usr/bin/env python3
"""perfbench: the repository's benchmark.

    python3 perfbench/run.py --workload live_fanout --seed 1 --seconds 12 --trace 0

Runs one workload from a seed against the engine in this checkout,
checks every output against the independent oracle (perfbench/oracle.py)
and prints, as its last stdout line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones, writes the span
file and per-layer self times under ``.perfbench_work/trace/`` and
reports the tracing overhead against the last untraced run.  Lines before
the last one are for people: host context and the workload's metrics
under their own names.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import signal
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

#: (name, unit) — must match BENCHMARK.json
END_TO_END = [
    ("setup_s", "s"),
    ("p50_ms", "ms"),
    ("p99_ms", "ms"),
    ("peak_rss_mb", "MB"),
]
PER_LAYER = [
    ("session.start_s", "s"),
    ("engine.query_start_s", "s"),
    ("wal_source.poll_ms", "ms"),
    ("wal_source.rows_per_batch", "count"),
    ("wal_source.lag_msgs", "count"),
    ("trigger.planning_ms", "ms"),
    ("trigger.wal_commit_ms", "ms"),
    ("trigger.commit_offsets_ms", "ms"),
    ("trigger.exec_ms", "ms"),
    ("trigger.batches", "count"),
    ("sink.add_batch_ms", "ms"),
    ("sink.bytes_per_change", "B"),
    ("pipeline.parse_s", "s"),
    ("pipeline.changes", "count"),
    ("pipeline.poison_dropped", "count"),
    ("route.s", "s"),
    ("route.rows", "count"),
    ("route.fanout_factor", "ratio"),
    ("dsl.compile_ms", "ms"),
    ("fanout.partitions_s", "s"),
    ("apply.latest_s", "s"),
    ("query.q07_join_agg_s", "s"),
    ("query.q15_groupby_agg_s", "s"),
    ("query.q22_rows_frame_s", "s"),
    ("query.q57_tpch_q5_local_supplier_s", "s"),
    ("query.suite_s", "s"),
    ("duckdb_anchor_s", "s"),
]


def _env(run_dir: str) -> None:
    """Everything Spark and its Python workers write stays in the run
    directory; workers import the engine and perfbench from the checkout."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    os.environ["TMPDIR"] = tmp
    # every JVM (the launcher too): temp files here, no hsperfdata in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")


def _mem_available_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) / 1024
    return float("nan")


def _cpu_jiffies() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _context(r, anchor: float, cpu0: list[int]) -> dict:
    import duckdb
    import pyspark

    sc = r.spark.sparkContext
    d = [b - a for a, b in zip(cpu0, _cpu_jiffies())]
    return {
        "workload": r.workload, "seed": r.seed, "seconds": r.seconds,
        "trace": int(r.trace), "cpus": r.cpus,
        "default_parallelism": sc.defaultParallelism,
        "loadavg": os.getloadavg(),
        "mem_available_mb": round(_mem_available_mb()),
        "spark": pyspark.__version__,
        "java": sc._jvm.java.lang.System.getProperty("java.version"),
        "duckdb": duckdb.__version__, "python": platform.python_version(),
        "cpu_steal_pct": 100 * d[7] / max(1, sum(d)),
        "duckdb_anchor_s": anchor,
        "gen.late_ms": r.detail.get("gen.late_ms"),
    }


def _trace_report(r, e2e: dict) -> dict:
    """Self time per layer along each trigger's blocking path, the stage
    owning the per-batch time, and overhead against the last untraced
    run of this workload."""
    batches = r.layer["trigger.batches"]
    per_batch = {k: 1e3 * v / batches for k, v in
                 r.spans.self_times(lambda s: "batch" in s).items()}
    owner = max(per_batch, key=per_batch.get)
    overhead = None
    last = os.path.join(WORK, "results", f"{r.workload}.json")
    if os.path.exists(last):
        with open(last) as f:
            base = json.load(f)
        overhead = {k: e2e[k] - base[k] for k in e2e if k in base}
    return {"self_ms_per_batch": per_batch, "owner": owner,
            "overhead": overhead,
            "overhead_base": (os.path.relpath(last, ROOT)
                              if overhead is not None else None)}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    run_dir = os.path.join(WORK, f"{args.workload}-{args.seed}-{args.trace}")
    sys.path.insert(0, ROOT)
    from perfbench.harness import Run, duckdb_anchor, rmtree, stop_spark
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; "
                 f"one of {sorted(WORKLOADS)}")
    import speculare_pgcdc_spark  # noqa: F401  fail fast outside a checkout

    # a terminated run still stops Spark and the load process (finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    rmtree(run_dir)
    _env(run_dir)
    anchor = duckdb_anchor()
    cpu0 = _cpu_jiffies()
    r = Run(args.workload, args.seed, args.seconds, bool(args.trace), run_dir)
    try:
        with r.rss as rss:
            r.start_session()
            e2e = WORKLOADS[args.workload](r)
            r.spans.spans[r.run_span]["end"] = time.time()
            e2e["setup_s"] = r.layer["session.start_s"] + \
                r.layer["engine.query_start_s"]
            e2e["peak_rss_mb"] = rss.peak_mb
        r.detail["rss_at_peak_mb"] = rss.peak_parts
        r.layer["duckdb_anchor_s"] = anchor
        ctx = _context(r, anchor, cpu0)
    finally:
        if r.spark is not None:
            stop_spark(r.spark)

    named = {k: v for k, v in r.detail.items() if not k.endswith("_samples")}
    print("perfbench context " + json.dumps(ctx), flush=True)
    print("perfbench end-to-end " + json.dumps(
        {**{k: e2e[k] for k, _u in END_TO_END},
         **{k: v for k, v in named.items()
            if k.startswith(("deliver_", "fresh_", "rss_"))},
         "failed_frac": r.failed / max(1, r.attempted),
         "failures": r.failures}), flush=True)
    if args.trace:
        report = _trace_report(r, e2e)
        os.makedirs(os.path.join(WORK, "trace"), exist_ok=True)
        span_file = os.path.join(
            WORK, "trace", f"{args.workload}-seed{args.seed}.json")
        with open(span_file, "w") as f:
            json.dump({"run_id": r.spans.run_id, "context": ctx,
                       "end_to_end": e2e, "layers": r.layer,
                       "detail": r.detail, "report": report,
                       "spans": r.spans.spans}, f)
        print("perfbench layers " + json.dumps(
            {**r.layer, **{k: v for k, v in named.items() if "." in k}}),
            flush=True)
        print("perfbench trace " + json.dumps(
            {**report, "span_file": os.path.relpath(span_file, ROOT)}),
            flush=True)
        metrics = {k: {"value": float(r.layer[k]), "unit": u}
                   for k, u in PER_LAYER}
    else:
        os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
        with open(os.path.join(WORK, "results", f"{args.workload}.json"),
                  "w") as f:
            json.dump(e2e, f)
        metrics = {k: {"value": float(e2e[k]), "unit": u}
                   for k, u in END_TO_END}
    rmtree(run_dir)
    print(json.dumps({"correct": r.failed == 0, "attempted": r.attempted,
                      "failed": r.failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
