#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload crawl_throughput --seed 1 \
        --seconds 30 --trace 0

Run it from the repository root. ``--trace 0`` prints the end-to-end
metrics, ``--trace 1`` runs the same workload with spans and Spark's own
statistics recorded and prints the per-layer metrics instead. A detail
record of every run (box-noise snapshots, per-operation times, spans) is
written under ``.perfbench/runs/``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import subprocess
import sys
import time


def _process_start() -> float:
    """Epoch time at which this process started (10 ms resolution)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


PROCESS_START = _process_start()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import box  # noqa: E402
from perfbench.stats import median, tail_percentile  # noqa: E402

WORKLOADS = ("crawl_throughput", "analytics_mix")
SETUP_REPEATS = 3
CORES = 4
# two shuffle partitions per core, through the engine's own knob; its
# default (32) is sized for a 32-core box. Set SPARK_GRAFT_SHUFFLE in the
# environment to run with another value, such as the default.
SHUFFLE_PARTITIONS = 2 * CORES

# Both workloads report every metric: op_p50_s is the median latency of one
# operation (a generation, a query), pass_s the wall time of the timed
# operations (the crawl's generations, one pass over the query mix).
E2E_UNITS = {
    "setup_s": "s",
    "op_p50_s": "s",
    "pass_s": "s",
}
CRAWL_LAYERS = {
    "crawl_loop.jobs_per_gen": "count",
    "crawl_loop.actions_per_gen": "count",
    "crawl_loop.tasks_per_gen": "count",
    "crawl_loop.driver_s": "s",
    "frontier.select_s": "s",
    "frontier.rows_scanned": "count",
    "frontier.batch_rows": "count",
    "fetch.python_s": "s",
    "fetch.rows": "count",
    "fetch.arrow_bytes": "bytes",
    "fetch.protocol_s": "s",
    "parse.python_s": "s",
    "parse.pages": "count",
    "parse.outlinks": "count",
    "filtering.python_s": "s",
    "filtering.outlinks_in": "count",
    "filtering.discovered_out": "count",
    "filtering.new_url_ratio": "ratio",
    "frontier_table.merge_commit_s": "s",
    "frontier_table.buckets_touched": "count",
    "frontier_table.bytes_written": "bytes",
    "frontier_table.bytes_linked": "bytes",
    "frontier_table.rows_rewritten_per_update": "ratio",
    "frontier_table.files": "count",
    "indexing.upsert_s": "s",
    "indexing.docs": "count",
    "indexing.bytes_written": "bytes",
}
SPARK_LAYERS = {
    "session.start_s": "s",
    "session.peak_rss_mb": "MB",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.python_rows": "count",
    "spark.failed_tasks": "count",
    "trace.overhead_s": "s",
    "trace.timed_s": "s",
}


def analytics_layers() -> dict[str, str]:
    from perfbench.analytics import MIX

    out = {}
    for m in sorted(set(MIX.values())):
        out[f"{m}.plan_s"] = "s"
        out[f"{m}.exec_s"] = "s"
    for q in MIX:
        out[f"q.{q}.s"] = "s"
    return out


def per_layer_units() -> dict[str, str]:
    return {**CRAWL_LAYERS, **analytics_layers(), **SPARK_LAYERS}


class Context:
    """What a workload needs: the session, a scratch directory inside the
    checkout, its seed and run length, and the tracer (traced runs only)."""

    def __init__(self, spark, work, seed, seconds, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.setup_repeats = SETUP_REPEATS
        self.builds: list[float] = []
        self.setup_end: float | None = None
        self.stats = None

    def span(self, name: str, kind: str = "layer"):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, kind)

    def setup_done(self, builds: list[float]) -> None:
        """Called by the workload once it is ready to be timed."""
        self.builds = builds
        self.setup_end = time.time()
        if self.tracer is not None:
            self._install_action_spans()

    def _install_action_spans(self) -> None:
        from perfbench.sparkstats import SparkStats

        self.stats = SparkStats(self.spark)
        df = self.spark.range(1)
        tr = self.tracer
        tr.on_action = lambda s: s.attrs.update(self.stats.collect())
        tr.wrap(type(df), "count", "count", kind="action")
        tr.wrap(type(df), "collect", "collect", kind="action")
        tr.wrap(type(df.write), "parquet", "write.parquet", kind="action")


def spark_totals(tracer, timed_from: float) -> dict:
    from perfbench.crawl import CHECK_REQUEST
    from perfbench.sparkstats import stage_total

    # statistics hang on action spans, and on a generation's span for the
    # jobs read once it has ended; the crawl's output-check reads are left out
    read = [s for s in tracer.spans
            if s.start >= timed_from and s.request != CHECK_REQUEST]
    jobs = [j for s in read for j in s.attrs.get("jobs", [])]
    py_rows = sum(
        n["metrics"].get("number of output rows", 0.0)
        for s in read for e in s.attrs.get("executions", [])
        for n in e["nodes"]
        if "Python" in n["name"] or "InPandas" in n["name"]
        or "InArrow" in n["name"]
    )
    return {
        "spark.jobs": len(jobs),
        "spark.tasks": stage_total(jobs, "tasks"),
        "spark.task_s": stage_total(jobs, "task_s"),
        "spark.cpu_s": stage_total(jobs, "cpu_s"),
        "spark.gc_s": stage_total(jobs, "gc_s"),
        "spark.shuffle_write_bytes": stage_total(jobs, "shuffle_write_bytes"),
        "spark.spill_bytes": stage_total(jobs, "spill_bytes"),
        "spark.python_rows": py_rows,
        "spark.failed_tasks": stage_total(jobs, "failed_tasks"),
    }


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while time.time() < deadline and len(box.tree_pids()) > 1:
        time.sleep(0.2)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    state_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(state_dir, f"work-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ.setdefault("SPARK_GRAFT_SHUFFLE", str(SHUFFLE_PARTITIONS))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # every JVM the session starts (spark-submit's launcher too) keeps its
    # temporary files inside the checkout and writes no perf-data file
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"

    noise_start = box.snapshot()
    rss = box.RssSampler().start()
    spark = None
    try:
        # the engine is imported first: without it the run fails here,
        # before any result is printed
        from incubator_stormcrawler_spark.session import get_spark

        if args.workload == "crawl_throughput":
            from perfbench import crawl as workload
        else:
            from perfbench import analytics as workload
        tracer = None
        if args.trace:
            from perfbench.trace import Tracer

            tracer = Tracer(ROOT)
        t0 = time.time()
        spark = get_spark(f"perfbench-{args.workload}")
        session_start_s = time.time() - t0
        ctx = Context(spark, work, args.seed, args.seconds, tracer)
        result = workload.run(ctx)
        t_end = time.time()
    finally:
        if spark is not None:
            if tracer is not None:
                tracer.unwrap_all()
            _stop_spark(spark)
        rss.stop()
        noise_end = box.snapshot()
        shutil.rmtree(work, ignore_errors=True)
    t_stopped = time.time()

    setup_s = (ctx.setup_end - PROCESS_START) - sum(ctx.builds) + median(
        ctx.builds)
    e2e = {"setup_s": setup_s, **result["e2e"]}
    peak_rss_mb = rss.peak_bytes / 2**20
    failed = len(result["failures"])
    if args.trace:
        units = per_layer_units()
        values = {name: 0.0 for name in units}
        values.update(result["layers"])
        values.update(spark_totals(tracer, ctx.setup_end))
        values["session.start_s"] = session_start_s
        values["session.peak_rss_mb"] = peak_rss_mb
        values["trace.overhead_s"] = tracer.overhead_s
        values["trace.timed_s"] = t_end - ctx.setup_end
    else:
        units = E2E_UNITS
        values = e2e
    tail = tail_percentile(result["latencies"])
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "cores": CORES,
        "shuffle_partitions": int(os.environ["SPARK_GRAFT_SHUFFLE"]),
        "end_to_end": e2e,
        "samples": len(result["latencies"]),
        "tail": {"percentile": tail[0], "value": tail[1]} if tail else None,
        "peak_rss_mb": peak_rss_mb,
        "peak_rss_split_mb": {k: v / 2**20 for k, v in rss.peak_split.items()},
        "session_start_s": session_start_s,
        "setup_builds_s": ctx.builds,
        # seconds from process start to: ready, end of the workload, and
        # session stopped with the scratch directory removed
        "phases_s": {"ready": ctx.setup_end - PROCESS_START,
                     "workload_end": t_end - PROCESS_START,
                     "stopped": t_stopped - PROCESS_START},
        "box_noise": {"start": noise_start, "end": noise_end},
        "failures": result["failures"],
        **result["detail"],
    }
    runs_dir = os.path.join(state_dir, "runs")
    os.makedirs(runs_dir, exist_ok=True)
    stem = os.path.join(runs_dir,
                        f"{args.workload}-s{args.seed}-t{args.trace}")
    with open(stem + ".json", "w") as fh:
        json.dump(detail, fh, indent=1, default=str)
    if tracer is not None:
        tracer.dump(stem + ".spans.json")
    for f in result["failures"]:
        print(f"FAILED {f}", file=sys.stderr)
    # a run whose every operation failed has no timings: report 0 for
    # them (the result is marked incorrect anyway)
    values = {k: v if math.isfinite(v) else 0.0 for k, v in values.items()}
    print(json.dumps({
        "correct": failed == 0,
        "attempted": result["attempted"],
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
