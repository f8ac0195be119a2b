"""The ``crawl_throughput`` workload: a closed-loop crawl of the seeded web.

One client runs generations back to back through ``CrawlLoop`` on a
bucket-partitioned, adaptive frontier with a log-structured ``IndexTable``.
After each generation, outside the timed section, it reads the frontier and
the index once for the output checks.
"""

from __future__ import annotations

import os
import time
from collections import Counter
from datetime import datetime, timedelta

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from incubator_stormcrawler_spark.functions.filtering import (
    BasicURLFilter,
    SelfURLFilter,
    URLFilterChain,
)
from incubator_stormcrawler_spark.operators.indexing import IndexTable
from incubator_stormcrawler_spark.streaming import crawl_loop as crawl_loop_mod
from incubator_stormcrawler_spark.streaming.crawl_loop import CrawlLoop
from incubator_stormcrawler_spark.streaming.frontier_table import FrontierTable

from .simweb import SimWeb
from .sparkstats import node_total, top_nodes
from .stats import median
from .trace import covered

# Sizes of the workload; see README.md for why.
WEB = dict(hosts=1000, page_bytes=8192, links=30, new_share=0.1)
N_KNOWN = 20_000
BATCH = 1000
WARMUP_BATCH = 200
MAX_PER_HOST = 20
MIN_GENERATIONS = 2
# request id of the traced output-check reads, which are not crawl work
CHECK_REQUEST = "check"
BASE_TIME = datetime(2024, 1, 15)


def now_fn(gen: int) -> str:
    # one minute per generation: far below every refetch interval, so a
    # fetched page never falls due again within a run
    return (BASE_TIME + timedelta(minutes=gen)).strftime("%Y-%m-%d %H:%M:%S")


def _files(path: str) -> dict[str, os.stat_result]:
    out = {}
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(dirpath, n)
                out[p] = os.stat(p)
    return out


def inject(ctx, web: SimWeb, path: str) -> float:
    """Seed a fresh frontier at ``path`` with the known pages; seconds."""
    t0 = time.perf_counter()
    loop = CrawlLoop(ctx.spark, path, lambda: web, now_fn=now_fn,
                     adaptive=True, bucket_partitioned=True)
    urls = [(web.url(i),) for i in range(N_KNOWN)]
    loop.inject_seeds(ctx.spark.createDataFrame(urls, "url string"))
    return time.perf_counter() - t0


def due_per_host(loop: CrawlLoop) -> list[int]:
    """Due URLs per host for the next generation."""
    now = now_fn(loop.generation + 1)
    rows = (
        loop.read_frontier()
        .where(F.col("next_fetch_date") <= F.lit(now))
        .groupBy("key").count()
        .collect()
    )
    return [r["count"] for r in rows]


def expected_batch(due: list[int], batch: int, per_host: int) -> int:
    """Rows a generation must select: per host, at most ``per_host`` of its
    due URLs, and at most ``batch`` overall."""
    return min(batch, sum(min(per_host, n) for n in due))


def frontier_state(ctx, loop: CrawlLoop) -> dict:
    """What the output checks compare with, read after each generation
    outside the timed section."""
    rows = loop.read_frontier().groupBy("status").count().collect()
    return {
        "status_counts": {r["status"]: r["count"] for r in rows},
        "due": due_per_host(loop),
        "index_docs": loop.index.read(ctx.spark).count(),
    }


def _install_spans(ctx) -> None:
    tr = ctx.tracer
    for attr in ("frontier_topk", "fetch", "parse_pages", "apply_filter_chain"):
        tr.wrap(crawl_loop_mod, attr, attr, kind="plan")
    tr.wrap(FrontierTable, "merge_commit", "merge_commit")
    tr.wrap(IndexTable, "upsert", "upsert")


def _gen_layers(ctx, gen_span, counters, frontier_dir, index_dir,
                before_index, rows_before, rows_after) -> dict:
    """Per-layer figures of one traced generation."""
    tr = ctx.tracer
    inner = tr.within(gen_span)
    actions = sorted((s for s in inner if s.kind == "action"),
                     key=lambda s: s.start)
    # jobs and executions are read after each action and once more at the
    # generation's end; attribute them by start time
    lo, hi = gen_span.start, gen_span.end
    jobs, execs = [], []
    for s in tr.spans:
        jobs += [j for j in s.attrs.get("jobs", []) if lo <= j["start"] <= hi]
        execs += [e for e in s.attrs.get("executions", [])
                  if lo <= e["start"] <= hi]
    merge = [s for s in inner if s.name == "merge_commit"]
    in_merge = {s.id for m in merge for s in tr.within(m)}
    plan = {s.name: s.duration for s in inner if s.kind == "plan"}
    select_execs = [
        e for a in actions if a.id not in in_merge
        for e in a.attrs.get("executions", [])
        if any("Window" in n["name"] for n in e["nodes"])
    ]
    gen_span.attrs["action_table"] = [
        {"site": a.attrs["site"], "action": a.name, "s": a.duration,
         "jobs": len(a.attrs.get("jobs", [])),
         "top_nodes": top_nodes(a.attrs.get("executions", []))}
        for a in actions
    ]
    job_iv = [(j["start"], j["end"]) for j in jobs if j["start"] and j["end"]]

    # newest snapshot: files carried over are hard links (nlink > 1)
    snap = os.path.join(frontier_dir, max(
        d for d in os.listdir(frontier_dir) if d.startswith("v")))
    snap_files = _files(snap)
    written = {p: s for p, s in snap_files.items() if s.st_nlink == 1}
    rows_written = sum(pq.ParquetFile(p).metadata.num_rows for p in written)
    updates = counters["batch"] + counters["discovered"]
    index_new = {p: s for p, s in _files(index_dir).items()
                 if p not in before_index}
    py = "time to run Python workers"
    return {
        "crawl_loop.jobs_per_gen": len(jobs),
        "crawl_loop.actions_per_gen": len(actions),
        "crawl_loop.tasks_per_gen": sum(j["tasks"] for j in jobs),
        "crawl_loop.driver_s": gen_span.duration - covered(
            job_iv, gen_span.start, gen_span.end),
        "frontier.select_s": plan.get("frontier_topk", 0.0) + node_total(
            select_execs, "scan time", "Scan parquet", frontier_dir),
        "frontier.rows_scanned": node_total(
            execs, "number of output rows", "Scan parquet", frontier_dir),
        "frontier.batch_rows": counters["batch"],
        "fetch.python_s": node_total(execs, py, "MapInPandas", "status_code"),
        "fetch.rows": node_total(
            execs, "number of output rows", "MapInPandas", "status_code"),
        "fetch.arrow_bytes": node_total(
            execs, "data sent to Python workers", "MapInPandas", "status_code")
        + node_total(execs, "data returned from Python workers",
                     "MapInPandas", "status_code"),
        "parse.python_s": node_total(execs, py, "MapInPandas", "kind#")
        + node_total(execs, py, "MapInPandas", "robots_noindex"),
        "parse.pages": node_total(
            execs, "number of output rows", "MapInPandas", "robots_noindex"),
        "parse.outlinks": counters["outlinks"],
        "filtering.python_s": node_total(
            execs, py, "MapInPandas", "filtered_url"),
        "filtering.outlinks_in": counters["outlinks"],
        "filtering.discovered_out": counters["discovered"],
        "filtering.new_url_ratio": (rows_after - rows_before)
        / max(1, counters["outlinks"]),
        "frontier_table.merge_commit_s": sum(s.duration for s in merge),
        "frontier_table.buckets_touched": len(
            {os.path.dirname(p) for p in written}),
        "frontier_table.bytes_written": sum(s.st_size for s in written.values()),
        "frontier_table.bytes_linked": sum(
            s.st_size for p, s in snap_files.items() if p not in written),
        "frontier_table.rows_rewritten_per_update": rows_written / max(1, updates),
        "frontier_table.files": len(snap_files),
        "indexing.upsert_s": sum(
            s.duration for s in inner if s.name == "upsert"),
        "indexing.docs": counters["docs"],
        "indexing.bytes_written": sum(s.st_size for s in index_new.values()),
    }


def _loop(ctx, path: str, factory, index_dir: str) -> CrawlLoop:
    return CrawlLoop(
        ctx.spark, path, factory,
        filter_chain=URLFilterChain([BasicURLFilter(), SelfURLFilter()]),
        now_fn=now_fn, max_per_bucket=MAX_PER_HOST, max_results=BATCH,
        server_delay=0.0, respect_robots=False, adaptive=True,
        bucket_partitioned=True, fetch_threads=1,
        index=IndexTable(index_dir, log_structured=True),
    )


def run(ctx) -> dict:
    """Set up, crawl for ``ctx.seconds`` (at least MIN_GENERATIONS
    generations), check each generation, and return the workload's
    figures."""
    spark = ctx.spark
    timer = spark.sparkContext.accumulator(0.0)
    seed = ctx.seed
    web = SimWeb(seed, N_KNOWN, **WEB)

    def factory():
        return SimWeb(seed, N_KNOWN, timer=timer, **WEB)

    # set-up, repeated: each build seeds a fresh frontier
    paths = [os.path.join(ctx.work, f"frontier{k}")
             for k in range(ctx.setup_repeats)]
    builds = [inject(ctx, web, p) for p in paths]
    # warm-up: one generation on the first frontier, so the timed crawl
    # (on the last, untouched one) does not pay the session's first runs
    # of the fetch, parse and merge stages
    warm = _loop(ctx, paths[0], factory, os.path.join(ctx.work, "warm-index"))
    warm.max_results = WARMUP_BATCH
    warm.run_generation()
    protocol_warm_s = timer.value
    index_dir = os.path.join(ctx.work, "index")
    path = paths[-1]
    loop = _loop(ctx, path, factory, index_dir)
    if ctx.tracer is not None:
        _install_spans(ctx)
    ctx.setup_done(builds)

    gen_s, failures, layers = [], [], []
    fetched_total = attempted = 0
    # before the first generation the state follows from the seeded pages
    # alone: all of them are due
    state = {
        "status_counts": {"DISCOVERED": N_KNOWN},
        "due": list(Counter(web.host(i) for i in range(N_KNOWN)).values()),
        "index_docs": 0,
    }
    t_start = time.perf_counter()
    while (time.perf_counter() - t_start < ctx.seconds
           or attempted < MIN_GENERATIONS):
        attempted += 1
        expected = expected_batch(state["due"], BATCH, MAX_PER_HOST)
        rows_before = sum(state["status_counts"].values())
        before_index = _files(index_dir)
        protocol_before = timer.value
        if ctx.tracer is not None:
            ctx.tracer.request = f"gen-{loop.generation + 1}"
        try:
            with ctx.span("generation", "request") as gspan:
                t0 = time.perf_counter()
                counters = loop.run_generation()
                gen_s.append(time.perf_counter() - t0)
            if ctx.tracer is not None:
                gspan.attrs.update(ctx.stats.collect())
                ctx.tracer.request = CHECK_REQUEST
            state = frontier_state(ctx, loop)
        except Exception as ex:  # a failed generation is counted, not fatal
            failures.append(
                f"generation {attempted}: {type(ex).__name__}: {ex}"[:300])
            break
        fetched_total += counters["fetched_ok"]
        problems = []
        if counters["batch"] != expected:
            problems.append(f"batch {counters['batch']} != {expected}")
        fetched_rows = state["status_counts"].get("FETCHED", 0)
        if fetched_rows != fetched_total:
            problems.append(f"FETCHED rows {fetched_rows} != pages fetched "
                            f"{fetched_total} (a URL fetched twice or lost)")
        if state["index_docs"] != fetched_rows:
            problems.append(f"index docs {state['index_docs']} != FETCHED "
                            f"{fetched_rows}")
        if problems:
            failures.append(f"generation {attempted}: " + "; ".join(problems))
        if ctx.tracer is not None:
            g = _gen_layers(ctx, gspan, counters, path, index_dir,
                            before_index, rows_before,
                            sum(state["status_counts"].values()))
            g["fetch.protocol_s"] = timer.value - protocol_before
            layers.append(g)
    crawl_s = sum(gen_s)
    nan = float("nan")
    p50 = median(gen_s) if gen_s else nan
    out = {
        "attempted": attempted,
        "failures": failures,
        "latencies": gen_s,
        "e2e": {
            "op_p50_s": p50,
            "pass_s": crawl_s if gen_s else nan,
        },
        "detail": {
            "gen_latency_p50_s": p50,
            "pages_per_s": fetched_total / crawl_s if crawl_s else nan,
            "generations_s": gen_s,
            "pages": fetched_total,
            "protocol_s": timer.value - protocol_warm_s,
        },
        "layers": {},
    }
    if layers:
        out["layers"] = {k: median([g[k] for g in layers]) for k in layers[0]}
        out["detail"]["generation_layers"] = layers
    return out
