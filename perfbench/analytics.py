"""The ``analytics_mix`` workload: registered queries over seeded tables.

One client runs the mix one query after another in one session, always in
the same order, for ``ctx.seconds`` (at least one pass); the seed changes
the tables, not the order. Each
query's result is collected inside the timed pass and compared with its
DuckDB twin from ``oracle_sql()`` after the timing ends.
"""

from __future__ import annotations

import importlib.util
import os
import time

from .datagen import TABLES, write_tables
from .sparkstats import stage_total, top_nodes
from .stats import median

# query -> the engine layer (operator module) it exercises, in run order.
# Chosen to cover the analytic operators the crawls never touch, plus the
# read-only twins of a generation's select and merge. The order is fixed:
# a pass is cold, so a query's time depends on what ran before it, and a
# seed-permuted order made the per-query figures swing by half.
# events_sessionize is not in the mix: its result differs from its oracle
# on about a quarter of the seeds (the engine drops the sub-second part of
# a gap), so those runs could not count as correct. The defect is kept in
# view by test_events_sessionize_subsecond_gap in tests/test_helpers.py.
MIX = {
    "dedup_jaccard_prefix": "dedup",
    "dedup_bloom_sharded": "dedup",
    "link_rank": "linkrank",
    "corpus_bm25": "corpus",
    "embedding_semdedup": "similarity",
    "layout_zorder_stats": "layout",
    "layout_hilbert_stats": "layout",
    "tpch_pricing_summary": "relational",
    "tpch_shipping_priority": "relational",
    "frontier_topk": "frontier",
    "frontier_next_generation": "frontier",
    "status_merge": "status_merge",
    "status_merge_counts": "status_merge",
}
SCALE = 0.02


def _table_hash():
    path = os.path.join(os.path.dirname(os.path.dirname(__file__)),
                        "tools", "verify_local.py")
    spec = importlib.util.spec_from_file_location("verify_local", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.table_hash


def check_against_oracle(ctx, data_dir: str, results: dict) -> list[str]:
    """Names (with the reason) of queries whose collected rows differ from
    their DuckDB twin, compared by the engine's own ``table_hash``."""
    import duckdb

    import __spark_entry__ as entry

    table_hash = _table_hash()
    oracles = entry.oracle_sql()
    con = duckdb.connect()
    con.sql("SET memory_limit='1GB'")
    con.sql("SET threads=2")
    con.sql(f"SET temp_directory='{os.path.join(ctx.work, 'duckdb')}'")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(data_dir, t)}.parquet'")
    bad = []
    for name, (cols, rows) in results.items():
        try:
            rel = con.sql(oracles[name])
            want = table_hash([c.lower() for c in rel.columns], rel.fetchall())
        except duckdb.Error as ex:
            bad.append(f"{name}: oracle error {ex}"[:300])
            continue
        if table_hash([c.lower() for c in cols], rows) != want:
            bad.append(f"{name}: result differs from its oracle")
    con.close()
    return bad


def query_split(tracer, request) -> dict:
    """Where one traced query's time went: the registry call (plan), the
    actions, Spark's task time and the plan nodes that took longest."""
    inner = tracer.within(request)
    actions = [s for s in inner if s.kind == "action"]
    jobs = [j for a in actions for j in a.attrs.get("jobs", [])]
    execs = [e for a in actions for e in a.attrs.get("executions", [])]
    plan = [s for s in inner if s.kind == "plan"]
    return {
        "query": request.name,
        "s": request.duration,
        "plan_s": sum(s.duration for s in plan),
        "actions": [(a.attrs["site"], a.duration) for a in actions],
        "jobs": len(jobs),
        "task_s": stage_total(jobs, "task_s"),
        "top_nodes": top_nodes(execs),
    }


def run(ctx) -> dict:
    import __spark_entry__ as entry

    spark = ctx.spark
    builds = []
    for k in range(ctx.setup_repeats):
        data_dir = os.path.join(ctx.work, f"data{k}")
        t0 = time.perf_counter()
        write_tables(data_dir, ctx.seed, SCALE)
        builds.append(time.perf_counter() - t0)
    # warm-up: one scan, so the first timed query does not pay alone for
    # the session's first parquet read
    spark.read.parquet(os.path.join(data_dir, "lineitem.parquet")).count()
    registry = entry.queries()
    ctx.setup_done(builds)

    attempted, failures, results = 0, [], {}
    passes, latencies, per_query = [], [], {q: [] for q in MIX}
    plan_s = {m: 0.0 for m in set(MIX.values())}
    exec_s = dict(plan_s)
    t_start = time.perf_counter()
    while not passes or time.perf_counter() - t_start < ctx.seconds:
        t_pass = time.perf_counter()
        for name in MIX:
            attempted += 1
            layer = MIX[name]
            if ctx.tracer is not None:
                ctx.tracer.request = f"{name}#{len(passes) + 1}"
            try:
                with ctx.span(name, "request"):
                    t0 = time.perf_counter()
                    with ctx.span(name, "plan"):
                        df = registry[name](spark, data_dir)
                    t1 = time.perf_counter()
                    rows = [tuple(r) for r in df.collect()]
                    t2 = time.perf_counter()
            except Exception as ex:  # counted as a failed query, not fatal
                failures.append(f"{name}: {type(ex).__name__}: {ex}"[:300])
                continue
            plan_s[layer] += t1 - t0
            exec_s[layer] += t2 - t1
            latencies.append(t2 - t0)
            per_query[name].append(t2 - t0)
            results.setdefault(name, (df.columns, rows))
        passes.append(time.perf_counter() - t_pass)
    failures.extend(check_against_oracle(ctx, data_dir, results))

    n = len(passes)
    layers = {}
    for m in sorted(plan_s):
        layers[f"{m}.plan_s"] = plan_s[m] / n
        layers[f"{m}.exec_s"] = exec_s[m] / n
    for q, ts in per_query.items():
        layers[f"q.{q}.s"] = median(ts) if ts else 0.0
    query_p50 = median(latencies) if latencies else float("nan")
    detail = {"mix_s": median(passes), "query_p50_s": query_p50,
              "passes_s": passes, "queries_s": per_query}
    if ctx.tracer is not None:
        detail["query_split"] = [
            query_split(ctx.tracer, s) for s in ctx.tracer.spans
            if s.kind == "request"
        ]
    return {
        "attempted": attempted,
        "failures": failures,
        "latencies": latencies,
        "e2e": {
            "op_p50_s": query_p50,
            "pass_s": median(passes),
        },
        "detail": detail,
        "layers": layers,
    }
