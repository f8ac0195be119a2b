"""Tests of the benchmark's own helpers.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys
import time

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.simweb import SimWeb  # noqa: E402
from perfbench.sparkstats import parse_metric  # noqa: E402
from perfbench.stats import percentile, tail_percentile  # noqa: E402
from perfbench.trace import Tracer, covered  # noqa: E402


def _pages(seed, ids, **kw):
    web = SimWeb(seed, 1000, hosts=50, page_bytes=512, links=8, **kw)
    return [web.get_protocol_output(web.url(i), {}).content for i in ids]


def test_simweb_same_seed_same_pages():
    ids = [0, 1, 17, 999, 1500]
    assert _pages(5, ids) == _pages(5, ids)


def test_simweb_seeds_differ():
    ids = list(range(20))
    a, b = _pages(5, ids), _pages(6, ids)
    assert sum(x != y for x, y in zip(a, b)) == len(ids)


def test_simweb_links_mix_known_and_new():
    web = SimWeb(3, 10_000, hosts=100, links=30, new_share=0.1)
    targets = [t for i in range(300) for t in web.targets(i)]
    new = sum(t >= 10_000 for t in targets) / len(targets)
    assert 0.07 < new < 0.13
    assert all(t < 20_000 for t in targets)


def test_simweb_rejects_foreign_urls():
    web = SimWeb(3, 100, hosts=10)
    wrong_host = f"https://h{(web.host(7) + 1) % 10}.sim/p7"
    assert web.get_protocol_output(wrong_host, {}).status_code == 404
    assert web.get_protocol_output("https://example.com/", {}).status_code == 404


def test_simweb_zipf_skews_hosts():
    web = SimWeb(1, 10_000, hosts=100)
    counts = [0] * 100
    for i in range(10_000):
        counts[web.host(i)] += 1
    assert counts[0] > 10 * counts[99]


def test_expected_batch_caps_per_host_then_overall():
    from perfbench.crawl import expected_batch

    assert expected_batch([50, 3, 20], batch=1000, per_host=20) == 43
    assert expected_batch([50, 3, 20], batch=30, per_host=20) == 30
    assert expected_batch([], batch=1000, per_host=20) == 0


def test_tail_percentile_needs_ten_beyond():
    assert tail_percentile(list(range(19))) is None
    # 20 samples: the median has exactly 10 beyond it, p90 only 2
    assert tail_percentile(list(range(20))) == (50.0, 9.0)
    # 100 samples: p90 has 10 beyond, p95 only 5
    assert tail_percentile(list(range(1, 101))) == (90.0, 90.0)
    # 1000 samples: p99 has 10 beyond
    assert tail_percentile(list(range(1, 1001))) == (99.0, 990.0)


def test_percentile_nearest_rank():
    assert percentile([3, 1, 2], 50) == 2
    assert percentile([1, 2, 3, 4], 100) == 4


def test_covered_merges_overlaps():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == pytest.approx(4.0)
    assert covered([(0, 20)], 5, 10) == pytest.approx(5.0)
    assert covered([], 0, 1) == 0.0


def test_self_time_of_nested_spans():
    tr = Tracer(ROOT)
    with tr.span("outer", "request") as outer:
        time.sleep(0.02)
        with tr.span("a") as a:
            time.sleep(0.03)
            with tr.span("a.inner"):
                time.sleep(0.01)
        with tr.span("b") as b:
            time.sleep(0.02)
    kids = [a, b]
    assert [s.name for s in tr.children(outer)] == ["a", "b"]
    assert tr.self_time(outer) == pytest.approx(
        outer.duration - sum(k.duration for k in kids), abs=1e-6)
    assert tr.self_time(outer) >= 0.02
    assert tr.self_time(a) < a.duration
    assert {s.name for s in tr.within(outer)} == {"a", "a.inner", "b"}


def test_wrap_records_caller_site_and_restores():
    class Thing:
        def act(self):
            return 42

    tr = Tracer(ROOT)
    seen = []
    tr.on_action = seen.append
    tr.wrap(Thing, "act", "act", kind="action")
    assert Thing().act() == 42
    tr.unwrap_all()
    assert Thing().act() == 42 and len(tr.spans) == 1
    site = tr.spans[0].attrs["site"]
    assert site.startswith("perfbench/tests/test_helpers.py:")
    assert seen == [tr.spans[0]]


def test_parse_metric_formats():
    assert parse_metric("1,234") == 1234.0
    assert parse_metric("total (min, med, max (stageId: taskId))\n"
                        "16.5 KiB (4.1 KiB, 4.1 KiB, 4.1 KiB (stage 0.0: task 1))"
                        ) == pytest.approx(16.5 * 1024)
    assert parse_metric("total (min, med, max (stageId: taskId))\n"
                        "4.0 s (995 ms, 1.0 s, 1.0 s (stage 0.0: task 2))") == 4.0
    assert parse_metric("850 ms") == pytest.approx(0.85)
    assert parse_metric(None) is None


@pytest.fixture(scope="module")
def spark():
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from incubator_stormcrawler_spark.session import get_spark

    return get_spark("perfbench-tests", shuffle_partitions=4)


def test_status_store_reports_python_worker_time(spark):
    from perfbench.sparkstats import SparkStats, node_total, stage_total

    stats = SparkStats(spark)

    def slow_double(batches):
        for pdf in batches:
            time.sleep(0.05)
            yield pdf.assign(y=pdf["id"] * 2)

    rows = spark.range(200).mapInPandas(slow_double, "id long, y long").collect()
    assert sorted(r.y for r in rows) == [2 * i for i in range(200)]
    got = stats.collect()
    py_s = node_total(got["executions"], "time to run Python workers",
                      "MapInPandas")
    assert py_s > 0
    assert node_total(got["executions"], "number of output rows",
                      "MapInPandas") == 200
    assert node_total(got["executions"], "data sent to Python workers",
                      "MapInPandas") > 0
    assert stage_total(got["jobs"], "tasks") >= 1
    assert stage_total(got["jobs"], "task_s") > 0
    # a second read sees nothing new
    again = stats.collect()
    assert again["jobs"] == [] and again["executions"] == []


@pytest.mark.xfail(strict=True, reason=(
    "engine defect: events_sessionize measures gaps with unix_timestamp, "
    "which drops the sub-second part, so a 1800.5 s gap starts no new "
    "session; once this passes, put the query back in analytics.MIX"))
def test_events_sessionize_subsecond_gap(spark, tmp_path):
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as entry
    from perfbench.analytics import _table_hash

    base = 1_704_067_200_000_000  # 2024-01-01 in microseconds
    ts = [base, base + 1_800_500_000, base + 1_800_500_000 + 60_000_000]
    pq.write_table(pa.table({
        "event_id": pa.array([0, 1, 2], pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array([7, 7, 7], pa.int64()),
        "event_type": ["view", "view", "click"],
        "value": [1.0, 2.0, 3.0],
        "props": ['{"k": 1}'] * 3,
    }), str(tmp_path / "events.parquet"))
    df = entry.queries()["events_sessionize"](spark, str(tmp_path))
    got = [tuple(r) for r in df.collect()]
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM "
            f"'{tmp_path / 'events.parquet'}'")
    rel = con.sql(entry.oracle_sql()["events_sessionize"])
    want = rel.fetchall()
    con.close()
    assert want == [(7, 2, 3, 5.0)]
    table_hash = _table_hash()
    assert table_hash(df.columns, got) == table_hash(
        [c.lower() for c in rel.columns], want)
