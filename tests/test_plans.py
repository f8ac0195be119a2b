"""Physical-plan audits: the plans our scale story depends on, asserted.

Not golden-file plan dumps (too brittle) — targeted properties: filters
reaching the parquet scan, dimensions broadcasting, the broadcast-merge
never shuffling the frontier, top-k limits avoiding global sorts.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from incubator_stormcrawler_spark.operators import relational as rel

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def final_plan_of(df) -> str:
    """Execute, then return the FINAL adaptive plan. Join-strategy pins
    live here since the r13 broadcast policy: the engine never broadcasts
    from plan-time estimates (autoBroadcastJoinThreshold=-1), so initial
    plans show shuffle joins and AQE installs the broadcast/ hash
    strategies from measured sizes at runtime — the executed plan is the
    one the scale story is about.

    The action must run THIS Dataset's own QueryExecution: a noop write
    (or .count()) wraps the plan in a NEW QueryExecution, executes that,
    and leaves this df's adaptive plan unfinalized (isFinalPlan=false —
    i.e. the pin silently asserts the INITIAL plan; r14 found exactly
    that). ``collect()`` executes the dataset's own plan; fixtures here
    are test-sized, so the driver transfer is noise. The executed
    AdaptiveSparkPlanExec prints BOTH '== Final Plan ==' and
    '== Initial Plan ==' sections — return only the final one, or a
    negative pin ('SortMergeJoin' not in ...) would re-assert the very
    initial plan this helper exists to look past."""
    df.collect()
    s = df._jdf.queryExecution().executedPlan().toString()
    return s.split("== Initial Plan ==")[0]


def test_q6_pushdown_and_pruning(spark):
    plan = plan_of(rel.forecast_revenue(spark, SF))
    pushed = plan.split("PushedFilters: [")[1]
    assert "IsNotNull(l_shipdate)" in pushed
    assert "GreaterThanOrEqual(l_shipda" in pushed  # toString may truncate
    # column pruning: projection-only columns don't reach the scan
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_extendedprice" in read and "l_partkey" not in read
    assert "l_orderkey" not in read


def test_q5_broadcasts_dimensions(spark):
    plan = plan_of(rel.local_supplier_volume(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 4  # supplier/customer/nation/region
    assert "CartesianProduct" not in plan


def test_q3_top10_takeordered(spark):
    plan = plan_of(rel.shipping_priority(spark, SF))
    assert "TakeOrderedAndProject" in plan  # top-10, not a global sort


def test_round5_tpch_plan_shapes(spark):
    """The round-5 TPC-H additions keep their plan lessons: EXISTS
    compiles to LEFT SEMI (no row amplification), NOT EXISTS to LEFT
    ANTI, top-k to TakeOrderedAndProject (no global sort), and no plan
    contains a non-broadcast cartesian."""
    p = plan_of(rel.order_priority_waiting(spark, SF))
    assert "LeftSemi" in p and "CartesianProduct" not in p
    p = plan_of(rel.returned_item_customers(spark, SF))
    assert "TakeOrderedAndProject" in p
    p = plan_of(rel.large_volume_customers(spark, SF))
    assert "TakeOrderedAndProject" in p
    p = plan_of(rel.market_share(spark, SF))
    assert "LeftSemi" in p  # region-restricted customers probe as a semi
    assert "CartesianProduct" not in p
    p = plan_of(rel.dormant_customers(spark, SF))
    assert "LeftAnti" in p
    # top_supplier's scalar max joins as a broadcast, and the per-supplier
    # aggregate is computed once (ONE pass over lineitem)
    p = plan_of(rel.top_supplier(spark, SF))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert p.count("Scan parquet") <= 3  # lineitem (maybe reused) + supplier


def test_frontier_topk_partial_window_group_limit(spark):
    """The skew property the crawl core depends on: Spark's
    InsertWindowGroupLimit must plant a PARTIAL WindowGroupLimit BELOW
    the key exchange, so every map task forwards at most k rows per
    politeness key and a mega-host can never flood one reducer. This is
    why the plain declarative top-k beats the hand-salted two-phase
    variant at every measured scale (SCALING.json skewed_topk_ab: 95%
    of 64M rows on one host). If an engine/config change drops the rule,
    this fails and frontier_topk_salted becomes the fallback."""
    from incubator_stormcrawler_spark.operators.frontier import frontier_topk

    fr = spark.range(10_000).selectExpr(
        "concat('k', cast(id % 50 as string)) as key",
        "concat('u', cast(id as string)) as url",
        "timestamp '2024-01-08 00:00:00' as next_fetch_date",
    )
    p = plan_of(frontier_topk(fr, "2024-01-15 00:00:00", 5, 1000))
    below_exchange = p.split("Exchange hashpartitioning")[1]
    assert "WindowGroupLimit" in below_exchange
    assert "Partial" in below_exchange, (
        "partial WindowGroupLimit must sit below the key exchange"
    )


def test_round6_tpch_plan_shapes(spark):
    """Q12/Q21 (round 6) plan pins. Q12: both pushed filters reach the
    lineitem scan and the priority split is ONE conditional aggregate
    over the joined stream (lineitem scanned once, no second pass).
    Q21: the r7 rewrite replaced the count_distinct pair — which compiled
    to an Expand (3x row multiplication of the fact table) plus two
    exchanges on expanded keys — with collect_set in a single
    ObjectHashAggregate: no Expand, lineitem scanned once (no self-join),
    at most two hash exchanges (the orderkey shuffle plus the tiny
    post-filter per-supplier count), supplier broadcast, top-10 as
    TakeOrderedAndProject."""
    p = plan_of(rel.shipmode_priority(spark, SF))
    pushed = p.split("PushedFilters: [")[1]
    assert "In(l_returnflag" in pushed
    assert "GreaterThanOrEqual(l_shipdate" in pushed
    assert p.count("lineitem.parquet") == 1
    assert "CartesianProduct" not in p

    p = plan_of(rel.waiting_suppliers(spark, SF))
    assert "Expand" not in p
    assert p.count("lineitem.parquet") == 1
    assert "TakeOrderedAndProject" in p
    # join strategy is a RUNTIME decision under the r13 broadcast policy:
    # supplier broadcasts in the executed plan (measured size); the
    # fact⋈fact l_orderkey⋈o_orderkey join is legitimately a shuffle
    # join at scale, so its strategy is NOT pinned — the static lessons
    # (Expand-free, single lineitem scan) are pinned above
    fp = final_plan_of(rel.waiting_suppliers(spark, SF))
    assert "BroadcastHashJoin" in fp
    assert "CartesianProduct" not in fp


def test_broadcast_merge_never_shuffles_frontier(spark, tmp_path):
    from incubator_stormcrawler_spark.operators.status_merge import (
        merge_status_updates,
    )

    frontier_path = str(tmp_path / "f")
    spark.range(1000).selectExpr(
        "'https://h' || cast(id % 10 as string) || '.com/p' || cast(id as string) as url",
        "'DISCOVERED' as status",
        "timestamp'2024-01-01 00:00:00' as next_fetch_date",
        "0 as error_count",
        "'h' || cast(id % 10 as string) || '.com' as key",
        "cast(id % 10 as int) as bucket",
    ).write.mode("overwrite").parquet(frontier_path)
    frontier = spark.read.parquet(frontier_path)
    updates = spark.range(50).selectExpr(
        "'https://h1.com/p' || cast(id as string) as url",
        "'FETCHED' as status",
    )
    merged = merge_status_updates(
        frontier, updates, "2024-01-02 00:00:00", assume_small_updates=True
    )
    plan = plan_of(merged)
    # The FULL frontier enters only key-broadcast joins (anti + semi), so
    # every hashpartitioning Exchange carries an update-batch-BOUNDED side
    # (the dedupe, or the ≤|u|-row matched slice feeding the wide join —
    # no longer force-broadcast since the r13 advice: full-width frontier
    # rows are not author-proven byte-bounded, AQE decides from measured
    # size). All exchanges key on url.
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "url#" in line  # update-bounded sides only
    assert plan.count("BroadcastHashJoin") >= 2  # the key anti + semi legs
    # executed plan: AQE measures the matched slice (tiny here) and
    # installs the broadcast at runtime — the frontier is never sorted
    fp = final_plan_of(merged)
    assert fp.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in fp


def test_full_outer_merge_is_single_join(spark):
    from incubator_stormcrawler_spark.operators import synthetic as syn
    from incubator_stormcrawler_spark.operators.status_merge import (
        merge_status_updates,
    )

    merged = merge_status_updates(
        syn.synthetic_frontier(spark, SF),
        syn.synthetic_status_updates(spark, SF),
        "2024-01-15 00:00:00",
    )
    plan = plan_of(merged)
    assert plan.count("FullOuter") == 1  # exactly one (sort-merge) join


def test_pricing_summary_partial_aggregation(spark):
    plan = plan_of(rel.pricing_summary(spark, SF))
    # two HashAggregates (partial + final) around exactly one exchange
    assert plan.count("HashAggregate") >= 2
    assert plan.count("Exchange hashpartitioning") == 1


def test_capped_jaccard_filters_via_window_not_semijoin(spark):
    """The stop-shingle DF filter is a count-over-window on the shingle
    partitioning — NOT a separate aggregate + semi-join, which would
    re-explode the shingles a second time (measured 1.7× slower at
    sf0.1)."""
    from pyspark.sql import Row

    from incubator_stormcrawler_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=" ".join(f"w{i}x{k}" for k in range(20)))
         for i in range(50)]
    )
    plan = plan_of(ngram_jaccard_pairs(docs, max_shingle_df=10))
    assert "Window" in plan  # the DF count rides a window
    assert "LeftSemi" not in plan  # no dictionary semi-join rescan


def test_block_gemm_dedup_joins_blocks_not_rows(spark):
    """embedding_cosine_dedup's self-join is over B packed block rows, not
    N data rows: the only nested-loop join input is the aggregated
    (ids, vecs) relation, and the GEMM runs in ONE Arrow stage."""
    from incubator_stormcrawler_spark.operators.similarity import (
        embedding_cosine_dedup,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = plan_of(embedding_cosine_dedup(emb, threshold=0.4, num_blocks=8))
    assert "BroadcastNestedLoopJoin" in plan  # B×B block pairing
    # data rows reach the join only through the collect_list aggregation
    assert plan.count("ObjectHashAggregate") >= 2  # partial + final pack
    assert plan.count("MapInPandas") == 1


def test_lsh_ann_tables_do_not_multiply_scans(spark):
    """lsh_cosine_topk computes ALL 8 tables' buckets in one vectorized
    pass per side: neither the table count nor the 299-mask multi-probe
    explosion may multiply the parquet scans (old shape: one scan +
    broadcast build per table) or the Arrow stages."""
    from pyspark.sql import functions as F  # noqa: F811

    from incubator_stormcrawler_spark.operators.similarity import (
        lsh_cosine_topk,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 5)
    plan = plan_of(lsh_cosine_topk(emb, q, k=5))
    assert plan.count("Scan parquet") <= 2  # candidates + queries, once each
    assert plan.count("ArrowEvalPython") <= 5  # ≪ 2 stages × 6 tables


def test_asof_join_single_shuffle_no_join(spark):
    """asof_join is physically a union + one window — ONE hash exchange on
    the key, ZERO join nodes, zero row amplification. A range-probe
    formulation would plan a (broadcast) nested-loop join instead."""
    from incubator_stormcrawler_spark.operators.timeseries import asof_join

    ev = rel.load_events(spark, SF)
    left = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    right = ev.where(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("view_id")
    )
    plan = plan_of(asof_join(left, right, key="user_id", time_col="ts"))
    assert "Join" not in plan  # no join operator of any kind
    assert plan.count("Window") == 1
    # exactly one exchange introduced by the window partitioning
    assert plan.count("Exchange hashpartitioning") == 1


def test_range_join_is_hash_join_not_bnlj(spark):
    """Interval containment via equi-bucketization must plan as a hash
    equi-join on the bucket id; Catalyst's native plan for the raw
    inequality predicate is BroadcastNestedLoopJoin — O(n·m) — which dies
    once ranges outgrow a broadcast."""
    from incubator_stormcrawler_spark.operators.timeseries import (
        range_join_bucketed,
    )

    ev = rel.load_events(spark, SF).select("ts", "event_type", "value")
    base = F.lit("2024-01-01 00:00:00").cast("timestamp_ntz")
    ranges = spark.range(50).select(
        F.col("id").alias("window_id"),
        F.timestamp_add("HOUR", (F.col("id") * 7).cast("int"), base).alias(
            "t_start"
        ),
        F.timestamp_add(
            "HOUR", (F.col("id") * 7 + 3).cast("int"), base
        ).alias("t_end"),
    )
    plan = plan_of(range_join_bucketed(ev, ranges, bucket_width_s=3600))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan)


def test_rollup_single_exchange(spark):
    """ROLLUP grouping sets produce every grain from ONE shuffle (Expand +
    partial agg map-side), not one aggregation pass per grain."""
    from incubator_stormcrawler_spark.operators.timeseries import (
        rollup_time_grain,
    )

    plan = plan_of(rollup_time_grain(rel.load_events(spark, SF)))
    assert "Expand" in plan
    assert plan.count("Exchange hashpartitioning") == 1
    # partial aggregation before the exchange
    assert plan.count("HashAggregate") >= 2


def test_pack_shards_windows_partition_by_bucket(spark):
    """The per-doc cumsum window must partition by bucket (parallel);
    only the num_buckets-row prefix-offset window may be global. A single
    global window over the corpus is the classic one-partition trap this
    construction exists to avoid."""
    from incubator_stormcrawler_spark.operators.corpus import pack_shards

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(pack_shards(docs, tokens_per_shard=5000, num_buckets=8))
    # the doc-level window runs partitioned on bucket
    assert "partitionBy=[bucket" in plan.replace(" ", "").replace(
        "specifiedwindowframe", ""
    ) or "[bucket#" in plan.split("Window")[1]
    # the broadcast of the 8-row offsets table stays a broadcast join
    assert "BroadcastHashJoin" in plan


def test_segment_dedup_partial_agg_no_cartesian(spark):
    from incubator_stormcrawler_spark.operators.corpus import segment_dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(segment_dedup(docs, segment_tokens=32))
    # keeper selection must partial-aggregate map-side (hot boilerplate
    # segments cost one row per map task, not a hot reducer)
    assert "partial_min" in plan or "partial_finalmerge" in plan.lower() or \
        plan.count("HashAggregate") >= 2
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # keeper join-back pinned to sort-merge (same broadcast-misestimate
    # hazard as substring_dedup's dup join; see that test)
    assert "SortMergeJoin" in plan


def test_semdedup_pair_join_is_hash_join_on_cid(spark):
    import re

    from incubator_stormcrawler_spark.operators.similarity import semdedup

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    df = semdedup(emb, k=4, iterations=1, threshold=0.4)
    plan = plan_of(df)
    # the intra-cluster pair stage must be an equi-join on cid — never a
    # nested-loop over all pairs (that would be the all-pairs quadratic
    # plan SemDeDup exists to avoid)
    assert "CartesianProduct" not in plan
    assert re.search(
        r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \[cid", plan
    )
    # Since the r14 persist() change the k-means lineage is VISIBLE in
    # the plan text (the old lazy checkpoint hid it behind a LogicalRDD,
    # and each of the three cached-subtree references prints the cached
    # child again), so count nested-loop joins on the EXECUTED plan: the
    # assignment cache builds once and contains exactly the two
    # legitimate corpus × broadcast(k seed centroids) passes (one Lloyd
    # iteration + the final assignment at iterations=1). The pair stage
    # must never add one.
    fp = final_plan_of(df)
    assert fp.count("BroadcastNestedLoopJoin") == 2
    assert "CartesianProduct" not in fp


def test_promo_revenue_broadcasts_part_and_pushes_shipdate(spark):
    plan = plan_of(rel.promo_revenue(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    pushed = plan.split("PushedFilters: [")[1]
    assert "l_shipdate" in pushed  # month filter reaches the fact scan


def test_brand_revenue_pushes_per_side_conjuncts(spark):
    plan = plan_of(rel.brand_revenue(spark, SF))
    assert "BroadcastHashJoin" in plan
    # the OR-of-ANDs stays post-join, but the derived per-side bounds
    # (quantity, size) must reach the scans
    scans = plan.split("PushedFilters: [")
    assert any("l_quantity" in s.splitlines()[0] for s in scans[1:])
    assert any("p_size" in s.splitlines()[0] for s in scans[1:])


def test_substring_dedup_partial_agg_no_cartesian(spark):
    from incubator_stormcrawler_spark.operators.dedup import substring_dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(substring_dedup(docs, window=16))
    # gram-hash keeper must partial-aggregate map-side (hot boilerplate
    # grams must never become a hot window partition / reducer)
    assert plan.count("HashAggregate") >= 2
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the dup join-back must be SORT-MERGE, never broadcast: Catalyst's
    # plan-time estimate of the corpus-sized keeper aggregate can slip
    # under the broadcast threshold and broadcast ~1 GB to every task
    # (measured 48 s vs 16 s at 400k docs, alpha 1.12 on the r7 scaling
    # curve). The merge hint pins it; asserted on the factored
    # pre-checkpoint stage (the final plan hides it behind the
    # localCheckpoint's ExistingRDD scan).
    from incubator_stormcrawler_spark.operators.dedup import (
        substring_dup_starts,
    )

    dup_plan = plan_of(substring_dup_starts(docs, window=16))
    assert "SortMergeJoin" in dup_plan
    assert "BroadcastHashJoin" not in dup_plan


def test_bm25_and_postings_topk_is_take_ordered(spark):
    from incubator_stormcrawler_spark.operators.corpus import (
        bm25_search,
        inverted_postings,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p1 = plan_of(bm25_search(docs, ["spark", "window", "merge"], k=10))
    p2 = plan_of(inverted_postings(docs, max_terms=50))
    # the match set / vocabulary must reach the head via distributed
    # partial top-k, not a single-partition global sort of everything
    assert "TakeOrderedAndProject" in p1
    assert "TakeOrderedAndProject" in p2
    assert "CartesianProduct" not in p1 and "CartesianProduct" not in p2


def test_events_cube_single_exchange_with_partial_agg(spark):
    plan = plan_of(rel.events_cube(spark, SF))
    # grouping-set expansion happens BEFORE the shuffle (Expand feeding a
    # partial HashAggregate), so all four groupings share one HASH exchange
    # (the scan-parallelism round-robin repartition from session.read_input
    # is orthogonal to the aggregation shape and not counted here)
    assert "Expand" in plan
    assert plan.count("hashpartitioning") == 1
    assert plan.count("HashAggregate") >= 2


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Co-located join: both sides written bucketed by the join key with
    equal bucket counts -> the recurring join plans with ZERO Exchange
    (the 100 TB technique for joins that repeat every generation/pass)."""
    from incubator_stormcrawler_spark.sources.bucketed import (
        read_table,
        write_bucketed,
    )

    left = spark.range(10_000).selectExpr(
        "id as key", "id % 7 as status_code"
    )
    right = spark.range(5_000).selectExpr("id as key", "id * 2 as metric")
    write_bucketed(left, "bk_left", "key", 8, str(tmp_path / "l"))
    write_bucketed(right, "bk_right", "key", 8, str(tmp_path / "r"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force a non-broadcast join so the bucket co-partitioning is what
        # elides the shuffle, not a broadcast
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = read_table(spark, "bk_left").join(
            read_table(spark, "bk_right"), "key"
        )
        plan = plan_of(joined)
        assert "Exchange" not in plan, plan
        assert joined.count() == 5_000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bk_left")
        spark.sql("DROP TABLE IF EXISTS bk_right")


def test_bucketed_frontier_merge_never_shuffles_frontier(spark, tmp_path):
    """The production status-merge layout: frontier stored bucketed by
    url -> the full-outer MERGE shuffles ONLY the update batch; the
    frontier side reads bucketed (Bucketed: true) with no Exchange. At
    8M rows locally the shuffle it avoids is cheap; at 10^9 frontier rows
    on object storage it is the merge's dominant cost."""
    from incubator_stormcrawler_spark.operators.status_merge import (
        merge_status_updates,
    )
    from incubator_stormcrawler_spark.sources.bucketed import (
        read_table,
        write_bucketed,
    )

    frontier = spark.range(50_000).selectExpr(
        "'https://h' || cast(id % 100 as string) || '.com/p' || cast(id as string) as url",
        "'DISCOVERED' as status",
        "timestamp'2024-01-01 00:00:00' as next_fetch_date",
        "0 as error_count",
        "'h' || cast(id % 100 as string) || '.com' as key",
        "cast(id % 10 as int) as bucket",
    )
    write_bucketed(frontier, "bk_frontier", "url", 32, str(tmp_path / "bf"))
    updates = spark.range(500).selectExpr(
        "'https://h1.com/p' || cast(id as string) as url",
        "'FETCHED' as status",
        "timestamp'2024-01-02 00:00:00' as next_fetch_date",
        "0 as error_count",
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        merged = merge_status_updates(
            read_table(spark, "bk_frontier"), updates,
            now="2024-01-03 00:00:00",
        )
        import re

        plan = plan_of(merged)
        assert "Bucketed: true" in plan
        # the definitive property: no Exchange hash-partitions on the
        # frontier scan's own url attribute — every shuffle in the plan
        # belongs to the update batch aligning itself to the buckets
        m = re.search(
            r"spark_catalog\.default\.bk_frontier\[url#(\d+)", plan
        )
        assert m, plan
        assert f"Exchange hashpartitioning(url#{m.group(1)}," not in plan, (
            plan
        )
        # 5 of the 500 update urls exist (h1.com hosts only ids%100==1);
        # the other 495 insert -> 50_000 + 495
        assert merged.count() == 50_495
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bk_frontier")


def test_round7_partsupp_tpch_plan_shapes(spark):
    """Q2/Q11/Q16/Q20 (round 7, derived partsupp) plan pins.

    Q2/Q11/Q16 are CATALOG-ONLY: the derived partsupp comes from the part
    scan, so no fact table is touched at all; dimension joins broadcast
    and the only BNLJs are vs one-row broadcast aggregates (the supplier
    count / nation total). Q20 touches lineitem twice BY DESIGN (the
    pair-distinct for observed_partsupp and the 1997 half-sum) — the pin
    is that BOTH passes are semi-reduced by the broadcast red-part keys
    BELOW their aggregates (PushDownLeftSemiAntiJoin through the
    distinct), and the 1997 range reaches the scan as a pushed filter.
    """
    for fn in (rel.min_cost_supplier, rel.important_stock,
               rel.supplier_part_counts):
        p = plan_of(fn(spark, SF))
        assert "lineitem.parquet" not in p
        assert "CartesianProduct" not in p
        assert "Expand" not in p
        # no sort-merge in the EXECUTED plan: AQE converts the shuffle
        # joins to broadcast/hash from measured sizes (r13 policy —
        # initial plans deliberately carry no estimate-driven broadcasts)
        fp = final_plan_of(fn(spark, SF))
        assert "SortMergeJoin" not in fp
        assert "CartesianProduct" not in fp

    from incubator_stormcrawler_spark.roundparams import RP

    p = plan_of(rel.supplier_part_counts(spark, SF))
    pushed = p.split("PushedFilters: [")[1]
    assert f"Not(EqualTo(p_brand,{RP['q16_excl_brand']}))" in pushed
    assert "LeftAnti" in p  # negative-acctbal supplier exclusion

    p = plan_of(rel.excess_inventory_suppliers(spark, SF))
    assert p.count("lineitem.parquet") == 2
    assert p.count("LeftSemi") >= 3  # 2x red-part reduction + supplier
    assert f"GreaterThanOrEqual(l_shipdate,{RP['q20_start']}" in p
    # the partsupp ⋈ lineitem-half-sum join pairs two fact-derived sides
    # — a shuffle join is its honest strategy at scale, so it is not
    # pinned; no cartesian may appear in the executed plan
    assert "CartesianProduct" not in final_plan_of(
        rel.excess_inventory_suppliers(spark, SF)
    )
    # the red-part semi sits BELOW each pair aggregate: every lineitem
    # FileScan line is preceded (within a few lines) by a LeftSemi join
    lines = p.splitlines()
    for i, line in enumerate(lines):
        if "FileScan parquet" in line and "lineitem" in line:
            window = "\n".join(lines[max(0, i - 4):i])
            assert "LeftSemi" in window


def test_round8_new_operator_plan_shapes(spark):
    """Plan pins for the round-8 additions that aren't covered by their
    own dedicated plan tests: containment joins hash-side only (no
    cartesian, no nested loop against a non-broadcast side);
    decayed_rates is two partial-aggregable exchanges and ZERO joins;
    the BFS distance rounds join edges⋈reached as hash joins with no
    cartesian."""
    from pyspark.sql import Row

    from incubator_stormcrawler_spark.operators.dedup import containment_pairs
    from incubator_stormcrawler_spark.operators.linkrank import seed_distance
    from incubator_stormcrawler_spark.operators.metrics import decayed_rates

    docs = spark.range(200).selectExpr(
        "id as doc_id",
        "concat_ws(' ', transform(sequence(0, 19), j -> "
        "substr(md5(cast(id as string) || cast(j as string)), 1, 5))) as text",
    )
    p = plan_of(containment_pairs(docs, n=3, threshold="0.7"))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p

    ev = spark.createDataFrame(
        [Row(ts="2024-01-01 10:05:00", event_type="a", value=1.0)]
    ).selectExpr("cast(ts as timestamp) ts", "event_type", "value")
    p = plan_of(decayed_rates(ev))
    assert "Join" not in p  # explode + two hash aggregates, nothing else
    assert p.count("HashAggregate") >= 4  # two aggs × partial+final

    edges = spark.range(100).selectExpr(
        "cast(id % 17 as bigint) as src", "cast((id * 3) % 19 as bigint) as dst"
    )
    seeds = spark.range(2).selectExpr("id as node")
    p = plan_of(seed_distance(edges, seeds, max_hops=3))
    assert "CartesianProduct" not in p


def test_overlap_sketch_plan_shapes(spark):
    """Plan pins for the corpus-overlap sketches. Shard MinHash: the
    signature build is ONE aggregate over the shingle stream (16 parallel
    mins, partial+final) and the pair stage joins sketches on the slot
    index — never a cartesian or a non-broadcast nested loop anywhere.
    HLL overlap: every pair-stage join is hinted broadcast (the frames
    are group-cardinality by construction); the only non-equi join is
    the grp_a < grp_b pair enumeration, which must run as a BROADCAST
    nested loop over the distinct-group frame, never a CartesianProduct;
    the corpus-sized work is confined to the one register aggregate."""
    from incubator_stormcrawler_spark.operators.corpus import (
        hll_overlap_pairs,
        hll_registers,
    )
    from incubator_stormcrawler_spark.operators.dedup import (
        shard_minhash,
        shard_similarity_pairs,
    )

    docs = spark.range(300).selectExpr(
        "id % 4 as shard",
        "concat_ws(' ', transform(sequence(0, 19), j -> "
        "substr(md5(cast(id as string) || cast(j as string)), 1, 5))) as text",
    )
    p = plan_of(shard_similarity_pairs(shard_minhash(docs, "shard")))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p

    vals = spark.range(5000).selectExpr(
        "id % 4 as grp", "concat('v', cast(id div 2 as string)) as v"
    )
    p = plan_of(hll_overlap_pairs(hll_registers(vals, "grp", "v", m=64)))
    assert "CartesianProduct" not in p
    # pair enumeration: non-equi over two tiny distinct-group frames —
    # broadcast nested loop is the CORRECT shape (and the only NL join)
    assert p.count("BroadcastNestedLoopJoin") == 1
    # members->registers and est_a/est_b attach joins ride the hints
    assert p.count("BroadcastHashJoin") >= 3


def test_round9_jaccard_prefix_never_broadcasts_corpus_sides(spark):
    """The r9 scale-curve fix pinned: the prefix SELF-join and both
    verify joins ride SortMergeJoin (hint('merge')) — Catalyst's
    plan-time estimate of the window-derived prefix relation is garbage
    and, unhinted, it broadcast a corpus-sized build at 400k docs ('Not
    enough memory to build and broadcast')."""
    from incubator_stormcrawler_spark.operators.dedup import (
        jaccard_prefix_pairs,
    )

    docs = spark.range(2000).selectExpr(
        "id as doc_id",
        "concat_ws(' ', transform(sequence(0, 19), j ->"
        " substr(md5(cast(id as string) || cast(j as string)), 1, 5)))"
        " as text",
    )
    plan = plan_of(jaccard_prefix_pairs(docs, n=3, threshold="0.6"))
    assert plan.count("SortMergeJoin") >= 3  # self-join + 2 verify joins
    # nothing corpus-sized on a broadcast build side: the only allowed
    # BroadcastHashJoins are AQE downgrades of the candidate side, which
    # at this fixture size must not appear for the shingle streams
    assert "CartesianProduct" not in plan


def test_round9_bloom_sharded_residue_never_broadcasts_seen(spark):
    """The sharded-Bloom residue pinned both ways: default = merge-hinted
    SMJ anti join (the seen side must never be a broadcast BUILD);
    broadcast_residue=True = zero-seen-shuffle (LeftSemi with the
    batch-bounded residue broadcast, then LeftAnti on the found set)."""
    from pyspark.sql import Row

    from incubator_stormcrawler_spark.operators.dedup import (
        bloom_unseen_sharded,
    )

    seen = spark.createDataFrame([Row(key=f"k{i}") for i in range(500)])
    cands = spark.createDataFrame(
        [Row(key=f"k{i}", payload=i) for i in range(250, 750)]
    )
    default_plan = plan_of(
        bloom_unseen_sharded(seen, cands, "key", n_shards=2)
    )
    assert "SortMergeJoin LeftAnti" in default_plan.replace(
        "SortMergeJoin(skew=true) LeftAnti", "SortMergeJoin LeftAnti"
    ) or "SortMergeJoin" in default_plan
    bres_plan = plan_of(
        bloom_unseen_sharded(
            seen, cands, "key", n_shards=2, broadcast_residue=True
        )
    )
    assert "LeftSemi" in bres_plan and "LeftAnti" in bres_plan
    assert "SortMergeJoin" not in bres_plan  # zero-shuffle residue


def test_dedupe_updates_hash_aggregates(spark):
    """r13: the update dedupe must stay HASH-aggregated. A max_by whose
    value/ordering buffers are strings is var-width, which disqualifies
    HashAggregateExec and silently re-plans the dedupe as a SortAggregate
    — both sides of the exchange then sort the full update batch by url
    (measured 1.56 -> 0.70 s at the 600k-row sf0.1 batch when this
    regressed class was removed). The int-priority max keeps every
    aggregation buffer fixed-width."""
    from pyspark.sql import Row

    from incubator_stormcrawler_spark.operators.status_merge import (
        dedupe_updates,
    )

    u = spark.createDataFrame(
        [Row(url=f"u{i % 50}", status="DISCOVERED") for i in range(200)]
    )
    plan = plan_of(dedupe_updates(u))
    assert "HashAggregate" in plan
    assert "SortAggregate" not in plan
    assert "ObjectHashAggregate" not in plan


def test_native_filter_prefix_and_one_pass_router(spark):
    """A chain of column-form filters compiles to Catalyst expressions (no
    Python stage); a Python-only tail adds exactly one. The parse router
    is one Python stage with no join bringing content back by url."""
    from incubator_stormcrawler_spark.functions.filtering import (
        BasicURLFilter,
        RegexURLFilter,
        SelfURLFilter,
        URLFilterChain,
        apply_filter_chain,
    )
    from incubator_stormcrawler_spark.parse.router import route_and_parse

    links = spark.createDataFrame(
        [("https://a.example/", "https://a.example/x")],
        "source_url string, target_url string",
    )
    native = [BasicURLFilter(), SelfURLFilter()]
    p = plan_of(apply_filter_chain(links, URLFilterChain(native)))
    assert "MapInPandas" not in p
    tail = native + [RegexURLFilter(["+."])]
    p = plan_of(apply_filter_chain(links, URLFilterChain(tail)))
    assert p.count("MapInPandas") == 1

    pages = spark.createDataFrame(
        [("https://a.example/", bytearray(b"<html><a href='/x'>x</a></html>"))],
        "url string, content binary",
    )
    p = plan_of(route_and_parse(pages))
    assert p.count("MapInPandas") == 1
    assert "Join" not in p
