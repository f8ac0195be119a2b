"""The recursive crawl as generations — SURVEY.md §3.1's Spark lifecycle.

The reference's topology is a cycle through storage: status updater writes
the frontier, the spout re-queries it
(persistence/AbstractQueryingSpout.java:178-217). Here each generation is
one batch plan:

  frontier query (grouped top-k)            — operators/frontier.py
    → repartition(key) → polite fetch       — protocol/fetch.py
    → parse (HTML / sitemap / feed)         — parse/
    → outlink filter chain + metadata       — functions/filtering.py
    → status updates union                  — this module
    → MERGE into frontier                   — operators/status_merge.py

State between generations is the frontier table (parquet dir locally;
Delta/Iceberg on a cluster — the MERGE is expressed as a full-plan rewrite
here and maps 1:1 onto ``MERGE INTO`` where available). Lineage + an
idempotent merge replace Storm's ack/fail at-least-once contract.

At 100 TB: write the frontier partitioned by ``bucket`` and run
generations per bucket-shard (frontier_topk's ``bucket`` arg) — each
generation then scans one shard's files only, and multiple shards can
crawl concurrently without overlapping politeness keys.
"""

from __future__ import annotations



from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.filtering import URLFilterChain, apply_filter_chain
from ..operators.frontier import frontier_topk
from ..operators.status_merge import merge_status_updates
# parse_pages stays a module attribute: perfbench's tracer wraps it by name
from ..parse.html import parse_pages, split_parse_streams  # noqa: F401
from ..parse.router import route_and_parse, routed_branches
from ..protocol.fetch import fetch
from .frontier_table import FrontierTable


class CrawlLoop:
    def __init__(
        self,
        spark: SparkSession,
        frontier_path: str,
        protocol_factory,
        filter_chain: URLFilterChain | None = None,
        now_fn=None,
        max_per_bucket: int = 5,
        max_results: int = 1000,
        server_delay: float = 0.0,
        respect_robots: bool = False,
        max_outlinks: int = 100,
        max_depth: int | None = None,
        adaptive: bool = False,
        content_cache=None,
        metrics_path: str | None = None,
        fetch_threads: int = 1,
        bucket_partitioned: bool = False,
        bloom_prefilter: bool = False,
        bloom_m_bits: int = 1 << 20,
        bloom_refresh_every: int = 1,
        bloom_n_shards: int = 1,
        warc_dir: str | None = None,
        index=None,
        canonicalize_redirects: bool = False,
        resolved_map_buckets: int = 32,
        near_dedup: bool = False,
        near_dedup_min_sim: float = 0.9,
        near_dedup_num_hashes: int = 8,
        near_dedup_band_rows: int = 2,
        near_dedup_ngram: int = 3,
        rank_priority: bool = False,
        rank_max_buckets: int = 10,
        rank_iterations: int = 3,
        rank_refresh_every: int = 1,
        forecast_sizing: bool = False,
        forecast_horizon_s: float = 60.0,
        forecast_delays: DataFrame | None = None,
        compact_every: int = 0,
        compact_zorder: bool = False,
        compact_curve: str = "morton",
        compact_max_files_per_bucket: int = 4,
    ):
        self.spark = spark
        self.frontier_path = frontier_path
        self.protocol_factory = protocol_factory
        self.filter_chain = filter_chain or URLFilterChain([])
        self.now_fn = now_fn or (lambda gen: f"2024-01-15 {gen:02d}:00:00")
        self.max_per_bucket = max_per_bucket
        self.max_results = max_results
        self.server_delay = server_delay
        self.respect_robots = respect_robots
        self.max_outlinks = max_outlinks
        self.max_depth = max_depth
        self.adaptive = adaptive
        # operators/indexing.ContentCache — cached URLs skip the fetcher
        # entirely (S3CacheChecker join, external/aws/.../s3/S3CacheChecker.java)
        self.content_cache = content_cache
        self.metrics_path = metrics_path
        self.fetch_threads = fetch_threads
        # bucket_partitioned=True stores hive-partitioned snapshots and
        # merges incrementally (FrontierTable.merge_commit): only buckets
        # touched by a generation's updates are re-read and rewritten —
        # the Delta MERGE INTO plan shape, mandatory at 100 TB
        self.bucket_partitioned = bucket_partitioned
        # bloom_prefilter=True drops already-known urls from the
        # DISCOVERED stream BEFORE the merge via the zero-seen-shuffle
        # Bloom membership (dedup.bloom_unseen_broadcast with
        # broadcast_residue): a DISCOVERED row for an existing url is a
        # merge no-op (insert-if-absent), so the final frontier is
        # IDENTICAL (equivalence-tested) — but the merge input shrinks to
        # genuinely-new urls, which shrinks the touched-bucket set the
        # pruned merge_commit must rewrite. Size bloom_m_bits ~10 bits
        # per frontier url (the reference's per-JVM seen caches play this
        # role: AbstractQueryingSpout.java:149-175).
        self.bloom_prefilter = bloom_prefilter
        self.bloom_m_bits = bloom_m_bits
        # bloom_refresh_every > 1 amortizes the bitmap build across
        # generations. SAFE here despite Bloom's addition-staleness (a
        # bitmap missing urls inserted since its build classifies them
        # definitely-unseen): those rows just re-enter the merge, whose
        # insert-if-absent semantics no-op them — exactly the duplicates
        # the prefilter exists to shed, traded against the rebuild cost.
        self.bloom_refresh_every = bloom_refresh_every
        # bloom_n_shards > 1 switches the prefilter to the array-SHARDED
        # broadcast form (dedup.bloom_unseen_broadcast_sharded): one
        # lazily-pulled TorrentBroadcast per shard instead of one bitmap
        # that at 10^9 frontier urls weighs ~1.2 GB. bloom_m_bits stays
        # the TOTAL budget; each shard holds m_bits / n_shards bits.
        self.bloom_n_shards = bloom_n_shards
        self._bloom_bcast = None  # one Broadcast, or a list when sharded
        self._bloom_built_gen = -(10**9)
        # rank_priority=True is OPIC-style focused crawling: each
        # generation appends the observed host→host link edges to a side
        # store, ranks hosts by PageRank over the graph SO FAR, and the
        # frontier's bucket choice takes the rank_max_buckets
        # HIGHEST-RANKED due hosts (frontier_topk_rank_ordered) instead
        # of every due host — fetch capacity concentrates on link-endorsed
        # hosts. Reference analogs: the AggregationSpout's configurable
        # bucket-sort field + PriorityURLBuffer's re-prioritized release
        # (urlbuffer/PriorityURLBuffer.java:40). Generation 1 (no edges
        # yet) falls back to the plain urgency-ordered top-k.
        self.rank_priority = rank_priority
        self.rank_max_buckets = rank_max_buckets
        self.rank_iterations = rank_iterations
        # rank_refresh_every > 1 amortizes the per-generation host
        # PageRank (the same staleness trade as bloom_refresh_every, and
        # safer: a stale rank only re-ORDERS hosts, every due host still
        # eventually crawls). Measured at 100k pages / 1000 hosts:
        # re-ranking every generation costs +68% crawl wall time; every
        # 3rd generation cuts that to roughly a third.
        self.rank_refresh_every = rank_refresh_every
        self._ranks_cache = None
        self._ranks_built_gen = -(10**9)
        self._ranks_ckpt = None   # tracked blocks of the live rank table
        self._gen_ckpts: list = []  # per-generation checkpoint handles
        # warc_dir archives every generation's successful fetches as
        # rotating .warc.gz files (the reference's WARCHdfsBolt sitting on
        # the fetcher's output stream: external/warc/.../WARCHdfsBolt);
        # per-generation file prefixes play the role of its time-based
        # rotation, size rotation is write_warc's own
        self.warc_dir = warc_dir
        # index: an operators.indexing.IndexTable — completes the
        # reference topology's terminal bolt pair: parsed docs UPSERT
        # into the index each generation (IndexerBolt) and urls that
        # just went terminal-ERROR are DELETED from it (the `deletion`
        # stream into DeletionBolt,
        # opensearch/.../bolt/DeletionBolt.java:53-58)
        self.index = index
        # canonicalize_redirects=True keys indexed docs by their TERMINAL
        # redirect url: each generation folds its observed redirect
        # hops (protocol 3xx Location + meta-refresh targets — the
        # reference's `_redirTo`, bolt/FetcherBolt.java:706-746, and the
        # RedirectionBolt shunt, external/tika/.../RedirectionBolt.java:54)
        # into a first-wins edge store AND an incrementally-maintained
        # resolved map (linkrank.incremental_redirect_resolve — the
        # doubling runs over the generation's DELTA, never the
        # accumulated set), and the upsert rewrites doc urls through
        # that map — chains that took several generations to discover
        # still collapse, so a doc reached via a->b->c indexes once
        # under c. Deletions stay
        # keyed by frontier url on purpose: a redirect SOURCE going
        # terminal-ERROR must not delete the doc living under its target
        # (the source never indexed a doc of its own), so the delete is
        # a harmless no-op for redirected urls.
        self.canonicalize_redirects = canonicalize_redirects
        from .frontier_table import ResolvedMapStore

        self._resolved_store = ResolvedMapStore(
            frontier_path + "_redirect_resolved_v",
            n_buckets=resolved_map_buckets,
        )
        # near_dedup=True drops NEAR-duplicate pages from the index
        # stream each generation (r11 verdict item 6 — the way a
        # production crawl actually consumes the MinHash family): the
        # batch's signatures band against an accumulated SIGNATURE side
        # store (dedup.incremental_lsh_dedup — only the batch ever
        # shingles; the store contributes stored (doc_id, h, v) rows),
        # matched batch docs are dropped before the upsert, and KEPT
        # docs' signatures append to the store first-observation-wins
        # (a refetched page keeps its original signatures — it never
        # matches itself, and the store stays append-only + globally
        # distinct by doc, riding the same compaction cadence as the
        # edge stores). The index therefore holds one representative
        # per near-dup cluster, discovered across ANY generation gap.
        # Reference analog: the reference dedups EXACT urls via status
        # (AbstractStatusUpdaterBolt.java:150-161) but ships no content
        # near-dedup; this is the 100 TB training-pipeline requirement
        # layered onto the same loop.
        self.near_dedup = near_dedup
        self.near_dedup_min_sim = near_dedup_min_sim
        self.near_dedup_num_hashes = near_dedup_num_hashes
        self.near_dedup_band_rows = near_dedup_band_rows
        self.near_dedup_ngram = near_dedup_ngram
        # forecast_sizing=True caps each host's generation share at its
        # politeness-limited fetch forecast (frontier.fetch_forecast):
        # least(due backlog, floor(horizon/delay) + 1) for the configured
        # forecast_horizon_s. Without it the loop sizes by max_results /
        # max_per_bucket alone, so a delay-bound host can be handed more
        # URLs than its crawl-delay lets it fetch inside the generation
        # budget and the whole generation's wall time stretches to the
        # slowest host (the reference hits the same wall as queue
        # starvation: FetcherBolt.java:191-245 holds the queue while the
        # delay elapses). forecast_delays is an optional robots-derived
        # (key, crawl_delay_s) dim; hosts missing from it pace at
        # server_delay — with server_delay == 0 the cap provably never
        # binds (capacity = backlog), so the default stays a no-op.
        self.forecast_sizing = forecast_sizing
        self.forecast_horizon_s = forecast_horizon_s
        self.forecast_delays = forecast_delays
        # compact_every > 0 runs FrontierTable.compact (OPTIMIZE) every N
        # generations, right after the generation's merge commits: the
        # pruned merge_commit fragments each touched bucket by up to
        # shuffle-partitions files per generation, and without a cadence
        # a long crawl's file count grows without bound (the lakehouse
        # maintenance loop every Delta/Iceberg deployment schedules).
        # compact_zorder=True makes the rewrite OPTIMIZE ZORDER —
        # clustered on (next_fetch_date, key hash) so frontier due scans
        # skip files by footer stats (see FrontierTable.compact).
        self.compact_every = compact_every
        self.compact_zorder = compact_zorder
        # curve="hilbert" clusters with the FSM Hilbert key instead of
        # the Morton interleave (tighter per-file footers on skewed
        # date/host data; see FrontierTable.compact)
        self.compact_curve = compact_curve
        self.compact_max_files_per_bucket = compact_max_files_per_bucket
        self.table = FrontierTable(
            frontier_path,
            partition_by="bucket" if bucket_partitioned else None,
        )
        # Durable generation numbering (r7 review fix): a fresh process
        # resumes the counter from the table's last committed generation
        # mark, so batch ids stay unique across restarts — without this,
        # a restarted deployment's NEW generation 1 would collide with
        # the previous run's committed "gen-1" and the exactly-once guard
        # would silently DROP its merge. A crash-RETRIED generation, by
        # contrast, reproduces the SAME number (the failed merge never
        # moved the mark), which is exactly when the guard should no-op.
        self.generation = 0
        last = self.table.last_batch_id()
        if last and last.startswith("gen-") and last[4:].isdigit():
            self.generation = int(last[4:])
        # crawl depth rides as a flat column next to the frontier schema;
        # adaptive mode adds (signature, fetch_interval) for change-driven
        # refetch intervals (AdaptiveScheduler)
        self.table_ddl = (
            "url string, status string, next_fetch_date timestamp, "
            "error_count int, key string, bucket int, depth int"
        )
        if adaptive:
            self.table_ddl += ", signature string, fetch_interval double"

    # -- frontier table ----------------------------------------------------
    def read_frontier(self) -> DataFrame:
        if not self.table.exists():
            return self.spark.createDataFrame([], self.table_ddl)
        return self.table.read(self.spark)

    def _host_edges_path(self) -> str:
        return self.frontier_path + "_host_edges"

    def _redirect_edges_path(self) -> str:
        return self.frontier_path + "_redirect_edges"

    # -- redirect side stores (r11 verdict item 4) -------------------------
    # The edge store is FIRST-OBSERVATION-WINS and globally distinct (one
    # row per src — only genuinely-new srcs append, so a steady-state
    # crawl re-observing the same hops appends NOTHING), and the resolved
    # map is maintained INCREMENTALLY (linkrank.incremental_redirect_resolve
    # over the delta) as a versioned snapshot instead of re-doubling the
    # whole accumulated chain set every generation. Reference analog: the
    # status store is merged, never appended-and-rescanned
    # (external/sql/.../StatusUpdaterBolt.java:103-219).
    def _read_resolved_map(self) -> DataFrame:
        return self._resolved_store.read(self.spark)

    def _write_resolved_map(
        self, resolved: DataFrame, changed: DataFrame | None = None
    ) -> None:
        """Commit the new map via the bucket-pruned ResolvedMapStore
        (streaming/frontier_table.py): only buckets containing
        ``changed`` urls (the incremental resolve's delta) rewrite;
        untouched buckets hard-link into the new snapshot, and the
        monotonic version counter + ``_COMMIT`` marker make a
        crash-retried generation write a FRESH snapshot instead of
        overwriting the one its own plan still reads ``prior`` from."""
        self._resolved_store.write(resolved, changed=changed)

    def _minhash_sigs_path(self) -> str:
        return self.frontier_path + "_minhash_sigs"

    def _minhash_bands_path(self) -> str:
        return self.frontier_path + "_minhash_bands"

    def _ckpt(self, df: DataFrame) -> DataFrame:
        """Eager localCheckpoint with TRACKED storage (the r12 finding:
        checkpoint blocks are invisible to DataFrame.unpersist and do
        NOT free on GC, so every per-generation checkpoint would leak
        its blocks for the life of the crawl — unbounded over thousands
        of generations). Handles collect on the generation and release
        at its end, once everything derived from them has been written
        or counted."""
        from ..operators.linkrank import _local_checkpoint_tracked

        out, handle = _local_checkpoint_tracked(df)
        self._gen_ckpts.append(handle)
        return out

    def _release_gen_ckpts(self) -> None:
        for h in self._gen_ckpts:
            h.unpersist(False)
        self._gen_ckpts = []

    def _near_dedup_filter(self, docs: DataFrame) -> tuple:
        """Drop near-duplicate docs from this generation's index stream
        and grow the signature store with the KEPT docs' signatures AND
        band keys. Returns (kept_docs, n_dropped). Docs with no text
        pass through (no shingles, no signature). Plan: the batch
        shingles ONCE (signatures checkpointed and shared by the band
        join and the store append); the store contributes STORED rows
        only — signatures for the est-sim rerank (scan + join) and band
        keys for the match (scan + join), so steady state never
        re-aggregates the accumulated store (the r12 residual: banding
        the whole store was a docs × num_hashes groupBy shuffle per
        generation; SCALING.json ``neardedup_incremental`` pins the
        fixed-batch cost flat as the store grows).

        RE-INGEST SEMANTICS — first-observation-wins, deliberately: a
        re-crawled doc's FRESH signatures are used for matching this
        generation (its stale store rows are dropped inside
        ``incremental_lsh_dedup``), but the store keeps the ORIGINAL
        rows (the append anti-joins on stored doc_ids). Consequence,
        pinned by test_near_dedup_reingest_keeps_first_signatures: if a
        page's content CHANGES between crawls, future generations band
        new docs against its OLD content — a doc near-duplicating the
        new content is NOT dropped (blind spot), one near-duplicating
        the original still is. The alternative (replace-by-doc_id)
        would rewrite store rows in place — an O(store) merge per
        generation, exactly the cost shape this path exists to avoid;
        a changed page is the rare case and its dup-blind window closes
        when the near-dup itself is kept and stored."""
        import os

        from ..operators.dedup import (
            band_keys,
            incremental_lsh_dedup,
            minhash_signatures,
        )
        from ..operators.linkrank import _CheckpointHandle

        # blanket storage tracking: incremental_lsh_dedup checkpoints
        # internal relations (the unioned signature set, the banded
        # flags) that the caller cannot reach — register EVERYTHING this
        # block creates for the generation-end release (double-release
        # of the explicitly tracked frames below is a no-op)
        sc = self.spark.sparkContext
        ids_before = set(sc._jsc.getPersistentRDDs().keySet().toArray())

        batch = docs.select(
            F.col("url").alias("doc_id"), F.col("text")
        ).where(F.col("text").isNotNull() & (F.col("text") != ""))
        batch_sigs = self._ckpt(minhash_signatures(
            batch, self.near_dedup_num_hashes, self.near_dedup_ngram
        ))
        sp = self._minhash_sigs_path()
        bp = self._minhash_bands_path()
        if os.path.exists(sp):
            index_sigs = self.spark.read.parquet(sp)
            if not os.path.exists(bp):
                # one-time backfill for a store written before band keys
                # were persisted (the only store-sized banding groupBy
                # this path ever runs again)
                band_keys(
                    index_sigs, self.near_dedup_band_rows
                ).write.mode("overwrite").parquet(bp)
            index_bands = self.spark.read.parquet(bp)
        else:
            index_sigs = self.spark.createDataFrame(
                [], batch_sigs.schema
            )
            index_bands = None
        pairs = incremental_lsh_dedup(
            batch,
            index_sigs,
            num_hashes=self.near_dedup_num_hashes,
            band_rows=self.near_dedup_band_rows,
            n=self.near_dedup_ngram,
            min_est_sim=self.near_dedup_min_sim,
            batch_sigs=batch_sigs,
            index_bands=index_bands,
        )
        # doc2 is always the batch side (within-batch pairs id-ordered),
        # so dropping distinct doc2 keeps one representative per cluster
        drops = self._ckpt(
            pairs.select(F.col("doc2").alias("url")).distinct()
        )
        n_dropped = drops.count()
        kept = docs.join(drops, "url", "left_anti")
        # first-observation-wins store append of KEPT docs' signatures
        kept_sigs = batch_sigs.join(
            kept.select(F.col("url").alias("doc_id")), "doc_id", "left_semi"
        )
        if os.path.exists(sp):
            kept_sigs = kept_sigs.join(
                index_sigs.select("doc_id").distinct(),
                "doc_id",
                "left_anti",
            )
        kept_sigs = self._ckpt(kept_sigs)
        if kept_sigs.count():
            # BANDS FIRST: store membership (the first-wins anti-join)
            # is decided by the SIGNATURE store, so a crash between the
            # two appends leaves band rows whose doc the retry re-appends
            # whole — duplicate band rows only ever duplicate candidate
            # pairs, which the match's distinct() absorbs. (Sigs-first
            # would strand docs with signatures but no bands: invisible
            # to the band match forever.)
            band_keys(kept_sigs, self.near_dedup_band_rows).write.mode(
                "append"
            ).parquet(bp)
            kept_sigs.write.mode("append").parquet(sp)
        ids_after = set(sc._jsc.getPersistentRDDs().keySet().toArray())
        self._gen_ckpts.append(
            _CheckpointHandle(sc, ids_after - ids_before)
        )
        return kept, n_dropped

    def _compact_edge_stores(self) -> None:
        """File-count hygiene for the append-only side stores, on the
        same cadence as FrontierTable.compact: the stores are already
        LOGICALLY distinct (anti-join appends), so this only rewrites the
        accumulated one-file-per-generation fragments into a bounded file
        count. Content is checkpointed before the overwrite (Spark cannot
        lazily read a path it is truncating)."""
        import os

        for path in (
            self._host_edges_path(),
            self._redirect_edges_path(),
            self._minhash_sigs_path(),
            self._minhash_bands_path(),
        ):
            if not os.path.exists(path):
                continue
            snap = self._ckpt(self.spark.read.parquet(path))
            (
                snap.repartition(self.compact_max_files_per_bucket)
                .write.mode("overwrite")
                .parquet(path)
            )

    def _host_ranks(self) -> DataFrame | None:
        """PageRank over the host graph observed so far (None before any
        edges exist — generation 1 crawls urgency-ordered). The graph is
        host-cardinality, orders of magnitude below the frontier; the
        rank table feeds the bucket choice as a broadcast, and is
        recomputed every ``rank_refresh_every`` generations (cached as a
        materialized localCheckpoint in between)."""
        import os

        from ..operators.linkrank import link_rank

        path = self._host_edges_path()
        if not os.path.exists(path):
            return None
        fresh_enough = (
            self._ranks_cache is not None
            and self.generation - self._ranks_built_gen
            < self.rank_refresh_every
        )
        if not fresh_enough:
            from ..operators.linkrank import (
                _CheckpointHandle,
                _local_checkpoint_tracked,
            )

            sc = self.spark.sparkContext
            before = set(sc._jsc.getPersistentRDDs().keySet().toArray())
            edges = self.spark.read.parquet(path)
            ranks_plan = link_rank(edges, iterations=self.rank_iterations)
            new_cache, new_ckpt = _local_checkpoint_tracked(ranks_plan)
            # everything ELSE the refresh registered (link_rank's
            # internal per-iteration checkpoints and node/edge caches)
            # is released now that the final table is materialized; the
            # PREVIOUS generation's rank table releases on replacement —
            # without this, every refresh leaked its blocks for the life
            # of the crawl (checkpoints neither unpersist nor GC-free)
            after = set(sc._jsc.getPersistentRDDs().keySet().toArray())
            _CheckpointHandle(
                sc, (after - before) - set(new_ckpt._ids)
            ).unpersist(False)
            if self._ranks_ckpt is not None:
                self._ranks_ckpt.unpersist(False)
            self._ranks_cache, self._ranks_ckpt = new_cache, new_ckpt
            self._ranks_built_gen = self.generation
        return self._ranks_cache

    def inject_seeds(self, seeds: DataFrame) -> None:
        """Seed URLs → DISCOVERED frontier rows (SURVEY.md §3.2). Idempotent
        merge: existing URLs keep their state."""
        now = self.now_fn(self.generation)
        updates = (
            seeds.select("url")
            .withColumn("status", F.lit("DISCOVERED"))
            .withColumn("depth", F.lit(0))
        )
        if self.adaptive:
            updates = updates.withColumn(
                "signature", F.lit(None).cast("string")
            )
        self._merge_and_write(updates, now)

    def _merge_and_write(
        self, updates: DataFrame, now: str, batch_id: str | None = None
    ) -> DataFrame:
        """Merge one batch of status updates into the frontier and commit;
        returns the merged table. Incremental (partition-pruned) when
        bucket-partitioned and a snapshot already exists. A batch_id makes
        a crash-retried merge a no-op instead of a double-apply —
        FrontierTable's exactly-once contract. Seed injection passes None
        (it may run several times per generation, and DISCOVERED-merge is
        idempotent by its own semantics)."""
        if self.bucket_partitioned and self.table.exists():
            self.table.merge_commit(
                self.spark, updates, now, batch_id=batch_id
            )
            return self.read_frontier()
        # non-bucketed path carries the SAME exactly-once contract (r7
        # review fix: the batch_id used to be accepted and dropped here)
        if batch_id is not None and self.table.last_batch_id() == batch_id:
            return self.read_frontier()
        merged = merge_status_updates(self.read_frontier(), updates, now)
        self.table.commit(merged, batch_id=batch_id)
        return merged

    # -- one generation ----------------------------------------------------
    def run_generation(self) -> dict:
        """Run one fetch-parse-merge generation; returns counters."""
        self.generation += 1
        now = self.now_fn(self.generation)
        frontier = self.read_frontier()
        # cache the generation batch: it feeds the fetch stage, the
        # outlink-depth broadcast AND the batch counter — uncached, the
        # frontier scan + grouped-top-k window re-executes for each
        # (measured ~3× per generation in round 3's 537 p/s regression)
        ranks = self._host_ranks() if self.rank_priority else None
        # with forecast sizing on, the global max_results cap is DEFERRED
        # until after the politeness-forecast filter: capping first would
        # let rows the forecast then drops keep unconstrained hosts'
        # overflow out of the generation (systematic under-fill — the r9
        # advice finding); capping after lets freed slots backfill.
        cap_after_forecast = (
            self.forecast_sizing and self.max_results is not None
        )
        topk_cap = None if cap_after_forecast else self.max_results
        if ranks is not None:
            from ..operators.frontier import frontier_topk_rank_ordered

            batch = frontier_topk_rank_ordered(
                frontier, ranks, now,
                max_buckets=self.rank_max_buckets,
                max_per_bucket=self.max_per_bucket,
                # same generation-size contract as the plain path: without
                # this, rank_max_buckets × max_per_bucket silently exceeds
                # a smaller configured max_results
                max_results=topk_cap,
            )
        else:
            batch = frontier_topk(
                frontier, now,
                max_per_bucket=self.max_per_bucket,
                max_results=topk_cap,
            )
        if self.forecast_sizing:
            # drop the rows a delay-bound host cannot fetch inside the
            # horizon anyway: rn ranks each host's URLs oldest-first, so
            # keeping rn <= forecast keeps exactly the politeness-feasible
            # prefix. The forecast is one host-cardinality aggregate +
            # broadcast join — never a frontier shuffle.
            from ..operators.frontier import fetch_forecast

            delays = self.forecast_delays
            if delays is None:
                delays = self.spark.createDataFrame(
                    [], "key string, crawl_delay_s double"
                )
            fc = fetch_forecast(
                frontier, delays, now,
                horizon_s=self.forecast_horizon_s,
                default_delay_s=self.server_delay,
            )
            batch = batch.join(
                F.broadcast(fc.select("key", "forecast")), "key"
            ).where(F.col("rn") <= F.col("forecast"))
            if cap_after_forecast:
                # same deterministic total orders the topk paths use; the
                # input is already bounded (≤ hosts × max_per_bucket after
                # the forecast filter), so this is a TakeOrderedAndProject
                # over a generation-sized relation, never a frontier sort
                if ranks is not None:
                    batch = batch.orderBy(
                        F.col("key_rank").desc(),
                        F.col("key").asc(),
                        F.col("rn").asc(),
                        F.col("url").asc(),
                    ).limit(self.max_results)
                else:
                    batch = batch.orderBy(
                        F.col("next_fetch_date").asc(), F.col("url").asc()
                    ).limit(self.max_results)
        batch = batch.select("url", "key", "depth").cache()

        cache_hits = 0
        if self.content_cache is not None:
            hits, misses = self.content_cache.split_cached(batch)
            hits = hits.cache()
            cache_hits = hits.count()
            to_fetch = misses.select("url", "key", "depth")
        else:
            hits, to_fetch = None, batch

        fetched = fetch(
            to_fetch,
            self.protocol_factory,
            server_delay=self.server_delay,
            respect_robots=self.respect_robots,
            threads=self.fetch_threads,
        )
        if hits is not None:
            # cached pages re-enter as successful fetches (no network)
            fetched = fetched.unionByName(
                hits.select(
                    "url",
                    "key",
                    F.lit("FETCHED").alias("status"),
                    F.lit(200).alias("status_code"),
                    "content",
                    F.lit(None).cast("string").alias("error_cause"),
                    F.lit(None).cast("string").alias("redirect_to"),
                )
            )
        fetched = fetched.cache()
        if self.content_cache is not None:
            # store fresh fetches for future generations
            fresh = fetched.where(
                (F.col("status") == "FETCHED") & F.col("content").isNotNull()
            ).select("url", "content")
            if hits is not None:
                fresh = fresh.join(hits.select("url"), "url", "left_anti")
            self.content_cache.store(fresh, stored_at=now)

        pages = fetched.where(F.col("status") == "FETCHED").select(
            "url", "content"
        )
        if self.warc_dir:
            from ..sources.warc import write_warc

            # one extra pass over the CACHED fetch output — streams each
            # partition straight to its own gzip member file, no shuffle
            write_warc(
                pages.where(F.col("content").isNotNull()),
                self.warc_dir,
                date=now.replace(" ", "T") + "Z",
                prefix=f"gen-{self.generation:05d}",
            )
        # parse cascade (SiteMapParserBolt → FeedParserBolt → JSoupParserBolt,
        # §3.1 step 4): one Arrow pass sniffs each page and parses it by
        # kind; the branches are projections of its one cache. Sitemap
        # entries/sub-sitemaps and feed entries join the outlink stream;
        # HTML contributes docs + anchors.
        routed = route_and_parse(pages, max_outlinks=self.max_outlinks).cache()
        parsed, sitemaps, feeds = routed_branches(routed)
        docs, outlinks, html_status = split_parse_streams(parsed)
        sitemap_links = (
            sitemaps.select(
                F.col("url").alias("source_url"),
                F.explode(
                    F.concat(
                        F.transform(F.col("entries"), lambda e: e["loc"]),
                        F.col("sub_sitemaps"),
                    )
                ).alias("target_url"),
            )
        )
        feed_links = feeds.select(
            F.col("url").alias("source_url"),
            F.explode(F.col("entries")).alias("e"),
        ).select("source_url", F.col("e.link").alias("target_url"))
        # redirect targets become DISCOVERED outlinks (the reference's
        # redirect-target emission, FetcherBolt.java:706-746 via _redirTo)
        redirect_links = parsed.where(F.col("redirect").isNotNull()).select(
            F.col("url").alias("source_url"),
            F.col("redirect").alias("target_url"),
        ).union(  # protocol-level 3xx Location targets (_redirTo)
            fetched.where(F.col("redirect_to").isNotNull()).select(
                F.col("url").alias("source_url"),
                F.col("redirect_to").alias("target_url"),
            )
        )
        outlinks = (
            outlinks.select("source_url", "target_url")
            .union(sitemap_links)
            .union(feed_links)
            .union(redirect_links)
        ).cache()
        if self.rank_priority:
            # append this generation's observed host→host edges to the
            # side store the next generation's ranking reads — a
            # partial-aggregable distinct per generation, host-cardinality
            # rows, never the raw outlink stream. Since r12 the append is
            # DELTA-ONLY (anti-join against the store): re-observed edges
            # used to duplicate across generations (r11 verdict item 4),
            # silently double-weighting them in the host PageRank and
            # growing the store without bound; now the store is globally
            # distinct and a steady-state crawl appends nothing.
            import os

            from ..functions.urls import host_key_expr

            hp = self._host_edges_path()
            gen_host_edges = (
                outlinks.select(
                    host_key_expr(F.col("source_url")).alias("src"),
                    host_key_expr(F.col("target_url")).alias("dst"),
                )
                .where(
                    (F.col("src") != "") & (F.col("dst") != "")
                    & (F.col("src") != F.col("dst"))
                )
                .distinct()
            )
            if os.path.exists(hp):
                gen_host_edges = gen_host_edges.join(
                    self.spark.read.parquet(hp), ["src", "dst"], "left_anti"
                )
            gen_host_edges = self._ckpt(gen_host_edges)
            if gen_host_edges.count():
                gen_host_edges.write.mode("append").parquet(hp)
        # xml/other pages report FETCHED (pass-through bolts ack to status)
        xml_status = routed.where(F.col("kind") != "html").select(
            "url", F.lit("FETCHED").alias("status")
        )
        parse_status = html_status.select("url", "status").union(xml_status)

        # outlink filtering → DISCOVERED updates; the parent's depth rides
        # along as metadata for depth-aware filters (MaxDepthFilter) and the
        # child's frontier depth is parent+1 (MetadataTransfer.java:124-145)
        src_depth = batch.select(
            F.col("url").alias("source_url"), F.col("depth").alias("src_depth")
        )
        with_md = (
            outlinks.select("source_url", "target_url")
            .join(F.broadcast(src_depth), "source_url", "left")
            .withColumn(
                "metadata",
                F.create_map(
                    F.lit("depth"),
                    F.array(F.coalesce(F.col("src_depth"), F.lit(0)).cast("string")),
                ),
            )
        )
        if self.max_depth is not None:
            from ..functions.filtering import MaxDepthFilter, URLFilterChain

            chain = URLFilterChain(
                [MaxDepthFilter(self.max_depth)] + self.filter_chain.filters
            )
        else:
            chain = self.filter_chain
        filtered = apply_filter_chain(
            with_md.select("source_url", "target_url", "metadata", "src_depth"),
            chain,
        )
        # cached: counted below AND unioned into the merge updates — the
        # outlink union + filter chain is the second-most expensive stage
        # after the fetch itself and must run once, not twice
        discovered = (
            filtered.where(F.col("filtered_url").isNotNull())
            .select(
                F.col("filtered_url").alias("url"),
                (F.coalesce(F.col("src_depth"), F.lit(0)) + 1).alias("depth"),
            )
            .withColumn("status", F.lit("DISCOVERED"))
        )
        if self.bloom_prefilter and self.table.exists():
            from ..operators.dedup import (
                bloom_bitmap_array,
                bloom_bitmap_array_sharded,
                bloom_unseen_broadcast,
                bloom_unseen_broadcast_sharded,
            )

            # keep min depth per url first: the prefilter is exact on
            # MEMBERSHIP, and the merge's own min-depth pick only sees
            # rows that survive, so collapse duplicates before probing
            discovered = discovered.groupBy("url").agg(
                F.min("depth").alias("depth"),
                F.first("status").alias("status"),
            )
            sharded = self.bloom_n_shards > 1
            if (
                self._bloom_bcast is None
                or self.generation - self._bloom_built_gen
                >= self.bloom_refresh_every
            ):
                if self._bloom_bcast is not None:
                    for b in (
                        self._bloom_bcast
                        if isinstance(self._bloom_bcast, list)
                        else [self._bloom_bcast]
                    ):
                        b.destroy()
                if sharded:
                    arrays = bloom_bitmap_array_sharded(
                        frontier.select("url"), "url", self.bloom_n_shards,
                        m_bits=self.bloom_m_bits // self.bloom_n_shards,
                    )
                    self._bloom_bcast = [
                        self.spark.sparkContext.broadcast(a) for a in arrays
                    ]
                else:
                    arr = bloom_bitmap_array(
                        frontier.select("url"), "url",
                        m_bits=self.bloom_m_bits,
                    )
                    self._bloom_bcast = self.spark.sparkContext.broadcast(
                        arr
                    )
                self._bloom_built_gen = self.generation
            if sharded:
                discovered = bloom_unseen_broadcast_sharded(
                    frontier.select("url"),
                    discovered,
                    "url",
                    n_shards=self.bloom_n_shards,
                    m_bits=self.bloom_m_bits // self.bloom_n_shards,
                    bitmap_arrays=self._bloom_bcast,
                    broadcast_residue=True,
                )
            else:
                discovered = bloom_unseen_broadcast(
                    frontier.select("url"),
                    discovered,
                    "url",
                    m_bits=self.bloom_m_bits,
                    bitmap_array=self._bloom_bcast,
                    broadcast_residue=True,
                )
        discovered = discovered.cache()

        # fetch-level statuses for everything that was attempted
        fetch_status = fetched.select(
            "url",
            F.when(F.col("status") == "FETCHED", F.lit(None)).otherwise(
                F.col("status")
            ).alias("status"),
        ).where(F.col("status").isNotNull())
        # parse-level statuses for the fetched ones (FETCHED/REDIRECTION/ERROR)
        null_depth = F.lit(None).cast("int").alias("depth")
        updates = (
            parse_status.select("url", "status", null_depth)
            .union(fetch_status.select("url", "status", null_depth))
            .union(discovered.select("url", "status", "depth"))
        )
        if self.adaptive:
            # content signature for fetched pages drives interval adaptation
            sigs = fetched.where(F.col("status") == "FETCHED").select(
                "url", F.md5(F.col("content")).alias("signature")
            )
            updates = updates.join(sigs, "url", "left")

        # Materialize the two Python stages exactly once, in dependency
        # order, so no cold cache is raced by two branches of the same
        # job: (1) the politeness fetch, (2) the one-pass route-and-parse
        # (docs.count() fills its cache), then (3) ONE merge action that
        # pulls the remaining JVM-side branches (sitemap/feed/redirect
        # links, the outlink union, the compiled filter chain) through
        # their caches while writing the next frontier snapshot. A filter
        # without a column form adds a third Python stage inside (3).
        # The per-stage counters afterwards are cache reads, not plan
        # re-executions (round 3 ran 5 counting actions BEFORE the merge
        # and re-executed the top-k, outlink and filter plans up to 3×
        # each — the 537 p/s regression).
        fetched_ok = pages.count()
        n_docs = docs.count()
        n_deleted = 0
        n_near_dups = 0
        if self.index is not None:
            docs_to_index = docs
            resolve_cache: list = []
            if self.canonicalize_redirects:
                import os

                from ..operators.linkrank import (
                    apply_resolved_map,
                    incremental_redirect_resolve,
                )

                # fold THIS generation's hops into the resolved map
                # first, so a chain whose last hop was just observed
                # already collapses for the docs indexed below (the
                # reference sees the same ordering: _redirTo lands in
                # status before the target's eventual parse reaches the
                # indexer). The map advances INCREMENTALLY — doubling
                # over the delta, not the accumulated store — and the
                # first-wins edge store appends only genuinely-new srcs
                # (prior.url IS the store's src set, so the anti-join
                # reuses the map read).
                gen_edges = (
                    redirect_links.select(
                        F.col("source_url").alias("src"),
                        F.col("target_url").alias("dst"),
                    )
                    .where(F.col("src") != F.col("dst"))
                    .groupBy("src")
                    .agg(F.min("dst").alias("dst"))
                )
                gen_edges = self._ckpt(gen_edges)
                # edge store FIRST, map second — the crash-retry order:
                # a retried generation re-observes the same hops, so a
                # store-anti-joined append is idempotent, and a map that
                # missed its write self-heals by folding the re-observed
                # delta next attempt. (Map-first would strand edges out
                # of the store forever: the anti-join would see them as
                # already known.)
                rp = self._redirect_edges_path()
                fresh_edges = gen_edges
                if os.path.exists(rp):
                    fresh_edges = fresh_edges.join(
                        self.spark.read.parquet(rp).select("src"),
                        "src",
                        "left_anti",
                    )
                fresh_edges = self._ckpt(fresh_edges)
                if fresh_edges.count():
                    fresh_edges.write.mode("append").parquet(rp)
                # a generation that observed NO hops leaves the map
                # untouched (the common steady-state case); observed
                # hops — even pure re-observations — advance it, which
                # keeps the crash-retry self-heal above sound
                if gen_edges.count():
                    prior = self._read_resolved_map()
                    delta_h: list = []
                    new_map = incremental_redirect_resolve(
                        prior, gen_edges, max_hops=64,
                        cache_handle=resolve_cache,
                        delta_handle=delta_h,
                    )
                    self._write_resolved_map(
                        new_map, changed=delta_h[0].select("url")
                    )
                    for cached in resolve_cache:
                        cached.unpersist(False)
                    resolve_cache = []
                if os.path.exists(rp):
                    from pyspark.sql import Window

                    docs_to_index = apply_resolved_map(
                        docs, self._read_resolved_map()
                    )
                    # within a batch, the doc actually FETCHED at the
                    # terminal url (hops 0) beats a redirected stub
                    # re-keyed onto it (a meta-refresh page parses as a
                    # thin doc; the reference shunts those away from the
                    # indexer entirely — RedirectionBolt.java:54 — we
                    # keep them only when the terminal itself has no doc)
                    w = Window.partitionBy("url").orderBy(
                        "redirect_hops",
                        F.md5(F.coalesce(F.col("text"), F.lit(""))),
                    )
                    docs_to_index = (
                        docs_to_index.withColumn(
                            "__rn", F.row_number().over(w)
                        )
                        .where(F.col("__rn") == 1)
                        .drop("__rn")
                    )
            if self.near_dedup:
                docs_to_index, n_near_dups = self._near_dedup_filter(
                    docs_to_index
                )
            self.index.upsert(docs_to_index)
            for cached in resolve_cache:
                cached.unpersist(False)
        if self.index is not None:
            # frontier still holds the PREVIOUS state here; compare after
            # the merge below to find this generation's new ERRORs
            prev_frontier = frontier
        merged = self._merge_and_write(
            updates, now, batch_id=f"gen-{self.generation}"
        )
        if self.index is not None:
            from ..operators.status_merge import deletion_stream

            deletions = deletion_stream(merged, prev_frontier)
            n_deleted = deletions.count()
            if n_deleted:
                self.index.delete(deletions)
        counts = {
            "generation": self.generation,
            "batch": batch.count(),
            "fetched_ok": fetched_ok,
            "docs": n_docs,
            "outlinks": outlinks.count(),
            "discovered": discovered.count(),
            "cache_hits": cache_hits,
            "index_deleted": n_deleted,
            "near_dups_dropped": n_near_dups,
        }
        if (
            self.compact_every > 0
            and self.generation % self.compact_every == 0
        ):
            if self.bucket_partitioned and self.table.exists():
                # lakehouse maintenance cadence: bound the table's file
                # count after the generation's merge has committed
                # (content is untouched; the exactly-once mark carries
                # forward)
                self.table.compact(
                    self.spark,
                    max_files_per_bucket=self.compact_max_files_per_bucket,
                    zorder=self.compact_zorder,
                    curve=self.compact_curve,
                )
            # the host/redirect edge side stores ride the same cadence:
            # logically distinct already, but delta appends leave one
            # file batch per new-edge generation
            self._compact_edge_stores()
            # a log-structured index / content cache folds its delta
            # segments back into one base on the same cadence
            # (per-generation commits are O(batch) appends; this bounds
            # the read-side merge width)
            for side in (self.index, self.content_cache):
                if side is not None and getattr(
                    side, "log_structured", False
                ):
                    side.compact(self.spark)
        if self.metrics_path:
            # per-generation metrics table (StatusMetricsBolt cadence)
            self.spark.createDataFrame(
                [tuple(counts.values())], list(counts.keys())
            ).write.mode("append").parquet(self.metrics_path)
            # plus the per-status frontier distribution (the exact metric
            # StatusMetricsBolt exports each period)
            from ..operators.frontier import status_counts as _status_counts

            _status_counts(merged).withColumn(
                "generation", F.lit(self.generation)
            ).write.mode("append").parquet(self.metrics_path + "_status")
        # release every per-generation cache — leaked cached RDDs accumulate
        # block-manager memory across generations and degrade later shuffles
        for df in (batch, discovered, outlinks, routed, fetched):
            df.unpersist()
        if hits is not None:
            hits.unpersist()
        # ...and every tracked checkpoint this generation created (side
        # stores, near-dedup signatures, resolve delta): by here all of
        # them have been written or counted
        self._release_gen_ckpts()
        return counts

    def run(self, generations: int) -> list[dict]:
        return [self.run_generation() for _ in range(generations)]
