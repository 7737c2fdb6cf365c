"""The Spark crawl-cycle loop — the generalized change-scanning engine.

One ``run_cycle`` = one ``Crawler.run_once`` of the reference
(container_crawler/__init__.py ≈L405-430: enumerate → diff vs last_row →
shard → dispatch → checkpoint). The cycle is the crawl core — ingest →
dedup → robots → budget → fetch → commit — a stage-for-stage mirror of
refspec.py's normative semantics, expressed as one declarative DataFrame
graph per cycle so Catalyst gets the whole plan (pushdown, pruning,
broadcast selection, AQE skew splitting). Stages that only add output
(corpus enrichment, near-dup closure, ANN index, host graph) are handlers
(handlers.py), built once from the config and called before the commit;
their tables go into the cycle's one commit, and the crawl trace never
depends on them.

Scale notes (10^10-URL frontier, 1000 executors):
- the `html BINARY` column is touched ONLY in the fetch join + extraction
  stage and dropped immediately after; no wide operator ever shuffles page
  bodies.
- url_seen dedup is a left-anti join on the 64-bit key, prefiltered by
  per-bucket cuckoo filters (membership.py) so the exact join sees only
  candidates that *might* be duplicates; membership stays exactly
  reproducible because the filter can only short-circuit definite-negatives.
- host skew is handled in one place, the two-phase politeness window
  (politeness.rank_by_budget, cfg.politeness_salt): phase 1 keeps at most
  budget rows per (host, pmod(url_hash, salt)), so the exact per-host
  window never sees more than salt * budget rows of one hot host. The
  queue after it is bounded by the budgets, not by the frontier.
- the priority queue is a repartition on host_bucket whose fetch_seq
  window sort is the queue order — shuffle once, sort locally.
- pending carry + url_seen deltas are written partitioned by host_bucket:
  next cycle's joins read co-partitioned data and partition-prune.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from datetime import timedelta

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import schemas
from .canon import canon_host_udf
from .config import EngineConfig
from .extract import handle_page_udf
from .fixtures import T0
from .handlers import CycleContext, corpus_handler, handlers_for
from .politeness import apply_robots, budgets_df, rank_by_budget
from .tableio import TableIO

def _bucket(col, n_buckets: int):
    return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")


def _canonicalized(df: DataFrame, n_buckets: int, *cols) -> DataFrame:
    """``url`` -> (url_canon, host, *cols, url_hash, host_bucket) with ONE
    evaluation of the canonicalization UDF per row. A URL that does not
    canonicalize (unparseable href, non-fetchable page URL: the canon
    fetchability gate) maps to NULL and its row is dropped, so no
    NULL-keyed row survives (refspec skips the same rows)."""
    ch = canon_host_udf()
    return (
        df.withColumn("_ch", ch("url"))
        .select(
            F.col("_ch.url_canon").alias("url_canon"),
            F.col("_ch.host").alias("host"),
            *cols,
        )
        .where(F.col("url_canon").isNotNull())
        .withColumn("url_hash", F.xxhash64("url_canon"))
        .withColumn("host_bucket", _bucket(F.col("host"), n_buckets))
    )


def canon_pages(
    spark: SparkSession, pages_path: str, cfg: EngineConfig
) -> DataFrame:
    """The corpus ``prepare_pages`` writes: canonicalized, keyed, duplicate
    canonical spellings dropped (keep min (warc_ts, url))."""
    pages = spark.read.parquet(pages_path)
    pc = _canonicalized(
        pages, cfg.n_buckets, "url", "warc_ts", "html", "text", "lang"
    )
    w = Window.partitionBy("url_canon").orderBy("warc_ts", "url")
    return (
        pc.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn", "url")
        .select(*schemas.PAGES_CANON.fieldNames())
    )


def prepare_pages(
    spark: SparkSession, pages_path: str, io: TableIO, cfg: EngineConfig
) -> str:
    """One-time corpus prep: ``canon_pages``, written BUCKETED by url_hash.

    At 100 TB this is the single full shuffle of the dataset. Because the
    output is a Spark-bucketed table on the fetch-join key, every later
    cycle's fetch join shuffles ONLY the slim scheduled side — the page
    bodies (html) never cross a shuffle again."""
    import uuid as _uuid

    pc = canon_pages(spark, pages_path, cfg)
    loc = os.path.join(io.root, "pages_canon")
    # write to a tmp location and rename into place so a crash mid-prepare
    # never leaves a partial pages_canon that a later exists-check (bench
    # ensure_corpus, golden build_engine) would trust as complete
    tmp_loc = loc + ".tmp-" + _uuid.uuid4().hex[:8]
    writer_name = f"pages_canon_writer_{_uuid.uuid4().hex[:8]}"
    (
        pc.write.mode("overwrite")
        .bucketBy(cfg.n_buckets, "url_hash")
        .sortBy("url_hash")
        .option("path", tmp_loc)
        .saveAsTable(writer_name)
    )
    # keep the files (external location), drop the session-local entry —
    # readers re-register via register_pages_table
    spark.sql(f"DROP TABLE {writer_name}")
    if os.path.exists(loc):
        import shutil as _shutil

        _shutil.rmtree(loc)
    os.rename(tmp_loc, loc)
    return loc


def register_pages_table(spark: SparkSession, loc: str, n_buckets: int) -> str:
    """Register the bucketed pages_canon files as an external table in this
    session's catalog (the in-memory catalog is session-scoped)."""
    import hashlib

    # a relative LOCATION would silently resolve under spark-warehouse/
    loc = os.path.abspath(loc)
    name = "pages_canon_" + hashlib.md5(loc.encode()).hexdigest()[:10]
    if not spark.catalog.tableExists(name):
        cols = ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in schemas.PAGES_CANON.fields
        )
        spark.sql(
            f"CREATE TABLE {name} ({cols}) USING PARQUET "
            f"CLUSTERED BY (url_hash) SORTED BY (url_hash) "
            f"INTO {n_buckets} BUCKETS LOCATION '{loc}'"
        )
    return name


def _lineage_wide(
    cand: DataFrame,
    ingested: DataFrame,
    with_robots: DataFrame,
    ranked: DataFrame,
    fetched: DataFrame,
    cycle: int,
) -> DataFrame:
    """Per-bucket lineage in ONE aggregation per source frame (5 scans), each
    producing several metrics via conditional sums — replaces the earlier
    7-scan long-format union + pivot. The frames are the checkpointed
    pipeline stages, so computing lineage doubles as the pass that runs
    every checkpoint's last stage before the concurrent commit writes (under
    AQE, ``localCheckpoint`` itself already ran the stages below it)."""
    one = F.count(F.lit(1))
    m_cand = cand.groupBy("host_bucket").agg(one.alias("cand_total"))
    m_disc = ingested.groupBy("host_bucket").agg(one.alias("discovered"))
    m_scan = with_robots.groupBy("host_bucket").agg(
        one.alias("rows_scanned"),
        F.sum(F.col("blocked").cast("long")).alias("robots_skipped"),
    )
    m_enq = ranked.groupBy("host_bucket").agg(
        F.sum((F.col("rk") <= F.col("budget")).cast("long")).alias("enqueued")
    )
    m_fetch = fetched.groupBy("host_bucket").agg(
        F.sum((~F.col("ok")).cast("long")).alias("errors"),
        F.sum(F.col("ok").cast("long")).alias("fetched_ok"),
    )
    wide = m_scan
    for m in (m_cand, m_disc, m_enq, m_fetch):
        wide = wide.join(m, "host_bucket", "full_outer")
    return (
        wide.na.fill(0, [c for c in wide.columns if c != "host_bucket"])
        .withColumn("cycle", F.lit(cycle))
        .withColumn("deduped", F.col("cand_total") - F.col("discovered"))
        .select(*schemas.LINEAGE.fieldNames())
    )


def _release(df: DataFrame) -> None:
    """Free a frame ``run_cycle`` tracked: a persisted frame drops its
    cache; a local checkpoint unpersists the RDD behind its ``LogicalRDD``
    leaf, which ``df.unpersist()`` leaves in place."""
    df.unpersist()
    plan = df._jdf.queryExecution().logical()
    if plan.getClass().getSimpleName() == "LogicalRDD":
        plan.rdd().unpersist(False)


@dataclass
class CycleResult:
    cycle: int
    scheduled_rows: int
    manifest: dict
    lineage: list | None = None
    # wall seconds of each table write (TableIO.commit), kept out of the
    # manifest so the committed bytes depend only on the inputs
    write_secs: dict | None = None


class FrontierScheduler:
    """Drives cycles against a TableIO root. Stateless between calls —
    everything needed to continue lives in committed snapshots (resume =
    ``latest_cycle() + 1``), mirroring the reference's crash-safe
    write-on-success checkpoint discipline."""

    def __init__(
        self,
        spark: SparkSession,
        io: TableIO,
        cfg: EngineConfig,
        pages_canon_path: str,
        robots: DataFrame,
        seeds: DataFrame,
    ):
        self.spark = spark
        self.io = io
        self.cfg = cfg
        self.pages_canon_path = pages_canon_path
        self.robots = robots
        self.seeds = seeds
        self.budgets = budgets_df(spark, cfg.budgets)
        # the robots dim is host-cardinality: broadcast-hint it only under
        # the host ceiling (one count job, paid once per scheduler — at
        # ~10^8 north-star hosts the rule-array dim is far past broadcast
        # size and AQE must choose the join strategy instead)
        from .graph import is_small_dim

        self._robots_small = is_small_dim(robots)
        self._rank_dim_cache = None  # (build cycle, dim): host_rank_priority
        self._handlers = handlers_for(cfg)

    # -- inputs per cycle ---------------------------------------------------

    def _pages_canon(self) -> DataFrame:
        name = register_pages_table(
            self.spark, self.pages_canon_path, self.cfg.n_buckets
        )
        return self.spark.table(name)

    def _discoveries(self, cycle: int) -> DataFrame:
        if cycle == 1:
            return self.seeds.select(
                "url",
                F.col("priority").cast("int").alias("priority"),
                F.lit(T0).cast("timestamp").alias("discovered_ts"),
                F.lit(None).cast("string").alias("src_host"),
            )
        return self.io.read_cycle(
            self.spark, "discoveries", cycle - 1, schemas.DISCOVERIES
        )

    def _candidates(self, cycle: int) -> DataFrame:
        """The cycle's discoveries, canonicalized and keyed. Candidates are
        spread across all cores BEFORE the pandas UDF — a single-file seed
        list would otherwise pin canonicalization to a couple of input
        splits (the shuffle is skipped when the input is already split
        finely enough); the UDF runs once per row, after it."""
        par = self.spark.sparkContext.defaultParallelism
        discoveries = self._discoveries(cycle)
        if discoveries.rdd.getNumPartitions() < par:
            discoveries = discoveries.repartition(par)
        return _canonicalized(
            discoveries,
            self.cfg.n_buckets,
            F.col("priority").cast("int").alias("priority"),
            "discovered_ts",
            "src_host",
        )

    def _latest_host_rank(self, cycle: int) -> tuple[int, DataFrame] | None:
        """Newest committed host_rank table at a cycle <= cycle-1 (from the
        store's snapshot — no data reads until the caller joins it). Returns
        (build_cycle, df) so consumers can cache per-build work — the
        broadcast-gate count in particular runs once per rank BUILD, not
        once per scheduling cycle."""
        c = self.io.snapshot(cycle - 1).table_cycle("host_rank")
        if c is None:
            return None
        return c, self.io.read_cycle(
            self.spark, "host_rank", c, schemas.HOST_RANK
        )

    # -- the cycle ---------------------------------------------------------

    def run_cycle(self, cycle: int, build_filters: bool = True) -> CycleResult:
        """One crawl cycle. The pipeline frames that several outputs read
        are local checkpoints (``localCheckpoint(eager=False)``): every
        later plan starts from a short ``LogicalRDD`` leaf instead of the
        whole cycle's plan and lineage, so each concurrent commit write
        plans, code-generates and ships a short plan. Each such frame is
        registered on ``tracked`` and released here in a finally, together
        with the frames the handlers register there (``graph``'s rank
        persists and closure checkpoints included): an exception
        mid-cycle must not leak blocks into the Spark session for its
        remaining lifetime (a long-running driver loop retries cycles —
        leaked blocks would accumulate across retries). ``df.unpersist()``
        does not free a local checkpoint, so ``_release`` also unpersists
        the checkpoint's RDD.

        Trade-off: a checkpoint block lost mid-cycle (an executor dies)
        fails the cycle instead of being recomputed from lineage. That is
        safe: a failed cycle commits nothing (the manifest barrier), and a
        resume re-runs it from the last committed cycle.

        A committed cycle is refused before anything is read or written:
        its commit would replace the cycle's table dirs one by one, so a
        re-run that failed part-way would leave the old manifest naming a
        deleted dir. ``run`` (without ``start_cycle``) and the streaming
        driver start at ``latest_cycle() + 1``."""
        if self.io.manifest(cycle) is not None:
            raise ValueError(
                f"cycle {cycle} is already committed under {self.io.root!r}"
            )
        tracked: list = []
        try:
            return self._run_cycle(cycle, build_filters, tracked)
        finally:
            for df in tracked:
                _release(df)

    def _run_cycle(
        self, cycle: int, build_filters: bool, tracked: list
    ) -> CycleResult:
        spark, io, cfg = self.spark, self.io, self.cfg

        def _p(df):
            """lazy local checkpoint + register for run_cycle's release"""
            cp = df.localCheckpoint(eager=False)
            tracked.append(cp)
            return cp

        fresh_start = io.manifest(cycle - 1) is None  # nothing committed yet
        # does this cycle consolidate the accumulating tables? (the core's
        # own and, through the cycle context, the handlers')
        compact = cfg.compact_every > 0 and cycle % cfg.compact_every == 0
        pending_prev = io.read_cycle(
            spark, "pending", cycle - 1, schemas.PENDING
        )
        # recrawl TTL (periodic change-scanning, refspec §1): a url_seen
        # row blocks re-enqueue only while first_seen_cycle > cycle - ttl.
        # A recrawled URL writes a fresh delta row at its new cycle, so the
        # latest admission always sits inside the window; expired rows stay
        # in the table (compaction/filters need full history) but stop
        # blocking here. URLs still waiting in the frontier are blocked by
        # the pending anti-join below instead (url_seen marks ENQUEUE).
        # Scan path: only the last ttl cycles' deltas are read (the full
        # seen history never has to be scanned per cycle); the residual
        # where() handles a consolidated base that folds older rows in.
        ttl = cfg.recrawl_after_cycles
        if ttl is not None:
            lo = max(1, cycle - ttl + 1)
            seen = io.read_appended(
                spark, "url_seen", cycle - 1, schemas.URL_SEEN, since=lo
            ).where(F.col("first_seen_cycle") >= lo)
        else:
            seen = io.read_appended(
                spark, "url_seen", cycle - 1, schemas.URL_SEEN
            )

        # ---- 1. ingest: canonicalize -> key -> dedup (batch + seen) -------
        cand = self._candidates(cycle)
        if cfg.host_rank_priority:
            # authority loop: boost discovered candidates by the LATEST
            # committed host_rank build (host-cardinality dim — broadcast
            # below a host-count threshold, AQE decides above it; never a
            # corpus shuffle). Seeds (src_host null) are never boosted AND
            # never clamped — the min(100, ·) cap applies only to non-seed
            # candidates, and it applies from cycle 1 even before the first
            # rank build (boost 0), exactly like the refspec mirror (a
            # seed priority > 100 must survive in both).
            from .graph import PR_SCALE, hint_small_dim

            latest = self._latest_host_rank(cycle)
            if latest is not None:
                build_c, rank_df = latest
                # the limit+count broadcast gate is a Spark job; cache the
                # hinted dim keyed on the BUILD cycle so cycles between
                # rank builds reuse it instead of re-counting the same
                # committed parquet every cycle
                cached = self._rank_dim_cache
                if cached is not None and cached[0] == build_c:
                    rdim = cached[1]
                else:
                    rdim = hint_small_dim(
                        rank_df.select(F.col("host").alias("_rh"), "rnk")
                    )
                    self._rank_dim_cache = (build_c, rdim)
                cand = cand.join(
                    rdim, cand.host == rdim._rh, "left"
                )
                boost = F.least(
                    F.lit(2), F.expr(f"coalesce(rnk, 0) div {PR_SCALE}")
                )
            else:
                boost = F.lit(0)
            cand = cand.withColumn(
                "priority",
                F.when(
                    F.col("src_host").isNotNull(),
                    F.least(F.lit(100), F.col("priority") + boost),
                )
                .otherwise(F.col("priority"))
                .cast("int"),
            )
            if latest is not None:
                cand = cand.drop("_rh", "rnk")
        cand = _p(cand)

        # within-batch dedup: keep max priority per key (all other columns
        # are functionally determined by the key within one batch)
        def _dedup_g(df):
            return df.groupBy("url_hash").agg(
                F.min("url_canon").alias("url_canon"),
                F.min("host").alias("host"),
                F.min("host_bucket").alias("host_bucket"),
                F.max("priority").alias("priority"),
                F.min("discovered_ts").alias("discovered_ts"),
            )

        # seen dedup: cuckoo prefilter (definite-negatives bypass the exact
        # anti-join; possibles are confirmed exactly — membership.py).
        # The probe runs BEFORE the dedup agg: mapInPandas does not report
        # its child's partitioning, so the old agg -> probe -> anti-join
        # order re-shuffled the full candidate set a second time for the
        # join. Probing raw candidates first lets each branch's aggregation
        # exchange double as the anti-join's distribution — every candidate
        # row now crosses exactly ONE url_hash exchange. Exactness: all
        # rows of one url_hash share a filter classification (same hash,
        # same filter answer), so per-branch aggregation equals aggregating
        # before the split, row for row.
        if fresh_start:
            # provably empty seen-set: every grouped candidate is new
            new_keys = _dedup_g(cand)
        else:
            tested_frame = None
            if cfg.use_seen_filter:
                from .membership import split_by_filter

                definite_new, maybe_seen, tested_frame = split_by_filter(
                    cand, io, cycle - 1, cfg
                )
            if tested_frame is not None:  # checkpointed in split_by_filter
                tracked.append(tested_frame)
                confirmed_new = _dedup_g(maybe_seen).join(
                    seen, "url_hash", "left_anti"
                )
                new_keys = _dedup_g(definite_new).unionByName(confirmed_new)
            else:
                # filter off, or no filter rows committed yet: a single
                # agg + exact anti-join
                new_keys = _dedup_g(cand).join(seen, "url_hash", "left_anti")

        if ttl is not None and not fresh_start:
            # TTL mode: an expired seen row must not re-admit a URL that is
            # still in the frontier — anti-join on the pending keys (keys
            # only; pending is partitioned by host_bucket and this joins on
            # url_hash, the same key the dedup agg just shuffled on)
            new_keys = new_keys.join(
                pending_prev.select("url_hash"), "url_hash", "left_anti"
            )

        ingested = new_keys.select(
            "url_canon",
            "url_hash",
            "host",
            "host_bucket",
            "priority",
            F.col("discovered_ts").alias("crawl_ts"),
            "discovered_ts",
            F.lit(0).cast("int").alias("retries"),
        )
        # reused by pending union AND url_seen delta
        ingested = _p(ingested)

        pending_all = (
            ingested if fresh_start else pending_prev.unionByName(ingested)
        )
        # not checkpointed: its ONLY consumer is the with_robots frame,
        # which is itself checkpointed below — a second layer here would
        # just pay an extra full-frontier block write+read per cycle

        # ---- 2. robots (SkipContainer analog) -----------------------------
        bucketed_window = cfg.politeness_salt <= 1
        with_robots = apply_robots(
            pending_all, self.robots, rfc=cfg.robots_rfc,
            small=self._robots_small,
        )
        # checkpoint: three consumers (the ranked window build, the skipped
        # slice of the resolved write, and lineage's m_scan agg) — without
        # it each re-ran the robots rule join + path regex over the full
        # frontier (one pass per consumer per cycle)
        with_robots = _p(with_robots)
        skipped = with_robots.where("blocked")
        eligible = with_robots.where("NOT blocked").drop("blocked")

        # ---- 3. politeness budget: per-host window rank --------------------
        # adaptive backoff: hosts whose previous cycle failed at >= pct%
        # get a halved budget this cycle (floor 1). The backoff dim is
        # bounded by the previous cycle's scheduled host count; inside
        # rank_by_budget it rides the same broadcast as the static budgets.
        budgets_dim = self.budgets
        if cfg.error_backoff_pct is not None and not fresh_start:
            hs = io.read_cycle(
                spark, "host_stats", cycle - 1, schemas.HOST_STATS
            )
            backoff_hosts = hs.where(
                (F.col("scheduled_n") > 0)
                & (
                    F.col("errors_n") * 100
                    >= F.lit(cfg.error_backoff_pct) * F.col("scheduled_n")
                )
            ).select("host")
            halved = backoff_hosts.join(
                self.budgets, "host", "left"
            ).withColumn(
                "budget",
                F.greatest(
                    F.lit(1),
                    F.floor(
                        F.coalesce("budget", F.lit(cfg.default_budget)) / 2
                    ),
                ).cast("int"),
            )
            budgets_dim = self.budgets.join(
                backoff_hosts, "host", "left_anti"
            ).unionByName(halved)
        # Single-window mode: repartition by host_bucket INSIDE the ranked
        # plan and window over (host_bucket, host) — host_bucket = f(host),
        # so the per-host rank is byte-identical, but the window's
        # ClusteredDistribution is satisfied by the in-plan partitioning
        # (subset rule) and no second exchange is planned. The repartition
        # must live in THIS plan, not below a checkpoint: a checkpointed
        # subplan runs under AQE (AdaptiveSparkPlan), and the LogicalRDD
        # leaf that replaces it reports UnknownPartitioning to consumers —
        # partitioning reuse never crosses a checkpoint boundary here. The
        # two-phase window (politeness_salt > 1) deliberately SPLITS a host
        # across tasks and keeps its own (host, salt) exchange.
        if bucketed_window:
            eligible = eligible.repartition(cfg.n_buckets, "host_bucket")
        ranked = rank_by_budget(
            eligible, budgets_dim, cfg.default_budget,
            salt=cfg.politeness_salt, bucketed=bucketed_window,
        )
        ranked = _p(ranked)
        # keep rk: it is the per-host crawl-order rank, reused below for
        # crawl-delay pacing (planned_fetch_ts)
        scheduled = ranked.where(F.col("rk") <= F.col("budget")).drop("budget")
        deferred = ranked.where(F.col("rk") > F.col("budget")).drop(
            "rk", "budget"
        )

        # ---- 4. fetch: co-partitioned join against pages, extract, links ---
        # join on the 64-bit key alone so the bucketed pages scan lines up
        # with the join distribution (pages side: NO exchange, html never
        # shuffles); the canonical-url equality is re-checked post-join
        # (64-bit collisions degrade to a fetch miss, never a wrong page)
        pages = self._pages_canon().select(
            "url_hash",
            F.col("url_canon").alias("page_canon"),
            "html",
            "text",
        )
        fetched = (
            scheduled.join(pages, "url_hash", "left")
            .withColumn("_h", handle_page_udf()(F.col("html")))
            .withColumn(
                # eqNullSafe on the extraction check: a NULL stored text
                # (PAGES_CANON allows it) made `ok` SQL-NULL, and a
                # NULL-ok row fell through BOTH where("ok") and
                # where("NOT ok") — the URL vanished from done AND miss
                # (no retry, no resolved row, already marked seen). A
                # NULL text now degrades to a fetch miss like any other
                # extraction mismatch (refspec asserts the invariant
                # instead — it never sees a NULL text without crashing)
                "ok",
                F.col("html").isNotNull()
                & (F.col("page_canon") == F.col("url_canon"))
                & F.col("_h.extracted").eqNullSafe(F.col("text")),
            )
            .withColumn("links", F.col("_h.links"))
        )
        if corpus_handler in self._handlers:
            # keep the extracted text ONLY for the corpus handler
            fetched = fetched.withColumn("_text", F.col("_h.extracted"))
        # drop page bodies IMMEDIATELY — nothing downstream shuffles html
        fetched = fetched.drop("html", "text", "page_canon", "_h")
        fetched = _p(fetched)

        done = fetched.where("ok")
        miss = fetched.where("NOT ok")

        retriable = (
            miss.where(F.col("retries") < cfg.retry_limit)
            .select(*schemas.PENDING.fieldNames())
            .withColumn("retries", F.col("retries") + 1)
        )

        next_dts = T0 + timedelta(hours=cycle)
        discoveries_next = done.select(
            F.explode("links").alias("url"),
            F.greatest(
                F.col("priority") - cfg.link_priority_decay, F.lit(0)
            ).cast("int").alias("priority"),
            F.lit(next_dts).cast("timestamp").alias("discovered_ts"),
            F.col("host").alias("src_host"),
        )

        # ---- 5. outputs -----------------------------------------------------
        pending_next = deferred.select(
            *schemas.PENDING.fieldNames()
        ).unionByName(retriable)

        # fetch_seq: the total crawl order within a bucket. One window task
        # sorts a bucket's SCHEDULED slice — bounded by sum(budget(host))
        # over the bucket's hosts, NOT by the frontier (the politeness
        # budget caps it; the unbounded-pending skew case is already
        # two-phased in rank_by_budget). If a deployment's budgets make a
        # bucket's slice exceed task memory, raise n_buckets — the bound
        # scales as 1/n_buckets while the politeness semantics are
        # per-host and unaffected.
        wb = Window.partitionBy("host_bucket").orderBy(
            F.desc("priority"), F.asc("crawl_ts"), F.asc("url_hash")
        )
        # crawl-delay pacing: the host's k-th scheduled URL (rk, the
        # politeness-window rank) is planned at cycle_base + (rk-1) *
        # robots.crawl_delay_ms — broadcast dim join, no extra shuffle
        base_ts = (T0 + timedelta(hours=cycle - 1)).isoformat(sep=" ")
        delays = self.robots.select("host", "crawl_delay_ms")
        if self._robots_small:
            delays = F.broadcast(delays)

        # the priority queue, physically: one repartition by host_bucket +
        # the window's own sort. The explicit repartition stays: scheduled
        # reads the RANKED CHECKPOINT, whose leaf reports UnknownPartitioning
        # (see the ranked comment above) — without it EnsureRequirements
        # would insert the same exchange at shuffle.partitions width,
        # under-parallelizing the queue sort + partitioned write relative to
        # n_buckets tasks. The window reuses that hashpartitioning (its
        # ClusteredDistribution(host_bucket) is satisfied), so its sort is
        # the only one, and it is exactly the queue order: rows reach the
        # writer in (host_bucket, priority DESC, crawl_ts, url_hash) order.
        scheduled_out = (
            scheduled.withColumn("cycle", F.lit(cycle))
            .repartition(cfg.n_buckets, "host_bucket")
            .withColumn("fetch_seq", F.row_number().over(wb))
            .join(delays, "host", "left")
            .withColumn(
                "planned_fetch_ts",
                F.expr(
                    "timestampadd(MILLISECOND, CAST((rk - 1) * "
                    "coalesce(crawl_delay_ms, 0) AS BIGINT), "
                    f"TIMESTAMP'{base_ts}')"
                ),
            )
            .drop("crawl_delay_ms")
            .select(*schemas.SCHEDULED.fieldNames())
        )

        url_seen_delta = ingested.select(
            "url_hash",
            "host_bucket",
            F.lit(cycle).alias("first_seen_cycle"),
        )

        # done + errored in ONE pass over the fetched checkpoint (same row
        # set as the two separate branch scans: ok -> done, terminal miss ->
        # error; retriable rows are excluded by the where), plus the
        # skipped slice of the checkpointed with_robots frame
        resolved = (
            fetched.where(
                F.col("ok") | (F.col("retries") >= cfg.retry_limit)
            )
            .select(
                F.lit(cycle).alias("cycle"), "url_hash", "host_bucket",
                F.when(F.col("ok"), F.lit("done"))
                .otherwise(F.lit("error"))
                .alias("state"),
            )
            .unionByName(
                skipped.select(
                    F.lit(cycle).alias("cycle"), "url_hash", "host_bucket",
                    F.lit("skipped").alias("state"),
                )
            )
        )

        lineage = _lineage_wide(
            cand, ingested, with_robots, ranked, fetched, cycle
        )

        # co-locate rows with their partition dir before the partitioned
        # writes — otherwise every upstream task writes into every
        # host_bucket dir (tiny-file explosion: tasks × buckets files)
        tables = {
            "pending": (
                pending_next.repartition(cfg.n_buckets, "host_bucket"),
                ["host_bucket"],
            ),
            "url_seen": (
                url_seen_delta.repartition(cfg.n_buckets, "host_bucket"),
                ["host_bucket"],
            ),
            "scheduled": (scheduled_out, ["host_bucket"]),
            "discoveries": (discoveries_next, None),
            "lineage": (lineage.coalesce(1), None),
            "resolved": (resolved.coalesce(8), None),
        }

        if cfg.error_backoff_pct is not None:
            # per-host outcomes of THIS cycle's fetch wave — tiny dim read
            # back next cycle to halve failing hosts' budgets
            tables["host_stats"] = (
                fetched.groupBy("host")
                .agg(
                    F.count(F.lit(1)).alias("scheduled_n"),
                    F.sum((~F.col("ok")).cast("long")).alias("errors_n"),
                )
                .coalesce(1),
                None,
            )

        # output-only handlers (handlers.py): each adds tables, meta and
        # warm names to this cycle's single commit; none changes the trace
        ctx = CycleContext(
            spark=spark, io=io, cfg=cfg, cycle=cycle, compact=compact,
            done=done, cand=cand, checkpoint=_p, tracked=tracked,
        )
        meta: dict = {}
        warm = ["lineage"]
        for handler in self._handlers:
            h_tables, h_meta, h_warm = handler(ctx)
            tables.update(h_tables)
            meta.update(h_meta)
            warm += h_warm
        if compact:
            full_seen = io.read_appended(
                spark, "url_seen", cycle - 1, schemas.URL_SEEN
            ).unionByName(url_seen_delta)
            # same tiny-file rule as every partitioned write above: the
            # delta side arrives hash-partitioned by url_hash (dedup agg),
            # so without the repartition the base write emits up to
            # tasks x n_buckets files — and this base is re-read by every
            # later cycle's seen scan
            tables["url_seen_base"] = (
                full_seen.repartition(cfg.n_buckets, "host_bucket"),
                ["host_bucket"],
            )
            # R16 analog (status pruning): consolidate resolved history the
            # same way, so the append-table read path never unions an
            # unbounded number of per-cycle delta dirs at 10^10-URL scale
            full_resolved = io.read_appended(
                spark, "resolved", cycle - 1, schemas.RESOLVED
            ).unionByName(resolved)
            tables["resolved_base"] = (full_resolved.coalesce(8), None)

        # Most of the pipeline has already run by now: under AQE each
        # localCheckpoint(eager=False) above executed its frame's shuffle-
        # map stages when it was called, one frame at a time while this
        # method built the plan. What stays lazy is each checkpoint's last
        # (post-shuffle) stage. The lineage write goes FIRST, sequentially:
        # its plan reads every pipeline checkpoint (cand, ingested,
        # with_robots, ranked, fetched), so it runs each of those final
        # stages exactly once — the concurrent writes that follow read warm
        # blocks instead of racing to compute them (a lazy checkpoint, like
        # persist(), does not dedupe concurrent materialization). Every
        # later plan starts at those checkpoints' LogicalRDD leaves, so each
        # concurrent write plans, code-generates and ships only its own
        # short tail. The handlers' warm names follow, for the same reason
        # (corpus_handler's checkpoints feed more than one of its writes).
        manifest, write_secs = io.commit(
            cycle, tables, meta=meta, warm=tuple(warm)
        )

        if cfg.use_seen_filter and build_filters:
            # filter sidecars are advisory: they only serve LATER cycles'
            # dedup prefilter, and a missing/stale sidecar is patched by an
            # exact anti-join over the gap (split_by_filter). The driver
            # loop therefore skips the build when no subsequent cycle will
            # consume it (build_filters=False on a run's final cycle).
            from .membership import rebuild_filters

            # consolidate on the same cadence as url_seen_base compaction:
            # re-emit untouched buckets into this cycle's delta and prune
            # older filter dirs (the carry-forward would otherwise pin
            # arbitrarily old deltas forever)
            meta_update = rebuild_filters(
                spark, io, cycle, cfg, consolidate=compact
            )
            manifest = io.commit_meta_update(cycle, meta_update)

        # n_buckets rows: read back on the driver, not as a Spark job
        lin_rows = io.read_cycle_rows("lineage", cycle, schemas.LINEAGE)
        n_sched = sum(r["enqueued"] for r in lin_rows)

        # tracked frames are released by run_cycle's finally
        return CycleResult(
            cycle=cycle,
            scheduled_rows=n_sched,
            manifest=manifest,
            lineage=lin_rows,
            write_secs=write_secs,
        )

    def run(self, cycles: int, start_cycle: int | None = None) -> list[CycleResult]:
        start = start_cycle if start_cycle is not None else self.io.latest_cycle() + 1
        return [
            self.run_cycle(k, build_filters=(k < start + cycles - 1))
            for k in range(start, start + cycles)
        ]
