"""Output-only cycle handlers: stages that add tables to a cycle's commit
but never change its crawl trace (the goldens pin that) — the engine's
analog of the reference's pluggable handler (container_crawler/
base_handler.py). ``FrontierScheduler`` picks the handlers its config
turns on once (``handlers_for``) and calls them in that fixed order,
after the fetch, with a ``CycleContext``. Each returns ``(tables, meta,
warm)``, merged into the cycle's single ``io.commit``: a handler's tables
are published all-or-nothing together with the crawl's own.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import schemas
from .config import EngineConfig
from .tableio import TableIO

# Write salt for the cell-partitioned ANN index: k-means / LSH cells over
# web text are Zipf-skewed, and a plain repartition(n_cells, "cell") makes
# the hottest cell ONE straggler task writing ONE giant file at 100-TB
# scale. Salting the repartition key (cell, pmod(url_hash, SALT)) spreads a
# hot cell over up to SALT tasks/files while partitionBy("cell") keeps the
# directory layout — probe-side partition pruning is unchanged.
ANN_WRITE_SALT = 4


@dataclass(frozen=True)
class CycleContext:
    """One cycle, as a handler sees it. ``done``: the fetched-ok rows, with
    the extracted text in ``_text``; ``cand``: the canonicalized
    candidates. A handler checkpoints only through ``checkpoint`` and
    registers what it persists on ``tracked``: the cycle releases both
    when it ends, committed or not."""

    spark: SparkSession
    io: TableIO
    cfg: EngineConfig
    cycle: int
    compact: bool  # this cycle consolidates the accumulating tables
    done: DataFrame
    cand: DataFrame
    checkpoint: Callable[[DataFrame], DataFrame]
    tracked: list


def _ann_repartition(df: DataFrame, n_cells: int) -> DataFrame:
    return df.repartition(
        n_cells * ANN_WRITE_SALT,
        "cell",
        F.pmod(F.col("url_hash"), F.lit(ANN_WRITE_SALT)),
    )


def _nd_closure(ctx: CycleContext, pstats, nd_bands_delta, tables, meta):
    """Near-dup closure over the accumulated corpus: edges = doc <-> min-doc
    of each shared (band, bkey) bucket (star edges, never all-pairs within
    a bucket), components via O(log n) star contraction. Vertices come
    from accumulated page_stats so shingle-less docs keep singleton
    components.

    INCREMENTAL from the second closure on: the previous closure committed
    nd_components (a star forest — each doc -> its component min) plus
    nd_buckets (each (band, bkey) -> min _id ever seen in it). Seeding with
    those two O(docs)/O(buckets) tables + ONLY the delta cycles' band rows
    yields exactly the same components as a full re-cluster (proof sketch:
    prev star edges preserve all old connectivity; a delta band row links
    its doc to the merged bucket min; a (prev-min -> merged-min) edge per
    touched bucket reconnects the old cluster; every added edge stays
    inside a true component, so the partition — and the min labels — are
    identical; pinned by the multi-closure union-find golden).

    Adds nd_components + nd_buckets to ``tables`` and the nd_* keys to
    ``meta``; returns the touched-bucket delta for the compaction base."""
    from .graph import connected_components_star

    spark, io, cycle = ctx.spark, ctx.io, ctx.cycle
    prev_closure = io.snapshot(cycle - 1).table_cycle("nd_components")
    if prev_closure is None:
        delta_bands = io.read_appended(
            spark, "nd_bands", cycle - 1, schemas.ND_BANDS
        ).unionByName(nd_bands_delta)
        prev_buckets = io._empty(spark, schemas.ND_BUCKETS)
        prev_star = io._empty(spark, schemas.ND_COMPONENTS).select(
            F.col("url_hash").alias("src"),
            F.col("nd_comp").alias("dst"),
        )
        verts = (
            io.read_appended(
                spark, "page_stats", cycle - 1, schemas.PAGE_STATS,
            )
            .select("url_hash")
            .unionByName(pstats.select("url_hash"))
            .distinct()
            .select(F.col("url_hash").alias("id"))
        )
        nd_mode = "full"
    else:
        delta_bands = io.read_delta_range(
            spark, "nd_bands", prev_closure + 1, cycle - 1,
            schemas.ND_BANDS,
        ).unionByName(nd_bands_delta)
        # nd_buckets is delta-committed (touched buckets only); the as-of
        # view min-merges base + deltas. g only ever decreases across
        # closures, so min over all deltas == the latest closure's value
        # for every bucket.
        prev_buckets = (
            io.read_appended(
                spark, "nd_buckets", prev_closure, schemas.ND_BUCKETS,
            )
            .groupBy("band", "bkey")
            .agg(F.min("g").alias("g"))
        )
        prev_comp = io.read_cycle(
            spark, "nd_components", prev_closure, schemas.ND_COMPONENTS,
        )
        prev_star = prev_comp.where(
            F.col("url_hash") != F.col("nd_comp")
        ).select(
            F.col("url_hash").alias("src"),
            F.col("nd_comp").alias("dst"),
        )
        verts = (
            prev_comp.select("url_hash")
            .unionByName(
                io.read_delta_range(
                    spark, "page_stats", prev_closure + 1, cycle - 1,
                    schemas.PAGE_STATS,
                ).select("url_hash")
            )
            .unionByName(pstats.select("url_hash"))
            .distinct()
            .select(F.col("url_hash").alias("id"))
        )
        nd_mode = "incremental"

    # consumed by newg, edges, count
    delta_bands = ctx.checkpoint(delta_bands)
    newg = delta_bands.groupBy("band", "bkey").agg(F.min("_id").alias("ng"))
    pb = prev_buckets.select("band", "bkey", F.col("g").alias("pg"))
    merged = (
        newg.join(pb, ["band", "bkey"], "full_outer")
        .select(
            "band",
            "bkey",
            F.least(F.coalesce("ng", "pg"), F.coalesce("pg", "ng")).alias("g"),
            "ng",
            "pg",
        )
    )
    merged = ctx.checkpoint(merged)
    edges = (
        # delta docs -> merged bucket min
        delta_bands.join(merged.select("band", "bkey", "g"), ["band", "bkey"])
        .select(F.col("_id").alias("src"), F.col("g").alias("dst"))
        # previous closure's star forest (empty on full path)
        .unionByName(prev_star)
        # touched buckets: reconnect the old cluster min to the merged min
        # (no-op rows g == pg are dropped by _canon)
        .unionByName(
            merged.where(
                F.col("pg").isNotNull() & F.col("ng").isNotNull()
            ).select(F.col("pg").alias("src"), F.col("g").alias("dst"))
        )
    )
    comp, nd_rounds = connected_components_star(
        edges, verts, tracked=ctx.tracked
    )
    tables["nd_components"] = (
        comp.select(
            F.col("id").alias("url_hash"),
            F.col("comp").alias("nd_comp"),
        ).coalesce(8),
        None,
    )
    # TOUCHED buckets only (round-5 verdict #3): a bucket with no delta
    # band row this closure kept g == pg, so omitting it loses nothing —
    # the next closure's min-merge read (and the nd_buckets_base
    # compaction) reconstruct the full view. This keeps the closure's
    # WRITE O(delta) to match its O(delta) compute; the old full rewrite
    # was O(corpus) per closure (~N_BANDS rows per doc ever seen).
    nd_buckets_delta = merged.where(F.col("ng").isNotNull()).select(
        "band", "bkey", "g"
    )
    tables["nd_buckets"] = (nd_buckets_delta.coalesce(8), None)
    # observability + the golden's O(log n) round-bound assertion;
    # nd_mode/nd_input_bands pin that a non-first closure consumed only
    # the delta cycles' band rows, not all history. The input bound is a
    # tiny count: the frame is N_BANDS rows per delta doc.
    meta["nd_rounds"] = nd_rounds
    meta["nd_mode"] = nd_mode
    meta["nd_input_bands"] = delta_bands.count()
    return nd_buckets_delta


def _ann_index(ctx: CycleContext, stage_frame, tables, meta):
    """ANN index over this cycle's fetched corpus: the SAME transform the
    driver's ann_index_cells query oracle-checks (corpus.ann_enrich) —
    deterministic hashed-word embedding + coarse cell, all JVM built-ins
    (already computed once in the shared stage_frame pass). Partitioned
    by cell: a similarity probe over the engine's own corpus is a
    partition-pruned scan of one (or a few) cells.

    Adds ann_index (+ ann_centroids in "ivf" mode, + ann_index_base on
    compacting cycles) to ``tables`` and ann_quantizer_cycle to ``meta``."""
    from .corpus import ANN_IVF_K, N_HYPER

    spark, io, cfg, cycle = ctx.spark, ctx.io, ctx.cfg, ctx.cycle
    aidx = stage_frame
    ann_qc = None
    retrain = False
    if cfg.ann_index_mode == "ivf":
        # trained coarse quantizer (round-4 verdict #4): seeded
        # quantized-integer k-means over a deterministic md5 sample of the
        # docs; the 256-row centroid stats collect driver-side
        # (probe-metadata-sized) and come back as a broadcast literal for
        # the single full-corpus assignment pass. The quantizer is PINNED:
        # trained ONCE at the first IVF build and reused verbatim by every
        # later cycle, so cell ids are comparable across cycles and the
        # per-cycle deltas consolidate into one whole-corpus index
        # (ann_index_base). Stats are re-committed each cycle (256 tiny
        # rows) so "the quantizer in force at cycle k" is always
        # read_cycle(ann_centroids, k); the manifest's ann_quantizer_cycle
        # meta records which cycle trained them. Golden vs ivf_py.
        from .corpus import ivf_assign_cells, ivf_train_collect

        prev = io.snapshot(cycle - 1)
        retrain = (
            cfg.ann_retrain_on_compact
            and ctx.compact
            and prev.table_cycle("ann_index") is not None
        )
        prev_cent = prev.table_cycle("ann_centroids")
        cent_rows: list = []
        if retrain:
            # quantizer refresh folded into the compaction this cycle
            # already pays for: retrain over the ACCUMULATED corpus
            # (previous index rows + this cycle's docs) and re-pin from
            # here — the compaction base is then re-assigned with these
            # stats, so every committed dir (base@k + deltas>k) shares one
            # cell vocabulary
            ann_prev_idx = io.read_appended(
                spark, "ann_index", cycle - 1, schemas.ANN_INDEX
            )
            cent_rows = ivf_train_collect(
                ann_prev_idx.select("url_hash", "emb").unionByName(
                    aidx.select("url_hash", "emb")
                ),
                "url_hash",
                sample_hex=cfg.ann_ivf_sample_hex,
            )
            ann_qc = cycle
        elif prev_cent is not None:
            cent_rows = sorted(
                (r["k"], r["d"], r["s"], r["n"])
                for r in io.read_cycle(
                    spark, "ann_centroids", prev_cent, schemas.ANN_CENTROIDS,
                ).collect()
            )
            pm = io.manifest(prev_cent) or {}
            ann_qc = pm.get("meta", {}).get("ann_quantizer_cycle", prev_cent)
        if not cent_rows:
            # first IVF build — or a degenerate pinned build that trained
            # on an EMPTY first corpus (empty stats would drop every doc
            # through the inner assignment join forever): (re)train here
            # and pin from this cycle on
            cent_rows = ivf_train_collect(
                aidx, "url_hash", sample_hex=cfg.ann_ivf_sample_hex
            )
            ann_qc = cycle
        aidx = ivf_assign_cells(spark, aidx, "url_hash", cent_rows)
        tables["ann_centroids"] = (
            spark.createDataFrame(cent_rows, schemas.ANN_CENTROIDS).coalesce(1),
            None,
        )
        n_cells = ANN_IVF_K
    else:
        n_cells = 1 << N_HYPER
    ann_index_delta = aidx.select(*schemas.ANN_INDEX.fieldNames())
    tables["ann_index"] = (
        _ann_repartition(ann_index_delta, n_cells), ["cell"]
    )
    if ctx.compact:
        # whole-corpus ANN consolidation (round-5 verdict #1): the
        # per-cycle ann_index deltas fold into ONE cell-partitioned base,
        # so a whole-corpus similarity probe reads O(1) dirs x nprobe
        # cells instead of O(cycles) delta dirs. Cell ids are comparable
        # across cycles by construction (LSH cells are data-independent;
        # IVF cells come from the pinned quantizer). Recrawled URLs keep
        # one row per fetch (an index of fetches, like every append table
        # here). After a retrain, the accumulated rows are re-assigned
        # under the RETRAINED stats (same url_hash/emb content — only
        # cells differ), so cells are consistent across base@k and every
        # later delta.
        if retrain:
            prev_idx = ivf_assign_cells(
                spark, ann_prev_idx, "url_hash", cent_rows
            ).select(*schemas.ANN_INDEX.fieldNames())
        else:
            prev_idx = io.read_appended(
                spark, "ann_index", cycle - 1, schemas.ANN_INDEX
            )
        tables["ann_index_base"] = (
            _ann_repartition(prev_idx.unionByName(ann_index_delta), n_cells),
            ["cell"],
        )
    if ann_qc is not None:
        # which cycle TRAINED the IVF quantizer in force this cycle — pins
        # (engine golden) that cycles after the first reuse the pinned
        # centroids instead of retraining, the property that makes cell
        # ids comparable across cycles
        meta["ann_quantizer_cycle"] = ann_qc


def corpus_handler(ctx: CycleContext) -> tuple[dict, dict, tuple]:
    """page_stats + nd_bands (cfg.enrich_pages), the near-dup closure
    (cfg.nd_closure_every) and ann_index (cfg.ann_index), over the
    cycle's fetched text, plus their compaction bases."""
    from .corpus import ann_enrich, enrich_scalars

    spark, io, cfg, cycle = ctx.spark, ctx.io, ctx.cfg, ctx.cycle
    tables: dict = {}
    meta: dict = {}
    # shared corpus projection: the scalar enrichment AND the ANN
    # embedding/cell are fused into ONE checkpointed pass over the cycle's
    # fetched text — separate write jobs don't share plan subtrees, so
    # unfused, the page_stats and ann_index writes each re-ran their own
    # tokenize + higher-order-filter work over the fetched rows (the
    # dominant interpreted per-row cost of a stage-stack cycle). Consumers
    # below only column-prune the warm checkpoint.
    stage_frame = ctx.done.select("url_hash", "host_bucket", "_text")
    if cfg.enrich_pages:
        stage_frame = enrich_scalars(stage_frame, "_text")
    if cfg.ann_index:
        stage_frame = ann_enrich(stage_frame, "_text")
    stage_frame = ctx.checkpoint(stage_frame.drop("_text"))

    if cfg.enrich_pages:
        # training-data stage over this cycle's fetched corpus: the SAME
        # transform the driver's corpus_enrich query oracle-checks
        # (corpus.enrich). Pure built-ins + one banded LSH agg — no
        # Python, no all-pairs join.
        from .corpus import band_keys, nd_group_join

        # materialize the MinHash band rows ONCE (checkpoint): they feed
        # THREE consumers — page_stats' nd_group, the committed nd_bands
        # table, and (on closure cycles) the CC edge build — and concurrent
        # write jobs do not share exchanges, so an uncached frame would
        # re-run the whole shingle-explode + signature pipeline per
        # consumer (measured: the dominant cost of a stage-stack cycle).
        nd_bands_full = ctx.checkpoint(band_keys(
            ctx.done.select("url_hash", "_text"), "url_hash", "_text"
        ))
        pstats = nd_group_join(
            stage_frame, nd_bands_full, "url_hash"
        ).select(*schemas.PAGE_STATS.fieldNames())
        tables["page_stats"] = (
            pstats.repartition(cfg.n_buckets, "host_bucket"),
            ["host_bucket"],
        )
        # band rows ride along (~N_BANDS tiny rows per doc): the
        # cross-cycle near-dup closure reads THESE, never the corpus text
        # again
        nd_bands_delta = nd_bands_full.select(*schemas.ND_BANDS.fieldNames())
        tables["nd_bands"] = (nd_bands_delta.coalesce(8), None)
        nd_buckets_delta = None
        if cfg.nd_closure_every and cycle % cfg.nd_closure_every == 0:
            nd_buckets_delta = _nd_closure(
                ctx, pstats, nd_bands_delta, tables, meta
            )
        if ctx.compact:
            # the band rows compact on url_seen's cadence (round-4 verdict
            # #6): full-closure fallbacks read O(1) dirs instead of
            # O(cycles). Pure layout change — the base is the exact union
            # the read path would have produced (incl. this cycle's delta,
            # which read_appended skips once a base exists at the same
            # cycle).
            full_bands = io.read_appended(
                spark, "nd_bands", cycle - 1, schemas.ND_BANDS
            ).unionByName(nd_bands_delta)
            tables["nd_bands_base"] = (full_bands.coalesce(8), None)
        if ctx.compact and cfg.nd_closure_every:
            # nd_buckets is committed as touched-only deltas (the
            # closure's I/O matches its O(delta) compute); the read path
            # min-merges deltas per bucket, so the base is that merged
            # view — g only ever decreases, so min over all deltas == the
            # latest delta's value for every bucket.
            nb = io.read_appended(
                spark, "nd_buckets", cycle - 1, schemas.ND_BUCKETS
            )
            if nd_buckets_delta is not None:
                nb = nb.unionByName(nd_buckets_delta)
            tables["nd_buckets_base"] = (
                nb.groupBy("band", "bkey").agg(F.min("g").alias("g"))
                .coalesce(8),
                None,
            )

    if cfg.ann_index:
        _ann_index(ctx, stage_frame, tables, meta)

    # nd_bands is warmed before the concurrent writes: its checkpointed
    # band rows feed page_stats' nd_group too. ann_index next: its write
    # runs the shared stage_frame's final stage (scalar enrichment +
    # embedding, fused in one pass), which the concurrent page_stats write
    # then reads warm.
    return tables, meta, ("nd_bands", "ann_index")


def host_graph_handler(ctx: CycleContext) -> tuple[dict, dict, tuple]:
    """Host link-graph edges, harvested from the candidates because ingest
    already paid the canonicalization: parent host -> canonical link host,
    distinct (tiny: bounded by hosts^2, committed per cycle). Every
    host_rank_every-th cycle, the fixed-point integer PageRank
    (graph.integer_pagerank — the transform the driver's host_pagerank
    query oracle-checks) runs over ALL cycles' edges and commits
    host_rank, which ``host_rank_priority`` reads back in the core."""
    spark, io, cfg, cycle = ctx.spark, ctx.io, ctx.cfg, ctx.cycle
    host_edges_delta = (
        ctx.cand.where(
            F.col("src_host").isNotNull()
            & (F.col("src_host") != F.col("host"))
        )
        .select("src_host", F.col("host").alias("dst_host"))
        .distinct()
    )
    tables = {"host_edges": (host_edges_delta.coalesce(4), None)}
    rank = cycle % cfg.host_rank_every == 0
    if rank or ctx.compact:
        all_edges = io.read_appended(
            spark, "host_edges", cycle - 1, schemas.HOST_EDGES
        ).unionByName(host_edges_delta)
    if rank:
        from .graph import integer_pagerank

        ranks = integer_pagerank(
            all_edges.select(
                F.col("src_host").alias("src"),
                F.col("dst_host").alias("dst"),
            ),
            tracked=ctx.tracked,
        )
        tables["host_rank"] = (ranks.coalesce(1), None)
    if ctx.compact:
        # rank builds read O(1) edge dirs instead of O(cycles)
        tables["host_edges_base"] = (all_edges.coalesce(4), None)
    return tables, {}, ()


def handlers_for(cfg: EngineConfig) -> tuple:
    """The handlers ``cfg`` turns on, in call order."""
    handlers = []
    if cfg.enrich_pages or cfg.ann_index:
        handlers.append(corpus_handler)
    if cfg.host_rank_every:
        handlers.append(host_graph_handler)
    return tuple(handlers)
