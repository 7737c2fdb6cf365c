"""Corpus enrichment — the training-data-pipeline stage of the engine.

The round-1 pipeline ops (fingerprint / language-ID / quality / token counts
/ MinHash-LSH near-dup) existed only as standalone driver queries; this
module is the shared transform that makes them an ENGINE stage: the
scheduler applies it to each cycle's successfully fetched pages and commits
a ``page_stats`` table through TableIO (handlers.corpus_handler, cfg
``enrich_pages``), and the driver query ``corpus_enrich`` applies the exact
same transform to the ``documents`` table where DuckDB can oracle-check
every column.

All columns are Spark built-ins (JVM-side, whole-stage codegen — no Python
in this stage) and each scales as a per-row projection plus one banded
groupBy/join for the near-dup group:

- fp:            md5 of lowercased alphanumeric-only text (exact dedup key)
- n_words / avg_token_len / stop_ratio: quality scoring
- est_bpe_tokens: BPE-ish length/4 token estimate
- predicted_lang: marker-token heuristic language ID
- nd_group:      near-dup group id = least id sharing ANY MinHash band
  bucket (one LSH hop; docs with no 3-gram shingles group with themselves).
  One hop is deliberate: the hop already links every pair the banded LSH
  would emit, which is what near-dup pruning needs. The full iterative
  closure exists twice: as the driver query ``neardup_components``
  (queries.q_neardup_components, oracle-checked against a DuckDB recursive
  reachability CTE), and as an ENGINE stage (cfg.nd_closure_every):
  every N cycles the scheduler runs large-star/small-star connected
  components (graph.py) over the accumulated ``nd_bands`` table
  (band_keys below) and commits an ``nd_components`` table —
  golden-checked against a pure-Python union-find.

The reference has no analog (container-crawler hands rows to opaque
handlers, base_handler.py ≈L48); this is the north-star "what a 100-TB
training-data pipeline needs" surface built on the same engine tables.
"""

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

N_PERM = 8   # minhash permutations
N_BANDS = 4  # bands of 2 rows each

# deterministic text-embedding + hyperplane-LSH cell (the ANN index stage)
EMB_DIM = 16   # hashed-word feature dims (md5 first hex char)
N_HYPER = 4    # hyperplanes -> 2^N_HYPER coarse cells
_HEXD = "0123456789abcdef"


def _shingles(words_col):
    """Word 3-gram shingles over an ALREADY-PROJECTED words-array column
    (empty array when < 3 words). The words array must be a bound column,
    not an inline split(): higher-order lambdas run interpreted and
    re-evaluate an un-bound split() child per array element — O(words²)
    per doc (measured 7x slower on the shingle pipeline). Per shingle,
    three element_at + one concat instead of slice + array_join: the
    slice allocated a fresh 3-element array per position only for the
    join to flatten it again (measured ~1.9x on the signature stage at
    the 10x fixture; byte-identical shingle strings)."""
    words = words_col
    return F.when(
        F.size(words) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - 2),
            lambda i: F.concat(
                F.element_at(words, i),
                F.lit(" "),
                F.element_at(words, i + 1),
                F.lit(" "),
                F.element_at(words, i + 2),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def band_keys(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(_id, band, bkey) MinHash band rows — the LSH near-dup graph surface.

    This is the SMALL table the cross-cycle closure accumulates (N_BANDS
    rows per doc, ~100 bytes each — vs re-reading corpus text): two docs
    share a near-dup edge iff they share a (band, bkey). Used per-cycle by
    ``enrich`` (one-hop nd_group) and across cycles by the scheduler's
    nd_closure stage (connected components over all cycles' band rows)."""
    sh = df.select(
        F.col(id_col).alias("_id"),
        F.split(F.col(text_col), " ").alias("_words"),
    ).select("_id", F.explode(_shingles(F.col("_words"))).alias("s"))
    sig = sh.groupBy("_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("s")))).alias(f"m{i}")
            for i in range(N_PERM)
        ]
    )
    # one band row per (doc, band) via a single explode — NOT a 4-way
    # union of projections over sig: Spark does not share the union
    # branches' common aggregation subtree (exchange reuse misses it), so
    # the union shape re-ran the whole shingle-explode + signature
    # pipeline once PER BAND (measured 103 s -> 26 s for 180k docs;
    # identical rows either way)
    return sig.select(
        "_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat(F.col(f"m{2*b}"), F.col(f"m{2*b+1}"))
                        ).alias("bkey"),
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("_bb"),
    ).select("_id", F.col("_bb.band").alias("band"), F.col("_bb.bkey").alias("bkey"))


def enrich_scalars(df: DataFrame, text_col: str) -> DataFrame:
    """The per-row enrichment columns alone (no nd_group join): one
    projection, whole-stage codegen. Split out so the scheduler can fuse
    it with the ANN embedding into ONE persisted pass over the cycle's
    corpus (separate write jobs don't share plan subtrees — unfused, each
    consumer re-ran its own tokenize+filter work over the cached rows)."""
    # NULL text is the empty document — the same coalesce ann_enrich
    # applies, so the two halves of one fused stage_frame agree: without
    # it a NULL-text row got NULL fp/n_words/ratios yet a concrete
    # predicted_lang ('other', the when-chain's NULL fall-through)
    text = F.coalesce(F.col(text_col), F.lit(""))
    # split once into a bound column: the words array feeds ~6 output
    # expressions (several of them interpreted higher-order filters), and
    # an inline split() child is re-evaluated per expression
    df = df.withColumn("_ws", F.split(text, " "))
    words = F.col("_ws")
    stops = F.filter(words, lambda w: (w == "the") | (w == "a"))
    tech = F.filter(
        words, lambda w: (w == "spark") | (w == "query") | (w == "data")
    )
    return df.select(
        *[c for c in df.columns if c != "_ws"],
        F.md5(F.regexp_replace(F.lower(text), "[^a-z0-9]", "")).alias("fp"),
        F.size(words).cast("long").alias("n_words"),
        F.round(F.length(text) / F.size(words), 4).alias("avg_token_len"),
        F.round(F.size(stops) / F.size(words), 4).alias("stop_ratio"),
        F.ceil(F.length(text) / 4.0).cast("long").alias("est_bpe_tokens"),
        F.when(F.size(stops) * 10 >= F.size(words), F.lit("en"))
        .when(F.size(tech) * 10 >= F.size(words), F.lit("tech"))
        .otherwise(F.lit("other"))
        .alias("predicted_lang"),
    )


def nd_group_join(
    scalars: DataFrame, bands: DataFrame, id_col: str
) -> DataFrame:
    """Append ``nd_group`` = min id over shared MinHash band buckets (one
    LSH hop): explode-free banded aggregation whose fan-in is bounded by
    band-bucket size, never an all-pairs join. Shingle-less docs (no band
    rows) group with themselves."""
    groups = bands.groupBy("band", "bkey").agg(F.min("_id").alias("g"))
    doc_g = (
        bands.join(groups, ["band", "bkey"])
        .groupBy("_id")
        .agg(F.min("g").alias("nd_group"))
    )
    return (
        scalars.join(
            doc_g.withColumnRenamed("_id", id_col), id_col, "left"
        )
        .withColumn(
            "nd_group",
            F.coalesce("nd_group", F.col(id_col).cast("long")),
        )
    )


def enrich(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bands: DataFrame | None = None,
) -> DataFrame:
    """Append the enrichment columns to ``df`` (keyed by ``id_col``).

    Plan shape: one projection for the scalar stats (enrich_scalars); for
    nd_group one explode -> groupBy(band, bkey) -> min(id) -> per-id min
    (nd_group_join). ``bands`` lets the caller pass an already-PERSISTED
    band_keys frame: the scheduler commits nd_bands AND derives nd_group
    from the same rows, and Spark's exchange reuse does not span separate
    write jobs — without sharing, each concurrent commit re-executes the
    whole shingle-explode + 8-agg signature pipeline.
    """
    if bands is None:
        bands = band_keys(df, id_col, text_col)
    return nd_group_join(enrich_scalars(df, text_col), bands, id_col)


# ---------------------------------------------------------------------------
# ANN index stage: deterministic hashed-word embedding + hyperplane-LSH cell.
#
# No embedding model ships in this sandbox, so the embedding is FEATURE
# HASHING (a real, public technique — "hashing trick"): dim(w) = first md5
# hex char of the word (16 dims), sign(w) = second hex char < '8' (+1/-1),
# emb[i] = signed count of the words hashing to dim i. It is deterministic,
# pure JVM built-ins, and — crucially — exactly reproducible in pure Python
# (the golden twin) and in DuckDB (the driver oracle).
#
# The coarse ANN partitioning is hyperplane LSH over that embedding: N_HYPER
# fixed ±1 hyperplanes (md5-derived, embedded as literals in the plan and
# the oracle SQL), cell = the sign-bit integer. At scale the committed
# ann_index table is partitioned by cell, so a query vector probes one cell
# (or a few neighboring ones) with a partition-pruned scan — never the full
# corpus. Per-row cost is O(EMB_DIM * n_words) inside whole-stage codegen.
# ---------------------------------------------------------------------------

def hyperplane_weights() -> list[list[float]]:
    """Deterministic ±1 hyperplane matrix (N_HYPER x EMB_DIM): weight j,i =
    +1 iff md5("hp{j}|{i}") starts with hex 0-7. Computed driver-side once;
    inlined as literals into the Spark plan and the DuckDB oracle."""
    w = []
    for j in range(N_HYPER):
        row = []
        for i in range(EMB_DIM):
            h = hashlib.md5(f"hp{j}|{i}".encode("utf-8")).hexdigest()
            row.append(1.0 if h[0] in "01234567" else -1.0)
        w.append(row)
    return w


def _cell_expr(dim_cols):
    """Hyperplane-LSH cell from 16 dim expressions (sign-bit integer)."""
    w = hyperplane_weights()
    cell = None
    for j in range(N_HYPER):
        proj = None
        for i in range(EMB_DIM):
            term = dim_cols[i] if w[j][i] > 0 else -dim_cols[i]
            proj = term if proj is None else proj + term
        bit = (proj > 0).cast("int") * (1 << j)
        cell = bit if cell is None else cell + bit
    return cell.cast("int")


def ann_enrich(
    df: DataFrame, text_col: str, id_col: str = "url_hash"
) -> DataFrame:
    """Append `emb` (array<double>, EMB_DIM dims) and `cell` (int,
    hyperplane-LSH bucket) to ``df`` (keyed by ``id_col``).

    Plan shape: explode words -> one md5 per word -> EMB_DIM conditional
    sums in ONE whole-stage-codegen aggregation -> join back on the key.
    The earlier shuffle-free spelling (16 higher-order array filters per
    row) kept everything in one Project but ran INTERPRETED — measured
    98 s vs 15 s for 180k docs. The shuffle this introduces is map-side
    combined: partial aggregation reduces each doc to 16 numbers before
    the exchange, so shuffle volume is docs x 16 doubles, never words.
    Values are bit-identical to the old spelling (same md5 dims/signs —
    embed_py / cell_py / the DuckDB twin are unchanged)."""
    # NULL text is treated as the empty document: split(NULL) is NULL and
    # explode(NULL) yields no rows, so without the coalesce a NULL-text id
    # would silently vanish through the inner join below (and, via the
    # fused stage_frame, from page_stats too). coalesce('') keeps the
    # totality argument: split('') -> [''] -> one aggregation row.
    w = df.select(
        F.col(id_col).alias("_aid"),
        F.explode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), " ")
        ).alias("_w"),
    )
    sign = F.when(F.substring("_h2", 2, 1) < "8", 1).otherwise(-1)
    per = (
        w.select("_aid", F.substring(F.md5("_w"), 1, 2).alias("_h2"))
        .groupBy("_aid")
        .agg(
            *[
                F.sum(
                    F.when(
                        F.substring("_h2", 1, 1) == _HEXD[i], sign
                    ).otherwise(0)
                )
                .cast("double")
                .alias(f"_e{i}")
                for i in range(EMB_DIM)
            ]
        )
    )
    dim_cols = [F.col(f"_e{i}") for i in range(EMB_DIM)]
    emb = per.select(
        "_aid",
        F.array(*dim_cols).alias("emb"),
        _cell_expr(dim_cols).alias("cell"),
    )
    # inner join is total: after the NULL coalesce, split() never yields
    # an empty array (even "" becomes [""]), so every input id has an
    # aggregation row
    return df.join(emb, df[id_col] == emb["_aid"]).drop("_aid")


# ---------------------------------------------------------------------------
# Trained-IVF cells for the committed ANN index (cfg.ann_index_mode="ivf").
#
# The hyperplane-LSH cells above are data-independent; a real IVF index
# trains its coarse quantizer on the corpus. Same exactness discipline as
# the driver's ann_ivf_trained_topk query (queries._ivf_trained_train):
# embeddings are QUANTIZED to int64 (floor(emb_d * ANN_IVF_Q)), centroid
# stats (s_kd, n_k) are integer sums (aggregation-order-exact), and
# assignment compares the exact integer distance Σ_d(v_d − c_kd)² against
# the FLOOR-QUANTIZED centroid c_kd = ⌊s_kd / n_k⌋ (sign-safe floor via
# pmod, so Spark `div`, DuckDB `//` and Python `//` all agree), ties
# broken by smallest k. The residual is bounded by the quantized value
# range — independent of cluster size — and quantization CLAMPS each dim
# to ±ANN_IVF_VMAX (see below), so the squared sum can never overflow
# int64, unconditionally — not even for a pathological mega-doc (the
# earlier n·v − s numerator grew with n² and would overflow once a
# cluster holds ~10^5 docs, i.e. exactly at the corpus scale this index
# targets). No division in the comparison at all: the
# whole training run is integer-exact, bit-reproducible, and has an
# exact pure-Python twin (ivf_py, golden).
#
# Scale shape: training runs over a deterministic md5-threshold SAMPLE of
# the cycle's docs (sample_hex/16 of them — the id's md5 leading hex char;
# 16 = train on everything, the fixture default). The Lloyd rounds scan
# only the sample; the one full-corpus pass is the final assignment, a
# broadcast join against the K×D=256-row centroid literal collected
# driver-side (probe-metadata-sized, like the multiprobe cell literals).
# The committed index is hive-partitioned by trained cell, so probes stay
# partition-pruned exactly as in LSH mode.
# ---------------------------------------------------------------------------

ANN_IVF_K = 16       # trained cell count (matches 2^N_HYPER of LSH mode)
ANN_IVF_Q = 10_000   # quantization scale: v_d = floor(emb_d * Q) as int64
ANN_IVF_ROUNDS = 2   # Lloyd iterations per build
# Per-dim magnitude clamp applied AT quantization, which makes the no-
# overflow claim unconditional instead of corpus-dependent: the hashed-word
# embedding's per-dim value is a signed word count, so a pathological
# ~10^5+-word doc hashing to one dim could push |v| ~ 1e9, t^2 ~ 1e18 per
# dim, and a 16-dim sum past 2^63 (Spark's non-ANSI long sum wraps
# SILENTLY). With |v| <= VMAX: |t| = |v - floor(s/n)| <= 2*VMAX (the floored
# centroid of clamped values stays in [-VMAX, VMAX]), so the distance sum is
# <= 16 * (2*VMAX)^2 = 5.76e18 < 2^63-1, and the centroid stat sum |s| <=
# n*VMAX overflows only past n > 3e10 docs in ONE cluster — beyond the
# 10^10-URL north-star frontier itself. The clamp is a no-op until a doc
# packs >= VMAX/Q = 30k same-dim words; all four twins (Spark train, Spark
# assign, ivf_py, ivf_route_py) and the driver query's DuckDB oracle apply
# it identically, so cross-engine exactness is preserved.
ANN_IVF_VMAX = 300_000_000


def _q_col(x):
    """Clamped quantization of one embedding dim (Spark Column)."""
    v = F.floor(x * ANN_IVF_Q)
    return (
        F.greatest(
            F.least(v, F.lit(ANN_IVF_VMAX).cast("long")),
            F.lit(-ANN_IVF_VMAX).cast("long"),
        )
    ).cast("long")


def _q_py(x: float) -> int:
    """Pure-Python twin of _q_col."""
    import math

    return max(-ANN_IVF_VMAX, min(ANN_IVF_VMAX, int(math.floor(x * ANN_IVF_Q))))


def ivf_train_collect(
    df: DataFrame, id_col: str, sample_hex: int = 16
) -> list[tuple]:
    """Train the coarse quantizer on ``df`` (needs ``emb``; sampled by
    md5(id) leading hex < sample_hex) and return the final centroid stats
    as [(k, d, s, n)] — K*EMB_DIM tiny rows collected driver-side. Seeds
    = the ANN_IVF_K sample ids with smallest md5 (TakeOrderedAndProject,
    never a global sort); each Lloyd round is one broadcast join + two
    partial-agg shuffles of key-sized data over the sample."""
    from pyspark.sql import Window

    md5c = F.md5(F.col(id_col).cast("string"))
    full = df.select(
        F.col(id_col).alias("_vid"),
        F.transform("emb", _q_col).alias("lv"),
        md5c.alias("_m"),
    )
    base = full
    if sample_hex < 16:
        base = full.where(
            F.substring("_m", 1, 1) < _HEXD[sample_hex]
        )
        # Empty-sample fallback: a small cycle can have NO doc under the
        # md5 threshold; an empty training set would silently commit an
        # empty index (the assignment join is inner). Train on the whole
        # cycle instead — deterministic, and only reachable when the
        # cycle is tiny anyway (ivf_py mirrors this).
        if base.limit(1).count() == 0:
            base = full
    exploded = base.select("_vid", F.posexplode("lv").alias("d", "val"))
    exploded.persist()
    seeds = (
        base.select("_vid", "lv", "_m").orderBy("_m").limit(ANN_IVF_K)
        .withColumn("k", F.row_number().over(Window.orderBy("_m")) - 1)
    )
    cent = seeds.select(
        "k", F.posexplode("lv").alias("d", "s"), F.lit(1).alias("n")
    )
    for _ in range(ANN_IVF_ROUNDS):
        a = _ivf_assign(exploded, cent, "_vid")
        cent = (
            a.join(exploded, "_vid")
            .groupBy("k", "d")
            .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
        )
    rows = [
        (r["k"], r["d"], r["s"], r["n"]) for r in cent.collect()
    ]
    exploded.unpersist()
    return sorted(rows)


def _ivf_assign(exploded: DataFrame, cent_df: DataFrame, id_cols):
    """Nearest trained cell per id: floor-quantized centroid c = ⌊s/n⌋
    (sign-safe via pmod so the Spark/DuckDB/Python floors agree), exact
    integer distance Σ(v − c)², ties to smallest k (identical to the
    driver IVF query). The residual is bounded by the quantized value
    range — cluster size never enters — so the sum can't overflow.
    ``id_cols`` may be one column name or a list (composite key)."""
    from pyspark.sql import Window

    if isinstance(id_cols, str):
        id_cols = [id_cols]
    centc = cent_df.select(
        "k", "d", F.expr("(s - pmod(s, n)) div n").alias("c")
    )
    t = F.col("val") - F.col("c")
    num = (
        exploded.join(F.broadcast(centc), "d")
        .select(*id_cols, "k", (t * t).alias("t"))
        .groupBy(*id_cols, "k")
        .agg(F.sum("t").alias("num"))
    )
    wk = Window.partitionBy(*id_cols).orderBy(
        F.col("num").asc(), F.col("k").asc()
    )
    return (
        num.withColumn("rn", F.row_number().over(wk))
        .where("rn = 1")
        .select(*id_cols, "k")
    )


def ivf_assign_cells(
    spark, df: DataFrame, id_col: str, cent_rows: list[tuple]
) -> DataFrame:
    """Replace ``cell`` with each row's nearest TRAINED cell, using the
    collected centroid stats as a plan-time literal dim (broadcast; one
    corpus pass, no training recompute).

    Robust to duplicate ids: the assignment key is (id, xxhash64 of the
    quantized dims), so two fetches of one url_hash with DIFFERENT content
    — possible only when re-assigning an ACCUMULATED index under recrawl
    TTL — each get their own nearest cell. Rows identical in both id and
    quantized emb do share one distance group, but their duplicated dims
    scale EVERY centroid's summed distance by the same factor, so the
    argmin and the smallest-k tie-break are invariant and the shared
    assignment is each row's own nearest cell too. For unique-id frames
    (the per-cycle path) the extra key is constant per group and results
    are bit-identical to keying by id alone."""
    cent_df = spark.createDataFrame(
        cent_rows, "k int, d int, s long, n long"
    )
    lvc = F.transform("emb", _q_col)
    lv = df.select(
        F.col(id_col).alias("_vid"),
        F.xxhash64(lvc).alias("_vh"),
        lvc.alias("lv"),
    )
    exploded = lv.select("_vid", "_vh", F.posexplode("lv").alias("d", "val"))
    a = _ivf_assign(exploded, cent_df, ["_vid", "_vh"]).select(
        F.col("_vid").alias(id_col), "_vh", F.col("k").alias("_cell")
    )
    return (
        df.drop("cell")
        .withColumn("_vh", F.xxhash64(lvc))
        .join(a, [id_col, "_vh"])
        .withColumn("cell", F.col("_cell").cast("int"))
        .drop("_cell", "_vh")
    )


def ivf_py(items, sample_hex: int = 16) -> tuple:
    """Pure-Python twin of ivf_train_collect + ivf_assign_cells (golden):
    ``items`` = [(id, emb_list)]; returns (sorted centroid stats rows,
    {id: cell})."""
    def q(e):
        return [_q_py(x) for x in e]

    sample = [
        (i, q(e))
        for i, e in items
        if sample_hex >= 16
        or hashlib.md5(str(i).encode()).hexdigest()[0] < _HEXD[sample_hex]
    ]
    if not sample:  # empty-sample fallback, mirrors ivf_train_collect
        sample = [(i, q(e)) for i, e in items]
    seeds = sorted(
        sample, key=lambda t: hashlib.md5(str(t[0]).encode()).hexdigest()
    )[:ANN_IVF_K]
    cent = {
        (k, d): (v, 1)
        for k, (_i, lv) in enumerate(seeds)
        for d, v in enumerate(lv)
    }

    def assign(lv):
        best = None
        for k in range(ANN_IVF_K):
            if (k, 0) not in cent:
                continue
            num = 0
            for d, v in enumerate(lv):
                s, n = cent[(k, d)]
                t = v - s // n  # Python // floors, matching the pmod div
                num += t * t
            if best is None or num < best[0] or (
                num == best[0] and k < best[1]
            ):
                best = (num, k)
        return best[1]

    for _ in range(ANN_IVF_ROUNDS):
        agg: dict = {}
        for i, lv in sample:
            k = assign(lv)
            for d, v in enumerate(lv):
                s, n = agg.get((k, d), (0, 0))
                agg[(k, d)] = (s + v, n + 1)
        cent = agg
    rows = sorted((k, d, s, n) for (k, d), (s, n) in cent.items())
    cells = {i: assign(q(e)) for i, e in items}
    return rows, cells


def ivf_route_py(cent_rows, emb, nprobe: int = 1) -> list[int]:
    """Route a query embedding to its ``nprobe`` nearest TRAINED cells
    using the committed centroid stats (``ann_centroids`` rows as
    ``(k, d, s, n)`` tuples) — the query side of the IVF index. Same
    exactness discipline as assignment (``_ivf_assign`` / ``ivf_py``):
    quantized int64 query, floor-quantized centroid c_kd = ⌊s_kd/n_k⌋,
    exact integer distance Σ_d (v_d − c_kd)², ties to smallest k — so
    nprobe=1 routing reproduces the committed assignment of any indexed
    vector bit-for-bit. Pure Python over K×D = 256 rows (probe metadata,
    collected driver-side exactly like the multiprobe cell literals)."""
    lv = [_q_py(x) for x in emb]
    stats: dict = {}
    for k, d, s, n in cent_rows:
        stats[(k, d)] = (s, n)
    scored = []
    for k in sorted({k for k, _d in stats}):
        num = sum(
            (v - stats[(k, d)][0] // stats[(k, d)][1]) ** 2
            for d, v in enumerate(lv)
        )
        scored.append((num, k))
    scored.sort()
    return [k for _dist, k in scored[:nprobe]]


def ivf_probe_topk(
    spark, io, cycle: int, query_emb, topk: int = 5, nprobe: int = 1,
    whole_corpus: bool = False,
) -> DataFrame:
    """Similarity search over the committed trained-IVF ``ann_index``:
    route the query to its ``nprobe`` nearest trained cells via
    ``ann_centroids`` (ivf_route_py, driver-side over K×D tiny rows),
    then exact cosine top-k over ONLY those cell partitions. The routed
    cells are plan-time literals, so the hive-partitioned index scan
    partition-prunes to ``nprobe`` dirs (pinned in the engine golden) —
    the other ANN_IVF_K − nprobe cells are never read; top-k compiles to
    TakeOrderedAndProject, never a global sort.

    ``whole_corpus=True`` probes the ACCUMULATED index instead of cycle
    ``cycle``'s delta: base (``ann_index_base``, consolidated on the
    compact cadence) + the delta dirs after it — the reference-analog of
    handlers consuming the accumulated container, not one scan's delta
    (container_crawler __init__.py::submit_items ≈L295). Well-defined
    because the quantizer is PINNED (trained once, reused every cycle —
    scheduler ann block), so cell ids are comparable across cycles and
    pruning applies identically to every dir of the union."""
    import math

    from . import schemas

    qn = math.sqrt(sum(x * x for x in query_emb))
    if qn == 0:
        raise ValueError("zero-norm query embedding")
    cent_cycle = cycle
    if whole_corpus:
        # the latest committed ann_centroids <= cycle are the stats every
        # readable index dir was assigned under: with the train-once
        # default all cycles re-commit the same pinned rows, and with
        # ann_retrain_on_compact a retrain re-assigns the whole base in
        # the same commit, so base + later deltas again share these stats
        cent_cycle = io.snapshot(cycle).table_cycle("ann_centroids") or cycle
    cent_rows = [
        (r["k"], r["d"], r["s"], r["n"])
        for r in io.read_cycle(
            spark, "ann_centroids", cent_cycle, schemas.ANN_CENTROIDS
        ).collect()
    ]
    if not cent_rows:
        # no committed quantizer stats: probing an LSH-mode index (or a
        # cycle before any IVF build) with the IVF router would silently
        # route to zero cells and return an EMPTY result — fail loudly
        raise ValueError(
            "no committed ann_centroids at or before cycle "
            f"{cent_cycle}: ivf_probe_topk requires an index built with "
            "ann_index_mode='ivf'"
        )
    cells = ivf_route_py(cent_rows, query_emb, nprobe)
    qe = F.array(*[F.lit(float(x)) for x in query_emb])
    norm = F.sqrt(F.aggregate("emb", F.lit(0.0), lambda a, x: a + x * x))
    idx = (
        io.read_appended(spark, "ann_index", cycle, schemas.ANN_INDEX)
        if whole_corpus
        else io.read_cycle(spark, "ann_index", cycle, schemas.ANN_INDEX)
    )
    base = (
        idx.where(F.col("cell").isin(cells))
        .select("url_hash", "emb", norm.alias("nrm"))
        .where("nrm > 0")
    )
    dot = F.aggregate(
        F.zip_with(F.col("emb"), qe, lambda x, y: x * y),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    return (
        base.select(
            "url_hash",
            F.round(dot / (F.col("nrm") * F.lit(qn)), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("url_hash"))
        .limit(topk)
    )


def embed_py(text: str) -> list[float]:
    """Pure-Python twin of ann_enrich's per-doc embedding (golden tests;
    refspec-style parity): signed counts of words by md5 dim/sign.
    None mirrors ann_enrich's NULL coalesce (empty document)."""
    dims = [0.0] * EMB_DIM
    for w in (text or "").split(" "):
        h = hashlib.md5(w.encode("utf-8")).hexdigest()
        i = _HEXD.index(h[0])
        dims[i] += 1.0 if h[1] < "8" else -1.0
    return dims


def cell_py(emb: list[float]) -> int:
    """Pure-Python twin of the hyperplane-LSH cell."""
    w = hyperplane_weights()
    cell = 0
    for j in range(N_HYPER):
        proj = sum(e * wj for e, wj in zip(emb, w[j]))
        if proj > 0:
            cell |= 1 << j
    return cell
