"""Distributed connected components: alternating large-star/small-star.

The O(log n)-round contraction of Kiveris et al., "Connected Components in
MapReduce and Beyond" (public algorithm) — the scale path for near-dup
closure when component diameters are large. Plain min-label propagation
(the previous q_neardup_components loop) needs O(diameter) rounds: fine for
dense LSH dup-clusters, pathological for chain-shaped graphs. Star
contraction halves chain depth every pair of passes, so a 10^6-long chain
closes in ~40 shuffles instead of 10^6.

Semantics per round over a canonically-oriented edge set (u > v):
- large-star: for every node's symmetric neighborhood, connect each
  strictly-larger neighbor to the neighborhood minimum (incl. the center).
- small-star: for every center u of the (larger -> smaller) orientation,
  connect u and all its smaller neighbors to their minimum.
Both preserve connectivity exactly (each emitted edge stays within the
component; every old edge is implied transitively); at the fixpoint the
graph is a star forest rooted at each component's minimum id.

Everything is DataFrame groupBy/join — two shuffles per pass, edge-set
sized O(|E|) state, no driver-side data. Convergence is detected with a
symmetric exceptAll emptiness check (exact, not a checksum heuristic).

Iterative-Spark essentials baked in: each round's edge set is
``localCheckpoint``-ed (eager), truncating the logical plan — persist()
alone caches DATA but Catalyst still re-analyzes the whole accumulated
lineage every round, which goes quadratic in the round count. On a real
cluster swap localCheckpoint for reliable ``checkpoint`` (localCheckpoint
data dies with an executor; the round restarts from the last checkpoint).
"""

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# rank scale + the pure-Python rank twin live in graph_py (no pyspark
# imports) so the refspec oracle can use them standalone; re-exported here
# for Spark-side callers
from .graph_py import PR_BASE, PR_SCALE, integer_pagerank_py  # noqa: F401

# Broadcast ceiling for host-cardinality dims (rank, outdeg, contrib): at
# ~50 bytes/row this caps the forced broadcast at ~250 MB. The 10^10-URL
# north star has ~10^8 hosts — a multi-GB rank dim that must NOT be
# broadcast-hinted (driver OOM); above the ceiling the hint is dropped and
# AQE picks the join strategy from runtime stats. Small fixtures stay far
# under it, so local plans still broadcast (plan-pinned).
BROADCAST_HOST_MAX = 5_000_000


def is_small_dim(df: DataFrame, max_rows: int = BROADCAST_HOST_MAX) -> bool:
    """True when df has <= max_rows rows. One limit+count job over a
    host-cardinality dim — cheap next to the join it guards, and
    deterministic (same committed inputs -> same plan on resume)."""
    return df.limit(max_rows + 1).count() <= max_rows


def hint_small_dim(df: DataFrame, max_rows: int = BROADCAST_HOST_MAX):
    """``F.broadcast(df)`` only when df has <= max_rows rows; otherwise the
    frame is returned unhinted (AQE decides)."""
    return F.broadcast(df) if is_small_dim(df, max_rows) else df


def integer_pagerank(
    edges: DataFrame, iters: int = 3, tracked: list | None = None
) -> DataFrame:
    """PageRank-family authority rank in FIXED-POINT INTEGER arithmetic:
    rank0 = PR_SCALE per node; each round
    ``rank_v = 150000 + (17 * Σ_{u->v} (rank_u div outdeg_u)) div 20``
    (damping 0.85 via floor divisions). Integer sums are associative, so
    every round is aggregation-order-exact — the same oracle-exactness
    discipline as the quantized k-means. ``edges`` needs (src, dst);
    self-loops and duplicates are dropped. Returns (host, rnk).

    Scale shape: rank state is node-cardinality (hosts, not URLs); each
    round joins it onto the edge list and runs one dst-keyed partial
    aggregation. Rounds are unrolled into one Catalyst plan. The
    rank/outdeg/contrib dims are broadcast-hinted only while the host
    count sits under BROADCAST_HOST_MAX (one count job, paid once per
    rank build); at north-star host cardinality (~10^8) the hint is
    dropped and AQE chooses — a forced multi-GB broadcast per unrolled
    round would OOM the driver."""
    # ``tracked`` (engine path): persist the distinct edge set and the dims
    # derived from it, registering each frame on the caller's list for the
    # caller's end-of-cycle unpersist. The unrolled rounds reference e once
    # per round (plus outdeg/hosts each deriving from it), and without the
    # cache every reference re-ran the union-of-deltas read + distinct
    # shuffle — ~6 full edge scans per build (guide §5: reuse justifies
    # the cache; values are integer-exact either way). The driver QUERY
    # twin passes tracked=None and stays cache-free: a persisted
    # intermediate would survive the call and serve later invocations a
    # warm memo (exactly the cross-run caching the bench forbids).
    def _p(df):
        if tracked is None:
            return df
        tracked.append(df)
        return df.persist()

    e = _p(edges.where(F.col("src") != F.col("dst")).distinct())
    outdeg = _p(e.groupBy("src").agg(F.count(F.lit(1)).alias("deg")))
    hosts = _p(
        e.select(F.col("src").alias("host"))
        .unionByName(e.select(F.col("dst").alias("host")))
        .distinct()
    )
    bc = F.broadcast if is_small_dim(hosts) else (lambda df: df)
    ranks = hosts.select("host", F.lit(PR_SCALE).cast("long").alias("rnk"))
    for _ in range(iters):
        contrib = (
            e.join(bc(ranks), e.src == ranks.host)
            .join(bc(outdeg), "src")
            .select("dst", F.expr("rnk div deg").cast("long").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        ranks = hosts.join(
            bc(contrib), hosts.host == contrib.dst, "left"
        ).select(
            "host",
            (F.lit(PR_BASE) + F.expr("(17 * coalesce(s, 0)) div 20"))
            .cast("long")
            .alias("rnk"),
        )
    return ranks


def _canon(df: DataFrame, a: str, b: str) -> DataFrame:
    """Canonical undirected edges: u = max, v = min, self-loops dropped."""
    return (
        df.where(F.col(a) != F.col(b))
        .select(
            F.greatest(a, b).alias("u"), F.least(a, b).alias("v")
        )
        .distinct()
    )


def connected_components_star(
    edges: DataFrame,
    vertices: DataFrame,
    max_rounds: int = 50,
    tracked: list | None = None,
) -> tuple[DataFrame, int]:
    """(components, rounds): components = [id, comp] with comp = the
    component's minimum vertex id; rounds = star-contraction rounds run
    (O(log n) — pinned by the chain-fixture test). ``edges`` needs columns
    (src, dst); ``vertices`` one column ``id`` (singletons keep comp=id).
    ``tracked`` (engine path): each round's checkpoint is registered on
    the caller's list for its end-of-cycle release, as in
    ``integer_pagerank``."""

    def _cp(df):
        cp = df.localCheckpoint()
        if tracked is not None:
            tracked.append(cp)
        return cp

    e = _cp(_canon(edges, "src", "dst"))
    rounds = 0
    converged = False
    for _ in range(max_rounds):
        rounds += 1
        # large-star over symmetric neighborhoods
        sym = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        lmins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("mn", F.col("u")).alias("m"))
        )
        large = (
            sym.join(lmins, "u")
            .where("v > u")
            .select(F.col("v").alias("src"), F.col("m").alias("dst"))
        )
        e2 = _canon(large, "src", "dst")
        # small-star over the (larger -> smaller) orientation: every smaller
        # neighbor v < u, so min(neighbors ∪ {u}) = min(v)
        smins = e2.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            e2.join(smins, "u")
            .select(F.col("v").alias("src"), F.col("m").alias("dst"))
            .unionByName(
                smins.select(F.col("u").alias("src"), F.col("m").alias("dst"))
            )
        )
        new_e = _cp(_canon(small, "src", "dst"))
        changed = (
            new_e.exceptAll(e)
            .unionByName(e.exceptAll(new_e))
            .limit(1)
            .count()
        )
        e = new_e
        if changed == 0:
            converged = True
            break
    if not converged:
        # Exiting via max_rounds means the edge set is NOT a star forest: a
        # vertex may appear under multiple u rows -> duplicate (id, comp)
        # rows and non-minimum labels. Silent wrong answers are worse than a
        # loud failure; max_rounds=50 covers ~2^25-deep chains, so hitting
        # this is a caller bug (raise, don't warn).
        raise RuntimeError(
            f"connected_components_star: no fixpoint after {max_rounds} "
            "rounds; result would be inconsistent (raise max_rounds)"
        )
    # star forest: every non-root points at its component min; roots and
    # singletons never appear on the u side
    comp = (
        vertices.select(F.col("id"))
        .join(e.select(F.col("u").alias("id"), F.col("v").alias("c")), "id",
              "left")
        .select("id", F.coalesce("c", F.col("id")).alias("comp"))
    )
    return comp, rounds
