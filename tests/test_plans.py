"""Physical-plan assertions: the optimizations the engine's scale story
depends on must be visible in EXPLAIN — predicate pushdown to the parquet
scan, column pruning (html never read unless fetched), broadcast of the
small dims, and the bucketed fetch join not exchanging the pages side."""

import os

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_predicate_pushdown_incremental_scan(spark):
    from frontier_engine.queries import q_incremental_scan

    plan = _plan(q_incremental_scan(spark, "/root/testdata/sf0.001"))
    assert "PushedFilters" in plan
    assert "IsNotNull(ts)" in plan or "GreaterThan(ts" in plan, plan


def test_column_pruning_never_reads_html_for_counts(spark, tiny_fixture_dir,
                                                    tmp_path_factory):
    from frontier_engine.config import config_for_fixture
    from frontier_engine.fixtures import FixtureConfig
    from frontier_engine.golden import build_engine

    cfg = config_for_fixture(FixtureConfig(n_urls=2000))
    work = str(tmp_path_factory.mktemp("engine-plan"))
    eng = build_engine(spark, tiny_fixture_dir, work, cfg)
    # a lineage-style count over the corpus must not read the html column
    counts = eng._pages_canon().groupBy("host_bucket").agg(
        F.count(F.lit(1)).alias("n")
    )
    plan = _plan(counts)
    scan_lines = [l for l in plan.split("\n") if "ReadSchema" in l]
    assert scan_lines and all("html" not in l for l in scan_lines), plan


def test_broadcast_join_for_dims(spark):
    from frontier_engine.queries import q_top_customers

    plan = _plan(q_top_customers(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_prefilter_adds_no_exchange(spark, tiny_fixture_dir,
                                    tmp_path_factory):
    """split_by_filter must test candidates in place (mapInPandas), not
    re-shuffle them into bucket groups: between the within-batch dedup agg
    and the exact anti-join there must be NO new Exchange on the prefiltered
    path beyond what the agg itself requires. The probe frame is a local
    checkpoint, so the splits' plans start at its LogicalRDD leaf and the
    probe's own shuffles show in the checkpointed RDD's lineage (one
    ShuffledRowRDD per exchange read)."""
    from frontier_engine.config import config_for_fixture
    from frontier_engine.fixtures import FixtureConfig
    from frontier_engine.golden import build_engine
    from frontier_engine.membership import split_by_filter

    cfg = config_for_fixture(FixtureConfig(n_urls=2000))
    work = str(tmp_path_factory.mktemp("engine-plan3"))
    eng = build_engine(spark, tiny_fixture_dir, work, cfg)
    eng.run(cycles=2)  # cycle-1 sidecars exist (cycle 2 skips the build)

    from frontier_engine import schemas

    cand = (
        eng.io.read_cycle(spark, "pending", 2, schemas.PENDING)
        .groupBy("url_hash")
        .agg(
            F.min("url_canon").alias("url_canon"),
            F.min("host").alias("host"),
            F.min("host_bucket").alias("host_bucket"),
        )
    )
    base_exchanges = _plan(cand).count("Exchange hashpartitioning")
    definite_new, maybe_seen, tested = split_by_filter(cand, eng.io, 1, cfg)
    probe = tested._jdf.queryExecution().logical()
    assert probe.getClass().getSimpleName() == "LogicalRDD"
    lineage = probe.rdd().toDebugString()
    assert lineage.count("ShuffledRowRDD") == base_exchanges, lineage
    for df in (definite_new, maybe_seen):
        plan = _plan(df)
        assert "Exchange" not in plan and "ExistingRDD" in plan, plan
    from frontier_engine.scheduler import _release

    _release(tested)


def test_ann_stage_stays_jvm_side(spark):
    """corpus.ann_enrich (the committed ann_index stage) must be pure
    JVM-side built-ins: no Python eval (ArrowEval/BatchEval) nodes, and
    the embedding aggregation must be map-side combined (partial
    HashAggregate before its exchange) — the round-5 explode+agg spelling
    replaced 16 interpreted higher-order filters per row (98 s -> 15 s at
    180k docs) at the cost of a shuffle that carries only docs x 16
    partials, never word rows."""
    from frontier_engine.corpus import ann_enrich

    df = spark.createDataFrame(
        [(1, "spark query data"), (2, "the a the")], "id long, text string"
    )
    plan = _plan(ann_enrich(df, "text", id_col="id"))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "HashAggregate" in plan, plan
    # partial (map-side) aggregation appears below the exchange
    assert plan.index("partial_sum") > plan.index("Exchange"), plan


def test_sampling_and_packing_plans(spark):
    """stratified_sample must stay a shuffle-free per-row filter;
    token_pack's only exchange is the per-stratum window partitioning."""
    from frontier_engine.queries import q_stratified_sample, q_token_pack

    sample_plan = _plan(q_stratified_sample(spark, "/root/testdata/sf0.001"))
    assert "Exchange" not in sample_plan, sample_plan
    for p in (sample_plan, _plan(q_token_pack(spark, "/root/testdata/sf0.001"))):
        assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_token_pack_sharded_window_partitions_on_both_keys(spark):
    """The scale-sharded packer's running-sum window must partition on
    (lang, shard) — if the shard key fell out of the window spec, one
    dominant language would again be a single unbounded window task."""
    from frontier_engine.queries import q_token_pack_sharded

    plan = _plan(q_token_pack_sharded(spark, "/root/testdata/sf0.001"))
    spec_lines = [l for l in plan.split("\n") if "windowspecdefinition" in l]
    assert spec_lines, plan
    assert all(
        "lang" in l and "shard" in l for l in spec_lines
    ), "\n".join(spec_lines)


def test_ivf_trained_seeding_avoids_global_sort(spark):
    """The k-means seed selection must compile to TakeOrderedAndProject
    (per-partition top-K + K-row merge), never a full global Sort feeding
    a single-task row_number window — at corpus scale that window IS a
    sort of the whole corpus on one task."""
    from frontier_engine.queries import q_ann_ivf_trained_topk

    plan = _plan(q_ann_ivf_trained_topk(spark, "/root/testdata/sf0.001"))
    assert "TakeOrderedAndProject" in plan, plan


def test_ann_corpus_multiprobe_partition_pruned(spark):
    """The multiprobe of the engine's own ann_index must stay a
    PARTITION-PRUNED scan: the probe cells are plan-time literals, so the
    FileScan's PartitionFilters carries `cell IN (...)` with at most
    N_HYPER+1 cells — never a full-index scan."""
    import re

    from frontier_engine.corpus import N_HYPER
    from frontier_engine.queries import q_ann_corpus_multiprobe

    plan = _plan(q_ann_corpus_multiprobe(spark, "/root/testdata/sf0.001"))
    m = re.search(r"PartitionFilters: \[[^]]*cell[^]]* IN \(([^)]*)\)", plan)
    assert m, plan
    cells = [c for c in m.group(1).split(",") if c.strip()]
    assert 1 <= len(cells) <= N_HYPER + 1, m.group(0)


def test_fetch_join_does_not_shuffle_pages(spark, tiny_fixture_dir,
                                           tmp_path_factory):
    """The fetch join must not put an Exchange above the pages scan — either
    the pages side streams into a broadcast join (tiny corpus) or its
    bucketed layout satisfies the join distribution (big corpus)."""
    from frontier_engine.config import config_for_fixture
    from frontier_engine.fixtures import FixtureConfig
    from frontier_engine.golden import build_engine

    cfg = config_for_fixture(FixtureConfig(n_urls=2000))
    work = str(tmp_path_factory.mktemp("engine-plan2"))
    eng = build_engine(spark, tiny_fixture_dir, work, cfg)
    pages = eng._pages_canon().select(
        "url_hash", F.col("url_canon").alias("page_canon"), "html", "text"
    )
    sched = eng._pages_canon().select("url_hash", "url_canon").limit(50)
    # disable auto-broadcast: with a 50-row build side Spark picks
    # BroadcastHashJoin, which NEVER exchanges the pages side regardless
    # of bucketing — the property this test exists to pin (the bucketed
    # layout satisfies the shuffle join's distribution) was vacuous.
    # Forcing the sort-merge branch makes a bucketing regression (e.g.
    # pages_canon written unbucketed) fail here.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = sched.join(pages, "url_hash", "left")
        plan = _plan(j)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
    # the pages scan must be the bucketed table (its layout satisfies the
    # join's required distribution)...
    assert "Bucketed: true" in plan, plan
    # ...and therefore the ONLY hash-distribution exchange in the plan is
    # the probe side's (re-hashing to meet the bucketed side). A second
    # one would mean Spark shuffled the pages side — bucketing regressed.
    n_hash_ex = plan.count("Exchange hashpartitioning")
    assert n_hash_ex == 1, plan


def test_pagerank_dims_broadcast_only_under_threshold(spark, monkeypatch):
    """Round-4 verdict #3: the rank/outdeg/contrib host-dims are no longer
    FORCE-broadcast — the hint is gated on BROADCAST_HOST_MAX (at ~10^8
    north-star hosts a forced multi-GB broadcast per unrolled round would
    OOM the driver; above the gate AQE decides). Below the gate the hint
    is present; ABOVE the gate (simulated by forcing is_small_dim False —
    a 40-row dim gets broadcast by size stats either way, so the physical
    plan alone cannot see the gate) the hint must be ABSENT from the
    analyzed plan, which is what an unconditional-F.broadcast revert
    would break."""
    from frontier_engine import graph
    from frontier_engine.graph import integer_pagerank

    def _analyzed(df) -> str:
        return df._jdf.queryExecution().analyzed().toString()

    edges = spark.createDataFrame(
        [(f"h{i}", f"h{(i * 7 + 1) % 20}") for i in range(40)],
        "src string, dst string",
    )
    ranks = integer_pagerank(edges, iters=1)
    assert "BroadcastHashJoin" in _plan(ranks), _plan(ranks)
    assert "ResolvedHint" in _analyzed(ranks)  # gate said yes -> hinted
    assert ranks.count() == 40  # every src + dst host gets a rank row

    # above-gate regime: the gate says no -> NO broadcast hint anywhere
    monkeypatch.setattr(graph, "is_small_dim", lambda df, max_rows=None: False)
    unhinted = integer_pagerank(edges, iters=1)
    assert "ResolvedHint" not in _analyzed(unhinted), _analyzed(unhinted)
    assert unhinted.count() == 40  # same result either way


def _canon_evals(plan: str) -> int:
    return sum(
        "ArrowEvalPython" in ln and "_canon_host" in ln
        for ln in plan.splitlines()
    )


def test_canonicalize_once_per_url(spark, tiny_fixture_dir,
                                   tmp_path_factory):
    """Both plans that canonicalize URLs — a cycle's candidates and the
    prepare_pages corpus — evaluate the canon UDF ONCE per row: the NULL
    filter must not be pushed below the projection into a second Python
    stage. On cycle 1 the seed list is round-robin spread first, and the
    one evaluation runs above that exchange."""
    import os

    from frontier_engine.config import config_for_fixture
    from frontier_engine.fixtures import FixtureConfig
    from frontier_engine.golden import build_engine
    from frontier_engine.scheduler import canon_pages

    cfg = config_for_fixture(FixtureConfig(n_urls=2000))
    work = str(tmp_path_factory.mktemp("engine-plan-canon"))
    eng = build_engine(spark, tiny_fixture_dir, work, cfg)
    eng.run(cycles=1)
    for cycle in (1, 2):  # seeds, then committed discoveries
        plan = _plan(eng._candidates(cycle))
        assert _canon_evals(plan) == 1, plan
    plan = _plan(eng._candidates(1))
    assert "RoundRobinPartitioning" in plan
    assert plan.index("ArrowEvalPython") < plan.index(
        "RoundRobinPartitioning"
    ), plan  # the UDF node is printed above (= runs after) the exchange
    pages = _plan(canon_pages(
        spark, os.path.join(tiny_fixture_dir, "pages.parquet"), cfg
    ))
    assert _canon_evals(pages) == 1, pages


def test_driver_side_frames_are_local_scans(spark, tmp_path):
    """Small frames the engine builds from driver values — the budgets
    dim, TableIO's empty tables, the filter build's one-row-per-bucket
    task list — must not be RDD scans of Python lists (ExistingRDD):
    every evaluation of one of those runs a job through Python workers."""
    from frontier_engine import schemas
    from frontier_engine.membership import _bucket_rows
    from frontier_engine.politeness import budgets_df
    from frontier_engine.tableio import TableIO

    budgets = budgets_df(spark, {"a.com": 2, "b.com": 5})
    empty = TableIO(str(tmp_path))._empty(spark, schemas.PENDING)
    buckets = _bucket_rows(spark, [3, 5, 6])
    for df in (budgets, empty, buckets):
        assert "ExistingRDD" not in _plan(df), _plan(df)
    assert sorted(map(tuple, budgets.collect())) == [("a.com", 2), ("b.com", 5)]
    assert empty.schema == schemas.PENDING and empty.count() == 0
    assert buckets.rdd.getNumPartitions() == 3
    assert [tuple(r) for r in buckets.collect()] == [(3,), (5,), (6,)]
