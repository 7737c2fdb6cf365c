"""Host skew: 30% of URLs on one host (the skew fixture). The engine's one
skew rule is the two-phase politeness window (``politeness_salt``,
politeness.rank_by_budget); it is exact for any salt, so every skewed
trace must equal the refspec golden trace, which has no salt."""

from frontier_engine.config import config_for_fixture
from frontier_engine.fixtures import FixtureConfig, ensure_fixtures
from frontier_engine.golden import build_engine, diff_traces, ref_trace, spark_trace
from frontier_engine.refspec import read_fixture_rows, run
from tests.conftest import FIXTURE_CACHE


def test_skewed_host_with_salting(spark, tmp_path_factory):
    fix_dir = ensure_fixtures(FIXTURE_CACHE, 2000, skew=True)
    fix = FixtureConfig(n_urls=2000, skew=True)
    cfg = config_for_fixture(fix)

    work = str(tmp_path_factory.mktemp("engine-skew"))
    eng = build_engine(spark, fix_dir, work, cfg)
    eng.run(cycles=2)
    st = spark_trace(spark, eng.io, range(1, 3))

    pages, seeds, robots = read_fixture_rows(fix_dir)
    rt = ref_trace(run(pages, seeds, robots, cfg, cycles=2))
    assert diff_traces(st, rt) == []

    # the hot bucket exists: host1 holds ~30% of the frontier
    sizes = {}
    for lin in rt["lineage"].values():
        for b, d in lin.items():
            sizes[b] = sizes.get(b, 0) + d["rows_scanned"]
    assert max(sizes.values()) > 0.25 * sum(sizes.values())


def test_deep_hot_host_two_phase_golden(spark, tmp_path_factory):
    """The n=20000 skew fixture at the default politeness_salt: the hot
    host's eligible frontier grows past salt * budget, so phase 1 of the
    window prunes it at depth, and the 3-cycle trace must still equal
    refspec exactly."""
    from pyspark.sql import functions as F

    from frontier_engine import schemas

    fix_dir = ensure_fixtures(FIXTURE_CACHE, 20000, skew=True)
    fix = FixtureConfig(n_urls=20000, skew=True)
    cfg = config_for_fixture(fix)
    assert cfg.politeness_salt > 1  # the default two-phase window

    work = str(tmp_path_factory.mktemp("engine-skew-deep"))
    eng = build_engine(spark, fix_dir, work, cfg)
    eng.run(cycles=3)

    st = spark_trace(spark, eng.io, range(1, 4))
    pages, seeds, robots = read_fixture_rows(fix_dir)
    rt = ref_trace(run(pages, seeds, robots, cfg, cycles=3))
    assert diff_traces(st, rt) == []

    # a cycle's eligible rows (robots passed) are its scheduled rows plus
    # its deferred ones; pending = deferred + the retried scheduled misses,
    # so the distinct url_hash union of scheduled and pending is exactly
    # the window's input for the host
    hot = fix.host(0)
    limit = cfg.politeness_salt * cfg.budget_of(hot)
    depths = []
    for k in range(1, 4):
        keys = [
            eng.io.read_cycle(spark, name, k, schema)
            .where(F.col("host") == hot)
            .select("url_hash")
            for name, schema in (
                ("scheduled", schemas.SCHEDULED), ("pending", schemas.PENDING)
            )
        ]
        depths.append(keys[0].union(keys[1]).distinct().count())
    assert max(depths) > limit, (depths, limit)


def test_two_phase_window_bounds_task_rows(spark):
    """The exact politeness window must never see more than salt*budget rows
    of one host — phase 1 of rank_by_budget prunes the hot host's frontier
    before the host-partitioned window (the round-1 skew scale-killer) —
    and the scheduled set must be IDENTICAL to the single-window result."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from frontier_engine.config import EngineConfig
    from frontier_engine.fixtures import T0
    from frontier_engine.politeness import budgets_df, rank_by_budget
    from frontier_engine.xxh import xxhash64_str

    cfg = EngineConfig()
    salt, budget = cfg.politeness_salt, cfg.default_budget
    assert salt > 1  # the default posture is skew-safe

    # synthetic skewed frontier: 30% of 2000 URLs on one hot host
    fix = FixtureConfig(n_urls=2000, skew=True)
    rows = []
    for i in range(2000):
        u = fix.canon_url(i)
        h = xxhash64_str(u)
        rows.append(
            (u, h - (1 << 64) if h >= (1 << 63) else h, fix.host(i),
             100 - (i % 17), T0)
        )
    df = spark.createDataFrame(
        rows, "url_canon string, url_hash long, host string, "
        "priority int, crawl_ts timestamp"
    )
    hot = df.groupBy("host").count().agg(F.max("count")).collect()[0][0]
    assert hot > salt * budget  # the hot host actually needs pruning

    budgets = budgets_df(spark, {})
    # phase-1 survivor bound == the exact window's max per-host input
    pre = Window.partitionBy(
        "host", F.pmod(F.col("url_hash"), F.lit(salt))
    ).orderBy(F.desc("priority"), F.asc("crawl_ts"), F.asc("url_hash"))
    surv = (
        df.withColumn("_r1", F.row_number().over(pre))
        .where(F.col("_r1") <= budget)
        .groupBy("host").count().agg(F.max("count")).collect()[0][0]
    )
    assert surv <= salt * budget < hot

    def sched(ranked):
        return sorted(
            (r["host"], r["url_hash"], r["rk"])
            for r in ranked.where(F.col("rk") <= F.col("budget")).collect()
        )

    one = sched(rank_by_budget(df, budgets, budget, salt=1))
    two = sched(rank_by_budget(df, budgets, budget, salt=salt))
    assert one == two and len(one) > 0
