"""run_cycle's checkpointed frames must not outlive the cycle: no RDD is
held for the Spark session (``getPersistentRDDs``) after a cycle that was
not held before it, whether the cycle commits or raises mid-commit. The
check compares RDD ids, not counts: Spark's ContextCleaner may free RDDs
that earlier tests left behind at any point during the cycle."""

import pytest

from frontier_engine.config import config_for_fixture
from frontier_engine.fixtures import FixtureConfig
from frontier_engine.golden import build_engine


def _blocks(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_run_cycle_releases_blocks(spark, tiny_fixture_dir, tmp_path):
    cfg = config_for_fixture(FixtureConfig(n_urls=2000))
    eng = build_engine(spark, tiny_fixture_dir, str(tmp_path), cfg)
    for cycle in (1, 2):  # fresh start, then the filter-probe path
        before = _blocks(spark)
        res = eng.run_cycle(cycle)
        assert res.scheduled_rows > 0
        assert _blocks(spark) <= before


def test_failed_cycle_releases_blocks(spark, tiny_fixture_dir, tmp_path):
    cfg = config_for_fixture(FixtureConfig(n_urls=2000))
    eng = build_engine(spark, tiny_fixture_dir, str(tmp_path), cfg)
    eng.run_cycle(1)

    def failing_commit(cycle, tables, **kw):
        # materialize every pipeline checkpoint, then fail before any
        # table or manifest is written
        tables["lineage"][0].collect()
        raise RuntimeError("commit failed")

    eng.io.commit = failing_commit
    before = _blocks(spark)
    with pytest.raises(RuntimeError, match="commit failed"):
        eng.run_cycle(2)
    assert _blocks(spark) <= before
    assert eng.io.latest_cycle() == 1  # nothing of cycle 2 committed
