"""run_cycle's checkpointed frames must not outlive the cycle: no RDD is
held for the Spark session (``getPersistentRDDs``) after a cycle that was
not held before it, whether the cycle commits or raises mid-commit. The
check compares RDD ids, not counts: Spark's ContextCleaner may free RDDs
that earlier tests left behind at any point during the cycle. Each test
runs the crawl core alone and then with every output handler on, so a
handler that checkpoints or persists outside the cycle's ``tracked`` list
fails it."""

import dataclasses

import pytest

from frontier_engine.config import config_for_fixture
from frontier_engine.fixtures import FixtureConfig
from frontier_engine.golden import build_engine


def _configs():
    core = config_for_fixture(FixtureConfig(n_urls=2000))
    # cycle 2 compacts, retrains the IVF quantizer, closes the near-dup
    # graph and builds the host rank: every handler branch that
    # checkpoints or persists runs
    all_handlers = dataclasses.replace(
        core,
        compact_every=2,
        enrich_pages=True,
        nd_closure_every=2,
        ann_index=True,
        ann_index_mode="ivf",
        ann_retrain_on_compact=True,
        host_rank_every=1,
        host_rank_priority=True,
    )
    return {"core": core, "all_handlers": all_handlers}


def _blocks(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_run_cycle_releases_blocks(spark, tiny_fixture_dir, tmp_path):
    for name, cfg in _configs().items():
        eng = build_engine(spark, tiny_fixture_dir, str(tmp_path / name), cfg)
        for cycle in (1, 2):  # fresh start, then the filter-probe path
            before = _blocks(spark)
            res = eng.run_cycle(cycle)
            assert res.scheduled_rows > 0
            assert _blocks(spark) <= before, (name, cycle)


def test_failed_cycle_releases_blocks(spark, tiny_fixture_dir, tmp_path):
    def failing_commit(cycle, tables, **kw):
        # materialize every pipeline checkpoint, then fail before any
        # table or manifest is written
        tables["lineage"][0].collect()
        raise RuntimeError("commit failed")

    for name, cfg in _configs().items():
        eng = build_engine(spark, tiny_fixture_dir, str(tmp_path / name), cfg)
        eng.run_cycle(1)
        eng.io.commit = failing_commit
        before = _blocks(spark)
        with pytest.raises(RuntimeError, match="commit failed"):
            eng.run_cycle(2)
        assert _blocks(spark) <= before, name
        assert eng.io.latest_cycle() == 1  # nothing of cycle 2 committed
