"""Unit semantics of Snapshot.appended(..., since=) and the
TableIO.read_appended(..., since=) scan built on it: the recrawl-TTL scan
path must read exactly the files of the cycles that can hold in-window
rows — skipping pre-window deltas wholesale, skipping a base older than
the window, and including (whole) a base at/after the window start."""

from frontier_engine import schemas
from frontier_engine.tableio import TableIO


def _delta(spark, cycle, n=3):
    """n url_seen rows stamped with first_seen_cycle=cycle."""
    rows = [(cycle * 100 + i, 0, cycle) for i in range(n)]
    return spark.createDataFrame(rows, schemas.URL_SEEN)


def _hashes(df):
    return sorted(r["url_hash"] for r in df.collect())


def _cycles(io, through, since):
    """(base cycles, delta cycles) whose files the snapshot selects."""
    base, deltas = io.snapshot(through).appended("url_seen", since)
    return sorted({f.cycle for f in base}), sorted({f.cycle for f in deltas})


def test_read_appended_since_prunes_cycle_dirs(spark, tmp_path):
    io = TableIO(str(tmp_path))
    # cycles 1-2: plain deltas; cycle 3: delta + consolidated base (folds
    # cycles 1-3); cycles 4-5: plain deltas
    for c in (1, 2):
        io.commit(c, {"url_seen": (_delta(spark, c), None)})
    base = _delta(spark, 1).unionByName(_delta(spark, 2)).unionByName(
        _delta(spark, 3)
    )
    io.commit(
        3,
        {"url_seen": (_delta(spark, 3), None), "url_seen_base": (base, None)},
    )
    for c in (4, 5):
        io.commit(c, {"url_seen": (_delta(spark, c), None)})

    full = io.read_appended(spark, "url_seen", 5, schemas.URL_SEEN)
    assert len(_hashes(full)) == 15

    # window start AFTER the base: base skipped wholesale, deltas 4-5 only
    assert _cycles(io, 5, 4) == ([], [4, 5])
    got = io.read_appended(spark, "url_seen", 5, schemas.URL_SEEN, since=4)
    assert _hashes(got) == _hashes(
        _delta(spark, 4).unionByName(_delta(spark, 5))
    )

    # window start AT the base cycle: base included whole (it folds older
    # rows in — the caller's residual first_seen_cycle filter drops them)
    assert _cycles(io, 5, 3) == ([3], [4, 5])
    got = io.read_appended(spark, "url_seen", 5, schemas.URL_SEEN, since=3)
    assert _hashes(got) == _hashes(full)
    assert _hashes(
        got.where("first_seen_cycle >= 3")
    ) == _hashes(
        _delta(spark, 3)
        .unionByName(_delta(spark, 4))
        .unionByName(_delta(spark, 5))
    )

    # window start BEFORE the base: identical to read_appended
    assert _cycles(io, 5, 1) == ([3], [4, 5])
    got = io.read_appended(spark, "url_seen", 5, schemas.URL_SEEN, since=1)
    assert _hashes(got) == _hashes(full)

    # through_cycle before the base: plain delta range
    assert _cycles(io, 2, 2) == ([], [2])
    got = io.read_appended(spark, "url_seen", 2, schemas.URL_SEEN, since=2)
    assert _hashes(got) == _hashes(_delta(spark, 2))
