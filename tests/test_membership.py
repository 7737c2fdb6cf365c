"""Cuckoo/bloom filter unit tests: zero false negatives (the exactness
invariant), bounded false positives, row-serialization round-trip,
determinism, and the parquet-native build/carry-forward paths."""

import numpy as np

from frontier_engine.membership import (
    BloomFilter,
    CuckooFilter,
    filter_files,
    filter_from_row,
    load_bucket_filter,
)
from frontier_engine.tableio import bucket_of


def _locations(io, cycle):
    """(newest build cycle, {bucket -> cycle of its newest filter file})
    from the store's snapshot."""
    last_build, loc = filter_files(io.snapshot(cycle))
    return last_build, {b: f.cycle for b, f in loc.items()}


def _filter_at(io, cycle, bucket):
    """The bucket's filter row written by the build of ``cycle``."""
    return load_bucket_filter(next(
        f.path for b, f in filter_files(io.snapshot(cycle))[1].items()
        if b == bucket and f.cycle == cycle
    ))


def _buckets(io, cycle):
    """The buckets the filter build of ``cycle`` wrote files for."""
    return sorted(bucket_of(f.path)
                  for f in io.snapshot(cycle).files("filters", cycle))


def _hashes(n, seed=7):
    rng = np.random.default_rng(seed)
    return rng.integers(-(2**63), 2**63 - 1, size=n).astype(np.int64).view(
        np.uint64
    )


def test_cuckoo_no_false_negatives():
    items = _hashes(50_000)
    f = CuckooFilter.with_capacity(len(items))
    assert f.insert_many(items)
    assert f.contains_many(items).all()
    # bounded false positives on disjoint probes
    probes = _hashes(50_000, seed=99)
    fp_rate = f.contains_many(probes).mean()
    assert fp_rate < 0.02, fp_rate
    # parquet-row round-trip preserves answers exactly
    r = f.to_row()
    g = filter_from_row(r["kind"], r["n_bits"], r["data"])
    assert (g.contains_many(probes) == f.contains_many(probes)).all()
    assert g.contains_many(items).all()


def test_cuckoo_incremental_insert():
    a, b = _hashes(10_000, 1), _hashes(10_000, 2)
    f = CuckooFilter.with_capacity(30_000)
    assert f.insert_many(a)
    assert f.insert_many(b)
    assert f.contains_many(a).all() and f.contains_many(b).all()


def test_cuckoo_overflow_reports_false():
    items = _hashes(10_000)
    f = CuckooFilter(16)  # tiny: 64 slots
    assert not f.insert_many(items)


def test_bloom_no_false_negatives():
    items = _hashes(100_000)
    f = BloomFilter.with_capacity(len(items))
    f.insert_many(items)
    assert f.contains_many(items).all()
    probes = _hashes(100_000, seed=5)
    assert f.contains_many(probes).mean() < 0.02
    r = f.to_row()
    g = filter_from_row(r["kind"], r["n_bits"], r["data"])
    assert g.contains_many(items).all()


def test_row_roundtrip_writable_copy_isolated():
    """writable=True must hand back a mutable copy — inserting into it must
    not corrupt the original serialized bytes."""
    items = _hashes(1_000)
    f = CuckooFilter.with_capacity(4_000)
    f.insert_many(items)
    r = f.to_row()
    g = filter_from_row(r["kind"], r["n_bits"], r["data"], writable=True)
    g.insert_many(_hashes(1_000, seed=3))
    h = filter_from_row(r["kind"], r["n_bits"], r["data"])
    assert (h.table == f.table).all()


def test_filters_deterministic():
    items = _hashes(5_000)
    t1 = CuckooFilter.with_capacity(len(items))
    t2 = CuckooFilter.with_capacity(len(items))
    t1.insert_many(items)
    t2.insert_many(items)
    assert (t1.table == t2.table).all()


def test_forced_overflow_rebuilds_bloom(spark, tmp_path):
    """End-to-end rebuild path under a skewed bucket: a cuckoo filter sized
    for a small cycle-1 delta must overflow on a huge cycle-2 delta and be
    rebuilt as a bloom over the bucket's FULL url_seen — with zero false
    negatives across both cycles (the exactness invariant), and with the
    streamed mapInPandas build (bounded per-task memory). Filters live as
    parquet rows written through TableIO — no .npz, no os.link."""
    from frontier_engine import membership, schemas
    from frontier_engine.config import EngineConfig
    from frontier_engine.tableio import TableIO

    io = TableIO(str(tmp_path))
    cfg = EngineConfig(n_buckets=4)

    def seen_df(hashes, bucket, cycle):
        return spark.createDataFrame(
            [(int(h), bucket, cycle) for h in hashes], schemas.URL_SEEN
        )

    io.commit(1, {"url_seen": (seen_df(range(1000, 1100), 1, 1), ["host_bucket"])})
    io.commit_meta_update(1, membership.rebuild_filters(spark, io, 1, cfg))
    f1 = _filter_at(io, 1, 1)
    assert f1.kind == "cuckoo"  # small delta -> cuckoo

    io.commit(
        2, {"url_seen": (seen_df(range(50_000, 70_000), 1, 2), ["host_bucket"])}
    )
    io.commit_meta_update(2, membership.rebuild_filters(spark, io, 2, cfg))
    f2 = _filter_at(io, 2, 1)
    assert f2.kind == "bloom"  # overflowed cuckoo -> full bloom rebuild

    h = np.array(
        list(range(1000, 1100)) + list(range(50_000, 70_000)), dtype=np.uint64
    )
    assert f2.contains_many(h).all()  # no false negatives, ever
    # the bloom is sized by the bucket's full url_seen row count, and its
    # bits are the order-free OR of every hash: the same bytes as a bloom
    # built directly over both cycles' rows
    want = BloomFilter.with_capacity(len(h))  # 20,100 rows
    want.insert_many(h)
    assert (f2.n_bits, f2.to_row()["data"]) == (want.n_bits, want.to_row()["data"])


def test_consolidation_rewrites_and_prunes(spark, tmp_path):
    """consolidate=True must re-emit untouched buckets into the current
    cycle's delta (parallel byte copy, no rebuild) and delete older filter
    dirs — the filters analog of url_seen_base compaction. Answers must be
    preserved exactly for both the touched and the carried bucket."""
    import os as _os

    from frontier_engine import membership, schemas
    from frontier_engine.config import EngineConfig
    from frontier_engine.tableio import TableIO

    io = TableIO(str(tmp_path))
    cfg = EngineConfig(n_buckets=4)

    def seen_df(rows, cycle):
        return spark.createDataFrame(
            [(int(h), b, cycle) for h, b in rows], schemas.URL_SEEN
        )

    io.commit(
        1,
        {
            "url_seen": (
                seen_df([(h, 1) for h in range(100)]
                        + [(h, 2) for h in range(500, 600)], 1),
                ["host_bucket"],
            )
        },
    )
    io.commit_meta_update(1, membership.rebuild_filters(spark, io, 1, cfg))

    # cycle 2 touches only bucket 1; consolidation must carry bucket 2
    io.commit(
        2, {"url_seen": (seen_df([(h, 1) for h in range(200, 250)], 2),
                         ["host_bucket"])}
    )
    m2 = membership.rebuild_filters(spark, io, 2, cfg, consolidate=True)
    io.commit_meta_update(2, m2)
    assert _buckets(io, 2) == [1, 2]  # carried bucket listed
    assert m2["filters"] == 2

    # old dir pruned; everything resolves to cycle 2
    assert not _os.path.isdir(_os.path.join(io.root, "filters", "cycle=1"))
    last_build, loc = _locations(io, 2)
    assert (last_build, loc) == (2, {1: 2, 2: 2})

    f1 = _filter_at(io, 2, 1)
    both = np.array(list(range(100)) + list(range(200, 250)), dtype=np.uint64)
    assert f1.contains_many(both).all()
    f2 = _filter_at(io, 2, 2)
    assert f2.contains_many(np.arange(500, 600, dtype=np.uint64)).all()


def test_pruned_source_row_rebuilt_from_full_history(spark, tmp_path):
    """A consolidation that dies after pruning the older filter dirs but
    before its manifest update leaves cycle 1's manifest pointing at
    pruned rows. The next build must not treat such a bucket as new and
    build it from the delta alone (its older history would read as
    "definitely new"): a previous row that is expected but unreadable is
    rebuilt as a bloom over the bucket's FULL url_seen."""
    import os as _os

    from frontier_engine import membership, schemas
    from frontier_engine.config import EngineConfig
    from frontier_engine.tableio import TableIO

    io = TableIO(str(tmp_path))
    cfg = EngineConfig(n_buckets=4)

    def seen_df(rows, cycle):
        return spark.createDataFrame(
            [(int(h), b, cycle) for h, b in rows], schemas.URL_SEEN
        )

    io.commit(
        1,
        {
            "url_seen": (
                seen_df([(h, 1) for h in range(100)]
                        + [(h, 2) for h in range(500, 600)], 1),
                ["host_bucket"],
            )
        },
    )
    io.commit_meta_update(1, membership.rebuild_filters(spark, io, 1, cfg))

    # cycle 2 consolidates, then "crashes": no commit_meta_update
    io.commit(
        2, {"url_seen": (seen_df([(h, 1) for h in range(200, 250)], 2),
                         ["host_bucket"])}
    )
    membership.rebuild_filters(spark, io, 2, cfg, consolidate=True)
    assert not _os.path.isdir(_os.path.join(io.root, "filters", "cycle=1"))
    assert _locations(io, 2) == (1, {1: 1, 2: 1})  # stale, pruned

    io.commit(
        3, {"url_seen": (seen_df([(h, 2) for h in range(700, 750)], 3),
                         ["host_bucket"])}
    )
    m3 = membership.rebuild_filters(spark, io, 3, cfg)
    io.commit_meta_update(3, m3)
    assert _buckets(io, 3) == [1, 2]
    for b, seen in (
        (1, list(range(100)) + list(range(200, 250))),
        (2, list(range(500, 600)) + list(range(700, 750))),
    ):
        f = _filter_at(io, 3, b)
        missed = int((~f.contains_many(np.array(seen, dtype=np.uint64))).sum())
        assert missed == 0, (b, missed)


def test_empty_delta_cycle_does_not_crash_rebuild(spark, tmp_path):
    """A cycle whose url_seen delta is EMPTY (saturated frontier /
    all-duplicate discoveries) must not kill the build: the partitionBy
    write of an all-empty frame emits no parquet files, so a schema-less
    read-back would raise UNABLE_TO_INFER_SCHEMA (round-3 advice). The
    rebuild must no-op gracefully and keep the logical carry-forward."""
    from frontier_engine import membership, schemas
    from frontier_engine.config import EngineConfig
    from frontier_engine.tableio import TableIO

    io = TableIO(str(tmp_path))
    cfg = EngineConfig(n_buckets=4)

    def seen_df(rows, cycle):
        return spark.createDataFrame(
            [(int(h), b, cycle) for h, b in rows], schemas.URL_SEEN
        )

    io.commit(
        1, {"url_seen": (seen_df([(h, 1) for h in range(100)], 1),
                         ["host_bucket"])}
    )
    io.commit_meta_update(1, membership.rebuild_filters(spark, io, 1, cfg))

    # cycle 2: zero new url_seen rows
    io.commit(2, {"url_seen": (seen_df([], 2), ["host_bucket"])})
    m2 = membership.rebuild_filters(spark, io, 2, cfg)
    io.commit_meta_update(2, m2)
    assert _buckets(io, 2) == []
    assert m2["filters"] == 1  # bucket 1 still covered, carried logically

    last_build, loc = _locations(io, 2)
    assert (last_build, loc) == (2, {1: 1})
    f = _filter_at(io, loc[1], 1)
    assert f.contains_many(np.arange(100, dtype=np.uint64)).all()

    # consolidation on an empty delta: carries the bucket physically
    io.commit(3, {"url_seen": (seen_df([], 3), ["host_bucket"])})
    m3 = membership.rebuild_filters(spark, io, 3, cfg, consolidate=True)
    io.commit_meta_update(3, m3)
    assert _buckets(io, 3) == [1]
    g = _filter_at(io, 3, 1)
    assert g.contains_many(np.arange(100, dtype=np.uint64)).all()


def test_logical_carry_forward_no_copy(spark, tmp_path):
    """A bucket untouched at cycle 2 must NOT be rewritten: cycle 2's delta
    holds only the changed bucket, and the snapshot's filter map resolves the
    untouched bucket back to its cycle-1 row (the logical carry-forward that
    replaced the round-2 hardlink)."""
    from frontier_engine import membership, schemas
    from frontier_engine.config import EngineConfig
    from frontier_engine.tableio import TableIO

    io = TableIO(str(tmp_path))
    cfg = EngineConfig(n_buckets=4)

    def seen_df(rows, cycle):
        return spark.createDataFrame(
            [(int(h), b, cycle) for h, b in rows], schemas.URL_SEEN
        )

    io.commit(
        1,
        {
            "url_seen": (
                seen_df([(h, 1) for h in range(100)]
                        + [(h, 2) for h in range(500, 600)], 1),
                ["host_bucket"],
            )
        },
    )
    m1 = membership.rebuild_filters(spark, io, 1, cfg)
    io.commit_meta_update(1, m1)
    assert _buckets(io, 1) == [1, 2]

    # cycle 2 touches only bucket 1
    io.commit(
        2, {"url_seen": (seen_df([(h, 1) for h in range(200, 250)], 2),
                         ["host_bucket"])}
    )
    m2 = membership.rebuild_filters(spark, io, 2, cfg)
    io.commit_meta_update(2, m2)
    assert _buckets(io, 2) == [1]
    assert m2["filters"] == 2  # still covers both buckets

    last_build, loc = _locations(io, 2)
    assert last_build == 2
    assert loc == {1: 2, 2: 1}  # bucket 2 logically carried from cycle 1

    # bucket 2's row never re-written, still answers from cycle 1
    import os as _os

    assert not _os.path.exists(
        _os.path.join(io.root, "filters", "cycle=2", "host_bucket=2")
    )
    f = _filter_at(io, loc[2], 2)
    assert f.contains_many(np.arange(500, 600, dtype=np.uint64)).all()
    # bucket 1's cycle-2 row includes both deltas (incremental upsert)
    g = _filter_at(io, loc[1], 1)
    both = np.array(list(range(100)) + list(range(200, 250)), dtype=np.uint64)
    assert g.contains_many(both).all()


def test_from_scratch_build_is_full_and_ends_walk(spark, tmp_path):
    """A build with no filter committed below it inserts every delta from
    cycle 1 and marks itself filters_full; the snapshot's filter map then
    stops there, so an entry below a full build is never consulted."""
    from frontier_engine import membership, schemas
    from frontier_engine.config import EngineConfig
    from frontier_engine.tableio import TableIO

    io = TableIO(str(tmp_path))
    cfg = EngineConfig(n_buckets=4)

    def seen_df(rows, cycle):
        return spark.createDataFrame(
            [(int(h), b, cycle) for h, b in rows], schemas.URL_SEEN
        )

    # cycle 1 commits url_seen without a filter build (a run's last cycle)
    io.commit(1, {"url_seen": (seen_df([(h, 1) for h in range(100)], 1),
                               ["host_bucket"])})
    io.commit(2, {"url_seen": (seen_df([(h, 1) for h in range(200, 250)], 2),
                               ["host_bucket"])})
    m2 = membership.rebuild_filters(spark, io, 2, cfg)
    assert m2.get("filters_full") is True
    io.commit_meta_update(2, m2)
    f = _filter_at(io, 2, 1)
    both = np.array(list(range(100)) + list(range(200, 250)), dtype=np.uint64)
    assert f.contains_many(both).all()  # cycle-1 rows covered too

    # an entry below the full build (bucket 3 at cycle 1) is not reached
    io.write_table(spark.createDataFrame(
        [(3, "bloom", 64, "ok", bytes(8))],
        membership._FILTER_ROW_SCHEMA_DDL,
    ), "filters", 1, ["host_bucket"])
    io.commit_meta_update(1, {"filters": 1})
    assert _locations(io, 1) == (1, {3: 1})
    assert _locations(io, 2) == (2, {1: 2})
def test_packed_filter_build_one_file_per_bucket(spark, tmp_path, monkeypatch):
    """More buckets than cores: the build (upserts and consolidation
    carries alike) runs in defaultParallelism tasks, not one task per
    bucket, yet every ``host_bucket=`` dir still gets exactly one file and
    every bucket's filter is byte-identical to a one-bucket-per-task
    build."""
    import glob as _glob
    import os as _os

    import pyarrow.parquet as _pq

    from frontier_engine import membership, schemas
    from frontier_engine.config import EngineConfig
    from frontier_engine.membership import _bucket_rows
    from frontier_engine.tableio import TableIO

    sc = spark.sparkContext
    par = sc.defaultParallelism
    n = 2 * par + 3
    cfg = EngineConfig(n_buckets=n)
    assert _bucket_rows(spark, list(range(n))).rdd.getNumPartitions() == par

    def hashes(b, cycle):
        return [b * 10_000 + cycle * 1_000 + i for i in range(40)]

    def build(root):
        io = TableIO(root)
        for cycle, buckets in ((1, range(n)), (2, [0, n - 1])):
            rows = [(h, b, cycle) for b in buckets for h in hashes(b, cycle)]
            io.commit(cycle, {"url_seen": (
                spark.createDataFrame(rows, schemas.URL_SEEN), ["host_bucket"]
            )})
            io.commit_meta_update(cycle, membership.rebuild_filters(
                spark, io, cycle, cfg, consolidate=cycle == 2
            ))
        return io

    def bucket_files(io):
        out = {}
        for f in _glob.glob(_os.path.join(
            io.root, "filters", "cycle=2", "host_bucket=*", "*.parquet",
        )):
            b = int(f.split("host_bucket=")[1].split(_os.sep)[0])
            out.setdefault(b, []).append(f)
        return out

    packed = build(str(tmp_path / "packed"))
    files = bucket_files(packed)
    assert sorted(files) == list(range(n))  # 2 upserts + more carried than cores
    for fs in files.values():
        assert len(fs) == 1, fs

    # the same build with one bucket per task (the unpacked layout)
    def one_bucket_per_task(spark, buckets):
        with monkeypatch.context() as m:
            m.setattr(type(sc), "defaultParallelism", property(lambda _: n))
            return _bucket_rows(spark, buckets)

    assert one_bucket_per_task(
        spark, list(range(n))
    ).rdd.getNumPartitions() == n
    monkeypatch.setattr(membership, "_bucket_rows", one_bucket_per_task)
    single = bucket_files(build(str(tmp_path / "single")))
    for b in range(n):
        f = _filter_at(packed, 2, b)
        seen = hashes(b, 1) + (hashes(b, 2) if b in (0, n - 1) else [])
        assert f.contains_many(np.array(seen, dtype=np.uint64)).all()
        data = [
            _pq.read_table(fs[b][0], columns=["data"])["data"][0].as_py()
            for fs in (files, single)
        ]
        assert data[0] == data[1]
