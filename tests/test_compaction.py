"""url_seen consolidation ("compaction"): with compact_every=2, a 4-cycle
run must produce the exact same trace as refspec AND the url_seen read path
must switch to base+delta form."""

import dataclasses

from frontier_engine import schemas
from frontier_engine.config import config_for_fixture
from frontier_engine.fixtures import FixtureConfig
from frontier_engine.golden import build_engine, diff_traces, ref_trace, spark_trace
from frontier_engine.refspec import read_fixture_rows, run


def test_compacted_seen_matches_refspec(
    spark, tiny_fixture_dir, tmp_path_factory, monkeypatch
):
    import builtins

    from frontier_engine import tableio

    fix = FixtureConfig(n_urls=2000)
    cfg = dataclasses.replace(config_for_fixture(fix), compact_every=2)
    work = str(tmp_path_factory.mktemp("engine-compact"))
    eng = build_engine(spark, tiny_fixture_dir, work, cfg)

    # manifest JSON reads per cycle: a steady cycle must not re-read the
    # history, so the count may not grow with the cycle number
    reads: list = []

    def counting_open(path, mode="r", *a, **kw):
        if str(path).endswith(".json") and "r" in mode:
            reads[-1] += 1
        return builtins.open(path, mode, *a, **kw)

    monkeypatch.setattr(tableio, "open", counting_open, raising=False)
    for k in range(1, 5):  # what eng.run(cycles=4) runs
        reads.append(0)
        eng.run_cycle(k, build_filters=k < 4)
    monkeypatch.undo()
    assert reads[1:] == [reads[1]] * 3, reads

    # compaction actually happened: manifests 2 and 4 carry url_seen_base
    m2, m4 = eng.io.manifest(2), eng.io.manifest(4)
    assert "url_seen_base" in m2["tables"]
    assert "url_seen_base" in m4["tables"]

    # the consolidated read equals the raw delta union
    base_read = eng.io.read_appended(spark, "url_seen", 4, schemas.URL_SEEN)
    deltas = [
        eng.io.read_cycle(spark, "url_seen", c, schemas.URL_SEEN)
        for c in range(1, 5)
    ]
    raw = deltas[0]
    for d in deltas[1:]:
        raw = raw.unionByName(d)
    # full-row multiset, not just url_hash: a consolidation that garbles
    # host_bucket (partition pruning key) or first_seen_cycle (the TTL
    # window's residual filter) must fail here, not only downstream
    key = lambda r: (r["url_hash"], r["host_bucket"], r["first_seen_cycle"])  # noqa: E731
    assert sorted(map(key, base_read.collect())) == sorted(
        map(key, raw.collect())
    )

    # resolved history is consolidated too (R16 status pruning analog)
    assert "resolved_base" in m4["tables"]
    res_read = eng.io.read_appended(spark, "resolved", 4, schemas.RESOLVED)
    res_raw = eng.io.read_cycle(spark, "resolved", 1, schemas.RESOLVED)
    for c in range(2, 5):
        res_raw = res_raw.unionByName(
            eng.io.read_cycle(spark, "resolved", c, schemas.RESOLVED)
        )
    assert sorted(
        (r["cycle"], r["url_hash"], r["state"]) for r in res_read.collect()
    ) == sorted(
        (r["cycle"], r["url_hash"], r["state"]) for r in res_raw.collect()
    )

    st = spark_trace(spark, eng.io, range(1, 5))
    pages, seeds, robots = read_fixture_rows(tiny_fixture_dir)
    rt = ref_trace(run(pages, seeds, robots, cfg, cycles=4))
    assert diff_traces(st, rt) == []


def test_host_edges_and_nd_bands_compaction(
    spark, tiny_fixture_dir, tmp_path_factory
):
    """Round-4 verdict #6: the two accumulating tables added in round 4
    (host_edges, nd_bands) compact on the same cadence as url_seen — rank
    builds and full-closure fallbacks read O(1) dirs, not O(cycles). The
    consolidated read must equal the raw delta union EXACTLY (multiset),
    and the trace stays golden. Both handlers (corpus, host graph) and the
    core's own compaction run here, so the compacting cycle's one commit
    must carry the tables of all three."""
    fix = FixtureConfig(n_urls=2000)
    cfg = dataclasses.replace(
        config_for_fixture(fix),
        compact_every=2,
        host_rank_every=1,
        enrich_pages=True,
        ann_index=True,
        ann_index_mode="ivf",
        nd_closure_every=2,
    )
    work = str(tmp_path_factory.mktemp("engine-compact-edges"))
    eng = build_engine(spark, tiny_fixture_dir, work, cfg)
    eng.run(cycles=3)

    m2 = eng.io.manifest(2)
    assert {
        # core
        "pending", "url_seen", "scheduled", "discoveries", "lineage",
        "resolved", "url_seen_base", "resolved_base",
        # corpus handler
        "page_stats", "nd_bands", "nd_components", "nd_buckets",
        "ann_centroids", "ann_index", "nd_bands_base", "nd_buckets_base",
        "ann_index_base",
        # host graph handler
        "host_edges", "host_rank", "host_edges_base",
        # the filter build, recorded by its meta update
        "filters",
    } == set(m2["tables"])
    assert m2["meta"]["nd_mode"] == "full"
    assert m2["meta"]["ann_quantizer_cycle"] == 1

    for name, schema, key in (
        ("host_edges", schemas.HOST_EDGES,
         lambda r: (r["src_host"], r["dst_host"])),
        ("nd_bands", schemas.ND_BANDS,
         lambda r: (r["_id"], r["band"], r["bkey"])),
        ("url_seen", schemas.URL_SEEN,
         lambda r: (r["url_hash"], r["first_seen_cycle"])),
        ("ann_index", schemas.ANN_INDEX,
         lambda r: (r["url_hash"], r["cell"])),
    ):
        got = sorted(
            key(r)
            for r in eng.io.read_appended(spark, name, 3, schema).collect()
        )
        raw = []
        for c in range(1, 4):
            raw += [
                key(r)
                for r in eng.io.read_cycle(spark, name, c, schema).collect()
            ]
        assert got == sorted(raw) and len(got) > 0, name

    # base+delta path actually in use: the cycle-3 read unions exactly the
    # cycle-2 base dir and the cycle-3 delta dir
    st = spark_trace(spark, eng.io, range(1, 4))
    pages, seeds, robots = read_fixture_rows(tiny_fixture_dir)
    rt = ref_trace(run(pages, seeds, robots, cfg, cycles=3))
    assert diff_traces(st, rt) == []

    # and the committed host_rank at cycle 3 (built THROUGH the compacted
    # base) still equals the pure-Python rank over all raw edges
    from frontier_engine.graph_py import integer_pagerank_py

    edges = {
        (r["src_host"], r["dst_host"])
        for c in range(1, 4)
        for r in eng.io.read_cycle(
            spark, "host_edges", c, schemas.HOST_EDGES
        ).collect()
    }
    got_rank = {
        r["host"]: r["rnk"]
        for r in eng.io.read_cycle(
            spark, "host_rank", 3, schemas.HOST_RANK
        ).collect()
    }
    assert got_rank == integer_pagerank_py(edges)


def test_incremental_closure_across_compaction_boundary(
    spark, tiny_fixture_dir, tmp_path_factory
):
    """An incremental nd-closure whose delta range crosses a compaction
    cycle must still see that cycle's band rows. With nd_closure_every=2
    and compact_every=3 over 4 cycles, closure 2 (cycle 4, incremental)
    reads the cycle-3 band DELTA while cycle 3 also committed an
    nd_bands_base absorbing cycles 1-3. Correct today because compaction
    never deletes per-cycle delta dirs (read_delta_range depends on
    them); this pins that invariant — a future "prune deltas once a base
    exists" optimization would silently drop cycle-3 docs from every
    later closure."""
    from collections import defaultdict

    fix = FixtureConfig(n_urls=2000)
    cfg = dataclasses.replace(
        config_for_fixture(fix),
        enrich_pages=True,
        nd_closure_every=2,
        compact_every=3,
    )
    work = str(tmp_path_factory.mktemp("engine-ndclosure-compact"))
    eng = build_engine(spark, tiny_fixture_dir, work, cfg)
    eng.run(cycles=4)

    # the seam is really present: base at the compaction cycle, second
    # closure incremental, its input exactly the cycle-3+4 band deltas
    assert "nd_bands_base" in eng.io.manifest(3)["tables"]
    assert eng.io.manifest(2)["meta"]["nd_mode"] == "full"
    m4 = eng.io.manifest(4)["meta"]
    assert m4["nd_mode"] == "incremental"
    d34 = sum(
        eng.io.read_cycle(spark, "nd_bands", c, schemas.ND_BANDS).count()
        for c in (3, 4)
    )
    assert m4["nd_input_bands"] == d34

    # exactness: cycle-4 components == pure union-find over ALL bands
    bands = eng.io.read_appended(
        spark, "nd_bands", 4, schemas.ND_BANDS
    ).collect()
    verts = [
        r["url_hash"]
        for r in eng.io.read_appended(
            spark, "page_stats", 4, schemas.PAGE_STATS
        ).select("url_hash").distinct().collect()
    ]
    got = {
        r["url_hash"]: r["nd_comp"]
        for r in eng.io.read_cycle(
            spark, "nd_components", 4, schemas.ND_COMPONENTS
        ).collect()
    }
    assert len(got) == len(verts) > 0

    parent = {v: v for v in verts}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    buckets = defaultdict(list)
    for r in bands:
        buckets[(r["band"], r["bkey"])].append(r["_id"])
    for ids in buckets.values():
        m = min(ids)
        for i in ids:
            ra, rb = find(m), find(i)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    comp_min = {}
    for v in verts:
        r = find(v)
        comp_min[r] = min(comp_min.get(r, v), v)
    assert got == {v: comp_min[find(v)] for v in verts}
