"""End-to-end golden tests: the Spark engine's trace (crawl order, URL-seen
set, per-bucket lineage) must EXACTLY equal the single-threaded refspec over
multiple cycles — the BASELINE.json:2 correctness gate."""

import os

import pytest

from frontier_engine.config import config_for_fixture
from frontier_engine.fixtures import FixtureConfig
from frontier_engine.golden import (
    build_engine,
    diff_traces,
    ref_trace,
    spark_trace,
)
from frontier_engine.membership import filter_files
from frontier_engine.refspec import read_fixture_rows, run


@pytest.fixture(scope="module")
def golden(spark, tiny_fixture_dir, tmp_path_factory):
    """Run 3 cycles on Spark and refspec over the n=2000 fixture."""
    fix = FixtureConfig(n_urls=2000)
    cfg = config_for_fixture(fix)
    work = str(tmp_path_factory.mktemp("engine"))

    eng = build_engine(spark, tiny_fixture_dir, work, cfg)
    results = eng.run(cycles=3)
    st = spark_trace(spark, eng.io, range(1, 4))

    pages, seeds, robots = read_fixture_rows(tiny_fixture_dir)
    rt = ref_trace(run(pages, seeds, robots, cfg, cycles=3))
    return st, rt, eng, results


def test_trace_matches_refspec(golden):
    st, rt, _, results = golden
    assert all(r.scheduled_rows > 0 for r in results)
    probs = diff_traces(st, rt)
    assert probs == [], "\n".join(probs)


def test_url_seen_exact(golden):
    st, rt, _, _ = golden
    assert st["seen"] == rt["seen"]
    assert len(st["seen"]) > 50  # seeds + discoveries admitted


def test_filter_equivalence(spark, tiny_fixture_dir, golden, tmp_path_factory):
    """Cuckoo/bloom prefilter must not change ANY output — it only changes
    cost (exact-confirm design, SURVEY.md §2.3)."""
    fix = FixtureConfig(n_urls=2000)
    import dataclasses

    cfg_off = dataclasses.replace(
        config_for_fixture(fix), use_seen_filter=False
    )
    work = str(tmp_path_factory.mktemp("engine-nofilter"))
    eng = build_engine(spark, tiny_fixture_dir, work, cfg_off)
    eng.run(cycles=3)
    st_off = spark_trace(spark, eng.io, range(1, 4))
    st_on, _, eng_on, _ = golden
    assert diff_traces(st_on, st_off) == []
    # non-vacuity: the ON run must actually have had filters to consult —
    # if filter wiring breaks (never built / invisible to
    # the snapshot), split_by_filter routes everything down the exact
    # path and this becomes a comparison of two identical exact runs
    assert eng_on.cfg.use_seen_filter
    last_build, loc = filter_files(eng_on.io.snapshot(2))
    assert last_build > 0 and loc, (
        "ON run has no consultable filters — prefilter never engaged"
    )


def test_resume_identical_continuation(
    spark, tiny_fixture_dir, golden, tmp_path_factory
):
    """Kill after cycle 2, resume from the snapshot, cycle 3 must be
    identical to the uninterrupted run (north_rule: resumable)."""
    fix = FixtureConfig(n_urls=2000)
    cfg = config_for_fixture(fix)
    work = str(tmp_path_factory.mktemp("engine-resume"))

    eng = build_engine(spark, tiny_fixture_dir, work, cfg)
    eng.run(cycles=2)

    # a fresh scheduler instance (fresh "process") resumes from the manifest
    eng2 = build_engine(spark, tiny_fixture_dir, work, cfg)
    assert eng2.io.latest_cycle() == 2
    eng2.run(cycles=1)  # auto-continues at cycle 3

    st = spark_trace(spark, eng2.io, range(1, 4))
    full, _, _, _ = golden
    assert diff_traces(st, full) == []


def test_resume_rebuilds_filters_over_gap(
    spark, tiny_fixture_dir, tmp_path_factory
):
    """Regression (round-2 ADVICE): a run's FINAL cycle skips the filter
    build, so after a resume the newest sidecar lags by ≥1 cycle. The next
    rebuild must insert every delta since the previous filter-bearing cycle
    — not just the current cycle's — or previously-seen URLs are
    misclassified as definitely-new (duplicate url_seen rows, re-crawls).
    run(3)+resume run(2) must equal an uninterrupted run(5) exactly."""
    fix = FixtureConfig(n_urls=2000)
    cfg = config_for_fixture(fix)

    work_a = str(tmp_path_factory.mktemp("engine-5straight"))
    eng_a = build_engine(spark, tiny_fixture_dir, work_a, cfg)
    eng_a.run(cycles=5)
    st_a = spark_trace(spark, eng_a.io, range(1, 6))

    work_b = str(tmp_path_factory.mktemp("engine-3plus2"))
    eng_b = build_engine(spark, tiny_fixture_dir, work_b, cfg)
    eng_b.run(cycles=3)  # final cycle commits with build_filters=False
    eng_b2 = build_engine(spark, tiny_fixture_dir, work_b, cfg)
    eng_b2.run(cycles=2)  # cycle-4 rebuild must cover the cycle-3 delta
    st_b = spark_trace(spark, eng_b2.io, range(1, 6))

    assert diff_traces(st_a, st_b) == [], "\n".join(diff_traces(st_a, st_b))

    # url_seen must hold each hash exactly once (no duplicate admissions)
    from frontier_engine import schemas as _s

    seen = eng_b2.io.read_appended(spark, "url_seen", 5, _s.URL_SEEN)
    assert seen.count() == seen.select("url_hash").distinct().count()


def test_recrawl_ttl_golden(spark, tiny_fixture_dir, tmp_path_factory):
    """cfg.recrawl_after_cycles — the reference's actual loop is PERIODIC
    change-scanning (re-enumerate every container each pass), not
    crawl-once. With ttl=2, url_seen entries expire after 2 cycles and
    re-discovered URLs are re-fetched; the Spark trace (order, lineage,
    url_seen, pending) must still EXACTLY equal refspec over 6 cycles, and
    the run must contain at least one genuine recrawl so the test can't
    pass vacuously."""
    import dataclasses

    fix = FixtureConfig(n_urls=2000)
    # compact_every=2 forces url_seen_base consolidations inside the run,
    # so the TTL scan path (read_appended since=) hits BOTH branches: a base
    # at/after the window start (included + residual-filtered) and a base
    # older than it (skipped wholesale, deltas only)
    cfg = dataclasses.replace(
        config_for_fixture(fix), recrawl_after_cycles=2, compact_every=2
    )
    work = str(tmp_path_factory.mktemp("engine-ttl"))
    eng = build_engine(spark, tiny_fixture_dir, work, cfg)
    eng.run(cycles=6)
    st = spark_trace(spark, eng.io, range(1, 7))

    pages, seeds, robots = read_fixture_rows(tiny_fixture_dir)
    rt = ref_trace(run(pages, seeds, robots, cfg, cycles=6))
    probs = diff_traces(st, rt)
    assert probs == [], "\n".join(probs)

    # some hash must be scheduled in >= 2 distinct cycles WITH retries==0
    # both times — dangling-link misses are retried (retries==1 on the
    # second appearance), so without the retries filter this guard is
    # satisfied even when the TTL is entirely inert in both
    # implementations (traces would still match each other)
    sched_cycles: dict = {}
    for k, by_bucket in st["scheduled"].items():
        for rows in by_bucket.values():
            for t in rows:
                if t[5] == 0:  # retries
                    sched_cycles.setdefault(t[1], set()).add(k)
    n_recrawled = sum(1 for cs in sched_cycles.values() if len(cs) >= 2)
    assert n_recrawled > 0, "no fresh (retries=0) recrawl — TTL inert?"


def test_error_backoff_golden(spark, tiny_fixture_dir, tmp_path_factory):
    """cfg.error_backoff_pct — adaptive politeness: a host whose previous
    cycle failed at >= pct% gets a halved budget (floor 1, all-integer
    math). 5-cycle Spark trace must exactly equal refspec, and the backoff
    must genuinely change the trace (refspec with vs without backoff
    diverges) so the test can't pass vacuously."""
    import dataclasses

    fix = FixtureConfig(n_urls=2000)
    cfg = dataclasses.replace(config_for_fixture(fix), error_backoff_pct=10)
    pages, seeds, robots = read_fixture_rows(tiny_fixture_dir)

    ref_b = run(pages, seeds, robots, cfg, cycles=5)
    ref_plain = run(
        pages, seeds, robots, config_for_fixture(fix), cycles=5
    )
    assert any(
        ref_b.scheduled[k] != ref_plain.scheduled[k] for k in range(1, 6)
    ), "fixture produced no backoff — test would be vacuous"

    work = str(tmp_path_factory.mktemp("engine-backoff"))
    eng = build_engine(spark, tiny_fixture_dir, work, cfg)
    eng.run(cycles=5)
    st = spark_trace(spark, eng.io, range(1, 6))
    probs = diff_traces(st, ref_trace(ref_b))
    assert probs == [], "\n".join(probs)


def test_backoff_with_ttl_golden(spark, tiny_fixture_dir, tmp_path_factory):
    """recrawl_after_cycles AND error_backoff_pct together: both features
    mutate scheduling state across cycles (TTL re-admits expired URLs;
    backoff halves budgets off last cycle's host_stats), so their
    interaction — a recrawled URL landing on a host in backoff — is the
    combinatorial hole a per-feature golden can't cover. 6-cycle Spark
    trace must exactly equal refspec running both, and both features must
    genuinely fire (non-vacuity guards)."""
    import dataclasses

    fix = FixtureConfig(n_urls=2000)
    cfg = dataclasses.replace(
        config_for_fixture(fix),
        recrawl_after_cycles=2,
        compact_every=2,
        error_backoff_pct=10,
    )
    pages, seeds, robots = read_fixture_rows(tiny_fixture_dir)

    ref_both = run(pages, seeds, robots, cfg, cycles=6)
    # non-vacuity: backoff changes the trace vs TTL-only...
    ref_ttl_only = run(
        pages, seeds, robots,
        dataclasses.replace(cfg, error_backoff_pct=None), cycles=6,
    )
    assert any(
        ref_both.scheduled[k] != ref_ttl_only.scheduled[k]
        for k in range(1, 7)
    ), "backoff never fired alongside TTL — test would be vacuous"
    # ...and TTL changes it vs backoff-only
    ref_backoff_only = run(
        pages, seeds, robots,
        dataclasses.replace(cfg, recrawl_after_cycles=None), cycles=6,
    )
    assert any(
        ref_both.scheduled[k] != ref_backoff_only.scheduled[k]
        for k in range(1, 7)
    ), "TTL never fired alongside backoff — test would be vacuous"

    work = str(tmp_path_factory.mktemp("engine-ttl-backoff"))
    eng = build_engine(spark, tiny_fixture_dir, work, cfg)
    eng.run(cycles=6)
    st = spark_trace(spark, eng.io, range(1, 7))
    probs = diff_traces(st, ref_trace(ref_both))
    assert probs == [], "\n".join(probs)


def test_page_stats_enrichment_golden(spark, tiny_fixture_dir, tmp_path_factory):
    """cfg.enrich_pages commits a page_stats table per cycle (the
    training-data stage over the engine's own fetched corpus). Every column
    — fingerprint, quality stats, token estimate, lang ID, MinHash-LSH
    near-dup group — must equal an independent pure-Python recomputation."""
    import dataclasses
    import hashlib
    import math
    import re as _re
    from decimal import ROUND_HALF_UP, Decimal

    from frontier_engine import schemas

    fix = FixtureConfig(n_urls=2000)
    cfg = dataclasses.replace(config_for_fixture(fix), enrich_pages=True)
    work = str(tmp_path_factory.mktemp("engine-enrich"))
    eng = build_engine(spark, tiny_fixture_dir, work, cfg)
    eng.run(cycles=1)

    stats = eng.io.read_cycle(
        spark, "page_stats", 1, schemas.PAGE_STATS
    ).collect()
    assert len(stats) > 30  # cycle 1 = the ~50-seed wave minus misses
    texts = {
        r["url_hash"]: r["text"]
        for r in eng._pages_canon().select("url_hash", "text").collect()
    }

    def md5(s: str) -> str:
        return hashlib.md5(s.encode("utf-8")).hexdigest()

    def rnd4(x: float) -> float:
        return float(Decimal(repr(x)).quantize(Decimal("0.0001"), ROUND_HALF_UP))

    # minhash band buckets over the enriched SET (group ids depend on it)
    member_ids = sorted(r["url_hash"] for r in stats)
    doc_bands: dict = {}
    buckets: dict = {}
    for uid in member_ids:
        words = texts[uid].split(" ")
        shingles = {
            " ".join(words[i : i + 3]) for i in range(len(words) - 2)
        }
        if not shingles:
            continue
        sig = [min(md5(f"{i}|{s}") for s in shingles) for i in range(8)]
        keys = [(b, md5(sig[2 * b] + sig[2 * b + 1])) for b in range(4)]
        doc_bands[uid] = keys
        for k in keys:
            buckets.setdefault(k, []).append(uid)

    for r in stats:
        uid = r["url_hash"]
        text = texts[uid]
        words = text.split(" ")
        n_words = len(words)
        n_stop = sum(1 for w in words if w in ("the", "a"))
        n_tech = sum(1 for w in words if w in ("spark", "query", "data"))
        assert r["fp"] == md5(_re.sub("[^a-z0-9]", "", text.lower()))
        assert r["n_words"] == n_words
        assert r["avg_token_len"] == rnd4(len(text) / n_words)
        assert r["stop_ratio"] == rnd4(n_stop / n_words)
        assert r["est_bpe_tokens"] == math.ceil(len(text) / 4)
        want_lang = (
            "en" if n_stop * 10 >= n_words
            else ("tech" if n_tech * 10 >= n_words else "other")
        )
        assert r["predicted_lang"] == want_lang
        if uid in doc_bands:
            want_nd = min(min(buckets[k]) for k in doc_bands[uid])
        else:
            want_nd = uid
        assert r["nd_group"] == want_nd, uid


def test_ann_index_golden(spark, tiny_fixture_dir, tmp_path_factory):
    """cfg.ann_index commits a per-cycle ann_index table (the similarity-
    search stage over the engine's own fetched corpus): every row's feature-
    hashed embedding and hyperplane-LSH cell must equal the pure-Python twin
    exactly, the table must be cell-partitioned on disk (partition-pruned
    probes), and it must cover exactly the cycle's fetched-ok pages."""
    import dataclasses

    from frontier_engine import schemas
    from frontier_engine.corpus import N_HYPER, cell_py, embed_py

    fix = FixtureConfig(n_urls=2000)
    cfg = dataclasses.replace(config_for_fixture(fix), ann_index=True)
    work = str(tmp_path_factory.mktemp("engine-ann"))
    eng = build_engine(spark, tiny_fixture_dir, work, cfg)
    eng.run(cycles=1)

    rows = eng.io.read_cycle(
        spark, "ann_index", 1, schemas.ANN_INDEX
    ).collect()
    assert len(rows) > 30
    texts = {
        r["url_hash"]: r["text"]
        for r in eng._pages_canon().select("url_hash", "text").collect()
    }
    seen_cells = set()
    for r in rows:
        want_emb = embed_py(texts[r["url_hash"]])
        assert list(r["emb"]) == want_emb, r["url_hash"]
        assert r["cell"] == cell_py(want_emb), r["url_hash"]
        seen_cells.add(r["cell"])
    assert all(0 <= c < (1 << N_HYPER) for c in seen_cells)
    # hive cell-partitioned layout on disk (partition pruning for probes)
    m = eng.io.manifest(1)
    tdir = os.path.join(eng.io.root, m["tables"]["ann_index"])
    assert any(n.startswith("cell=") for n in os.listdir(tdir))


def test_extraction_byte_identity(spark, tiny_fixture_dir, golden):
    """BASELINE.json:15 per-row invariant: UDF-extracted text equals the
    stored text column byte-for-byte for EVERY url."""
    from pyspark.sql import functions as F

    from frontier_engine.extract import extract_udf, ref_extract

    _, _, eng, _ = golden
    pc = eng._pages_canon()
    # null-safe inequality: a UDF regressing to NULL output made
    # `extracted != text` SQL-NULL, which where() drops — the mismatch
    # count stayed 0 while every row was wrong
    n_bad = (
        pc.withColumn("extracted", extract_udf()(F.col("html")))
        .where(~F.col("extracted").eqNullSafe(F.col("text")))
        .count()
    )
    assert n_bad == 0
    # and the pure-Python oracle agrees on a sample
    for r in pc.orderBy("url_hash").limit(20).collect():
        assert ref_extract(r["html"]) == r["text"]


def test_nd_closure_matches_union_find(
    spark, tiny_fixture_dir, tmp_path_factory
):
    """Engine-side near-dup closure (cfg.nd_closure_every): the
    nd_components table committed at cycle 2 must EXACTLY equal a
    pure-Python union-find over the accumulated nd_bands rows (docs share
    an edge iff they share a (band, bkey); singleton vertices come from
    page_stats), and the star contraction must respect the O(log n) round
    bound on the engine path (manifest meta nd_rounds)."""
    import dataclasses
    import math
    from collections import defaultdict

    from frontier_engine import schemas

    fix = FixtureConfig(n_urls=2000)
    cfg = dataclasses.replace(
        config_for_fixture(fix), enrich_pages=True, nd_closure_every=2
    )
    work = str(tmp_path_factory.mktemp("engine-ndclosure"))
    eng = build_engine(spark, tiny_fixture_dir, work, cfg)
    eng.run(cycles=2)

    # cycle 1 (closure not due) committed bands but no components
    assert eng.io.manifest(1)["meta"].get("nd_rounds") is None

    bands = eng.io.read_appended(
        spark, "nd_bands", 2, schemas.ND_BANDS
    ).collect()
    verts = [
        r["url_hash"]
        for r in eng.io.read_appended(
            spark, "page_stats", 2, schemas.PAGE_STATS
        )
        .select("url_hash")
        .distinct()
        .collect()
    ]
    got = {
        r["url_hash"]: r["nd_comp"]
        for r in eng.io.read_cycle(
            spark, "nd_components", 2, schemas.ND_COMPONENTS
        ).collect()
    }
    assert len(got) == len(verts) > 0  # one row per doc, no dups

    parent = {v: v for v in verts}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    buckets = defaultdict(list)
    for r in bands:
        buckets[(r["band"], r["bkey"])].append(r["_id"])
    for ids in buckets.values():
        m = min(ids)
        for i in ids:
            union(m, i)
    comp_min = {}
    for v in verts:
        r = find(v)
        comp_min[r] = min(comp_min.get(r, v), v)
    want = {v: comp_min[find(v)] for v in verts}
    assert got == want

    rounds = eng.io.manifest(2)["meta"]["nd_rounds"]
    n = len(verts)
    assert rounds <= 2 * math.ceil(math.log2(max(n, 2))) + 2, rounds


def test_consolidation_resume_golden(
    spark, tiny_fixture_dir, golden, tmp_path_factory
):
    """Crash-after-consolidation resume: a run whose compact cadence
    consolidates the filter store (physical carry of untouched buckets +
    pruning of older filters/cycle dirs) then dies must resume to the
    IDENTICAL continuation — while the prefilter reads ONLY the surviving
    consolidated cycle's filter dirs. Pins membership.py's crash-safety
    argument (filters advisory; consolidation never changes results)
    end-to-end."""
    import dataclasses
    import os as _os

    fix = FixtureConfig(n_urls=2000)
    cfg = dataclasses.replace(config_for_fixture(fix), compact_every=2)
    work = str(tmp_path_factory.mktemp("engine-consol-resume"))
    eng = build_engine(spark, tiny_fixture_dir, work, cfg)
    eng.run_cycle(1)
    eng.run_cycle(2)  # compact cycle: consolidates filters, prunes cycle=1

    fdir = _os.path.join(eng.io.root, "filters")
    assert sorted(_os.listdir(fdir)) == ["cycle=2"]  # old dirs pruned
    last_build, loc = filter_files(eng.io.snapshot(2))
    assert last_build == 2
    assert loc and all(f.cycle == 2 for f in loc.values())  # ONLY cycle-2 reads

    # fresh scheduler = fresh process; resume must continue identically
    eng2 = build_engine(spark, tiny_fixture_dir, work, cfg)
    assert eng2.io.latest_cycle() == 2
    eng2.run_cycle(3, build_filters=False)

    st = spark_trace(spark, eng2.io, range(1, 4))
    st_plain, _, _, _ = golden
    assert diff_traces(st, st_plain) == []


def test_filter_consolidation_crash_resume_golden(
    spark, tiny_fixture_dir, tmp_path_factory, monkeypatch
):
    """A filter consolidation that dies after pruning the older filter
    dirs but before its manifest update (cycle 2 of a compact_every=2
    run) leaves cycle 1's manifest naming pruned rows. A fresh scheduler
    resumed from there must reproduce the refspec trace through cycle 6:
    the next build rebuilds each such bucket from its full url_seen, so no
    seen URL of cycle 1 is later classified "definitely new"."""
    import dataclasses
    import os as _os

    from frontier_engine.tableio import TableIO

    fix = FixtureConfig(n_urls=2000)
    cfg = dataclasses.replace(config_for_fixture(fix), compact_every=2)
    work = str(tmp_path_factory.mktemp("engine-consol-crash"))
    eng = build_engine(spark, tiny_fixture_dir, work, cfg)
    eng.run_cycle(1)

    real_update = TableIO.commit_meta_update

    def crash_at_2(self, cycle, meta_update):
        if cycle == 2:
            raise RuntimeError("killed before the filter manifest update")
        return real_update(self, cycle, meta_update)

    with monkeypatch.context() as m:
        m.setattr(TableIO, "commit_meta_update", crash_at_2)
        with pytest.raises(RuntimeError, match="killed before"):
            eng.run_cycle(2)
    # the crash hit after the prune: cycle 1's rows are gone, yet cycle 2's
    # manifest (committed before the build) carries no filter meta
    fdir = _os.path.join(work, "filters")
    assert sorted(_os.listdir(fdir)) == ["cycle=2"]
    assert "filters" not in eng.io.manifest(2).get("meta", {})

    eng2 = build_engine(spark, tiny_fixture_dir, work, cfg)
    # opening the store removed the crashed build's rows: no manifest
    # names filters/cycle=2
    assert not _os.path.exists(_os.path.join(fdir, "cycle=2"))
    assert eng2.io.latest_cycle() == 2
    for k in range(3, 7):
        eng2.run_cycle(k, build_filters=k < 6)

    st = spark_trace(spark, eng2.io, range(1, 7))
    pages, seeds, robots = read_fixture_rows(tiny_fixture_dir)
    rt = ref_trace(run(pages, seeds, robots, cfg, cycles=6))
    probs = diff_traces(st, rt)
    assert probs == [], "\n".join(probs)


def test_orphan_dirs_from_crashed_commit_ignored(
    spark, tiny_fixture_dir, tmp_path_factory
):
    """The manifest is the checkpoint barrier: a crash AFTER a cycle's data
    dirs are written but BEFORE its manifest publish must leave the run
    resumable at the previous cycle, with the orphan dirs fully replaced
    (never unioned) by the re-run — the reference's write-status-only-on-
    success discipline (base_handler.py ≈L25-45) at table granularity."""
    import os as _os

    fix = FixtureConfig(n_urls=2000)
    cfg = config_for_fixture(fix)
    work = str(tmp_path_factory.mktemp("engine-crash"))
    eng = build_engine(spark, tiny_fixture_dir, work, cfg)
    eng.run_cycle(1)
    eng.run_cycle(2)

    # simulate the crash: cycle-2 data dirs exist, manifest does not
    _os.remove(eng.io._manifest_path(2))
    poison = _os.path.join(work, "scheduled", "cycle=2", "POISON")
    open(poison, "w").close()  # orphan contamination marker

    eng2 = build_engine(spark, tiny_fixture_dir, work, cfg)
    # opening the store removed the dirs no manifest names
    assert not _os.path.exists(_os.path.join(work, "scheduled", "cycle=2"))
    assert eng2.io.latest_cycle() == 1  # torn cycle invisible
    # an orphan left after the store opened (a commit that raised part-way
    # and is retried on the same instance) is replaced by the re-run
    _os.makedirs(_os.path.dirname(poison))
    open(poison, "w").close()
    eng2.run_cycle(2, build_filters=False)
    assert not _os.path.exists(poison)  # orphan REPLACED, not appended to

    st = spark_trace(spark, eng2.io, range(1, 3))
    pages, seeds, robots = read_fixture_rows(tiny_fixture_dir)
    rt = ref_trace(run(pages, seeds, robots, cfg, cycles=2))
    assert diff_traces(st, rt) == []


def test_rerun_of_committed_cycle_refused(
    spark, tiny_fixture_dir, tmp_path_factory
):
    """Re-running a committed cycle must raise before it reads or writes
    anything: its commit would replace the cycle's table dirs one by one,
    and a re-run that failed part-way would leave the committed manifest
    naming a deleted dir. The manifest and every table dir stay
    byte-unchanged."""
    import hashlib

    fix = FixtureConfig(n_urls=2000)
    cfg = config_for_fixture(fix)
    work = str(tmp_path_factory.mktemp("engine-rerun"))
    eng = build_engine(spark, tiny_fixture_dir, work, cfg)
    eng.run_cycle(1, build_filters=False)

    def snapshot():
        out = {}
        for dirpath, _dirs, files in os.walk(work):
            for fn in files:
                p = os.path.join(dirpath, fn)
                with open(p, "rb") as f:
                    out[os.path.relpath(p, work)] = hashlib.sha256(
                        f.read()
                    ).hexdigest()
        return out

    before = snapshot()
    assert "_manifests/manifest.000001.json" in before
    assert any(p.startswith("scheduled/cycle=1/") for p in before)
    with pytest.raises(ValueError, match="already committed"):
        eng.run_cycle(1)
    assert snapshot() == before
    assert eng.io.latest_cycle() == 1


def test_robots_rfc_golden(spark, tiny_fixture_dir, tmp_path_factory):
    """RFC 9309 robots mode (cfg.robots_rfc): allow rules override shorter
    disallows (longest match wins, allow wins ties). The engine trace must
    exactly equal the refspec mirror AND genuinely diverge from prefix-only
    mode (fewer robots skips: /p/1* paths on /p/-disallowed hosts open up)."""
    import dataclasses

    from pyspark.sql import functions as F

    fix = FixtureConfig(n_urls=2000)
    cfg = dataclasses.replace(config_for_fixture(fix), robots_rfc=True)
    work = str(tmp_path_factory.mktemp("engine-rfc-robots"))
    eng = build_engine(spark, tiny_fixture_dir, work, cfg)
    eng.robots = eng.robots.withColumn(
        "allow",
        F.when(
            F.array_contains("disallow", "/p/"), F.array(F.lit("/p/1"))
        ).otherwise(F.array().cast("array<string>")),
    )
    eng.run(cycles=2)
    st = spark_trace(spark, eng.io, range(1, 3))

    pages, seeds, robots = read_fixture_rows(tiny_fixture_dir)
    robots_rfc = [
        dict(r, allow=(["/p/1"] if "/p/" in list(r["disallow"]) else []))
        for r in robots
    ]
    rt = ref_trace(run(pages, seeds, robots_rfc, cfg, cycles=2))
    assert diff_traces(st, rt) == []

    def skips(res_lineage):
        return sum(
            v["robots_skipped"]
            for lin in res_lineage.values()
            for v in lin.values()
        )

    prefix_res = run(
        pages, seeds, robots,
        dataclasses.replace(cfg, robots_rfc=False), cycles=2,
    )
    assert skips(rt["lineage"]) < skips(prefix_res.lineage)  # real divergence
    assert skips(rt["lineage"]) > 0  # non-/p/1 paths still blocked


def test_host_rank_stage_matches_python_pagerank(
    spark, tiny_fixture_dir, golden, tmp_path_factory
):
    """Engine host-authority stage (cfg.host_rank_every): the committed
    host_rank table at cycle 2 must EXACTLY equal the pure-Python integer
    PageRank over the accumulated host_edges rows, and turning the stage
    on must leave the crawl trace untouched (output-only)."""
    import dataclasses

    from frontier_engine import schemas
    from frontier_engine.graph import integer_pagerank_py

    fix = FixtureConfig(n_urls=2000)
    cfg = dataclasses.replace(config_for_fixture(fix), host_rank_every=2)
    work = str(tmp_path_factory.mktemp("engine-hostrank"))
    eng = build_engine(spark, tiny_fixture_dir, work, cfg)
    eng.run(cycles=2)

    edges = [
        (r["src_host"], r["dst_host"])
        for r in eng.io.read_appended(
            spark, "host_edges", 2, schemas.HOST_EDGES
        ).collect()
    ]
    assert len(edges) > 0
    got = {
        r["host"]: r["rnk"]
        for r in eng.io.read_cycle(
            spark, "host_rank", 2, schemas.HOST_RANK
        ).collect()
    }
    want = integer_pagerank_py(edges)
    assert got == want
    assert len(got) > 1
    assert len(set(got.values())) > 1  # ranks genuinely differentiate

    st = spark_trace(spark, eng.io, range(1, 3))
    pages, seeds, robots = read_fixture_rows(tiny_fixture_dir)
    rt = ref_trace(run(pages, seeds, robots, cfg, cycles=2))
    assert diff_traces(st, rt) == []  # output-only: trace unchanged


def test_host_rank_priority_golden(spark, tiny_fixture_dir, tmp_path_factory):
    """The closed authority loop (cfg.host_rank_priority): discovered
    candidates get a +min(2, rnk div PR_SCALE) priority boost from the
    latest committed host_rank build. Trace-AFFECTING — the engine must
    exactly equal the refspec mirror (which maintains the same edge set
    and integer rank), and the boosted run must genuinely diverge from
    the plain run's scheduled priorities."""
    import dataclasses

    fix = FixtureConfig(n_urls=2000)
    cfg = dataclasses.replace(
        config_for_fixture(fix), host_rank_every=1, host_rank_priority=True
    )
    work = str(tmp_path_factory.mktemp("engine-rankprio"))
    eng = build_engine(spark, tiny_fixture_dir, work, cfg)
    eng.run(cycles=3)
    st = spark_trace(spark, eng.io, range(1, 4))

    pages, seeds, robots = read_fixture_rows(tiny_fixture_dir)
    rt = ref_trace(run(pages, seeds, robots, cfg, cycles=3))
    assert diff_traces(st, rt) == []

    plain = run(
        pages, seeds, robots, config_for_fixture(fix), cycles=3
    )

    def prio_multiset(sched):
        return sorted(
            t[3]
            for cyc in sched.values()
            for rows in cyc.values()
            for t in rows
        )

    assert prio_multiset(rt["scheduled"]) != prio_multiset(plain.scheduled)


def test_pr_scale_constants_match():
    from frontier_engine.graph import PR_SCALE
    from frontier_engine.refspec import _PR_SCALE

    assert PR_SCALE == _PR_SCALE


def test_host_rank_priority_resume_identical(
    spark, tiny_fixture_dir, tmp_path_factory
):
    """Resume under the authority loop: the rank state lives ONLY in
    committed tables (host_edges/host_rank + manifests), so a fresh
    scheduler resuming after cycle 2 must schedule cycle 3 with the exact
    same rank-boosted priorities as the uninterrupted run."""
    import dataclasses

    fix = FixtureConfig(n_urls=2000)
    cfg = dataclasses.replace(
        config_for_fixture(fix), host_rank_every=1, host_rank_priority=True
    )
    work_a = str(tmp_path_factory.mktemp("engine-rankprio-full"))
    eng_a = build_engine(spark, tiny_fixture_dir, work_a, cfg)
    eng_a.run(cycles=3)
    st_full = spark_trace(spark, eng_a.io, range(1, 4))

    work_b = str(tmp_path_factory.mktemp("engine-rankprio-resume"))
    eng_b = build_engine(spark, tiny_fixture_dir, work_b, cfg)
    eng_b.run(cycles=2)
    eng_b2 = build_engine(spark, tiny_fixture_dir, work_b, cfg)  # "restart"
    assert eng_b2.io.latest_cycle() == 2
    eng_b2.run_cycle(3, build_filters=False)
    st_resumed = spark_trace(spark, eng_b2.io, range(1, 4))

    assert diff_traces(st_full, st_resumed) == []


def test_host_rank_priority_clamp_parity_seeds_over_100(
    spark, tiny_fixture_dir, tmp_path_factory
):
    """Round-4 advice: the min(100, prio+boost) cap must (a) apply ONLY to
    non-seed candidates — a seed priority > 100 survives untouched in both
    implementations — and (b) apply from cycle 1, BEFORE the first rank
    build exists. The fixture's seeds max at 100, so this runs on a seed
    list bumped to 150: engine trace must equal refspec, a 150-priority
    row must appear scheduled (seeds unclamped), and every non-seed
    scheduled row must sit <= 100 (clamp active from cycle 1)."""
    import dataclasses

    from pyspark.sql import functions as F

    from frontier_engine.scheduler import FrontierScheduler, prepare_pages
    from frontier_engine.tableio import TableIO

    fix = FixtureConfig(n_urls=2000)
    cfg = dataclasses.replace(
        config_for_fixture(fix), host_rank_every=1, host_rank_priority=True
    )
    work = str(tmp_path_factory.mktemp("engine-clamp150"))

    io = TableIO(work)
    pages_path = os.path.join(tiny_fixture_dir, "pages.parquet")
    pc = prepare_pages(spark, pages_path, io, cfg)
    robots = spark.read.parquet(
        os.path.join(tiny_fixture_dir, "robots.parquet")
    )
    seeds = spark.read.parquet(
        os.path.join(tiny_fixture_dir, "seeds.parquet")
    ).withColumn(
        "priority",
        F.when(F.col("priority") >= 90, F.lit(150)).otherwise(
            F.col("priority")
        ),
    )
    eng = FrontierScheduler(spark, io, cfg, pc, robots, seeds)
    eng.run(cycles=2)
    st = spark_trace(spark, eng.io, range(1, 3))

    pages, seed_rows, robots_rows = read_fixture_rows(tiny_fixture_dir)
    seed_rows = [
        {**r, "priority": 150 if r["priority"] >= 90 else r["priority"]}
        for r in seed_rows
    ]
    rt = ref_trace(run(pages, seed_rows, robots_rows, cfg, cycles=2))
    assert diff_traces(st, rt) == [], "\n".join(diff_traces(st, rt))

    prios = [
        t[3]
        for cyc in rt["scheduled"].values()
        for rows in cyc.values()
        for t in rows
    ]
    assert max(prios) == 150  # an over-100 seed survived unclamped
    # cycle 2's non-seed candidates (decayed children of 150-priority
    # parents would be 149 without the clamp) must all sit <= 100
    c2 = [
        t[3] for rows in rt["scheduled"][2].values() for t in rows
        if t[3] != 150 and t[5] == 0  # retries==0, not a carried seed
    ]
    assert c2 and max(c2) <= 100


def test_robots_rfc_wildcard_golden(spark, tiny_fixture_dir, tmp_path_factory):
    """RFC 9309 §2.2.3 wildcards (round-4 verdict #2): '*' matches any
    sequence and a trailing '$' anchors the end of the path. Every host
    gets an extra disallow '/p/*3$' — meaningless under literal-prefix
    matching (no path starts with the literal '/p/*3$'), but under
    wildcard semantics it blocks every /p/ path ending in 3. The engine
    trace must exactly equal the refspec mirror, and the run must
    genuinely diverge from (a) prefix mode and (b) what literal-prefix
    RFC matching would have decided."""
    import dataclasses

    from pyspark.sql import functions as F

    fix = FixtureConfig(n_urls=2000)
    cfg = dataclasses.replace(config_for_fixture(fix), robots_rfc=True)
    work = str(tmp_path_factory.mktemp("engine-rfc-wild"))
    eng = build_engine(spark, tiny_fixture_dir, work, cfg)
    eng.robots = eng.robots.withColumn(
        "disallow", F.array_union("disallow", F.array(F.lit("/p/*3$")))
    )
    eng.run(cycles=2)
    st = spark_trace(spark, eng.io, range(1, 3))

    pages, seeds, robots = read_fixture_rows(tiny_fixture_dir)
    robots_w = [
        dict(r, disallow=list(r["disallow"]) + ["/p/*3$"]) for r in robots
    ]
    rt = ref_trace(run(pages, seeds, robots_w, cfg, cycles=2))
    assert diff_traces(st, rt) == [], "\n".join(diff_traces(st, rt))

    def skips(res_lineage):
        return sum(
            v["robots_skipped"]
            for lin in res_lineage.values()
            for v in lin.values()
        )

    # literal-prefix interpretation of the same rules (prefix mode) must
    # block strictly fewer rows — the wildcard rule is what bites
    prefix_res = run(
        pages, seeds, robots_w,
        dataclasses.replace(cfg, robots_rfc=False), cycles=2,
    )
    assert skips(rt["lineage"]) > skips(prefix_res.lineage)
    # and no surviving scheduled /p/ match TARGET ends in 3 — per RFC 9309
    # §2.2.2 the "$" anchors the end of path+query (fixture URLs all carry
    # ?a=..&b=.. queries, so the rule bites exactly the b=3 residue class)
    from frontier_engine.canon import path_query_of

    bad = [
        t[0]
        for cyc in rt["scheduled"].values()
        for rows in cyc.values()
        for t in rows
        if path_query_of(t[0]).startswith("/p/")
        and path_query_of(t[0]).endswith("3")
    ]
    assert bad == []


def test_nd_closure_incremental_matches_full_recompute(
    spark, tiny_fixture_dir, tmp_path_factory
):
    """Round-4 verdict #5: from the second closure on, the near-dup
    closure is INCREMENTAL — seeded with the previous nd_components star
    forest + nd_buckets reps + only the delta cycles' band rows, instead
    of re-clustering all history. The cycle-3 components must EXACTLY
    equal a pure-Python union-find over ALL bands (the full recompute),
    and the manifest meta must show the incremental mode with an input
    bounded by the delta, not the history."""
    import dataclasses
    from collections import defaultdict

    from frontier_engine import schemas

    fix = FixtureConfig(n_urls=2000)
    cfg = dataclasses.replace(
        config_for_fixture(fix), enrich_pages=True, nd_closure_every=1
    )
    work = str(tmp_path_factory.mktemp("engine-ndclosure-inc"))
    eng = build_engine(spark, tiny_fixture_dir, work, cfg)
    eng.run(cycles=3)

    assert eng.io.manifest(1)["meta"]["nd_mode"] == "full"
    for c in (2, 3):
        assert eng.io.manifest(c)["meta"]["nd_mode"] == "incremental"

    # input bound: closure 3 read exactly cycle 3's band delta (closure 2
    # consumed cycles 1-2's bands are NOT re-read)
    delta3 = eng.io.read_cycle(spark, "nd_bands", 3, schemas.ND_BANDS).count()
    assert eng.io.manifest(3)["meta"]["nd_input_bands"] == delta3
    all_bands_n = eng.io.read_appended(
        spark, "nd_bands", 3, schemas.ND_BANDS
    ).count()
    assert delta3 < all_bands_n  # genuinely less than the history

    # full-recompute oracle: union-find over ALL bands + all page_stats
    bands = eng.io.read_appended(
        spark, "nd_bands", 3, schemas.ND_BANDS
    ).collect()
    verts = [
        r["url_hash"]
        for r in eng.io.read_appended(
            spark, "page_stats", 3, schemas.PAGE_STATS
        ).select("url_hash").distinct().collect()
    ]
    got = {
        r["url_hash"]: r["nd_comp"]
        for r in eng.io.read_cycle(
            spark, "nd_components", 3, schemas.ND_COMPONENTS
        ).collect()
    }
    assert len(got) == len(verts) > 0

    parent = {v: v for v in verts}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    buckets = defaultdict(list)
    for r in bands:
        buckets[(r["band"], r["bkey"])].append(r["_id"])
    for ids in buckets.values():
        m = min(ids)
        for i in ids:
            union(m, i)
    comp_min = {}
    for v in verts:
        r = find(v)
        comp_min[r] = min(comp_min.get(r, v), v)
    want = {v: comp_min[find(v)] for v in verts}
    assert got == want

    # nd_buckets is DELTA-committed (touched buckets only, round-5 verdict
    # #3): the min-merged as-of view over all closure deltas must equal the
    # true per-bucket minimum over all history...
    from pyspark.sql import functions as F

    merged_view = (
        eng.io.read_appended(spark, "nd_buckets", 3, schemas.ND_BUCKETS)
        .groupBy("band", "bkey")
        .agg(F.min("g").alias("g"))
        .collect()
    )
    reps = {(r["band"], r["bkey"]): r["g"] for r in merged_view}
    assert reps == {k: min(ids) for k, ids in buckets.items()}
    # ...while each closure's WRITE tracks its delta: cycle 3's dir holds
    # only buckets touched by cycle 3's band rows, strictly fewer than the
    # full bucket set (the old O(corpus) rewrite)
    delta3_buckets = eng.io.read_cycle(
        spark, "nd_buckets", 3, schemas.ND_BUCKETS
    ).collect()
    touched3 = {
        (r["band"], r["bkey"])
        for r in eng.io.read_cycle(
            spark, "nd_bands", 3, schemas.ND_BANDS
        ).collect()
    }
    assert {(r["band"], r["bkey"]) for r in delta3_buckets} == touched3
    assert len(delta3_buckets) < len(buckets)
    for r in delta3_buckets:  # delta rows carry the MERGED min, not new-only
        assert r["g"] == reps[(r["band"], r["bkey"])]


def test_ann_index_trained_ivf_golden(
    spark, tiny_fixture_dir, tmp_path_factory
):
    """cfg.ann_index_mode="ivf" (round-4 verdict #4): the committed
    ann_index cells come from a TRAINED coarse quantizer — seeded
    quantized-integer k-means over a deterministic md5 SAMPLE of the
    cycle's docs (sample_hex=8 here: half the docs train, ALL docs are
    assigned). Committed centroid stats and every row's cell must equal
    the pure-Python twin exactly, the table must be hive-partitioned by
    trained cell, and a literal-cell probe plan must partition-prune."""
    import dataclasses

    from frontier_engine import schemas
    from frontier_engine.corpus import ANN_IVF_K, ivf_py

    fix = FixtureConfig(n_urls=2000)
    cfg = dataclasses.replace(
        config_for_fixture(fix),
        ann_index=True,
        ann_index_mode="ivf",
        ann_ivf_sample_hex=8,
    )
    work = str(tmp_path_factory.mktemp("engine-ann-ivf"))
    eng = build_engine(spark, tiny_fixture_dir, work, cfg)
    eng.run(cycles=1)

    rows = eng.io.read_cycle(
        spark, "ann_index", 1, schemas.ANN_INDEX
    ).collect()
    assert len(rows) > 30
    items = [(r["url_hash"], list(r["emb"])) for r in rows]
    want_cent, want_cells = ivf_py(items, sample_hex=8)

    got_cent = sorted(
        (r["k"], r["d"], r["s"], r["n"])
        for r in eng.io.read_cycle(
            spark, "ann_centroids", 1, schemas.ANN_CENTROIDS
        ).collect()
    )
    assert got_cent == want_cent
    for r in rows:
        assert r["cell"] == want_cells[r["url_hash"]], r["url_hash"]
    cells = {r["cell"] for r in rows}
    assert 1 < len(cells) <= ANN_IVF_K  # genuinely multi-cell

    # hive trained-cell layout on disk + partition-pruned probe plan
    m = eng.io.manifest(1)
    tdir = os.path.join(eng.io.root, m["tables"]["ann_index"])
    assert any(n.startswith("cell=") for n in os.listdir(tdir))
    probe_cell = sorted(cells)[0]
    from pyspark.sql import functions as F

    probe = eng.io.read_cycle(
        spark, "ann_index", 1, schemas.ANN_INDEX
    ).where(F.col("cell") == F.lit(probe_cell))
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan.split(
        "PartitionFilters", 1
    )[1][:200], plan

    # -- query-side routing (the probe half of the IVF path) -------------
    # nprobe=1 routing via the committed centroid stats must reproduce
    # every indexed vector's committed assignment bit-for-bit
    from frontier_engine.corpus import ivf_probe_topk, ivf_route_py

    for r in rows[:20]:
        assert ivf_route_py(got_cent, list(r["emb"]), nprobe=1) == [
            want_cells[r["url_hash"]]
        ]

    # routed nprobe=2 probe: exact cosine top-3 over ONLY the two routed
    # cell partitions, vs a pure-Python recompute from the same rows
    qrow = min((r for r in rows if any(r["emb"])), key=lambda r: r["url_hash"])
    qemb = list(qrow["emb"])
    route = ivf_route_py(got_cent, qemb, nprobe=2)
    assert len(route) == 2 and route[0] == qrow["cell"]
    got = ivf_probe_topk(
        spark, eng.io, 1, qemb, topk=3, nprobe=2
    )
    pplan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in pplan and "TakeOrderedAndProject" in pplan
    import math

    qn = math.sqrt(sum(x * x for x in qemb))
    want = []
    for r in rows:
        if r["cell"] not in route:
            continue
        nrm = math.sqrt(sum(x * x for x in r["emb"]))
        if nrm == 0:
            continue
        dot = sum(a * b for a, b in zip(r["emb"], qemb))
        want.append((round(dot / (nrm * qn), 6), r["url_hash"]))
    want.sort(key=lambda t: (-t[0], t[1]))
    assert [
        (r["cos_sim"], r["url_hash"]) for r in got.collect()
    ] == [(c, u) for c, u in want[:3]]


def test_recrawl_ttl_with_stale_filter_gap(
    spark, tiny_fixture_dir, tmp_path_factory
):
    """Regression (round-5 self-review): split_by_filter's stale-filter
    gap anti-join must apply the SAME recrawl-TTL window the scheduler's
    exact seen frame uses. With ttl=1 and a resume (whose final cycle
    skipped the filter build, so filters lag by one), a URL first seen in
    the gap cycle is TTL-EXPIRED at the next cycle — the exact path
    re-admits it, and an UN-windowed gap join would silently suppress it.
    run(3)+resume run(3) must equal an uninterrupted run(6) exactly."""
    import dataclasses

    from frontier_engine import schemas as _s

    fix = FixtureConfig(n_urls=2000)
    cfg = dataclasses.replace(
        config_for_fixture(fix), recrawl_after_cycles=1
    )
    assert cfg.use_seen_filter  # the path under test

    work_a = str(tmp_path_factory.mktemp("engine-ttlgap-straight"))
    eng_a = build_engine(spark, tiny_fixture_dir, work_a, cfg)
    eng_a.run(cycles=6)
    st_a = spark_trace(spark, eng_a.io, range(1, 7))

    work_b = str(tmp_path_factory.mktemp("engine-ttlgap-resumed"))
    eng_b = build_engine(spark, tiny_fixture_dir, work_b, cfg)
    eng_b.run(cycles=3)  # final cycle commits with build_filters=False
    eng_b2 = build_engine(spark, tiny_fixture_dir, work_b, cfg)
    eng_b2.run(cycles=3)  # cycle 4 sees filters lagging at cycle 2
    st_b = spark_trace(spark, eng_b2.io, range(1, 7))

    assert diff_traces(st_a, st_b) == [], "\n".join(diff_traces(st_a, st_b))

    # non-vacuity: cycle 4 must actually re-admit a URL first seen in the
    # gap cycle (3) — the exact row the un-windowed gap join suppressed
    seen = eng_b2.io.read_appended(spark, "url_seen", 6, _s.URL_SEEN)
    gap_hashes = {
        r["url_hash"]
        for r in seen.where("first_seen_cycle = 3").collect()
    }
    recrawled = {
        r["url_hash"]
        for r in seen.where("first_seen_cycle = 4").collect()
    } & gap_hashes
    assert recrawled, "fixture produced no gap-cycle recrawl; test vacuous"


def test_null_text_page_degrades_to_miss_not_lost(
    spark, tiny_fixture_dir, tmp_path_factory
):
    """A NULL stored text (PAGES_CANON allows it) used to make the fetch
    `ok` flag SQL-NULL, and a NULL-ok row fell through BOTH where("ok")
    and where("NOT ok") — the URL vanished from done AND miss: no retry,
    no resolved row, already marked seen. With every page's text NULLed,
    every scheduled URL must now take the miss path (retried or errored),
    and none may resolve as done."""
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from frontier_engine import schemas

    fixdir = str(tmp_path_factory.mktemp("nulltext-fixture"))
    for f in ("robots.parquet", "seeds.parquet"):
        shutil.copy(os.path.join(tiny_fixture_dir, f), os.path.join(fixdir, f))
    t = pq.read_table(os.path.join(tiny_fixture_dir, "pages.parquet"))
    cols = {name: t[name] for name in t.column_names}
    cols["text"] = pa.nulls(len(t), pa.string())
    pq.write_table(pa.table(cols), os.path.join(fixdir, "pages.parquet"))

    fix = FixtureConfig(n_urls=2000)
    cfg = config_for_fixture(fix)
    work = str(tmp_path_factory.mktemp("engine-nulltext"))
    eng = build_engine(spark, fixdir, work, cfg)
    eng.run(cycles=1)

    sched = {
        r["url_hash"]
        for r in eng.io.read_cycle(
            spark, "scheduled", 1, schemas.SCHEDULED
        ).collect()
    }
    assert sched, "cycle 1 must schedule something"
    retried = {
        r["url_hash"]
        for r in eng.io.read_cycle(spark, "pending", 1, schemas.PENDING)
        .where("retries = 1")
        .collect()
    }
    resolved = eng.io.read_cycle(
        spark, "resolved", 1, schemas.RESOLVED
    ).collect()
    errored = {r["url_hash"] for r in resolved if r["state"] == "error"}
    assert not [r for r in resolved if r["state"] == "done"]
    lost = sched - retried - errored
    assert not lost, f"{len(lost)} scheduled URLs vanished (NULL-ok leak)"


def test_ann_index_consolidated_whole_corpus_golden(
    spark, tiny_fixture_dir, tmp_path_factory
):
    """Round-5 verdict #1 — the consolidated whole-corpus ANN index.

    Three pinned properties over a 3-cycle IVF run with compact_every=2:

    1. PINNED QUANTIZER: the first build trains ann_centroids; every later
       cycle REUSES those stats verbatim (manifest ann_quantizer_cycle = 1,
       identical centroid rows each cycle), so cell ids are comparable
       across cycles. Every cycle's committed cells must equal routing each
       row's emb through the PINNED stats (ivf_route_py, nprobe=1).
    2. CONSOLIDATION IS THE EXACT UNION: cycle 2 (compact) commits
       ann_index_base; the as-of read at cycle 3 (base@2 + delta@3) must
       equal the plain union of the three per-cycle deltas row-for-row.
    3. WHOLE-CORPUS PROBE: ivf_probe_topk(whole_corpus=True) at cycle 3
       must equal a pure-Python exact cosine top-k over ALL cycles' rows
       restricted to the routed cells, and its scan must stay partition-
       pruned (PartitionFilters on cell) with TakeOrderedAndProject.

    Plus the salted index write: a cell's directory may hold multiple part
    files (hot cells spread over ANN_WRITE_SALT tasks — round-5 verdict #4).
    """
    import dataclasses
    import math

    from pyspark.sql import functions as F

    from frontier_engine import schemas
    from frontier_engine.corpus import ivf_probe_topk, ivf_route_py
    from frontier_engine.handlers import ANN_WRITE_SALT

    fix = FixtureConfig(n_urls=2000)
    cfg = dataclasses.replace(
        config_for_fixture(fix),
        ann_index=True,
        ann_index_mode="ivf",
        compact_every=2,
    )
    work = str(tmp_path_factory.mktemp("engine-ann-consolidated"))
    eng = build_engine(spark, tiny_fixture_dir, work, cfg)
    eng.run(cycles=3)

    # -- 1. pinned quantizer ---------------------------------------------
    cent_by_cycle = {}
    for c in (1, 2, 3):
        assert eng.io.manifest(c)["meta"]["ann_quantizer_cycle"] == 1
        cent_by_cycle[c] = sorted(
            (r["k"], r["d"], r["s"], r["n"])
            for r in eng.io.read_cycle(
                spark, "ann_centroids", c, schemas.ANN_CENTROIDS
            ).collect()
        )
    assert cent_by_cycle[1] == cent_by_cycle[2] == cent_by_cycle[3]
    pinned = cent_by_cycle[1]

    deltas = {
        c: eng.io.read_cycle(
            spark, "ann_index", c, schemas.ANN_INDEX
        ).collect()
        for c in (1, 2, 3)
    }
    assert all(len(v) > 0 for v in deltas.values())
    for c, rows in deltas.items():
        for r in rows[:25]:
            assert ivf_route_py(pinned, list(r["emb"]), nprobe=1) == [
                r["cell"]
            ], (c, r["url_hash"])

    # -- 2. consolidation = exact union ------------------------------------
    assert "ann_index_base" in eng.io.manifest(2)["tables"]
    all_rows = {r["url_hash"]: r for c in (1, 2, 3) for r in deltas[c]}
    asof = eng.io.read_appended(
        spark, "ann_index", 3, schemas.ANN_INDEX
    ).collect()
    assert len(asof) == sum(len(v) for v in deltas.values())
    for r in asof:
        w = all_rows[r["url_hash"]]
        assert (r["cell"], list(r["emb"])) == (w["cell"], list(w["emb"]))

    # -- salted write: some cell dir holds >1 part file --------------------
    assert ANN_WRITE_SALT > 1
    base_dir = os.path.join(eng.io.root, eng.io.manifest(2)["tables"]["ann_index_base"])
    multi = 0
    for cell_dir in os.listdir(base_dir):
        if not cell_dir.startswith("cell="):
            continue
        parts = [
            n
            for n in os.listdir(os.path.join(base_dir, cell_dir))
            if n.endswith(".parquet")
        ]
        multi = max(multi, len(parts))
    assert multi > 1, "hot cells should spread over multiple files"

    # -- 3. whole-corpus probe ---------------------------------------------
    qrow = min(
        (r for r in deltas[3] if any(r["emb"])), key=lambda r: r["url_hash"]
    )
    qemb = list(qrow["emb"])
    route = ivf_route_py(pinned, qemb, nprobe=2)
    got = ivf_probe_topk(
        spark, eng.io, 3, qemb, topk=5, nprobe=2, whole_corpus=True
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    # EVERY unioned index segment (base@2 + delta@3 = 2 scans) must be
    # partition-pruned on cell — one unpruned branch would silently scan
    # a whole segment at corpus scale
    import re as _re

    pf = _re.findall(r"PartitionFilters: \[[^]]*\]", plan)
    assert len(pf) >= 2, plan
    assert all("cell" in p for p in pf), pf
    assert "TakeOrderedAndProject" in plan
    got_rows = [(r["url_hash"], r["cos_sim"]) for r in got.collect()]

    qn = math.sqrt(sum(x * x for x in qemb))
    want = []
    for r in all_rows.values():
        if r["cell"] not in route:
            continue
        nrm = math.sqrt(sum(x * x for x in r["emb"]))
        if nrm == 0:
            continue
        dot = sum(a * b for a, b in zip(r["emb"], qemb))
        want.append((r["url_hash"], round(dot / (nrm * qn), 6)))
    want.sort(key=lambda t: (-t[1], t[0]))
    assert got_rows == want[:5]
    # the whole-corpus probe saw docs from EVERY cycle's delta, not cycle 3
    probed_ids = {u for u, _s in want}
    for c in (1, 2, 3):
        assert probed_ids & {r["url_hash"] for r in deltas[c]} or all(
            r["cell"] not in route for r in deltas[c]
        )


def test_ann_quantizer_retrain_on_compact_golden(
    spark, tiny_fixture_dir, tmp_path_factory
):
    """cfg.ann_retrain_on_compact — the quantizer-refresh variant of the
    consolidated index: at each compacting cycle the IVF quantizer
    RETRAINS over the accumulated corpus and the whole ann_index_base is
    re-assigned under the new stats as part of the compaction rewrite.
    Pins: (1) quantizer provenance — cycle 1 trains, the compacting cycle
    2 retrains (ann_quantizer_cycle == 2), cycle 3 reuses the retrained
    stats verbatim; (2) the retrain is non-vacuous (stats actually
    change); (3) EVERY row of the as-of index at cycle 3 (re-assigned
    base@2 + delta@3) carries the nearest-cell assignment under the
    retrained stats (ivf_route_py twin); (4) content is preserved — the
    as-of url_hash/emb set equals the plain union of the per-cycle
    fetches; (5) the whole-corpus probe stays exact."""
    import dataclasses
    import math

    from frontier_engine import schemas
    from frontier_engine.corpus import ivf_probe_topk, ivf_route_py

    fix = FixtureConfig(n_urls=2000)
    cfg = dataclasses.replace(
        config_for_fixture(fix),
        ann_index=True,
        ann_index_mode="ivf",
        compact_every=2,
        ann_retrain_on_compact=True,
    )
    work = str(tmp_path_factory.mktemp("engine-ann-retrain"))
    eng = build_engine(spark, tiny_fixture_dir, work, cfg)
    eng.run(cycles=3)

    # (1) provenance
    assert eng.io.manifest(1)["meta"]["ann_quantizer_cycle"] == 1
    assert eng.io.manifest(2)["meta"]["ann_quantizer_cycle"] == 2
    assert eng.io.manifest(3)["meta"]["ann_quantizer_cycle"] == 2

    def cent(c):
        return sorted(
            (r["k"], r["d"], r["s"], r["n"])
            for r in eng.io.read_cycle(
                spark, "ann_centroids", c, schemas.ANN_CENTROIDS
            ).collect()
        )

    # (2) retrain changed the stats; (cycle 3 reuses them verbatim)
    assert cent(2) != cent(1)
    assert cent(3) == cent(2)
    retrained = cent(2)

    # (3) every as-of row is assigned under the RETRAINED stats
    asof = eng.io.read_appended(
        spark, "ann_index", 3, schemas.ANN_INDEX
    ).collect()
    assert "ann_index_base" in eng.io.manifest(2)["tables"]
    for r in asof:
        assert ivf_route_py(retrained, list(r["emb"]), nprobe=1) == [
            r["cell"]
        ], r["url_hash"]

    # (4) content preserved: re-assignment changed cells, never rows
    deltas_flat = {}
    for c in (1, 2, 3):
        for r in eng.io.read_cycle(
            spark, "ann_index", c, schemas.ANN_INDEX
        ).collect():
            deltas_flat[r["url_hash"]] = tuple(r["emb"])
    assert {r["url_hash"]: tuple(r["emb"]) for r in asof} == deltas_flat

    # (5) whole-corpus probe exactness under the retrained routing
    qrow = min((r for r in asof if any(r["emb"])), key=lambda r: r["url_hash"])
    qemb = list(qrow["emb"])
    route = ivf_route_py(retrained, qemb, nprobe=2)
    got = [
        (r["url_hash"], r["cos_sim"])
        for r in ivf_probe_topk(
            spark, eng.io, 3, qemb, topk=5, nprobe=2, whole_corpus=True
        ).collect()
    ]
    qn = math.sqrt(sum(x * x for x in qemb))
    want = []
    for r in asof:
        if r["cell"] not in route:
            continue
        nrm = math.sqrt(sum(x * x for x in r["emb"]))
        if nrm == 0:
            continue
        dot = sum(a * b for a, b in zip(r["emb"], qemb))
        want.append((r["url_hash"], round(dot / (nrm * qn), 6)))
    want.sort(key=lambda t: (-t[1], t[0]))
    assert got == want[:5]


def test_resume_without_prior_filter_build_golden(
    spark, tiny_fixture_dir, tmp_path_factory
):
    """A cycle whose predecessor never committed membership filters (e.g.
    the predecessor was the final cycle of a run — build_filters=False)
    must fall back to the exact anti-join and produce the same trace, and
    run_cycle's persisted-frame cleanup must tolerate the fallback (its
    split_by_filter returns no tested frame — a None in the tracked list
    would crash the finally-unpersist on an otherwise-healthy cycle)."""
    fix = FixtureConfig(n_urls=2000)
    cfg = config_for_fixture(fix)  # use_seen_filter=True (default)
    work = str(tmp_path_factory.mktemp("engine-nofilter-resume"))
    eng = build_engine(spark, tiny_fixture_dir, work, cfg)
    eng.run_cycle(1, build_filters=False)  # run(cycles=1) shape
    assert not os.path.isdir(os.path.join(eng.io.root, "filters"))
    eng.run_cycle(2, build_filters=False)  # filterless split path

    st = spark_trace(spark, eng.io, range(1, 3))
    pages, seeds, robots = read_fixture_rows(tiny_fixture_dir)
    rt = ref_trace(run(pages, seeds, robots, cfg, cycles=2))
    assert diff_traces(st, rt) == []


def test_ann_consolidation_under_recrawl_ttl_golden(
    spark, tiny_fixture_dir, tmp_path_factory
):
    """The consolidated ANN index under PERIODIC recrawl (the reference's
    actual loop shape): with recrawl_after_cycles=2 a URL is re-fetched
    and re-indexed, so the accumulated index holds MULTIPLE rows per
    url_hash — an index of fetches. With ann_retrain_on_compact the
    compaction re-assigns that duplicate-id frame (the regime the
    (id, quantized-dims-hash) assignment key exists for). Pins:
    (1) the crawl trace still exactly equals refspec (ann stages are
    output-only); (2) non-vacuity — some url_hash is indexed in >= 2
    delta cycles; (3) the as-of index is the exact MULTISET union of the
    per-cycle deltas (duplicates preserved, never collapsed or fanned
    out by the re-assignment joins); (4) every as-of row — including
    each duplicate — carries the nearest-cell assignment under the stats
    in force (latest retrain)."""
    import dataclasses
    from collections import Counter

    from frontier_engine import schemas
    from frontier_engine.corpus import ivf_route_py

    fix = FixtureConfig(n_urls=2000)
    cfg = dataclasses.replace(
        config_for_fixture(fix),
        recrawl_after_cycles=2,
        compact_every=2,
        ann_index=True,
        ann_index_mode="ivf",
        ann_retrain_on_compact=True,
    )
    work = str(tmp_path_factory.mktemp("engine-ann-ttl"))
    eng = build_engine(spark, tiny_fixture_dir, work, cfg)
    eng.run(cycles=6)

    # (1) ann stages are output-only even under TTL + retrain
    st = spark_trace(spark, eng.io, range(1, 7))
    pages, seeds, robots = read_fixture_rows(tiny_fixture_dir)
    rt = ref_trace(run(pages, seeds, robots, cfg, cycles=6))
    assert diff_traces(st, rt) == []

    deltas = {
        c: eng.io.read_cycle(
            spark, "ann_index", c, schemas.ANN_INDEX
        ).collect()
        for c in range(1, 7)
    }
    # (2) a genuine re-index happened (TTL recrawl reaches the ann stage)
    cycles_of: dict = {}
    for c, rows in deltas.items():
        for r in rows:
            cycles_of.setdefault(r["url_hash"], set()).add(c)
    assert any(len(cs) >= 2 for cs in cycles_of.values()), (
        "no url_hash indexed in two cycles — TTL never reached the index"
    )

    # (3) exact multiset union: duplicates preserved through base
    # consolidation and retrain re-assignment (a key-collision fan-out
    # or collapse in the re-assign join would break the counts)
    asof = eng.io.read_appended(
        spark, "ann_index", 6, schemas.ANN_INDEX
    ).collect()
    assert Counter(
        (r["url_hash"], tuple(r["emb"])) for r in asof
    ) == Counter(
        (r["url_hash"], tuple(r["emb"]))
        for rows in deltas.values()
        for r in rows
    )
    dup_ids = {u for u, cs in cycles_of.items() if len(cs) >= 2}
    assert sum(1 for r in asof if r["url_hash"] in dup_ids) >= 2 * len(
        dup_ids
    )

    # (4) every row (duplicates included) routes to its own nearest cell
    # under the stats in force at the latest retrain
    qc = eng.io.manifest(6)["meta"]["ann_quantizer_cycle"]
    assert qc > 1  # a retrain actually happened inside the run
    stats = sorted(
        (r["k"], r["d"], r["s"], r["n"])
        for r in eng.io.read_cycle(
            spark, "ann_centroids", 6, schemas.ANN_CENTROIDS
        ).collect()
    )
    for r in asof:
        assert ivf_route_py(stats, list(r["emb"]), nprobe=1) == [r["cell"]]
