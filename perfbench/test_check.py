"""Harness tests for the benchmark's checker and input generator.

    python3 -m pytest perfbench/test_check.py -q

No Spark needed: the "committed" trace is built from the reference itself,
so an unmodified copy must pass and a corrupted copy must fail.
"""

import copy
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import check  # noqa: E402
import gen  # noqa: E402
from run import WORKLOADS, engine_config  # noqa: E402


def _rows(cols: dict) -> list[dict]:
    return [dict(zip(cols, vals)) for vals in zip(*cols.values())]


def _crawl(workload: str, seed: int = 3, n_pages: int = 600):
    w = WORKLOADS[workload]
    c = gen.Corpus(seed, n_pages)
    pages = c.pages_rows()
    cfg = engine_config(w, c.budgets)
    ref = check.reference(
        _rows(pages), _rows(c.seed_rows(pages["url"])),
        _rows(c.robots_rows()), cfg, w.cycles,
    )
    facts = {
        "page_text": c.page_text(),
        "budgets": cfg.budgets if w.polite else None,
        "default_budget": cfg.default_budget,
        "stages": False,
    }
    return ref, facts


def _as_committed(snap: dict, page_text: dict) -> dict:
    """What a correct engine commits for the cycle of ``snap``."""
    got = copy.deepcopy(snap)
    rows = [t for v in snap["scheduled"].values() for t in v]
    got["resolved"] = {t[1]: "done" for t in rows if t[0] in page_text}
    return got


def _check_all(ref, facts, corrupt=None) -> list[str]:
    state: dict = {}
    problems = []
    for snap in ref:
        got = _as_committed(snap, facts["page_text"])
        if corrupt is not None:
            corrupt(got)
        problems += check.check_cycle(got, snap, facts, state)
    return problems


def test_reference_trace_passes():
    for workload in ("seed_flood", "polite_backlog"):
        ref, facts = _crawl(workload)
        assert sum(len(s["seen_delta"]) for s in ref) > 500
        assert _check_all(ref, facts) == []


def test_corrupted_trace_is_rejected():
    ref, facts = _crawl("polite_backlog")

    def corrupt(got):
        if got["cycle"] != 2:
            return
        bucket = next(b for b, v in got["scheduled"].items() if len(v) >= 2)
        rows = got["scheduled"][bucket]
        rows[0], rows[1] = rows[1], rows[0]
        got["seen_delta"].discard(next(iter(got["seen_delta"])))

    problems = _check_all(ref, facts, corrupt)
    assert any("scheduled order differs" in p for p in problems), problems
    assert any("url_seen delta differs" in p for p in problems), problems
    assert all(p.startswith("cycle 2:") for p in problems), problems


def test_double_schedule_and_budget_are_rejected():
    ref, facts = _crawl("polite_backlog")
    snap = ref[0]
    got = _as_committed(snap, facts["page_text"])
    rows = next(v for v in got["scheduled"].values() if v)
    rows.append(rows[0])  # the same URL twice in one cycle
    facts = dict(facts, budgets={h: 0 for h in facts["budgets"]})
    problems = check.check_cycle(got, snap, facts, {})
    assert any("scheduled twice" in p for p in problems), problems
    assert any("past their budget" in p for p in problems), problems


def test_union_find_components():
    bands = [(5, 0, "x"), (3, 0, "x"), (9, 1, "y"), (5, 1, "y"), (7, 2, "z")]
    assert check.union_find_components({3, 5, 7, 9, 11}, bands) == {
        3: 3, 5: 3, 9: 3, 7: 7, 11: 11,
    }


def test_generator_invariants():
    from frontier_engine.canon import canonicalize
    from frontier_engine.extract import ref_extract

    c = gen.Corpus(11, 2000)
    for i in range(c.n_pages):
        assert ref_extract(c.html(i)) == c.texts[i]
        assert canonicalize(c.page_url(i)) == c.canonical(i)
    again = gen.Corpus(11, 2000)
    assert again.pages_rows() == c.pages_rows()
    assert gen.Corpus(12, 2000).texts != c.texts
