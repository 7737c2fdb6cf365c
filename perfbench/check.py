"""Correctness checks for one benchmark crawl, run after the timed region.

Three sources meet here:

- the **committed trace**: what the engine wrote under its TableIO root,
  read back with pyarrow straight from the manifests (no Spark);
- the **reference trace**: ``frontier_engine.refspec.run`` on the same
  generated inputs and config, snapshotted after every cycle;
- **independent facts** the benchmark derives from the generator itself:
  the canonical URL and text of every page, the per-host budgets, and, for
  the output-only stages, the pure-Python twins (``embed_py``/``cell_py``,
  ``integer_pagerank_py``) and a union-find over the committed band rows.

``check_cycle`` compares one cycle (one benchmark operation) and returns a
list of problems; an empty list means the cycle is correct.
"""

from __future__ import annotations

import copy
import hashlib
import json
import os
import pickle

# ---------------------------------------------------------------------------
# committed trace (pyarrow only)
# ---------------------------------------------------------------------------


def _manifest(root: str, cycle: int) -> dict | None:
    p = os.path.join(root, "_manifests", f"manifest.{cycle:06d}.json")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def _read(root: str, rel: str):
    import pyarrow.dataset as ds

    return ds.dataset(
        os.path.join(root, rel), format="parquet", partitioning="hive"
    ).to_table()


def _us(col) -> list:
    import pyarrow as pa
    import pyarrow.compute as pc

    return pc.cast(
        pc.cast(col, pa.timestamp("us", tz="UTC")), pa.int64()
    ).to_pylist()


def read_cycle(root: str, cycle: int) -> dict:
    """The committed outputs of one cycle, as plain Python values."""
    m = _manifest(root, cycle)
    if m is None:
        raise FileNotFoundError(f"cycle {cycle} has no committed manifest")
    tables = m["tables"]

    def rows(name):
        return _read(root, tables[name]).to_pylist() if name in tables else []

    sched_t = _read(root, tables["scheduled"])
    crawl_us = _us(sched_t.column("crawl_ts"))
    planned_us = _us(sched_t.column("planned_fetch_ts"))
    by_bucket: dict = {}
    for r, cu, pu in zip(sched_t.to_pylist(), crawl_us, planned_us):
        by_bucket.setdefault(int(r["host_bucket"]), []).append(
            (r["fetch_seq"], (r["url_canon"], r["url_hash"], r["host"],
                              r["priority"], cu, r["retries"], pu))
        )
    scheduled = {
        b: [t for _, t in sorted(v)] for b, v in by_bucket.items()
    }
    lineage = {
        int(r["host_bucket"]): {
            f: r[f] for f in (
                "rows_scanned", "enqueued", "deduped", "errors",
                "robots_skipped", "discovered", "fetched_ok",
            )
        }
        for r in rows("lineage")
    }
    out = {
        "cycle": cycle,
        "scheduled": scheduled,
        "lineage": lineage,
        "seen_delta": {r["url_hash"] for r in rows("url_seen")},
        "pending": {
            r["url_hash"]: (r["url_canon"], r["priority"], r["retries"])
            for r in rows("pending")
        },
        "resolved": {r["url_hash"]: r["state"] for r in rows("resolved")},
    }
    if "ann_index" in tables:
        out["ann_cells"] = {
            r["url_hash"]: r["cell"] for r in rows("ann_index")
        }
    if "page_stats" in tables:
        out["page_stats"] = {r["url_hash"] for r in rows("page_stats")}
    if "nd_bands" in tables:
        out["nd_bands"] = [
            (r["_id"], r["band"], r["bkey"]) for r in rows("nd_bands")
        ]
    if "host_rank" in tables:
        out["host_rank"] = {r["host"]: r["rnk"] for r in rows("host_rank")}
    if "nd_components" in tables:
        out["nd_components"] = {
            r["url_hash"]: r["nd_comp"] for r in rows("nd_components")
        }
    return out


# ---------------------------------------------------------------------------
# reference trace (refspec, snapshotted per cycle; cached per seed + config)
# ---------------------------------------------------------------------------


def _source_fingerprint(repo_root: str) -> str:
    """Hash of the engine sources the reference depends on: a cached
    reference trace is reused only while they are unchanged."""
    h = hashlib.sha256()
    pkg = os.path.join(repo_root, "frontier_engine")
    for name in sorted(os.listdir(pkg)):
        if name.endswith(".py"):
            with open(os.path.join(pkg, name), "rb") as f:
                h.update(name.encode() + b"\0" + f.read())
    return h.hexdigest()[:16]


def reference(pages, seeds, robots, cfg, cycles: int) -> list[dict]:
    """refspec.run one cycle at a time; returns one snapshot per cycle."""
    from frontier_engine import refspec

    res = None
    carry = None
    out = []
    for k in range(1, cycles + 1):
        res = refspec.run(
            pages, seeds, robots, cfg, 1, start_cycle=k, state=res,
            carry_discoveries=carry,
        )
        carry = res.carry_discoveries
        out.append({
            "cycle": k,
            "scheduled": copy.deepcopy(res.scheduled[k]),
            "lineage": copy.deepcopy(res.lineage[k]),
            "seen_delta": set(res.seen_delta[k]),
            "pending": {
                h: (r.url_canon, r.priority, r.retries)
                for h, r in res.pending.items()
            },
            "host_rank": dict(res.host_rank),
        })
    return out


def cached_reference(cache_dir: str, repo_root: str, key: str, build) -> list:
    """``build()`` once per (key, engine-source fingerprint); the pickle is
    written and read only by this benchmark. Delete ``cache_dir`` (or run
    ``run.py --rebuild-reference``) to force a rebuild."""
    fp = _source_fingerprint(repo_root)
    path = os.path.join(cache_dir, f"{key}-{fp}.pickle")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    ref = build()
    os.makedirs(cache_dir, exist_ok=True)
    tmp = path + f".tmp{os.getpid()}"
    with open(tmp, "wb") as f:
        pickle.dump(ref, f, protocol=pickle.HIGHEST_PROTOCOL)
    os.rename(tmp, path)
    return ref


# ---------------------------------------------------------------------------
# checks
# ---------------------------------------------------------------------------


def _diff_map(name: str, got: dict, want: dict, probs: list) -> None:
    if got == want:
        return
    only_g = set(got) - set(want)
    only_w = set(want) - set(got)
    vals = sum(1 for k in set(got) & set(want) if got[k] != want[k])
    probs.append(
        f"{name}: {len(only_g)} extra, {len(only_w)} missing, "
        f"{vals} differing"
    )


def check_cycle(got: dict, ref: dict, facts: dict, state: dict) -> list[str]:
    """Problems with cycle ``got`` against reference snapshot ``ref``.

    ``facts``: independent inputs — ``page_text`` (canonical URL -> text),
    ``budgets`` (host -> per-cycle budget, None = unbounded) and, for the
    stage stack, ``stages`` = True and ``host_rank_every``. ``state`` carries what earlier cycles
    of the same crawl left behind (``scheduled_before``: url_hash ->
    url_canon of every earlier schedule; ``bands``; ``docs``)."""
    probs: list[str] = []
    k = got["cycle"]

    # -- against the reference --------------------------------------------
    if set(got["scheduled"]) != set(ref["scheduled"]):
        probs.append(
            f"scheduled bucket sets differ: "
            f"{sorted(set(got['scheduled']) ^ set(ref['scheduled']))}"
        )
    for b in sorted(set(got["scheduled"]) & set(ref["scheduled"])):
        if got["scheduled"][b] != ref["scheduled"][b]:
            g, w = got["scheduled"][b], ref["scheduled"][b]
            first = next(
                (i for i, (x, y) in enumerate(zip(g, w)) if x != y),
                min(len(g), len(w)),
            )
            probs.append(
                f"bucket {b}: scheduled order differs at position {first} "
                f"({len(g)} vs {len(w)} rows)"
            )
    if got["lineage"] != ref["lineage"]:
        bad = sorted(
            b for b in set(got["lineage"]) | set(ref["lineage"])
            if got["lineage"].get(b) != ref["lineage"].get(b)
        )
        probs.append(f"lineage differs at buckets {bad}")
    if got["seen_delta"] != ref["seen_delta"]:
        probs.append(
            f"url_seen delta differs: "
            f"{len(got['seen_delta'] - ref['seen_delta'])} extra, "
            f"{len(ref['seen_delta'] - got['seen_delta'])} missing"
        )
    _diff_map("pending carry", got["pending"], ref["pending"], probs)

    # -- properties ---------------------------------------------------------
    rows = [t for v in got["scheduled"].values() for t in v]
    per_host: dict = {}
    for url_canon, h, host, _p, _c, retries, _pl in rows:
        per_host[host] = per_host.get(host, 0) + 1
    budgets = facts.get("budgets")
    if budgets is not None:
        over = [
            h for h, n in per_host.items()
            if n > budgets.get(h, facts["default_budget"])
        ]
        if over:
            probs.append(f"{len(over)} hosts scheduled past their budget")
    hashes = [t[1] for t in rows]
    if len(hashes) != len(set(hashes)):
        probs.append("a URL is scheduled twice in one cycle")
    before = state.setdefault("scheduled_before", {})
    page_text = facts["page_text"]
    for url_canon, h, _host, _p, _c, retries, _pl in rows:
        if h in before:
            # only a retry of a fetch miss may come back
            if retries == 0 or before[h] in page_text:
                probs.append(f"URL scheduled again: {url_canon}")
                break
    done = {h for h, s in got["resolved"].items() if s == "done"}
    want_done = {t[1] for t in rows if t[0] in page_text}
    if done != want_done:
        probs.append(
            f"fetched set differs from the scheduled pages that exist: "
            f"{len(done - want_done)} extra, {len(want_done - done)} missing"
        )
    for t in rows:
        before[t[1]] = t[0]

    # -- output-only stages ----------------------------------------------
    if facts.get("stages"):
        from frontier_engine.corpus import cell_py, embed_py

        text_of = {t[1]: page_text[t[0]] for t in rows if t[1] in done}
        want_cells = {h: cell_py(embed_py(x)) for h, x in text_of.items()}
        _diff_map("ann_index cells", got.get("ann_cells", {}), want_cells,
                  probs)
        if got.get("page_stats") != set(text_of):
            probs.append("page_stats rows differ from the fetched pages")
        if k % facts["host_rank_every"] == 0:
            if got.get("host_rank") != ref["host_rank"]:
                probs.append("host_rank differs from integer_pagerank_py")
        elif "host_rank" in got:
            probs.append("host_rank committed off its cadence")
        state.setdefault("bands", []).extend(got.get("nd_bands", []))
        state.setdefault("docs", set()).update(got.get("page_stats", ()))
        if "nd_components" in got:
            want = union_find_components(state["docs"], state["bands"])
            _diff_map("nd_components", got["nd_components"], want, probs)
    return [f"cycle {k}: {p}" for p in probs]


def union_find_components(docs, bands) -> dict:
    """url_hash -> minimum url_hash of its component, where two docs are
    joined when they share a (band, bkey) bucket."""
    parent = {d: d for d in docs}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    first: dict = {}
    for doc, band, bkey in bands:
        parent.setdefault(doc, doc)
        key = (band, bkey)
        if key not in first:
            first[key] = doc
            continue
        a, b = find(doc), find(first[key])
        if a != b:
            if a < b:
                a, b = b, a
            parent[a] = b
    return {d: find(d) for d in parent}
