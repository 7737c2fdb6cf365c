"""Seeded crawl-input generator for the frontier benchmark.

Writes ``pages``, ``seeds`` and ``robots`` parquet in the FIXTURES.md
schema, plus the per-host politeness budgets as JSON. Everything is a pure
function of ``(seed, n_pages)``: the seed drives host sizes (heavy-tailed),
URL spellings, texts, priorities, robots rules, budgets and the link graph.
The engine never sees this module, only the parquet it writes.

Invariant kept for every page: ``ref_extract(html) == text`` byte for byte
(``<p>`` holds the HTML-escaped text; ``ref_extract`` unescapes it).
"""

from __future__ import annotations

import html as _html
import json
import os
import random
import shutil
from datetime import datetime, timedelta, timezone

# Bump when generation output changes: it keys the on-disk input cache.
GEN_VERSION = 2

T0 = datetime(2024, 1, 1, tzinfo=timezone.utc)

# '&', '<' and '>' exercise the escape/unescape round trip; the
# non-ASCII words pin UTF-8 byte identity through extraction.
VOCAB = [
    "crawl", "frontier", "host", "budget", "robot", "seed", "fetch",
    "queue", "page", "link", "index", "shard", "cycle", "table", "spark",
    "window", "filter", "cuckoo", "bloom", "hash", "merge", "scan", "join",
    "order", "rank", "graph", "token", "corpus", "text", "data", "batch",
    "stream", "commit", "snapshot", "delta", "lineage", "retry", "state",
    "value", "key", "row", "R&D", "a<b", "c>d", "AT&T", "café", "naïve",
    "日本語", "Ωmega", "über", "the", "of", "and", "to", "in", "is",
]
LANGS = ["en", "es", "de", "zh", "fr", "ja"]


def _host_name(h: int) -> str:
    return f"site{h}.bench.test"


class Corpus:
    """The generated inputs of one ``(seed, n_pages)`` pair."""

    def __init__(self, seed: int, n_pages: int):
        self.seed = seed
        self.n_pages = n_pages
        rng = random.Random(seed * 1_000_003 + n_pages)
        self.n_hosts = max(20, n_pages // 50)
        # heavy-tailed host sizes: Zipf(1.1) weights over a seeded
        # permutation of host ids, so the hot hosts move with the seed
        order = list(range(self.n_hosts))
        rng.shuffle(order)
        weights = [0.0] * self.n_hosts
        for rank, h in enumerate(order):
            weights[h] = 1.0 / (rank + 1) ** 1.1
        self.page_host = rng.choices(range(self.n_hosts), weights, k=n_pages)
        by_host: dict[int, list[int]] = {}
        for i, h in enumerate(self.page_host):
            by_host.setdefault(h, []).append(i)
        self.host_pages = by_host
        self.https = [rng.random() < 0.9 for _ in range(self.n_hosts)]
        # 3% of pages live under /private/, which every robots row disallows
        self.private = [rng.random() < 0.03 for _ in range(n_pages)]
        self.qa = [rng.randrange(10) for _ in range(n_pages)]
        self.qb = [rng.randrange(10) for _ in range(n_pages)]
        self.spelling = [rng.random() for _ in range(n_pages)]
        # 1% of pages re-publish an earlier page's URL in another spelling
        # (duplicate canonical rows: prepare_pages keeps the older one)
        self.dup_of = [
            rng.randrange(i) if i > 0 and rng.random() < 0.01 else -1
            for i in range(n_pages)
        ]
        self.ts_off = [rng.randrange(10_000_000) for _ in range(n_pages)]
        self.lang = [rng.choice(LANGS) for _ in range(n_pages)]
        self.texts = [
            " ".join(rng.choice(VOCAB) for _ in range(rng.randint(5, 80)))
            for _ in range(n_pages)
        ]
        self.links = [self._links(rng, i) for i in range(n_pages)]
        self.priority = [rng.randint(1, 100) for _ in range(n_pages)]
        # budgets 1-8 in equal shares, shuffled over the hosts: the seed
        # moves which host gets which budget, not the per-cycle total
        budgets = [1 + h % 8 for h in range(self.n_hosts)]
        rng.shuffle(budgets)
        self.budgets = {
            _host_name(h): b for h, b in enumerate(budgets)
        }
        self.robots_extra = [
            ["/p/1"] if rng.random() < 0.1 else [] for _ in range(self.n_hosts)
        ]
        self.delay_ms = [250 * rng.randint(1, 4) for _ in range(self.n_hosts)]

    def _links(self, rng: random.Random, i: int) -> list[str]:
        out = []
        for _ in range(rng.choice((0, 1, 2, 2, 3, 3, 4, 6))):
            r = rng.random()
            if r < 0.05:
                # past the corpus: the page does not exist -> fetch miss
                h = self.page_host[i]
                t = self.n_pages + rng.randrange(self.n_pages)
                scheme = "https" if self.https[h] else "http"
                out.append(f"{scheme}://{_host_name(h)}/p/{t}?a=0&b=0")
                continue
            if r < 0.65:
                t = rng.choice(self.host_pages[self.page_host[i]])
            else:
                t = rng.randrange(self.n_pages)
            out.append((t, rng.random()))
        return out

    # ---- spellings -----------------------------------------------------

    def _path(self, i: int) -> str:
        return f"/private/{i}" if self.private[i] else f"/p/{i}"

    def _spell(self, i: int, r: float) -> str:
        """Raw spelling of page i's URL; r picks the variant."""
        if self.dup_of[i] >= 0:
            i = self.dup_of[i]
        h = self.page_host[i]
        scheme = "https" if self.https[h] else "http"
        host = _host_name(h)
        path = self._path(i)
        a, b = f"a={self.qa[i]}", f"b={self.qb[i]}"
        if r < 0.70:
            return f"{scheme}://{host}{path}?{a}&{b}"
        if r < 0.85:
            return f"{scheme}://{host}{path}?{b}&{a}"
        if r < 0.93:
            return f"{scheme.upper()}://{host.upper()}{path}?{b}&{a}#frag"
        if r < 0.97:
            port = 443 if scheme == "https" else 80
            return f"{scheme}://{host}:{port}{path}?{a}&{b}"
        # dot segment + escaped unreserved char: the spec (slow) path
        return f"{scheme}://{host}/x/..{path}?{a}&%62{b[1:]}"

    def canonical(self, i: int) -> str:
        """Canonical form of page i's URL, known without canonicalizing."""
        if self.dup_of[i] >= 0:
            i = self.dup_of[i]
        h = self.page_host[i]
        scheme = "https" if self.https[h] else "http"
        return (
            f"{scheme}://{_host_name(h)}{self._path(i)}"
            f"?a={self.qa[i]}&b={self.qb[i]}"
        )

    def page_text(self) -> dict:
        """Canonical URL -> text of the page the engine must serve for it:
        among rows sharing a canonical URL, the one with the smallest
        (warc_ts, url)."""
        best: dict = {}
        for i in range(self.n_pages):
            c = self.canonical(i)
            key = (self.ts_off[i], self.page_url(i))
            if c not in best or key < best[c][0]:
                best[c] = (key, self.texts[i])
        return {c: t for c, (_, t) in best.items()}

    def page_url(self, i: int) -> str:
        if self.dup_of[i] >= 0:
            # another spelling than the original's own
            return self._spell(i, (self.spelling[i] + 0.5) % 1.0)
        return self._spell(i, self.spelling[i])

    def link_href(self, link) -> str:
        if isinstance(link, str):
            return link
        t, r = link
        return self._spell(t, r)

    def html(self, i: int) -> bytes:
        esc = _html.escape(self.texts[i], quote=False)
        lis = "".join(
            f'<li><a href="{self.link_href(l)}">l</a></li>'
            for l in self.links[i]
        )
        body = f"<p>{esc}</p>" + (f"<ul>{lis}</ul>" if lis else "")
        return (
            f"<html><head><title>doc {i}</title></head>"
            f"<body>{body}</body></html>"
        ).encode("utf-8")

    # ---- tables ----------------------------------------------------------

    def pages_rows(self) -> dict:
        n = self.n_pages
        return {
            "url": [self.page_url(i) for i in range(n)],
            "warc_ts": [T0 + timedelta(seconds=self.ts_off[i]) for i in range(n)],
            "html": [self.html(i) for i in range(n)],
            "text": list(self.texts),
            "lang": list(self.lang),
        }

    def seed_rows(self, urls: list[str]) -> dict:
        """Every page URL is seeded (raw spelling), seeded priority."""
        return {"url": list(urls), "priority": list(self.priority)}

    def robots_rows(self) -> dict:
        hosts = range(self.n_hosts)
        return {
            "host": [_host_name(h) for h in hosts],
            "disallow": [["/private/"] + self.robots_extra[h] for h in hosts],
            "crawl_delay_ms": [self.delay_ms[h] for h in hosts],
            "fetched_ts": [T0 for _ in hosts],
        }


def write(out_dir: str, seed: int, n_pages: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    c = Corpus(seed, n_pages)
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    ts = pa.timestamp("us", tz="UTC")
    p = c.pages_rows()
    pq.write_table(
        pa.table(
            {
                "url": pa.array(p["url"], pa.string()),
                "warc_ts": pa.array(p["warc_ts"], ts),
                "html": pa.array(p["html"], pa.binary()),
                "text": pa.array(p["text"], pa.string()),
                "lang": pa.array(p["lang"], pa.string()),
            }
        ),
        os.path.join(tmp, "pages.parquet"),
    )
    s = c.seed_rows(p["url"])
    pq.write_table(
        pa.table(
            {
                "url": pa.array(s["url"], pa.string()),
                "priority": pa.array(s["priority"], pa.int32()),
            }
        ),
        os.path.join(tmp, "seeds.parquet"),
    )
    r = c.robots_rows()
    pq.write_table(
        pa.table(
            {
                "host": pa.array(r["host"], pa.string()),
                "disallow": pa.array(r["disallow"], pa.list_(pa.string())),
                "crawl_delay_ms": pa.array(r["crawl_delay_ms"], pa.int32()),
                "fetched_ts": pa.array(r["fetched_ts"], ts),
            }
        ),
        os.path.join(tmp, "robots.parquet"),
    )
    with open(os.path.join(tmp, "budgets.json"), "w") as f:
        json.dump(c.budgets, f, sort_keys=True)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)


def ensure(cache_dir: str, seed: int, n_pages: int) -> str:
    """Generate-once cache keyed by (generator version, seed, size)."""
    out = os.path.join(cache_dir, f"v{GEN_VERSION}-s{seed}-n{n_pages}")
    if not os.path.exists(os.path.join(out, "budgets.json")):
        write(out, seed, n_pages)
    return out


def seed_subset(inputs: str, stride: int) -> str:
    """Every ``stride``-th row of the seed list, as its own parquet file
    (cached next to it); returns the file name."""
    import pyarrow.parquet as pq

    name = f"seeds_every{stride}.parquet"
    path = os.path.join(inputs, name)
    if not os.path.exists(path):
        t = pq.read_table(os.path.join(inputs, "seeds.parquet"))
        tmp = path + f".tmp{os.getpid()}"
        pq.write_table(t.take(list(range(0, t.num_rows, stride))), tmp)
        os.rename(tmp, path)
    return name
