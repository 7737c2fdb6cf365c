"""Deterministic synthetic crawl fixtures (FIXTURES.md) — pages/seeds/robots.

Everything is a pure function of the row index (seeded PRNG keyed on the
index; never wall-clock), so any scale factor regenerates bit-identically.
The generator guarantees the extraction invariant
``ref_extract(html) == text`` byte-for-byte (BASELINE.json:15) and embeds a
deterministic link graph so multi-cycle crawls exercise discovery, dedup,
politeness deferral, robots skips, and missing-page retry/error paths.

Plays the role of the reference's mocked Swift container DBs
(tests/unit/test_container_crawler.py patches ContainerBroker/Ring/handlers;
we patch the *web* instead with deterministic parquet).
"""

from __future__ import annotations

import html as _htmllib
import os
import random
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

T0 = datetime(2024, 1, 1, tzinfo=timezone.utc)

LANGS = ["en", "es", "de", "zh", "fr"]

VOCAB = [
    "the", "fast", "key", "order", "sort", "table", "scan", "merge", "part",
    "window", "small", "hash", "join", "spark", "group", "query", "row",
    "data", "slow", "filter", "customer", "line", "batch", "value", "stream",
    "page", "crawl", "host", "link", "fetch", "queue", "shard", "state",
    "cycle", "snapshot", "budget", "robot", "frontier", "seed", "depth",
]


@dataclass(frozen=True)
class FixtureConfig:
    n_urls: int
    skew: bool = False
    retry_limit: int = 1
    n_buckets: int = 64

    @property
    def n_hosts(self) -> int:
        return max(10, self.n_urls // 200)

    @property
    def pad(self) -> int:
        # link targets in [n_urls, n_urls+pad) have no page -> fetch errors
        return max(1, self.n_urls // 50)

    @property
    def n_seeds(self) -> int:
        return max(50, self.n_urls // 100)

    # ---- per-row pure functions -------------------------------------

    def host_idx(self, i: int) -> int:
        # skew fixture: 30% of URLs on host1 — deliberately NOT host0,
        # whose robots row disallows /p/ (h%11==0): a robots-blocked hot
        # host never reaches the politeness window, so host0 skew would
        # exercise only the bucket write path, not the two-phase window
        if self.skew and i % 10 < 3:
            return 1
        return i % self.n_hosts

    def host(self, i: int) -> str:
        return f"host{self.host_idx(i)}.example.com"

    def canon_url(self, i: int) -> str:
        return f"https://{self.host(i)}/p/{i}?a={i % 5}&b={i % 7}"

    def raw_url(self, i: int) -> str:
        """Raw spelling as it appears in the pages table / link hrefs."""
        if i % 97 == 0 and i >= 97:
            # duplicate of row i-1's canonical URL in a different spelling
            # (i-1 is never itself a dup row, so dup PAIRS exist — the
            # dedup exercise needs colliding canonicals)
            j = i - 1
            return (
                f"HTTPS://{self.host(j).upper()}:443/p/{j}"
                f"?b={j % 7}&a={j % 5}#dup{i}"
            )
        if i % 13 == 0:
            h = self.host(i)
            hm = h[:4].upper() + h[4:].capitalize()  # e.g. HOSTN.example.com-ish
            return f"https://{hm}/p/{i}?b={i % 7}&a={i % 5}#frag"
        return f"https://{self.host(i)}/p/{i}?b={i % 7}&a={i % 5}"

    def text(self, i: int) -> str:
        rng = random.Random(1_000_003 * i + 42)
        words = [rng.choice(VOCAB) for _ in range(rng.randint(5, 60))]
        if i % 20 == 0:  # ~5% non-ASCII rows pin UTF-8 byte identity
            words.extend(["café", "日本語"])
        return " ".join(words)

    def link_targets(self, i: int) -> list[int]:
        if i % 3 == 2:  # some pages have no outlinks
            return []
        return [
            (i * 31 + 7) % (self.n_urls + self.pad),
            (i * 17 + 3) % self.n_urls,
        ]

    def link_href(self, t: int) -> str:
        if t < self.n_urls:
            return self.raw_url(t)
        # target beyond the corpus: canonical spelling, page does not exist
        h = f"host{t % self.n_hosts}.example.com"
        return f"https://{h}/p/{t}?a={t % 5}&b={t % 7}"

    def html(self, i: int, _text: str | None = None) -> bytes:
        # _text lets generate() pass the already-computed text — text(i)
        # seeds a fresh PRNG and draws up to 60 words, and computing it
        # twice per row doubled generation time at the 8M bench fixture
        esc = _htmllib.escape(
            self.text(i) if _text is None else _text, quote=False
        )
        links = "".join(
            f'<li><a href="{self.link_href(t)}">l</a></li>'
            for t in self.link_targets(i)
        )
        body = f"<p>{esc}</p>" + (f"<ul>{links}</ul>" if links else "")
        return (
            f"<html><head><title>doc {i}</title></head>"
            f"<body>{body}</body></html>"
        ).encode("utf-8")

    def warc_ts(self, i: int) -> datetime:
        return T0 + timedelta(seconds=137 * i)

    def lang(self, i: int) -> str:
        return LANGS[i % 5]

    # ---- politeness ---------------------------------------------------

    def budget_of_host_idx(self, h: int) -> int:
        return max(1, 8 - (h % 4))

    def budgets(self) -> dict[str, int]:
        return {
            f"host{h}.example.com": self.budget_of_host_idx(h)
            for h in range(self.n_hosts)
        }

    def robots_rows(self) -> list[dict]:
        rows = []
        for h in range(self.n_hosts):
            disallow = ["/private/"]
            if h % 11 == 0:
                disallow.append("/p/")  # skip-container analog (SURVEY R11)
            rows.append(
                {
                    "host": f"host{h}.example.com",
                    "disallow": disallow,
                    "crawl_delay_ms": 250 * (1 + h % 4),
                    "fetched_ts": T0,
                }
            )
        return rows

    def seed_rows(self) -> list[dict]:
        # n_seeds is an UPPER BOUND: seeds are drawn from i % 17 == 0 rows
        # only (~n_urls/17 candidates), so fixtures under ~850 URLs yield
        # fewer seeds than the spec (n=200 -> 12, not 50). Engine and
        # oracle read the same seeds.parquet, so traces always agree;
        # kept as-is because changing the draw would shift every golden
        # trace and bench counter. Size tiny-fixture expectations from
        # len(seed_rows()), never from n_seeds.
        rows = []
        i = 0
        while len(rows) < self.n_seeds and i < self.n_urls:
            if i % 17 == 0:
                rows.append({"url": self.canon_url(i), "priority": 100 - (i % 10)})
            i += 1
        return rows


def generate(out_dir: str, cfg: FixtureConfig) -> None:
    """Write pages.parquet / seeds.parquet / robots.parquet under out_dir."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    n = cfg.n_urls

    texts = [cfg.text(i) for i in range(n)]
    pages = pa.table(
        {
            "url": pa.array([cfg.raw_url(i) for i in range(n)], pa.string()),
            "warc_ts": pa.array(
                [cfg.warc_ts(i) for i in range(n)], pa.timestamp("us", tz="UTC")
            ),
            "html": pa.array(
                [cfg.html(i, texts[i]) for i in range(n)], pa.binary()
            ),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([cfg.lang(i) for i in range(n)], pa.string()),
        }
    )
    pq.write_table(pages, os.path.join(out_dir, "pages.parquet"))

    seeds = cfg.seed_rows()
    pq.write_table(
        pa.table(
            {
                "url": pa.array([r["url"] for r in seeds], pa.string()),
                "priority": pa.array([r["priority"] for r in seeds], pa.int32()),
            }
        ),
        os.path.join(out_dir, "seeds.parquet"),
    )

    robots = cfg.robots_rows()
    pq.write_table(
        pa.table(
            {
                "host": pa.array([r["host"] for r in robots], pa.string()),
                "disallow": pa.array(
                    [r["disallow"] for r in robots], pa.list_(pa.string())
                ),
                "crawl_delay_ms": pa.array(
                    [r["crawl_delay_ms"] for r in robots], pa.int32()
                ),
                "fetched_ts": pa.array(
                    [r["fetched_ts"] for r in robots], pa.timestamp("us", tz="UTC")
                ),
            }
        ),
        os.path.join(out_dir, "robots.parquet"),
    )


def generator_fingerprint(skew: bool = False) -> str:
    """Content hash of a small probe corpus: changes exactly when fixture
    GENERATION BEHAVIOR changes (not on comment/refactor edits that keep
    output byte-identical). Guards the generate-once caches — without it,
    an edit to the generator silently served every test and bench run the
    stale parquet under the old _COMPLETE marker."""
    import hashlib

    cfg = FixtureConfig(n_urls=250, skew=skew)  # 250 covers the 97/13
    # dup-spelling rules, the h%11 robots rule, and the link pad
    h = hashlib.sha256()
    for i in range(cfg.n_urls):
        for part in (
            cfg.raw_url(i), cfg.text(i), cfg.lang(i),
            cfg.warc_ts(i).isoformat(),
        ):
            h.update(part.encode())
        h.update(cfg.html(i))
    h.update(repr(cfg.seed_rows()).encode())
    h.update(repr(cfg.robots_rows()).encode())
    h.update(repr(sorted(cfg.budgets().items())).encode())
    return h.hexdigest()[:16]


def ensure_fixtures(base_dir: str, n_urls: int, skew: bool = False) -> str:
    """Generate-once cache; returns the fixture directory. The _COMPLETE
    marker records the generator fingerprint; a mismatch regenerates the
    whole dir (including any bucketed pages_canon prepared inside it —
    it derives from the same pages and would be stale too). Legacy 'ok'
    markers (pre-fingerprint caches) are REGENERATED, not stamped: blessing
    an unverified old cache under the current fingerprint would be sound
    only while generation stays byte-identical — the first change that
    both alters generation and meets a legacy cache would silently serve
    stale parquet forever. One-time regeneration cost buys that safety."""
    import shutil

    tag = f"n{n_urls}" + ("-skew" if skew else "")
    out = os.path.join(base_dir, tag)
    marker = os.path.join(out, "_COMPLETE")
    fp = generator_fingerprint(skew)
    if os.path.exists(marker):
        with open(marker) as f:
            prev = f.read().strip()
        if prev == fp:
            return out
        shutil.rmtree(out)  # generator changed: cache (and any
        # pages_canon inside it) is stale
    generate(out, FixtureConfig(n_urls=n_urls, skew=skew))
    with open(marker, "w") as f:
        f.write(fp + "\n")
    return out
