"""Engine configuration shared by the Spark scheduler and the golden refspec.

The reference's analog is the per-container settings dict consumed by
container_crawler/__init__.py Crawler.__init__ (workers, items_chunk,
interval, bulk_process…). Here the knobs are crawl semantics: politeness
budgets, retry limit, bucket count. Budgets are config, not a table
(FIXTURES.md §3) — the Spark side turns the dict into a small broadcast
dimension DataFrame.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class EngineConfig:
    # number of host_bucket partitions; each bucket exclusively owns its
    # slice of the frontier (the reference's ring/replica ownership, R3/R4)
    n_buckets: int = 64
    # per-host politeness budget: URLs scheduled per host per cycle
    budgets: dict = field(default_factory=dict)
    default_budget: int = 8
    # failed fetches are retried this many times before state='error'
    # (RetryError analog, SURVEY R10); checkpoint still advances because the
    # row stays pending in the next snapshot.
    retry_limit: int = 1
    # discovered links inherit parent priority minus this decay (floor 0)
    link_priority_decay: int = 1
    # cuckoo-filter URL-seen prefilter (exact-confirm; membership.py)
    use_seen_filter: bool = True
    # consolidate url_seen deltas every N cycles (tableio compaction)
    compact_every: int = 8
    # the engine's one host-skew rule, the two-phase politeness window
    # (politeness.rank_by_budget): >1 pre-ranks per (host, pmod(url_hash,
    # salt)) keeping <= budget rows per salt, so the exact per-host window
    # never sorts more than salt*budget rows of one host in one task
    # (skew-safe at a 10^10-URL frontier); the queue write after it sorts a
    # bucket's scheduled slice, which the budgets bound. Exact for ANY salt
    # (pinned by the skew goldens). 1 = single exact window — the right
    # choice when budgets are effectively unbounded (top-k pruning would
    # keep everything and only add a pass).
    politeness_salt: int = 8
    # adaptive politeness: when set (an integer percentage >= 1), a host
    # whose previous-cycle fetch failures satisfy
    # errors_n * 100 >= pct * scheduled_n gets its budget halved (floor 1)
    # for the next cycle. All-integer math so the refspec mirror is exact;
    # per-host outcomes are committed per cycle as the host_stats table.
    error_backoff_pct: int | None = None
    # periodic change-scanning (the reference's core loop is RE-scanning
    # containers every pass, not crawl-once): when set, a url_seen entry
    # only blocks re-enqueue for this many cycles after its latest
    # admission — a URL re-discovered at cycle k is eligible again when
    # its last url_seen delta is at cycle <= k - ttl. URLs still waiting
    # in the frontier are blocked by a pending anti-join instead (url_seen
    # is written at enqueue, not fetch). None = crawl-once (default).
    recrawl_after_cycles: int | None = None
    # commit a per-cycle page_stats table (corpus.enrich over the cycle's
    # successfully fetched pages: fingerprint / quality / token counts /
    # language ID / MinHash-LSH near-dup group). Off by default: it is
    # value-add output beyond the frontier metric, not cycle bookkeeping.
    # This and the ann_* / nd_closure_every options turn on
    # handlers.corpus_handler; host_rank_every turns on
    # handlers.host_graph_handler. The crawl core never reads them.
    enrich_pages: bool = False
    # every N cycles (0 = off), compute the fixed-point-integer host
    # authority rank (graph.integer_pagerank — the SAME transform the
    # driver's host_pagerank query oracle-checks) over the accumulated
    # host link graph and commit it as a host_rank table. Edges are
    # harvested from the cycle's candidates (parent host -> canonicalized
    # link host), where canonicalization is already paid, and committed
    # per cycle as the tiny distinct host_edges table. Output-only: crawl traces are unchanged
    # (golden-pinned); a deployment would feed rnk into seed priorities.
    host_rank_every: int = 0
    # close the authority loop (needs host_rank_every): discovered
    # candidates get +min(2, rnk(host) div PR_SCALE) priority (cap 100)
    # from the LATEST committed host_rank build — authoritative hosts'
    # URLs jump the politeness queue. Trace-AFFECTING: golden-checked
    # against the refspec mirror, which maintains the same edge set and
    # integer rank.
    host_rank_priority: bool = False
    # RFC 9309 robots decision instead of the prefix-only disallow filter:
    # among all (allow, disallow) rules matching the path, the longest
    # wins and allow wins length ties; rule paths support the §2.2.3
    # wildcards — "*" matches any character sequence, a trailing "$"
    # anchors the end of the path (robots_rfc.py defines the shared
    # semantics). A robots table without an `allow` column behaves as
    # all-empty allows. Golden-checked vs the refspec mirror, incl. a
    # wildcard-rule golden proving divergence from literal-prefix mode.
    robots_rfc: bool = False
    # every N cycles (0 = off; needs enrich_pages), run the FULL near-dup
    # closure over the accumulated corpus: large-star/small-star connected
    # components (graph.py, O(log n) rounds) over the union of all cycles'
    # MinHash band rows (the nd_bands table committed alongside
    # page_stats), committed as an nd_components table (url_hash ->
    # component min). Closes the per-cycle one-hop nd_group caveat: groups
    # spanning cycles or chained through intermediate near-dups collapse to
    # one component id. Golden-checked vs a pure-Python union-find.
    nd_closure_every: int = 0
    # commit a per-cycle ann_index table (corpus.ann_enrich over the cycle's
    # successfully fetched pages: deterministic hashed-word embedding +
    # coarse cell, partitioned by cell so similarity search over the
    # engine's own corpus probes one partition-pruned cell, not the corpus).
    ann_index: bool = False
    # coarse-cell source for the committed ann_index: "lsh" (default) uses
    # the data-independent hyperplane cells; "ivf" TRAINS a coarse
    # quantizer per build (corpus.ivf_train_collect: seeded quantized-
    # integer k-means over a deterministic md5 sample of the cycle's docs,
    # centroid stats collected driver-side as a 256-row literal) and
    # partitions by nearest trained cell + commits the stats as an
    # ann_centroids table so probes can cell-route queries. Golden-checked
    # vs the pure-Python twin (corpus.ivf_py).
    ann_index_mode: str = "lsh"
    # refresh the pinned IVF quantizer on the compact cadence (needs
    # ann_index_mode="ivf" and compact_every > 0): at each compacting
    # cycle the quantizer RETRAINS over the accumulated corpus (previous
    # index rows + this cycle's docs, md5-sampled as usual) and the whole
    # ann_index_base is RE-ASSIGNED with the new centroids as part of the
    # compaction rewrite it was already paying for — so the index tracks
    # corpus drift while cell ids stay consistent across every committed
    # dir (base + later deltas all use the latest pinned stats). Off by
    # default: train-once-pinned is cheaper and is exactly right when the
    # corpus distribution is stable.
    ann_retrain_on_compact: bool = False
    # training-sample keep fraction for "ivf" mode, in sixteenths: docs
    # whose md5(id) leading hex char < this train the quantizer (16 = all
    # docs — the fixture default; a 100-TB deployment sets 1-2 so Lloyd
    # rounds scan ~1/16 of the corpus while ASSIGNMENT still covers every
    # doc via the broadcast centroid literal).
    ann_ivf_sample_hex: int = 16

    def budget_of(self, host: str) -> int:
        return self.budgets.get(host, self.default_budget)


def config_for_fixture(fix_cfg) -> EngineConfig:
    """EngineConfig matching a fixtures.FixtureConfig's politeness rules."""
    return EngineConfig(
        n_buckets=fix_cfg.n_buckets,
        budgets=fix_cfg.budgets(),
        retry_limit=fix_cfg.retry_limit,
    )
