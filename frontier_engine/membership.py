"""Cuckoo-filter URL-seen prefilter, bloom fallback for cold partitions.

North-star operator with no reference analog (the reference's "seen" set is
implied by sqlite ROWID monotonicity + the last_row checkpoint). Semantics:

- one filter per host_bucket partition, stored as a PARQUET ROW
  ``(host_bucket, kind, n_bits, status, data BINARY)`` in the TableIO table
  ``filters/cycle=<k>/`` — the same storage layer as every other engine
  table, so filters ride whatever filesystem/object store TableIO rides (the
  round-2 ``.npz`` + ``os.link`` sidecars needed a POSIX mount of their own);
- a filter answers "definitely not seen" / "maybe seen"; the engine routes
  maybe-seen candidates through the EXACT left-anti join against url_seen,
  so filter false positives cost time, never correctness, and the URL-seen
  membership stays exactly reproducible (BASELINE.json:2);
- filters are maintained INCREMENTALLY: each cycle's url_seen delta is
  inserted into the bucket's previous filter inside a streamed
  ``mapInPandas`` task that owns the whole bucket (the same
  exclusive-ownership sharding as the reference's per-container workers);
  a bucket with no previous row gets a fresh filter from its files, sized
  by the row counts the snapshot records for them;
- a bucket whose previous row is expected but unreadable (a crashed
  consolidation pruned it), or whose cuckoo filter overflowed, is rebuilt
  from its FULL url_seen as a bloom filter — fully vectorized numpy, no
  per-item loop — per the north star's "bloom fallback for cold
  partitions" (``_bucket_row`` is the one rule);
- carry-forward is LOGICAL, not physical: each cycle's ``filters`` delta
  holds only the buckets whose url_seen changed, and its manifest lists
  the files it wrote as any table's; the driver derives a tiny ``bucket ->
  newest filter file`` map from the store's snapshot (``filter_files``)
  and ships it into the prefilter closure, so an untouched bucket keeps
  serving its old row with zero bytes copied and no directory listed;
- a lagging filter is safe: if the newest filter build is older than the
  newest url_seen delta (a run's last cycle skips the build), the
  scheduler exact-joins "definite new" candidates against the missing
  delta range (``split_by_filter``), and the next build inserts every
  delta since the previous rows.

All bit-twiddling is numpy-vectorized for lookups and bloom builds; only the
cuckoo insert path walks items (it touches only the small per-cycle delta).

Executor tasks read each filter row directly with pyarrow from the file the
snapshot names; reads go through an LRU cache so one long-lived Python
worker holds at most _CACHE_CAP deserialized filters regardless of how many
cycles it serves.
"""

from __future__ import annotations

import os
from collections import OrderedDict

import numpy as np

from .tableio import bucket_of

_FP_MASK = np.uint64(0xFFFF)
_MIX = np.uint64(0x9E3779B97F4A7C15)
_SLOTS = 4
_MAX_KICKS = 500
_CUCKOO_MAX_ITEMS = 4_000_000  # above this a fresh build uses bloom
_CACHE_CAP = 128
_CACHE_MAX_BYTES = 1 << 30  # 1 GiB of deserialized filters per worker


def _mix64(x: np.ndarray) -> np.ndarray:
    """MurmurHash3 64-bit finalizer, vectorized (public constants)."""
    x = x.astype(np.uint64)
    x = (x ^ (x >> np.uint64(33))) * np.uint64(0xFF51AFD7ED558CCD)
    x = (x ^ (x >> np.uint64(33))) * np.uint64(0xC4CEB9FE1A85EC53)
    return x ^ (x >> np.uint64(33))


def _next_pow2(n: int) -> int:
    p = 1
    while p < n:
        p <<= 1
    return p


class CuckooFilter:
    """16-bit fingerprints, 4-slot buckets, deterministic eviction."""

    kind = "cuckoo"

    def __init__(self, n_buckets: int, table: np.ndarray | None = None):
        self.n_buckets = n_buckets
        self.table = (
            table
            if table is not None
            else np.zeros((n_buckets, _SLOTS), dtype=np.uint16)
        )

    @classmethod
    def with_capacity(cls, n: int) -> "CuckooFilter":
        nb = _next_pow2(max(16, int(n / (_SLOTS * 0.84)) + 1))
        return cls(nb)

    def _fp_i1_i2(self, h: np.ndarray):
        h = h.astype(np.uint64)
        fp = (h & _FP_MASK).astype(np.uint64)
        fp = np.where(fp == 0, np.uint64(1), fp)
        mask = np.uint64(self.n_buckets - 1)
        i1 = (h >> np.uint64(16)) & mask
        i2 = (i1 ^ ((fp * _MIX) >> np.uint64(32))) & mask
        return fp.astype(np.uint16), i1.astype(np.int64), i2.astype(np.int64)

    def insert_many(self, hashes: np.ndarray) -> bool:
        """Insert all; False if any insertion failed (overflow).

        Bulk-vectorized: repeated passes place one fingerprint per empty
        (bucket, slot) via np.unique de-collision; only the residue that
        needs cuckoo eviction falls back to the per-item loop."""
        fps, i1s, i2s = self._fp_i1_i2(hashes)
        t = self.table
        pending = np.arange(len(hashes))
        for idxs in (i1s, i2s):
            for s in range(_SLOTS):
                if len(pending) == 0:
                    break
                cand = idxs[pending]
                empty = t[cand, s] == 0
                if not empty.any():
                    continue
                uniq_cand, first = np.unique(cand[empty], return_index=True)
                chosen = pending[empty][first]
                t[idxs[chosen], s] = fps[chosen]
                pending = pending[~np.isin(pending, chosen)]
        if len(pending) == 0:
            return True
        return self._insert_slow(fps[pending], i1s[pending], i2s[pending])

    def _insert_slow(self, fps, i1s, i2s) -> bool:
        t = self.table
        for fp, i1, i2 in zip(fps.tolist(), i1s.tolist(), i2s.tolist()):
            placed = False
            for idx in (i1, i2):
                row = t[idx]
                for s in range(_SLOTS):
                    if row[s] == 0:
                        row[s] = fp
                        placed = True
                        break
                if placed:
                    break
            if placed:
                continue
            # deterministic eviction walk
            cur_fp, cur_idx = fp, i2
            ok = False
            for kick in range(_MAX_KICKS):
                s = kick % _SLOTS
                cur_fp, t[cur_idx][s] = int(t[cur_idx][s]), cur_fp
                mixed = (cur_fp * int(_MIX)) % (1 << 64)
                alt = (cur_idx ^ (mixed >> 32)) & (self.n_buckets - 1)
                row = t[alt]
                placed2 = False
                for s2 in range(_SLOTS):
                    if row[s2] == 0:
                        row[s2] = cur_fp
                        placed2 = True
                        break
                if placed2:
                    ok = True
                    break
                cur_idx = alt
            if not ok:
                return False
        return True

    def contains_many(self, hashes: np.ndarray) -> np.ndarray:
        """Vectorized membership test -> bool array ("maybe seen")."""
        if len(hashes) == 0:
            return np.zeros(0, dtype=bool)
        fps, i1s, i2s = self._fp_i1_i2(hashes)
        t = self.table
        hit1 = (t[i1s] == fps[:, None]).any(axis=1)
        hit2 = (t[i2s] == fps[:, None]).any(axis=1)
        return hit1 | hit2

    @property
    def nbytes(self) -> int:
        return int(self.table.nbytes)

    def to_row(self) -> dict:
        return {"kind": "cuckoo", "n_bits": None, "data": self.table.tobytes()}


class BloomFilter:
    """Blocked-free classic bloom: m bits, 4 double-hashed probes; build and
    lookup fully vectorized."""

    kind = "bloom"
    K = 4

    def __init__(self, n_bits: int, words: np.ndarray | None = None):
        self.n_bits = n_bits
        self.words = (
            words if words is not None else np.zeros(n_bits // 64, dtype=np.uint64)
        )

    @classmethod
    def with_capacity(cls, n: int) -> "BloomFilter":
        bits = max(1024, _next_pow2(n * 12))
        return cls(bits)

    def _probes(self, h: np.ndarray) -> np.ndarray:
        # independent h1/h2 via splitmix64-style finalizers — naive
        # g_j = h + j*(h*MIX) is linear in h, and (1 + j*MIX) can carry
        # low-order zero bits that collapse probe j onto a stride coset
        h = h.astype(np.uint64)
        h1 = _mix64(h)
        h2 = _mix64(h ^ _MIX) | np.uint64(1)
        mask = np.uint64(self.n_bits - 1)
        return np.stack(
            [(h1 + np.uint64(j) * h2) & mask for j in range(self.K)]
        )  # (K, n)

    def insert_many(self, hashes: np.ndarray) -> bool:
        if len(hashes) == 0:
            return True
        g = self._probes(hashes).reshape(-1)
        idx = (g >> np.uint64(6)).astype(np.int64)
        bit = (np.uint64(1) << (g & np.uint64(63))).astype(np.uint64)
        np.bitwise_or.at(self.words, idx, bit)
        return True

    def contains_many(self, hashes: np.ndarray) -> np.ndarray:
        if len(hashes) == 0:
            return np.zeros(0, dtype=bool)
        g = self._probes(hashes)
        idx = (g >> np.uint64(6)).astype(np.int64)
        bit = g & np.uint64(63)
        hits = ((self.words[idx] >> bit) & np.uint64(1)).astype(bool)
        return hits.all(axis=0)

    @property
    def nbytes(self) -> int:
        return int(self.words.nbytes)

    def to_row(self) -> dict:
        return {
            "kind": "bloom",
            "n_bits": int(self.n_bits),
            "data": self.words.tobytes(),
        }


def filter_from_row(kind: str, n_bits, data: bytes, writable: bool = False):
    """Deserialize one parquet filter row back into a filter object.

    Read-path callers keep the zero-copy read-only buffer; the incremental
    upsert (which mutates via insert_many) passes writable=True."""
    if kind == "cuckoo":
        t = np.frombuffer(data, dtype=np.uint16).reshape(-1, _SLOTS)
        return CuckooFilter(t.shape[0], table=t.copy() if writable else t)
    w = np.frombuffer(data, dtype=np.uint64)
    return BloomFilter(int(n_bits), words=w.copy() if writable else w)


# ---------------------------------------------------------------------------
# parquet-row storage (rides TableIO's layout; executor reads via pyarrow)
# ---------------------------------------------------------------------------

def _filter_cycles(snap) -> list:
    """Cycles whose filter build is still consulted, newest first. A
    "filters_full" build (its inserts covered every delta from cycle 1,
    or it consolidated) covered every data-bearing bucket, so it ends the
    list."""
    out = []
    for c in sorted(snap.manifests, reverse=True):
        m = snap.manifests[c]
        if "filters" in m["tables"]:
            out.append(c)
            if m.get("meta", {}).get("filters_full"):
                break
    return out


def filter_files(snap) -> tuple:
    """(newest build cycle or 0, {bucket -> its newest filter file}) as
    of the snapshot ``snap``. The map is the logical carry-forward: a
    bucket missing from newer builds had no url_seen rows since its
    file's cycle, so that file still covers it through the newest
    build."""
    cycles = _filter_cycles(snap)
    loc: dict = {}
    for c in cycles:
        for f in snap.files("filters", c):
            loc.setdefault(bucket_of(f.path), f)
    return (cycles[0] if cycles else 0), loc


def load_bucket_filter(path: str, writable: bool = False):
    """Read one bucket's filter row from its parquet file, named by the
    snapshot (``filter_files``): exactly that file opens — no dataset
    discovery over every bucket's files per call (that discovery was a
    measured 5x slowdown of the prefilter stage). Returns None if the
    file is gone (a crashed consolidation pruned its dir)."""
    import pyarrow.parquet as _pq

    try:
        t = _pq.read_table(path, columns=["kind", "n_bits", "data"])
    except FileNotFoundError:
        return None
    return filter_from_row(
        str(t["kind"][0]),
        t["n_bits"][0].as_py(),
        t["data"][0].as_py(),
        writable=writable,
    )


def _by_bucket(files: list) -> dict:
    """{bucket -> [(path, rows)]} of url_seen files, keeping their order
    (cycle order, then sorted names within a dir: cuckoo inserts are
    order-sensitive, so every build streams a bucket's rows in the same
    order)."""
    out: dict = {}
    for f in files:
        out.setdefault(bucket_of(f.path), []).append((f.path, f.rows))
    return out


# per-Python-worker LRU for the read-only prefilter path; keyed by the
# filter file's path (it names its cycle dir) so entries are immutable. Bounded by BOTH an entry
# cap and a BYTE budget with true LRU eviction: at the north-star scale a
# single bucket's bloom is ~200 MB serialized, so an entry-count-only cap
# of 128 would let one worker hold tens of GB of deserialized filters —
# the byte budget is what actually bounds worker memory. A long-lived
# worker serving many cycles never accumulates stale cycle-keyed entries
# (and never loses its hot set to a blanket clear).
_FILTER_CACHE: OrderedDict = OrderedDict()
_FILTER_CACHE_BYTES = [0]


def _cached_filter(path: str):
    if path in _FILTER_CACHE:
        _FILTER_CACHE.move_to_end(path)
        return _FILTER_CACHE[path]
    f = load_bucket_filter(path)
    _FILTER_CACHE[path] = f
    _FILTER_CACHE_BYTES[0] += 0 if f is None else f.nbytes
    while len(_FILTER_CACHE) > 1 and (
        len(_FILTER_CACHE) > _CACHE_CAP
        or _FILTER_CACHE_BYTES[0] > _CACHE_MAX_BYTES
    ):
        _k, old = _FILTER_CACHE.popitem(last=False)
        _FILTER_CACHE_BYTES[0] -= 0 if old is None else old.nbytes
    return f


# ---------------------------------------------------------------------------
# Spark integration
# ---------------------------------------------------------------------------

def split_by_filter(cand: "DataFrame", io, through_cycle: int, cfg):
    """Split candidates into (definite_new, maybe_seen, tested) using the
    newest filter rows ≤ through_cycle; ``tested`` is the lazily
    LOCAL-CHECKPOINTED probe frame both splits derive from (None when no
    filters exist) — the caller releases it once the cycle's outputs are
    materialized (``unpersist()`` alone does not free a checkpoint: see
    scheduler.run_cycle).
    Exactness-preserving: if filters lag the url_seen deltas, definite_new
    is patched with an exact anti-join over the missing delta range
    (TTL-windowed in recrawl mode, matching the scheduler's seen frame)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from . import schemas

    last_build, loc = filter_files(io.snapshot(through_cycle))
    if last_build == 0:
        # no filters yet: everything is maybe-seen (plain exact anti-join)
        return cand.limit(0), cand, None

    paths = {b: f.path for b, f in loc.items()}
    out_schema = T.StructType(
        cand.schema.fields + [T.StructField("maybe_seen", T.BooleanType())]
    )

    # mapInPandas, NOT groupBy(host_bucket).applyInPandas: a grouped-map
    # would add a full extra shuffle AND require an entire bucket's
    # candidates in one pandas frame. Instead every task tests its own
    # Arrow batches in place (mapInPandas is a narrow, per-partition map —
    # the scheduler probes RAW candidates before any exchange), loading
    # whichever buckets' filter rows it touches through the per-worker LRU
    # (rows are immutable: cycle-keyed, never stale). Memory stays bounded
    # by the Arrow batch + _CACHE_CAP filters.
    def check_batches(batches):
        import numpy as _np

        for pdf in batches:
            if len(pdf) == 0:
                continue
            out = _np.ones(len(pdf), dtype=bool)  # no filter => maybe-seen
            h_all = pdf["url_hash"].to_numpy().astype(_np.int64).view(_np.uint64)
            for b, idx in pdf.groupby("host_bucket").indices.items():
                p = paths.get(int(b))
                f = _cached_filter(p) if p is not None else None
                if f is not None:
                    out[idx] = f.contains_many(h_all[idx])
            pdf = pdf.copy()
            pdf["maybe_seen"] = out
            yield pdf

    # checkpoint: the (definite_new, maybe_seen) split feeds two union
    # branches of one downstream plan, and union branches do NOT share
    # uncached subtrees — without this the filter loads + contains_many
    # pass (and everything beneath it) would execute twice per cycle (the
    # same union-branch-recompute pathology the band pipeline hit). A
    # local checkpoint rather than persist(): plans above it start from a
    # LogicalRDD leaf, not the whole candidate plan. The caller releases
    # it at end of cycle.
    tested = cand.mapInPandas(check_batches, out_schema).localCheckpoint(
        eager=False
    )
    definite_new = tested.where("NOT maybe_seen").drop("maybe_seen")
    maybe_seen = tested.where("maybe_seen").drop("maybe_seen")

    if last_build < through_cycle:
        # filters are stale: exact-confirm definite_new vs the missing
        # range. In recrawl-TTL mode the gap must apply the SAME
        # first_seen_cycle window the scheduler's exact `seen` frame uses
        # — an un-windowed gap would let a TTL-EXPIRED row suppress a
        # recrawl-due URL that the exact path (and the refspec) re-admits.
        gap = io.read_delta_range(
            cand.sparkSession, "url_seen", last_build + 1, through_cycle,
            schemas.URL_SEEN,
        )
        ttl = cfg.recrawl_after_cycles
        if ttl is not None:
            # scheduler window at cycle = through_cycle + 1
            ttl_lo = max(1, through_cycle + 2 - ttl)
            gap = gap.where(F.col("first_seen_cycle") >= ttl_lo)
        definite_new = definite_new.join(gap, "url_hash", "left_anti")
    return definite_new, maybe_seen, tested


_FILTER_ROW_SCHEMA_DDL = (
    "host_bucket INT, kind STRING, n_bits BIGINT, status STRING, data BINARY"
)
_ROW_COLS = ["host_bucket", "kind", "n_bits", "status", "data"]


def _bucket_rows(spark, buckets: list):
    """One INT ``host_bucket`` row per bucket, packed into
    ``min(n, defaultParallelism)`` tasks: ``range`` indexes an array
    literal, so the frame needs no Python-built RDD (a job through Python
    workers) and no round-robin shuffle — the row IS the bucket, any task
    assignment is correct. Packing spares a Python task per bucket beyond
    the core count; the consumer yields one frame per bucket, so a task
    still holds one serialized filter at a time, and each bucket still
    lands in exactly one task (one file per ``host_bucket=`` dir)."""
    from pyspark.sql import functions as F

    n = len(buckets)
    par = min(n, spark.sparkContext.defaultParallelism)
    return spark.range(n, numPartitions=max(1, par)).select(
        F.element_at(
            F.array(*(F.lit(int(b)) for b in buckets)),
            (F.col("id") + 1).cast("int"),
        )
        .cast("int")
        .alias("host_bucket")
    )


def _insert_files(f, files: list) -> bool:
    """Stream the files' url_hash column into ``f`` in row-group batches;
    False as soon as a cuckoo insert overflows.

    Skips hashes the filter already reports present: in recrawl-TTL mode
    the same url_hash writes a fresh url_seen delta row per recrawl, and
    duplicate cuckoo inserts consume fresh slots — after ~2*_SLOTS
    recrawls of a hot URL the bucket would overflow into a full-history
    bloom. Skipping is sound with no deletion support: a "present" answer
    never needs reinforcing (and a bloom insert of a present hash sets no
    new bit)."""
    import pyarrow.parquet as _pq

    for path in files:
        for rb in _pq.ParquetFile(path).iter_batches(
            columns=["url_hash"], batch_size=1 << 16
        ):
            h = (
                rb.column(0)
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
                .view(np.uint64)
            )
            fresh = ~f.contains_many(h)
            if fresh.any() and not f.insert_many(h[fresh]):
                return False
    return True


def _bucket_row(bucket: int, prev, delta: list, full: list) -> dict:
    """Build one bucket's filter row (executor side) — the one rule every
    row of ``rebuild_filters`` is built by. ``prev`` is the path of the
    bucket's previous row (None when none is expected); ``delta`` and
    ``full`` are its url_seen files as (path, rows), the rows taken from
    the snapshot:

    - ``prev`` None: a fresh filter from the delta files — a cuckoo sized
      4x their rows up to _CUCKOO_MAX_ITEMS, else a bloom;
    - the previous row loads: the delta files are inserted into it (none
      for a consolidation carry, whose bytes are then copied unchanged);
    - the previous row does not load (a crashed consolidation pruned it),
      or the cuckoo overflows: a bloom over the bucket's FULL url_seen."""
    if prev is None:
        n = sum(rows for _, rows in delta)
        if n <= _CUCKOO_MAX_ITEMS:
            f = CuckooFilter.with_capacity(max(n * 4, 1024))
        else:
            f = BloomFilter.with_capacity(n)
    else:
        f = load_bucket_filter(prev, writable=bool(delta))
    status = "ok" if delta else "carried"
    if f is None or not _insert_files(f, [p for p, _ in delta]):
        f = BloomFilter.with_capacity(sum(rows for _, rows in full))
        _insert_files(f, [p for p, _ in full])
        status = "bloom"
    r = f.to_row()
    r["host_bucket"] = bucket
    r["status"] = status
    return r


def rebuild_filters(spark, io, cycle: int, cfg, consolidate: bool = False) -> dict:
    """Maintain per-bucket filter rows for the url_seen set through `cycle`.

    One rule per bucket, for every bucket whose url_seen changed since the
    previous filter rows (plus, when ``consolidate``, every bucket those
    rows cover), run in one packed ``mapInPandas`` task kind and written
    once to ``filters/cycle=<k>/host_bucket=<b>/`` (``_bucket_row``):

    - no previous row expected: a fresh filter from the bucket's files;
    - previous row expected and readable: the new delta files are inserted
      into it (a carried bucket has none, so its bytes are copied);
    - previous row expected but unreadable, or a cuckoo that overflows: a
      bloom over the bucket's FULL url_seen.

    Untouched buckets carry forward LOGICALLY (``filter_files``) — nothing
    is copied. The ``filters`` table of this cycle is staged for the
    manifest (``TableIO.write_table``); returns the meta update that
    publishes it: {"filters": total buckets covered}, plus "filters_full"
    when the build covered every data-bearing bucket.

    ``consolidate`` (the filters analog of url_seen_base compaction, run on
    the same cadence): re-emit every untouched bucket's row into THIS
    cycle's delta, then delete the older filters/cycle dirs the snapshot
    names. Without it the logical carry-forward pins arbitrarily old delta
    dirs forever.
    Crash-safe: a consolidation that dies after the prune but before its
    manifest update leaves the previous manifest pointing at pruned rows.
    A reader gets None for them and classifies the bucket maybe-seen (the
    exact anti-join confirms); the next build finds the expected row
    unreadable and rebuilds the bucket from its full url_seen, so no
    bucket's older history is lost.
    """
    from pyspark.sql import types as T

    prev = io.snapshot(cycle - 1)
    prev_found, prev_loc = filter_files(prev)

    # Insert EVERY committed delta the previous filter rows don't cover — not
    # just this cycle's. A run's final cycle skips the build
    # (build_filters=False), so after a resume the newest rows can lag by
    # several cycles; building from read_cycle(cycle) alone would leave the
    # intervening deltas permanently missing from all later filters and
    # misclassify seen URLs as definitely-new (duplicate url_seen rows).
    # A from-scratch build (no filter committed yet) reads the CONSOLIDATED
    # view instead: base + O(compact_every) tail deltas — the same row set
    # as every delta since cycle 1, without the O(cycles) file union
    # compaction exists to prevent.
    #
    # CO-LOCATE instead of shuffle (guide §8): url_seen is committed
    # hive-partitioned by host_bucket, so the source is already laid out
    # one-dir-per-bucket on disk. The driver takes each touched bucket's
    # files and row counts from the snapshot (no file opened, no Spark
    # job) and ships them in the closure; each task streams its buckets'
    # row groups straight into the filters, one bucket at a time.
    # Split-safety is by construction: a task owns whole buckets, never a
    # byte range of one.
    snap = io.snapshot(cycle)
    base, deltas = snap.appended("url_seen")
    full = _by_bucket(base + deltas)
    if prev_found == 0:
        delta = full
    else:
        delta = _by_bucket(snap.deltas("url_seen", prev_found + 1, cycle))
    buckets = set(delta)
    if consolidate:
        buckets |= set(prev_loc)
    work = {
        b: (
            prev_loc[b].path if b in prev_loc else None,
            delta.get(b, []),
            full.get(b, []),
        )
        for b in buckets
    }

    def bucket_batches(batches):
        import pandas as _pd

        # one frame per bucket: a packed task holds one filter at a time
        for pdf in batches:
            for b in pdf["host_bucket"]:
                r = _bucket_row(int(b), *work[int(b)])
                yield _pd.DataFrame([r], columns=_ROW_COLS)

    # hive-partition by host_bucket (each bucket in one task -> one file
    # per bucket dir); readers then open exactly their bucket's file. What
    # got written is read back from the layout, never assumed from what
    # was submitted.
    files = io.write_table(
        _bucket_rows(spark, sorted(buckets)).mapInPandas(
            bucket_batches, T.StructType.fromDDL(_FILTER_ROW_SCHEMA_DDL)
        ),
        "filters",
        cycle,
        ["host_bucket"],
    )
    written = {bucket_of(p) for p, _rows, _bytes in files}

    if consolidate:
        # older dirs now redundant: every live bucket has a row at `cycle`
        import shutil as _shutil

        for c in _filter_cycles(prev):
            _shutil.rmtree(
                os.path.join(io.root, prev.manifests[c]["tables"]["filters"]),
                ignore_errors=True,
            )
        # consolidation leaves every live bucket with a row at this cycle:
        # a full snapshot
        return {"filters": len(written), "filters_full": True}

    meta = {"filters": len(set(prev_loc) | written)}
    if prev_found == 0:
        # built from deltas 1..cycle -> covers every data-bearing bucket;
        # ends filter_files' walk here
        meta["filters_full"] = True
    return meta
