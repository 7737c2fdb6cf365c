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
  ``mapInPandas`` task (data repartitioned by host_bucket — the same
  exclusive-ownership sharding as the reference's per-container workers);
- a cold bucket (no filter row yet, or a cuckoo filter that overflowed) is
  rebuilt from the bucket's FULL url_seen as a bloom filter — fully
  vectorized numpy, no per-item loop — per the north star's "bloom fallback
  for cold partitions";
- carry-forward is LOGICAL, not physical: each cycle's ``filters`` delta
  holds only the buckets whose url_seen changed; the driver derives a tiny
  ``bucket -> newest delta cycle`` map from manifest metadata
  (``filter_locations``) and ships it into the prefilter closure, so an
  untouched bucket keeps serving its old row with zero bytes copied;
- staleness is safe: if the newest filter build lags the newest url_seen
  delta, the scheduler exact-joins "definite new" candidates against the
  missing delta range (scheduler.py split_by_filter call site).

All bit-twiddling is numpy-vectorized for lookups and bloom builds; only the
cuckoo insert path walks items (it touches only the small per-cycle delta).

Executor tasks read filter rows directly with pyarrow (predicate pushdown on
``host_bucket``); reads go through an LRU cache so one long-lived Python
worker holds at most _CACHE_CAP deserialized filters regardless of how many
cycles it serves.
"""

from __future__ import annotations

import os
from collections import OrderedDict

import numpy as np

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

def _cycle_dir(root: str, cycle: int) -> str:
    return os.path.join(root, "filters", f"cycle={cycle}")


def load_bucket_filter(root: str, cycle: int, bucket: int,
                       writable: bool = False):
    """Read one bucket's filter row from the cycle's parquet delta. The
    delta is hive-partitioned by host_bucket, so the read opens EXACTLY the
    bucket's own file(s) via the directory layout — no dataset discovery
    over every bucket's files per call (that discovery was a measured 5x
    slowdown of the prefilter stage). Returns None if the bucket has no
    usable row (overflow marker rows carry data=NULL)."""
    import glob as _glob

    import pyarrow.parquet as _pq

    files = sorted(
        _glob.glob(
            os.path.join(
                _cycle_dir(root, cycle), "stage=*",
                f"host_bucket={bucket}", "*.parquet",
            )
        )
    )
    if not files:
        return None
    # Correctness here relies on SKIPPING data=NULL marker rows (overflow
    # markers from stage=upsert carry data=NULL), NOT on file sort order —
    # the sorted glob actually puts stage=bloom BEFORE stage=upsert
    # ('b' < 'u'), so a usable bloom row wins over a later NULL marker.
    for f in files:
        t = _pq.read_table(f, columns=["kind", "n_bits", "data"])
        for i in range(t.num_rows):
            if t["data"][i].is_valid:
                return filter_from_row(
                    str(t["kind"][i]),
                    t["n_bits"][i].as_py(),
                    t["data"][i].as_py(),
                    writable=writable,
                )
    return None


def filter_locations(io, through_cycle: int):
    """Driver-side: (last_build_cycle, {bucket -> newest delta cycle}) for
    filters committed ≤ through_cycle. The map is the logical carry-forward:
    a bucket missing from newer deltas had no url_seen rows since its entry's
    cycle, so that old row still covers it through last_build_cycle. Cost:
    manifest JSONs only — no data reads.

    A visited "filters_full" manifest (a build whose inserts covered
    deltas from cycle 1, or a consolidation) ends the walk: it covered
    every data-bearing bucket, so older entries are moot."""
    last_build = 0
    loc: dict[int, int] = {}
    for c in range(through_cycle, 0, -1):
        m = io.manifest(c)
        if not m:
            continue
        meta = m.get("meta", {})
        if meta.get("filters") is None:
            continue
        if last_build == 0:
            last_build = c
        for b in meta.get("filters_buckets", []):
            loc.setdefault(int(b), c)
        if meta.get("filters_full"):
            break
    return last_build, loc


# per-Python-worker LRU for the read-only prefilter path; keyed by
# (root, cycle, bucket) so entries are immutable. Bounded by BOTH an entry
# cap and a BYTE budget with true LRU eviction: at the north-star scale a
# single bucket's bloom is ~200 MB serialized, so an entry-count-only cap
# of 128 would let one worker hold tens of GB of deserialized filters —
# the byte budget is what actually bounds worker memory. A long-lived
# worker serving many cycles never accumulates stale cycle-keyed entries
# (and never loses its hot set to a blanket clear).
_FILTER_CACHE: OrderedDict = OrderedDict()
_FILTER_CACHE_BYTES = [0]


def _cached_filter(root: str, cycle: int, bucket: int):
    key = (root, cycle, bucket)
    if key in _FILTER_CACHE:
        _FILTER_CACHE.move_to_end(key)
        return _FILTER_CACHE[key]
    f = load_bucket_filter(root, cycle, bucket)
    _FILTER_CACHE[key] = f
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

    last_build, loc = filter_locations(io, through_cycle)
    if last_build == 0:
        # no filters yet: everything is maybe-seen (plain exact anti-join)
        return cand.limit(0), cand, None

    root = io.root
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
                c = loc.get(int(b))
                f = _cached_filter(root, c, int(b)) if c is not None else None
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


def _bucket_rows(spark, **cols: list):
    """INT rows from equal-length driver lists (row i holds every list's
    i-th value), packed into ``min(n, defaultParallelism)`` tasks:
    ``range`` indexes array literals, so the frame needs no Python-built
    RDD (a job through Python workers) and no round-robin shuffle — the
    row IS the bucket, any task assignment is correct. Packing spares a
    Python task per bucket beyond the core count; the consumers yield one
    frame per bucket, so a task still holds one serialized filter at a
    time, and each bucket still lands in exactly one task (one file per
    ``host_bucket=`` dir)."""
    from pyspark.sql import functions as F

    n = len(next(iter(cols.values())))
    idx = (F.col("id") + 1).cast("int")
    par = min(n, spark.sparkContext.defaultParallelism)
    return spark.range(n, numPartitions=max(1, par)).select(*(
        F.element_at(F.array(*(F.lit(int(v)) for v in vals)), idx)
        .cast("int")
        .alias(name)
        for name, vals in cols.items()
    ))


def rebuild_filters(spark, io, cycle: int, cfg, consolidate: bool = False) -> dict:
    """Maintain per-bucket filter rows for the url_seen set through `cycle`.

    Incremental: insert this cycle's delta into the bucket's previous filter
    row. Cold/overflowed buckets rebuild from the bucket's full url_seen
    (bloom). Untouched buckets carry forward LOGICALLY (filter_locations) —
    nothing is copied. Returns the manifest meta update:
    {"filters": total buckets covered, "filters_buckets": written this cycle}.

    ``consolidate`` (the filters analog of url_seen_base compaction, run on
    the same cadence): physically re-emit every untouched bucket's row into
    THIS cycle's delta (a parallel copy of the serialized bytes — filters
    are not rebuilt), then delete all older filters/cycle dirs. Without it
    the logical carry-forward pins arbitrarily old delta dirs forever.
    Crash-safe: filters are advisory — a reader chasing a stale manifest
    into a pruned dir gets None, classifies the bucket maybe-seen, and the
    exact anti-join confirms (correctness never depends on a filter).
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from . import schemas

    prev_found, prev_loc = filter_locations(io, cycle - 1)
    root = io.root

    # Insert EVERY committed delta the previous filter rows don't cover — not
    # just this cycle's. A run's final cycle skips the build
    # (build_filters=False), so after a resume the newest rows can lag by
    # several cycles; building from read_cycle(cycle) alone would leave the
    # intervening deltas permanently missing from all later filters and
    # misclassify seen URLs as definitely-new (duplicate url_seen rows).
    # A from-scratch build (no filter committed yet) reads
    # the CONSOLIDATED view instead: base + O(compact_every) tail dirs —
    # the same row set as unioning every delta dir since cycle 1, without
    # the O(cycles) dir-union pathology compaction exists to prevent.
    #
    # CO-LOCATE instead of shuffle (guide §8): url_seen is committed
    # hive-partitioned by host_bucket, so the insert source is already
    # laid out one-file-per-bucket on disk. The old path re-shuffled the
    # whole delta (a full-frontier Exchange + Arrow boundary per cycle)
    # only to regroup rows the write had ALREADY grouped; instead the
    # driver lists each bucket's files from the committed dirs (manifest
    # walk + footer metadata, no Spark job — this also replaces the
    # fresh-capacity count-agg job with parquet row counts) and each task
    # streams its buckets' files' row groups straight into the filters,
    # one bucket at a time. Split-safety is by construction: a task owns
    # whole buckets, never a byte range of one.
    import glob as _glob

    import pyarrow.parquet as _pq

    if prev_found == 0:
        dirs = io.appended_dirs("url_seen", cycle)
    else:
        dirs = io.delta_range_dirs("url_seen", prev_found + 1, cycle)
    files_by_bucket: dict = {}
    cap: dict = {}
    for d in dirs:
        for f in sorted(
            _glob.glob(os.path.join(d, "host_bucket=*", "*.parquet"))
        ):
            b = int(f.split("host_bucket=")[1].split(os.sep)[0])
            files_by_bucket.setdefault(b, []).append(f)
            cap[b] = cap.get(b, 0) + _pq.ParquetFile(f).metadata.num_rows
    out_schema = T.StructType.fromDDL(_FILTER_ROW_SCHEMA_DDL)

    def upsert_batches(batches):
        import numpy as _np
        import pandas as _pd
        import pyarrow.parquet as _apq

        # one frame per bucket: a packed task holds one filter at a time
        for pdf in batches:
            for b in pdf["host_bucket"]:
                b = int(b)
                f = None
                pc = prev_loc.get(b)
                if pc is not None:
                    f = load_bucket_filter(root, pc, b, writable=True)
                if f is None:
                    n = cap.get(b, 0)
                    if n <= _CUCKOO_MAX_ITEMS:
                        f = CuckooFilter.with_capacity(max(n * 4, 1024))
                    else:
                        f = BloomFilter.with_capacity(n)
                ok = True
                for path in files_by_bucket[b]:
                    pf = _apq.ParquetFile(path)
                    for rb in pf.iter_batches(
                        columns=["url_hash"], batch_size=1 << 16
                    ):
                        # skip hashes the filter already reports present:
                        # in recrawl-TTL mode the same url_hash writes a
                        # fresh url_seen delta row per recrawl, and
                        # duplicate cuckoo inserts consume fresh slots —
                        # after ~2*_SLOTS recrawls of a hot URL the bucket
                        # would overflow into a full-history bloom
                        # rebuild. Skipping is sound with no deletion
                        # support: a "present" answer never needs
                        # reinforcing.
                        h = (
                            rb.column(0)
                            .to_numpy(zero_copy_only=False)
                            .astype(_np.int64)
                            .view(_np.uint64)
                        )
                        fresh = ~f.contains_many(h)
                        if fresh.any():
                            ok = f.insert_many(h[fresh])
                            if not ok:
                                break
                    if not ok:
                        break
                r = (
                    f.to_row()
                    if ok
                    else {"kind": None, "n_bits": None, "data": None}
                )
                r["host_bucket"] = b
                r["status"] = "ok" if ok else "overflow"
                f = None
                yield _pd.DataFrame([r], columns=_ROW_COLS)

    touched = sorted(files_by_bucket)
    upsert_df = _bucket_rows(spark, host_bucket=touched).mapInPandas(
        upsert_batches, out_schema
    )
    rel = f"filters/cycle={cycle}/stage=upsert"
    # hive-partition by host_bucket (each bucket in one task -> one file
    # per bucket dir); readers then open exactly their bucket's file
    io._write_df(upsert_df, rel, ["host_bucket"])
    # Status read-back: driver-side pyarrow over the per-bucket files'
    # status column only — NOT a Spark job (the round-3 spark.read +
    # collect here was a whole extra job per cycle, ~0.3-0.5 s of the
    # headline regression; the driver touches the same n_buckets tiny
    # footers either way). An EMPTY url_seen delta (saturated frontier /
    # all-dup discoveries) writes no parquet files at all — the glob then
    # yields no statuses and the carry-forward below still applies, which
    # is also what keeps this path crash-free where a schema-inferring
    # Spark read would raise UNABLE_TO_INFER_SCHEMA.
    import glob as _glob

    import pyarrow.parquet as _pq

    def stage_statuses(stage_rel: str) -> dict:
        """{bucket: [status, ...]} actually ON DISK for a stage dir —
        driver-side pyarrow over the status column only, never a Spark
        job. What got written is always derived from this read-back,
        never assumed from what was submitted."""
        out: dict = {}
        for f in sorted(
            _glob.glob(
                os.path.join(root, stage_rel, "host_bucket=*", "*.parquet")
            )
        ):
            b = int(f.split("host_bucket=")[1].split(os.sep)[0])
            t = _pq.read_table(f, columns=["status"])
            for i in range(t.num_rows):
                out.setdefault(b, []).append(str(t["status"][i]))
        return out

    def full_rebuild(buckets: list, stage: str) -> set:
        """Rebuild the given buckets' filters from their FULL url_seen
        (bloom) into ``stage``; returns the buckets that actually got a
        row (a bucket with no url_seen rows writes none — correctly
        uncovered)."""
        full = io.read_appended(spark, "url_seen", cycle, schemas.URL_SEEN)
        full = full.where(full.host_bucket.isin(buckets))
        full_cap = {
            int(r["host_bucket"]): int(r["n"])
            for r in full.groupBy("host_bucket")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }

        def rebuild_batches(batches):
            import pandas as _pd
            import numpy as _np

            blooms: dict = {}
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                h_all = (
                    pdf["url_hash"].to_numpy().astype(_np.int64).view(_np.uint64)
                )
                for b, idx in pdf.groupby("host_bucket").indices.items():
                    b = int(b)
                    f = blooms.get(b)
                    if f is None:
                        f = blooms[b] = BloomFilter.with_capacity(full_cap[b])
                    f.insert_many(h_all[idx])
            rows = []
            for b, f in blooms.items():
                r = f.to_row()
                r["host_bucket"] = b
                r["status"] = "bloom"
                rows.append(r)
            yield _pd.DataFrame(rows, columns=_ROW_COLS)

        bloom_df = (
            full.select("host_bucket", "url_hash")
            .repartition(cfg.n_buckets, "host_bucket")
            .mapInPandas(rebuild_batches, out_schema)
        )
        stage_rel = f"filters/cycle={cycle}/stage={stage}"
        io._write_df(bloom_df, stage_rel, ["host_bucket"])
        return set(stage_statuses(stage_rel))

    written: set = set()
    overflow: list = []
    for b, sts in stage_statuses(rel).items():
        written.add(b)
        if "overflow" in sts:
            overflow.append(b)

    if overflow:
        full_rebuild(sorted(overflow), "bloom")

    if consolidate:
        carry = sorted(
            (b, c) for b, c in prev_loc.items() if b not in written
        )
        if carry:
            carry_df = _bucket_rows(
                spark,
                host_bucket=[b for b, _ in carry],
                src_cycle=[c for _, c in carry],
            )

            def copy_batches(batches):
                import pandas as _pd

                for pdf in batches:
                    for b, c in zip(pdf["host_bucket"], pdf["src_cycle"]):
                        f = load_bucket_filter(root, int(c), int(b))
                        if f is None:
                            continue
                        r = f.to_row()
                        r["host_bucket"] = int(b)
                        r["status"] = "carried"
                        f = None
                        yield _pd.DataFrame([r], columns=_ROW_COLS)

            carry_rel = f"filters/cycle={cycle}/stage=carry"
            io._write_df(
                carry_df.mapInPandas(copy_batches, out_schema),
                carry_rel,
                ["host_bucket"],
            )
            # record only what the copy ACTUALLY wrote — copy_batches
            # skips a bucket whose source row is unreadable (e.g. a prior
            # consolidation crashed mid-prune), and blindly adding it to
            # `written` would publish a filters_full manifest claiming a
            # row that the dir-prune below then deletes the only copy of,
            # leaving the bucket filterless-but-covered forever. Any
            # skipped bucket is instead rebuilt from its full url_seen
            # before the prune.
            carry_ok = set(stage_statuses(carry_rel))
            missing = sorted({b for b, _ in carry} - carry_ok)
            if missing:
                carry_ok |= full_rebuild(missing, "carryfix")
            written |= carry_ok
        # older dirs now redundant: every live bucket has a row at `cycle`
        import shutil as _shutil

        fdir = os.path.join(root, "filters")
        if os.path.isdir(fdir):
            for n in os.listdir(fdir):
                if n.startswith("cycle=") and int(n.split("=")[1]) < cycle:
                    _shutil.rmtree(os.path.join(fdir, n), ignore_errors=True)
        # consolidation leaves every live bucket with a row at this cycle:
        # a full snapshot
        return {
            "filters": len(written),
            "filters_buckets": sorted(written),
            "filters_full": True,
        }

    covered = set(prev_loc) | written
    meta = {
        "filters": len(covered),
        "filters_buckets": sorted(written),
    }
    if prev_found == 0:
        # built from deltas 1..cycle -> covers every data-bearing bucket;
        # lets filter_locations stop here
        meta["filters_full"] = True
    return meta
