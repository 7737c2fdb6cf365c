"""Parquet-backed snapshot tables: atomic manifest commit / read-at / resume.

Iceberg-style semantics (snapshot isolation, time travel, incremental scan)
emulated over plain Parquet because the sandbox ships no lakehouse jars
(BASELINE.md environment). The call sites keep a one-line seam to real
Iceberg (`spark.read.format('iceberg')` + start-snapshot-id) when available.

This is the web-scale generalization of the reference's checkpoint files:
container_crawler/base_handler.py get_last_row/save_last_row persist a JSON
`{db_id: {'last_row': N}}` per (account, container), written only after a
fully successful pass (call site container_crawler/__init__.py
Crawler.handle_container). Here the unit of commit is a whole crawl cycle:
data dirs are written first, then a manifest JSON is atomically renamed into
`_manifests/` — a cycle either exists completely or not at all, and resume
(`latest_cycle`) never sees a torn write.

The manifest is the only place the engine learns what is on disk (the
Delta Lake log, VLDB 2020): manifest k lists, per table, the data files
cycle k wrote (path relative to the table's cycle dir, rows, bytes). A
table written after its cycle's commit (the filter build's ``filters``)
goes through ``write_table`` and is recorded by ``commit_meta_update``
in the same way. One ``Snapshot`` of the parsed manifests answers every
read's question — which files, written by which cycle — so no read
lists a directory. The manifests are parsed once per ``TableIO`` and
cached: a published manifest changes only through this instance's own
``commit_meta_update``.

Single writer: one ``TableIO`` at a time owns its root. Opening one
removes what a crash left behind — the ``_tmp/`` write dirs, unpublished
manifest tmp files, and every ``<table>/cycle=k`` dir that no manifest
names — and leaves ``pages_canon*`` alone.

Table kinds:
- carry   (pending):       full rewrite each cycle; read exactly cycle k
- append  (url_seen, lineage, resolved): per-cycle deltas; read = newest
          consolidated base ≤ k plus the deltas after it; the periodic
          consolidation ("compaction") keeps that union bounded at
          10^10-URL scale
- percycle (scheduled, discoveries): owned by a single cycle
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from typing import NamedTuple


def bucket_of(path: str) -> int:
    """The ``host_bucket`` of a file under a bucket-partitioned dir."""
    return int(path.rsplit("host_bucket=", 1)[1].split("/", 1)[0])


class DataFile(NamedTuple):
    """One committed parquet file: the cycle that wrote it, its absolute
    path and its row count (read from its footer at commit)."""

    cycle: int
    path: str
    rows: int


class Snapshot:
    """The committed store as of one cycle: the parsed manifests ≤ it."""

    def __init__(self, root: str, manifests: dict):
        self.root = root
        self.manifests = manifests  # cycle -> manifest
        self.cycle = max(manifests, default=0)

    def table_cycle(self, name: str) -> int | None:
        """Newest cycle that committed table ``name`` (None if none did)."""
        return max(
            (c for c, m in self.manifests.items() if name in m["tables"]),
            default=None,
        )

    def files(self, name: str, cycle: int) -> list:
        """The data files table ``name`` committed at ``cycle``."""
        m = self.manifests.get(cycle)
        if m is None or name not in m["tables"]:
            return []
        d = os.path.join(self.root, m["tables"][name])
        return [DataFile(cycle, os.path.join(d, p), rows)
                for p, rows, _bytes in m["files"][name]]

    def deltas(self, name: str, lo: int, hi: int) -> list:
        """Delta files of an append table committed in [lo, hi]."""
        return [f for c in range(lo, hi + 1) for f in self.files(name, c)]

    def appended(self, name: str, since: int = 1) -> tuple:
        """(base files, delta files) of an append table: the newest
        consolidated base, then the deltas after it.

        ``since`` restricts them to files that can hold rows written at
        cycle >= since. The delta of cycle j holds exclusively rows
        stamped j, so deltas before ``since`` are skipped wholesale, and
        so is a base older than ``since`` (it can only hold rows stamped
        <= its own cycle). A base AT OR AFTER ``since`` is included whole
        — it folds older rows in, so callers must still filter on the
        row's cycle column. This is the recrawl-TTL scan path: the
        per-cycle blocking set reads O(ttl) cycles of files instead of
        the full 10^10-row seen history."""
        base_cycle = self.table_cycle(f"{name}_base")
        base, start = [], since
        if base_cycle is not None:
            if base_cycle >= since:
                base = self.files(f"{name}_base", base_cycle)
            start = max(since, base_cycle + 1)
        return base, self.deltas(name, start, self.cycle)


class TableIO:
    def __init__(self, root: str):
        self.root = os.path.abspath(root)
        mdir = os.path.join(self.root, "_manifests")
        os.makedirs(mdir, exist_ok=True)
        self._manifests: dict = {}
        self._staged: dict = {}  # cycle -> {table: (rel, files)} to publish
        for n in os.listdir(mdir):
            p = os.path.join(mdir, n)
            if n.endswith(".json"):
                with open(p) as f:
                    self._manifests[int(n.split(".")[1])] = json.load(f)
            elif ".json.tmp." in n:
                os.remove(p)  # a publish that died before its rename
        self._sweep()

    def _sweep(self) -> None:
        """Remove what no manifest names: the failed writes under
        ``_tmp/`` and every unnamed ``<table>/cycle=k`` dir (a crashed
        cycle's tables, a crashed filter build's rows)."""
        named = {rel for m in self._manifests.values()
                 for rel in m["tables"].values()}
        shutil.rmtree(os.path.join(self.root, "_tmp"), ignore_errors=True)
        os.makedirs(os.path.join(self.root, "_tmp"))
        for name in os.listdir(self.root):
            d = os.path.join(self.root, name)
            if name.startswith(("_", "pages_canon")) or not os.path.isdir(d):
                continue
            for sub in os.listdir(d):
                if sub.startswith("cycle=") and f"{name}/{sub}" not in named:
                    shutil.rmtree(os.path.join(d, sub))

    # ---- manifests -----------------------------------------------------

    def _manifest_path(self, cycle: int) -> str:
        return os.path.join(self.root, "_manifests", f"manifest.{cycle:06d}.json")

    def manifest(self, cycle: int) -> dict | None:
        return self._manifests.get(cycle)

    def latest_cycle(self) -> int:
        return max(self._manifests, default=0)

    def snapshot(self, cycle: int) -> Snapshot:
        """The committed store as of ``cycle``."""
        return Snapshot(
            self.root,
            {c: m for c, m in self._manifests.items() if c <= cycle},
        )

    def _publish(self, cycle: int, entry: dict) -> dict:
        """Atomically publish manifest ``cycle`` with the tables staged
        for it — the one place that updates the manifest cache, and only
        once the rename is done."""
        staged = self._staged.get(cycle, {})
        if staged:
            names = sorted(staged)
            entry = {
                **entry,
                "tables": {**entry["tables"],
                           **{n: staged[n][0] for n in names}},
                "files": {**entry["files"],
                          **{n: staged[n][1] for n in names}},
            }
        path = self._manifest_path(cycle)
        tmp = f"{path}.tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(entry, f, separators=(",", ":"))
            # fsync BEFORE the rename: on delayed-allocation filesystems a
            # power loss after the (journaled) rename but before the data
            # blocks land leaves a zero-length manifest — which would brick
            # resume, violating "a cycle exists completely or not at all"
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, path)
        self._manifests[cycle] = entry
        self._staged.pop(cycle, None)
        return entry

    # ---- writes ----------------------------------------------------------

    def _write_df(self, df, rel: str, partition_by: list[str] | None = None):
        """Write to a tmp dir then atomically rename into place."""
        tmp = os.path.join(self.root, "_tmp", uuid.uuid4().hex)
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(tmp)
        final = os.path.join(self.root, rel)
        os.makedirs(os.path.dirname(final), exist_ok=True)
        if os.path.exists(final):
            shutil.rmtree(final)
        os.rename(tmp, final)
        return rel

    def _written_files(self, rel: str) -> list:
        """The data files of a just-written dir as manifest entries
        ``[path relative to the dir, rows, bytes]``, sorted by path; rows
        from each file's footer, bytes from its stat."""
        import pyarrow.parquet as pq

        d = os.path.join(self.root, rel)
        out = []
        for dirpath, _dirs, names in os.walk(d):
            for n in names:
                if n.endswith(".parquet") and not n.startswith("."):
                    p = os.path.join(dirpath, n)
                    out.append([
                        os.path.relpath(p, d),
                        pq.read_metadata(p).num_rows,
                        os.path.getsize(p),
                    ])
        return sorted(out)

    def write_table(self, df, name: str, cycle: int, partition_by=None):
        """Write table ``name`` of ``cycle`` and return its file entries;
        the cycle's next publish (``commit`` or ``commit_meta_update``)
        records the dir and the files in manifest k."""
        rel = self._write_df(df, f"{name}/cycle={cycle}", partition_by)
        files = self._written_files(rel)
        self._staged.setdefault(cycle, {})[name] = (rel, files)
        return files

    def commit(
        self,
        cycle: int,
        tables: dict,
        meta: dict | None = None,
        warm: tuple = (),
    ) -> tuple:
        """Write every table of the cycle CONCURRENTLY (Spark schedules
        independent jobs from separate threads), then atomically publish the
        manifest — the all-or-nothing checkpoint barrier.
        ``tables``: name -> (df, partition_by or None).
        ``warm``: table names written SEQUENTIALLY first — a write whose plan
        reads every lazily checkpointed (or persisted) upstream frame runs
        each one's remaining stages once, so the concurrent writes that
        follow read warm blocks instead of racing to compute them (neither
        dedupes concurrent materialization). Under AQE a lazy
        ``localCheckpoint`` has already run its shuffle-map stages when it
        was created; the warm write runs only its final stage.

        Returns (manifest, {table: write wall seconds}). The seconds stay
        out of the manifest, so the committed bytes depend only on the
        inputs: each write forces its plan (with the warm ordering it
        carries its stage's remaining cost), which makes them a per-stage
        cost attribution measured with no extra action."""
        from concurrent.futures import ThreadPoolExecutor

        entry: dict = {"cycle": cycle, "parent": cycle - 1,
                       "tables": {}, "files": {}}
        write_secs: dict = {}
        self._staged[cycle] = {}  # a retried commit starts afresh

        def write_one(item):
            name, (df, part) = item
            t0 = time.time()
            self.write_table(df, name, cycle, part)
            write_secs[name] = round(time.time() - t0, 2)

        for name in warm:
            if name in tables:
                write_one((name, tables[name]))
        rest = {n: v for n, v in tables.items() if n not in write_secs}
        if rest:
            with ThreadPoolExecutor(max_workers=len(rest)) as ex:
                list(ex.map(write_one, rest.items()))
        if meta:
            entry["meta"] = meta
        return self._publish(cycle, entry), write_secs

    def commit_meta_update(self, cycle: int, meta_update: dict) -> dict:
        """Merge keys into an existing manifest's meta and record the
        tables staged for it since (atomic rewrite)."""
        m = self.manifest(cycle)
        assert m is not None, f"no manifest for cycle {cycle}"
        return self._publish(
            cycle, {**m, "meta": {**m.get("meta", {}), **meta_update}}
        )

    # ---- reads ----------------------------------------------------------

    def _empty(self, spark, schema):
        """An empty frame of ``schema`` from an empty Arrow table: a
        LocalTableScan the optimizer prunes, where an empty Python list
        would plan an RDD scan that runs a job through Python workers."""
        from pyspark.sql.pandas.types import to_arrow_schema

        return spark.createDataFrame(
            to_arrow_schema(schema).empty_table(), schema
        )

    def _scan(self, spark, schema, files: list, base: str):
        """One scan of listed files; partition values (``host_bucket``,
        ``cell``, ``cycle``) come from their paths below ``base``."""
        if not files:
            return self._empty(spark, schema)
        return (
            spark.read.schema(schema)
            .option("basePath", base)
            .parquet(*(f.path for f in files))
        )

    def read_cycle(self, spark, name: str, cycle: int, schema):
        """Read a carry/percycle table exactly at cycle k."""
        return self._scan(
            spark, schema, self.snapshot(cycle).files(name, cycle),
            os.path.join(self.root, name, f"cycle={cycle}"),
        )

    def read_cycle_rows(self, name: str, cycle: int, schema) -> list[dict]:
        """A small committed table at cycle k as plain dicts, read on the
        driver with pyarrow — no Spark job. For driver-sized tables only
        (e.g. the per-bucket lineage); an uncommitted table reads as []."""
        import pyarrow.dataset as ds
        from pyspark.sql.pandas.types import to_arrow_schema

        files = self.snapshot(cycle).files(name, cycle)
        return ds.dataset(
            [f.path for f in files],
            format="parquet",
            schema=to_arrow_schema(schema),
        ).to_table().to_pylist()

    def _read_deltas(self, spark, name: str, schema, base: list, deltas: list):
        """base ∪ deltas in at most two scans. The base is read with
        ``basePath`` at its own cycle dir: at the table root, the path's
        ``cycle`` would replace the rows' own ``cycle`` column (a base
        folds older cycles in). Every delta's rows carry its own cycle,
        so the deltas share one scan at the table root; its columns are
        put in the order a scan of one cycle dir gives (the schema's, with
        the partition columns below the cycle dir last), and the
        discovered ``cycle`` is dropped where the schema has none. A
        frame's column order is the order an unpartitioned write of it
        stores (``resolved_base``)."""
        scans = []
        if base:
            scans.append(self._scan(
                spark, schema, base,
                os.path.join(self.root, f"{name}_base", f"cycle={base[0].cycle}"),
            ))
        if deltas:
            d = self._scan(spark, schema, deltas, os.path.join(self.root, name))
            below = d.columns[d.columns.index("cycle") + 1:]
            scans.append(d.select(
                *(c for c in schema.fieldNames() if c not in below), *below
            ))
        if not scans:
            return self._empty(spark, schema)
        return scans[0] if len(scans) == 1 else scans[0].unionByName(scans[1])

    def read_appended(
        self, spark, name: str, through_cycle: int, schema, since: int = 1
    ):
        """An append table as of cycle k: the newest consolidated base ≤ k
        (if any) and the deltas after it; ``since`` as in
        ``Snapshot.appended``."""
        base, deltas = self.snapshot(through_cycle).appended(name, since)
        return self._read_deltas(spark, name, schema, base, deltas)

    def read_delta_range(
        self, spark, name: str, from_cycle: int, to_cycle: int, schema
    ):
        """An append table's deltas in [from_cycle, to_cycle]."""
        deltas = self.snapshot(to_cycle).deltas(name, from_cycle, to_cycle)
        return self._read_deltas(spark, name, schema, [], deltas)
