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
(`latest_cycle`) never sees a torn write. Crash mid-cycle leaves orphan data
dirs that the next commit ignores (manifest is the source of truth).

Table kinds:
- carry   (pending):       full rewrite each cycle; read exactly cycle k
- append  (url_seen, lineage, resolved): per-cycle deltas; read = union of
          committed deltas ≤ k, with periodic consolidation ("compaction")
          so the union never grows unboundedly at 10^10-URL scale
- percycle (scheduled, discoveries): owned by a single cycle
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid


class TableIO:
    def __init__(self, root: str):
        self.root = os.path.abspath(root)
        os.makedirs(os.path.join(root, "_manifests"), exist_ok=True)
        os.makedirs(os.path.join(root, "_tmp"), exist_ok=True)

    # ---- manifests -----------------------------------------------------

    def _manifest_path(self, cycle: int) -> str:
        return os.path.join(self.root, "_manifests", f"manifest.{cycle:06d}.json")

    def manifest(self, cycle: int) -> dict | None:
        p = self._manifest_path(cycle)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def latest_cycle(self) -> int:
        d = os.path.join(self.root, "_manifests")
        cycles = [
            int(n.split(".")[1])
            for n in os.listdir(d)
            if n.startswith("manifest.") and n.endswith(".json")
        ]
        return max(cycles, default=0)

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

    def commit(
        self,
        cycle: int,
        tables: dict,
        meta: dict | None = None,
        warm: tuple = (),
    ) -> dict:
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
        was created; the warm write runs only its final stage."""
        from concurrent.futures import ThreadPoolExecutor

        entry: dict = {"cycle": cycle, "parent": cycle - 1, "tables": {}}
        # per-table wall seconds, recorded in the manifest: the writes
        # force their plans (with the warm ordering, each write carries
        # its stage's remaining cost; shuffle-map stages that a lazy
        # checkpoint ran under AQE when it was created are not in it), so
        # this is the machine-diffable per-stage attribution benchrun
        # aggregates — measured from the real writes, no extra actions
        entry["write_secs"] = {}

        def write_one(item):
            name, (df, part) = item
            rel = f"{name}/cycle={cycle}"
            t0 = time.time()
            self._write_df(df, rel, part)
            entry["write_secs"][name] = round(time.time() - t0, 2)
            return name, rel

        for name in warm:
            if name in tables:
                n, rel = write_one((name, tables[name]))
                entry["tables"][n] = rel
        rest = {n: v for n, v in tables.items() if n not in entry["tables"]}
        if rest:
            with ThreadPoolExecutor(max_workers=len(rest)) as ex:
                for name, rel in ex.map(write_one, rest.items()):
                    entry["tables"][name] = rel
        entry["committed_ts"] = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
        if meta:
            entry["meta"] = meta
        tmp = self._manifest_path(cycle) + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(entry, f, indent=1)
            # fsync BEFORE the rename: on delayed-allocation filesystems a
            # power loss after the (journaled) rename but before the data
            # blocks land leaves a zero-length manifest — which would brick
            # resume, violating "a cycle exists completely or not at all"
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, self._manifest_path(cycle))
        return entry

    def commit_meta_update(self, cycle: int, meta_update: dict) -> dict:
        """Merge keys into an existing manifest's meta (atomic rewrite)."""
        entry = self.manifest(cycle)
        assert entry is not None, f"no manifest for cycle {cycle}"
        entry.setdefault("meta", {}).update(meta_update)
        tmp = self._manifest_path(cycle) + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(entry, f, indent=1)
            # fsync BEFORE the rename: on delayed-allocation filesystems a
            # power loss after the (journaled) rename but before the data
            # blocks land leaves a zero-length manifest — which would brick
            # resume, violating "a cycle exists completely or not at all"
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, self._manifest_path(cycle))
        return entry

    # ---- reads ----------------------------------------------------------

    def latest_table_cycle(self, name: str, through_cycle: int) -> int | None:
        """Most recent cycle <= through_cycle whose manifest committed
        table ``name`` (None if never committed). Metadata walk only —
        used e.g. to locate the pinned ANN quantizer (ann_centroids) or
        the last near-dup closure (nd_components)."""
        for c in range(through_cycle, 0, -1):
            m = self.manifest(c)
            if m and name in m["tables"]:
                return c
        return None

    def _empty(self, spark, schema):
        """An empty frame of ``schema`` from an empty Arrow table: a
        LocalTableScan the optimizer prunes, where an empty Python list
        would plan an RDD scan that runs a job through Python workers."""
        from pyspark.sql.pandas.types import to_arrow_schema

        return spark.createDataFrame(
            to_arrow_schema(schema).empty_table(), schema
        )

    def read_cycle(self, spark, name: str, cycle: int, schema):
        """Read a carry/percycle table exactly at cycle k."""
        m = self.manifest(cycle)
        if m is None or name not in m["tables"]:
            return self._empty(spark, schema)
        return spark.read.schema(schema).parquet(
            os.path.join(self.root, m["tables"][name])
        )

    def read_cycle_rows(self, name: str, cycle: int, schema) -> list[dict]:
        """A small committed table at cycle k as plain dicts, read on the
        driver with pyarrow — no Spark job. For driver-sized tables only
        (e.g. the per-bucket lineage); an uncommitted table reads as []."""
        import pyarrow.dataset as ds
        from pyspark.sql.pandas.types import to_arrow_schema

        m = self.manifest(cycle)
        if m is None or name not in m["tables"]:
            return []
        return ds.dataset(
            os.path.join(self.root, m["tables"][name]),
            format="parquet",
            schema=to_arrow_schema(schema),
        ).to_table().to_pylist()

    def appended_dirs(
        self, name: str, through_cycle: int, since: int = 1
    ) -> list[str]:
        """Committed dirs of an append table through cycle k (newest base
        ≤ k, then the deltas after it) — the path walk behind
        ``read_appended``, exposed so metadata-driven consumers (e.g. the
        per-bucket filter build) can reach the files without a Spark scan.

        ``since`` restricts the walk to dirs that can hold rows written at
        cycle >= since. The delta of cycle j holds exclusively rows
        stamped j, so deltas before ``since`` are skipped wholesale, and
        so is a consolidated base older than ``since`` (it can only hold
        rows stamped <= its own cycle). A base AT OR AFTER ``since`` is
        included whole — it folds older rows in, so callers must still
        filter on the row's cycle column. This is the recrawl-TTL scan
        path: the per-cycle blocking set reads O(ttl) cycle dirs instead
        of the full 10^10-row seen history."""
        paths = []
        start = since
        base_name = f"{name}_base"
        for c in range(through_cycle, 0, -1):
            m = self.manifest(c)
            if m and base_name in m["tables"]:
                if c >= since:
                    paths.append(
                        os.path.join(self.root, m["tables"][base_name])
                    )
                    start = c + 1
                break
        for c in range(start, through_cycle + 1):
            m = self.manifest(c)
            if m and name in m["tables"]:
                paths.append(os.path.join(self.root, m["tables"][name]))
        return paths

    def read_appended(
        self, spark, name: str, through_cycle: int, schema, since: int = 1
    ):
        """Union of committed deltas of an append table up to cycle k,
        starting from the most recent consolidated base ≤ k (if any);
        ``since`` as in ``appended_dirs``."""
        return self._union_paths(
            spark, self.appended_dirs(name, through_cycle, since), schema
        )

    def _union_paths(self, spark, paths, schema):
        """Union several delta dirs. Each dir is itself hive-partitioned (by
        host_bucket), so they must be loaded separately — passing sibling
        `cycle=k` dirs in one load trips partition discovery."""
        if not paths:
            return self._empty(spark, schema)
        dfs = [spark.read.schema(schema).parquet(p) for p in paths]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out

    def delta_range_dirs(
        self, name: str, from_cycle: int, to_cycle: int
    ) -> list[str]:
        """Committed delta dirs of an append table in [from_cycle,
        to_cycle] (path walk behind ``read_delta_range``)."""
        paths = []
        for c in range(from_cycle, to_cycle + 1):
            m = self.manifest(c)
            if m and name in m["tables"]:
                paths.append(os.path.join(self.root, m["tables"][name]))
        return paths

    def read_delta_range(
        self, spark, name: str, from_cycle: int, to_cycle: int, schema
    ):
        """Union of an append table's deltas in [from_cycle, to_cycle]."""
        return self._union_paths(
            spark, self.delta_range_dirs(name, from_cycle, to_cycle), schema
        )

    # URL-seen membership filters are ordinary parquet rows under
    # filters/cycle=<k>/ written through _write_df and located via manifest
    # meta ("filters", "filters_buckets") — see membership.filter_locations.
