"""Per-layer tracing for the frontier benchmark (``--trace 1`` runs only).

Two sources:

- **Spans** recorded here, around calls into the engine's public
  functions: ``TableIO`` table writes, ``membership.rebuild_filters``, and
  standalone probes of the layers that run lazily inside a cycle
  (``canon_host_udf``, ``handle_page_udf``, ``split_by_filter``,
  ``apply_robots`` + ``rank_by_budget``). A probe re-runs its layer on the
  cycle's committed inputs and forces it with a ``noop`` write, after the
  cycle's timed window has closed. Spans stay in memory and are written
  out once, at the end of the run.
- **Spark's event log** (enabled through the engine's
  ``FRONTIER_SPARK_CONF`` session hook): jobs, tasks, retries, shuffle and
  spill inside the cycles' wall-clock windows, and the part of each cycle
  during which no Spark job was running (``driver_gap_s``).
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time


class Spans:
    """In-memory span log: name, start, end, parent and attributes."""

    def __init__(self):
        self.spans: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "start": time.time(), "end": None, "attrs": attrs}
        self.spans.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()

    def total(self, name: str, attr: str | None = None) -> float:
        """Sum of durations (or of one attribute) over spans named
        ``name``."""
        out = 0.0
        for s in self.spans:
            if s["name"] == name:
                out += s["attrs"].get(attr, 0) if attr else s["end"] - s["start"]
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def dir_bytes_files(path: str) -> tuple[int, int]:
    """(bytes, parquet files) under a directory."""
    nbytes = nfiles = 0
    for d, _, files in os.walk(path):
        for f in files:
            nbytes += os.path.getsize(os.path.join(d, f))
            if f.endswith(".parquet"):
                nfiles += 1
    return nbytes, nfiles


def trace_table_writes(io, spans: Spans) -> None:
    """Record a ``tableio`` span (seconds, bytes, files) around every table
    write of this TableIO instance. Concurrent commit writes each get
    their own span."""
    inner = io._write_df

    def traced(df, rel, partition_by=None):
        table = rel.split("/", 1)[0]
        with spans.span(f"tableio.{table}") as s:
            out = inner(df, rel, partition_by)
        s["attrs"]["bytes"], s["attrs"]["files"] = dir_bytes_files(
            os.path.join(io.root, rel)
        )
        return out

    io._write_df = traced


@contextlib.contextmanager
def trace_filter_rebuild(spans: Spans):
    """Span around every ``membership.rebuild_filters`` call (the
    scheduler imports it at call time, so patching the module suffices)."""
    from frontier_engine import membership

    inner = membership.rebuild_filters

    def traced(*a, **kw):
        with spans.span("membership.rebuild"):
            return inner(*a, **kw)

    membership.rebuild_filters = traced
    try:
        yield
    finally:
        membership.rebuild_filters = inner


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def probe_cycle(spark, io, cfg, k: int, seeds_df, robots_df,
                pages_canon: str, spans: Spans) -> None:
    """Re-run cycle k's lazily evaluated layers standalone on its
    committed inputs, one span each (inputs materialised before timing)."""
    from pyspark.sql import functions as F

    from frontier_engine import schemas
    from frontier_engine.canon import canon_host_udf
    from frontier_engine.extract import handle_page_udf
    from frontier_engine.membership import split_by_filter
    from frontier_engine.politeness import (
        apply_robots, budgets_df, rank_by_budget,
    )
    from frontier_engine.scheduler import register_pages_table

    held: list = []

    def hold(df):
        held.append(df)
        df = df.persist()
        return df, df.count()

    try:
        # -- canon: this cycle's discoveries (cycle 1: the seed list) -----
        if k == 1:
            disc = seeds_df.select(
                "url", F.col("priority").cast("int").alias("priority"),
                F.lit(None).cast("timestamp").alias("discovered_ts"),
                F.lit(None).cast("string").alias("src_host"),
            )
        else:
            disc = io.read_cycle(
                spark, "discoveries", k - 1, schemas.DISCOVERIES
            )
        disc = disc.repartition(spark.sparkContext.defaultParallelism)
        disc, n_disc = hold(disc)
        ch = canon_host_udf()
        if n_disc:
            with spans.span("canon", urls=n_disc):
                _noop(disc.select(ch("url").alias("c")))

        # -- membership probe: the cuckoo prefilter over the candidates --
        if k > 1 and n_disc:
            cand = (
                disc.withColumn("_ch", ch("url"))
                .select(
                    F.col("_ch.url_canon").alias("url_canon"),
                    F.col("_ch.host").alias("host"),
                    "priority", "discovered_ts", "src_host",
                )
                .where(F.col("url_canon").isNotNull())
                .withColumn("url_hash", F.xxhash64("url_canon"))
                .withColumn(
                    "host_bucket",
                    F.pmod(F.xxhash64("host"), F.lit(cfg.n_buckets))
                    .cast("int"),
                )
            )
            cand, n_cand = hold(cand)
            new, _maybe, tested = split_by_filter(cand, io, k - 1, cfg)
            if tested is not None:
                held.append(tested)
                with spans.span("membership.probe") as s:
                    _noop(tested)
                s["attrs"]["candidates"] = n_cand
                s["attrs"]["definite_new"] = new.count()

        # -- extract: the scheduled pages' html ---------------------------
        sched = io.read_cycle(spark, "scheduled", k, schemas.SCHEDULED)
        pages = spark.table(
            register_pages_table(spark, pages_canon, cfg.n_buckets)
        ).select("url_hash", "html")
        fetched, n_pages = hold(sched.select("url_hash").join(pages, "url_hash"))
        if n_pages:
            html_bytes = fetched.agg(F.sum(F.length("html"))).collect()[0][0]
            with spans.span("extract", pages=n_pages, html_bytes=html_bytes):
                _noop(fetched.select(handle_page_udf()("html").alias("h")))

        # -- politeness: robots + budget window over the eligible rows ----
        # eligible(k) = scheduled(k) + deferred(k); deferred = the pending
        # carry minus the retried fetch misses (which are scheduled too)
        cols = schemas.PENDING.fieldNames()
        s_rows = sched.withColumn("discovered_ts", F.col("crawl_ts")).select(
            *cols
        )
        deferred = io.read_cycle(spark, "pending", k, schemas.PENDING).join(
            sched.select("url_hash"), "url_hash", "left_anti"
        ).select(*cols)
        eligible, n_elig = hold(s_rows.unionByName(deferred))
        salt = cfg.politeness_salt
        with spans.span("politeness", rows_ranked=n_elig):
            el = apply_robots(
                eligible, robots_df, rfc=cfg.robots_rfc, small=True
            ).where("NOT blocked").drop("blocked")
            if salt <= 1:
                el = el.repartition(cfg.n_buckets, "host_bucket")
            _noop(rank_by_budget(
                el, budgets_df(spark, cfg.budgets), cfg.default_budget,
                salt=salt, bucketed=salt <= 1,
            ))
    finally:
        for df in held:
            df.unpersist()


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


def eventlog_metrics(log_dir: str, windows: list[tuple[float, float]]) -> dict:
    """Scheduler metrics over the given (start, end) epoch-second windows."""
    # Spark 4 writes rolling logs: <dir>/eventlog_v2_<app>/events_<n>_<app>
    files = sorted(
        p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True)
        if os.path.isfile(p) and os.path.basename(p).startswith("events")
    )
    ms = [(a * 1000.0, b * 1000.0) for a, b in windows]

    def inside(t):
        return any(a <= t <= b for a, b in ms)

    jobs: dict = {}
    tasks = retries = shuffle = spill = 0
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs.setdefault(ev["Job ID"], [None, None])[0] = ev[
                        "Submission Time"
                    ]
                elif kind == "SparkListenerJobEnd":
                    jobs.setdefault(ev["Job ID"], [None, None])[1] = ev[
                        "Completion Time"
                    ]
                elif kind == "SparkListenerTaskEnd":
                    info = ev.get("Task Info", {})
                    if not inside(info.get("Launch Time", -1)):
                        continue
                    tasks += 1
                    if info.get("Attempt", 0) > 0 or info.get("Failed"):
                        retries += 1
                    m = ev.get("Task Metrics") or {}
                    shuffle += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    spill += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    intervals = [
        (a, b) for a, b in jobs.values() if a is not None and b is not None
    ]
    n_jobs = sum(1 for a, _ in intervals if inside(a))
    gap = 0.0
    for wa, wb in ms:
        clipped = sorted(
            (max(a, wa), min(b, wb)) for a, b in intervals if a < wb and b > wa
        )
        busy, cur_a, cur_b = 0.0, None, None
        for a, b in clipped:
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    busy += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            busy += cur_b - cur_a
        gap += (wb - wa) - busy
    return {
        "scheduler.jobs": n_jobs,
        "scheduler.tasks": tasks,
        "scheduler.task_retries": retries,
        "scheduler.driver_gap_s": gap / 1000.0,
        "scheduler.shuffle_write_bytes": shuffle,
        "scheduler.spill_bytes": spill,
    }
