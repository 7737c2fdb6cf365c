"""Single benchmark run: N crawl cycles at one parallelism level.

Invoked as a subprocess per master string so each measurement gets a fresh
JVM (``python -m frontier_engine.benchrun --master local[8] ...``) and
prints ONE JSON line. The timed region is the cycle loop only (BASELINE.md:
JVM startup, fixture generation and one-time corpus prep excluded).

Workload: whole-corpus seeding — cycle 1 ingests every page URL as a seed
(canonicalize -> hash -> dedup -> robots -> politeness window -> fetch join
-> extraction -> commit), so throughput means "frontier URLs
scheduled+deduped per second" at full width; later cycles re-offer
discovered links, which are mostly duplicates (the dedup-heavy steady
state of a converged frontier).
"""

import argparse
import json
import os
import shutil
import sys
import tempfile
import time


def seeds_df(spark, fixture_dir: str):
    from pyspark.sql import functions as F

    # NOTE: Spark's % keeps the dividend's sign, so the signed xxhash64
    # makes this 1..19 (not 10..19) — a wider deterministic priority
    # spread, kept as-is because every BENCH artifact since r01 carries
    # this distribution (a pmod respelling would shift the trace counters
    # and break cross-round comparability)
    return spark.read.parquet(os.path.join(fixture_dir, "pages.parquet")).select(
        "url",
        (F.xxhash64("url") % 10 + 10).cast("int").alias("priority"),
    )


def _warmup(spark) -> None:
    """Warm JVM codegen, shuffle machinery, and the Python/Arrow worker pool
    before the timed region (startup costs are excluded like JVM boot,
    BASELINE.md). Exercises each machinery kind the cycle uses."""
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    def _ident(s: pd.Series) -> pd.Series:
        return s

    u = F.pandas_udf(_ident, T.LongType())
    df = spark.range(10_000).toDF("x")
    (
        df.select(u("x").alias("x"))
        .groupBy((F.col("x") % 7).alias("k"))
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("r", F.row_number().over(Window.partitionBy("k").orderBy("n")))
        .count()
    )
    tmp = tempfile.mkdtemp(prefix="warmup-")
    df.limit(100).write.mode("overwrite").parquet(os.path.join(tmp, "w"))
    shutil.rmtree(tmp, ignore_errors=True)


def run_once(
    master: str,
    fixture_dir: str,
    pages_canon: str,
    cycles: int,
    default_budget: int,
    keep_workdir: str | None = None,
    stages: bool = False,
) -> dict:
    from pyspark.sql import functions as F

    from . import schemas
    from .config import EngineConfig
    from .scheduler import FrontierScheduler
    from .session import get_spark
    from .tableio import TableIO

    spark = get_spark(master, app=f"frontier-bench-{master}")
    cfg = EngineConfig(
        n_buckets=64,
        budgets={},
        default_budget=default_budget,
        retry_limit=1,
        compact_every=0,
        # the bench budget is effectively unbounded, so two-phase top-k
        # pruning would keep every row and only add a full extra window
        # pass; single exact window is the right plan here (config.py)
        politeness_salt=1 if default_budget >= 10**6 else 8,
    )
    if stages:
        # full value-add stage stack under bench load — OUTPUT-ONLY stages
        # (the crawl trace is identical, golden-pinned), so urls_per_sec
        # stays comparable with the headline and the delta IS the stages'
        # cost: corpus enrichment + nd_bands, ANN index, periodic near-dup
        # closure, host-rank build.
        import dataclasses as _dc

        cfg = _dc.replace(
            cfg,
            enrich_pages=True,
            ann_index=True,
            nd_closure_every=cycles,
            host_rank_every=1,
        )
    workdir = keep_workdir or tempfile.mkdtemp(prefix="frontier-bench-")
    io = TableIO(workdir)
    robots = spark.read.parquet(os.path.join(fixture_dir, "robots.parquet"))
    eng = FrontierScheduler(
        spark, io, cfg, pages_canon, robots, seeds_df(spark, fixture_dir)
    )

    _warmup(spark)
    t0 = time.time()
    cycle_secs = []
    # per-table write attribution (each write materializes its stage under
    # the warm ordering, so this is the per-stage cost breakdown, measured
    # with zero extra actions), summed across cycles per table
    tw: dict = {}
    for k in range(1, cycles + 1):
        tc = time.time()
        res = eng.run_cycle(k, build_filters=(k < cycles))
        cycle_secs.append(round(time.time() - tc, 2))
        for name, secs in res.write_secs.items():
            tw[name] = round(tw.get(name, 0.0) + secs, 2)
    elapsed = time.time() - t0

    lin = io.read_appended(spark, "lineage", cycles, schemas.LINEAGE)
    agg = lin.groupBy().agg(
        F.sum("enqueued").alias("enqueued"),
        F.sum("deduped").alias("deduped"),
        F.sum("rows_scanned").alias("rows_scanned"),
        F.sum("fetched_ok").alias("fetched_ok"),
        F.sum("errors").alias("errors"),
        F.sum("discovered").alias("discovered"),
    ).collect()[0]
    spark.stop()
    processed = int(agg["enqueued"]) + int(agg["deduped"])
    out = {
        "master": master,
        "cycles": cycles,
        "elapsed_sec": round(elapsed, 2),
        "enqueued": int(agg["enqueued"]),
        "deduped": int(agg["deduped"]),
        "rows_scanned": int(agg["rows_scanned"]),
        "fetched_ok": int(agg["fetched_ok"]),
        "errors": int(agg["errors"]),
        "discovered": int(agg["discovered"]),
        "urls_per_sec": round(processed / elapsed, 1),
        "cycle_secs": cycle_secs,
    }
    if tw:
        out["table_write_secs"] = tw
    if keep_workdir is None:
        shutil.rmtree(workdir, ignore_errors=True)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--master", required=True)
    ap.add_argument("--fixture", required=True)
    ap.add_argument("--pages-canon", required=True)
    ap.add_argument("--cycles", type=int, default=1)
    ap.add_argument("--default-budget", type=int, default=10**9)
    ap.add_argument(
        "--stages", action="store_true",
        help="enable the output-only value-add stages (enrich/ann/"
             "nd-closure/host-rank) to measure their cost",
    )
    ap.add_argument(
        "--keep-workdir",
        default=None,
        help="persist the run's committed tables here (determinism checks)",
    )
    args = ap.parse_args()
    res = run_once(
        args.master, args.fixture, args.pages_canon, args.cycles,
        args.default_budget, keep_workdir=args.keep_workdir,
        stages=args.stages,
    )
    print("BENCHJSON " + json.dumps(res), flush=True)


if __name__ == "__main__":
    sys.exit(main())
