"""Tuned SparkSession factory (local mode here; cluster-ready confs).

Confs chosen for the scale story: AQE on (runtime coalesce + skew-join
splitting for hot hosts), Arrow for every pandas-UDF boundary, shuffle
partitions sized to cores (not the 200 default), UTC session timezone so
timestamp semantics match the UTC-µs fixture spec.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """min(48g, half of physical RAM): in local mode the driver JVM runs
    every task, and a heap cap above the machine's RAM lets it grow until
    the kernel kills it instead of collecting garbage."""
    half_mb = (
        os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**21
    )
    return f"{max(1024, min(48 * 1024, half_mb))}m"


def get_spark(
    master: str | None = None,
    app: str = "frontier-engine",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        # local[N,maxFailures] is a legal master spelling — thread count
        # is the part before the comma
        n = n.split(",")[0]
        shuffle_partitions = 32 if n == "*" else max(8, int(n))
    b = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    import json as _json

    env_conf = os.environ.get("FRONTIER_SPARK_CONF")
    merged = dict(_json.loads(env_conf)) if env_conf else {}
    merged.update(extra_conf or {})
    for k, v in merged.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
