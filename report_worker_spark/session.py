"""SparkSession builders.

Local test profile mirrors the cluster profile's *logical* settings
(UTC session tz, AQE, Arrow) while sizing shuffle partitions to the
local core count. On a real cluster the same builder is used with
``master`` unset (picked up from spark-submit) and shuffle partitions
sized to ~2-3× total executor cores.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Settings that are correctness-relevant (must be identical everywhere).
_SEMANTIC_CONF = {
    # The reference mixes local-tz and UTC epoch handling
    # (reference src/app/views/report.py:142-144); we pin UTC.
    "spark.sql.session.timeZone": "UTC",
    # DuckDB oracle reads parquet TIMESTAMP as naive; NTZ avoids tz skew.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}

# Settings that are performance-relevant (scale with the deployment).
_PERF_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Dims (players ~ customer/supplier) are broadcast-sized by design.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # 128 MB parquet split: at 100 TB that is ~800k input tasks — fine;
    # raising it only reduces scheduler pressure, never correctness.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    # Wide aggregates (64-state MinHash/SimHash signatures) must stay
    # inside whole-stage codegen; the default 100-field cutoff silently
    # drops them to the interpreted path (~2× slower, measured).
    "spark.sql.codegen.maxFields": "400",
}


def get_spark(
    app_name: str = "report_worker_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``master=None`` defers to spark-submit / existing session (cluster
    path); tests pass ``local[N]``.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    b = SparkSession.builder.appName(app_name).master(master)
    for k, v in {**_SEMANTIC_CONF, **_PERF_CONF}.items():
        b = b.config(k, v)
    b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    # local[N] runs driver + all executor threads in ONE JVM; size the
    # heap for that (a cluster deployment would override per-role), but
    # leave half the machine's RAM to the OS and the Python workers — a
    # heap sized past physical memory gets the JVM OOM-killed.
    half_ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**21
    b = b.config(
        "spark.driver.memory",
        os.environ.get("SPARK_GRAFT_DRIVER_MEM", f"{min(32 * 1024, half_ram_mb)}m"),
    )
    b = b.config("spark.ui.enabled", "false")
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
