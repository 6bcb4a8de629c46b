"""SparkSession factory.

One place to own the engine's execution knobs. The defaults are chosen
for correctness on local[N] *and* sanity at cluster scale:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  broadcast conversion) — the modern replacement for the reference's
  hand-tuned ``job.setNumReduceTasks(9)`` (UserHotcar.java:234-235).
- ``spark.sql.shuffle.partitions`` set to a small fixed number locally;
  on a real cluster AQE's coalescing makes the initial number mostly a
  ceiling, so 2-3x total cores is the guidance.
- Session timezone pinned to UTC so timestamp semantics are stable and
  match the DuckDB oracle (naive timestamps).
- Arrow enabled for any Pandas-UDF path (vectorized Python transfer).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "*")


def get_spark(
    app_name: str = "hadoop_app_spark",
    master: str | None = None,
    shuffle_partitions: int = 32,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    On a real cluster, drop ``master`` (spark-submit supplies it) and
    raise ``shuffle_partitions`` toward 2-3x total executor cores; AQE
    coalesces small partitions back down at runtime.

    Compressed-text ingest (SURVEY §2.1 S13, the reference's hadoop-lzo
    classpath dep, pom.xml:102-105): Spark reads gzip/bzip2/... text
    transparently; for splittable LZO supply the codec jar on the
    cluster and pass it through here, e.g. ``extra_conf={
    "spark.hadoop.io.compression.codecs":
    "com.hadoop.compression.lzo.LzopCodec"}``. This repo's storage
    substitution is parquet+zstd (set below) — columnar, splittable,
    and faster than any row-text codec at 100 TB.
    """
    if master is None:
        master = f"local[{DEFAULT_CPUS}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # defensive: files that genuinely store parquet TIMESTAMP(NANOS)
        # are refused by pre-4.1 builds unless read as a raw long. It only
        # affects schema-inferring reads: catalog.load_table declares
        # events.ts as TIMESTAMP_NTZ and never consults it. The driver's
        # events.parquet stores TIMESTAMP(MICROS, isAdjustedToUTC=false),
        # which reads natively as TIMESTAMP_NTZ — a no-op for that data.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
