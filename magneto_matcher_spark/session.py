"""SparkSession factory.

Defaults tuned for this sandbox (single JVM, ``local[N]``) but expressed so the
same code runs unchanged under ``spark-submit --py-files`` on a real cluster:
AQE on (runtime re-planning + skew-join splitting), Arrow on (every pandas UDF
crosses the JVM/Python boundary in columnar batches), shuffle partitions sized
to the parallelism level rather than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "magneto_matcher_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the SparkSession.

    ``master`` defaults to ``local[N]`` with N = :func:`local_cpus`.
    """
    cpus = local_cpus()
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # one shuffle partition per core: at cluster scale this would be
        # 2-3x total executor cores; AQE coalesces the small ones anyway.
        shuffle_partitions = max(cpus, _parse_local_threads(master))

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_cpus() -> int:
    """``local[N]`` parallelism: ``$SPARK_GRAFT_CPUS``, else the host's CPU
    count."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 1))


def _parse_local_threads(master: str) -> int:
    if master.startswith("local["):
        inner = master[len("local[") : -1]
        if inner == "*":
            return os.cpu_count() or 8
        try:
            return int(inner)
        except ValueError:
            return 8
    return 8
