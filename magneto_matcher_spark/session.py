"""SparkSession factory.

Defaults tuned for this sandbox (single JVM, ``local[N]``) but expressed so the
same code runs unchanged under ``spark-submit --py-files`` on a real cluster:
AQE on (runtime re-planning + skew-join splitting), Arrow on (every pandas UDF
crosses the JVM/Python boundary in columnar batches), shuffle partitions sized
to the parallelism level rather than the 200 default.

Two settings cut fixed per-write and per-scan costs:

- **A fork-free local FileSystem** (``jvm/NoForkLocalFileSystem.java``, its
  jar committed next to it).  Without the native libhadoop, Hadoop's
  ``RawLocalFileSystem.setPermission`` forks ``chmod`` for every file and
  directory a write creates (parquet, ``.crc``, ``_SUCCESS``): on a 4-vCPU
  host, about 150 new pids and 0.3 CPU-s of reaped children for a 16-file
  ``partitionBy`` write.  The
  replacement keeps ``LocalFileSystem``'s checksums and sets the same mode
  bits through ``java.nio``.  It is loaded only when :func:`get_spark`
  itself launches the JVM, since the driver classpath is fixed at launch:
  sessions from ``spark-submit`` or an already-running JVM keep their
  filesystem.
- **Driver-side listing of explicit paths.**  Above
  ``spark.sql.sources.parallelPartitionDiscovery.threshold`` (32) paths, a
  scan's file index is built by a Spark job with one task per path; a lake
  read passes one path per data file, all local, so it is listed on the
  driver instead.
"""

from __future__ import annotations

import os

from pyspark import SparkContext
from pyspark.sql import SparkSession

NOFORK_FS_JAR = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "jvm", "nofork-localfs.jar"
)
NOFORK_FS_CLASS = "magneto_matcher_spark.jvm.NoForkLocalFileSystem"


def get_spark(
    app_name: str = "magneto_matcher_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the SparkSession.

    ``master`` defaults to ``local[N]`` with N = :func:`local_cpus`.

    When this call launches the JVM, it puts the fork-free FileSystem's jar
    in front of any ``spark.driver.extraClassPath`` in ``extra_conf`` and
    makes it ``fs.file.impl`` (see the module docstring).  A session whose
    JVM already runs (a ``spark-submit`` job, or a second call in one
    process) is built without either, because a class added now would not
    be on the driver's classpath.
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
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "100000")
    )
    conf = dict(extra_conf or {})
    launches_jvm = SparkContext._gateway is None  # noqa: SLF001
    if launches_jvm and "PYSPARK_GATEWAY_PORT" not in os.environ:
        builder = builder.config("spark.hadoop.fs.file.impl", NOFORK_FS_CLASS)
        conf["spark.driver.extraClassPath"] = os.pathsep.join(
            p for p in (NOFORK_FS_JAR, conf.get("spark.driver.extraClassPath")) if p
        )
    for k, v in conf.items():
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
