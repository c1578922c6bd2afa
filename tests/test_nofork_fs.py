"""The fork-free local FileSystem that ``session.get_spark`` loads
(``magneto_matcher_spark/jvm/NoForkLocalFileSystem.java``): it is the
session's ``file://`` filesystem, lake files keep Hadoop's modes, and the
committed jar is the committed source."""

import os
import shutil
import stat
import subprocess
import zipfile

import pyspark
import pytest
from pyspark.sql import types as T

from magneto_matcher_spark.schemas import CHANGE_FEED_SCHEMA, TRANSCRIPT_KEY
from magneto_matcher_spark.session import NOFORK_FS_CLASS, NOFORK_FS_JAR
from magneto_matcher_spark.sources.lake import LakeTable

TABLE_SCHEMA = T.StructType([f for f in CHANGE_FEED_SCHEMA.fields if f.name != "op"])


def test_session_file_scheme_is_fork_free(spark):
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(
        jvm.java.net.URI("file:///"), spark.sparkContext._jsc.hadoopConfiguration()
    )
    assert fs.getClass().getName() == NOFORK_FS_CLASS
    assert fs.getRawFileSystem().getClass().getName() == NOFORK_FS_CLASS + "$Raw"


def test_lake_write_keeps_hadoop_modes(spark, tmp_path):
    """Every file a lake write creates (parquet, ``.crc``, ``_SUCCESS``) is
    0644 and every directory 0755: Hadoop's defaults under its 022 umask,
    the modes its forked ``chmod`` set."""
    import datetime

    t = LakeTable.create(
        spark, str(tmp_path / "t"), TABLE_SCHEMA, key=TRANSCRIPT_KEY, n_buckets=4
    )
    ts = datetime.datetime(2024, 1, 1)
    t.merge(spark.createDataFrame(
        [(i, "I", f"c{i}", 0, "user", "x", None, ts) for i in range(16)]
        + [(20, "D", "c3", 0, "user", "x", None, ts)],
        CHANGE_FEED_SCHEMA,
    ))
    data = os.path.join(t.root, "data")
    files: dict[str, int] = {}
    dirs: dict[str, int] = {}
    for d, subdirs, names in os.walk(data):
        for s in subdirs:
            dirs[s] = stat.S_IMODE(os.stat(os.path.join(d, s)).st_mode)
        for n in names:
            files[n] = stat.S_IMODE(os.stat(os.path.join(d, n)).st_mode)
    kinds = {n.rsplit(".", 1)[-1] if "." in n else n for n in files}
    assert {"parquet", "crc", "_SUCCESS"} <= kinds
    assert any(n.startswith("_tomb=1") for n in dirs)
    assert set(files.values()) == {0o644}, files
    assert set(dirs.values()) == {0o755}, dirs


@pytest.mark.skipif(shutil.which("javac") is None, reason="needs a JDK's javac")
def test_committed_jar_is_built_from_committed_source(tmp_path):
    src = os.path.join(os.path.dirname(NOFORK_FS_JAR), "NoForkLocalFileSystem.java")
    spark_home = os.environ.get("SPARK_HOME") or os.path.dirname(pyspark.__file__)
    jars = os.path.join(spark_home, "jars", "*")
    subprocess.run(
        ["javac", "--release", "17", "-cp", jars, "-d", str(tmp_path), src],
        check=True, capture_output=True,
    )
    with zipfile.ZipFile(NOFORK_FS_JAR) as jar:
        committed = {
            n: jar.read(n) for n in jar.namelist() if n.endswith(".class")
        }
    built = {
        os.path.relpath(os.path.join(d, n), tmp_path).replace(os.sep, "/"):
            open(os.path.join(d, n), "rb").read()
        for d, _, names in os.walk(tmp_path) for n in names if n.endswith(".class")
    }
    assert set(committed) == set(built) and len(built) == 2
    assert committed == built
