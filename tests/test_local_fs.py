"""The engine session's ``file:`` FileSystem: Hadoop's checksummed local
FileSystem whose ``setPermission`` is a syscall, not a forked ``chmod``.
The modes it leaves are Hadoop's, and the committed jar is a build of
the committed source."""

from __future__ import annotations

import glob
import os
import shutil
import stat
import subprocess
import sys
import zipfile
from pathlib import Path

import pyspark
import pytest
from pyspark.sql import functions as F

from biosample_enricher_spark.session import LOCAL_FS_CLASS, LOCAL_FS_JAR

REPO = Path(__file__).resolve().parents[1]
SOURCE = REPO / "biosample_enricher_spark" / "jvm" / "NioLocalFileSystem.java"


def _local_fs(spark):
    jvm = spark._jvm
    return jvm.org.apache.hadoop.fs.FileSystem.get(
        jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration()
    )


def _mode(path) -> int:
    return stat.S_IMODE(os.stat(path).st_mode)


def test_engine_session_local_fs_is_the_syscall_one(spark):
    fs = _local_fs(spark)
    assert fs.getClass().getName() == LOCAL_FS_CLASS
    assert fs.getRaw().getClass().getName() == LOCAL_FS_CLASS + "$Raw"


def test_partitioned_write_leaves_hadoop_default_modes(spark, tmp_path):
    """Every file (data and ``.crc``) and every directory of a
    partitioned write has Hadoop's default mode after the umask."""
    perm = spark._jvm.org.apache.hadoop.fs.permission.FsPermission
    umask = perm.getUMask(spark._jsc.hadoopConfiguration())
    file_mode = perm.getFileDefault().applyUMask(umask).toShort()
    dir_mode = perm.getDirDefault().applyUMask(umask).toShort()

    out = tmp_path / "out"
    (
        spark.range(200)
        .withColumn("partition_id", F.col("id") % 8)
        .repartition(2, "partition_id")
        .write.partitionBy("partition_id")
        .parquet(str(out))
    )
    dirs, files = [], []
    for root, ds, fs in os.walk(out):
        dirs += [os.path.join(root, d) for d in ds]
        files += [os.path.join(root, f) for f in fs]
    assert len(dirs) == 8 and any(f.endswith(".crc") for f in files)
    assert {_mode(d) for d in dirs + [out]} == {dir_mode}
    assert {_mode(f) for f in files} == {file_mode}


def test_set_permission_applies_plain_and_sticky_modes(spark, tmp_path):
    """A mode within 0777 is set by the syscall; a sticky-bit mode goes
    to Hadoop's own ``chmod`` and still applies."""
    jvm = spark._jvm
    fs = _local_fs(spark)
    perm = jvm.org.apache.hadoop.fs.permission.FsPermission
    plain, sticky = tmp_path / "plain", tmp_path / "sticky"
    plain.write_text("x")
    sticky.mkdir()
    fs.setPermission(jvm.org.apache.hadoop.fs.Path(str(plain)), perm("640"))
    fs.setPermission(jvm.org.apache.hadoop.fs.Path(str(sticky)), perm("1777"))
    assert _mode(plain) == 0o640
    assert _mode(sticky) == 0o1777


def test_rename_onto_an_existing_file_fails(spark, tmp_path):
    """As with the ``file:`` FileSystem Spark loads otherwise (Hive's
    ``ProxyLocalFileSystem``): the destination file is not replaced."""
    fs, path = _local_fs(spark), spark._jvm.org.apache.hadoop.fs.Path
    src, dst = tmp_path / "src", tmp_path / "dst"
    src.write_text("new")
    dst.write_text("old")
    assert not fs.rename(path(str(src)), path(str(dst)))
    assert (src.read_text(), dst.read_text()) == ("new", "old")
    assert fs.rename(path(str(src)), path(str(tmp_path / "moved")))
    assert (tmp_path / "moved").read_text() == "new"


WRITE_AND_APPEND = """
import os, sys
from pyspark.sql import functions as F
from biosample_enricher_spark.checkpoint import CHECKPOINT_SCHEMA, CheckpointTable
from biosample_enricher_spark.session import get_spark

out = sys.argv[1]
spark = get_spark(master="local[2]", shuffle_partitions=4)
(
    spark.range(640)
    .withColumn("partition_id", (F.col("id") % 64).cast("int"))
    .repartition(2, "partition_id")
    .write.partitionBy("partition_id")
    .parquet(os.path.join(out, "violations"))
)
rows = [("r", p, "c", "ok", 10, 0, {}, None) for p in range(64)]
table = CheckpointTable(spark, os.path.join(out, "cp"))
table.append(spark.createDataFrame(rows, CHECKPOINT_SCHEMA))
print(table.read().count())
"""


def test_write_and_lineage_append_run_without_chmod(tmp_path):
    """In a session whose PATH finds a failing ``chmod`` first, a
    64-bucket partitioned write and a lineage append succeed and run no
    ``chmod``."""
    bin_dir, log = tmp_path / "bin", tmp_path / "chmod.log"
    bin_dir.mkdir()
    fake = bin_dir / "chmod"
    fake.write_text(f'#!/bin/sh\necho "$*" >> {log}\nexit 1\n')
    fake.chmod(0o755)
    env = dict(
        os.environ,
        PATH=f"{bin_dir}{os.pathsep}{os.environ['PATH']}",
        PYTHONPATH=os.pathsep.join(filter(None, (str(REPO), os.environ.get("PYTHONPATH")))),
        PYSPARK_PYTHON=sys.executable,
        SPARK_DRIVER_MEMORY="1g",
        SPARK_GRAFT_PREWARM="0",
    )
    out = tmp_path / "out"
    proc = subprocess.run(
        [sys.executable, "-c", WRITE_AND_APPEND, str(out)],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.strip().splitlines()[-1] == "64"
    assert len(glob.glob(str(out / "violations" / "partition_id=*"))) == 64
    assert not log.exists()


@pytest.mark.skipif(shutil.which("javac") is None, reason="needs a JDK")
def test_jar_is_a_build_of_the_source(tmp_path):
    """Recompiling the source against pyspark's Hadoop client API gives
    the committed jar's class bytes."""
    api = glob.glob(os.path.join(os.path.dirname(pyspark.__file__), "jars", "hadoop-client-api-*.jar"))
    assert len(api) == 1
    subprocess.run(
        ["javac", "--release", "17", "-cp", api[0], "-d", str(tmp_path), str(SOURCE)],
        check=True, capture_output=True,
    )
    built = {
        str(p.relative_to(tmp_path)): p.read_bytes() for p in tmp_path.rglob("*.class")
    }
    with zipfile.ZipFile(LOCAL_FS_JAR) as jar:
        committed = {n: jar.read(n) for n in jar.namelist() if n.endswith(".class")}
    assert built == committed
