"""``get_spark`` defaults: core count, the streaming checkpoint manager
and the Python worker daemon; the file contract that manager keeps on
``file:``; and the daemon's lazy zipimport cache, in a Python task and
in a fresh interpreter."""

import os
import subprocess
import sys
import textwrap
import zipfile
from pathlib import Path

import pytest
from pyspark.sql import SparkSession

from event_streamer_spark.session import get_spark

MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
FS_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)
DAEMON_KEY = "spark.python.daemon.module"


def test_get_spark_defaults_and_extra_conf_override(monkeypatch):
    # read the builder's options instead of building a session
    monkeypatch.setattr(
        SparkSession.Builder, "getOrCreate", lambda self: dict(self._options)
    )
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    conf = get_spark()
    cores = len(os.sched_getaffinity(0))
    assert conf["spark.master"] == f"local[{cores}]"
    assert conf["spark.sql.shuffle.partitions"] == str(cores)
    assert conf[MANAGER_KEY] == FS_MANAGER
    assert conf[DAEMON_KEY] == "event_streamer_spark.worker_daemon"

    other = "com.example.OtherCheckpointFileManager"
    assert get_spark(extra_conf={MANAGER_KEY: other})[MANAGER_KEY] == other
    assert get_spark(extra_conf={DAEMON_KEY: "pyspark.daemon"})[DAEMON_KEY] == "pyspark.daemon"


def test_checkpoint_manager_refuses_overwrite_and_writes_crc(spark, tmp_path):
    """The manager streaming queries get from this session: a batch file
    is written atomically with its ``.crc``, and a second write of the
    same file without overwrite fails (what ``HDFSMetadataLog`` relies
    on to refuse a concurrent writer)."""
    jvm = spark._jvm
    hconf = spark._jsparkSession.sessionState().newHadoopConf()
    path = jvm.org.apache.hadoop.fs.Path(str(tmp_path / "offsets" / "0"))
    fm = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        path.getParent(), hconf
    )
    assert fm.getClass().getName() == FS_MANAGER

    def write(byte: int) -> None:
        out = fm.createAtomic(path, False)
        out.write(byte)
        out.close()

    write(1)
    assert sorted(os.listdir(tmp_path / "offsets")) == [".0.crc", "0"]
    with pytest.raises(Exception, match="already exists"):
        write(2)
    assert (tmp_path / "offsets" / "0").read_bytes() == b"\x01"


def test_python_task_does_not_reread_zip_archives(spark):
    """Each Python task calls ``importlib.invalidate_caches()``; in the
    worker that must not re-read the directory of any zip on its path
    (``pyspark.zip``, py4j, the spark-core jar). Stock zipimport before
    3.13 re-reads one per cached importer."""
    def count_rereads(_rows):
        import importlib
        import sys
        import zipimport

        reads = [0]
        read_directory = zipimport._read_directory

        def counted(path):
            reads[0] += 1
            return read_directory(path)

        zipimport._read_directory = counted
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        importers = sum(
            isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
        )
        yield reads[0], importers

    [(reads, importers)] = (
        spark.sparkContext.parallelize([0], 1).mapPartitions(count_rereads).collect()
    )
    assert importers > 0
    assert reads == 0


LAZY_ZIP_CACHE_SCRIPT = textwrap.dedent(
    """
    import importlib, importlib.util, os, sys, zipfile, zipimport
    from event_streamer_spark.worker_daemon import backport_lazy_zip_cache

    if sys.version_info < (3, 13):
        backport_lazy_zip_cache()
    path = sys.argv[1]
    sys.path[:0] = [path, path + "/sub"]
    import mod_a, mod_c  # one cached importer per path entry

    reads = []
    read_directory = zipimport._read_directory
    zipimport._read_directory = lambda p: reads.append(p) or read_directory(p)

    with zipfile.ZipFile(path, "w") as z:
        for name in ("mod_a.py", "mod_b.py", "sub/mod_c.py"):
            z.writestr(name, "")
    importlib.invalidate_caches()
    assert reads == [], reads
    assert importlib.util.find_spec("mod_b") is not None
    assert importlib.util.find_spec("mod_missing") is None
    assert reads == [path], reads  # both importers share one re-read

    os.remove(path)
    importlib.invalidate_caches()
    assert importlib.util.find_spec("mod_missing") is None
    print("ok")
    """
)


def test_lazy_zip_cache_rereads_changed_and_deleted_archives(tmp_path):
    """The backport in a fresh interpreter, so this process keeps stock
    zipimport: a rewritten archive is seen on the next lookup, a deleted
    one finds nothing and raises nothing, and two importers of one
    archive share one re-read."""
    path = tmp_path / "mods.zip"
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("mod_a.py", "")
        z.writestr("sub/mod_c.py", "")
    out = subprocess.run(
        [sys.executable, "-c", LAZY_ZIP_CACHE_SCRIPT, str(path)],
        cwd=Path(__file__).resolve().parents[1],
        capture_output=True,
        text=True,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "ok"
