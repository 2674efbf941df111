"""``get_spark`` defaults: core count and the streaming checkpoint
manager, plus the file contract that manager keeps on ``file:``."""

import os

import pytest
from pyspark.sql import SparkSession

from event_streamer_spark.session import get_spark

MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
FS_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


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

    other = "com.example.OtherCheckpointFileManager"
    assert get_spark(extra_conf={MANAGER_KEY: other})[MANAGER_KEY] == other


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
