"""SparkSession factory with scale-oriented defaults.

Local testing runs ``local[N]``; the conf is chosen so the same logical
plans survive a 1000-executor cluster: AQE on (runtime re-plan, skew-join
splitting, partition coalescing), Arrow on (every Pandas-UDF boundary is
batched), broadcast threshold left to AQE's runtime statistics.
Streaming checkpoints use Spark's FileSystem-based checkpoint manager:
without native Hadoop IO the default FileContext manager forks a
``readlink``/``chmod`` process per metadata call, and on ``file:`` both
managers refuse to overwrite an existing batch file (exists-check, then
rename).
Python workers start from ``worker_daemon`` instead of ``pyspark.daemon``:
before Python 3.13 each task's ``importlib.invalidate_caches()`` re-reads
the directory of every zip on the worker's path (``pyspark.zip``, py4j,
the spark-core jar), about 100 ms per task, and ``worker_daemon``
backports 3.13's lazy re-read. Executors must be able to import this
package, as executor dispatch already requires.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "event-streamer-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # the FileContext default forks readlink/chmod for each offset,
        # commit, source-log and state file when libhadoop is absent
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        # before Python 3.13 every task re-reads each zip on sys.path
        .config("spark.python.daemon.module", "event_streamer_spark.worker_daemon")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
