"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (single JVM); the
settings below are chosen so the same logical plans scale to a real
multi-executor cluster:

- AQE on (dynamic coalescing, skew-join splitting, runtime join strategy)
- shuffle partitions sized to the local core count rather than the 200
  default (on a cluster this would be ~2-3× total executor cores)
- Arrow enabled so any pandas-UDF path is vectorized
- UTC session timezone so timestamp semantics match the DuckDB oracle
- RocksDB state store for Structured Streaming keyed state (SURVEY §4
  scale rule): the default HDFSBackedStateStoreProvider keeps every
  key's state on the executor HEAP — a hard memory ceiling once keyed
  state (sessionization, dropDuplicatesWithinWatermark, stateful
  aggregations) reaches 100 TB-scale cardinalities. RocksDB spills to
  local disk with an off-heap block cache, bounding executor memory by
  cache size instead of key count. Changelog checkpointing ships per-
  batch deltas instead of full SST snapshots, keeping commit latency
  flat as state grows (OSS Spark ≥ 3.4).
- Streaming checkpoints written through Spark's FileSystem-based
  checkpoint file manager instead of its FileContext default. Every
  micro-batch makes a handful of sub-kilobyte durable writes: the
  offset WAL entry, the commit-log entry, the file source's seen-files
  log and the RocksDB changelog commit of each stateful operator. Each
  lands as a temp file renamed into place. Without libhadoop (the JVM
  logs ``NativeCodeLoader: Unable to load native-hadoop library``), the
  FileContext rename makes Hadoop's ``RawLocalFileSystem`` fork a
  ``readlink`` process for the temp file, the target and both ``.crc``
  files, about 58 forks per micro-batch of a two-job drain. The
  FileSystem-based manager writes through the same ``LocalFileSystem``,
  so every ``.crc`` is still written and verified, and renames with
  ``java.io.File.renameTo``: one atomic POSIX ``rename(2)`` on
  ``file:``, no fork. Scope: the sessions this factory builds are always
  ``local[N]`` with ``file:`` checkpoints (exec_utils.materialize relies
  on the same). A session that checkpoints to HDFS should keep Spark's
  FileContext default, whose rename is atomic there. Re-measure with
  ``python tools/jvm_forks.py``, which prints JVM process starts per
  non-empty micro-batch by command.
- A ``file:`` filesystem that sets permissions without forking. Without
  libhadoop, Hadoop's ``RawLocalFileSystem.setPermission`` runs the
  ``chmod`` command for every file and directory created through
  ``LocalFileSystem``: each checkpoint file and its ``.crc``, each state
  changelog and its checksum file, each parquet part file, committer
  directory and ``_SUCCESS``. That was ~24 forks per micro-batch of
  ``tumbling_counts`` and ~16 of the freshness maintainer.
  ``jvm/NioLocalFileSystem.java`` is Hadoop's own ``LocalFileSystem``
  (so every ``.crc`` is still written and verified) over a raw layer
  whose ``setPermission`` calls ``Files.setPosixFilePermissions``: the
  same ``chmod(2)`` with the same mode, following symlinks, and no
  process. A sticky-bit mode, or a target that already carries setuid
  or setgid, still goes to Hadoop's forking ``chmod``. The class is put
  on the driver classpath and named as ``fs.file.impl`` at JVM launch,
  before the first ``file:`` FileSystem is cached. Scope: the
  ``local[N]`` sessions this factory starts, whose executors share the
  driver JVM; the vanilla driver session of ``__spark_entry__.py`` keeps
  Hadoop's default. Rebuild the committed jar from its source with
  ``python tools/build_jar.py``.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark import SparkContext
from pyspark.sql import SparkSession

NIO_LOCAL_FS = "spring_and_kafka_spark.jvm.NioLocalFileSystem"
NIO_LOCAL_FS_JAR = Path(__file__).resolve().parent / "jvm" / "nio-local-fs.jar"


def _nio_local_fs_loadable() -> bool:
    """True unless this process already runs a JVM launched without the
    jar (a session stopped earlier), where naming the class as
    ``fs.file.impl`` would fail every ``file:`` access."""
    jvm = SparkContext._jvm
    return jvm is None or jvm.org.apache.spark.util.Utils.classIsLoadable(
        NIO_LOCAL_FS
    )


def get_spark(
    app_name: str = "spring_and_kafka_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.warehouse.dir", "/tmp/sks-warehouse")
        # Keyed streaming state on RocksDB (disk-backed, off-heap),
        # not the default heap-backed provider — see module docstring.
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        .config(
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled",
            "true",
        )
        # Fork-free checkpoint renames on file: — see module docstring.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
    )
    if _nio_local_fs_loadable():
        # Fork-free chmod on file: — see module docstring.
        builder = builder.config(
            "spark.driver.extraClassPath", str(NIO_LOCAL_FS_JAR)
        ).config("spark.hadoop.fs.file.impl", NIO_LOCAL_FS)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
