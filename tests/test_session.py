"""Session factory defaults that change how Spark writes to disk."""

from __future__ import annotations

from gmall_spark.session import (
    CHECKPOINT_MANAGER_KEY,
    FS_CHECKPOINT_MANAGER,
    get_session,
)

FILE_CONTEXT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileContextBasedCheckpointFileManager"
)


def test_local_checkpoints_use_filesystem_manager(spark, tmp_path):
    """On a local default filesystem every checkpoint write (driver
    logs and executor state deltas alike) goes through the FileSystem
    API, whose local rename forks no shell process."""
    jvm = spark.sparkContext._jvm
    assert spark.sparkContext._jsc.hadoopConfiguration().get("fs.defaultFS").startswith(
        "file:"
    )
    assert spark.conf.get(CHECKPOINT_MANAGER_KEY) == FS_CHECKPOINT_MANAGER
    # Spark must load the class (it moved package in Spark 4.1) from
    # the conf that the state-store tasks also receive
    checkpointing = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    manager = checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(str(tmp_path)),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    assert manager.getClass().getName() == FS_CHECKPOINT_MANAGER


def test_extra_conf_checkpoint_manager_wins(spark):
    """A caller's explicit manager class is kept, not replaced."""
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    try:
        same = get_session(
            shuffle_partitions=parts,
            extra_conf={CHECKPOINT_MANAGER_KEY: FILE_CONTEXT_MANAGER},
        )
        assert same.conf.get(CHECKPOINT_MANAGER_KEY) == FILE_CONTEXT_MANAGER
    finally:
        spark.conf.set(CHECKPOINT_MANAGER_KEY, FS_CHECKPOINT_MANAGER)


def test_non_local_default_fs_keeps_spark_default(spark):
    """With HDFS as the default filesystem the key stays unset, so
    Spark keeps its FileContext manager and its overwrite-refusing
    rename."""
    hadoop_conf = spark.sparkContext._jsc.hadoopConfiguration()
    default_fs = hadoop_conf.get("fs.defaultFS")
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    try:
        hadoop_conf.set("fs.defaultFS", "hdfs://namenode:8020")
        spark.conf.unset(CHECKPOINT_MANAGER_KEY)
        same = get_session(shuffle_partitions=parts)
        assert same.conf.get(CHECKPOINT_MANAGER_KEY, None) is None
    finally:
        hadoop_conf.set("fs.defaultFS", default_fs)
        spark.conf.set(CHECKPOINT_MANAGER_KEY, FS_CHECKPOINT_MANAGER)
