"""Shared filesystem helpers. The Hadoop FileSystem ones (py4j) are ONE
home for the jvm-Path/getFileSystem dance so streaming.py and
maintenance.py cannot drift on how filesystems are resolved (round-5
review: three copies); they are correct on any Spark-visible filesystem
(HDFS/S3A/local), unlike os.path which only sees the driver's local FS.
`newest_mtime` is the driver-local liveness signal shared by the
checkpoint sweep, the table vacuum and the CLI's benchmark identity."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def newest_mtime(path: str) -> float:
    """Most recent mtime of the path or anything under it — the honest
    'last write activity' signal for in-flight Spark output dirs."""
    newest = os.path.getmtime(path)
    for dirpath, _, files in os.walk(path):
        for entry in files:
            try:
                newest = max(
                    newest, os.path.getmtime(os.path.join(dirpath, entry))
                )
            except OSError:
                continue
    return newest


def hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path, jvm) triple for `path` under the session's
    Hadoop configuration."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath, jvm


def hadoop_path_exists(spark: SparkSession, path: str) -> bool:
    fs, jpath, _ = hadoop_fs(spark, path)
    return bool(fs.exists(jpath))
