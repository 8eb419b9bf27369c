"""Scheme-aware filesystem helpers over the JVM Hadoop FileSystem API.

Driver-side path probes (exists, listings) must work on whatever
filesystem the path names — file://, hdfs://, s3a://, ... — not just the
driver's local disk. ``os.path`` silently answers the WRONG question for
remote schemes (a nonexistent local path), which turns "is the corpus
initialized?" into data corruption at cluster scale. These helpers
resolve the filesystem from the path's own scheme, the same discipline
the streaming block index adopted in round 6.

Local-ONLY operations (atomic rename swaps) are the opposite case: they
must loudly REFUSE remote schemes — see plans/maintenance._local_path and
plans/maintenance.rewrite_table.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def fs_and_path(spark: SparkSession, path: str):
    """(FileSystem, Path, jvm) resolved from the path's own scheme."""
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(hconf), jpath, jvm


def path_exists(spark: SparkSession, path: str) -> bool:
    """Scheme-aware existence probe — the portable os.path.exists."""
    fs, jpath, _ = fs_and_path(spark, path)
    return bool(fs.exists(jpath))
