"""Checkpoint/resume sink (SURVEY.md §2.1 S9 + §2.4 J3).

The reference writes partial enrichment results every N rows and on
restart skips already-processed ids (enhance_fields_of_study.py:243-269,
321-322, 344-356). Spark-first: an append-mode Parquet directory is the
checkpoint; resume = left-anti join against the checkpoint's key set.

This also protects paid, non-deterministic UDF outputs (LLM calls) from
Spark task retries / plan re-execution: results are durable before any
downstream consumption.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


class ParquetCheckpoint:
    def __init__(self, spark: SparkSession, path: str, key: str):
        self.spark = spark
        self.path = path
        self.key = key

    def exists(self) -> bool:
        """Probe through the Hadoop FileSystem API so HDFS/S3/file URIs
        all work — a local os.path probe silently reports False on
        object stores, and a missed resume re-spends paid LLM calls."""
        jvm = self.spark._jvm
        hconf = self.spark._jsc.hadoopConfiguration()
        p = jvm.org.apache.hadoop.fs.Path(self.path)
        fs = p.getFileSystem(hconf)
        if not fs.exists(p):
            return False
        for status in fs.listStatus(p):
            if status.getPath().getName().endswith(".parquet"):
                return True
        return False

    def load(self) -> DataFrame | None:
        if not self.exists():
            return None
        return self.spark.read.parquet(self.path)

    def append(self, df: DataFrame) -> DataFrame:
        """Write ``df``, then return the whole checkpoint read back from
        its durable files: checkpointed ∪ new (enhance_keywords.py:451),
        each row once, so consumers never re-run ``df``'s paid lineage.
        The read takes ``df``'s schema, which spares the Spark job that
        parquet schema inference would launch on every append."""
        df.write.mode("append").parquet(self.path)
        return self.spark.read.schema(df.schema).parquet(self.path)

    def remaining(self, todo: DataFrame) -> DataFrame:
        """J3 — rows not yet processed."""
        done = self.load()
        if done is None:
            return todo
        return todo.join(done.select(self.key).distinct(), self.key, "left_anti")
