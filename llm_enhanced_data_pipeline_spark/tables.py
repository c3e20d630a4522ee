"""Loaders for the synthetic test tables (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file per table under
``/root/testdata/sf{0.001,0.01,0.1}/``.

``events.ts`` has shipped in two physical encodings across testdata
vintages: parquet TIMESTAMP(NANOS) (read as an epoch-nano long via the
nanos-as-long legacy conf) and plain ``timestamp[us]`` (read as
TIMESTAMP_NTZ / TIMESTAMP). ``load_table`` normalizes BOTH to the same
canonical contract every downstream query assumes:

- ``ts``         epoch-nanoseconds as ``bigint``
- ``ts_epoch_s`` epoch-seconds as ``bigint``
- ``ts_ts``      micro-precision ``timestamp``
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import enable_nanos_as_long

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    if name == "events":
        enable_nanos_as_long(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        # Normalize ts to the canonical epoch-nanos long regardless of the
        # parquet's physical encoding (nanos-long legacy vintage vs the
        # timestamp[us]/TIMESTAMP_NTZ vintage the driver now generates).
        ts_dtype = dict(df.dtypes)["ts"]
        if ts_dtype == "timestamp_ntz":
            # Wall-clock-is-UTC semantics (matches DuckDB's epoch_ns on the
            # same file), independent of the session timezone — a cast to
            # TIMESTAMP would re-interpret the wall clock in session tz.
            df = df.withColumn(
                "ts",
                F.expr(
                    "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
                )
                * F.lit(1000),
            )
        elif ts_dtype != "bigint":
            df = df.withColumn("ts", F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000))
        df = df.withColumn("ts_epoch_s", (F.col("ts") / F.lit(1_000_000_000)).cast("long")).withColumn(
            # integer micros, not float seconds: float division loses
            # sub-microsecond precision in the derived timestamp
            "ts_ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    return df
