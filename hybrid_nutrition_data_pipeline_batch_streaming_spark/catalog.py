"""Catalog: load the driver's parquet tables and register them as views.

The reference keeps its data in four systems (Kafka topic, Cassandra raw
table, ClickHouse fact table, Superset-visible SQL views — SURVEY.md §1.1);
this engine's analog is one Spark catalog of columnar tables, registered as
temp views so both the DataFrame API and ``spark.sql`` reach the same data
(SURVEY.md §3.3, reference `superset/superset_config.py:1-3`).

Scale note: at 100 TB these would be external tables partitioned on their
natural keys (date for facts, none for dims) — the loader keeps the access
path identical (``spark.read.parquet``) so only the path changes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import ensure_runtime_conf

#: All driver tables (TESTDATA.md).
TABLES = (
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

#: Small dimension tables — always broadcast-join these (SURVEY.md §2.3 J2).
#: At any scale factor these stay tiny relative to the facts.
BROADCAST_DIMS = frozenset({"region", "nation", "supplier", "part"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _read_events(spark: SparkSession, path: str) -> DataFrame:
    """Read events.parquet, normalizing ``ts`` whichever encoding it has.

    The shipped fixtures (sf0.001, sf0.01, sf0.1) store ``ts`` as INT64
    TIMESTAMP(MICROS) (``timestamp[us]``), which Spark reads as-is.
    Regenerated data may store INT64 TIMESTAMP(NANOS) instead, which Spark's
    parquet reader rejects; with ``nanosAsLong`` it surfaces as a long which
    we floor-divide to microseconds (integer DIV — a double division would
    lose precision on epoch-nanos magnitudes) and cast to TIMESTAMP_NTZ for
    DuckDB-identical naive-timestamp semantics.
    """
    df = spark.read.parquet(path)
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts DIV 1000")).cast("timestamp_ntz")
        )
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver table with normalized types."""
    ensure_runtime_conf(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        return _read_events(spark, path)
    return spark.read.parquet(path)


class Catalog:
    """Lazy per-(session, sf_dir) table catalog with view registration."""

    def __init__(self, spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR):
        self.spark = spark
        self.sf_dir = sf_dir
        self._cache: dict[str, DataFrame] = {}

    def table(self, name: str) -> DataFrame:
        if name not in self._cache:
            self._cache[name] = load_table(self.spark, self.sf_dir, name)
        return self._cache[name]

    def __getattr__(self, name: str) -> DataFrame:
        if name in TABLES:
            return self.table(name)
        raise AttributeError(name)

    def register_views(self) -> None:
        """Register every table as a temp view for ``spark.sql`` access."""
        for name in TABLES:
            self.table(name).createOrReplaceTempView(name)
