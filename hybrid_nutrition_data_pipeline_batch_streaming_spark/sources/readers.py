"""Batch sources (SURVEY.md §2.1 S3/S10) and sink helpers (S4/S5).

The streaming sources (Kafka S1/S2, file-stream stand-ins) live in
``streaming/ingest.py``; the testdata catalog in ``catalog.py``. This module
holds the generic entry points a user of the engine reaches for.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..session import ensure_runtime_conf


def read_parquet(spark: SparkSession, path: str, columns: list[str] | None = None) -> DataFrame:
    """Columnar scan with column pruning pushed to the reader (vs the
    reference's `SELECT ... ALLOW FILTERING` full scan + client-side filter,
    `pipeline.py:19-32`)."""
    ensure_runtime_conf(spark)
    df = spark.read.parquet(path)
    return df.select(*columns) if columns else df


def read_json_lines(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """PERMISSIVE JSON-lines reader with corrupt-record quarantine (T8):
    malformed rows land in _corrupt_record instead of killing the job
    (the reference's try/except row skips, `pipeline.py:27-30`)."""
    ensure_runtime_conf(spark)
    reader = spark.read.option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", "_corrupt_record"
    )
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema=None,
    header: bool = True,
    delimiter: str = ",",
) -> DataFrame:
    """PERMISSIVE CSV reader with corrupt-record quarantine (T8 for the
    flat-file drop zone every ingestion pipeline grows): rows that fail the
    schema land in _corrupt_record instead of killing the job. Pass an
    explicit schema in production — inference is a full extra pass over the
    data at 100 TB and non-deterministic under sampling."""
    ensure_runtime_conf(spark)
    reader = (
        spark.read.option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .option("header", str(header).lower())
        .option("delimiter", delimiter)
    )
    if schema is not None:
        reader = reader.schema(schema)
    return reader.csv(path)


def read_orc(spark: SparkSession, path: str, columns: list[str] | None = None) -> DataFrame:
    """ORC scan with the same pruning contract as read_parquet: column
    selection and predicates push into the reader's stripe/row-group
    statistics — the interchange format for Hive-lineage warehouses."""
    ensure_runtime_conf(spark)
    df = spark.read.orc(path)
    return df.select(*columns) if columns else df
