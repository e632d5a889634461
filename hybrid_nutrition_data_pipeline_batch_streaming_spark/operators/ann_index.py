"""Persisted LSH vector index: build once, probe many times.

The registered ANN queries (`plans/similarity.py`) recompute corpus
signatures inside every query — correct for the oracle contract, but the
production pattern at 100 TB is an INDEX: materialize the band posting lists
and the rescoring vectors as layout-optimized tables once per corpus
snapshot, then serve every probe from partition-pruned reads. This module is
that path, on plain parquet:

- ``postings/``  — one row per (band, bucket, vec_id), written
  ``partitionBy("band")`` and sorted by bucket within files, so a probe for
  one band is a single partition directory and the bucket predicate pushes
  down to parquet row-group stats.
- ``vectors/``   — (vec_id, e, n) for the exact rescore, norms precomputed
  at build time (never recomputed per probe).

Probing unions the per-band bucket joins (the same OR-amplification as
``similarity_ann_lsh``), rescores candidates exactly, and ranks — identical
results to the query-time path (pinned by test), with the corpus-side
signature work paid ONCE at build.

Reference parity note: the reference has no vector path at all (it delegates
all analytics to ClickHouse — SURVEY.md §2 preamble); this is part of the
beyond-reference LLM-pipeline surface.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..plans.similarity import (
    N_BANDS,
    TOP_K,
    _band_bucket,
    _dot,
    _norm,
    _to_double,
)
from ..session import persist


def build_lsh_index(embeddings: DataFrame, path: str) -> None:
    """Materialize the LSH index for an (vec_id, embedding) DataFrame.

    One pass over the corpus computes doubles, norms, and all band buckets;
    postings land partitioned by band and sorted by bucket inside each file
    (``sortWithinPartitions`` → parquet row-group min/max stats make the
    bucket equality predicate skippable). Overwrites any existing index at
    ``path`` — rebuild-per-snapshot semantics."""
    e = _to_double(F.col("embedding"))
    base = embeddings.select(
        "vec_id",
        e.alias("e"),
        *[_band_bucket(e, b).alias(f"b{b}") for b in range(N_BANDS)],
    ).withColumn("n", _norm(F.col("e")))
    base = persist(base)
    postings = None
    for b in range(N_BANDS):
        piece = base.select(
            F.lit(b).alias("band"), F.col(f"b{b}").alias("bucket"), "vec_id"
        )
        postings = piece if postings is None else postings.unionByName(piece)
    (
        postings.repartition("band")
        .sortWithinPartitions("bucket")
        .write.mode("overwrite")
        .partitionBy("band")
        .parquet(os.path.join(path, "postings"))
    )
    base.select("vec_id", "e", "n").write.mode("overwrite").parquet(
        os.path.join(path, "vectors")
    )
    base.unpersist()


def query_lsh_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    top_k: int = TOP_K,
) -> DataFrame:
    """Probe a persisted index with a (query_id, embedding) DataFrame.

    The query side is assumed bounded (broadcast); each band probe reads ONE
    posting partition (partition pruning on ``band``) and equi-joins on the
    bucket — the corpus is never rescanned and signatures are never
    recomputed. Candidates union-distinct across bands, then the vectors
    table joins in for the exact cosine rescore and per-query ranking."""
    qe = _to_double(F.col("embedding"))
    q = queries.select(
        "query_id",
        qe.alias("qe"),
        *[_band_bucket(qe, b).alias(f"qb{b}") for b in range(N_BANDS)],
    ).withColumn("qn", _norm(F.col("qe")))
    q = persist(q)
    postings = spark.read.parquet(os.path.join(path, "postings"))
    cand = None
    for b in range(N_BANDS):
        piece = (
            F.broadcast(q.select("query_id", F.col(f"qb{b}").alias("bucket")))
            .join(postings.where(F.col("band") == b), "bucket")
            .select("query_id", F.col("vec_id").alias("neighbor_id"))
        )
        cand = piece if cand is None else cand.unionByName(piece)
    cand = cand.where(F.col("query_id") != F.col("neighbor_id")).distinct()
    vectors = spark.read.parquet(os.path.join(path, "vectors"))
    scored = (
        cand.join(F.broadcast(q.select("query_id", "qe", "qn")), "query_id")
        .join(
            vectors.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("e").alias("ce"),
                F.col("n").alias("cn"),
            ),
            "neighbor_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            (_dot(F.col("qe"), F.col("ce")) / (F.col("qn") * F.col("cn"))).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )
