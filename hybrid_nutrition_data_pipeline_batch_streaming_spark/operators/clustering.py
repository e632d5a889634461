"""Spherical k-means over an embedding column: the one home of the Lloyd
step. ``similarity_ann_ivf``, ``dedup_semantic``, ``cluster_centroids`` and
``kmeans_refine`` build their assign and update halves from the primitives
below, and ``kmeans_train`` loops over the same primitives; its contract
tests are ``test_kmeans_train_objective_monotone_and_reproducible`` and
``test_kmeans_train_one_round_is_the_oracle_checked_lloyd_step``.

Cosine scoring is scale-invariant in the centroid (cos(e, m) = cos(e, m/|m|)),
so assigning by max cosine and updating with the plain per-cell mean IS
spherical k-means: each full round cannot decrease the objective
Σ cos(e, centroid(cell(e))) — the property the contract test pins.

Engineering notes (the two levers that make the loop production-shaped):
- per-dimension DECIMAL(25,12) accumulation makes the mean exact and
  order-independent — partial aggregation under any partitioning yields the
  identical centroid, so training is reproducible and resumable;
- every round's centroids get a lineage cut (checkpoint_truncate —
  reliable checkpoint() when a checkpoint dir is configured, else
  localCheckpoint): an iterative loop
  re-submits its lineage to Catalyst on every action, and without
  truncation each round pays driver-side re-analysis of all prior rounds
  (see plans/graph.py for the measured pathology).

Frames: ``base`` is (vec_id, e, n) — the double embedding and its norm;
centroids are (cid, ce, cn); an assignment is (vec_id, cell).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import checkpoint_truncate


def _dot(a: Column, b: Column) -> Column:
    """Sequential left fold of the elementwise product — bit-deterministic."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


# Static unrolled twins of _dot/_norm for FIXED-width arrays (r12, guide §4.1):
# Spark's higher-order aggregate/zip_with lambdas are CodegenFallback — every
# row pays interpreted per-step evaluation (the embedding family's measured
# exec cost was dominated by these folds on broadcast-join outputs). A static
# `0.0 + x[0]*y[0] + x[1]*y[1] + ...` chain is the IDENTICAL left-fold IEEE
# operation sequence — including the leading 0.0 (sign-of-zero) — but
# whole-stage-codegen compiles it. Built as ONE SQL string (one py4j call,
# the simhash r12 precedent) instead of ~4·dim Column-method round trips.
# Callers pass column NAMES or a per-element template containing ``{i}``
# (e.g. the raw-scan form in plans/similarity.py); dims are structural
# constants of each plan, so out-of-range subscripts cannot occur.
#
# PLACEMENT RULE (measured, r12): never point a chain at an array alias
# computed in the ADJACENT projection — CollapseProject merges the two
# Projects and inlines one full copy of the array-building expression per
# subscript (64× for a transform()). Chains are safe when their input is a
# leaf scan column, sits behind a join/exchange/persist barrier, or uses
# the per-element raw template so each term touches only the scan column.
# (An ``array(...)`` of columns is safe too: Catalyst folds each
# subscript of it back to the column.)
def _elem(x: str, i: int) -> str:
    return x.format(i=i) if "{i}" in x else f"{x}[{i}]"


def _dot_s(x: str, y: str, dim: int) -> Column:
    return F.expr(
        "0.0D + " + " + ".join(f"{_elem(x, i)} * {_elem(y, i)}" for i in range(dim))
    )


def _norm_s(x: str, dim: int) -> Column:
    return F.expr(
        "sqrt(0.0D + "
        + " + ".join(f"{_elem(x, i)} * {_elem(x, i)}" for i in range(dim))
        + ")"
    )


def seed_centroids(base: DataFrame, k: int) -> DataFrame:
    """The k lowest-vec_id vectors as centroids — a deterministic seed (swap
    for k-means++ sampling when reproducibility can come from a stored seed
    set)."""
    return base.where(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cid"), F.col("e").alias("ce"), F.col("n").alias("cn")
    )


def cell_scores(base: DataFrame, cent: DataFrame) -> DataFrame:
    """(vec_id, cid, score): every vector's cosine to every centroid, with
    the centroids broadcast — a map-side join, never a shuffle of n×K."""
    return base.join(F.broadcast(cent)).select(
        "vec_id",
        "cid",
        (_dot(F.col("e"), F.col("ce")) / (F.col("n") * F.col("cn"))).alias("score"),
    )


def nearest_cell(scores: DataFrame) -> DataFrame:
    """(vec_id, cell): the argmax of ``cell_scores`` per vector, as one
    partially-aggregated max_by over a (score, -cid) struct — ties resolve
    to the smallest cid, matching an oracle's ORDER BY score DESC, cid."""
    return scores.groupBy("vec_id").agg(
        F.max_by(
            F.col("cid"), F.struct(F.col("score"), (-F.col("cid")).alias("t"))
        ).alias("cell")
    )


def cell_means(dims: int, prefix: str) -> list[Column]:
    """Aggregates ``{prefix}0 .. {prefix}{dims-1}``: the exact per-cell mean
    of each of the first ``dims`` dimensions of ``e``. Each dimension sums
    as DECIMAL(25,12), so the sum is exact and order-independent and the
    one decimal→double cast and IEEE division agree across engines (see
    ``cluster_centroids``). Built as SQL strings, one py4j call each (r12:
    the Column-method chains cost ``kmeans_refine`` 1.18 s of
    construction)."""
    return [
        F.expr(f"CAST(SUM(CAST(e[{d}] AS DECIMAL(25,12))) AS DOUBLE) / COUNT(*)")
        .alias(f"{prefix}{d}")
        for d in range(dims)
    ]


def update_centroids(assign: DataFrame, base: DataFrame, dims: int) -> DataFrame:
    """The UPDATE half of a Lloyd round: each non-empty cell's exact mean
    embedding as a centroid (cid, ce, cn) — one partially-aggregated
    groupBy, so n rows cross the wire once."""
    return (
        assign.join(base.select("vec_id", "e"), "vec_id")
        .groupBy("cell")
        .agg(*cell_means(dims, "m"))
        .select(
            F.col("cell").alias("cid"),
            F.array(*[F.col(f"m{d}") for d in range(dims)]).alias("ce"),
        )
        .withColumn("cn", _norm_s("ce", dims))
    )


def kmeans_train(
    base: DataFrame, k: int, dims: int, rounds: int = 5
) -> tuple[DataFrame, DataFrame]:
    """Train k spherical-k-means centroids over ``base`` (vec_id, e).

    Seeds with ``seed_centroids``. Returns (assignment, centroids):
    (vec_id, cell) for every input row and (cid, ce, cn) for every
    surviving (non-empty) cell.

    Per round: one broadcast assign (map-side), one partially-aggregated
    decimal-exact groupBy update — n rows cross the wire once per round.
    """
    base = base.select("vec_id", "e").withColumn("n", _norm(F.col("e")))
    cent = seed_centroids(base, k)
    for _ in range(rounds):
        assign = nearest_cell(cell_scores(base, cent))
        # per-round lineage cut (module doc)
        cent = checkpoint_truncate(update_centroids(assign, base, dims))
    return nearest_cell(cell_scores(base, cent)), cent


def kmeans_objective(base: DataFrame, assign: DataFrame, cent: DataFrame) -> float:
    """Σ cos(e, centroid(cell)) — the spherical k-means objective a training
    loop monitors (non-decreasing per full round)."""
    base = base.select("vec_id", "e").withColumn("n", _norm(F.col("e")))
    joined = (
        assign.join(base, "vec_id")
        .join(
            F.broadcast(cent.withColumnRenamed("cid", "cell")),
            "cell",
        )
        .select(
            (_dot(F.col("e"), F.col("ce")) / (F.col("n") * F.col("cn"))).alias("cos")
        )
    )
    return joined.agg(F.sum("cos")).collect()[0][0]
