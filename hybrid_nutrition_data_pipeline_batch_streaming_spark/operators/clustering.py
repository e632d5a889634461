"""Iterative spherical k-means over an embedding column: a standalone
trainer, not imported by any registered plan, checked by
``test_kmeans_train_objective_monotone_and_reproducible``.

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
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import checkpoint_truncate


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def kmeans_train(
    base: DataFrame, k: int, dims: int, rounds: int = 5
) -> tuple[DataFrame, DataFrame]:
    """Train k spherical-k-means centroids over ``base`` (vec_id, e).

    Seeds with the k lowest-vec_id vectors (deterministic; swap for
    k-means++ sampling when reproducibility can come from a stored seed
    set). Returns (assignment, centroids): (vec_id, cell) for every input
    row and (cid, ce, cn) for every surviving (non-empty) cell.

    Per round: one broadcast assign (map-side), one partially-aggregated
    decimal-exact groupBy update — n rows cross the wire once per round.
    """
    base = base.select("vec_id", "e").withColumn("n", _norm(F.col("e")))
    cent = base.where(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cid"), F.col("e").alias("ce"), F.col("n").alias("cn")
    )

    def assign_against(cent_df: DataFrame) -> DataFrame:
        return (
            base.join(F.broadcast(cent_df))
            .select(
                "vec_id",
                "cid",
                (_dot(F.col("e"), F.col("ce")) / (F.col("n") * F.col("cn"))).alias(
                    "score"
                ),
            )
            .groupBy("vec_id")
            .agg(
                F.max_by(
                    F.col("cid"), F.struct(F.col("score"), (-F.col("cid")).alias("t"))
                ).alias("cell")
            )
        )

    assign = assign_against(cent)
    cnt = F.count("*")
    for _ in range(rounds):
        assign = assign_against(cent)
        cent = (
            assign.join(base.select("vec_id", "e"), "vec_id")
            .groupBy("cell")
            .agg(
                *[
                    (
                        F.sum(
                            F.element_at(F.col("e"), d + 1).cast("decimal(25,12)")
                        ).cast("double")
                        / cnt
                    ).alias(f"m{d}")
                    for d in range(dims)
                ]
            )
            .select(
                F.col("cell").alias("cid"),
                F.array(*[F.col(f"m{d}") for d in range(dims)]).alias("ce"),
            )
            .withColumn("cn", _norm(F.col("ce")))
        )
        cent = checkpoint_truncate(cent)  # per-round lineage cut (module doc)
    return assign_against(cent), cent


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
