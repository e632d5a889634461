"""Incremental view maintenance (IVM) over the upsert store's change feed.

The reference keeps derived analytics fresh by full re-INSERT of the
enriched table per run (`dagster_project/pipeline.py:132-142`); the engine's
lakehouse store instead exposes a row-level change feed with pre-images
(`streaming/upsert_sink.py::changes`), which is exactly the input a
materialized grouped aggregate needs to update by **retract-and-add** in
O(changed rows) — never rescanning the store:

    insert  → add the post-image's contribution
    update  → retract the pre-image's contribution, add the post-image's
    delete  → retract the pre-image's contribution

This module turns that pattern (previously only a test) into a first-class
operator. It maintains the two retractable aggregates — COUNT(*) and an
exact-decimal SUM — per group; non-retractable aggregates (MIN/MAX,
distinct counts) need per-group recompute of touched groups and are out of
scope by design (documented, not silently wrong).

Group and value expressions are written against a column RESOLVER so the
same expression evaluates over post-image columns and over the
``pre_image`` struct without string surgery:

    group_fn = lambda c: F.length(c("data"))       # any Column expr
    view     = grouped_view(store.read(), group_fn, value_col="amount")
    view2    = maintain(view, store.changes(1, 2), group_fn, "amount")

A group's ``total`` is ``COALESCE(SUM(value), 0)``: a group whose values
are all NULL totals 0, not NULL. Retract-and-add maintains exactly that
definition (a NULL contribution adds 0), with no per-group count of
non-NULL values.

``maintain`` is associative across version ranges: maintaining with
changes(1,2) then changes(2,3) equals maintaining once with changes(1,3),
and both equal the full recompute — contract-tested.

Scale shape: the delta frame is one groupBy over the CDF batch (O(changed
rows)); the merge into the old view is a single full-outer join on the
group key, matched null-safely so that a NULL group stays one group —
broadcast-able whenever the delta's group set is small, which is the
common case for incremental batches.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.parity import MONEY

#: Resolves a data-column name to a Column — identity for post-images,
#: ``pre_image.<name>`` for retractions.
Resolver = Callable[[str], Column]
GroupFn = Callable[[Resolver], Column]


def _post(c: str) -> Column:
    return F.col(c)


def _pre(c: str) -> Column:
    return F.col("pre_image." + c)


def grouped_view(
    df: DataFrame, group_fn: GroupFn, value_col: str | None = None
) -> DataFrame:
    """Full recompute of the maintained aggregate: (g, cnt[, total]).

    ``total`` is ``COALESCE(SUM(value), 0)`` and accumulates in exact
    DECIMAL, so maintained and recomputed views are bit-identical
    regardless of partitioning or delta order."""
    aggs = [F.count(F.lit(1)).alias("cnt")]
    if value_col is not None:
        total = F.sum(F.col(value_col).cast(MONEY))
        aggs.append(F.coalesce(total, F.lit(0).cast(MONEY)).alias("total"))
    return df.groupBy(group_fn(_post).alias("g")).agg(*aggs)


def change_deltas(
    changes: DataFrame, group_fn: GroupFn, value_col: str | None = None
) -> DataFrame:
    """Per-group (dc, dv) deltas of one CDF batch — the O(changed rows)
    half of maintenance. Inserts/updates add post-images; updates/deletes
    retract pre-images (delete rows carry their pre-image in ``pre_image``
    like Delta's CDF)."""
    zero = F.lit(0).cast(MONEY)
    post_v = F.col(value_col).cast(MONEY) if value_col else zero
    pre_v = (-F.col("pre_image." + value_col).cast(MONEY)) if value_col else zero
    adds = changes.where(F.col("change_type").isin("insert", "update")).select(
        group_fn(_post).alias("g"),
        F.lit(1).alias("dc"),
        post_v.alias("dv"),
    )
    retracts = changes.where(F.col("change_type").isin("update", "delete")).select(
        group_fn(_pre).alias("g"),
        F.lit(-1).alias("dc"),
        pre_v.alias("dv"),
    )
    return (
        adds.unionByName(retracts)
        .groupBy("g")
        .agg(F.sum("dc").alias("dc"), F.sum("dv").alias("dv"))
    )


def maintain(
    old_view: DataFrame,
    changes: DataFrame | None,
    group_fn: GroupFn,
    value_col: str | None = None,
) -> DataFrame:
    """Apply one CDF batch to a (g, cnt[, total]) view; lands exactly on
    the full recompute at the new version. ``changes=None`` (nothing
    changed) returns the view unchanged. Groups whose count reaches zero
    drop out, so the maintained view never accretes dead groups."""
    if changes is None:
        return old_view
    deltas = change_deltas(changes, group_fn, value_col).withColumnRenamed("g", "__dg")
    # NULL is a group like any other: match it null-safely.
    merged = old_view.join(deltas, old_view["g"].eqNullSafe(F.col("__dg")), "full")
    cnt = (
        F.coalesce(F.col("cnt"), F.lit(0)) + F.coalesce(F.col("dc"), F.lit(0))
    ).alias("cnt")
    cols = [F.coalesce(old_view["g"], F.col("__dg")).alias("g"), cnt]
    if value_col is not None:
        zero = F.lit(0).cast(MONEY)
        cols.append(
            (F.coalesce(F.col("total"), zero) + F.coalesce(F.col("dv"), zero))
            .cast(MONEY)
            .alias("total")
        )
    return merged.select(*cols).where(F.col("cnt") > 0)
