"""Contract tests for operators/ivm.py: a materialized grouped aggregate
maintained from the store's change feed must land EXACTLY on the full
recompute after every kind of change (insert, group-migrating update,
delete), compose across chained version ranges, and stay decimal-exact."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from hybrid_nutrition_data_pipeline_batch_streaming_spark.operators.ivm import (
    change_deltas,
    grouped_view,
    maintain,
)
from hybrid_nutrition_data_pipeline_batch_streaming_spark.streaming.upsert_sink import (
    ParquetUpsertStore,
)

TS0 = datetime.datetime(2024, 1, 1)
SCHEMA = "item_name string, ingestion_ts timestamp, data string, amount double"


def _group_fn(c):
    # group = payload length: updates that change `data` migrate groups,
    # exercising the retract-from-old-group / add-to-new-group path.
    return F.length(c("data"))


def _rows(view):
    return {(r.g, r.cnt, r.total) for r in view.collect()}


def _mk_store(spark, tmp_path):
    store = ParquetUpsertStore(
        spark,
        str(tmp_path / "store"),
        key="item_name",
        ts_col="ingestion_ts",
        n_buckets=8,
    )
    store.merge(
        spark.createDataFrame(
            [(f"item{i}", TS0, "x" * (i % 5 + 1), float(i) + 0.25) for i in range(40)],
            SCHEMA,
        )
    )
    return store


def test_ivm_lands_on_full_recompute_per_batch(spark, tmp_path):
    store = _mk_store(spark, tmp_path)
    view = grouped_view(store.read(), _group_fn, "amount")

    # Batch 2: a group-migrating update, a value-only update, two inserts.
    store.merge(
        spark.createDataFrame(
            [
                ("item0", TS0 + datetime.timedelta(hours=1), "x" * 9, 100.5),
                ("item1", TS0 + datetime.timedelta(hours=1), "x" * 2, 7.75),
                ("item90", TS0, "x" * 3, 1.0),
                ("item91", TS0, "x" * 9, 2.0),
            ],
            SCHEMA,
        )
    )
    view = maintain(view, store.changes(1, 2), _group_fn, "amount")
    assert _rows(view) == _rows(grouped_view(store.read(), _group_fn, "amount"))

    # Batch 3: deletes, including every member of one group (drops out).
    victims = [f"item{i}" for i in range(40) if i % 5 + 1 == 4] + ["item90"]
    assert store.delete(
        spark.createDataFrame([(v,) for v in victims], "item_name string")
    ) == len(victims)
    view = maintain(view, store.changes(2, 3), _group_fn, "amount")
    recomputed = grouped_view(store.read(), _group_fn, "amount")
    assert _rows(view) == _rows(recomputed)
    gs = {r.g for r in view.collect()}
    assert 4 not in gs and 3 in gs  # emptied group gone, survivor intact


def test_ivm_matches_the_null_group_null_safely(spark, tmp_path):
    """A NULL group is one group: a view {NULL: 1, 'a': 1} plus one insert
    into the NULL group is the recompute, with one NULL row of count 2."""
    store = ParquetUpsertStore(
        spark, str(tmp_path / "store"), key="item_name", ts_col="ingestion_ts", n_buckets=2
    )

    def group_fn(c):
        return c("data")

    store.merge(spark.createDataFrame([("x", TS0, None, 1.0), ("y", TS0, "a", 2.0)], SCHEMA))
    view = grouped_view(store.read(), group_fn, "amount")
    assert _rows(view) == {(None, 1, 1), ("a", 1, 2)}
    store.merge(spark.createDataFrame([("z", TS0, None, 4.0)], SCHEMA))

    view = maintain(view, store.changes(1, 2), group_fn, "amount")
    assert _rows(view) == _rows(grouped_view(store.read(), group_fn, "amount"))
    assert [r.cnt for r in view.collect() if r.g is None] == [2]


def test_ivm_total_of_an_all_null_group_is_zero(spark, tmp_path):
    """A group whose values are all NULL totals 0 in the recompute and in
    the maintained view alike."""
    store = ParquetUpsertStore(
        spark, str(tmp_path / "store"), key="item_name", ts_col="ingestion_ts", n_buckets=2
    )

    def group_fn(c):
        return c("data")

    store.merge(spark.createDataFrame([("a", TS0, "x", 1.0)], SCHEMA))
    view = grouped_view(store.read(), group_fn, "amount")
    store.merge(spark.createDataFrame([("b", TS0, "y", None)], SCHEMA))

    view = maintain(view, store.changes(1, 2), group_fn, "amount")
    assert _rows(view) == _rows(grouped_view(store.read(), group_fn, "amount"))
    assert _rows(view) == {("x", 1, 1), ("y", 1, 0)}


def test_ivm_is_associative_across_version_ranges(spark, tmp_path):
    store = _mk_store(spark, tmp_path)
    v1_view = grouped_view(store.read(version=1), _group_fn, "amount")
    store.merge(
        spark.createDataFrame(
            [("item0", TS0 + datetime.timedelta(hours=1), "x" * 7, 3.5),
             ("item80", TS0, "x" * 2, 9.0)],
            SCHEMA,
        )
    )
    store.delete(spark.createDataFrame([("item2",)], "item_name string"))

    chained = maintain(
        maintain(v1_view, store.changes(1, 2), _group_fn, "amount"),
        store.changes(2, 3),
        _group_fn,
        "amount",
    )
    one_shot = maintain(v1_view, store.changes(1, 3), _group_fn, "amount")
    recomputed = grouped_view(store.read(), _group_fn, "amount")
    assert _rows(chained) == _rows(one_shot) == _rows(recomputed)


def test_ivm_noop_and_count_only(spark, tmp_path):
    store = _mk_store(spark, tmp_path)
    view = grouped_view(store.read(), _group_fn)  # count-only view
    assert "total" not in view.columns
    # changes(None) → unchanged; an empty-delta merge produces no version.
    assert maintain(view, None, _group_fn) is view
    # Re-merging identical rows is all-"unchanged": CDF may be None or
    # carry zero effective deltas — maintained must equal recompute.
    store.merge(
        spark.createDataFrame([(f"item{i}", TS0, "x" * (i % 5 + 1), float(i) + 0.25)
                               for i in range(5)], SCHEMA)
    )
    latest = store.history()[-1]
    feed = store.changes(1, latest) if latest > 1 else None
    view2 = maintain(view, feed, _group_fn)
    assert {(r.g, r.cnt) for r in view2.collect()} == {
        (r.g, r.cnt) for r in grouped_view(store.read(), _group_fn).collect()
    }


def test_ivm_delta_frame_is_one_aggregate_over_the_batch(spark, tmp_path):
    """The maintenance cost model: deltas come from ONE groupBy over the
    CDF frame (no join, no store scan) and the merge joins on the group
    key only."""
    store = _mk_store(spark, tmp_path)
    store.merge(
        spark.createDataFrame(
            [("item0", TS0 + datetime.timedelta(hours=1), "x" * 9, 1.0)], SCHEMA
        )
    )
    deltas = change_deltas(store.changes(1, 2), _group_fn, "amount")
    assert deltas.columns == ["g", "dc", "dv"]
    rows = {(r.g, r.dc, r.dv) for r in deltas.collect()}
    # one update: retract from group 1 (len 'x'), add to group 9
    from decimal import Decimal

    assert rows == {
        (9, 1, Decimal("1.00")),
        (1, -1, Decimal("-0.25")),
    }


def test_ivm_maintained_across_streaming_merges(spark, tmp_path):
    """The full incremental loop: micro-batches stream into the store via
    foreachBatch (exactly-once via the checkpoint), and the materialized
    view catches up by maintaining over the committed version RANGE —
    never rescanning the store — landing exactly on the recompute."""
    import os

    src = tmp_path / "src"
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    store = ParquetUpsertStore(
        spark,
        str(tmp_path / "store"),
        key="item_name",
        ts_col="ingestion_ts",
        n_buckets=8,
    )

    def drain():
        stream = spark.readStream.schema(SCHEMA).parquet(str(src))
        q = (
            stream.writeStream.foreachBatch(lambda b, _id: store.merge(b))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    spark.createDataFrame(
        [(f"item{i}", TS0, "x" * (i % 4 + 1), float(i)) for i in range(20)], SCHEMA
    ).write.mode("append").parquet(str(src))
    drain()
    v1 = store.history()[-1]
    view = grouped_view(store.read(), _group_fn, "amount")

    # Two more source files -> another drain; the store may commit one or
    # several versions, the view maintains over the whole range at once.
    spark.createDataFrame(
        [("item0", TS0 + datetime.timedelta(hours=1), "x" * 8, 50.0),
         ("item40", TS0, "x" * 2, 4.5)],
        SCHEMA,
    ).write.mode("append").parquet(str(src))
    drain()
    v2 = store.history()[-1]
    assert v2 > v1
    view = maintain(view, store.changes(v1, v2), _group_fn, "amount")
    assert _rows(view) == _rows(grouped_view(store.read(), _group_fn, "amount"))


def test_ivm_maintains_decayed_engagement_score(spark, tmp_path):
    """The decayed engagement score (plans/engagement.py::agg_decayed) is a
    weighted SUM whose weight 2^(weeks since a FIXED epoch) is a pure
    function of the row — so it is retractable and maintains from the CDF
    exactly like any other sum. Late-arriving events, corrections (updates)
    and GDPR deletes all land on the full recompute, bit-for-bit, because
    the weighted units are integers. (The registered query derives its
    epoch from the data for fixture-proofness; a maintained deployment pins
    the epoch, as here — a data-derived epoch would re-weight history on a
    new minimum and is NOT incrementally maintainable.)"""
    epoch = datetime.date(2024, 1, 1)
    schema = (
        "event_id string, ingestion_ts timestamp, user_id long, d date,"
        " cents long"
    )

    def with_wunits(df):
        return df.withColumn(
            "wunits",
            F.expr(
                "CAST(cents * shiftleft(CAST(1 AS BIGINT),"
                f" CAST(datediff(d, DATE '{epoch}') DIV 7 AS INT)) AS DOUBLE)"
            ),
        )

    store = ParquetUpsertStore(
        spark,
        str(tmp_path / "decayed"),
        key="event_id",
        ts_col="ingestion_ts",
        n_buckets=4,
    )
    rows = [
        (f"e{i}", TS0, i % 5, epoch + datetime.timedelta(days=(i * 3) % 28), 100 + i)
        for i in range(30)
    ]
    store.merge(with_wunits(spark.createDataFrame(rows, schema)))

    group_fn = lambda c: c("user_id")  # noqa: E731
    view = grouped_view(store.read(), group_fn, "wunits")

    # Late event, a correction to an existing event's value, then a delete.
    late = [
        ("e100", TS0 + datetime.timedelta(hours=1), 1,
         epoch + datetime.timedelta(days=27), 999),
        ("e3", TS0 + datetime.timedelta(hours=1), 3,
         epoch + datetime.timedelta(days=9), 5),
    ]
    store.merge(with_wunits(spark.createDataFrame(late, schema)))
    view = maintain(view, store.changes(1, 2), group_fn, "wunits")

    store.delete(spark.createDataFrame([("e7",)], "event_id string"))
    view = maintain(view, store.changes(2, 3), group_fn, "wunits")

    recomputed = grouped_view(store.read(), group_fn, "wunits")
    assert _rows(view) == _rows(recomputed)

    # Integer-exactness: the maintained decayed units match a direct
    # integer-arithmetic recompute of the score per user.
    direct = {
        (r.user_id, r.units)
        for r in store.read()
        .groupBy("user_id")
        .agg(F.sum(F.col("wunits").cast("long")).alias("units"))
        .collect()
    }
    maintained = {(r.g, int(r.total)) for r in view.collect()}
    assert maintained == direct
