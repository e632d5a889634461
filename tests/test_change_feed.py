"""The keyed store's change feed, written at commit: a randomized check
against a join oracle over every version range, exactly-once replay, the
job-free read construction the recorded schema buys, and the schema rule
that recorded schema enforces."""

from __future__ import annotations

import datetime
import os
import random

import pytest
from pyspark.sql import functions as F

from hybrid_nutrition_data_pipeline_batch_streaming_spark.operators import ivm
from hybrid_nutrition_data_pipeline_batch_streaming_spark.streaming.upsert_sink import (
    ParquetUpsertStore,
)

SCHEMA = "k string, ts bigint, v bigint, s string"


def oracle_changes(store, v_from, v_to):
    """The change feed recomputed from two snapshots: over the buckets the
    manifest diff names, a left join of the new rows against the old
    classifies inserts and updates, and an anti join finds deletes. Both
    match keys null-safely; a side with no stored bucket reads as the other
    side with no rows."""
    mf, mt = store._manifest(v_from).buckets, store._manifest(v_to).buckets
    # a bucket only in mf was fully emptied by a delete
    changed = sorted({b for b in mt if mf.get(b) != mt[b]} | (mf.keys() - mt.keys()))
    if not changed:
        return None

    def side(v):
        return store._read_buckets(store._manifest(v), changed)

    old, new = side(v_from), side(v_to)
    if old is None:
        old = new.where(F.lit(False))
    if new is None:
        new = old.where(F.lit(False))
    cols = new.columns
    pre = F.col("__pre")
    upserts = new.join(
        old.select(F.col(store.key).alias("__old_key"), F.struct(*cols).alias("__pre")),
        F.col(store.key).eqNullSafe(F.col("__old_key")),
        "left",
    ).select(
        *cols,
        F.when(pre.isNull(), F.lit("insert"))
        .when(~F.struct(*cols).eqNullSafe(pre), F.lit("update"))
        .alias("change_type"),
        pre.alias("pre_image"),
    ).where(F.col("change_type").isNotNull())
    deletes = old.join(
        new.select(F.col(store.key).alias("__new_key")),
        F.col(store.key).eqNullSafe(F.col("__new_key")),
        "left_anti",
    ).select(
        *cols,
        F.lit("delete").alias("change_type"),
        F.struct(*cols).alias("pre_image"),
    )
    return upserts.unionByName(deletes)


def _rows(df):
    return sorted(repr(r) for r in df.collect())


def _history(spark, store, seed):
    """About 8 merges and 2 deletes over a 7-key space with a NULL key,
    NULL values and tied timestamps: one batch is merged twice, and one key
    is inserted and later deleted."""
    rng = random.Random(seed)
    keys = [None, "a", "b", "c", "d", "e", "f"]

    def batch(n):
        return [
            (
                rng.choice(keys),
                rng.randint(1, 3),
                rng.choice([None, rng.randint(0, 3)]),
                rng.choice([None, "x", "y"]),
            )
            for _ in range(n)
        ]

    last = None
    for step in ("m", "m", "m+z", "replay", "m", "del", "m", "m", "del+z", "m"):
        if step.startswith("del"):
            present = sorted(r.k for r in store.read().collect() if r.k is not None)
            doomed = rng.sample(present, min(2, len(present))) + ["z"] * (step == "del+z")
            assert store.delete(spark.createDataFrame([(k,) for k in doomed], "k string")) > 0
            continue
        if step != "replay":
            last = batch(rng.randint(1, 6)) + ([("z", 1, 7, "x")] if step == "m+z" else [])
        store.merge(spark.createDataFrame(last, SCHEMA))


@pytest.mark.parametrize("n_buckets", [1, 4])
def test_change_feed_equals_the_join_oracle_over_every_range(spark, tmp_path, n_buckets):
    """For every 0 <= v_from <= v_to <= latest, the feed written at commit
    equals the snapshot join on rows, schema and None-ness; and an
    incremental view maintained over it, step by step or in one range,
    lands on the full recompute."""
    store = ParquetUpsertStore(
        spark, str(tmp_path / "store"), key="k", ts_col="ts", n_buckets=n_buckets
    )
    _history(spark, store, seed=n_buckets)
    latest = store.history()[-1]
    assert latest == 10
    for v_from in range(latest + 1):
        for v_to in range(v_from, latest + 1):
            got, want = store.changes(v_from, v_to), oracle_changes(store, v_from, v_to)
            assert (got is None) == (want is None), (v_from, v_to)
            if got is not None:
                assert got.schema == want.schema, (v_from, v_to)
                both = got.withColumn("__want", F.lit(False)).union(
                    want.withColumn("__want", F.lit(True))
                )
                sides = {False: [], True: []}
                for r in both.collect():
                    sides[r[-1]].append(repr(r[:-1]))
                assert sorted(sides[False]) == sorted(sides[True]), (v_from, v_to)

    def group_fn(c):
        return c("s")  # NULL is a group too

    def view_at(v):
        return _rows(ivm.grouped_view(store.read(version=v), group_fn, "ts"))

    view = ivm.grouped_view(store.read(version=1), group_fn, "ts")
    one_shot = ivm.maintain(view, store.changes(1, latest), group_fn, "ts")
    for v in range(1, latest):
        view = ivm.maintain(view, store.changes(v, v + 1), group_fn, "ts")
        assert _rows(view) == view_at(v + 1), v
    assert _rows(one_shot) == view_at(latest)


def test_replayed_micro_batch_has_an_empty_change_feed(spark, tmp_path):
    """The crash between the manifest commit and the stream checkpoint:
    the restarted query replays the committed micro-batch. The replay
    rewrites the batch's buckets with the same rows, so its change feed is
    an empty frame (not None: the manifest moved), the maintained view is
    unchanged, and each run scans its batch once — every item is looked up
    exactly once per run."""
    from hybrid_nutrition_data_pipeline_batch_streaming_spark.functions.enrichment import (
        enrich_from_api,
        nutrition_lookup_stub,
    )

    calls = str(tmp_path / "calls.log")

    def counting_lookup(names):
        with open(calls, "a") as fh:
            fh.write("".join(f"{n}\n" for n in names))
        return nutrition_lookup_stub(names)

    ts0 = datetime.datetime(2024, 1, 1)
    names = [f"item{i}" for i in range(60)]
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(n, ts0, "") for n in names], "item_name string, ingestion_ts timestamp, data string"
    ).coalesce(1).write.parquet(src)
    store = ParquetUpsertStore(
        spark, str(tmp_path / "store"), key="item_name", ts_col="ingestion_ts", n_buckets=4
    )
    ckpt = str(tmp_path / "ck")

    def run():
        items = (
            spark.readStream.schema("item_name string, ingestion_ts timestamp, data string")
            .parquet(src)
            .select("item_name", "ingestion_ts")
        )
        q = (
            enrich_from_api(items, lookup=counting_lookup)
            .writeStream.foreachBatch(lambda batch, _id: store.merge(batch))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def group_fn(c):
        return F.length(c("item_name"))

    run()
    assert store.history() == [1]
    view = ivm.grouped_view(store.read(), group_fn)
    before = _rows(view)
    # Lose the batch's checkpoint commit, as a crash right after the
    # manifest commit would.
    for name in os.listdir(os.path.join(ckpt, "commits")):
        os.remove(os.path.join(ckpt, "commits", name))
    run()

    assert store.history() == [1, 2]
    feed = store.changes(1, 2)
    assert feed is not None
    assert feed.count() == 0
    assert _rows(ivm.maintain(view, feed, group_fn)) == before
    assert _rows(ivm.grouped_view(store.read(), group_fn)) == before
    with open(calls) as fh:
        assert sorted(fh.read().split()) == sorted(names * 2)


def test_store_reads_launch_no_job_while_building_frames(spark, tmp_path):
    """With the schema recorded in the manifest, building a snapshot read,
    a point lookup or one commit's change feed plans without touching
    Spark: no schema inference, no key-hash collect."""
    store = ParquetUpsertStore(spark, str(tmp_path / "store"), key="k", ts_col="ts", n_buckets=4)
    store.merge(spark.createDataFrame([(f"k{i}", 1, i, "x") for i in range(20)], SCHEMA))
    store.merge(spark.createDataFrame([("k1", 2, 100, "y"), ("new", 1, 5, None)], SCHEMA))

    sc = spark.sparkContext
    group = "store-read-construction"
    sc.setJobGroup(group, group)
    try:
        current = store.read()
        pinned = store.read(version=1)
        hits = store.read_keys(["k1", "absent"])
        feed = store.changes(1, 2)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs == []

    assert current.count() == 21 and pinned.count() == 20
    assert [(r.k, r.v) for r in hits.collect()] == [("k1", 100)]
    assert sorted((r.k, r.change_type) for r in feed.collect()) == [
        ("k1", "update"),
        ("new", "insert"),
    ]


def test_recorded_schema_rejects_drift_before_any_write(spark, tmp_path):
    """The schema the first commit recorded still decides: a retyped or
    added column raises before anything is written — also once every
    bucket is deleted and no stored file is left to compare against."""
    path = tmp_path / "store"
    store = ParquetUpsertStore(spark, str(path), key="k", ts_col="ts", n_buckets=2)
    store.merge(spark.createDataFrame([("a", 1, 1, "x"), ("b", 1, 2, "y")], SCHEMA))

    def on_disk():
        return {d: sorted(os.listdir(path / d)) for d in ("data", "_changes", "_manifest")}

    before = on_disk()
    with pytest.raises(ValueError, match="does not match the schema"):
        store.merge(
            spark.createDataFrame([("a", 2, "1", "x")], "k string, ts bigint, v string, s string")
        )
    assert on_disk() == before

    store.delete(spark.createDataFrame([("a",), ("b",)], "k string"))
    assert store._current_manifest().buckets == {}
    before = on_disk()
    with pytest.raises(ValueError, match="does not match the schema"):
        store.merge(spark.createDataFrame([("c", 1, 1, "x", 0.5)], SCHEMA + ", w double"))
    assert on_disk() == before


def test_delete_hashes_keys_in_the_stored_key_type(spark, tmp_path):
    """Tombstones are cast to the stored key type before they are hashed:
    an int key frame deletes from a bigint store. (xxhash64 of an int
    differs from that of a bigint, so an uncast key picks the wrong
    bucket and its row survives.)"""
    store = ParquetUpsertStore(spark, str(tmp_path / "store"), key="k", ts_col="ts", n_buckets=16)
    rows = [(k, 1, str(k)) for k in range(40)]
    store.merge(spark.createDataFrame(rows, "k bigint, ts bigint, v string"))

    assert store.delete(spark.createDataFrame([(3,), (7,), (11,), (None,)], "k int")) == 3
    assert {r.k for r in store.read().collect()} == set(range(40)) - {3, 7, 11}
    feed = store.changes(1, 2).collect()
    assert sorted((r.k, r.v, r.change_type, r.pre_image.k) for r in feed) == [
        (3, "3", "delete", 3),
        (7, "7", "delete", 7),
        (11, "11", "delete", 11),
    ]


def test_store_frees_every_rdd_it_persists(spark, tmp_path):
    """merge persists its batch and both merge and delete cut their window
    pass; on return none of them is left in the context's persistent RDDs."""
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = set(persistent().keys())
    store = ParquetUpsertStore(spark, str(tmp_path / "store"), key="k", ts_col="ts", n_buckets=4)
    store.merge(spark.createDataFrame([(f"k{i}", 1, i, "x") for i in range(20)], SCHEMA))
    assert store.delete(spark.createDataFrame([("k1",), ("k2",)], "k string")) == 2
    assert store.history() == [1, 2]
    assert set(persistent().keys()) <= before


def test_benchmark_store_hooks_read_the_store(spark, tmp_path, monkeypatch):
    """``perfbench/common.py::store_writes`` reads the store through its
    manifest helpers; a store change that breaks them fails here, not in a
    traced benchmark run."""
    import importlib.util
    import sys

    path = os.path.join(os.path.dirname(os.path.dirname(__file__)), "perfbench", "common.py")
    monkeypatch.setattr(sys, "dont_write_bytecode", True)  # leave perfbench/ as it is
    spec = importlib.util.spec_from_file_location("perfbench_common", path)
    common = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(common)

    store = ParquetUpsertStore(spark, str(tmp_path / "store"), key="k", ts_col="ts", n_buckets=4)
    store.merge(spark.createDataFrame([(f"k{i}", 1, i, "x") for i in range(20)], SCHEMA))
    assert store.delete(spark.createDataFrame([("k1",)], "k string")) == 1
    written, buckets = common.store_writes(store, 0, store.history()[-1])
    assert buckets == [4, 1]
    on_disk = 0
    for root, _dirs, files in os.walk(os.path.join(store.path, "data")):
        on_disk += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    assert 0 < written == on_disk
