"""Streaming tests (SURVEY.md §5.2 item 5): file sources + AvailableNow +
memory sink — dedup, windows/watermark, and checkpoint-resume (the
exactly-once property replacing the reference's mark-processed mutation,
`pipeline.py:144-150`).
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from hybrid_nutrition_data_pipeline_batch_streaming_spark.streaming.ingest import (
    dedup_stream,
    read_events_stream,
    run_to_memory,
)
from hybrid_nutrition_data_pipeline_batch_streaming_spark.streaming.windows import (
    session_windows,
    sliding_counts,
    tumbling_counts,
)

SF = "/root/testdata/sf0.001"


def _write_batch(spark, tmp_path, rows, name):
    path = str(tmp_path / name)
    spark.createDataFrame(
        rows, "item_name string, ingestion_ts timestamp, data string"
    ).coalesce(1).write.mode("append").parquet(path)
    return path


def test_stream_matches_batch_tumbling(spark):
    """Hybrid parity: streaming tumbling agg == batch date-bucket agg."""
    stream = read_events_stream(spark, SF)
    got = run_to_memory(tumbling_counts(stream), output_mode="complete")
    from hybrid_nutrition_data_pipeline_batch_streaming_spark.catalog import load_table

    batch = (
        load_table(spark, SF, "events")  # handles either on-disk ts encoding
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("event_cnt"))
    )
    got_map = {r.bucket_start: r.event_cnt for r in got.collect()}
    exp_map = {
        r.w.start.replace(tzinfo=None): r.event_cnt for r in batch.collect()
    }
    assert got_map == exp_map


def test_stream_dedup_bounded_state(spark):
    stream = read_events_stream(spark, SF).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    out = run_to_memory(dedup_stream(stream, ["user_id"], watermark=("ts", "30 days")))
    rows = out.collect()
    # one row per user, and every user present
    users = [r.user_id for r in rows]
    assert len(users) == len(set(users))
    n_users = (
        spark.read.parquet(f"{SF}/events.parquet").select("user_id").distinct().count()
    )
    assert len(users) == n_users


def test_sliding_and_session_windows_run(spark):
    stream = read_events_stream(spark, SF)
    slid = run_to_memory(sliding_counts(stream), output_mode="complete")
    # every event lands in 2 sliding buckets (2h window, 1h slide)
    total_events = spark.read.parquet(f"{SF}/events.parquet").count()
    assert sum(r.event_cnt for r in slid.collect()) == 2 * total_events

    stream2 = read_events_stream(spark, SF)
    sess = run_to_memory(session_windows(stream2), output_mode="complete")
    srows = sess.collect()
    assert sum(r.event_cnt for r in srows) == total_events
    assert all(r.session_end > r.session_start for r in srows)


def test_checkpoint_resume_exactly_once(spark, tmp_path):
    """Process a micro-batch, stop, add data, resume from the checkpoint:
    no duplicates, no losses (T3/S6 — the reference's at-least-once commit
    loop + racy mark-processed, done right)."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    ts = datetime.datetime(2024, 1, 1, 0, 0, 0)
    _write_batch(spark, tmp_path, [(f"item{i}", ts, "{}") for i in range(5)], "src")

    schema = "item_name string, ingestion_ts timestamp, data string"

    def run_once():
        # File sink (memory sink does not support checkpoint recovery) —
        # the production shape: stream → checkpointed columnar append.
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sorted(r.item_name for r in spark.read.parquet(out).collect())

    assert run_once() == [f"item{i}" for i in range(5)]

    # new file arrives; the resumed query must process ONLY the new rows —
    # total output stays duplicate-free across restarts.
    _write_batch(spark, tmp_path, [(f"item{i}", ts, "{}") for i in range(5, 8)], "src")
    assert run_once() == [f"item{i}" for i in range(8)]


def test_rate_limited_ingestion(spark):
    """maxFilesPerTrigger bounds per-micro-batch work (T1/T2 — the
    reference's sleep-paced loops, `produce_items.py:66`,
    `consume_items.py:108`)."""
    stream = read_events_stream(spark, SF, max_files_per_trigger=1)
    out = run_to_memory(stream.groupBy().count(), output_mode="complete")
    total = spark.read.parquet(f"{SF}/events.parquet").count()
    assert out.collect()[0]["count"] == total


def test_upsert_merge_scans_each_micro_batch_once(spark, tmp_path):
    """``merge`` persists its micro-batch, so the source and the enrichment
    upstream run once per batch, not once per action: a lookup that logs
    every call sees exactly one call per streamed item."""
    from hybrid_nutrition_data_pipeline_batch_streaming_spark.functions.enrichment import (
        enrich_from_api,
        nutrition_lookup_stub,
    )
    from hybrid_nutrition_data_pipeline_batch_streaming_spark.streaming.upsert_sink import (
        ParquetUpsertStore,
    )

    calls = str(tmp_path / "calls.log")

    def counting_lookup(names):
        with open(calls, "a") as fh:
            fh.write("".join(f"{n}\n" for n in names))
        return nutrition_lookup_stub(names)

    ts0 = datetime.datetime(2024, 1, 1)
    names = [f"item{i}" for i in range(100)]
    src = _write_batch(spark, tmp_path, [(n, ts0, "") for n in names], "src")
    store = ParquetUpsertStore(
        spark, str(tmp_path / "store"), key="item_name", ts_col="ingestion_ts"
    )
    items = (
        spark.readStream.schema("item_name string, ingestion_ts timestamp, data string")
        .parquet(src)
        .select("item_name", "ingestion_ts")
    )
    q = (
        enrich_from_api(items, lookup=counting_lookup)
        .writeStream.foreachBatch(lambda batch, _id: store.merge(batch))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    with open(calls) as fh:
        assert sorted(fh.read().split()) == sorted(names)
    assert store.read().count() == len(names)


def test_upsert_store_rewrites_only_touched_buckets(spark, tmp_path):
    """The bucketed store's merge must be O(micro-batch), not O(store):
    buckets the batch doesn't touch keep byte-identical files."""
    import hashlib
    import os

    from hybrid_nutrition_data_pipeline_batch_streaming_spark.streaming.upsert_sink import (
        ParquetUpsertStore,
    )

    def snapshot(path):
        state = {}
        for root, _dirs, files in os.walk(path):
            for f in files:
                p = os.path.join(root, f)
                with open(p, "rb") as fh:
                    state[os.path.relpath(p, path)] = hashlib.md5(fh.read()).hexdigest()
        return state

    store = ParquetUpsertStore(
        spark, str(tmp_path / "store"), key="item_name", ts_col="ingestion_ts",
        n_buckets=8,
    )
    ts0 = datetime.datetime(2024, 1, 1)
    seed = spark.createDataFrame(
        [(f"item{i}", ts0, "v1") for i in range(40)],
        "item_name string, ingestion_ts timestamp, data string",
    )
    store.merge(seed)
    before = snapshot(os.path.join(store.path, "data"))
    buckets_before = store._current_manifest().buckets
    assert len(buckets_before) > 1  # the point of the test needs >1 bucket

    update = spark.createDataFrame(
        [("item0", ts0 + datetime.timedelta(hours=1), "v2")],
        "item_name string, ingestion_ts timestamp, data string",
    )
    store.merge(update)
    after = snapshot(os.path.join(store.path, "data"))
    buckets_after = store._current_manifest().buckets

    # Exactly one bucket got a new snapshot dir; every other bucket's
    # manifest entry AND on-disk files are unchanged byte-for-byte.
    repointed = {b for b in buckets_after if buckets_before.get(b) != buckets_after[b]}
    assert len(repointed) == 1, f"expected 1 touched bucket, got {repointed}"
    untouched_dirs = {d for b, d in buckets_before.items() if b not in repointed}
    for p in set(before) & set(after):
        assert before[p] == after[p], f"untouched file rewritten: {p}"
    surviving = {p.split(os.sep)[0] for p in after}
    assert untouched_dirs <= surviving  # old snapshots of untouched buckets remain live

    final = {r.item_name: r.data for r in store.read().collect()}
    assert final["item0"] == "v2"
    assert len(final) == 40


def test_upsert_store_commit_is_atomic_across_buckets(spark, tmp_path):
    """The manifest rename is the only visibility point: a merge that dies
    before the commit leaves the previous snapshot fully intact (no bucket
    mixes old and new), and a retry converges."""
    from hybrid_nutrition_data_pipeline_batch_streaming_spark.streaming.upsert_sink import (
        ParquetUpsertStore,
    )

    store = ParquetUpsertStore(
        spark, str(tmp_path / "store"), key="item_name", ts_col="ingestion_ts",
        n_buckets=8,
    )
    ts0 = datetime.datetime(2024, 1, 1)
    seed = spark.createDataFrame(
        [(f"item{i}", ts0, "v1") for i in range(40)],
        "item_name string, ingestion_ts timestamp, data string",
    )
    store.merge(seed)

    update = spark.createDataFrame(
        [(f"item{i}", ts0 + datetime.timedelta(hours=1), "v2") for i in range(40)],
        "item_name string, ingestion_ts timestamp, data string",
    )
    real_commit = store._commit_manifest
    store._commit_manifest = lambda *a, **k: (_ for _ in ()).throw(OSError("crash"))
    with pytest.raises(OSError):
        store.merge(update)  # dies between data write and commit
    # Every row still reads at v1 — not a partial mix.
    assert {r.data for r in store.read().collect()} == {"v1"}

    store._commit_manifest = real_commit
    store.merge(update)  # retry converges; orphaned dirs were GC'd or ignored
    rows = store.read().collect()
    assert {r.data for r in rows} == {"v2"}
    assert len(rows) == 40
    # GC: every surviving data dir is referenced by a RETAINED manifest
    # (crash orphans removed; time-travel snapshots kept); vacuuming down
    # to the live snapshot leaves exactly the current manifest's dirs.
    import os as _os

    on_disk = set(_os.listdir(_os.path.join(store.path, "data")))
    assert on_disk == {d for v in store.history() for d in store._load_manifest(v).values()}
    store.vacuum(keep_last=1)
    buckets = store._current_manifest().buckets
    on_disk = set(_os.listdir(_os.path.join(store.path, "data")))
    assert on_disk == set(buckets.values())


def test_upsert_store_gc_and_vacuum_cover_change_feeds(spark, tmp_path):
    """Feed dirs live and die with the manifests that name them: a crashed
    attempt's feed is collected once its version is decided, a feed dir
    ahead of the committed version (another writer in flight) is spared, a
    losing racer removes its own feed, and vacuum(keep_last=1) leaves only
    the live manifest's feed."""
    import os

    from hybrid_nutrition_data_pipeline_batch_streaming_spark.streaming.upsert_sink import (
        ConcurrentWriteError,
        ParquetUpsertStore,
    )

    path = str(tmp_path / "store")
    feeds_dir = os.path.join(path, "_changes")
    store = ParquetUpsertStore(spark, path, key="item_name", ts_col="ingestion_ts", n_buckets=4)
    schema = "item_name string, ingestion_ts timestamp, data string"
    ts0 = datetime.datetime(2024, 1, 1)

    def batch(hours, data):
        return spark.createDataFrame(
            [(f"item{i}", ts0 + datetime.timedelta(hours=hours), data) for i in range(12)],
            schema,
        )

    def named():
        return {store._manifest(v).feed for v in store.history()}

    store.merge(batch(0, "v1"))
    real_commit = store._commit_manifest
    store._commit_manifest = lambda *a, **k: (_ for _ in ()).throw(OSError("crash"))
    with pytest.raises(OSError):
        store.merge(batch(1, "v2"))
    store._commit_manifest = real_commit
    assert len(os.listdir(feeds_dir)) == 2  # the crashed attempt's feed is left behind

    in_flight = os.path.join(feeds_dir, "v000099-inflight")
    os.makedirs(in_flight)
    store.merge(batch(1, "v2"))  # commits version 2; its GC runs
    assert set(os.listdir(feeds_dir)) == named() | {"v000099-inflight"}

    loser = ParquetUpsertStore(spark, path, key="item_name", ts_col="ingestion_ts", n_buckets=4)
    stale = store._current_manifest()
    store.merge(batch(2, "v3"))
    loser._current_manifest = lambda: stale
    with pytest.raises(ConcurrentWriteError):
        loser.merge(batch(3, "lost"))
    assert set(os.listdir(feeds_dir)) == named() | {"v000099-inflight"}

    os.rmdir(in_flight)
    store.vacuum(keep_last=1)
    assert store.history() == [3]
    assert set(os.listdir(feeds_dir)) == named()
    assert len(named()) == 1


def test_upsert_store_time_travel_and_vacuum(spark, tmp_path):
    """Every committed manifest is a complete, directly-readable snapshot:
    read(version=N) reproduces the store as of merge N with no log replay,
    and vacuum drops exactly the versions (and dirs) past retention."""
    from hybrid_nutrition_data_pipeline_batch_streaming_spark.streaming.upsert_sink import (
        ParquetUpsertStore,
    )

    store = ParquetUpsertStore(
        spark, str(tmp_path / "store"), key="item_name", ts_col="ingestion_ts",
        n_buckets=4,
    )
    ts0 = datetime.datetime(2024, 1, 1)
    store.merge(
        spark.createDataFrame(
            [(f"item{i}", ts0, "v1") for i in range(10)],
            "item_name string, ingestion_ts timestamp, data string",
        )
    )
    store.merge(
        spark.createDataFrame(
            [("item0", ts0 + datetime.timedelta(hours=1), "v2"),
             ("item99", ts0 + datetime.timedelta(hours=1), "v2")],
            "item_name string, ingestion_ts timestamp, data string",
        )
    )
    assert store.history() == [1, 2]

    as_of_1 = {r.item_name: r.data for r in store.read(version=1).collect()}
    assert as_of_1 == {f"item{i}": "v1" for i in range(10)}  # pre-update state
    latest = {r.item_name: r.data for r in store.read().collect()}
    assert latest["item0"] == "v2" and latest["item99"] == "v2"
    assert len(latest) == 11

    assert store.vacuum(keep_last=1) == [1]
    assert store.history() == [2]
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        store.read(version=1)
    # The live snapshot is untouched by vacuum.
    assert len(store.read().collect()) == 11


def test_upsert_store_change_feed_reads_only_touched_buckets(spark, tmp_path):
    """changes(v1, v2) must classify inserts/updates from the post-image
    and bound its read to the manifest-diff buckets — O(changed data),
    not O(store)."""
    from hybrid_nutrition_data_pipeline_batch_streaming_spark.streaming.upsert_sink import (
        ParquetUpsertStore,
    )

    store = ParquetUpsertStore(
        spark, str(tmp_path / "store"), key="item_name", ts_col="ingestion_ts",
        n_buckets=8,
    )
    ts0 = datetime.datetime(2024, 1, 1)
    store.merge(
        spark.createDataFrame(
            [(f"item{i}", ts0, "v1") for i in range(40)],
            "item_name string, ingestion_ts timestamp, data string",
        )
    )
    store.merge(
        spark.createDataFrame(
            [("item0", ts0 + datetime.timedelta(hours=1), "v2"),
             ("item99", ts0, "new")],
            "item_name string, ingestion_ts timestamp, data string",
        )
    )

    # The manifest diff bounds the read: at most the 2 buckets the second
    # micro-batch touched (1 if both keys hashed together), never all 8.
    before, after = store._manifest(1).buckets, store._manifest(2).buckets
    changed = {b for b in after if before.get(b) != after[b]} | (
        before.keys() - after.keys()
    )
    assert 1 <= len(changed) <= 2

    feed = {r.item_name: r.change_type for r in store.changes(1, 2).collect()}
    assert feed == {"item0": "update", "item99": "insert"}
    # Unchanged keys in the touched buckets are filtered out; a no-op diff
    # is None.
    assert store.changes(2, 2) is None


def test_upsert_store_concurrent_commit_loses_loudly(spark, tmp_path):
    """Two writers racing to the same manifest version: the second commit
    must raise (put-if-absent semantics), never silently overwrite the
    winner — and a retried merge rebases on the winner's snapshot."""
    from hybrid_nutrition_data_pipeline_batch_streaming_spark.streaming.upsert_sink import (
        ConcurrentWriteError,
        ParquetUpsertStore,
    )

    store = ParquetUpsertStore(
        spark, str(tmp_path / "store"), key="item_name", ts_col="ingestion_ts",
        n_buckets=4,
    )
    ts0 = datetime.datetime(2024, 1, 1)
    store.merge(
        spark.createDataFrame(
            [("a", ts0, "v1")],
            "item_name string, ingestion_ts timestamp, data string",
        )
    )
    # Writer A wins version 2.
    _, buckets, schema, feed = store._current_manifest()
    store._commit_manifest(2, buckets, schema, feed)
    # Writer B raced to the same version and must lose LOUDLY.
    with pytest.raises(ConcurrentWriteError, match="another writer"):
        store._commit_manifest(2, buckets, schema, feed)
    # A retried merge sees the winner's manifest and commits the next
    # version on top of it.
    store.merge(
        spark.createDataFrame(
            [("b", ts0, "v2")],
            "item_name string, ingestion_ts timestamp, data string",
        )
    )
    assert store.history()[-1] == 3
    assert {r.item_name for r in store.read().collect()} == {"a", "b"}


def test_upsert_store_true_concurrent_writers_race(spark, tmp_path):
    """VERDICT r7 item 7: the single-writer boundary under REAL concurrency
    — four threads (each its own store handle, as four jobs on a cluster
    would be) merge disjoint key sets simultaneously, synchronized on a
    barrier so they genuinely race the same manifest versions. The contract
    a 100 TB deployment assumes: every losing commit raises
    ConcurrentWriteError LOUDLY (no silent lost update), a loser that
    rebases+retries eventually lands, and the final store holds EVERY
    writer's rows with a contiguous version history."""
    import threading

    from hybrid_nutrition_data_pipeline_batch_streaming_spark.streaming.upsert_sink import (
        ConcurrentWriteError,
        ParquetUpsertStore,
    )

    path = str(tmp_path / "store")
    ts0 = datetime.datetime(2024, 1, 1)
    n_writers = 4
    barrier = threading.Barrier(n_writers)
    conflicts = []
    errors = []

    def writer(w: int) -> None:
        try:
            store = ParquetUpsertStore(
                spark, path, key="item_name", ts_col="ingestion_ts",
                n_buckets=4,
            )
            batch = spark.createDataFrame(
                [(f"w{w}-item{i}", ts0, f"from-writer-{w}") for i in range(5)],
                "item_name string, ingestion_ts timestamp, data string",
            )
            barrier.wait(timeout=120)
            for _ in range(8 * n_writers):  # bounded retry, never spin
                try:
                    store.merge(batch)
                    return
                except ConcurrentWriteError:
                    conflicts.append(w)  # loud loss → rebase and retry
            errors.append((w, "retries exhausted"))
        except Exception as exc:  # pragma: no cover - surfaced below
            errors.append((w, repr(exc)))

    threads = [threading.Thread(target=writer, args=(w,)) for w in range(n_writers)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not errors, errors
    # No silent lost update: every writer's keys are all present.
    store = ParquetUpsertStore(
        spark, path, key="item_name", ts_col="ingestion_ts", n_buckets=4
    )
    rows = {r.item_name: r.data for r in store.read().collect()}
    assert len(rows) == n_writers * 5
    for w in range(n_writers):
        assert all(rows[f"w{w}-item{i}"] == f"from-writer-{w}" for i in range(5))
    # Version history is contiguous: one committed version per successful
    # merge, starting at 1.
    hist = store.history()
    assert hist == list(range(1, n_writers + 1))


def test_upsert_store_read_raises_on_corrupt_store(spark, tmp_path):
    """A readable-but-broken store must surface the error, never be treated
    as empty (which would let the next merge overwrite all history)."""
    import os

    from hybrid_nutrition_data_pipeline_batch_streaming_spark.streaming.upsert_sink import (
        ParquetUpsertStore,
    )

    store = ParquetUpsertStore(
        spark, str(tmp_path / "store"), key="item_name", ts_col="ingestion_ts"
    )
    assert store.read() is None  # genuinely absent → None

    ts0 = datetime.datetime(2024, 1, 1)
    store.merge(
        spark.createDataFrame(
            [("a", ts0, "v1")],
            "item_name string, ingestion_ts timestamp, data string",
        )
    )
    # Corrupt a manifest-referenced data file in place.
    buckets = store._current_manifest().buckets
    snap_dir = tmp_path / "store" / "data" / next(iter(buckets.values()))
    part = next(p for p in os.listdir(snap_dir) if p.endswith(".parquet"))
    (snap_dir / part).write_bytes(b"not a parquet file")
    with pytest.raises(Exception):
        store.read().collect()


def test_change_feed_drives_incremental_view_maintenance(spark, tmp_path):
    """Pre-images in the change feed let a derived aggregate update by
    retract-and-add from O(changed rows) — the incremental-view pattern —
    and must land exactly on the full recompute."""
    from pyspark.sql import functions as F

    from hybrid_nutrition_data_pipeline_batch_streaming_spark.streaming.upsert_sink import (
        ParquetUpsertStore,
    )

    store = ParquetUpsertStore(
        spark, str(tmp_path / "store"), key="item_name", ts_col="ingestion_ts",
        n_buckets=8,
    )
    ts0 = datetime.datetime(2024, 1, 1)
    store.merge(
        spark.createDataFrame(
            [(f"item{i}", ts0, "x" * (i % 7 + 1)) for i in range(40)],
            "item_name string, ingestion_ts timestamp, data string",
        )
    )

    def full_agg(df):
        return df.groupBy(F.length("data").alias("g")).agg(
            F.count("*").alias("cnt")
        )

    view = {(r.g, r.cnt) for r in full_agg(store.read()).collect()}
    assert view == {(r.g, r.cnt) for r in full_agg(store.read(version=1)).collect()}

    # Batch 2: one update changes item0's group, one insert adds a row.
    store.merge(
        spark.createDataFrame(
            [("item0", ts0 + datetime.timedelta(hours=1), "x" * 5),
             ("item99", ts0, "x" * 2)],
            "item_name string, ingestion_ts timestamp, data string",
        )
    )

    feed = store.changes(1, 2)
    # Delta stream: +1 for every post-image, -1 for every update's
    # pre-image (retraction); summing deltas onto the old view is the
    # whole maintenance step.
    adds = feed.select(F.length("data").alias("g"), F.lit(1).alias("d"))
    retracts = (
        feed.where(F.col("change_type") == "update")
        .select(F.length("pre_image.data").alias("g"), F.lit(-1).alias("d"))
    )
    deltas = adds.unionByName(retracts).groupBy("g").agg(F.sum("d").alias("d"))

    old_view = full_agg(store.read(version=1))
    maintained = {
        (r.g, r.cnt)
        for r in old_view.join(deltas, "g", "full")
        .select(
            "g",
            (F.coalesce(F.col("cnt"), F.lit(0)) + F.coalesce(F.col("d"), F.lit(0))).alias("cnt"),
        )
        .where(F.col("cnt") > 0)
        .collect()
    }
    recomputed = {(r.g, r.cnt) for r in full_agg(store.read()).collect()}
    assert maintained == recomputed


def test_upsert_store_racing_full_merges_never_clobber(spark, tmp_path):
    """ADVICE r2 (high): two merges racing from the SAME base version must
    not share on-disk names — the loser's rename path previously deleted the
    winner's already-committed snapshot dirs before its manifest link
    failed, leaving the committed manifest pointing at the loser's data (a
    silent lost update). Now every attempt's dirs are attempt-unique and
    nothing pre-existing is deleted pre-commit, so only the manifest link
    decides the winner and the loser leaves no mark."""
    from hybrid_nutrition_data_pipeline_batch_streaming_spark.streaming.upsert_sink import (
        ConcurrentWriteError,
        ParquetUpsertStore,
    )

    path = str(tmp_path / "store")
    ts0 = datetime.datetime(2024, 1, 1)
    writer_a = ParquetUpsertStore(
        spark, path, key="item_name", ts_col="ingestion_ts", n_buckets=4
    )
    writer_a.merge(
        spark.createDataFrame(
            [(f"item{i}", ts0, "v1") for i in range(8)],
            "item_name string, ingestion_ts timestamp, data string",
        )
    )

    # Writer B reads the base manifest BEFORE writer A commits on top of it
    # (the race interleaving, made deterministic by pinning B's view).
    writer_b = ParquetUpsertStore(
        spark, path, key="item_name", ts_col="ingestion_ts", n_buckets=4
    )
    stale = writer_a._current_manifest()
    writer_b._current_manifest = lambda: stale

    # A wins version 2 with a full rewrite of every row.
    writer_a.merge(
        spark.createDataFrame(
            [(f"item{i}", ts0 + datetime.timedelta(hours=1), "winner") for i in range(8)],
            "item_name string, ingestion_ts timestamp, data string",
        )
    )
    # B raced to the same version: its data is written and renamed, then the
    # commit must lose loudly...
    with pytest.raises(ConcurrentWriteError, match="another writer"):
        writer_b.merge(
            spark.createDataFrame(
                [(f"item{i}", ts0 + datetime.timedelta(hours=2), "loser") for i in range(8)],
                "item_name string, ingestion_ts timestamp, data string",
            )
        )
    # ...and the WINNER's committed data must be exactly what readers see:
    # every manifest-referenced dir still exists and every row reads "winner".
    import os

    buckets = writer_a._current_manifest().buckets
    for d in buckets.values():
        assert os.path.isdir(os.path.join(path, "data", d)), f"committed dir {d} was clobbered"
    rows = writer_a.read().collect()
    assert {r.data for r in rows} == {"winner"}
    assert len(rows) == 8
    # The loser's attempt-unique dirs are gone (cleaned on the spot or by GC).
    live = writer_a._current_manifest().buckets
    on_disk = set(os.listdir(os.path.join(path, "data")))
    assert set(live.values()) <= on_disk
    assert not any(d.startswith(".stage-") for d in on_disk)


def test_upsert_store_change_feed_catches_equal_ts_value_change(spark, tmp_path):
    """ADVICE r2: an upsert that changes values but carries an EQUAL
    timestamp was classified 'unchanged' (ts-only, null-unsafe compare) and
    silently dropped from the CDF. The feed now compares the full pre/post
    structs null-safely: whenever the stored row actually changed, the feed
    says 'update'; when the old row survived LWW, the feed stays silent."""
    from hybrid_nutrition_data_pipeline_batch_streaming_spark.streaming.upsert_sink import (
        ParquetUpsertStore,
    )

    store = ParquetUpsertStore(
        spark, str(tmp_path / "store"), key="item_name", ts_col="ingestion_ts",
        n_buckets=2,
    )
    ts0 = datetime.datetime(2024, 1, 1)
    store.merge(
        spark.createDataFrame(
            [("a", ts0, "old")],
            "item_name string, ingestion_ts timestamp, data string",
        )
    )
    # Same key, SAME timestamp, different payload — the LWW row_number tie
    # is nondeterministic, so assert feed ⇔ stored-state consistency.
    store.merge(
        spark.createDataFrame(
            [("a", ts0, "new")],
            "item_name string, ingestion_ts timestamp, data string",
        )
    )
    stored = store.read().collect()[0].data
    feed = store.changes(1, 2)
    if stored == "new":
        rows = feed.collect()
        assert len(rows) == 1
        assert rows[0].change_type == "update"
        assert rows[0].pre_image.data == "old"
    else:
        assert feed is None or feed.count() == 0


def test_upsert_store_change_feed_from_version_zero(spark, tmp_path):
    """ADVICE r2: changes(0, 1) must diff the first commit against the
    empty pre-commit store (pure inserts), not raise FileNotFoundError."""
    from hybrid_nutrition_data_pipeline_batch_streaming_spark.streaming.upsert_sink import (
        ParquetUpsertStore,
    )

    store = ParquetUpsertStore(
        spark, str(tmp_path / "store"), key="item_name", ts_col="ingestion_ts",
        n_buckets=4,
    )
    ts0 = datetime.datetime(2024, 1, 1)
    store.merge(
        spark.createDataFrame(
            [(f"item{i}", ts0, "v1") for i in range(5)],
            "item_name string, ingestion_ts timestamp, data string",
        )
    )
    feed = store.changes(0, 1).collect()
    assert len(feed) == 5
    assert {r.change_type for r in feed} == {"insert"}
    assert all(r.pre_image is None for r in feed)
    # read(version=0) is the same empty snapshot changes() diffs against.
    assert store.read(version=0) is None


def test_events_schema_probe_raises_descriptive_error(tmp_path):
    """ADVICE r2: an events.parquet directory with no part files must raise
    a descriptive FileNotFoundError, not a bare IndexError."""
    import os

    from hybrid_nutrition_data_pipeline_batch_streaming_spark.streaming.ingest import (
        _events_file_schema,
    )

    os.makedirs(tmp_path / "events.parquet")
    with pytest.raises(FileNotFoundError, match="no parquet part files"):
        _events_file_schema(str(tmp_path))
    with pytest.raises(FileNotFoundError, match="not found"):
        _events_file_schema(str(tmp_path / "missing_dir"))


def test_upsert_store_delete_and_cdf(spark, tmp_path):
    """Right-to-be-forgotten on the keyed store: delete() rewrites only the
    touched buckets, the CDF reports the removed rows as deletes with
    pre-images, time travel still serves the pre-delete snapshot, and
    vacuum() is the physical-erasure step. A bucket fully emptied drops
    out of the manifest and its keys read back as absent."""
    from hybrid_nutrition_data_pipeline_batch_streaming_spark.streaming.upsert_sink import (
        ParquetUpsertStore,
    )

    store = ParquetUpsertStore(
        spark, str(tmp_path / "store"), key="k", ts_col="ts", n_buckets=4
    )
    rows = [(i, float(i), f"u{i}") for i in range(20)]
    store.merge(spark.createDataFrame(rows, "k bigint, ts double, v string"))
    v1 = store.history()[-1]

    doomed = spark.createDataFrame([(3,), (7,), (11,)], "k bigint")
    n = store.delete(doomed)
    assert n == 3
    v2 = store.history()[-1]
    assert v2 == v1 + 1

    live = {r.k for r in store.read().collect()}
    assert live == set(range(20)) - {3, 7, 11}
    # time travel still shows the pre-delete state
    assert {r.k for r in store.read(version=v1).collect()} == set(range(20))

    cdf = store.changes(v1, v2).collect()
    deletes = {r.k: r for r in cdf if r.change_type == "delete"}
    assert set(deletes) == {3, 7, 11}
    assert all(r.pre_image is not None and r.pre_image.k == k for k, r in deletes.items())
    assert all(r.change_type == "delete" for r in cdf)

    # deleting every remaining key empties all buckets -> manifest drops them
    rest = spark.createDataFrame([(k,) for k in live], "k bigint")
    assert store.delete(rest) == len(live)
    assert store.read() is None or store.read().count() == 0

    # no-op delete burns no version
    v3 = store.history()[-1]
    assert store.delete(spark.createDataFrame([(999,)], "k bigint")) == 0
    assert store.history()[-1] == v3

    # vacuum erases the pre-delete snapshots physically
    store.vacuum(keep_last=1)
    import os

    data = os.listdir(str(tmp_path / "store" / "data"))
    assert all("v000001" not in d for d in data)


def test_upsert_store_change_feed_matches_null_keys(spark, tmp_path):
    """A stored NULL key is one key to the change feed, as it is to the LWW
    dedup: an unchanged NULL-key row stays out of the feed, and a newer
    NULL-key row is one update carrying the old row as its pre-image."""
    from hybrid_nutrition_data_pipeline_batch_streaming_spark.operators import ivm
    from hybrid_nutrition_data_pipeline_batch_streaming_spark.streaming.upsert_sink import (
        ParquetUpsertStore,
    )

    store = ParquetUpsertStore(
        spark, str(tmp_path / "store"), key="k", ts_col="ts", n_buckets=1
    )
    schema = "k string, ts bigint, v bigint"
    store.merge(spark.createDataFrame([(None, 1, 10), ("x", 1, 20)], schema))
    store.merge(spark.createDataFrame([("y", 1, 31)], schema))
    assert [(r.k, r.change_type) for r in store.changes(1, 2).collect()] == [
        ("y", "insert")
    ]

    store.merge(spark.createDataFrame([(None, 2, 41)], schema))
    rows = store.changes(2, 3).collect()
    assert [(r.k, r.v, r.change_type) for r in rows] == [(None, 41, "update")]
    assert rows[0].pre_image.asDict() == {"k": None, "ts": 1, "v": 10}

    def group_fn(c):
        return c("v") % 2

    view = ivm.grouped_view(store.read(version=1), group_fn, value_col="v")
    for v_from in (1, 2):
        view = ivm.maintain(view, store.changes(v_from, v_from + 1), group_fn, "v")
    recomputed = ivm.grouped_view(store.read(), group_fn, value_col="v")
    assert sorted(view.collect()) == sorted(recomputed.collect())

    # The pre-commit side is empty, so the optimizer folds both joins away.
    first = store.changes(0, 1)
    assert "Join" not in first._jdf.queryExecution().optimizedPlan().toString()
    assert {(r.k, r.change_type) for r in first.collect()} == {
        (None, "insert"),
        ("x", "insert"),
    }


def test_watermark_drops_late_rows_in_append_mode(spark, tmp_path):
    """Watermark semantics, pinned end-to-end: after the watermark passes a
    window's end, a late row for that window is DROPPED (append mode) —
    the state-bounding contract that makes unbounded streams safe at
    100 TB/day. Batch 1 carries the window's on-time rows plus a
    far-future row that advances the watermark past the window end;
    batch 2 replays a late row into the closed window. The finalized
    window must count only the on-time rows, and must never re-emit."""
    import datetime as dt

    from pyspark.sql import functions as F

    src = str(tmp_path / "wm_src")
    schema = "ts timestamp, k string"

    def add_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    t = dt.datetime(2024, 1, 1, 10, 0, 0)
    add_batch([(t, "a"), (t + dt.timedelta(minutes=30), "b"),
               (t + dt.timedelta(hours=3), "future")])
    stream = spark.readStream.schema(schema).parquet(src)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("cnt"))
        .select(F.col("w.start").cast("timestamp_ntz").alias("w_start"), "cnt")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("wm_late")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        # watermark is now 12:00 (13:00 max event time - 1h); the 10:00
        # window finalized and emitted with its two on-time rows
        got = {r.w_start: r.cnt for r in spark.sql("SELECT * FROM wm_late").collect()}
        assert got[t] == 2

        # a LATE row into the closed window + more future data
        add_batch([(t + dt.timedelta(minutes=45), "late"),
                   (t + dt.timedelta(hours=4), "future2")])
        q.processAllAvailable()
        got = {r.w_start: r.cnt for r in spark.sql("SELECT * FROM wm_late").collect()}
        assert got[t] == 2  # dropped: not merged, not re-emitted as 3
        rows = spark.sql("SELECT * FROM wm_late").collect()
        assert len([r for r in rows if r.w_start == t]) == 1  # emitted once
        # Spark's own instrumentation confirms the drop happened IN the
        # stateful operator (not upstream filtering)
        dropped = sum(
            op.get("numRowsDroppedByWatermark", 0)
            for prog in q.recentProgress
            for op in prog.get("stateOperators", [])
        )
        assert dropped == 1
    finally:
        q.stop()


def test_upsert_store_rejects_schema_drift(spark, tmp_path):
    """The first commit fixes the store's schema: a batch that adds a column
    or changes a stored column's type raises before anything is written,
    whether it touches stored buckets or only new ones, and the store keeps
    its history and its rows."""
    import datetime as dt

    import pytest as _pytest

    from hybrid_nutrition_data_pipeline_batch_streaming_spark.streaming.upsert_sink import (
        ParquetUpsertStore,
    )

    t0 = dt.datetime(2024, 1, 1)
    t1 = t0 + dt.timedelta(hours=1)
    old_schema = "item_name string, ingestion_ts timestamp, data string, calories double"
    store = ParquetUpsertStore(
        spark, str(tmp_path / "strict"), key="item_name", ts_col="ingestion_ts",
        n_buckets=16,
    )
    store.merge(spark.createDataFrame([("item0", t0, "v1", 50.0)], old_schema))
    before = sorted(store.read().collect())

    def bucket(key):
        df = spark.createDataFrame([(key,)], "item_name string")
        return df.select(store._bucket()).first()[0]

    # a key whose bucket the store does not hold yet
    fresh = next(f"item{i}" for i in range(1, 100) if bucket(f"item{i}") != bucket("item0"))

    drifted = [
        # a stored double column arriving as string
        ("item_name string, ingestion_ts timestamp, data string, calories string",
         ("v2", "60.0")),
        # an added column
        (old_schema + ", label string", ("v2", 60.0, "organic")),
    ]
    for schema, values in drifted:
        for key in ("item0", fresh):
            with _pytest.raises(ValueError, match="schema"):
                store.merge(spark.createDataFrame([(key, t1, *values)], schema))
            assert store.history() == [1]
            assert sorted(store.read().collect()) == before


def test_stream_stream_left_outer_emits_nulls_after_watermark(spark, tmp_path):
    """Left-outer stream-stream join (J7/T6 completion): matched rows emit
    as they arrive; an UNMATCHED left row emits with nulls only once the
    watermark passes its join window — proven by feeding a second
    micro-batch whose far-future rows push the watermark, then draining.
    State for the emitted row is evicted (bounded-state contract)."""
    import datetime as dt

    lsrc = str(tmp_path / "left")
    rsrc = str(tmp_path / "right")
    ckpt = str(tmp_path / "ck")
    out = str(tmp_path / "out")
    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)

    def write(path, rows):
        spark.createDataFrame(rows, "user_id string, ts timestamp, v long") \
            .coalesce(1).write.mode("append").parquet(path)

    # batch 1: A has a matching right row 30 min earlier; B never matches.
    write(lsrc, [("A", t0, 1), ("B", t0, 2)])
    write(rsrc, [("A", t0 - dt.timedelta(minutes=30), 100)])

    def drain():
        left = (
            spark.readStream.schema("user_id string, ts timestamp, v long")
            .parquet(lsrc)
            .withWatermark("ts", "10 minutes")
        )
        right = (
            spark.readStream.schema("user_id string, ts timestamp, v long")
            .parquet(rsrc)
            .selectExpr("user_id AS r_user", "ts AS r_ts", "v AS r_v")
            .withWatermark("r_ts", "10 minutes")
        )
        joined = left.join(
            right,
            (F.col("user_id") == F.col("r_user"))
            & (F.col("r_ts") <= F.col("ts"))
            & (F.col("r_ts") >= F.col("ts") - F.expr("INTERVAL 1 HOUR")),
            "leftOuter",
        ).select("user_id", "ts", "r_ts", "r_v")
        q = (
            joined.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            (r.user_id, r.r_v)
            for r in spark.read.parquet(out).collect()
            if r.user_id in ("A", "B")
        }

    got = drain()
    assert ("A", 100) in got, "inner match must emit in the first drain"
    assert ("B", None) not in got, "null row must NOT emit before the watermark"

    # batch 2: far-future rows on BOTH sides push the global watermark past
    # B's join window; the checkpointed resume must now emit B's null row.
    t1 = t0 + dt.timedelta(days=10)
    write(lsrc, [("flush-l", t1, 0)])
    write(rsrc, [("flush-r", t1, 0)])
    got = drain()
    assert got == {("A", 100), ("B", None)}


def test_upsert_store_point_lookup_reads_only_key_buckets(spark, tmp_path):
    """read_keys is the Cassandra-PK read path: it must return exactly the
    LWW rows for the requested keys while opening ONLY the bucket dirs
    those keys hash to — never the whole store — and must honor time
    travel."""
    import datetime as _dt

    from hybrid_nutrition_data_pipeline_batch_streaming_spark.streaming.upsert_sink import (
        ParquetUpsertStore,
    )

    ts0 = _dt.datetime(2024, 1, 1)
    store = ParquetUpsertStore(
        spark,
        str(tmp_path / "pk"),
        key="item_name",
        ts_col="ingestion_ts",
        n_buckets=8,
    )
    schema = "item_name string, ingestion_ts timestamp, data string"
    store.merge(
        spark.createDataFrame(
            [(f"item{i}", ts0, f"v{i}") for i in range(40)], schema
        )
    )
    store.merge(
        spark.createDataFrame(
            [("item3", ts0 + _dt.timedelta(hours=1), "v3-new")], schema
        )
    )

    got = store.read_keys(["item3", "item17"])
    rows = {r.item_name: r.data for r in got.collect()}
    assert rows == {"item3": "v3-new", "item17": "v17"}

    # Pruning: the lookup's input files are a strict subset of the store's.
    all_files = set(store.read().inputFiles())
    hit_files = set(got.inputFiles())
    assert hit_files and hit_files < all_files

    # Time travel: version 1 predates the item3 update.
    v1 = {r.item_name: r.data for r in store.read_keys(["item3"], version=1).collect()}
    assert v1 == {"item3": "v3"}

    # Missing keys → empty result, not an error.
    assert store.read_keys(["nope"]).where("item_name = 'nope'").count() == 0


def test_events_stream_reads_directory_layout(spark, tmp_path):
    """read_events_stream must handle BOTH on-disk layouts: the driver
    fixtures ship events as a single FILE named events.parquet, while the
    scale generator (tools/make_scale_data.py) writes a DIRECTORY of part
    files under events.parquet/. The original reader glob-filtered leaf
    files by the name "events.parquet", which matched nothing inside the
    directory layout and yielded a silently EMPTY stream — caught as
    stream_topk_live rows=0 in the M=100 study. Pin: a directory-layout
    table streams every row, and the single-file fixture path still works."""
    import datetime as _dt

    rows = [
        (i, _dt.datetime(2024, 1, 1, i % 24), i % 7, "click", 1.0, "{}")
        for i in range(40)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string",
    )
    # Directory layout: events.parquet/ with multiple part files.
    df.repartition(3).write.parquet(str(tmp_path / "events.parquet"))
    got = run_to_memory(
        read_events_stream(spark, str(tmp_path)).groupBy("event_type").count(),
        output_mode="complete",
    )
    assert [(r["event_type"], r["count"]) for r in got.collect()] == [
        ("click", 40)
    ]
    # Single-file fixture layout still streams (regression guard on the
    # glob branch): the sf0.001 fixture row count must come through.
    n_fixture = spark.read.parquet(f"{SF}/events.parquet").count()
    got2 = run_to_memory(
        read_events_stream(spark, SF).groupBy().count(), output_mode="complete"
    )
    assert got2.collect()[0][0] == n_fixture


def test_events_stream_prefers_ordered_layout(spark, tmp_path):
    """ADVICE r7 (medium): the 1-hour stream_stream_join watermark is only
    safe under event-time-ordered file arrival, and the scale generator
    writes that layout to events_ordered.parquet — which r7 code never
    read. Pin: when events_ordered.parquet/ exists next to events.parquet,
    read_events_stream streams the ORDERED copy (detected here by giving
    the two layouts disjoint rows), and _events_file_schema probes it."""
    import datetime as _dt

    from hybrid_nutrition_data_pipeline_batch_streaming_spark.streaming.ingest import (
        _events_table_path,
    )

    mk = lambda n, et: [  # noqa: E731
        (i, _dt.datetime(2024, 1, 1, i % 24), i % 7, et, 1.0, "{}")
        for i in range(n)
    ]
    schema = (
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string"
    )
    spark.createDataFrame(mk(10, "stale"), schema).repartition(2).write.parquet(
        str(tmp_path / "events.parquet")
    )
    spark.createDataFrame(mk(25, "ordered"), schema).repartition(2).write.parquet(
        str(tmp_path / "events_ordered.parquet")
    )
    assert _events_table_path(str(tmp_path)).endswith("events_ordered.parquet")
    got = run_to_memory(
        read_events_stream(spark, str(tmp_path)).groupBy("event_type").count(),
        output_mode="complete",
    )
    assert [(r["event_type"], r["count"]) for r in got.collect()] == [
        ("ordered", 25)
    ]
    # Without the ordered layout the plain table resolves as before.
    assert _events_table_path(SF).endswith("events.parquet")


def test_session_windows_append_drain_boundary(spark, tmp_path):
    """stream_session_windows' r10 append-mode contract: after a full
    AvailableNow drain the emitted set is exactly the sessions whose end
    (last event + gap) is <= the final watermark (max event time - the
    2 h allowance) — end == watermark EMITS (boundary pinned; the oracle's
    HAVING uses <=), later-ending sessions stay in state. This is what
    bounds the state that complete mode kept forever (the M=100 OOM find,
    NOTES round 10)."""
    import datetime

    from hybrid_nutrition_data_pipeline_batch_streaming_spark.streaming.ingest import (
        read_events_stream,
        run_to_memory,
    )
    from hybrid_nutrition_data_pipeline_batch_streaming_spark.streaming.windows import (
        session_windows,
    )

    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
    mx = t0 + datetime.timedelta(hours=2, minutes=30)  # watermark = t0+30m
    rows = [
        (1, 100, t0, "click", 1.0),            # end t0+30m == wm → emits
        (2, 101, t0 + datetime.timedelta(seconds=1), "click", 1.0),
        #                                      ^ end wm+1s → held in state
        (3, 102, mx, "click", 1.0),            # the max-ts event → held
    ]
    d = str(tmp_path / "sf")
    spark.createDataFrame(
        rows,
        "user_id long, event_id long, ts timestamp_ntz, event_type string, value double",
    ).write.parquet(f"{d}/events.parquet")
    out = run_to_memory(
        session_windows(read_events_stream(spark, d)), output_mode="append"
    )
    assert {r.user_id for r in out.collect()} == {1}


def test_bounded_trigger_refuses_unordered_multifile_layout(spark, tmp_path):
    """ADVICE r10: stream_session_windows' bounded trigger advances the
    watermark in file-mtime order, so over an UNORDERED multi-file layout
    late rows would be dropped SILENTLY. The reader now enforces the
    documented precondition: bounded trigger + multi-file events.parquet
    with no event-time-ordered layout → loud refusal naming the fix; the
    same layout without the bound (single-batch drain) stays readable."""
    import datetime

    import pytest as _pytest

    from hybrid_nutrition_data_pipeline_batch_streaming_spark.streaming.ingest import (
        read_events_stream,
    )

    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        (i, 100 + i, t0 + datetime.timedelta(minutes=7 * i), "click", 1.0)
        for i in range(12)
    ]
    d = str(tmp_path / "sf")
    spark.createDataFrame(
        rows,
        "user_id long, event_id long, ts timestamp_ntz, event_type string, value double",
    ).repartition(3).write.parquet(f"{d}/events.parquet")
    import glob as _glob

    assert len(_glob.glob(f"{d}/events.parquet/*.parquet")) > 1  # the hazard shape

    with _pytest.raises(ValueError, match="event-time-ordered"):
        read_events_stream(spark, d, max_files_per_trigger=4)
    # Unbounded (one micro-batch) stays legal on the same layout.
    assert read_events_stream(spark, d).isStreaming


def test_session_windows_ordered_multifile_drain_matches_oracle(spark, tmp_path):
    """VERDICT r10 item 5 — the caveat as executable evidence: a MULTI-file
    event-time-ordered layout drained with the registered
    stream_session_windows plan (append mode, 4-files/batch bound, so the
    watermark advances MID-drain) emits exactly the batch oracle's
    watermark rule — sessions with end <= max_ts - 2 h — computed
    independently in Python."""
    import datetime
    import os as _os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hybrid_nutrition_data_pipeline_batch_streaming_spark import plans

    t0 = datetime.datetime(2024, 1, 1)
    gap = datetime.timedelta(minutes=30)
    rows = []  # (user_id, event_id, ts)
    eid = 0
    # Three users, sessions scattered over 10 hours; minute offsets keep
    # every inter-event diff unambiguous vs the 30-min gap.
    plan = {
        1: [0, 10, 45, 200, 210, 580],
        2: [5, 90, 95, 100, 590],
        3: [30, 31, 32, 300, 599],
    }
    for u, minutes in plan.items():
        for m in minutes:
            eid += 1
            rows.append((u, eid, t0 + datetime.timedelta(minutes=m)))
    rows.sort(key=lambda r: r[2])

    d = str(tmp_path / "sf")
    layout = f"{d}/events_ordered.parquet"
    _os.makedirs(layout)
    # Time-bucketed part files (2-hour buckets) with strictly increasing
    # mtimes — the contract gen_events_ordered writes at scale.
    buckets: dict[int, list] = {}
    for r in rows:
        buckets.setdefault(int((r[2] - t0).total_seconds() // 7200), []).append(r)
    for i, key in enumerate(sorted(buckets)):
        chunk = buckets[key]
        tbl = pa.table(
            {
                "user_id": pa.array([r[0] for r in chunk], pa.int64()),
                "event_id": pa.array([r[1] for r in chunk], pa.int64()),
                "ts": pa.array([r[2] for r in chunk], pa.timestamp("us")),
                "event_type": pa.array(["click"] * len(chunk)),
                "value": pa.array([1.0] * len(chunk)),
            }
        )
        p = f"{layout}/part-{i:04d}.parquet"
        pq.write_table(tbl, p)
        _os.utime(p, (1700000000 + i, 1700000000 + i))

    got = {
        (r.user_id, r.session_start, r.session_end, r.event_cnt)
        for r in plans.QUERIES["stream_session_windows"](spark, d).collect()
    }

    # Independent batch sessionization + the emission rule.
    max_ts = max(r[2] for r in rows)
    want = set()
    for u, minutes in plan.items():
        ts = sorted(t0 + datetime.timedelta(minutes=m) for m in minutes)
        sess: list[list] = [[ts[0]]]
        for t in ts[1:]:
            if t - sess[-1][-1] >= gap:
                sess.append([t])
            else:
                sess[-1].append(t)
        for s in sess:
            end = s[-1] + gap
            if end <= max_ts - datetime.timedelta(hours=2):
                want.add((u, s[0], end, len(s)))
    assert want  # the fixture must exercise real emissions
    assert got == want
