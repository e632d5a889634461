"""Driver-contract smoke + source-reader tests."""

from __future__ import annotations

import json
import os

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_driver_contract_shape(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["c_mktsegment", "order_cnt", "revenue"]

    qs, osql = e.queries(), e.oracle_sql()
    assert set(osql) <= set(qs), "oracle keys must be registered queries"
    assert len(qs) >= 50
    # Every callable takes (spark, sf_dir).
    sample = qs["scan_project"](spark, "/root/testdata/sf0.001")
    assert sample.count() > 0


def test_registry_priority_window():
    """The driver value-checks only the first 50 registered queries: that
    window must be exactly PRIORITY — 50 unique names, every one with an
    oracle EXCEPT the declared ROWS_ONLY_SEATS (r12: two standing rows-only
    driver rows for the genuinely non-SQL-expressible keys), covering all
    north-star operators."""
    from hybrid_nutrition_data_pipeline_batch_streaming_spark import plans

    names = list(plans.QUERIES)
    assert len(plans.PRIORITY) == 50
    assert len(set(plans.PRIORITY)) == 50
    assert tuple(names[:50]) == plans.PRIORITY
    assert all(
        n in plans.ORACLE or n in plans.ROWS_ONLY_SEATS for n in names[:50]
    )
    assert plans.ROWS_ONLY_SEATS <= set(plans.PRIORITY)
    # Round-12 freshness rotation (the standing policy documented above
    # PRIORITY): five core regressions stay pinned; rule 2 seats any query
    # whose plan/oracle changed this round; rule 3 spends the rest on the
    # OLDEST green rows (all 20 r4-age keys, then the first r5-age keys in
    # registry order until the window fills).
    core_regressions = {
        "flagship_revenue", "join_inner", "dedup_last_write",
        "pipeline_nutrition_e2e", "stream_tumbling_live",
    }
    assert core_regressions <= set(plans.PRIORITY)
    rotated_in = {
        # rule 2 sample: plan/oracle changed in r12 (corpus pair stage /
        # doc_tf consumers; the kcore peel rework; the hyperplane contract)
        "pipeline_corpus_build", "pipeline_drop_reasons",
        "graph_kcore", "similarity_ann_hyperplane_recall",
        "bm25_search", "tfidf_terms",
        # rule 2: plans changed in r13 (the chained pair generators)
        "graph_jaccard_sim", "dedup_ngram_jaccard", "dedup_ngram_jaccard_dfcut",
        # rule 3 sample: r4-age rows + the head of the r5-age cohort
        "sketch_bloom", "fk_audit", "geo_grid_hotspots",
        "join_asof_nearest", "dedup_incremental",
    }
    assert rotated_in <= set(plans.PRIORITY)


def test_rotation_is_self_auditing():
    """Driver-window insurance (VERDICT r3 item 7): every query that EVER
    earned a green driver CORRECTNESS row must stay registered with its
    oracle — a rotation that silently dropped one would hide a regression.
    Also: every current PRIORITY key must carry an oracle (the driver's
    hash gate is meaningless without one)."""
    import glob
    import json as _json

    from hybrid_nutrition_data_pipeline_batch_streaming_spark import plans

    assert set(plans.PRIORITY) - plans.ROWS_ONLY_SEATS <= set(plans.ORACLE)
    verified: set[str] = set()
    for path in sorted(glob.glob(os.path.join(REPO_ROOT, "CORRECTNESS_r*.json"))):
        for key, row in _json.load(open(path)).items():
            if (
                isinstance(row, dict)
                and row.get("rows_match")
                and row.get("schema_match")
            ):
                verified.add(key)
    assert verified, "no driver CORRECTNESS files found"
    missing_from_registry = verified - set(plans.QUERIES)
    assert not missing_from_registry, (
        f"driver-verified queries dropped from registry: {missing_from_registry}"
    )
    # Hash-verified keys must keep their oracle; keys whose driver row was
    # rows-only (hash_match None) legitimately live outside ORACLE.
    lost_oracle = {
        k
        for k in verified
        if k not in plans.ORACLE
        and k not in {"stream_stateful_totals"}  # rows-only by nature (T7)
        and k not in plans.ROWS_ONLY_SEATS  # standing rows-only seats (r12)
    }
    assert not lost_oracle, f"driver-verified queries lost oracles: {lost_oracle}"
    # VERDICT r4 item 7: cumulative driver-verified coverage must be
    # monotonically non-decreasing round over round — a rotation that put
    # already-verified keys back in the window (instead of burning down the
    # never-verified set) would stall or shrink coverage. ADVICE r5: count
    # only genuinely green rows (rows_match + schema_match), so a round of
    # hash-mismatching rows cannot satisfy the growth assertion.
    round_keysets: list[set[str]] = []
    for path in sorted(glob.glob(os.path.join(REPO_ROOT, "CORRECTNESS_r*.json"))):
        round_keysets.append({
            key
            for key, row in _json.load(open(path)).items()
            if isinstance(row, dict)
            and row.get("rows_match")
            and row.get("schema_match")
        })
    cumulative: set[str] = set()
    counts: list[int] = []
    for keys in round_keysets:
        cumulative |= keys
        counts.append(len(cumulative))
    # STRICT growth is required only while coverage is incomplete; once
    # every oracle-backed query is ever-green (the r8 endgame closed the
    # backlog at 304/304), rounds are freshness re-verification and the
    # cumulative count legitimately plateaus. A query ADDED this round
    # (in ORACLE, never green, but seated in the current window awaiting
    # its first driver run — e.g. mm_decode_ppm in r10) does not demote
    # the registry back to burn-down: coverage counts as complete when
    # every oracle-backed query is ever-green OR seated.
    full_coverage = set(plans.ORACLE) <= (cumulative | set(plans.PRIORITY))
    assert _coverage_history_ok(counts, full_coverage), (
        f"cumulative driver coverage stalled across rounds: {counts}"
    )
    # And the CURRENT window must use its slots well. Two phases:
    # - BURN-DOWN (never-verified backlog exceeds the window): at most the
    #   5 pinned core regressions may already be verified; every other
    #   slot must be new coverage.
    # - ENDGAME (VERDICT r7 item 1: backlog + core fits with room to
    #   spare): the window must seat the ENTIRE remaining backlog, and the
    #   leftover slots are legitimately re-verification of queries whose
    #   plans changed after their last driver row — not waste.
    already = _window_waste(plans.PRIORITY, round_keysets)
    prior = _prior_verified(plans.PRIORITY, round_keysets)
    backlog = [q for q in plans.ORACLE if q not in prior]
    if len(backlog) + 5 < len(plans.PRIORITY):
        unseated = [q for q in backlog if q not in plans.PRIORITY]
        assert not unseated, (
            f"endgame rotation leaves never-verified queries outside the "
            f"window: {unseated}"
        )
    else:
        assert len(already) <= 5, (
            f"rotation wastes window slots on already-verified keys: {already}"
        )


def _coverage_history_ok(counts: list[int], full_coverage: bool) -> bool:
    """Is the cumulative-coverage history legitimate?

    VERDICT r10 What's-wrong #1 / ADVICE r10: the old predicate compared
    every plateau to ``counts[-1]``, so a legitimate complete-coverage
    plateau (r8→r9 at 304) retroactively became an "early stall" the moment
    a LATER round registered new queries and pushed the final count past it
    (r10's mm_decode_ppm/path_counts_census → 306). A plateau says nothing
    about the registry as it existed THEN, so under full coverage the only
    history requirement is monotone non-decrease (new queries may raise the
    count at any later round); the seat-rule checks below audit the CURRENT
    window. While coverage is incomplete, strict growth is still required —
    a burn-down rotation must add new greens every round.
    """
    monotone = all(a <= b for a, b in zip(counts, counts[1:]))
    if full_coverage:
        return monotone
    return monotone and all(a < b for a, b in zip(counts, counts[1:]))


def test_coverage_history_predicate():
    """Regression for the r10 red suite: plateau→growth→plateau histories
    are legal under full coverage (new queries registered after a complete-
    coverage plateau must not retroactively flag it), while burn-down mode
    still demands strict growth."""
    # The exact history that broke r10's suite.
    r10_counts = [49, 72, 112, 157, 202, 247, 292, 304, 304, 306]
    assert _coverage_history_ok(r10_counts, full_coverage=True)
    # Plateau → growth → plateau is fine once coverage is complete.
    assert _coverage_history_ok([10, 20, 20, 25, 25, 25], full_coverage=True)
    # A shrink is never fine (cumulative counts cannot shrink; if they do,
    # the files were tampered with or mis-parsed).
    assert not _coverage_history_ok([10, 20, 19], full_coverage=True)
    assert not _coverage_history_ok([10, 20, 19], full_coverage=False)
    # Burn-down mode still requires strict growth.
    assert not _coverage_history_ok([10, 20, 20, 25], full_coverage=False)
    assert _coverage_history_ok([10, 20, 25], full_coverage=False)


def _prior_verified(priority, round_keysets):
    """Green keys from rounds that PRECEDE the current window (the newest
    file is excluded when it is this window's own result — same rule as
    _window_waste)."""
    rounds = list(round_keysets)
    if rounds and len(set(priority) & rounds[-1]) > len(priority) // 2:
        rounds = rounds[:-1]
    return set().union(*rounds) if rounds else set()


def _window_waste(priority, round_keysets):
    """Window slots spent on keys a PRIOR round already verified.

    ADVICE r5 / VERDICT r5 item 2: the newest CORRECTNESS file may be the
    driver's verification of the CURRENT window — committed after the
    rotation landed. That file is the *result* of this window, not evidence
    the window wastes slots, so exclude any trailing round whose green key
    set covers MOST of the window. The threshold is half the window (not a
    handful): in the freshness-rotation era a new window legitimately
    overlaps the previous round's file on the pinned core + rule-2 re-
    verifications, and a small overlap must NOT suppress that file — r8's
    results are real prior coverage, only a file that verified this very
    window (≈ all 50 keys) postdates the rotation.
    """
    rounds = list(round_keysets)
    if rounds and len(set(priority) & rounds[-1]) > len(priority) // 2:
        # The newest round verified (most of) this very window — it
        # postdates the rotation, so it can't indicate wasted slots.
        rounds = rounds[:-1]
    prior = set().union(*rounds) if rounds else set()
    return [q for q in priority if q in prior]


def test_window_waste_round_lifecycle():
    """Regression for the r5 round-end failure: the waste check must pass
    both immediately after a rotation (newest file = previous window) AND
    after the driver writes the current window's own results file."""
    window = tuple(f"q{i}" for i in range(50))  # q0..q4 = core regressions
    older_rounds = [{"q0", "q1", "q2", "q3", "q4", "old_a"}, {"old_b"}]
    # State 1: just after rotation — newest file is a previous window.
    assert _window_waste(window, older_rounds) == ["q0", "q1", "q2", "q3", "q4"]
    # State 2: round-end — the driver verified the current window itself.
    with_own_result = older_rounds + [set(window)]
    assert _window_waste(window, with_own_result) == [
        "q0", "q1", "q2", "q3", "q4",
    ]
    # A genuinely wasteful rotation is still caught in both states.
    wasteful = older_rounds + [{"q5", "q6", "q7", "q8", "q9", "q10"}, set(window)]
    assert len(_window_waste(window, wasteful)) > 5


def test_json_lines_permissive_quarantine(spark, tmp_path):
    from hybrid_nutrition_data_pipeline_batch_streaming_spark.sources.readers import (
        read_json_lines,
    )

    p = tmp_path / "raw.jsonl"
    p.write_text(
        "\n".join(
            [
                json.dumps({"item_name": "a", "calories": 1.5}),
                '{"item_name": "broken"',  # malformed → quarantined
                json.dumps({"item_name": "b", "calories": 2.5}),
            ]
        )
    )
    df = read_json_lines(
        spark,
        str(p),
        schema="item_name string, calories double, _corrupt_record string",
    )
    rows = df.collect()
    good = [r for r in rows if r._corrupt_record is None]
    bad = [r for r in rows if r._corrupt_record is not None]
    assert {r.item_name for r in good} == {"a", "b"}
    assert len(bad) == 1 and bad[0]._corrupt_record.startswith('{"item_name"')


def _kafka_available(spark) -> bool:
    try:
        (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", "localhost:9092")
            .option("subscribe", "probe")
            .load()
        )
        return True
    except Exception as ex:  # "Failed to find data source: kafka"
        assert "kafka" in str(ex).lower()
        return False


def test_kafka_source_builder_plan(spark):
    """S1 contract (`consume_items.py:21-35`): with the spark-sql-kafka
    package deployed, kafka_source yields a streaming frame with the
    (item_name string, ingestion_ts timestamp) projection; without it, the
    failure is the documented missing-package error at plan construction —
    never a silent fallback."""
    from hybrid_nutrition_data_pipeline_batch_streaming_spark.streaming.ingest import (
        kafka_source,
    )

    if _kafka_available(spark):
        df = kafka_source(spark, "localhost:9092", "foods_topic")
        assert df.isStreaming
        assert [(f.name, f.dataType.simpleString()) for f in df.schema.fields] == [
            ("item_name", "string"),
            ("ingestion_ts", "timestamp"),
        ]
    else:
        with pytest.raises(Exception, match="(?i)kafka"):
            kafka_source(spark, "localhost:9092", "foods_topic")


def test_kafka_sink_builder_plan(spark):
    """S2 contract (`produce_items.py:30-41`): the sink builder composes a
    DataStreamWriter (value cast + topic/brokers/checkpoint options) without
    starting it; format resolution — and hence the package requirement —
    surfaces at start()."""
    from pyspark.sql.streaming import DataStreamWriter

    from hybrid_nutrition_data_pipeline_batch_streaming_spark.streaming.ingest import (
        kafka_sink,
        read_events_stream,
    )

    stream = read_events_stream(spark, "/root/testdata/sf0.001").selectExpr(
        "event_type AS item_name"
    )
    writer = kafka_sink(stream, "localhost:9092", "foods_topic", "/tmp/ck-unused")
    assert isinstance(writer, DataStreamWriter)
    if not _kafka_available(spark):
        with pytest.raises(Exception, match="(?i)kafka"):
            writer.start()


def test_thrift_sql_endpoint_round_trip(spark):
    """S9 production form (the reference's ClickHouse/Superset socket,
    `superset_config.py:1-5`): start the embedded Thrift JDBC server, run a
    dashboard aggregate THROUGH the socket with the bundled Hive JDBC
    driver, and check it equals the same query run directly on the session."""
    from hybrid_nutrition_data_pipeline_batch_streaming_spark.serving import (
        jdbc_query,
        register_global_views,
        start_sql_endpoint,
    )

    register_global_views(spark, "/root/testdata/sf0.001")
    port = 10871
    server = start_sql_endpoint(spark, port=port)
    try:
        sql = (
            "SELECT o_orderpriority, COUNT(*) AS order_cnt "
            "FROM global_temp.orders GROUP BY o_orderpriority "
            "ORDER BY order_cnt DESC, o_orderpriority"
        )
        over_wire = jdbc_query(spark, sql, port=port)
        direct = [
            (r.o_orderpriority, str(r.order_cnt)) for r in spark.sql(sql).collect()
        ]
        assert over_wire == direct
        assert len(over_wire) == 5
    finally:
        server.stop()


def test_read_parquet_prunes_columns(spark):
    from hybrid_nutrition_data_pipeline_batch_streaming_spark.sources.readers import (
        read_parquet,
    )

    df = read_parquet(
        spark, "/root/testdata/sf0.001/orders.parquet", ["o_orderkey", "o_totalprice"]
    )
    assert df.columns == ["o_orderkey", "o_totalprice"]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "o_orderpriority" not in plan


def test_csv_round_trip_and_quarantine(spark, tmp_path):
    """CSV drop-zone contract: a clean round trip preserves values exactly,
    and a malformed row lands in _corrupt_record instead of failing the
    read (the reference's try/except row skip, as a reader mode)."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from hybrid_nutrition_data_pipeline_batch_streaming_spark.sources.readers import read_csv

    src = spark.read.parquet("/root/testdata/sf0.001/customer.parquet").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    path = str(tmp_path / "csv_clean")
    src.write.option("header", "true").csv(path)
    schema = StructType(
        [
            StructField("c_custkey", LongType()),
            StructField("c_name", StringType()),
            StructField("c_acctbal", DoubleType()),
        ]
    )
    back = read_csv(spark, path, schema=schema)
    assert sorted(map(tuple, back.select(src.columns).collect())) == sorted(
        map(tuple, src.collect())
    )

    bad = tmp_path / "csv_bad"
    bad.mkdir()
    (bad / "part.csv").write_text(
        "c_custkey,c_name,c_acctbal\n1,alice,10.5\nnot_a_number,bob\n2,carol,7.25\n"
    )
    qschema = StructType(
        [*schema.fields, StructField("_corrupt_record", StringType())]
    )
    rows = read_csv(spark, str(bad), schema=qschema).cache()
    good = rows.where(rows._corrupt_record.isNull())
    quarantined = rows.where(rows._corrupt_record.isNotNull())
    assert good.count() == 2 and quarantined.count() == 1
    assert "not_a_number" in quarantined.collect()[0]._corrupt_record


def test_orc_round_trip_prunes_columns(spark, tmp_path):
    """ORC interchange contract: values survive a round trip exactly and a
    projected read reaches the scan (column pruning), matching the parquet
    reader's behavior."""
    from hybrid_nutrition_data_pipeline_batch_streaming_spark.sources.readers import read_orc

    src = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    path = str(tmp_path / "orc")
    src.write.orc(path)
    back = read_orc(spark, path)
    assert sorted(map(tuple, back.select(src.columns).collect())) == sorted(
        map(tuple, src.collect())
    )
    pruned = read_orc(spark, path, columns=["n_nationkey", "n_name"])
    assert pruned.columns == ["n_nationkey", "n_name"]
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "n_comment" not in plan  # untouched column never reaches the scan


def test_python_stream_source_offsets_are_exact(spark, tmp_path):
    """The custom Python stream source must emit each id exactly once
    across micro-batches (row-counter offsets = the Kafka-offset contract)
    and stop at totalRows."""
    import time

    from hybrid_nutrition_data_pipeline_batch_streaming_spark.sources.items_source import (
        item_name_for,
        register,
    )

    register(spark)
    stream = (
        spark.readStream.format("nutrition_items")
        .option("rowsPerBatch", 300)
        .option("totalRows", 1000)
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("pysource_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            if spark.sql("SELECT COUNT(*) c FROM pysource_stream").first().c >= 1000:
                break
            time.sleep(1)
    finally:
        q.stop()
        q.awaitTermination()

    rows = spark.sql("SELECT item_id, item_name FROM pysource_stream").collect()
    ids = sorted(r.item_id for r in rows)
    assert ids == list(range(1000))  # every id exactly once — no gap, no dup
    # Content equals the deterministic generator (spot-check the ends).
    by_id = {r.item_id: r.item_name for r in rows}
    assert by_id[0] == item_name_for(0)
    assert by_id[999] == item_name_for(999)


def test_producer_to_store_full_reference_loop(spark, tmp_path):
    """The reference's whole transport — producer loop → Kafka → consumer →
    REST enrich → Cassandra upsert — as ONE Spark streaming pipeline:
    Python DataSource (producer) → mapInPandas enrichment (consumer) →
    keyed LWW store (raw layer). Every boundary is the engine's own
    component; the result must hold one enriched row per produced item."""
    import datetime

    from pyspark.sql import functions as F

    from hybrid_nutrition_data_pipeline_batch_streaming_spark.functions.enrichment import (
        enrich_from_api,
    )
    from hybrid_nutrition_data_pipeline_batch_streaming_spark.sources.items_source import (
        register,
    )
    from hybrid_nutrition_data_pipeline_batch_streaming_spark.streaming.upsert_sink import (
        ParquetUpsertStore,
    )

    register(spark)
    stream = (
        spark.readStream.format("nutrition_items")
        .option("rowsPerBatch", 120)
        .option("totalRows", 240)
        .load()
    )
    ts0 = datetime.datetime(2024, 1, 1)
    enriched = enrich_from_api(stream, name_col="item_name").withColumn(
        "ingestion_ts",
        # Deterministic event time derived from the id — wall clock would
        # make reruns diverge.
        F.lit(ts0) + F.make_interval(secs=F.col("item_id")),
    )
    store = ParquetUpsertStore(
        spark, str(tmp_path / "raw"), key="item_id", ts_col="ingestion_ts",
        n_buckets=4,
    )
    # The paced source keeps "producing" across micro-batches (one
    # latestOffset step each), so drive a continuous trigger and stop once
    # the id space is drained — availableNow would stop after the first
    # offset step, like a Kafka consumer started with no backlog.
    import time

    q = (
        enriched.writeStream.foreachBatch(lambda b, _id: store.merge(b))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            snap = store.read()
            if snap is not None and snap.count() >= 240:
                break
            time.sleep(1)
    finally:
        q.stop()
        q.awaitTermination()

    rows = store.read().collect()
    assert len(rows) == 240  # one row per produced id (upsert key = id)
    sample = {r.item_id: r for r in rows}[7]
    assert sample.item_name and sample.data.startswith("[{")  # enriched JSON
    # Two micro-batches were merged; the store is at version 2 with history.
    assert store.history()[-1] >= 2


def test_python_stream_source_available_now_full_drain(spark, tmp_path):
    """drain=all advertises the whole totalRows backlog at query start, so a
    single Trigger.AvailableNow run consumes EVERY offset — the bounded
    batch-drain mode (T5). The default paced mode stops after one
    rowsPerBatch step under the same trigger (the backlog at start)."""
    from hybrid_nutrition_data_pipeline_batch_streaming_spark.sources.items_source import (
        item_name_for,
        register,
    )

    register(spark)
    full = (
        spark.readStream.format("nutrition_items")
        .option("rowsPerBatch", 100)
        .option("totalRows", 750)
        .option("drain", "all")
        .load()
    )
    q = (
        full.writeStream.format("memory")
        .queryName("pysource_drain_all")
        .option("checkpointLocation", str(tmp_path / "ckpt_all"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT item_id, item_name FROM pysource_drain_all").collect()
    assert sorted(r.item_id for r in rows) == list(range(750))  # full drain, no dup
    assert {r.item_name for r in rows if r.item_id == 0} == {item_name_for(0)}

    paced = (
        spark.readStream.format("nutrition_items")
        .option("rowsPerBatch", 100)
        .option("totalRows", 750)
        .load()
    )
    q2 = (
        paced.writeStream.format("memory")
        .queryName("pysource_paced")
        .option("checkpointLocation", str(tmp_path / "ckpt_paced"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    n = spark.sql("SELECT COUNT(*) c FROM pysource_paced").first().c
    assert n == 100  # paced: one offset step was the backlog at start


def test_python_stream_source_restart_resumes_from_checkpoint(spark, tmp_path):
    """ADVICE r2: after a restart the fresh reader's in-memory pacing
    counter starts at 0 — behind the checkpointed committed offset. The
    counter is re-anchored from the engine-supplied offsets, so the resumed
    query continues producing NEW ids instead of stalling on empty/invalid
    ranges. (Parquet sink: the memory sink cannot recover a checkpoint.)"""
    import time

    from hybrid_nutrition_data_pipeline_batch_streaming_spark.sources.items_source import (
        register,
    )

    register(spark)
    out = str(tmp_path / "out")

    def read_ids():
        try:
            return sorted(
                r.item_id for r in spark.read.parquet(out).collect()
            )
        except Exception:
            return []

    def run_until(target):
        stream = (
            spark.readStream.format("nutrition_items")
            .option("rowsPerBatch", 100)
            .option("totalRows", 600)
            .load()
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(processingTime="0 seconds")
            .start()
        )
        try:
            deadline = time.time() + 120
            while time.time() < deadline:
                if len(read_ids()) >= target:
                    break
                time.sleep(0.5)
        finally:
            q.stop()
            q.awaitTermination()
        return read_ids()

    got_first = run_until(200)
    assert len(got_first) >= 200 and got_first[0] == 0

    # Restart against the same checkpoint: a FRESH reader instance must pick
    # up AFTER the committed offset (producing ids we never saw), not stall
    # on empty/invalid ranges or replay committed ones.
    high_water = got_first[-1]
    got_second = run_until(len(got_first) + 100)
    assert len(got_second) > len(got_first), (
        "restarted query produced nothing — latestOffset stalled behind the "
        "checkpointed offset"
    )
    assert got_second[-1] > high_water  # strictly new ids were produced
    assert got_second == list(range(len(got_second)))  # no gap, no dup


def test_oracle_queries_return_driver_hashable_schemas(spark):
    """Meta-guard for the whole registry: the driver's canonicalizer
    factorizes column values with pandas, which dies on array/map/struct
    cells and cannot order NullType — and duplicate column names break its
    sort-columns-by-name compare. Every ORACLE-backed query must therefore
    ship only scalar, concretely-typed, uniquely-named top-level columns.
    The same holds for the rows-only WINDOW seats (VERDICT r12 item 1: the
    driver's rows-only path still SORTS the frame in pandas, and
    mm_decode_features' raw array column crashed that sort — the r12 seat
    produced no row at all), so they are checked here too. Catching this at
    plan time costs seconds; catching it in CORRECTNESS_r{N}.json costs a
    round."""
    from pyspark.sql import types as T

    from hybrid_nutrition_data_pipeline_batch_streaming_spark import plans
    from hybrid_nutrition_data_pipeline_batch_streaming_spark.plans import (
        ROWS_ONLY_SEATS,
    )

    banned = (T.ArrayType, T.MapType, T.StructType, T.NullType)
    bad: list[str] = []
    for name in list(plans.ORACLE) + sorted(ROWS_ONLY_SEATS):
        if name.startswith("stream_"):
            continue  # streaming plans need a running query to resolve
        schema = plans.QUERIES[name](spark, "/root/testdata/sf0.001").schema
        cols = [f.name for f in schema.fields]
        if len(set(cols)) != len(cols):
            bad.append(f"{name}: duplicate columns {cols}")
        for f in schema.fields:
            if isinstance(f.dataType, banned):
                bad.append(f"{name}.{f.name}: {f.dataType.simpleString()}")
    assert not bad, f"driver-unhashable outputs: {bad}"


def test_binary_file_source_feeds_multimodal(spark, tmp_path):
    """Real binary-file ingestion for the multimodal family (X4): raw
    payload files land in a drop zone, `binaryFile` reads (path, length,
    content) with a pushed path-glob filter, and the bytes flow into the
    same attach/decode plumbing the synthesized payloads use."""
    import os

    drop = tmp_path / "payloads"
    os.makedirs(drop)
    blobs = {f"clip_{i}.bin": bytes(range(i, i + 40)) * 5 for i in range(4)}
    for name, b in blobs.items():
        (drop / name).write_bytes(b)
    (drop / "ignore.txt").write_text("not a payload")

    from pyspark.sql import functions as F

    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(str(drop))
    )
    rows = {
        os.path.basename(r.path): (r.length, bytes(r.content))
        for r in df.collect()
    }
    assert set(rows) == set(blobs)
    for name, b in blobs.items():
        assert rows[name] == (len(b), b)
    # The payload column is a first-class binary column: hash/length
    # metadata computes JVM-side exactly as attach_payload does.
    meta = df.select(
        F.md5("content").alias("h"), F.length("content").alias("n")
    ).collect()
    assert all(m.n == 200 for m in meta)


def test_package_ships_to_workers_for_any_cwd(spark):
    """VERDICT r6 "What's wrong #1": Python data-source worker processes
    re-import the package and must resolve it without the driver's cwd /
    sys.path inserts. ensure_package_on_workers ships a zip via addPyFile
    (executor-side workers) AND points the per-function PYTHONPATH at it
    (driver-side planner/streaming runners). Pin the mechanism here; the
    end-to-end scratch-cwd repro is test_wire_source_streams_from_scratch_cwd."""
    import zipfile

    from hybrid_nutrition_data_pipeline_batch_streaming_spark.session import (
        ensure_package_on_workers,
    )

    ensure_package_on_workers(spark)
    sc = spark.sparkContext
    zips = [f for f in sc._python_includes if f.endswith("-pyfiles.zip")]
    assert zips, f"package zip not in python includes: {sc._python_includes}"
    pypath = sc.environment.get("PYTHONPATH", "")
    entry = next(
        (p for p in pypath.split(os.pathsep) if p.endswith(zips[0])), None
    )
    assert entry and os.path.exists(entry), (
        f"PYTHONPATH does not point at the shipped zip: {pypath!r}"
    )
    with zipfile.ZipFile(entry) as zf:
        names = zf.namelist()
    pkg = "hybrid_nutrition_data_pipeline_batch_streaming_spark"
    assert f"{pkg}/sources/wire_source.py" in names
    assert f"{pkg}/sources/items_source.py" in names
    # Idempotent: a second call must not duplicate includes or env entries.
    ensure_package_on_workers(spark)
    assert sc._python_includes.count(zips[0]) == 1
    # ADVICE r7: the zip is CONTENT-addressed, not pid-keyed — a fresh
    # driver process with identical sources must resolve the SAME path
    # (no per-pid /tmp accumulation, no pid-reuse staleness). Simulate the
    # fresh process by clearing the per-app memo and re-shipping.
    import re

    import hybrid_nutrition_data_pipeline_batch_streaming_spark.session as _sess

    assert re.search(r"-[0-9a-f]{16}-pyfiles\.zip$", entry), entry
    _sess._PKG_SHIPPED.clear()
    try:
        ensure_package_on_workers(spark)
    finally:
        _sess._PKG_SHIPPED.add(sc.applicationId)
    zips2 = [f for f in sc._python_includes if f.endswith("-pyfiles.zip")]
    assert set(zips2) == {zips[0]}, zips2
    assert sc._python_includes.count(zips[0]) == 1


def test_wire_source_streams_from_scratch_cwd(tmp_path):
    """End-to-end repro of the r6 import-path coupling: a driver process
    whose cwd is NOT the repo root (package importable only via a sys.path
    insert) must still run the Python streaming data source — the
    streaming planner runner unpickles the DataSource in a separate
    process that inherits neither cwd nor sys.path."""
    import subprocess
    import sys as _sys
    import textwrap

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {repo!r})
        from pyspark.sql import SparkSession
        spark = (
            SparkSession.builder.master("local[2]")
            .config("spark.ui.enabled", "false")
            .config("spark.sql.shuffle.partitions", "2")
            .getOrCreate()
        )
        from hybrid_nutrition_data_pipeline_batch_streaming_spark.sources.items_source import register
        register(spark)
        df = (
            spark.readStream.format("nutrition_items")
            .option("totalRows", 6).option("rowsPerBatch", 3)
            .option("drain", "all").load()
        )
        q = (
            df.writeStream.format("memory").queryName("t")
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        n = spark.sql("select count(*) c from t").collect()[0].c
        assert n == 6, n
        print("SCRATCH_CWD_OK", n)
        """
    )
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # the driver must not inherit the repo path
    proc = subprocess.run(
        [_sys.executable, "-c", script],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    assert "SCRATCH_CWD_OK 6" in proc.stdout


@pytest.mark.parametrize("session", ["engine", "foreign"])
def test_udf_query_runs_from_scratch_cwd(tmp_path, sf_dir, session):
    """A query that registers no data source but runs package code in a
    Python worker (``pipeline_corpus_build``'s applyInPandas packing) must
    work from a driver whose cwd is not the repo root. The package reaches
    the workers only if the session shipped it: ``get_spark`` ("engine")
    and ``ensure_runtime_conf`` (reached via the catalog on a "foreign"
    session the engine did not build) both do."""
    import subprocess
    import sys as _sys
    import textwrap

    build = {
        "engine": "from hybrid_nutrition_data_pipeline_batch_streaming_spark"
        ".session import get_spark\n"
        "spark = get_spark(master='local[2]', shuffle_partitions=2)",
        "foreign": "from pyspark.sql import SparkSession\n"
        "spark = (SparkSession.builder.master('local[2]')"
        ".config('spark.ui.enabled', 'false').getOrCreate())",
    }[session]
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO_ROOT!r})
        {{build}}
        from hybrid_nutrition_data_pipeline_batch_streaming_spark.plans import QUERIES
        n = QUERIES["pipeline_corpus_build"](spark, {sf_dir!r}).count()
        assert n > 0, n
        print("UDF_SCRATCH_CWD_OK", n)
        """
    ).replace("{build}", build)
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # the driver must not inherit the repo path
    env["SPARK_DRIVER_MEMORY"] = "1g"
    proc = subprocess.run(
        [_sys.executable, "-c", script],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-3000:]
    assert "UDF_SCRATCH_CWD_OK" in proc.stdout


def test_package_environment_options_are_allowlisted():
    """Every environment variable and engine Spark-conf key
    (``spark.hybridnutrition.*``) the package reads is an option someone
    has to know about: adding one must be a deliberate edit to these lists.
    Every ``os.environ`` / ``getenv`` read must name its variable as a
    string literal, so the scan below is complete."""
    import re

    allowed = {
        "SPARK_GRAFT_SF_DIR",
        "SPARK_GRAFT_CPUS",
        "SPARK_DRIVER_MEMORY",
        "SPARK_GRAFT_CHECKPOINT_DIR",
        "TEST_ORACLE_SF_DIR",
    }
    access = re.compile(r"\benviron\b|\bgetenv\b")
    literal = re.compile(
        r"""\benviron(?:\.get|\.setdefault|\.pop)?\s*[(\[]\s*["']([A-Za-z0-9_]+)["']"""
        r"""|\bgetenv\s*\(\s*["']([A-Za-z0-9_]+)["']"""
    )
    conf_key = re.compile(r"""["'](spark\.hybridnutrition\.[A-Za-z0-9_.]+)["']""")
    pkg = os.path.join(REPO_ROOT, "hybrid_nutrition_data_pipeline_batch_streaming_spark")
    read, unnamed, conf_keys = set(), [], set()
    for root, _dirs, files in os.walk(pkg):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            with open(path, encoding="utf-8") as fh:
                src = fh.read()
            names = [a or b for a, b in literal.findall(src)]
            conf_keys.update(conf_key.findall(src))
            read.update(names)
            if len(access.findall(src)) != len(names):
                unnamed.append(os.path.relpath(path, REPO_ROOT))
    assert not unnamed, f"environment read without a literal name in {unnamed}"
    assert read == allowed
    assert conf_keys == set()
