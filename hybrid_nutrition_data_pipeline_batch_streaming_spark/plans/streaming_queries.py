"""Streaming queries exposed through the driver contract (SURVEY.md §2.9).

Each runs a REAL Structured Streaming query (file source → transformations →
memory sink) to completion with Trigger.AvailableNow, then returns the
materialized result.

``stream_tumbling_live`` carries a full DuckDB oracle: with complete output
mode and AvailableNow, the final windowed aggregate must equal the batch
grouping — the hybrid batch/stream parity the reference architecture claims
(`README.md:7-19`) but never verifies. The others are order-dependent
(first-seen dedup) and registered rows-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..streaming.ingest import dedup_stream, read_events_stream, run_to_memory
from ..streaming.stateful import stateful_user_totals
from ..streaming.windows import session_windows, tumbling_counts, tumbling_type_counts
from .registry import query


@query(
    "stream_tumbling_live",
    oracle="""
    SELECT make_timestamp((epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000)
                          * 3600000000) AS bucket_start,
           COUNT(*) AS event_cnt,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1
    """,
)
def stream_tumbling_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window aggregation over a live stream (T6),
    value-checked against the batch oracle: stream-batch parity, exactly."""
    stream = read_events_stream(spark, sf_dir)
    windowed = tumbling_counts(stream, "1 hour", "2 hours")
    return run_to_memory(windowed, output_mode="complete")


@query("stream_dedup_state")
def stream_dedup_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup (T4/T7): first event per (user_id,
    event_type) with watermark-bounded state. First-seen depends on arrival
    order → rows-only check."""
    stream = read_events_stream(spark, sf_dir)
    deduped = dedup_stream(
        stream.withColumn("ts", F.col("ts").cast("timestamp")),
        ["user_id", "event_type"],
        watermark=("ts", "1 hour"),
    )
    return run_to_memory(deduped)


@query(
    "stream_session_windows",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR epoch_us(CAST(ts AS TIMESTAMP))
                            - LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER w
                            >= 1800000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), tagged AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM ordered
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS event_cnt
    FROM tagged
    GROUP BY user_id, session_id
    HAVING MAX(ts) + INTERVAL 30 MINUTE
           <= (SELECT MAX(CAST(ts AS TIMESTAMP)) FROM events)
              - INTERVAL 2 HOUR
    """,
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows per user with a 30-minute inactivity gap (T6) —
    variable-length event-time state, watermark-bounded, APPEND mode.

    Value-checked: session boundaries depend only on event time (never on
    arrival order), so the drained result equals batch gaps-and-islands
    sessionization RESTRICTED to watermark-finalized sessions — the
    oracle's HAVING mirrors the emission rule exactly (a session emits
    once the final watermark, max event time minus the 2 h allowance,
    reaches its end; end == watermark EMITS — boundary pinned empirically
    and in tests/test_streaming.py). Spark merges an event into a session
    while ``ts < window_end``, so a new session starts at gap >= 30 min
    exactly; ``session_end`` is last event ts + gap. Sessions still open
    at the final watermark stay in state for the next drain, exactly as a
    production incremental run wants.

    Round-10 scale fix: this ran in COMPLETE mode through r9 (the only
    way to emit every session on a one-batch fixture before the no-data
    final batch was relied on) — which keeps a DATA-SCALE aggregate in
    the state store forever and rewrites the whole result to the sink
    every micro-batch: unbounded state by construction, found dead (Java
    heap OOM at 8 g) by this round's first-ever M=100 streaming sweep.
    Append mode alone still OOMed: without a trigger bound the file
    source hands ALL part files to batch 1, the watermark never advances
    mid-drain, and the whole corpus's session state builds at once. The
    shipped plan therefore also bounds the trigger (4 files/batch — the
    r8 stream_stream_join study recipe): multi-file scale layouts drain
    in ~n_files/4 watermark-advancing batches with state bounded to the
    open-session horizon, single-file driver fixtures are one batch as
    before, and Spark's final no-data micro-batch flushes the closed
    tail, so the emitted set is deterministic across layouts. The
    late-row caveat is ENFORCED since r11 (ADVICE r10): the reader
    prefers the event-time-ordered layout where the generator wrote one
    and REFUSES a bounded trigger over an unordered multi-file layout
    (silent late-row drops are the one corruption mode of this plan);
    tests/test_streaming.py drains an ordered multi-file layout against
    an independent in-test oracle as the executable evidence."""
    stream = read_events_stream(spark, sf_dir, max_files_per_trigger=4)
    return run_to_memory(session_windows(stream), output_mode="append")


@query(
    "stream_stream_join",
    oracle="""
    WITH p AS (
        SELECT event_id AS purchase_id, user_id, CAST(ts AS TIMESTAMP) AS p_ts
        FROM events WHERE event_type = 'purchase'
    ), s AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS s_ts, value AS signup_value
        FROM events WHERE event_type = 'signup'
    )
    SELECT p.purchase_id, p.user_id, p.p_ts, s.s_ts, s.signup_value
    FROM p JOIN s
      ON p.user_id = s.user_id
     AND s.s_ts <= p.p_ts
     AND s.s_ts >= p.p_ts - INTERVAL 3 DAY
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (J7/T6): purchases join signups of the
    same user within a 3-day lookback, both sides watermarked so join state
    is evicted once the watermark passes the interval — the bounded-state
    requirement for joining two unbounded streams. Inner-join matches emit
    as they arrive, so the drained AvailableNow result equals the batch
    interval join — value-checked against it.

    State sizing (measured, M=100 ordered 10-file/4 drain — SCALE.md):
    steady-state rows ≈ arrival_rate × (join_interval + min-side watermark
    + one batch of eviction granularity). The signup watermark is 1 hour —
    symmetric with the purchase side — because the watermark buys LATE-DATA
    tolerance only; the 3-day join lookback is already encoded in the join
    condition and Spark derives signup retention (s_ts ≥ wm − 3d) from it.
    The r2-r6 setting of 4 days double-counted the interval into the
    watermark and held ~1.7× the state (1.23 M rows/508 MB vs 707 k/337 MB
    at M=100) for no extra matches. Correctness requires roughly in-order
    arrival across micro-batches (Kafka's per-partition contract; for the
    file-source stand-in, time-bucketed files in mtime order) — with
    full-span unordered files ANY finite watermark drops late rows, which
    is the documented trade of watermarking itself. The reader enforces
    the precondition where it can: ``read_events_stream`` streams the
    mtime-ordered ``events_ordered.parquet`` layout whenever the generator
    wrote one (ingest._events_table_path), and the driver fixtures are
    single-file (one micro-batch — ordering moot)."""
    events = read_events_stream(spark, sf_dir)
    p = (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").cast("timestamp").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    s = (
        read_events_stream(spark, sf_dir)
        .where(F.col("event_type") == "signup")
        .select(
            F.col("user_id").alias("s_user_id"),
            F.col("ts").cast("timestamp").alias("s_ts"),
            F.col("value").alias("signup_value"),
        )
        .withWatermark("s_ts", "1 hour")
    )
    joined = p.join(
        s,
        (F.col("user_id") == F.col("s_user_id"))
        & (F.col("s_ts") <= F.col("p_ts"))
        & (F.col("s_ts") >= F.col("p_ts") - F.expr("INTERVAL 3 DAY")),
    ).select(
        "purchase_id",
        "user_id",
        F.col("p_ts").cast("timestamp_ntz").alias("p_ts"),
        F.col("s_ts").cast("timestamp_ntz").alias("s_ts"),
        "signup_value",
    )
    return run_to_memory(joined)


@query(
    "stream_stateful_totals",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS event_cnt,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY user_id
    """,
)
def stream_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (T7/U4): applyInPandasWithState per-user
    accumulation (integer-cents state, so the total is exact regardless of
    accumulation order). In update output mode the memory sink appends one
    row per user per micro-batch; the final reduction below keeps only each
    user's LAST update (max event_cnt — the count is monotonic per key), so
    the result equals the exact batch aggregate even if the AvailableNow
    drain takes multiple micro-batches — stateful-stream/batch parity,
    value-checked."""
    from pyspark.sql.window import Window

    stream = read_events_stream(spark, sf_dir)
    sunk = run_to_memory(stateful_user_totals(stream), output_mode="update")
    w = Window.partitionBy("user_id").orderBy(F.desc("event_cnt"))
    return (
        sunk.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )


@query(
    "stream_static_enrich",
    oracle="""
    SELECT c.c_mktsegment AS segment,
           COUNT(*) AS event_cnt,
           CAST(SUM(CAST(e.value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY 1
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast enrichment (S7/T6 hybrid — the canonical
    production shape the reference implements as a per-record REST call,
    `consumer/consume_items.py:64-88`): a live event stream inner-joins a
    static dimension and aggregates per segment. The static side is
    broadcast, so the join is stateless and map-side — no streaming state
    beyond the final aggregation, and each micro-batch touches only its own
    files. Value-checked: with complete output mode and AvailableNow, the
    drained aggregate must equal the batch join+groupBy — stream-batch
    parity over an enrichment join. Sum is decimal-exact, cast to double
    only at the edge (the engine's float-parity discipline).
    """
    from ..catalog import Catalog

    cat = Catalog(spark, sf_dir)
    dim = cat.customer.select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
    )
    stream = read_events_stream(spark, sf_dir)
    enriched = stream.join(F.broadcast(dim), "user_id")
    agg = enriched.groupBy("segment").agg(
        F.count("*").alias("event_cnt"),
        F.sum(F.col("value").cast("decimal(12,2)"))
        .cast("double")
        .alias("total_value"),
    )
    return run_to_memory(agg, output_mode="complete")


@query(
    "stream_sliding_live",
    oracle="""
    SELECT CAST(date_trunc('hour', ts) - o * INTERVAL 1 HOUR AS TIMESTAMP)
               AS bucket_start,
           COUNT(*) AS event_cnt
    FROM events, UNNEST([0, 1]) AS t(o)
    GROUP BY 1
    """,
)
def stream_sliding_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked SLIDING-window aggregation over a live stream (T6's
    overlapping-window form): 2 h windows sliding by 1 h, so every event is
    counted in exactly two buckets. Complete-mode drain equals the batch
    assignment arithmetic (each event's windows start at trunc_hour(t) and
    trunc_hour(t) − 1 h) — stream-batch parity for the third window type,
    beside tumbling (stream_tumbling_live) and session
    (stream_session_windows). State is bounded by watermark × slide count."""
    from ..streaming.windows import sliding_counts

    stream = read_events_stream(spark, sf_dir)
    return run_to_memory(
        sliding_counts(stream, "2 hours", "1 hour", "2 hours"),
        output_mode="complete",
    )


@query(
    "stream_topk_live",
    oracle="""
    WITH counts AS (
        SELECT make_timestamp((epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000)
                              * 3600000000) AS bucket_start,
               event_type, COUNT(*) AS cnt
        FROM events
        GROUP BY 1, 2
    ), ranked AS (
        SELECT bucket_start, event_type, cnt,
               ROW_NUMBER() OVER (
                   PARTITION BY bucket_start
                   ORDER BY cnt DESC, event_type
               ) AS rnk
        FROM counts
    )
    SELECT bucket_start, event_type, cnt, CAST(rnk AS INT) AS rnk
    FROM ranked
    WHERE rnk <= 3
    """,
)
def stream_topk_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed heavy-hitters ("trending types") over a LIVE stream (T6):
    the stream maintains per-(hour-bucket, event_type) counters — linear,
    watermark-bounded state — and the top-3 rank per bucket is applied to
    the drained complete-mode result, where every window is final. Ranks
    are deterministic under ties (cnt DESC, then event_type), so the
    live-stream answer equals the batch oracle exactly — the same
    stream/batch parity contract as stream_tumbling_live, extended to a
    two-stage (streaming agg → batch rank) topology.

    At 100 TB-rate streams the per-window type domain is the state bound
    (not the event rate); for unbounded domains swap the exact counter for
    sketch_countmin's merge layout — same bucketed shape."""
    stream = read_events_stream(spark, sf_dir)
    counts = tumbling_type_counts(stream, "1 hour", "2 hours")
    drained = run_to_memory(counts, output_mode="complete")
    w = Window.partitionBy("bucket_start").orderBy(
        F.col("cnt").desc(), F.col("event_type")
    )
    return (
        drained.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("bucket_start", "event_type", "cnt", "rnk")
    )


@query(
    "stream_user_growth_live",
    oracle="""
    WITH firsts AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS d
        FROM events GROUP BY user_id
    ), newby AS (
        SELECT d, CAST(COUNT(*) AS BIGINT) AS new_users
        FROM firsts GROUP BY d
    )
    SELECT d, new_users,
           CAST(SUM(new_users) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED
                PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
    FROM newby
    """,
)
def stream_user_growth_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audience-growth curve computed LIVE (the streaming closure of
    ``plans/engagement.py::running_distinct``): a streaming per-user MIN
    first-active-day aggregate (complete mode — per-user state, min is
    arrival-order independent, so the drained state equals the batch
    answer no matter how micro-batches split), then the calendar-bounded
    batch rollup over the drained state: per-day new-user counts and the
    cumulative curve. The state size is one row per user — the same
    first-seen decomposition that makes the batch form scale replaces
    unbounded distinct-count state in the stream."""
    stream = read_events_stream(spark, sf_dir)
    firsts = (
        stream.select("user_id", F.to_date("ts").alias("day"))
        .groupBy("user_id")
        .agg(F.min("day").alias("d"))
    )
    drained = run_to_memory(firsts, output_mode="complete")
    newby = drained.groupBy("d").agg(F.count("*").alias("new_users"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return newby.withColumn(
        "cum_users", F.sum("new_users").over(w).cast("long")
    )


#: The CUSUM change-point oracle shared by ``stream_cusum_live`` and the
#: batch ``cusum_changepoint`` (plans/engagement.py): the live detector must
#: land exactly on the batch answer.
CUSUM_SQL = """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    ), tot AS (
        SELECT event_type,
               CAST(SUM(c) AS BIGINT)   AS t,
               CAST(COUNT(*) AS BIGINT) AS nd
        FROM daily GROUP BY event_type
    ), cus AS (
        SELECT daily.event_type, d, c, t, nd,
               CAST(SUM(c * nd - t) OVER (
                   PARTITION BY daily.event_type ORDER BY d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS s_scaled
        FROM daily JOIN tot USING (event_type)
    ), ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY event_type ORDER BY ABS(s_scaled) DESC, d ASC) AS rk
        FROM cus
    )
    SELECT event_type,
           d        AS changepoint_day,
           c        AS day_events,
           s_scaled AS max_dev_scaled,
           t        AS total_events,
           nd       AS n_days,
           ABS(s_scaled) > 2 * t AS shifted
    FROM ranked WHERE rk = 1
    """


def cusum(daily: DataFrame) -> DataFrame:
    """CUSUM change point per event type over (event_type, d, c) daily
    counts: S_d·nd = Σ_{i≤d} (c_i·nd − total), scaled by n_days to stay in
    exact BIGINT math; the peak |S| day (earliest on ties) is the change
    point, flagged ``shifted`` past twice the mean. Per-type totals come
    from an UNBOUNDED window over the same partition key instead of an
    aggregate joined back, so all three windows (totals, CUSUM, argmax
    rank) share one event_type exchange."""
    w_all = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    w_cus = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cus = (
        daily.withColumn("t", F.sum("c").over(w_all).cast("long"))
        .withColumn("nd", F.count("*").over(w_all))
        .withColumn(
            "s_scaled",
            F.sum(F.col("c") * F.col("nd") - F.col("t")).over(w_cus).cast("long"),
        )
    )
    w_rk = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("s_scaled")).desc(), F.col("d").asc()
    )
    return (
        cus.withColumn("rk", F.row_number().over(w_rk))
        .where(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("d").alias("changepoint_day"),
            F.col("c").alias("day_events"),
            F.col("s_scaled").alias("max_dev_scaled"),
            F.col("t").alias("total_events"),
            F.col("nd").alias("n_days"),
            (F.abs(F.col("s_scaled")) > 2 * F.col("t")).alias("shifted"),
        )
    )


@query("stream_cusum_live", oracle=CUSUM_SQL)
def stream_cusum_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection over a LIVE stream — streaming anomaly
    detection with the stream/batch parity contract: the stream maintains
    per-(type, day) counters (linear, domain-bounded state — the same
    reduction ``cusum_changepoint`` performs batch-side), and the CUSUM +
    argmax windows run over the drained complete-mode counters, where
    every day is final. Counter aggregation is arrival-order independent,
    so the live detector lands exactly on the batch oracle however
    micro-batches split. In production the drained-counter stage is the
    maintained daily-rollup TABLE (foreachBatch merge → IVM) and the
    detector re-runs per trigger over calendar-bounded rows."""
    stream = read_events_stream(spark, sf_dir)
    daily = (
        stream.select("event_type", F.to_date("ts").alias("d"))
        .groupBy("event_type", "d")
        .agg(F.count("*").alias("c"))
    )
    return cusum(run_to_memory(daily, output_mode="complete"))


@query(
    "stream_hll_live",
    oracle="""
    WITH h AS (
        SELECT DISTINCT event_type,
               list_reduce(list_transform(range(0, 12), i ->
                   CAST(strpos('0123456789abcdef',
                        substr(md5(CAST(user_id AS VARCHAR)), 1 + i, 1)) - 1
                        AS BIGINT)), (a, b) -> a * 16 + b) AS h
        FROM events
    ), rho AS (
        SELECT event_type, h // 4398046511104 AS reg,
               CASE WHEN h % 4398046511104 = 0 THEN 43
                    ELSE 43 - len(bin(h % 4398046511104)) END AS rho
        FROM h
    ), grid AS (
        SELECT t.event_type, r.range AS reg
        FROM (SELECT DISTINCT event_type FROM events) t
        CROSS JOIN range(64) r
    ), regs AS (
        SELECT g.event_type, g.reg, COALESCE(MAX(rho.rho), 0) AS m_j
        FROM grid g LEFT JOIN rho
          ON rho.event_type = g.event_type AND rho.reg = g.reg
        GROUP BY g.event_type, g.reg
    ), s AS (
        SELECT event_type,
               CAST(SUM(CAST(POWER(2, 50 - m_j) AS BIGINT)) AS BIGINT)
                   AS s_scaled,
               CAST(SUM(CASE WHEN m_j = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_zero_regs
        FROM regs GROUP BY event_type
    ), ex AS (
        SELECT event_type,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
        FROM events GROUP BY event_type
    )
    SELECT s.event_type, s.s_scaled, s.n_zero_regs,
           (CAST(0.709 AS DOUBLE) * 64 * 64 * 1125899906842624)
               / CAST(s.s_scaled AS DOUBLE) AS est_raw,
           ex.exact_distinct
    FROM s JOIN ex ON ex.event_type = s.event_type
    """,
)
def stream_hll_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type maintained LIVE as an HLL sketch — the
    streaming answer to "how many uniques so far?" without unbounded
    distinct state: the stream folds into per-(type, register) MAX-rho
    cells (state = 5 types × 64 registers, CONSTANT regardless of traffic),
    drained in complete mode. Max is commutative/associative/idempotent, so
    the drained registers are arrival-order independent and land exactly on
    the batch-built sketch — the streaming twin of ``sketch_hll_merge``'s
    merge proof (each micro-batch is a partial sketch; the state store IS
    the merge tree). Same exact-integer geometry as ``sketch_hll``
    (md5-derived 48-bit hash, Σ2^(50−M_j) state); ``exact_distinct`` rides
    along from the batch table to show the estimate against truth.

    Scale: this is how a 100 TB/day stream serves live cardinality tiles —
    O(types × 64) state and O(1) merge per event, vs
    ``dropDuplicates``-based exact counting whose state grows with
    uniques."""
    stream = read_events_stream(spark, sf_dir)
    rest = 4398046511104  # 2**42
    rho = stream.select(
        "event_type",
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 12), 16, 10
        )
        .cast("long")
        .alias("h"),
    ).select(
        "event_type",
        F.expr(f"h DIV {rest}").alias("reg"),
        F.expr(
            f"CASE WHEN h % {rest} = 0 THEN 43"
            f" ELSE 43 - length(bin(h % {rest})) END"
        ).alias("rho"),
    )
    state = rho.groupBy("event_type", "reg").agg(F.max("rho").alias("m_j"))
    drained = run_to_memory(state, output_mode="complete")
    # Densify ARITHMETICALLY, no grid join: a register the stream never hit
    # is 0 and contributes the largest term 2^50; a register that was hit
    # always has m_j ≥ 1 (rho of a 42-bit tail is ≥ 1). So
    # n_zero_regs = 64 − |state rows| and the sum gains (64 − cnt)·2^50.
    s = drained.groupBy("event_type").agg(
        (
            F.sum(F.expr("CAST(POWER(2, 50 - m_j) AS BIGINT)"))
            + (F.lit(64) - F.count("*")) * F.lit(2**50)
        )
        .cast("long")
        .alias("s_scaled"),
        (F.lit(64) - F.count("*")).cast("long").alias("n_zero_regs"),
    )
    from ..catalog import Catalog

    ex = (
        Catalog(spark, sf_dir)
        .events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("exact_distinct"))
    )
    return s.join(ex, "event_type").select(
        "event_type",
        "s_scaled",
        "n_zero_regs",
        (
            F.lit(0.709).cast("double") * 64 * 64 * F.lit(2**50)
            / F.col("s_scaled").cast("double")
        ).alias("est_raw"),
        "exact_distinct",
    )


@query(
    "stream_percentile_live",
    oracle="""
    WITH b AS (
        SELECT event_type,
               CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) // 1000
                   AS bucket,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ), cum AS (
        SELECT event_type, bucket, c,
               SUM(c) OVER (PARTITION BY event_type) AS n,
               SUM(c) OVER (PARTITION BY event_type ORDER BY bucket
                            ROWS UNBOUNDED PRECEDING) AS cum_c
        FROM b
    )
    SELECT event_type,
           CAST(MAX(n) AS BIGINT) AS n_events,
           CAST(MIN(CASE WHEN cum_c >= (n - 1) * 50 // 100 + 1
                         THEN bucket END) * 1000 AS BIGINT)
               AS p50_bucket_cents,
           CAST(MIN(CASE WHEN cum_c >= (n - 1) * 95 // 100 + 1
                         THEN bucket END) * 1000 AS BIGINT)
               AS p95_bucket_cents
    FROM cum GROUP BY event_type
    """,
)
def stream_percentile_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming quantiles over a LIVE stream, the bounded-state way: the
    stream maintains per-(type, $10-bucket) counters — a fixed-width
    value histogram, the classic streaming-percentile state (t-digest's
    exact cousin on a bounded domain) — and the drained complete-mode
    counters yield the p50/p95 bucket by cumulative count, at bucket
    resolution, bit-equal to the batch oracle computing the same bucketed
    rank. Counter aggregation is arrival-order independent, so
    micro-batch splits can't move the answer (the stream_cusum_live
    contract). State is |types|×|buckets| rows regardless of stream
    length; in production the drained stage is a foreachBatch-maintained
    histogram table and the rank scan is |buckets| work per trigger."""
    stream = read_events_stream(spark, sf_dir)
    hist = (
        stream.select(
            "event_type",
            F.expr(
                "CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)"
                " div 1000"
            ).alias("bucket"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.count("*").alias("c"))
    )
    drained = run_to_memory(hist, output_mode="complete")
    w_all = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = drained.select(
        "event_type",
        "bucket",
        F.sum("c").over(w_all).cast("long").alias("n"),
        F.sum("c").over(w_cum).cast("long").alias("cum_c"),
    )
    return cum.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n_events"),
        F.expr(
            "CAST(MIN(CASE WHEN cum_c >= (n - 1) * 50 div 100 + 1"
            " THEN bucket END) * 1000 AS BIGINT)"
        ).alias("p50_bucket_cents"),
        F.expr(
            "CAST(MIN(CASE WHEN cum_c >= (n - 1) * 95 div 100 + 1"
            " THEN bucket END) * 1000 AS BIGINT)"
        ).alias("p95_bucket_cents"),
    )
