"""Time-series / product-analytics operators over the events stream table.

The reference's analytics layer is Superset dashboards over an append-only
fact table (`README.md:25-64`, DDL `dagster_project/pipeline.py:85-108`);
funnel, retention, rolling-feature and gap-fill queries are the standard
dashboard cuts one level up from its bar charts. All are expressed as
declarative DataFrame plans: per-user work partitions on ``user_id`` (one
shuffle, reused across window passes), aggregates are decimal-exact
(``functions.parity``), and nothing collects to the driver — the shapes hold
unchanged on a date-partitioned 100 TB events table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import Catalog
from ..functions.parity import MONEY, dsum
from ..session import checkpoint_truncate, persist
from .registry import query


@query(
    "funnel_conversion",
    oracle="""
    WITH s1 AS (
        SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS t1
        FROM events WHERE event_type = 'signup' GROUP BY user_id
    ), s2 AS (
        SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t2
        FROM events e JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) >= s1.t1
        GROUP BY e.user_id
    ), s3 AS (
        SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t3
        FROM events e JOIN s2 ON e.user_id = s2.user_id
        WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) >= s2.t2
        GROUP BY e.user_id
    ), base AS (SELECT COUNT(*) AS n0 FROM s1)
    SELECT stage, step, users,
           CAST(users AS DOUBLE) / (SELECT n0 FROM base) AS conversion
    FROM (
        SELECT 'signup' AS stage, 1 AS step, COUNT(*) AS users FROM s1
        UNION ALL
        SELECT 'click', 2, COUNT(*) FROM s2
        UNION ALL
        SELECT 'purchase', 3, COUNT(*) FROM s3
    )
    """,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis (signup → click → purchase): each stage keeps
    only events at-or-after the user's previous-stage timestamp, so
    out-of-order conversions don't count. Three per-user aggregates chained
    by ``user_id`` equi-joins — every shuffle is on the same key, and each
    stage's output is one row per surviving user (monotonically shrinking),
    so at 100 TB the joins stay co-partitioned and the stage tables are tiny
    relative to the event scan. The final counts are scalar aggregates.
    r7: the fact table is scanned ONCE — the type-filtered projection is
    persisted and all three stage filters read the cache (previously three
    full event scans), and s1/s2 are persisted because each feeds both the
    next stage and its own census row."""
    cat = Catalog(spark, sf_dir)
    # r12: examined, converted to eager cuts, then REVERTED — the events
    # projection is a trivially-rebuildable corpus-sized frame and the
    # M=100 A/B read eager 16.3 s vs lazy 12.1 s (the sf0.1 win, 1.07 →
    # 0.80 s, was the small-input race; the persist fill pipelines into
    # the first consumer pass at scale).
    ev = persist(
        cat.events.select("user_id", "event_type", F.col("ts").alias("ts"))
        .where(F.col("event_type").isin("signup", "click", "purchase"))
    )

    s1 = persist(
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = persist(
        ev.where(F.col("event_type") == "click")
        .join(s1, "user_id")
        .where(F.col("ts") >= F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.where(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .where(F.col("ts") >= F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )

    def count_stage(df: DataFrame, stage: str, step: int) -> DataFrame:
        return df.agg(
            F.lit(stage).alias("stage"),
            F.lit(step).alias("step"),
            F.count("*").alias("users"),
        )

    stages = (
        count_stage(s1, "signup", 1)
        .unionByName(count_stage(s2, "click", 2))
        .unionByName(count_stage(s3, "purchase", 3))
    )
    base = s1.agg(F.count("*").alias("n0"))
    return stages.crossJoin(F.broadcast(base)).select(
        "stage",
        "step",
        "users",
        (F.col("users").cast("double") / F.col("n0")).alias("conversion"),
    )


@query(
    "retention_cohorts",
    oracle="""
    WITH firsts AS (
        SELECT user_id,
               CAST(date_trunc('month', MIN(CAST(ts AS TIMESTAMP))) AS DATE)
                   AS cohort_month
        FROM events WHERE user_id IS NOT NULL GROUP BY user_id
    ), activity AS (
        SELECT DISTINCT user_id,
               CAST(date_trunc('month', CAST(ts AS TIMESTAMP)) AS DATE)
                   AS active_month
        FROM events WHERE user_id IS NOT NULL
    )
    SELECT f.cohort_month,
           (year(a.active_month) - year(f.cohort_month)) * 12
               + (month(a.active_month) - month(f.cohort_month))
               AS months_since,
           COUNT(DISTINCT a.user_id) AS active_users
    FROM activity a JOIN firsts f ON a.user_id = f.user_id
    GROUP BY 1, 2
    """,
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-seen month, counted
    in each subsequent activity month. ``months_since`` uses integer
    year/month arithmetic, not timestamp differencing, so both engines agree
    exactly.

    Fused in round 10 (the last untriaged rescan site — the same idiom
    retention_curve's r9 fusion removed): the old shape scanned events
    TWICE (a per-user firsts aggregate joined back to the distinct
    activity table on user_id — a USER-scale shuffle join, not
    broadcastable at 100 TB). Now ONE scan → distinct (user, month) rows
    → a sortless per-user MIN window attaches each user's cohort month
    (the window re-shuffles only the user-month table) → one
    (cohort × months_since) aggregate. Within a user each active month
    appears once after the distinct, and months_since is 1:1 with
    active_month for a fixed cohort, so COUNT(*) equals the oracle's
    COUNT(DISTINCT user_id) exactly. Anonymous (NULL user_id) events are
    excluded on BOTH engines — the window-vs-inner-join NULL divergence
    fixed across this family in r10 (ADVICE r9). M=100: 19.9 → 12.4 s,
    events×2 → ×1."""
    cat = Catalog(spark, sf_dir)
    um = (
        cat.events.where(F.col("user_id").isNotNull())
        .select("user_id", F.trunc(F.col("ts").cast("timestamp"), "month").alias("active_month"))
        .distinct()
    )
    cohort = F.min("active_month").over(Window.partitionBy("user_id"))
    months_since = (
        (F.year("active_month") - F.year("cohort_month")) * 12
        + (F.month("active_month") - F.month("cohort_month"))
    ).alias("months_since")
    return (
        um.select("active_month", cohort.alias("cohort_month"))
        .groupBy("cohort_month", months_since)
        .agg(F.count("*").alias("active_users"))
    )


@query(
    "rolling_7d_features",
    oracle="""
    SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
           COUNT(*) OVER w7 AS events_7d,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER w7 AS DOUBLE)
               AS value_7d
    FROM events
    WINDOW w7 AS (PARTITION BY user_id
                  ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
                  RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)
    """,
)
def rolling_7d_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based rolling features (trailing 7-day event count and spend per
    user) — the standard training-feature shape for behavioural models. The
    RANGE frame is over epoch-microseconds so the bound is an exact integer
    (604_800_000_000 µs = 7 days) in both engines; partitioned by
    ``user_id`` so no global-order window appears. At 100 TB the same plan
    holds; the frame state per task is bounded by one user's 7-day slice."""
    cat = Catalog(spark, sf_dir)
    w7 = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
        .rangeBetween(-604_800_000_000, Window.currentRow)
    )
    return cat.events.select(
        "event_id",
        "user_id",
        "ts",
        F.count("*").over(w7).alias("events_7d"),
        F.sum(F.col("value").cast(MONEY)).over(w7).cast("double").alias("value_7d"),
    )


@query(
    "anomaly_mad",
    oracle="""
    WITH med AS (
        SELECT event_type, median(value) AS med
        FROM events GROUP BY event_type
    ), mad AS (
        SELECT e.event_type, median(abs(e.value - m.med)) AS mad
        FROM events e JOIN med m ON e.event_type = m.event_type
        GROUP BY e.event_type
    )
    SELECT e.event_id, e.event_type, e.value, m.med, d.mad
    FROM events e
    JOIN med m ON e.event_type = m.event_type
    JOIN mad d ON e.event_type = d.event_type
    WHERE abs(e.value - m.med) > 3.5 * d.mad
    """,
)
def anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per event type: flag values more than
    3.5 median-absolute-deviations from the per-type median — the classic
    Iglewicz-Hoaglin rule, immune to the outliers it hunts (unlike
    mean/stddev z-scores). Exact ``percentile(0.5)`` matches DuckDB's
    interpolating ``median`` bit-for-bit. The per-type stats tables are
    5 rows — broadcast back onto the scan, so the event table is read
    twice but never shuffled. At 100 TB swap the exact median for
    ``approx_percentile`` (sketch-mergeable, one pass) — the plan shape is
    otherwise unchanged."""
    cat = Catalog(spark, sf_dir)
    ev = cat.events
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5D)").alias("med")
    )
    mad = (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(F.expr("percentile(abs(value - med), 0.5D)").alias("mad"))
    )
    return (
        ev.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .where(F.abs(F.col("value") - F.col("med")) > 3.5 * F.col("mad"))
        .select("event_id", "event_type", "value", "med", "mad")
    )


@query(
    "gap_fill_forward",
    oracle="""
    WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS d,
               CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS day_value
        FROM events GROUP BY 1, 2
    ), bounds AS (
        SELECT user_id, MIN(d) AS lo, MAX(d) AS hi FROM daily GROUP BY user_id
    ), spine AS (
        SELECT user_id,
               CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
                                           CAST(hi AS TIMESTAMP),
                                           INTERVAL 1 DAY)) AS DATE) AS d
        FROM bounds
    )
    SELECT s.user_id, s.d,
           daily.day_value IS NULL AS filled,
           LAST_VALUE(daily.day_value IGNORE NULLS) OVER (
               PARTITION BY s.user_id ORDER BY s.d) AS day_value
    FROM spine s LEFT JOIN daily ON s.user_id = daily.user_id AND s.d = daily.d
    """,
)
def gap_fill_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regularize an irregular per-user daily series: build a dense date
    spine per user (``sequence`` + ``explode`` — generated where the key
    lives, never on the driver), left-join the observed daily aggregates,
    and forward-fill gaps with ``last(..., ignorenulls)``. The spine, join
    and fill window all partition on ``user_id``, so the whole plan is one
    shuffle family; spine size is bounded by each key's date span. This is
    the gap-fill/resample primitive time-series stores ship natively,
    composed from three relational ops."""
    cat = Catalog(spark, sf_dir)
    # Persisted: the per-(user, day) rollup feeds both the spine bounds
    # and the fill join — uncached, the events scan + rollup ran twice.
    daily = persist(
        cat.events.groupBy("user_id", F.col("ts").cast("date").alias("d"))
        .agg(dsum(F.col("value")).alias("day_value"))
    )
    spine = (
        daily.groupBy("user_id")
        .agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
        .select(
            "user_id",
            F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("d"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(daily, ["user_id", "d"], "left")
        .select(
            "user_id",
            "d",
            F.col("day_value").isNull().alias("filled"),
            F.last("day_value", ignorenulls=True).over(w).alias("day_value"),
        )
    )


# ---------------------------------------------------------------------------
# Sliding-window aggregation (batch form of the streaming sliding window)
# ---------------------------------------------------------------------------

@query(
    "window_sliding_agg",
    oracle="""
    SELECT CAST(date_trunc('hour', ts) - o * INTERVAL 1 HOUR AS TIMESTAMP)
               AS w_start,
           event_type,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events, UNNEST([0, 1]) AS t(o)
    GROUP BY 1, 2
    """,
)
def window_sliding_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows in BATCH (2 h windows, 1 h slide): every
    event lands in width/slide = 2 overlapping windows — Spark's window()
    expands the assignment inside the aggregation, so the plan is still one
    partially-aggregated groupBy (events are duplicated into their window
    groups map-side, never joined). Completes the window-type family:
    tumbling (stream_tumbling), session (stream_session_windows), sliding
    here. The oracle replays the assignment arithmetic: the two windows
    containing t start at trunc_hour(t) and trunc_hour(t) − 1 h. Sum is
    decimal-exact; window count scales with time span × slide, not rows."""
    cat = Catalog(spark, sf_dir)
    return (
        cat.events.groupBy(
            F.window("ts", "2 hours", "1 hour").alias("w"), "event_type"
        )
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("value").cast("decimal(12,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("w_start"),
            "event_type",
            "cnt",
            "total_value",
        )
    )


# ---------------------------------------------------------------------------
# Leakage-safe temporal split (purged train/test boundary)
# ---------------------------------------------------------------------------

@query(
    "temporal_split_purged",
    oracle="""
    SELECT event_id,
           CASE WHEN ts <  TIMESTAMP '2024-01-20 00:00:00' THEN 'train'
                WHEN ts >= TIMESTAMP '2024-01-23 00:00:00' THEN 'test'
                ELSE 'purged' END AS split
    FROM events
    """,
)
def temporal_split_purged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based train/test split with a PURGE GAP (the forecasting-safe
    split): training data strictly before the boundary, test data only
    after boundary + 3 days, and the gap rows dropped — so no label window
    that starts in train can end in test (the leakage random splits and
    even plain temporal splits allow; the purged-CV idea from financial
    ML applied to a corpus build). Map-only expression; contrast with
    `corpus_split`'s hash split (exchangeable data) and
    `split_leakage_check` (near-dup leakage) — three split disciplines,
    each matching a data regime."""
    cat = Catalog(spark, sf_dir)
    return cat.events.select(
        "event_id",
        F.when(F.col("ts") < F.lit("2024-01-20 00:00:00").cast("timestamp_ntz"), "train")
        .when(F.col("ts") >= F.lit("2024-01-23 00:00:00").cast("timestamp_ntz"), "test")
        .otherwise("purged")
        .alias("split"),
    )


# ---------------------------------------------------------------------------
# Winsorization (robust feature clamping)
# ---------------------------------------------------------------------------

@query(
    "winsorize_values",
    oracle="""
    WITH bounds AS (
        SELECT event_type,
               quantile_cont(value, 0.05) AS p05,
               quantile_cont(value, 0.95) AS p95
        FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, e.value,
           least(greatest(e.value, b.p05), b.p95) AS clamped,
           (e.value < b.p05 OR e.value > b.p95) AS was_clamped
    FROM events e JOIN bounds b ON b.event_type = e.event_type
    """,
)
def winsorize_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization (robust feature engineering): clamp each value into its
    group's [p05, p95] band — the standard outlier treatment before scaling
    features for training. Exact interpolated percentiles (Spark percentile
    == DuckDB quantile_cont bit-for-bit, proven by agg_percentile), computed
    per group in ONE pass and broadcast back onto the stream; the clamp is
    a map-side least/greatest. At 100 TB swap exact percentiles for
    approx_percentile sketches — the plan shape (tiny bounds table
    broadcast onto a scan) is unchanged."""
    cat = Catalog(spark, sf_dir)
    bounds = cat.events.groupBy("event_type").agg(
        F.percentile(F.col("value"), F.lit(0.05)).alias("p05"),
        F.percentile(F.col("value"), F.lit(0.95)).alias("p95"),
    )
    return (
        cat.events.join(F.broadcast(bounds), "event_type")
        .select(
            "event_id",
            "event_type",
            "value",
            F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95")).alias(
                "clamped"
            ),
            ((F.col("value") < F.col("p05")) | (F.col("value") > F.col("p95"))).alias(
                "was_clamped"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Exact z-score standardization
# ---------------------------------------------------------------------------

@query(
    "standardize_values",
    oracle="""
    WITH m AS (
        SELECT event_type,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(value AS DECIMAL(18,2))
                        * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sxx
        FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, e.value,
           (e.value - m.sx / m.n)
               / sqrt((m.sxx - m.sx * m.sx / m.n) / m.n) AS zscore
    FROM events e JOIN m ON m.event_type = e.event_type
    """,
)
def standardize_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score standardization with EXACT moments (feature prep):
    Σx and Σx² accumulate in DECIMAL (the values are 2-decimal money-like,
    so squares are exact at scale 4) — order-free, partition-proof — and
    only the final mean/variance arithmetic runs in doubles, as one fixed
    sequence of correctly-rounded ops both engines execute identically.
    The naive-sum variance formula is safe HERE because the decimal sums
    are exact (no cancellation noise); with float accumulators you'd want
    Welford/pairwise instead. Tiny moment table broadcasts onto the scan —
    one aggregation pass, one map-side join, linear at 100 TB."""
    cat = Catalog(spark, sf_dir)
    v = F.col("value").cast("decimal(18,2)")
    m = cat.events.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(v).cast("double").alias("sx"),
        F.sum(v * v).cast("double").alias("sxx"),
    )
    return (
        cat.events.join(F.broadcast(m), "event_type")
        .select(
            "event_id",
            "event_type",
            "value",
            (
                (F.col("value") - F.col("sx") / F.col("n"))
                / F.sqrt(
                    (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
                    / F.col("n")
                )
            ).alias("zscore"),
        )
    )


# ---------------------------------------------------------------------------
# Feature-store assembly (per-entity training features)
# ---------------------------------------------------------------------------

@query(
    "pipeline_user_features",
    oracle="""
    WITH f AS (
        SELECT user_id,
               COUNT(*) AS n_events,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_purchases,
               CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_errors,
               CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
               COUNT(DISTINCT CAST(ts AS DATE)) AS days_active,
               MIN(ts) AS first_seen,
               MAX(ts) AS last_seen,
               arg_max(event_type, ts) AS last_event_type
        FROM events GROUP BY user_id
    )
    SELECT f.*, c.c_mktsegment AS segment,
           CAST(f.n_purchases AS DOUBLE) / f.n_events AS purchase_rate
    FROM f JOIN customer c ON c.c_custkey = f.user_id
    """,
)
def pipeline_user_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-store assembly (the training-table build): per-user
    behavioral features — event volume, purchase/error conditional counts,
    decimal-exact monetary total, active-day count, recency bounds,
    last-event state via max_by — joined with the broadcast customer
    dimension and finished with derived ratios. ONE partial-aggregated
    groupBy over the fact stream + one broadcast join: the canonical
    wide-feature plan (every feature is an aggregate expression in the
    same pass — adding features never adds passes). max_by ties cannot
    occur (event timestamps are unique per user in the fixture); at 100 TB
    the same statement backs a point-in-time-correct feature table by
    adding the as-of filter (`join_asof`) before the aggregation."""
    cat = Catalog(spark, sf_dir)
    f = cat.events.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("n_purchases"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("long")
        .alias("n_errors"),
        F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("total_value"),
        F.count_distinct(F.col("ts").cast("date")).alias("days_active"),
        F.min("ts").alias("first_seen"),
        F.max("ts").alias("last_seen"),
        F.expr("max_by(event_type, ts)").alias("last_event_type"),
    )
    dim = cat.customer.select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
    )
    return f.join(F.broadcast(dim), "user_id").select(
        "*"
    ).withColumn(
        "purchase_rate", F.col("n_purchases").cast("double") / F.col("n_events")
    )


# ---------------------------------------------------------------------------
# Time-series subsequence (motif) similarity search
# ---------------------------------------------------------------------------

#: Motif length: 8-point windows over each user's value series.
MOTIF_LEN = 8

_LEADS = ", ".join(f"LEAD(v, {i}) OVER w AS v{i}" for i in range(1, MOTIF_LEN))
_NOTNULL = " AND ".join(f"v{i} IS NOT NULL" for i in range(MOTIF_LEN))
_ANCHOR_COLS = ", ".join(f"v{i} AS a{i}" for i in range(MOTIF_LEN))
_DIST = " + ".join(f"(f.v{i} - a.a{i}) * (f.v{i} - a.a{i})" for i in range(MOTIF_LEN))


@query(
    "ts_motif_match",
    oracle=f"""
    WITH ev AS (
        SELECT user_id, event_id, ts,
               CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS v
        FROM events
    ), win AS (
        SELECT user_id, event_id,
               ROW_NUMBER() OVER w AS rn,
               v AS v0, {_LEADS}
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), full_win AS (
        SELECT * FROM win WHERE v0 IS NOT NULL AND {_NOTNULL}
    ), mu AS (
        SELECT MIN(user_id) AS anchor_user FROM events
    ), anchor AS (
        SELECT w.user_id AS anchor_user, {_ANCHOR_COLS}
        FROM full_win w JOIN mu ON w.user_id = mu.anchor_user
        WHERE w.rn = 1
    )
    SELECT f.user_id, f.event_id, CAST({_DIST} AS BIGINT) AS dist
    FROM full_win f CROSS JOIN anchor a
    WHERE NOT (f.user_id = a.anchor_user AND f.rn = 1)
    ORDER BY dist, f.user_id, f.event_id
    LIMIT 10
    """,
)
def ts_motif_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subsequence (motif) similarity search over the event value series —
    the streaming-time-series-search capability class (distributed
    subsequence matching): every {MOTIF_LEN}-point sliding window of every
    user's series is scored against an anchor motif (the lowest user id's
    first complete window — computed IN the query, no driver collect) by
    exact squared Euclidean distance, and the 10 nearest windows win.

    Exactness discipline: values become integer cents (DECIMAL(12,2)×100 →
    BIGINT) so the distance is an exact integer — no float accumulation —
    and the top-10 boundary is tie-broken (dist, user_id, event_id), so
    the result SET is deterministic in both engines.

    Shape for 100 TB: ONE per-user sort shuffle produces all
    {MOTIF_LEN} lead columns from a single Window node (sliding windows
    never materialize as arrays); the anchor is a 1-row broadcast DERIVED
    FROM THE ANCHOR USER'S ROWS ONLY (broadcast-semi filter on min
    user_id BEFORE the window — the M=100 study caught the anchor branch
    re-executing the full-corpus window a second time, doubling the sort);
    the top-10 is TakeOrderedAndProject (partial top-k per partition,
    never a global sort). For long patterns the production upgrade is a
    z-normalized MASS/FFT scorer per partition — the plan shape
    (partition → score → global top-k) is unchanged.
    """
    cat = Catalog(spark, sf_dir)
    units = (F.col("value").cast("decimal(12,2)") * 100).cast("long")
    ev = cat.events.select("user_id", "event_id", "ts", units.alias("v"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")

    def _windows(df):
        win = df.select(
            "user_id",
            "event_id",
            F.row_number().over(w).alias("rn"),
            F.col("v").alias("v0"),
            *[F.lead("v", i).over(w).alias(f"v{i}") for i in range(1, MOTIF_LEN)],
        )
        out = win.where(
            F.lit(True)
            & F.col("v0").isNotNull()
            & F.col(f"v{MOTIF_LEN - 1}").isNotNull()
        )
        for i in range(1, MOTIF_LEN - 1):
            out = out.where(F.col(f"v{i}").isNotNull())
        return out

    full_win = _windows(ev)
    mu = ev.agg(F.min("user_id").alias("anchor_user"))
    # The anchor needs only the min user's series: filter to it FIRST (1-row
    # broadcast join), then window over that single tiny partition. rn over
    # one user's rows is identical to rn over the full table (the window is
    # partitioned by user_id), so the anchor is unchanged — but the
    # full-corpus sort now executes once, not twice.
    anchor = (
        _windows(ev.join(F.broadcast(mu), ev.user_id == F.col("anchor_user")))
        .where(F.col("rn") == 1)
        .select(
            F.col("user_id").alias("anchor_user"),
            *[F.col(f"v{i}").alias(f"a{i}") for i in range(MOTIF_LEN)],
        )
    )
    dist = sum(
        (
            (F.col(f"v{i}") - F.col(f"a{i}")) * (F.col(f"v{i}") - F.col(f"a{i}"))
            for i in range(MOTIF_LEN)
        ),
        F.lit(0).cast("long"),
    )
    return (
        full_win.crossJoin(F.broadcast(anchor))
        .where(~((F.col("user_id") == F.col("anchor_user")) & (F.col("rn") == 1)))
        .select("user_id", "event_id", dist.cast("long").alias("dist"))
        .orderBy("dist", "user_id", "event_id")
        .limit(10)
    )


@query(
    "ts_resample_ohlc",
    oracle="""
    WITH b AS (
        SELECT user_id, event_id, value,
               make_timestamp((epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000)
                              * 3600000000) AS bucket_start,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id,
                                epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000
                   ORDER BY ts, event_id) AS rn_a,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id,
                                epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000
                   ORDER BY ts DESC, event_id DESC) AS rn_d
        FROM events
    )
    SELECT user_id, bucket_start,
           CAST(MAX(CASE WHEN rn_a = 1 THEN value END) AS DOUBLE) AS open,
           CAST(MAX(value) AS DOUBLE) AS high,
           CAST(MIN(value) AS DOUBLE) AS low,
           CAST(MAX(CASE WHEN rn_d = 1 THEN value END) AS DOUBLE) AS close,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM b
    GROUP BY 1, 2
    """,
)
def ts_resample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series downsampling (resample-to-bars): each user's value
    series collapses to hourly OHLC bars — open/close are the bucket's
    first/last points by (ts, event_id), a UNIQUE composite, so the bars
    are deterministic even with equal timestamps (the trap in naive
    first()/last() aggregation, whose result depends on partition order).

    Plan: one shuffle total. Both row_number passes AND the final
    aggregation share the (user_id, bucket) hash partitioning, so
    Catalyst plans window→window→agg over a single exchange; the volume
    sum rides the decimal-exact discipline."""
    cat = Catalog(spark, sf_dir)
    ts = F.col("ts").cast("timestamp")
    bucket_us = (F.unix_micros(ts) / F.lit(3_600_000_000)).cast("long") * F.lit(
        3_600_000_000
    )
    wa = Window.partitionBy("user_id", "bucket_us").orderBy("ts", "event_id")
    wd = Window.partitionBy("user_id", "bucket_us").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    b = (
        cat.events.select(
            "user_id", "event_id", "value", "ts", bucket_us.alias("bucket_us")
        )
        .withColumn("rn_a", F.row_number().over(wa))
        .withColumn("rn_d", F.row_number().over(wd))
    )
    return (
        b.groupBy("user_id", "bucket_us")  # raw key: reuses the window's
        # hash partitioning (an expression key would force a 2nd exchange)
        .agg(
            F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(MONEY)).cast("double").alias("total_value"),
        )
        .select(
            "user_id",
            F.timestamp_micros(F.col("bucket_us"))
            .cast("timestamp_ntz")
            .alias("bucket_start"),
            "open",
            "high",
            "low",
            "close",
            "n_events",
            "total_value",
        )
    )


@query(
    "anomaly_seasonal",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d,
               datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) % 7 AS dow,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events
        GROUP BY event_type, CAST(ts AS DATE)
    ), base AS (
        SELECT event_type, d, dow, c,
               CAST(SUM(c) OVER (PARTITION BY event_type, dow) AS BIGINT) AS tb,
               CAST(COUNT(*) OVER (PARTITION BY event_type, dow) AS BIGINT) AS nb
        FROM daily
    )
    SELECT event_type, d, dow, c,
           tb, nb,
           CAST(c * nb * 1000000 // tb - 1000000 AS BIGINT) AS residual_ppm,
           ABS(c * nb * 1000000 // tb - 1000000) > 500000 AS is_outlier
    FROM base
    """,
)
def anomaly_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware anomaly detection: score each (type, day) against
    its DAY-OF-WEEK baseline instead of a global level — the weekly rhythm
    every traffic metric has, which global detectors (``anomaly_mad``)
    misread as anomalies. Day-of-week is the engine-neutral
    ``datediff(epoch) % 7`` (built-in dow numbering differs between
    engines); the residual is the exact integer ppm deviation of the day's
    count from its dow-mean — c·nb·10⁶ DIV tb − 10⁶ — and the outlier gate
    is ±50%. Baselines come from unbounded windows over the (type, dow)
    partition, joinless (the ``cusum_changepoint`` pattern): one daily
    rollup shuffle + one calendar-bounded window exchange, and at 100 TB the
    rollup reads a date-partitioned aggregate, never raw events."""
    cat = Catalog(spark, sf_dir)
    daily = (
        cat.events.select(
            "event_type",
            F.to_date("ts").alias("d"),
        )
        .groupBy("event_type", "d")
        .agg(F.count("*").alias("c"))
        .withColumn("dow", F.expr("datediff(d, DATE '2024-01-01') % 7"))
    )
    w = (
        Window.partitionBy("event_type", "dow")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    base = daily.withColumn("tb", F.sum("c").over(w).cast("long")).withColumn(
        "nb", F.count("*").over(w)
    )
    resid = F.expr("c * nb * 1000000 DIV tb - 1000000")
    return base.select(
        "event_type",
        "d",
        F.col("dow").cast("long").alias("dow"),
        "c",
        "tb",
        "nb",
        resid.cast("long").alias("residual_ppm"),
        (F.abs(resid) > 500000).alias("is_outlier"),
    )


@query(
    "trend_ols",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS x,
               CAST(COUNT(*) AS BIGINT) AS y
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    ), s AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT)    AS n,
               CAST(SUM(x) AS BIGINT)      AS sx,
               CAST(SUM(y) AS BIGINT)      AS sy,
               CAST(SUM(x * y) AS BIGINT)  AS sxy,
               CAST(SUM(x * x) AS BIGINT)  AS sxx
        FROM daily GROUP BY event_type
    )
    SELECT event_type, n, sx, sy, sxy, sxx,
           CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE) AS slope,
           (CAST(sy AS DOUBLE)
            - CAST(n * sxy - sx * sy AS DOUBLE)
              / CAST(n * sxx - sx * sx AS DOUBLE) * CAST(sx AS DOUBLE))
               / CAST(n AS DOUBLE) AS intercept
    FROM s
    """,
)
def trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form OLS trend line per event type (is traffic growing?):
    slope = (n·Σxy − Σx·Σy) / (n·Σxx − Σx²) over (day-index, daily-count)
    points. Distributed regression without MLlib or iteration — the five
    sufficient statistics are exact BIGINT sums (associative, mergeable →
    also IVM-maintainable), and slope/intercept are a fixed expression of
    them, so the doubles hash identically across engines. The moment sums
    are THE textbook map-reduce: one daily rollup + one per-type aggregate;
    at 100 TB both read date-partitioned rollups. Extending to multiple
    regressors is the same pattern with a k×k normal-equation matrix of
    sums (k bounded), still closed-form."""
    cat = Catalog(spark, sf_dir)
    daily = (
        cat.events.select(
            "event_type",
            F.expr("datediff(CAST(ts AS DATE), DATE '2024-01-01')").alias("x"),
        )
        .groupBy("event_type", "x")
        .agg(F.count("*").alias("y"))
    )
    s = daily.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    slope = num / den
    intercept = (
        F.col("sy").cast("double") - slope * F.col("sx").cast("double")
    ) / F.col("n").cast("double")
    return s.select(
        "event_type",
        "n",
        "sx",
        "sy",
        "sxy",
        "sxx",
        slope.alias("slope"),
        intercept.alias("intercept"),
    )


@query(
    "interval_union_length",
    oracle="""
    WITH iv AS (
        SELECT user_id, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS s,
               epoch_us(CAST(ts AS TIMESTAMP))
                   + CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
                     * 600000 AS e
        FROM events
    ), m AS (
        SELECT user_id, event_id, s, e,
               MAX(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING) AS prev_max
        FROM iv
    ), isl AS (
        SELECT user_id, s, e,
               SUM(CASE WHEN prev_max IS NULL OR s > prev_max
                        THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY s, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS isl_id
        FROM m
    ), runs AS (
        SELECT user_id, isl_id,
               MIN(s) AS s0, MAX(e) AS e1, COUNT(*) AS n
        FROM isl GROUP BY user_id, isl_id
    )
    SELECT user_id,
           CAST(SUM(n) AS BIGINT)        AS n_events,
           CAST(COUNT(*) AS BIGINT)      AS n_islands,
           CAST(SUM(e1 - s0) AS BIGINT)  AS covered_us
    FROM runs GROUP BY user_id
    """,
)
def interval_union_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-union coverage (how much wall-clock was each user actually
    active?): every event opens an interval [ts, ts + value minutes];
    overlapping intervals merge and the union's total length is exact
    epoch-microsecond arithmetic. The merge is the interval flavor of
    gaps-and-islands: a running MAX of interval ends over strictly-prior
    rows detects island starts, a running SUM numbers the islands, and a
    per-island aggregate takes (min start, max end). ALL four stages —
    both windows and both aggregates — key on user_id, one exchange
    end-to-end. This is billing/uptime math (overlap-free usage seconds)
    where naive SUM(duration) double-counts overlaps."""
    cat = Catalog(spark, sf_dir)
    iv = cat.events.select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("s"),
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            + F.expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)")
            * F.lit(600000)
        ).alias("e"),
    )
    order = [F.col("s").asc(), F.col("event_id").asc()]
    w_prev = (
        Window.partitionBy("user_id").orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("user_id").orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    m = iv.withColumn("prev_max", F.max("e").over(w_prev))
    isl = m.withColumn(
        "isl_id",
        F.sum(
            F.when(
                F.col("prev_max").isNull() | (F.col("s") > F.col("prev_max")), 1
            ).otherwise(0)
        ).over(w_run),
    )
    runs = isl.groupBy("user_id", "isl_id").agg(
        F.min("s").alias("s0"), F.max("e").alias("e1"), F.count("*").alias("n")
    )
    return runs.groupBy("user_id").agg(
        F.sum("n").cast("long").alias("n_events"),
        F.count("*").alias("n_islands"),
        F.sum(F.col("e1") - F.col("s0")).cast("long").alias("covered_us"),
    )


@query(
    "conversion_latency",
    oracle="""
    WITH s1 AS (
        SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS t1
        FROM events WHERE event_type = 'signup' GROUP BY user_id
    ), conv AS (
        SELECT e.user_id,
               (epoch_us(MIN(CAST(e.ts AS TIMESTAMP)))
                - epoch_us(MIN(s1.t1))) // 1000000 AS latency_s
        FROM events e JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) >= s1.t1
        GROUP BY e.user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT)       AS n_converted,
           CAST(MIN(latency_s) AS BIGINT) AS min_s,
           quantile_cont(latency_s, 0.5)  AS median_s,
           quantile_cont(latency_s, 0.9)  AS p90_s,
           CAST(MAX(latency_s) AS BIGINT) AS max_s
    FROM conv
    """,
)
def conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution (the funnel's latency cousin): seconds
    from a user's first signup to their first at-or-after purchase, then
    the exact latency quantiles — the SLA numbers product teams actually
    track. Latencies are integer seconds (epoch-µs subtraction, integer
    division); the interpolated percentiles follow the proven
    ``agg_percentile`` parity (Spark percentile == DuckDB quantile_cont on
    identical inputs). Two user-keyed aggregates joined on user_id, then
    one scalar summary row."""
    cat = Catalog(spark, sf_dir)
    # One persisted type-filtered scan feeds both stages (was two full
    # event scans).
    ev = persist(
        cat.events.select("user_id", "event_type", "ts")
        .where(F.col("event_type").isin("signup", "purchase"))
    )
    s1 = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    conv = (
        ev.where(F.col("event_type") == "purchase")
        .join(s1, "user_id")
        .where(F.col("ts") >= F.col("t1"))
        .groupBy("user_id")
        .agg(
            F.expr(
                "(unix_micros(CAST(MIN(ts) AS TIMESTAMP)) - unix_micros(CAST(MIN(t1) AS TIMESTAMP))) DIV 1000000"
            ).alias("latency_s")
        )
    )
    return conv.agg(
        F.count("*").alias("n_converted"),
        F.min("latency_s").alias("min_s"),
        F.percentile(F.col("latency_s"), F.lit(0.5)).alias("median_s"),
        F.percentile(F.col("latency_s"), F.lit(0.9)).alias("p90_s"),
        F.max("latency_s").alias("max_s"),
    )


_ATTR_WINDOW_US = 7 * 86400 * 1_000_000


@query(
    "attribution_last_touch",
    oracle=f"""
    WITH u AS (
        SELECT user_id, event_id, event_type,
               CAST(ts AS TIMESTAMP) AS ts,
               CASE WHEN event_type = 'click'
                    THEN CAST(ts AS TIMESTAMP) END AS click_ts,
               CASE WHEN event_type = 'purchase'
                    THEN CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
               END AS cents
        FROM events WHERE event_type IN ('click', 'purchase')
    ), w AS (
        SELECT *,
               MAX(click_ts) OVER (
                   PARTITION BY user_id
                   ORDER BY ts,
                            CASE WHEN event_type = 'click' THEN 0 ELSE 1 END,
                            event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS last_click_ts
        FROM u
    )
    SELECT CAST(ts AS DATE) AS d,
           last_click_ts IS NOT NULL
               AND epoch_us(ts) - epoch_us(last_click_ts)
                   <= {_ATTR_WINDOW_US} AS attributed,
           CAST(COUNT(*) AS BIGINT)    AS n_purchases,
           CAST(SUM(cents) AS BIGINT)  AS revenue_cents
    FROM w WHERE event_type = 'purchase'
    GROUP BY 1, 2
    """,
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution with a 7-day lookback: each purchase
    credits the user's most recent click, but only if it happened within
    the attribution window — otherwise the purchase is organic. The
    touch-to-conversion matching is the as-of-join union trick
    (``join_asof``) with an EXPIRY gate on top: one user-partitioned window
    carries the running MAX click timestamp (order-free, unlike
    last-ignorenulls), the purchase row compares it against the window in
    exact epoch-µs, and the daily rollup splits attributed vs organic
    revenue in integer cents. One user-keyed window exchange + one
    day-keyed aggregate — no purchase×click self-join at any scale. Clicks
    sort before purchases at equal timestamps (inclusive touch)."""
    cat = Catalog(spark, sf_dir)
    u = cat.events.where(F.col("event_type").isin("click", "purchase")).select(
        "user_id",
        "event_id",
        "event_type",
        "ts",
        F.when(F.col("event_type") == "click", F.col("ts")).alias("click_ts"),
        F.when(
            F.col("event_type") == "purchase",
            F.expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)"),
        ).alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(
            F.col("ts"),
            F.when(F.col("event_type") == "click", F.lit(0)).otherwise(F.lit(1)),
            F.col("event_id"),
        )
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    flagged = u.withColumn("last_click_ts", F.max("click_ts").over(w))
    gate = F.col("last_click_ts").isNotNull() & (
        F.unix_micros(F.col("ts").cast("timestamp"))
        - F.unix_micros(F.col("last_click_ts").cast("timestamp"))
        <= _ATTR_WINDOW_US
    )
    return (
        flagged.where(F.col("event_type") == "purchase")
        .select(
            F.to_date("ts").alias("d"),
            gate.alias("attributed"),
            "cents",
        )
        .groupBy("d", "attributed")
        .agg(
            F.count("*").alias("n_purchases"),
            F.sum("cents").cast("long").alias("revenue_cents"),
        )
    )


_FUNNEL_CAP_US = 7 * 86400 * 1_000_000


@query(
    "funnel_windowed",
    oracle=f"""
    WITH s1 AS (
        SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS t1
        FROM events WHERE event_type = 'signup' GROUP BY user_id
    ), s2 AS (
        SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t2
        FROM events e JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = 'click'
          AND CAST(e.ts AS TIMESTAMP) >= s1.t1
          AND epoch_us(CAST(e.ts AS TIMESTAMP)) - epoch_us(s1.t1)
              <= {_FUNNEL_CAP_US}
        GROUP BY e.user_id
    ), s3 AS (
        SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t3
        FROM events e JOIN s2 ON e.user_id = s2.user_id
        WHERE e.event_type = 'purchase'
          AND CAST(e.ts AS TIMESTAMP) >= s2.t2
          AND epoch_us(CAST(e.ts AS TIMESTAMP)) - epoch_us(s2.t2)
              <= {_FUNNEL_CAP_US}
        GROUP BY e.user_id
    ), base AS (SELECT CAST(COUNT(*) AS BIGINT) AS n0 FROM s1)
    SELECT stage, step, users,
           CAST(users AS DOUBLE) / (SELECT n0 FROM base) AS conversion
    FROM (
        SELECT 'signup' AS stage, 1 AS step, CAST(COUNT(*) AS BIGINT) AS users
        FROM s1
        UNION ALL SELECT 'click', 2, CAST(COUNT(*) AS BIGINT) FROM s2
        UNION ALL SELECT 'purchase', 3, CAST(COUNT(*) AS BIGINT) FROM s3
    )
    """,
)
def funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-capped funnel (the analytics-product default, vs
    ``funnel_conversion``'s unbounded stages): each stage must follow the
    previous one WITHIN 7 days, so stale conversions don't count — "did
    the click happen because of the signup" gets a causality window. Stage
    gates compare exact epoch-µs differences; otherwise identical chained
    per-user aggregates on one user_id key. The cap makes stage counts
    NON-monotone-safe to assume — a user can convert late and drop out of
    step 2 while another converts in-window — which is precisely why
    real funnels are windowed. r7: one persisted type-filtered fact scan
    feeds all three stages (was three); s1/s2 cached for their two
    consumers each."""
    cat = Catalog(spark, sf_dir)
    ev = persist(
        cat.events.select("user_id", "event_type", "ts")
        .where(F.col("event_type").isin("signup", "click", "purchase"))
    )

    def within(e_ts, prev_ts):
        return (
            F.unix_micros(e_ts.cast("timestamp"))
            - F.unix_micros(prev_ts.cast("timestamp"))
            <= _FUNNEL_CAP_US
        )

    s1 = persist(
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = persist(
        ev.where(F.col("event_type") == "click")
        .join(s1, "user_id")
        .where((F.col("ts") >= F.col("t1")) & within(F.col("ts"), F.col("t1")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.where(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .where((F.col("ts") >= F.col("t2")) & within(F.col("ts"), F.col("t2")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    base = s1.agg(F.count("*").alias("n0"))
    stages = (
        s1.agg(F.count("*").alias("users")).select(
            F.lit("signup").alias("stage"), F.lit(1).alias("step"), "users"
        )
        .unionByName(
            s2.agg(F.count("*").alias("users")).select(
                F.lit("click").alias("stage"), F.lit(2).alias("step"), "users"
            )
        )
        .unionByName(
            s3.agg(F.count("*").alias("users")).select(
                F.lit("purchase").alias("stage"), F.lit(3).alias("step"), "users"
            )
        )
    )
    return stages.crossJoin(F.broadcast(base)).select(
        "stage",
        "step",
        F.col("users").cast("long").alias("users"),
        (F.col("users").cast("double") / F.col("n0")).alias("conversion"),
    )


@query(
    "retention_curve",
    oracle="""
    WITH firsts AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS d0 FROM events
        WHERE user_id IS NOT NULL
        GROUP BY user_id
    ), cohort AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_users FROM firsts
    ), activity AS (
        SELECT DISTINCT e.user_id,
               datediff('day', f.d0, CAST(e.ts AS DATE)) AS day_n
        FROM events e JOIN firsts f ON e.user_id = f.user_id
    ), marks AS (
        SELECT day_n, CAST(COUNT(*) AS BIGINT) AS retained
        FROM activity WHERE day_n IN (1, 7, 14, 28)
        GROUP BY day_n
    )
    SELECT CAST(m.day_n AS BIGINT) AS day_n, m.retained, c.n_users,
           CAST(m.retained * 1000000 // c.n_users AS BIGINT) AS retained_ppm
    FROM marks m CROSS JOIN cohort c
    """,
)
def retention_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The D1/D7/D14/D28 retention curve — the canonical product-health
    metric (``retention_cohorts`` slices by monthly cohort; this is the
    whole-population day-offset curve): a user counts as retained on day N
    when active exactly N days after their OWN first day.

    Plan (reworked in the round-9 rescan audit — the r1-r8 shape scanned
    events THREE times: the first-day aggregate built twice, for the
    cohort count and for a user-keyed join back over the full fact table):
    ONE scan → distinct (user, day) rows → a sortless per-user MIN window
    attaches each user's first day (the window re-shuffles only the
    user-day table, strictly smaller than the events join it replaces) →
    one scalar aggregate computes all four retention marks plus the cohort
    size (each user counted exactly once via a null-safe d == d0 match —
    the distinct guarantees one first-day row per user) → the 1-row
    summary reshapes to the 4-row curve, dropping empty marks exactly as
    the oracle's GROUP BY does. Retention ships in integer ppm.

    Anonymous (NULL user_id) events are excluded on BOTH engines up front:
    the oracle's inner join would drop them from activity yet a bare
    GROUP BY would count them as a cohort "user" — a divergence a nullable
    fixture would expose even though the current generator never emits
    null users (ADVICE r9)."""
    cat = Catalog(spark, sf_dir)
    ud = (
        cat.events.where(F.col("user_id").isNotNull())
        .select("user_id", F.to_date("ts").alias("d"))
        .distinct()
    )
    w = Window.partitionBy("user_id")
    ud2 = ud.select(
        F.expr("datediff(d, min(d) OVER (PARTITION BY user_id))").alias(
            "day_n"
        ),
        F.col("d").eqNullSafe(F.min("d").over(w)).alias("is_first"),
    )
    summary = ud2.agg(
        *[
            F.sum(F.when(F.col("day_n") == n, 1).otherwise(0)).alias(f"r{n}")
            for n in (1, 7, 14, 28)
        ],
        F.sum(F.when(F.col("is_first"), 1).otherwise(0)).alias("n_users"),
    )
    marks = summary.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(n).cast("long").alias("day_n"),
                        F.col(f"r{n}").cast("long").alias("retained"),
                    )
                    for n in (1, 7, 14, 28)
                ]
            )
        ).alias("m"),
        F.col("n_users").cast("long").alias("n_users"),
    )
    return (
        marks.where(F.col("m.retained") > 0)
        .select(
            F.col("m.day_n").alias("day_n"),
            F.col("m.retained").alias("retained"),
            "n_users",
            F.expr(
                "CAST(m.retained * 1000000 DIV n_users AS BIGINT)"
            ).alias("retained_ppm"),
        )
    )


@query(
    "cohort_ltv",
    oracle="""
    WITH firsts AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS d0 FROM events
        WHERE user_id IS NOT NULL
        GROUP BY user_id
    ), cohorts AS (
        SELECT d0 - CAST(datediff('day', DATE '2024-01-01', d0) % 7 AS INT)
                   AS cohort_week, user_id, d0
        FROM firsts
    ), sizes AS (
        SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS cohort_users
        FROM cohorts GROUP BY cohort_week
    ), rev AS (
        SELECT c.cohort_week,
               datediff('day', c.d0, CAST(e.ts AS DATE)) // 7 AS age_weeks,
               CAST(SUM(CAST(CAST(e.value AS DECIMAL(12,2)) * 100 AS BIGINT))
                    AS BIGINT) AS cents
        FROM events e JOIN cohorts c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase'
        GROUP BY c.cohort_week, datediff('day', c.d0, CAST(e.ts AS DATE)) // 7
    )
    SELECT r.cohort_week, CAST(r.age_weeks AS BIGINT) AS age_weeks,
           s.cohort_users, r.cents,
           CAST(SUM(r.cents) OVER (PARTITION BY r.cohort_week
                ORDER BY r.age_weeks ROWS BETWEEN UNBOUNDED PRECEDING
                AND CURRENT ROW) AS BIGINT) AS cum_cents,
           CAST(CAST(SUM(r.cents) OVER (PARTITION BY r.cohort_week
                ORDER BY r.age_weeks ROWS BETWEEN UNBOUNDED PRECEDING
                AND CURRENT ROW) AS BIGINT) // s.cohort_users AS BIGINT)
               AS ltv_cents_per_user
    FROM rev r JOIN sizes s ON s.cohort_week = r.cohort_week
    """,
)
def cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: users grouped into weekly signup
    cohorts (first-active week, aligned to the corpus epoch so the
    boundary is engine-neutral), purchase revenue accumulated by cohort
    AGE in weeks, and the running LTV per user in integer cents — the
    growth metric that tells whether newer cohorts monetize faster. One
    user-keyed first-day aggregate, a user-keyed join back, a
    (cohort × age) rollup, then a cumulative window over calendar-bounded
    rows per cohort. Exact cents end-to-end; the per-user division is
    integer (floor) on both engines."""
    cat = Catalog(spark, sf_dir)
    # Round-9 rescan-audit rework: the r1-r8 shape scanned events THREE
    # times (the first-day aggregate built twice — sizes + join — plus the
    # purchase leg joined back over the fact table on user). Now ONE scan:
    # a per-user window attaches d0 and flags exactly one first row per
    # user (row_number — ties on the first day broken arbitrarily, only
    # the flag matters), then a single (cohort_week, age_weeks) aggregate
    # carries BOTH grains — purchase cents for the revenue rows AND
    # first-row user counts, which land in the user's age-0 group by
    # construction (the rn==1 row's date IS d0) — and a tiny window over
    # the aggregate recovers per-cohort sizes. Groups kept only when they
    # contain a purchase row, matching the oracle's rev CTE.
    # Anonymous (NULL user_id) events are excluded on BOTH engines up
    # front — the window treats NULL as a real partition while the
    # oracle's inner join drops it, a divergence a nullable fixture would
    # expose (ADVICE r9).
    uw = Window.partitionBy("user_id").orderBy("d", "event_id")
    ev = cat.events.where(F.col("user_id").isNotNull()).select(
        "event_id",
        "user_id",
        F.to_date("ts").alias("d"),
        (F.col("event_type") == "purchase").alias("is_purchase"),
        F.expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)").alias(
            "cents"
        ),
    ).select(
        "d",
        "is_purchase",
        "cents",
        F.min("d").over(Window.partitionBy("user_id")).alias("d0"),
        (F.row_number().over(uw) == 1).alias("is_first"),
    )
    g = (
        ev.select(
            F.expr(
                "date_sub(d0, datediff(d0, DATE '2024-01-01') % 7)"
            ).alias("cohort_week"),
            F.expr("datediff(d, d0) DIV 7").alias("age_weeks"),
            "is_purchase",
            "cents",
            "is_first",
        )
        .groupBy("cohort_week", "age_weeks")
        .agg(
            F.sum(F.when(F.col("is_purchase"), F.col("cents"))).cast(
                "long"
            ).alias("cents"),
            F.sum(F.when(F.col("is_purchase"), 1).otherwise(0)).alias(
                "n_purch"
            ),
            F.sum(F.when(F.col("is_first"), 1).otherwise(0)).alias(
                "first_users"
            ),
        )
    )
    wc = Window.partitionBy("cohort_week")
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("age_weeks")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        g.withColumn(
            "cohort_users", F.sum("first_users").over(wc).cast("long")
        )
        .where(F.col("n_purch") > 0)
        .withColumn("cum_cents", F.sum("cents").over(w).cast("long"))
        .select(
            "cohort_week",
            F.col("age_weeks").cast("long").alias("age_weeks"),
            "cohort_users",
            "cents",
            "cum_cents",
            F.expr("CAST(cum_cents DIV cohort_users AS BIGINT)").alias(
                "ltv_cents_per_user"
            ),
        )
    )


@query(
    "ts_decompose",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d,
               datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) % 7 AS dow,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    ), trended AS (
        SELECT *,
               CAST(SUM(c) OVER w7 AS BIGINT)   AS win_sum,
               CAST(COUNT(*) OVER w7 AS BIGINT) AS win_n
        FROM daily
        WINDOW w7 AS (PARTITION BY event_type ORDER BY d
                      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ), detr AS (
        -- detrended, scaled by win_n: d_scaled = c·win_n − win_sum
        SELECT *, c * win_n - win_sum AS d_scaled FROM trended
    ), seas AS (
        SELECT event_type AS et2, dow AS dow2,
               CAST(SUM(d_scaled) AS BIGINT)  AS s_sum,
               CAST(COUNT(*) AS BIGINT)       AS s_n
        FROM detr GROUP BY event_type, dow
    )
    SELECT event_type, d, c,
           win_sum, win_n,
           CAST(d_scaled AS BIGINT)                          AS detrended_scaled,
           CAST(s_sum // s_n AS BIGINT)                      AS seasonal_scaled,
           CAST(d_scaled - s_sum // s_n AS BIGINT)           AS residual_scaled
    FROM detr JOIN seas ON et2 = event_type AND dow2 = dow
    """,
)
def ts_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical seasonal decomposition (STL-lite), exactly: per type,
    trend = centered 7-day moving window, seasonal = day-of-week mean of
    the detrended series, residual = what's left. Float division never
    happens — the detrended value is SCALED by the window row count
    (c·n − Σ), and the seasonal component is an integer-floored mean of
    those scaled values, so all three components hash bit-for-bit
    (interpret by dividing by win_n downstream). Edge days keep their
    truncated windows (win_n < 7), the standard moving-average boundary
    convention, carried explicitly so the scale factor is honest. Shapes:
    one daily rollup, one type-keyed window, one (type × dow) aggregate
    joined back at dimension cardinality — calendar-bounded after the
    first shuffle, like every detector in this module."""
    cat = Catalog(spark, sf_dir)
    daily = (
        cat.events.select("event_type", F.to_date("ts").alias("d"))
        .groupBy("event_type", "d")
        .agg(F.count("*").alias("c"))
        .withColumn("dow", F.expr("datediff(d, DATE '2024-01-01') % 7"))
    )
    w7 = (
        Window.partitionBy("event_type").orderBy("d").rowsBetween(-3, 3)
    )
    # Persisted: detr (fact rollup + trend window) feeds both the seasonal
    # aggregate and the final join — uncached, the events scan + rollup +
    # window ran twice. Calendar-bounded cache.
    detr = persist(
        daily.withColumn("win_sum", F.sum("c").over(w7).cast("long"))
        .withColumn("win_n", F.count("*").over(w7))
        .withColumn(
            "d_scaled", F.col("c") * F.col("win_n") - F.col("win_sum")
        )
    )
    seas = detr.groupBy(
        F.col("event_type").alias("et2"), F.col("dow").alias("dow2")
    ).agg(
        F.sum("d_scaled").cast("long").alias("s_sum"),
        F.count("*").alias("s_n"),
    )
    return (
        detr.join(
            F.broadcast(seas),
            (F.col("et2") == F.col("event_type")) & (F.col("dow2") == F.col("dow")),
        )
        .select(
            "event_type",
            "d",
            "c",
            "win_sum",
            "win_n",
            F.col("d_scaled").cast("long").alias("detrended_scaled"),
            F.expr("CAST(s_sum DIV s_n AS BIGINT)").alias("seasonal_scaled"),
            F.expr("CAST(d_scaled - s_sum DIV s_n AS BIGINT)").alias(
                "residual_scaled"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Time-weighted average over irregular samples (the TimescaleDB
# time_weight() capability, exact-integer form)
# ---------------------------------------------------------------------------

@query(
    "twap_irregular",
    oracle="""
    WITH s AS (
        SELECT event_type,
               CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
               epoch_us(CAST(ts AS TIMESTAMP)) AS t_us,
               CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
               event_id
        FROM events
    ), w AS (
        SELECT event_type, d, cents,
               COALESCE(
                   LEAD(t_us) OVER (PARTITION BY event_type, d
                                    ORDER BY t_us, event_id),
                   epoch_us(CAST(d + INTERVAL 1 DAY AS TIMESTAMP))
               ) - t_us AS dur_us
        FROM s
    )
    SELECT event_type, d,
           CAST(COUNT(*) AS BIGINT)            AS n_samples,
           CAST(SUM(dur_us) AS BIGINT)         AS held_us,
           CAST(SUM(cents * dur_us) AS BIGINT) AS weighted_sum,
           CAST(SUM(cents * dur_us) // SUM(dur_us) AS BIGINT) AS twap_cents
    FROM w GROUP BY event_type, d
    """,
)
def twap_irregular(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value over IRREGULARLY-sampled events (the
    TimescaleDB ``time_weight`` / kdb+ twap capability): each sample holds
    its value until the next sample in the same (event_type, day) series —
    the last one until midnight — so the average weights by HELD TIME, not
    by sample count (a burst of ticks no longer dominates the day). All
    arithmetic is exact: durations in µs, values in cents, the average a
    truncating BIGINT division, so both engines hash identically.

    Plan: one (event_type, day)-keyed window for the LEAD (the sort is
    per-day-bounded), then a partial-aggregating rollup on the same keys —
    the exchange is shared. At 100 TB the series key is (symbol, day) and
    the same two-stage shape reads date-partitioned input with the window
    running inside each partition."""
    cat = Catalog(spark, sf_dir)
    s = cat.events.select(
        "event_type",
        F.col("ts").cast("timestamp").cast("date").alias("d"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"),
        F.expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)").alias(
            "cents"
        ),
        "event_id",
    )
    w = Window.partitionBy("event_type", "d").orderBy("t_us", "event_id")
    held = s.select(
        "event_type",
        "d",
        "cents",
        (
            F.coalesce(
                F.lead("t_us").over(w),
                F.unix_micros(
                    F.date_add(F.col("d"), 1).cast("timestamp")
                ),
            )
            - F.col("t_us")
        ).alias("dur_us"),
    )
    return held.groupBy("event_type", "d").agg(
        F.count("*").alias("n_samples"),
        F.sum("dur_us").cast("long").alias("held_us"),
        F.sum(F.col("cents") * F.col("dur_us")).cast("long").alias(
            "weighted_sum"
        ),
        F.expr("SUM(cents * dur_us) DIV SUM(dur_us)")
        .cast("long")
        .alias("twap_cents"),
    )


# ---------------------------------------------------------------------------
# Maximum drawdown (running-peak shortfall) per series
# ---------------------------------------------------------------------------

@query(
    "drawdown_max",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
               CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT))
                    AS BIGINT) AS cents
        FROM events GROUP BY event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE)
    ), dd AS (
        SELECT event_type, cents,
               MAX(cents) OVER (PARTITION BY event_type ORDER BY d
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) - cents AS drawdown
        FROM daily
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT)      AS n_days,
           CAST(MAX(cents) AS BIGINT)    AS peak_cents,
           CAST(MAX(drawdown) AS BIGINT) AS max_drawdown_cents
    FROM dd GROUP BY event_type
    """,
)
def drawdown_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per series (the risk metric: worst drop from a
    running peak): daily value totals per event type, a running MAX window,
    and the largest peak-minus-current gap. Exact integer cents throughout.

    Plan: the fact table reduces to (type, day) rows FIRST (one shuffle);
    the running-peak window and the final rollup both run on the
    calendar-bounded daily table and share its type-keyed exchange. The
    unbounded-preceding MAX is a streaming frame — no second sort, no
    self-join (the naive form joins each day to all earlier days)."""
    cat = Catalog(spark, sf_dir)
    daily = (
        cat.events.select(
            "event_type",
            F.col("ts").cast("timestamp").cast("date").alias("d"),
            F.expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)").alias(
                "cents"
            ),
        )
        .groupBy("event_type", "d")
        .agg(F.sum("cents").cast("long").alias("cents"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dd = daily.select(
        "event_type",
        "cents",
        (F.max("cents").over(w) - F.col("cents")).alias("drawdown"),
    )
    return dd.groupBy("event_type").agg(
        F.count("*").alias("n_days"),
        F.max("cents").cast("long").alias("peak_cents"),
        F.max("drawdown").cast("long").alias("max_drawdown_cents"),
    )


# ---------------------------------------------------------------------------
# Period-over-period comparison (MoM / YoY), calendar-aligned
# ---------------------------------------------------------------------------

@query(
    "period_over_period",
    oracle="""
    WITH monthly AS (
        SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS m,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100
                             AS BIGINT)) AS BIGINT) AS rev_cents
        FROM orders GROUP BY date_trunc('month', CAST(o_orderdate AS DATE))
    )
    SELECT cur.m,
           cur.rev_cents,
           cur.rev_cents - mom.rev_cents AS mom_delta_cents,
           cur.rev_cents - yoy.rev_cents AS yoy_delta_cents
    FROM monthly cur
    LEFT JOIN monthly mom ON mom.m = cur.m - INTERVAL 1 MONTH
    LEFT JOIN monthly yoy ON yoy.m = cur.m - INTERVAL 12 MONTH
    """,
)
def period_over_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month and year-over-year revenue deltas, CALENDAR-aligned:
    each month left-joins the month exactly one/twelve months earlier by
    date arithmetic — not LAG(1)/LAG(12), which silently compares against
    the wrong period whenever a month is missing from the data (the classic
    dashboard bug). Missing comparison periods yield NULL deltas, exactly
    as a reporting layer wants them.

    Plan: the fact table collapses to ~|months| rows in one partial-agg
    shuffle; both alignment joins are broadcasts of that tiny aggregate.
    At 100 TB the monthly rollup reads date-partitioned parquet and the
    join pattern is unchanged — deltas never touch fact-table rows."""
    cat = Catalog(spark, sf_dir)
    monthly = persist(
        cat.orders.select(
            F.trunc(F.col("o_orderdate").cast("date"), "MM").alias("m"),
            F.expr(
                "CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)"
            ).alias("cents"),
        )
        .groupBy("m")
        .agg(F.sum("cents").cast("long").alias("rev_cents"))
        # Persisted: the monthly rollup is fact-scale to compute and feeds
        # the current series AND both alignment sides — uncached, the
        # orders scan + rollup ran three times. ~|months| rows cached.
    )
    cur = monthly.alias("cur")
    mom = monthly.select(
        F.add_months(F.col("m"), 1).alias("m_next"),
        F.col("rev_cents").alias("mom_rev"),
    )
    yoy = monthly.select(
        F.add_months(F.col("m"), 12).alias("m_next_y"),
        F.col("rev_cents").alias("yoy_rev"),
    )
    return (
        cur.join(F.broadcast(mom), F.col("cur.m") == F.col("m_next"), "left")
        .join(F.broadcast(yoy), F.col("cur.m") == F.col("m_next_y"), "left")
        .select(
            F.col("cur.m").alias("m"),
            "rev_cents",
            (F.col("rev_cents") - F.col("mom_rev")).alias("mom_delta_cents"),
            (F.col("rev_cents") - F.col("yoy_rev")).alias("yoy_delta_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Peak concurrency (sweep-line over interval endpoints)
# ---------------------------------------------------------------------------

@query(
    "concurrency_peak",
    oracle="""
    WITH iv AS (
        SELECT event_type, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS s,
               epoch_us(CAST(ts AS TIMESTAMP))
                   + CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
                     * 600000 AS e
        FROM events
    ), pts AS (
        SELECT event_type, s AS t, CAST(1 AS BIGINT) AS delta, event_id
        FROM iv
        UNION ALL
        SELECT event_type, e AS t, CAST(-1 AS BIGINT) AS delta, event_id
        FROM iv
    ), run AS (
        SELECT event_type,
               SUM(delta) OVER (PARTITION BY event_type
                                ORDER BY t, delta, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS conc
        FROM pts
    )
    SELECT event_type,
           CAST(MAX(conc) AS BIGINT)    AS peak_concurrency,
           CAST(COUNT(*) / 2 AS BIGINT) AS n_intervals
    FROM run GROUP BY event_type
    """,
)
def concurrency_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency per series — the sweep-line classic (max simultaneous
    calls / sessions / jobs): each interval contributes a +1 at its start
    and a −1 at its end, and the peak is the max of the running sum over
    endpoints. Intervals derive from events exactly as in
    ``join_interval_overlap`` (value-proportional duration). Endpoint ties
    process ends BEFORE starts (ORDER BY t, delta: −1 < +1), so touching
    intervals never count as concurrent; event_id completes the total
    order, making the running sum — and therefore its max — identical on
    both engines.

    Plan: map-side endpoint explosion (UNION ALL of two projections), one
    type-keyed exchange shared by the window and the rollup. The naive
    form is a self-join counting overlaps per interval — quadratic in the
    overlap density; the sweep line is O(n log n) in the per-key sort that
    the window already pays. At 100 TB, partition-local sweeps merge via
    per-partition (boundary offset, max) summaries — the same associative
    trick as ``shard_balanced``'s distributed prefix sum."""
    cat = Catalog(spark, sf_dir)
    iv = cat.events.select(
        "event_type",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("s"),
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            + F.expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)")
            * 600000
        ).alias("e"),
    )
    # One fact scan: both endpoints explode from the same row (the r1-r6
    # UNION ALL of two projections scanned events twice for a map-only
    # transform).
    pts = iv.select(
        "event_type",
        "event_id",
        F.explode(
            F.array(
                F.struct(
                    F.col("s").alias("t"), F.lit(1).cast("long").alias("delta")
                ),
                F.struct(
                    F.col("e").alias("t"),
                    F.lit(-1).cast("long").alias("delta"),
                ),
            )
        ).alias("pt"),
    ).select("event_type", F.col("pt.t").alias("t"), F.col("pt.delta").alias("delta"), "event_id")
    w = (
        Window.partitionBy("event_type")
        .orderBy("t", "delta", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = pts.select("event_type", F.sum("delta").over(w).alias("conc"))
    return run.groupBy("event_type").agg(
        F.max("conc").cast("long").alias("peak_concurrency"),
        (F.count("*") / 2).cast("long").alias("n_intervals"),
    )


# ---------------------------------------------------------------------------
# Seasonal-naive forecast evaluation (wMAPE, exact-integer)
# ---------------------------------------------------------------------------

@query(
    "forecast_eval_naive",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
               CAST(COUNT(*) AS BIGINT) AS y
        FROM events GROUP BY event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE)
    ), scored AS (
        SELECT a.event_type,
               ABS(a.y - f.y) AS abs_err,
               a.y            AS actual
        FROM daily a JOIN daily f
          ON f.event_type = a.event_type AND f.d = a.d - INTERVAL 7 DAY
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT)       AS n_days_scored,
           CAST(SUM(abs_err) AS BIGINT)   AS total_abs_err,
           CAST(SUM(actual) AS BIGINT)    AS total_actual,
           CAST(SUM(abs_err) * 1000000 // SUM(actual) AS BIGINT)
               AS wmape_ppm
    FROM scored GROUP BY event_type
    """,
)
def forecast_eval_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest of the seasonal-naive forecast (ŷ(d) = y(d−7), the baseline
    every forecasting system must beat): per event type, the weighted MAPE
    of same-weekday-last-week against actuals, in exact ppm integers
    (Σ|err|·10⁶ DIV Σactual — no per-day float division, and wMAPE
    sidesteps MAPE's divide-by-zero on quiet days). The forecast aligns by
    CALENDAR join (d−7), not LAG(7) over an assumed-dense day sequence —
    missing days silently misalign a lag but simply drop out of a join.

    Plan: one daily rollup (the only fact-table shuffle), a self-join of
    that calendar-bounded aggregate on (type, d−7), one final per-type
    fold. At 100 TB the daily table is the pre-aggregated metrics store;
    scoring any horizon h is the same join with d−h."""
    cat = Catalog(spark, sf_dir)
    # Persisted: the rollup self-joins (forecast side vs actual side) —
    # uncached, the events scan + rollup ran twice.
    daily = persist(
        cat.events.select(
            "event_type",
            F.col("ts").cast("timestamp").cast("date").alias("d"),
        )
        .groupBy("event_type", "d")
        .agg(F.count("*").alias("y"))
    )
    f = daily.select(
        F.col("event_type").alias("et_f"),
        F.date_add(F.col("d"), 7).alias("d_f"),
        F.col("y").alias("y_hat"),
    )
    scored = daily.join(
        f,
        (F.col("event_type") == F.col("et_f")) & (F.col("d") == F.col("d_f")),
    ).select(
        "event_type",
        F.abs(F.col("y") - F.col("y_hat")).alias("abs_err"),
        F.col("y").alias("actual"),
    )
    return scored.groupBy("event_type").agg(
        F.count("*").alias("n_days_scored"),
        F.sum("abs_err").cast("long").alias("total_abs_err"),
        F.sum("actual").cast("long").alias("total_actual"),
        F.expr("SUM(abs_err) * 1000000 DIV SUM(actual)")
        .cast("long")
        .alias("wmape_ppm"),
    )


# ---------------------------------------------------------------------------
# Autocorrelation function at fixed lags (exact scaled moments)
# ---------------------------------------------------------------------------

@query(
    "ts_autocorr",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
               CAST(COUNT(*) AS BIGINT) AS y
        FROM events GROUP BY event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE)
    ), stats AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS s
        FROM daily GROUP BY event_type
    ), z AS (
        SELECT d.event_type, d.d, d.y * st.n - st.s AS z
        FROM daily d JOIN stats st ON st.event_type = d.event_type
    ), pairs AS (
        SELECT a.event_type, CAST(1 AS BIGINT) AS lag, a.z * b.z AS zz
        FROM z a JOIN z b
          ON b.event_type = a.event_type AND b.d = a.d + INTERVAL 1 DAY
        UNION ALL
        SELECT a.event_type, CAST(7 AS BIGINT) AS lag, a.z * b.z AS zz
        FROM z a JOIN z b
          ON b.event_type = a.event_type AND b.d = a.d + INTERVAL 7 DAY
    ), den AS (
        SELECT event_type, CAST(SUM(z * z) AS BIGINT) AS zz_all
        FROM z GROUP BY event_type
    )
    SELECT p.event_type, p.lag,
           CAST(COUNT(*) AS BIGINT)    AS n_pairs,
           CAST(SUM(p.zz) AS BIGINT)   AS num_scaled,
           d.zz_all                    AS den_scaled,
           CAST(SUM(p.zz) AS DOUBLE) / CAST(d.zz_all AS DOUBLE) AS acf
    FROM pairs p JOIN den d ON d.event_type = p.event_type
    GROUP BY p.event_type, p.lag, d.zz_all
    """,
)
def ts_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the daily series at lags 1 and 7 (does yesterday
    predict today? does the weekly cycle exist?) — the diagnostic behind
    every seasonality/ARIMA decision. Exactness: the centered values are
    scaled integers z_t = n·y_t − Σy (so no fractional mean ever exists);
    numerator Σz_t·z_{t+k} and denominator Σz_t² are exact BIGINT sums and
    the ACF is their one bit-stable double division. Lag alignment is a
    CALENDAR join (d+k), immune to missing days, and both lags reuse the
    same centered table.

    Plan: fact rows reduce to the daily rollup once; everything after —
    stats join, pair joins, folds — runs on calendar-bounded aggregates
    (broadcastable at any corpus size). The 100 TB pattern for exact
    second-order statistics: scale to integers, fold associatively, divide
    once."""
    cat = Catalog(spark, sf_dir)
    # Persisted: daily is the fact-scale rollup and EVERY downstream leg
    # re-derives from it (stats, both sides of both lag joins, the
    # denominator fold) — uncached, the events scan + rollup would
    # re-execute ~6× per run, which at 100 TB is six full fact scans. The
    # cache itself is calendar-bounded (event_type × days), tiny at any
    # corpus size.
    daily = persist(
        cat.events.select(
            "event_type",
            F.col("ts").cast("timestamp").cast("date").alias("d"),
        )
        .groupBy("event_type", "d")
        .agg(F.count("*").alias("y"))
    )
    stats = daily.groupBy("event_type").agg(
        F.count("*").alias("n"), F.sum("y").cast("long").alias("s")
    )
    z = daily.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "d",
        (F.col("y") * F.col("n") - F.col("s")).alias("z"),
    )
    def _pairs(k: int):
        b = z.select(
            F.col("event_type").alias("et_b"),
            F.date_sub(F.col("d"), k).alias("d_b"),
            F.col("z").alias("z_b"),
        )
        return (
            z.join(
                b,
                (F.col("event_type") == F.col("et_b"))
                & (F.col("d") == F.col("d_b")),
            )
            .select(
                "event_type",
                F.lit(k).cast("long").alias("lag"),
                (F.col("z") * F.col("z_b")).alias("zz"),
            )
        )
    pairs = _pairs(1).unionByName(_pairs(7))
    den = z.groupBy("event_type").agg(
        F.sum(F.col("z") * F.col("z")).cast("long").alias("zz_all")
    )
    return (
        pairs.groupBy("event_type", "lag")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum("zz").cast("long").alias("num_scaled"),
        )
        .join(F.broadcast(den), "event_type")
        .select(
            "event_type",
            "lag",
            "n_pairs",
            "num_scaled",
            F.col("zz_all").alias("den_scaled"),
            (
                F.col("num_scaled").cast("double")
                / F.col("zz_all").cast("double")
            ).alias("acf"),
        )
    )


@query(
    "sessionize_gap_sweep",
    oracle="""
    WITH g AS (
        SELECT epoch_us(CAST(ts AS TIMESTAMP))
               - LAG(epoch_us(CAST(ts AS TIMESTAMP)))
                     OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS gap_us
        FROM events
    ), c AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CASE WHEN gap_us IS NULL OR gap_us > 900000000
                             THEN 1 ELSE 0 END) AS BIGINT) AS s15,
               CAST(SUM(CASE WHEN gap_us IS NULL OR gap_us > 1800000000
                             THEN 1 ELSE 0 END) AS BIGINT) AS s30,
               CAST(SUM(CASE WHEN gap_us IS NULL OR gap_us > 3600000000
                             THEN 1 ELSE 0 END) AS BIGINT) AS s60
        FROM g
    ), rows_out AS (
        SELECT 15 AS gap_minutes, s15 AS n_sessions, n_events FROM c
        UNION ALL SELECT 30, s30, n_events FROM c
        UNION ALL SELECT 60, s60, n_events FROM c
    )
    SELECT CAST(gap_minutes AS BIGINT) AS gap_minutes,
           n_sessions,
           CAST(1000000 * n_events // n_sessions AS BIGINT)
               AS events_per_session_ppm
    FROM rows_out
    """,
)
def sessionize_gap_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization sensitivity sweep: how many sessions (and events per
    session, ppm) would a 15 / 30 / 60-minute inactivity threshold
    produce? The tuning table behind ``sessionize_batch``'s fixed 30-min
    gap. Session count per threshold is the classic identity
    ``#sessions(t) = #session-starts(t)`` = rows whose lag-gap is NULL
    (per-user first event) or > t — so ALL thresholds come from ONE
    user-partitioned lag pass and one conditional aggregate; the sweep
    never re-sessionizes."""
    cat = Catalog(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    g = cat.events.select((ts_us - F.lag(ts_us).over(w)).alias("gap_us"))
    start = lambda t_us: F.sum(  # noqa: E731
        F.when(F.col("gap_us").isNull() | (F.col("gap_us") > t_us), 1)
        .otherwise(0)
    ).cast("long")
    c = g.agg(
        F.count("*").cast("long").alias("n_rows"),
        start(900_000_000).alias("s15"),
        start(1_800_000_000).alias("s30"),
        start(3_600_000_000).alias("s60"),
    )
    swept = c.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(15).cast("long").alias("gap_minutes"),
                    F.col("s15").alias("n_sessions"),
                ),
                F.struct(
                    F.lit(30).cast("long").alias("gap_minutes"),
                    F.col("s30").alias("n_sessions"),
                ),
                F.struct(
                    F.lit(60).cast("long").alias("gap_minutes"),
                    F.col("s60").alias("n_sessions"),
                ),
            )
        ).alias("r"),
        "n_rows",
    )
    return swept.select(
        F.col("r.gap_minutes").alias("gap_minutes"),
        F.col("r.n_sessions").alias("n_sessions"),
        F.expr("CAST(1000000 * n_rows div r.n_sessions AS BIGINT)").alias(
            "events_per_session_ppm"
        ),
    )


@query(
    "rolling_ols_slope",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
               CAST(SUM(CAST(value AS DECIMAL(12,2)) * 100) AS BIGINT)
                   AS cents
        FROM events GROUP BY 1, 2
    ), m AS (
        SELECT event_type, day, cents,
               COUNT(*) OVER w7                 AS n,
               SUM(day) OVER w7                 AS sx,
               SUM(cents) OVER w7               AS sy,
               SUM(day * cents) OVER w7         AS sxy,
               SUM(day * day) OVER w7           AS sxx
        FROM daily
        WINDOW w7 AS (PARTITION BY event_type ORDER BY day
                      RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, CAST(day AS BIGINT) AS day, cents,
           CAST(n AS BIGINT) AS n_days,
           CAST(CASE WHEN n < 2 OR n * sxx - sx * sx = 0 THEN 0
                     ELSE (1000 * (n * sxy - sx * sy)
                           // (n * sxx - sx * sx)) * 1000
                          + (((1000 * (n * sxy - sx * sy))
                              % (n * sxx - sx * sx)) * 1000)
                            // (n * sxx - sx * sx)
                END AS BIGINT) AS slope_ppm
    FROM m
    """,
)
def rolling_ols_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series rolling trend: the closed-form OLS slope of daily revenue
    over a trailing 7-day RANGE frame — ``trend_ols``'s five-moment trick
    made a WINDOW operator, the shape behind "is this metric trending up
    RIGHT NOW" panels. The daily rollup reduces events to (type × day)
    scale first; all four moment sums come from ONE partitioned RANGE
    frame; the slope (cents/day, ppm) is exact integer arithmetic — the
    1e6 scaling runs as two-step long division (÷1000 twice) because
    1e6·numerator can pass 2^63 while every two-step intermediate stays
    bounded by 1000·|denominator| (signed: both engines truncate toward
    zero, and the two-step form equals the one-step quotient for either
    sign). Degenerate frames (n<2) report slope 0."""
    cat = Catalog(spark, sf_dir)
    daily = (
        cat.events.groupBy(
            "event_type",
            F.expr(
                "unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000"
            ).alias("day"),
        )
        .agg(
            F.sum(F.col("value").cast("decimal(12,2)") * 100)
            .cast("long")
            .alias("cents")
        )
    )
    w7 = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rangeBetween(-6, Window.currentRow)
    )
    m = daily.select(
        "event_type",
        "day",
        "cents",
        F.count("*").over(w7).alias("n"),
        F.sum("day").over(w7).alias("sx"),
        F.sum("cents").over(w7).alias("sy"),
        F.sum(F.col("day") * F.col("cents")).over(w7).alias("sxy"),
        F.sum(F.col("day") * F.col("day")).over(w7).alias("sxx"),
    )
    return m.select(
        "event_type",
        F.col("day").cast("long").alias("day"),
        "cents",
        F.col("n").cast("long").alias("n_days"),
        F.expr(
            """
            CAST(CASE WHEN n < 2 OR n * sxx - sx * sx = 0 THEN 0
                      ELSE (1000 * (n * sxy - sx * sy)
                            div (n * sxx - sx * sx)) * 1000
                           + (((1000 * (n * sxy - sx * sy))
                               % (n * sxx - sx * sx)) * 1000)
                             div (n * sxx - sx * sx)
                 END AS BIGINT)
            """
        ).alias("slope_ppm"),
    )


@query(
    "metric_decomposition",
    oracle="""
    WITH monthly AS (
        SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS m,
               CAST(COUNT(*) AS BIGINT) AS q,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100
                             AS BIGINT)) AS BIGINT) AS cents
        FROM orders GROUP BY 1
    )
    SELECT cur.m, cur.q, cur.cents,
           (cur.q - prev.q) * (prev.cents * 1000 // prev.q)
               AS volume_effect_mc,
           (cur.cents - prev.cents) * 1000
               - (cur.q - prev.q) * (prev.cents * 1000 // prev.q)
               AS price_effect_mc
    FROM monthly cur
    JOIN monthly prev ON prev.m = cur.m - INTERVAL 1 MONTH
    """,
)
def metric_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metric-tree decomposition: each month's revenue change split into a
    VOLUME effect (order-count change × prior average order value) and a
    PRICE/MIX effect (the residual) — the "why did revenue move" panel.
    Defined exactly: AOV is truncated to milli-cents (one integer
    division), the volume term is ΔQ·AOV₁, and the price term is the
    exact residual, so the two effects sum to ΔR·1000 BIT-EXACTLY — no
    float shares that drift from the total. Calendar-aligned join like
    ``period_over_period`` (never LAG over possibly-sparse months); the
    fact table collapses to |months| rows in one shuffle and the
    alignment join broadcasts."""
    cat = Catalog(spark, sf_dir)
    monthly = (
        cat.orders.select(
            F.trunc(F.col("o_orderdate").cast("date"), "MM").alias("m"),
            F.expr(
                "CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)"
            ).alias("c"),
        )
        .groupBy("m")
        .agg(
            F.count("*").cast("long").alias("q"),
            F.sum("c").cast("long").alias("cents"),
        )
    )
    prev = monthly.select(
        F.add_months(F.col("m"), 1).alias("m_next"),
        F.col("q").alias("pq"),
        F.col("cents").alias("pcents"),
    )
    joined = monthly.join(
        F.broadcast(prev), F.col("m") == F.col("m_next")
    )
    aov1 = F.expr("pcents * 1000 div pq")
    return joined.select(
        "m",
        "q",
        "cents",
        ((F.col("q") - F.col("pq")) * aov1).alias("volume_effect_mc"),
        (
            (F.col("cents") - F.col("pcents")) * 1000
            - (F.col("q") - F.col("pq")) * aov1
        ).alias("price_effect_mc"),
    )
