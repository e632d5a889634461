"""Engagement analytics over the events stream: cumulative-distinct user
growth, consecutive-day streaks, exponentially decayed activity scores, and
CUSUM change-point detection on daily volumes.

These are the dashboard cuts one level above the reference's Superset bar
charts (`README.md:25-64`): instead of "sum per item", they answer "how is
the audience growing, how sticky is it, who is active *lately*, and when did
the traffic mix shift". Every query keeps the engine's exactness discipline —
counts and scores are BIGINT/decimal arithmetic (never floating folds), so
the DuckDB oracle hash-matches bit-for-bit at any partitioning.

Scale shapes (100 TB events table, date-partitioned):

- ``running_distinct`` avoids the classic scale trap — COUNT(DISTINCT) over a
  *growing* frame re-scans all history per day. Instead each user's FIRST
  active day is computed once (one shuffle on user_id), daily new-user counts
  are a day-keyed aggregate, and the cumulative sum runs over one row per
  day — bounded by calendar length, not event volume.
- ``user_streaks`` is gaps-and-islands: all three stages key on user_id, so
  one exchange is reused end-to-end; no self-joins over the event log.
- ``agg_decayed`` uses weekly half-life weights 2^(weeks since epoch) — an
  associative weighted SUM, so it is mergeable across partitions and
  maintainable incrementally (``operators/ivm.py``); production renormalizes
  by the epoch step instead of letting exponents grow (the overflow guard
  here caps the horizon, a no-op on the fixture).
- ``cusum_changepoint`` reduces the event log to (type × day) counts first;
  the CUSUM windows then run over calendar-bounded rows per type.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import Catalog
from ..session import persist
from .registry import query
from .streaming_queries import CUSUM_SQL, cusum

#: Overflow guard for the decayed score: weights are 2^weeks, so cap the
#: horizon well below 2^63 / (cents·days). The fixture spans ~5 weeks; a
#: production deployment renormalizes per epoch instead (docstring).
_MAX_WEEKS = 40


@query(
    "running_distinct",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d, user_id FROM events
    ), firsts AS (
        SELECT user_id, MIN(d) AS first_d FROM daily GROUP BY user_id
    ), newby AS (
        SELECT first_d AS d, CAST(COUNT(*) AS BIGINT) AS new_users
        FROM firsts GROUP BY first_d
    ), active AS (
        SELECT d,
               CAST(COUNT(*) AS BIGINT)                AS n_events,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS daily_active
        FROM daily GROUP BY d
    )
    SELECT a.d, a.n_events, a.daily_active,
           COALESCE(n.new_users, 0) AS new_users,
           CAST(SUM(COALESCE(n.new_users, 0))
                OVER (ORDER BY a.d ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS BIGINT) AS cum_users
    FROM active a LEFT JOIN newby n ON n.d = a.d
    """,
)
def running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users by day — the audience-growth curve. The
    naive form (COUNT(DISTINCT user) OVER growing frame) re-scans all prior
    history per day and cannot distribute; the first-seen decomposition is
    the scalable identity: cumulative distinct count == running sum of
    per-day FIRST-appearance counts. One shuffle on user_id (min first day),
    one day-keyed aggregate, then a window over one row per calendar day —
    the only single-partition stage is calendar-bounded (≤ 365 rows/year),
    never event-bounded."""
    cat = Catalog(spark, sf_dir)
    # Persisted: the (day, user) projection feeds both the first-seen pass
    # and the per-day activity rollup — one events scan instead of two.
    # r12: examined and kept LAZY — trivially-rebuildable corpus-sized
    # projection (the measured class where an eager cut regresses M=100;
    # see OPTIMIZATION_r12.md persist sweep).
    daily = persist(cat.events.select(F.to_date("ts").alias("d"), "user_id"))
    firsts = daily.groupBy("user_id").agg(F.min("d").alias("first_d"))
    newby = firsts.groupBy(F.col("first_d").alias("d")).agg(
        F.count("*").alias("new_users")
    )
    active = daily.groupBy("d").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("daily_active"),
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return (
        active.join(F.broadcast(newby), "d", "left")
        .withColumn("new_users", F.coalesce(F.col("new_users"), F.lit(0).cast("long")))
        .withColumn("cum_users", F.sum("new_users").over(w).cast("long"))
    )


@query(
    "user_streaks",
    oracle="""
    WITH days AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ), isl AS (
        SELECT user_id, d,
               d - CAST(ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY d) AS INT) AS anchor
        FROM days
    ), runs AS (
        SELECT user_id, anchor, CAST(COUNT(*) AS BIGINT) AS run_len
        FROM isl GROUP BY user_id, anchor
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT)   AS n_runs,
           MAX(run_len)               AS longest_streak,
           CAST(SUM(run_len) AS BIGINT) AS active_days
    FROM runs GROUP BY user_id
    """,
)
def user_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user (gaps-and-islands):
    distinct active days, anchor = day − row_number (constant within a
    consecutive run), then run lengths and the per-user max. Every exchange
    keys on user_id (the day-distinct pre-aggregate on (user, day), the
    window and final rollups on user) — two user-keyed shuffles total over
    the event log, no self-joins, regardless of how many events back the
    calendar. The same anchor trick segments scenes in
    ``mm_scene_segments``; here it runs on the calendar axis."""
    cat = Catalog(spark, sf_dir)
    days = cat.events.select("user_id", F.to_date("ts").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    isl = days.withColumn("anchor", F.date_sub(F.col("d"), F.row_number().over(w)))
    runs = isl.groupBy("user_id", "anchor").agg(F.count("*").alias("run_len"))
    return runs.groupBy("user_id").agg(
        F.count("*").alias("n_runs"),
        F.max("run_len").alias("longest_streak"),
        F.sum("run_len").cast("long").alias("active_days"),
    )


@query(
    "agg_decayed",
    oracle=f"""
    WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS d,
               CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT))
                    AS BIGINT) AS cents,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY user_id, CAST(ts AS DATE)
    ), epoch AS (
        SELECT MIN(d) AS day0 FROM daily
    ), weighted AS (
        SELECT user_id, d, cents, n_events,
               CAST(POWER(2, datediff('day', day0, d) // 7) AS BIGINT) AS w
        FROM daily, epoch
        WHERE datediff('day', day0, d) // 7 <= {_MAX_WEEKS}
    )
    SELECT user_id,
           CAST(SUM(cents * w) AS BIGINT)    AS decayed_units,
           CAST(SUM(n_events) AS BIGINT)     AS n_events,
           CAST(COUNT(*) AS BIGINT)          AS active_days,
           MAX(d)                            AS last_active
    FROM weighted GROUP BY user_id
    """,
)
def agg_decayed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially decayed engagement score per user, weekly half-life:
    weight = 2^(weeks since corpus epoch), so each week's activity counts
    double the previous week's — recency-weighted value in EXACT integer
    arithmetic (cents × powers of two; no float pow in the fold, both
    engines agree bit-for-bit). A decayed sum is associative (a weighted
    SUM), so it merges across partitions and maintains incrementally from a
    change feed (``operators/ivm.py``); the horizon guard caps the exponent
    — production instead renormalizes by 2 at each weekly rollover (divide
    the running score, add the new week at weight 1), keeping magnitudes
    bounded forever. Two shuffles: (user, day) pre-aggregate, then user."""
    cat = Catalog(spark, sf_dir)
    daily = persist(
        cat.events.select(
            "user_id",
            F.to_date("ts").alias("d"),
            F.expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)").alias(
                "cents"
            ),
        )
        .groupBy("user_id", "d")
        .agg(
            F.sum("cents").cast("long").alias("cents"),
            F.count("*").alias("n_events"),
        )
        # Persisted: the rollup feeds both the epoch scalar and the
        # weighting pass — one events scan instead of two.
    )
    epoch = daily.agg(F.min("d").alias("day0"))
    weeks = F.expr("datediff(d, day0) DIV 7")
    weighted = (
        daily.crossJoin(F.broadcast(epoch))
        .where(weeks <= _MAX_WEEKS)
        .withColumn(
            "w",
            F.expr(
                "shiftleft(CAST(1 AS BIGINT),"
                " CAST(datediff(d, day0) DIV 7 AS INT))"
            ),
        )
    )
    return weighted.groupBy("user_id").agg(
        F.sum(F.col("cents") * F.col("w")).cast("long").alias("decayed_units"),
        F.sum("n_events").cast("long").alias("n_events"),
        F.count("*").alias("active_days"),
        F.max("d").alias("last_active"),
    )


@query("cusum_changepoint", oracle=CUSUM_SQL)
def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection on daily event volume per type: the
    cumulative sum of deviations from the per-type mean peaks at the point
    where the level shifts. Scaled by n_days to stay in integers —
    S_d·nd = Σ_{i≤d} (c_i·nd − total) — so the peak day, its deviation, and
    the 2×-mean shift flag are all exact BIGINT math, no float means. The
    event log collapses to (type × day) counts first (one shuffle, one scan);
    per-type totals are an UNBOUNDED window — not an aggregate joined back —
    so all three windows (totals, CUSUM, argmax rank) share the single
    event_type exchange. At 100 TB the daily counts
    come straight from a date-partitioned rollup — the detector never
    re-touches raw events."""
    cat = Catalog(spark, sf_dir)
    daily = (
        cat.events.select("event_type", F.to_date("ts").alias("d"))
        .groupBy("event_type", "d")
        .agg(F.count("*").alias("c"))
    )
    return cusum(daily)


@query(
    "activity_bitmap",
    oracle="""
    WITH epoch AS (
        SELECT MIN(CAST(ts AS DATE)) AS day0 FROM events
    ), bits AS (
        SELECT user_id,
               bit_or(CAST(1 AS BIGINT) << CAST(least(
                   datediff('day', day0, CAST(ts AS DATE)), 62) AS INT))
                   AS days_bitmap
        FROM events CROSS JOIN epoch
        GROUP BY user_id
    )
    SELECT user_id, days_bitmap,
           CAST(bit_count(days_bitmap) AS BIGINT) AS active_days,
           CAST(len(bin(days_bitmap & -days_bitmap)) - 1 AS BIGINT)
               AS first_day_idx,
           CAST(len(bin(days_bitmap)) - 1 AS BIGINT) AS last_day_idx,
           CAST(CAST(bit_count(days_bitmap) AS BIGINT) * 1000000
                // (len(bin(days_bitmap)) - len(bin(days_bitmap & -days_bitmap))
                    + 1) AS BIGINT) AS density_ppm
    FROM bits
    """,
)
def activity_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitmap-index engagement analytics: each user's activity calendar
    packs into ONE BIGINT (bit d = active on day d since the corpus
    epoch) via a ``bit_or`` aggregate — the roaring-bitmap representation
    at word granularity. Downstream stats are pure bit arithmetic:
    popcount for active days, lowest/highest set bit (isolated with
    ``b & -b``, positioned with the binary-string length — no float log)
    for first/last day, and span density in integer ppm. A 64-bit word
    covers ~2 months; production shards epochs into word-per-period rows
    (exactly roaring's container scheme) and every stat stays a word-wise
    fold. One shuffle; the bitmap replaces a per-(user, day) distinct
    table a hundred times its size — the point of bitmap indexes. The
    62-bit clamp is the overflow guard (no-op on the fixture).
    Cross-check: ``tests/test_engagement_contracts.py`` recomputes streaks
    from these bitmaps and matches ``user_streaks`` exactly."""
    cat = Catalog(spark, sf_dir)
    epoch = cat.events.agg(F.min(F.to_date("ts")).alias("day0"))
    bits = (
        cat.events.crossJoin(F.broadcast(epoch))
        .select(
            "user_id",
            F.expr(
                "shiftleft(CAST(1 AS BIGINT),"
                " CAST(least(datediff(CAST(ts AS DATE), day0), 62) AS INT))"
            ).alias("day_bit"),
        )
        .groupBy("user_id")
        .agg(F.bit_or("day_bit").alias("days_bitmap"))
    )
    b = F.col("days_bitmap")
    low = F.expr("days_bitmap & -days_bitmap")
    return bits.select(
        "user_id",
        "days_bitmap",
        F.bit_count(b).cast("long").alias("active_days"),
        (F.length(F.bin(low)) - 1).cast("long").alias("first_day_idx"),
        (F.length(F.bin(b)) - 1).cast("long").alias("last_day_idx"),
        F.expr(
            "CAST(CAST(bit_count(days_bitmap) AS BIGINT) * 1000000"
            " DIV (length(bin(days_bitmap))"
            " - length(bin(days_bitmap & -days_bitmap)) + 1) AS BIGINT)"
        ).alias("density_ppm"),
    )


@query(
    "bitmap_segment_overlap",
    oracle="""
    WITH seg AS (
        SELECT DISTINCT event_type, user_id FROM events
        WHERE event_type IN ('click', 'purchase', 'signup')
    ), words AS (
        SELECT event_type, user_id // 63 AS word_idx,
               bit_or(CAST(1 AS BIGINT) << CAST(user_id % 63 AS INT)) AS bits
        FROM seg GROUP BY event_type, user_id // 63
    ), pairs AS (
        SELECT a.event_type AS seg_a, b.event_type AS seg_b,
               a.word_idx, a.bits & b.bits AS both_bits,
               a.bits AS bits_a, b.bits AS bits_b
        FROM words a JOIN words b
          ON a.word_idx = b.word_idx AND a.event_type < b.event_type
    )
    SELECT seg_a, seg_b,
           CAST(SUM(bit_count(both_bits)) AS BIGINT)          AS n_overlap,
           CAST(SUM(bit_count(bits_a | bits_b)) AS BIGINT)    AS n_union,
           CAST(SUM(bit_count(xor(bits_a, bits_b))) AS BIGINT) AS n_sym_diff
    FROM pairs GROUP BY seg_a, seg_b
    """,
)
def bitmap_segment_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT audience overlap between behavior segments via bitmap joins —
    the Druid/Pinot answer to COUNT(DISTINCT A ∩ B): each segment's user
    set packs into 64-bit words keyed by user_id DIV 64 (``bit_or``
    aggregate — mergeable, order-free), and every set operation becomes a
    word-wise equi-join on word_idx with AND/OR/XOR + popcount. The wire
    carries |users|/64 words per segment instead of the user sets; the
    overlap join compares words, never users. This is the exact
    counterpart of ``kmv_overlap``'s constant-size estimate — pick by
    whether |users|/64 rows still fit the exchange budget. Spark and
    DuckDB agree bit-for-bit on &, |, ^ and bit_count over BIGINT."""
    cat = Catalog(spark, sf_dir)
    seg = (
        cat.events.where(
            F.col("event_type").isin("click", "purchase", "signup")
        )
        .select("event_type", "user_id")
        .distinct()
    )
    # Persisted: the word table is the bitmap index and both self-join
    # sides read it — one events scan + bitmap build instead of two.
    words = persist(
        seg.groupBy("event_type", F.expr("user_id DIV 63").alias("word_idx"))
        .agg(
            F.bit_or(
                F.expr(
                    "shiftleft(CAST(1 AS BIGINT), CAST(user_id % 63 AS INT))"
                )
            ).alias("bits")
        )
    )
    a = words.select(
        F.col("event_type").alias("seg_a"),
        "word_idx",
        F.col("bits").alias("bits_a"),
    )
    b = words.select(
        F.col("event_type").alias("seg_b"),
        "word_idx",
        F.col("bits").alias("bits_b"),
    )
    return (
        a.join(b, "word_idx")
        .where(F.col("seg_a") < F.col("seg_b"))
        .groupBy("seg_a", "seg_b")
        .agg(
            F.sum(F.bit_count(F.expr("bits_a & bits_b")))
            .cast("long")
            .alias("n_overlap"),
            F.sum(F.bit_count(F.expr("bits_a | bits_b")))
            .cast("long")
            .alias("n_union"),
            F.sum(F.bit_count(F.expr("bits_a ^ bits_b")))
            .cast("long")
            .alias("n_sym_diff"),
        )
    )


@query(
    "ctr_wilson",
    oracle="""
    WITH pairs AS (
        SELECT user_id,
               CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                    AS BIGINT) AS views,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS clicks
        FROM events GROUP BY user_id
    ), banded AS (
        SELECT CAST(least(views // 10, 4) AS BIGINT) AS view_band,
               CAST(COUNT(*) AS BIGINT)  AS n_users,
               CAST(SUM(views) AS BIGINT)  AS views,
               CAST(SUM(clicks) AS BIGINT) AS clicks
        FROM pairs GROUP BY least(views // 10, 4)
        HAVING SUM(views) + SUM(clicks) > 0
    )
    SELECT view_band, n_users, views, clicks,
           CAST(clicks AS DOUBLE) / (views + clicks) AS click_share,
           (CAST(clicks AS DOUBLE) / (views + clicks)
            + 1.92199208 / (2 * (views + clicks))
            - 1.96 * sqrt((CAST(clicks AS DOUBLE) / (views + clicks))
                          * (1 - CAST(clicks AS DOUBLE) / (views + clicks))
                          / (views + clicks)
                          + 1.92199208
                            / (4 * (views + clicks) * (views + clicks))))
               / (1 + 1.92199208 / (views + clicks)) AS share_wilson_low
    FROM banded
    """,
)
def ctr_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interaction click-share with the Wilson score lower bound — the
    ranking statistic that keeps low-traffic segments from winning on one
    lucky click (plain rates are what naive dashboards sort by; Wilson is
    what ranking systems use). The binomial is clicks out of ALL
    view+click interactions, so the proportion is well-defined ∈ [0,1]
    whatever the event mix. Inputs are exact integer counts per engagement
    band; the bound is a FIXED expression of them —
    every +, ×, /, sqrt is a single correctly-rounded IEEE op on identical
    operands, the same bit-stability argument as ``embed_feature_hash`` —
    so even this algebraically heavy float hashes identically (z=1.96,
    z²=3.8416 folded to literal constants: 1.92199208 = z²/2). Two keyed
    aggregates, band-cardinality output."""
    cat = Catalog(spark, sf_dir)
    pairs = cat.events.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("long")
        .alias("views"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("clicks"),
    )
    banded = (
        pairs.groupBy(
            F.expr("CAST(least(views DIV 10, 4) AS BIGINT)").alias("view_band")
        )
        .agg(
            F.count("*").alias("n_users"),
            F.sum("views").cast("long").alias("views"),
            F.sum("clicks").cast("long").alias("clicks"),
        )
        .where(F.col("views") + F.col("clicks") > 0)
    )
    n = F.col("views") + F.col("clicks")
    p = F.col("clicks").cast("double") / n
    z2h = 1.92199208  # z²/2 for z = 1.96
    wilson_low = (
        p + z2h / (2 * n) - 1.96 * F.sqrt(p * (1 - p) / n + z2h / (4 * n * n))
    ) / (1 + z2h / n)
    return banded.select(
        "view_band",
        "n_users",
        "views",
        "clicks",
        p.alias("click_share"),
        wilson_low.alias("share_wilson_low"),
    )


@query(
    "path_trigrams",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               LEAD(event_type, 1) OVER w AS t2,
               LEAD(event_type, 2) OVER w AS t3
        FROM events
        WINDOW w AS (PARTITION BY user_id
                     ORDER BY CAST(ts AS TIMESTAMP), event_id)
    )
    SELECT event_type || '>' || t2 || '>' || t3 AS path,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM seq WHERE t3 IS NOT NULL
    GROUP BY event_type || '>' || t2 || '>' || t3
    ORDER BY n DESC, path LIMIT 10
    """,
)
def path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-path mining (behavioral n-grams): the most common three-step
    event sequences across all users — the "what do people actually do"
    report behind funnel design (funnels test a HYPOTHESIZED path; this
    surfaces the real ones to hypothesize from). The trigram build is the
    event-stream twin of the text bigram machinery: two LEADs over one
    user-time window (no self-joins — the classic path-analysis trap is
    the triple self-join on user), then a path-keyed count and
    TakeOrdered. Deterministic ordering via the (ts, event_id) composite;
    cross-user boundaries never leak because the window partitions by
    user."""
    cat = Catalog(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").cast("timestamp"), F.col("event_id")
    )
    seq = cat.events.select(
        "user_id",
        "event_type",
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    )
    return (
        seq.where(F.col("t3").isNotNull())
        .select(
            F.concat_ws(">", "event_type", "t2", "t3").alias("path")
        )
        .groupBy("path")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("path"))
        .limit(10)
    )


@query(
    "stickiness_dau_mau",
    oracle="""
    WITH days AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ), spine AS (
        SELECT DISTINCT d FROM days
    ), dau AS (
        SELECT d, CAST(COUNT(*) AS BIGINT) AS dau FROM days GROUP BY d
    ), mau AS (
        SELECT s.d, CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS mau
        FROM spine s JOIN days a
          ON a.d BETWEEN s.d - 27 AND s.d
        GROUP BY s.d
    )
    SELECT dau.d, dau.dau, mau.mau,
           CAST(dau.dau * 1000000 // mau.mau AS BIGINT) AS stickiness_ppm
    FROM dau JOIN mau ON mau.d = dau.d
    """,
)
def stickiness_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness — the engagement-health ratio — with MAU computed
    the SCALABLE way: "distinct users in a trailing 28-day window per day"
    naively needs a range self-join plus a windowed COUNT DISTINCT (the
    oracle does exactly that — quadratic in the calendar and re-counting
    users per day). The engine instead uses the interval identity: a user
    counts toward MAU(d) iff d falls in some [active_day, active_day+27]
    interval, so per user those intervals MERGE (gaps-and-islands — runs
    of days < 28 apart collapse), each merged island contributes +1 at its
    start and −1 after its end, and MAU is the running sum of the DIFF
    ARRAY over the day spine. Shuffles: user-keyed island merge, then
    day-keyed delta aggregate + calendar-bounded cumsum — no range join,
    no distinct-in-window, each user processed once."""
    cat = Catalog(spark, sf_dir)
    # Persisted: days is the fact-scale distinct and feeds dau, the island
    # window AND the date-bounds scalar — uncached, the events scan +
    # distinct would run four times. (user, day)-cardinality cache.
    days = persist(
        cat.events.select("user_id", F.to_date("ts").alias("d"))
        .distinct()
    )
    dau = days.groupBy("d").agg(F.count("*").alias("dau"))
    # Merge each user's [d, d+27] cover intervals: a new island starts when
    # the day is > 27 days after the previous day (gap exceeds the window).
    w_prev = Window.partitionBy("user_id").orderBy("d")
    isl = (
        days.withColumn("prev_d", F.lag("d").over(w_prev))
        .withColumn(
            "new_isl",
            F.when(
                F.col("prev_d").isNull()
                | (F.datediff(F.col("d"), F.col("prev_d")) > 27),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "isl_id",
            F.sum("new_isl").over(
                w_prev.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    runs = isl.groupBy("user_id", "isl_id").agg(
        F.min("d").alias("s0"), F.expr("date_add(MAX(d), 27)").alias("e1")
    )
    deltas = (
        runs.select(F.col("s0").alias("d"), F.lit(1).alias("delta"))
        .unionByName(
            runs.select(
                F.expr("date_add(e1, 1)").alias("d"), F.lit(-1).alias("delta")
            )
        )
        .groupBy("d")
        .agg(F.sum("delta").alias("delta"))
    )
    bounds = days.agg(
        F.min("d").alias("d_min"), F.max("d").alias("d_max")
    )
    spine = bounds.select(
        F.explode(F.expr("sequence(d_min, d_max)")).alias("d")
    )
    w_cum = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    mau = (
        spine.join(deltas, "d", "left")
        .withColumn("delta", F.coalesce(F.col("delta"), F.lit(0)))
        .withColumn("mau", F.sum("delta").over(w_cum).cast("long"))
    )
    return dau.join(mau.select("d", "mau"), "d").select(
        "d",
        "dau",
        "mau",
        F.expr("CAST(dau * 1000000 DIV mau AS BIGINT)").alias("stickiness_ppm"),
    )


@query(
    "markov_transitions",
    oracle="""
    WITH seq AS (
        SELECT event_type AS t_from,
               LEAD(event_type, 1) OVER (
                   PARTITION BY user_id
                   ORDER BY CAST(ts AS TIMESTAMP), event_id) AS t_to
        FROM events
    ), pairs AS (
        SELECT t_from, t_to, CAST(COUNT(*) AS BIGINT) AS n
        FROM seq WHERE t_to IS NOT NULL
        GROUP BY t_from, t_to
    )
    SELECT t_from, t_to, n,
           CAST(SUM(n) OVER (PARTITION BY t_from) AS BIGINT) AS n_from,
           CAST(n * 1000000 //
                SUM(n) OVER (PARTITION BY t_from) AS BIGINT) AS p_ppm
    FROM pairs
    """,
)
def markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order behavior Markov chain: the event-to-next-event transition
    matrix with row-normalized probabilities in integer ppm — the
    micro-level complement of ``path_trigrams`` (paths show WHAT sequences
    happen; the transition matrix is the generative model you simulate or
    anomaly-score against, and its rows feed the same perplexity machinery
    as ``ngram_bigram_lm`` does for text). One user-time LEAD window, a
    (from, to)-keyed count, and a from-partitioned window for the
    denominator — the transition matrix is event-type² cells, so
    everything after the pair count is dimension-sized."""
    cat = Catalog(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").cast("timestamp"), F.col("event_id")
    )
    seq = cat.events.select(
        F.col("event_type").alias("t_from"),
        F.lead("event_type", 1).over(w).alias("t_to"),
    )
    pairs = (
        seq.where(F.col("t_to").isNotNull())
        .groupBy("t_from", "t_to")
        .agg(F.count("*").alias("n"))
    )
    w_from = Window.partitionBy("t_from")
    return pairs.select(
        "t_from",
        "t_to",
        "n",
        F.sum("n").over(w_from).cast("long").alias("n_from"),
        F.expr(
            "CAST(n * 1000000 DIV SUM(n) OVER (PARTITION BY t_from) AS BIGINT)"
        ).alias("p_ppm"),
    )


@query(
    "growth_accounting",
    oracle="""
    WITH weeks AS (
        SELECT DISTINCT user_id,
               datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7 AS wk
        FROM events
    ), flagged AS (
        SELECT user_id, wk,
               MIN(wk) OVER (PARTITION BY user_id) AS first_wk,
               LAG(wk) OVER (PARTITION BY user_id ORDER BY wk) AS prev_wk
        FROM weeks
    ), classed AS (
        SELECT wk,
               CASE WHEN wk = first_wk THEN 'new'
                    WHEN prev_wk = wk - 1 THEN 'retained'
                    ELSE 'resurrected' END AS status
        FROM flagged
    ), actives AS (
        SELECT wk, status, CAST(COUNT(*) AS BIGINT) AS n
        FROM classed GROUP BY wk, status
    ), churned AS (
        SELECT f.wk + 1 AS wk, 'churned' AS status,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM flagged f
        WHERE NOT EXISTS (
            SELECT 1 FROM weeks w2
            WHERE w2.user_id = f.user_id AND w2.wk = f.wk + 1
        ) AND f.wk + 1 <= (SELECT MAX(wk) FROM weeks)
        GROUP BY f.wk + 1
    )
    SELECT CAST(wk AS BIGINT) AS wk, status, n FROM actives
    UNION ALL
    SELECT CAST(wk AS BIGINT) AS wk, status, n FROM churned
    """,
)
def growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting (the new/retained/resurrected/churned quad — the
    standard MAU-decomposition every growth team reports): per week, every
    active user is NEW (first week ever), RETAINED (active the previous
    week too), or RESURRECTED (returning after a gap); users active in
    week w but not w+1 count as CHURNED in w+1. Classification needs only
    each user's OWN week sequence — one user-partitioned window pass
    (first week via MIN, previous week via LAG) and an anti-join for
    churn, all user-keyed; the report is (weeks × 4) rows. The invariant
    actives(w) = actives(w−1) + new + resurrected − churned is what makes
    this the accounting identity dashboards reconcile against."""
    cat = Catalog(spark, sf_dir)
    # Persisted: weeks is the fact-scale distinct and feeds the window
    # pass, the max-week scalar AND the churn anti-join's right side —
    # uncached, the events scan + distinct would run four times. flagged
    # is additionally cached for its two consumers (classification and the
    # churn probe) so the user-window runs once. Both caches are
    # (user, week)-cardinality.
    weeks = persist(
        cat.events.select(
            "user_id",
            F.expr(
                "datediff(CAST(ts AS DATE), DATE '2024-01-01') DIV 7"
            ).alias("wk"),
        )
        .distinct()
    )
    w_all = Window.partitionBy("user_id")
    w_seq = Window.partitionBy("user_id").orderBy("wk")
    flagged = persist(
        weeks.withColumn("first_wk", F.min("wk").over(w_all))
        .withColumn("prev_wk", F.lag("wk").over(w_seq))
    )
    classed = flagged.select(
        "wk",
        F.when(F.col("wk") == F.col("first_wk"), "new")
        .when(F.col("prev_wk") == F.col("wk") - 1, "retained")
        .otherwise("resurrected")
        .alias("status"),
    )
    actives = classed.groupBy("wk", "status").agg(F.count("*").alias("n"))
    max_wk = weeks.agg(F.max("wk").alias("max_wk"))
    nxt = flagged.select("user_id", (F.col("wk") + 1).alias("wk"))
    churned = (
        nxt.join(weeks, ["user_id", "wk"], "left_anti")
        .crossJoin(F.broadcast(max_wk))
        .where(F.col("wk") <= F.col("max_wk"))
        .groupBy("wk")
        .agg(F.count("*").alias("n"))
        .select("wk", F.lit("churned").alias("status"), "n")
    )
    return (
        actives.select(F.col("wk").cast("long").alias("wk"), "status", "n")
        .unionByName(
            churned.select(F.col("wk").cast("long").alias("wk"), "status", "n")
        )
    )


# ---------------------------------------------------------------------------
# Restartable running sum (cumulative metric with conditional resets)
# ---------------------------------------------------------------------------

@query(
    "running_sum_reset",
    oracle="""
    WITH ev AS (
        SELECT user_id, event_id,
               CAST(ts AS TIMESTAMP) AS t,
               CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END AS is_reset,
               CASE WHEN event_type = 'purchase'
                    THEN CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
                    ELSE 0 END AS cents
        FROM events
    ), epochs AS (
        SELECT user_id, cents,
               SUM(is_reset) OVER (PARTITION BY user_id ORDER BY t, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS epoch
        FROM ev
    ), runs AS (
        SELECT user_id, epoch,
               CAST(SUM(cents) AS BIGINT) AS epoch_cents,
               CAST(COUNT(*) AS BIGINT)   AS epoch_events
        FROM epochs GROUP BY user_id, epoch
    )
    SELECT CAST(epoch AS BIGINT)            AS epoch,
           CAST(COUNT(*) AS BIGINT)         AS n_users,
           CAST(SUM(epoch_cents) AS BIGINT) AS total_cents,
           CAST(MAX(epoch_cents) AS BIGINT) AS max_epoch_cents
    FROM runs GROUP BY epoch
    """,
)
def running_sum_reset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Restartable cumulative sum — the accumulator that RESETS on a marker
    event (spend since last re-signup; balance since last settlement;
    mileage since last service). SQL has no native "sum with reset"; the
    scalable encoding is two STACKED windows on the same (user, time)
    order: the running count of reset markers numbers the epochs (each
    reset starts a new island), then grouping by (user, epoch) folds each
    island. Rolled up here per epoch index: how much accumulates before
    the 1st/2nd/... reset.

    Plan: both the epoch window and the island fold key on user_id — one
    fact shuffle; the final epoch rollup moves island-level rows only. No
    self-join (the naive encoding joins each row to its most recent reset —
    a range join over the fact table)."""
    cat = Catalog(spark, sf_dir)
    ev = cat.events.select(
        "user_id",
        "event_id",
        F.col("ts").cast("timestamp").alias("t"),
        F.when(F.col("event_type") == "signup", 1).otherwise(0).alias(
            "is_reset"
        ),
        F.when(
            F.col("event_type") == "purchase",
            F.expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)"),
        )
        .otherwise(0)
        .alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    runs = (
        ev.withColumn("epoch", F.sum("is_reset").over(w))
        .groupBy("user_id", "epoch")
        .agg(
            F.sum("cents").cast("long").alias("epoch_cents"),
            F.count("*").alias("epoch_events"),
        )
    )
    return runs.groupBy(F.col("epoch").cast("long").alias("epoch")).agg(
        F.count("*").alias("n_users"),
        F.sum("epoch_cents").cast("long").alias("total_cents"),
        F.max("epoch_cents").cast("long").alias("max_epoch_cents"),
    )


@query(
    "gini_by_segment",
    oracle="""
    WITH x AS (
        SELECT c_mktsegment,
               CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                   AS cents,
               row_number() OVER (PARTITION BY c_mktsegment
                                  ORDER BY o_totalprice, o_orderkey) AS i
        FROM orders JOIN customer ON o_custkey = c_custkey
    )
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT)    AS n_orders,
           CAST(SUM(cents) AS BIGINT)  AS total_cents,
           CAST(1000000 * (2 * SUM(i * cents) - (COUNT(*) + 1) * SUM(cents))
                // (COUNT(*) * SUM(cents)) AS BIGINT) AS gini_ppm
    FROM x GROUP BY c_mktsegment
    """,
)
def gini_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration (Gini coefficient) per market segment — the
    inequality summary behind ``abc_classification``'s class cut: 0 means
    every order is equal, →1 means a few whales carry the segment. Exact
    rank formula G = (2·Σi·xᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ) over cents-exact
    prices under a total (price, orderkey) order — evaluated by two-step
    long division so no intermediate crosses 2^63, no float folds. The ranking window partitions by segment (never a
    global sort); the join is an equi-join on custkey feeding the same
    segment-keyed pipeline. Σi·x stays under 2^63 to ~1e8 orders/segment;
    past that the two sums move to DECIMAL(38,0)."""
    cat = Catalog(spark, sf_dir)
    x = (
        cat.orders.join(
            cat.customer.select("c_custkey", "c_mktsegment"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            "c_mktsegment",
            (F.col("o_totalprice").cast("decimal(12,2)") * 100)
            .cast("long")
            .alias("cents"),
            F.row_number()
            .over(
                Window.partitionBy("c_mktsegment").orderBy(
                    "o_totalprice", "o_orderkey"
                )
            )
            .alias("i"),
        )
    )
    return x.groupBy("c_mktsegment").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("total_cents"),
        # 1e6·numerator would pass 2^63 (DuckDB silently promotes to
        # HUGEINT; Spark would wrap) — schoolbook two-step long division
        # keeps every intermediate under 2^63 and is exactly
        # floor(1e6·N / D) for the non-negative N here.
        F.expr(
            """
            CAST(((2 * SUM(i * cents) - (COUNT(*) + 1) * SUM(cents)) * 1000
                  div (COUNT(*) * SUM(cents))) * 1000
                 + (((2 * SUM(i * cents) - (COUNT(*) + 1) * SUM(cents)) * 1000
                     % (COUNT(*) * SUM(cents))) * 1000)
                   div (COUNT(*) * SUM(cents)) AS BIGINT)
            """
        ).alias("gini_ppm"),
    )


@query(
    "survival_table",
    oracle="""
    WITH spans AS (
        SELECT user_id,
               (epoch_us(MAX(CAST(ts AS TIMESTAMP)))
                - epoch_us(MIN(CAST(ts AS TIMESTAMP)))) // 86400000000
                   AS lifespan_days
        FROM events GROUP BY user_id
    ), census AS (
        SELECT lifespan_days AS k, CAST(COUNT(*) AS BIGINT) AS ended
        FROM spans GROUP BY lifespan_days
    )
    SELECT CAST(k AS BIGINT) AS k,
           ended,
           CAST(SUM(ended) OVER (ORDER BY k DESC ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS n_at_risk,
           CAST(1000000 * (SUM(ended) OVER (ORDER BY k DESC
                           ROWS UNBOUNDED PRECEDING) - ended)
                // SUM(ended) OVER (ORDER BY k DESC ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS survive_step_ppm
    FROM census
    """,
)
def survival_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survival-analysis life table (the Kaplan-Meier ingredients, exact):
    per observed lifespan k (days between a user's first and last event),
    how many users' histories END at k, how many were still at risk
    (lifespan ≥ k — a DESCENDING cumulative sum over the bounded
    day-offset domain, no per-user scan per k), and the per-step survival
    fraction (n_at_risk − ended)/n_at_risk in ppm. The KM product is the
    running product of those steps — left to the reader/BI because exact
    integer products explode; every INPUT to it here is exact. Shape: one
    user rollup shuffle, then a ≤|days| census with bounded-domain
    windows (kth_order_statistics argument)."""
    cat = Catalog(spark, sf_dir)
    spans = (
        cat.events.select("user_id", F.col("ts").cast("timestamp").alias("t"))
        .groupBy("user_id")
        .agg(
            F.expr(
                "(unix_micros(MAX(t)) - unix_micros(MIN(t))) div 86400000000"
            ).alias("k")
        )
    )
    census = spans.groupBy("k").agg(F.count("*").cast("long").alias("ended"))
    w_desc = Window.orderBy(F.desc("k")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return census.select(
        F.col("k").cast("long").alias("k"),
        "ended",
        F.sum("ended").over(w_desc).cast("long").alias("n_at_risk"),
        F.expr(
            """
            CAST(1000000 * (SUM(ended) OVER (ORDER BY k DESC
                            ROWS UNBOUNDED PRECEDING) - ended)
                 div SUM(ended) OVER (ORDER BY k DESC
                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
            """
        ).alias("survive_step_ppm"),
    )


@query(
    "ks_two_sample",
    oracle="""
    WITH v AS (
        SELECT event_type,
               CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        FROM events WHERE event_type IN ('view', 'purchase')
    ), h AS (
        SELECT cents,
               CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                    AS BIGINT) AS c1,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS c2
        FROM v GROUP BY cents
    ), cum AS (
        SELECT SUM(c1) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS f1,
               SUM(c2) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS f2,
               SUM(c1) OVER () AS n1,
               SUM(c2) OVER () AS n2
        FROM h
    )
    SELECT CAST(MAX(n1) AS BIGINT) AS n1,
           CAST(MAX(n2) AS BIGINT) AS n2,
           CAST(1000000 * MAX(ABS(f1 * n2 - f2 * n1)) // (MAX(n1) * MAX(n2))
                AS BIGINT) AS ks_d_ppm
    FROM cum
    """,
)
def ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic: D = max |F₁ − F₂|
    between the view and purchase value distributions — the
    nonparametric "did the distribution shift" companion to
    ``ab_srm_check``'s count test and ``ab_cuped``'s mean test. Cross-
    multiplied to integers: |f₁·n₂ − f₂·n₁| over the merged cents domain,
    one division at the end (ppm). One shuffle to the per-cents
    histogram; both ECDFs ride a single ordered window over it. Value
    domains beyond ~1e6 distinct move to the fixed-width-bucket
    histogram (``stream_percentile_live``'s state) with bucket-resolution
    D — same formula."""
    cat = Catalog(spark, sf_dir)
    v = cat.events.filter(
        F.col("event_type").isin("view", "purchase")
    ).select(
        "event_type",
        F.expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)").alias(
            "cents"
        ),
    )
    h = v.groupBy("cents").agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("long")
        .alias("c1"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("c2"),
    )
    w_cum = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, 0
    )
    every = Window.partitionBy()
    cum = h.select(
        F.sum("c1").over(w_cum).alias("f1"),
        F.sum("c2").over(w_cum).alias("f2"),
        F.sum("c1").over(every).alias("n1"),
        F.sum("c2").over(every).alias("n2"),
    )
    return cum.agg(
        F.max("n1").cast("long").alias("n1"),
        F.max("n2").cast("long").alias("n2"),
        F.expr(
            "CAST(1000000 * MAX(ABS(f1 * n2 - f2 * n1))"
            " div (MAX(n1) * MAX(n2)) AS BIGINT)"
        ).alias("ks_d_ppm"),
    )
