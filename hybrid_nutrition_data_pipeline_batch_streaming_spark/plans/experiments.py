"""Experimentation + behavioral-sequence analytics over the events stream:
complex-event pattern matching (the Flink-CEP / MATCH_RECOGNIZE capability),
A/B sample-ratio-mismatch auditing, RFM customer segmentation, and linear
multi-touch attribution.

These extend the reference's dashboard layer (`README.md:25-64` — Superset
charts over per-item aggregates) with the experiment- and journey-level cuts
a product team runs next: "did the assignment split drift", "what sequences
do users actually follow", "which customers are worth what", "how should
revenue credit spread over the touches that drove it".

Exactness discipline (what makes the DuckDB value-hash gate deterministic):
chi-square statistics and fractional credits are integer-scaled (ppm /
micro-cents) with truncating division — identical on both engines for the
positive operands used here — and every journey string is built under a
total (ts, event_id) order, so no float folds and no tie ambiguity anywhere.

Scale shapes (100 TB events, date-partitioned):

- ``cep_pattern_match`` shuffles once on user_id; journeys are bounded by
  per-user event counts (session-bounded in production — cap with a
  time-windowed journey or per-session grouping), and the regex match is
  map-side after the grouped sort. No self-joins: the classic CEP-as-SQL
  trap is one self-join per pattern step.
- ``ab_srm_check`` is a pure two-level aggregate (user→variant, then
  type×variant); the chi-square test is a closed form of exact counts.
- ``rfm_segments`` reduces orders to one row per customer before any
  ranking. The global NTILE sort is the documented small-table step (rows =
  |customers|, ~1000× smaller than the fact table); at 100 TB the same
  query swaps NTILE for broadcast quantile cutoffs (`kth_order_statistics`
  shows the exact-histogram route) without touching the rollup.
- ``attribution_linear`` joins purchases to clicks per user (equi-join on
  user_id + time residual) — never a global range join; the per-purchase
  touch count is a window over the pair set, reusing the join's partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import Catalog
from ..session import checkpoint_truncate, persist
from .registry import query

#: Attribution lookback: touches older than this many µs credit nothing.
_LOOKBACK_US = 7 * 86400 * 1_000_000

#: chi-square critical value at α=0.05, df=1, scaled to ppm.
_CHI2_CRIT_PPM = 3_841_459


@query(
    "cep_pattern_match",
    oracle="""
    WITH j AS (
        SELECT user_id,
               string_agg(substr(event_type, 1, 1), ''
                          ORDER BY CAST(ts AS TIMESTAMP), event_id) AS journey
        FROM events GROUP BY user_id
    ), m AS (
        SELECT user_id,
               CAST(len(regexp_extract_all(journey, 'vc*p')) AS BIGINT)
                   AS n_matches,
               CAST(len(journey) AS BIGINT) AS journey_len
        FROM j
    )
    SELECT n_matches,
           CAST(COUNT(*) AS BIGINT)         AS n_users,
           CAST(SUM(journey_len) AS BIGINT) AS total_events
    FROM m GROUP BY n_matches
    """,
)
def cep_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complex-event pattern matching (MATCH_RECOGNIZE / Flink-CEP class):
    count, per user, non-overlapping occurrences of the funnel pattern
    view (click)* purchase — "a view leading to a purchase through any
    number of clicks" — then histogram users by match count. Each user's
    journey is its event-type initial string under the total (ts,
    event_id) order (initials are distinct across the five fixture types),
    so the pattern is one ``regexp_count`` per user instead of the
    relational encoding's one-self-join-per-step. The chosen regex has no
    backtracking ambiguity (``c*`` can only end where ``p`` begins), so
    Java regex and RE2 find byte-identical match sets. One user-keyed
    shuffle; the grouped sort is per-user-bounded; everything after is
    map-side."""
    cat = Catalog(spark, sf_dir)
    j = (
        cat.events.select(
            "user_id",
            F.struct(
                F.col("ts").cast("timestamp").alias("ts"),
                F.col("event_id").alias("event_id"),
                F.substring("event_type", 1, 1).alias("i"),
            ).alias("s"),
        )
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("s")), lambda s: s["i"]
                ),
                "",
            ).alias("journey")
        )
    )
    m = j.select(
        F.regexp_count(F.col("journey"), F.lit("vc*p")).cast("long").alias(
            "n_matches"
        ),
        F.length("journey").cast("long").alias("journey_len"),
    )
    return m.groupBy("n_matches").agg(
        F.count("*").alias("n_users"),
        F.sum("journey_len").cast("long").alias("total_events"),
    )


@query(
    "ab_srm_check",
    oracle=f"""
    WITH assigned AS (
        SELECT event_type,
               (strpos('0123456789abcdef',
                       substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) - 1) % 2
                   AS variant
        FROM events
    ), counts AS (
        SELECT event_type,
               CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_a,
               CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_b
        FROM assigned GROUP BY event_type
    )
    SELECT event_type, n_a, n_b,
           CAST((n_a - n_b) * (n_a - n_b) * 1000000 // (n_a + n_b)
                AS BIGINT) AS chi2_ppm,
           (n_a - n_b) * (n_a - n_b) * 1000000 // (n_a + n_b)
               > {_CHI2_CRIT_PPM} AS srm_flag
    FROM counts
    """,
)
def ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B-test sample-ratio-mismatch audit: deterministically assign every
    user to variant A/B by an md5 bit (the industry-standard hash split),
    then per event type run the 50/50 chi-square test — with expected
    counts n/2 the statistic collapses to (a−b)²/n, computed here in exact
    ppm-scaled integers (no float χ² libraries, no order dependence).
    SRM is the canary metric every experimentation platform checks before
    trusting any treatment effect. Pure two-stage aggregate: map-side
    hash + conditional count, one type-keyed exchange; the test itself is
    a closed-form expression over two BIGINTs."""
    cat = Catalog(spark, sf_dir)
    variant = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 1), 16, 10)
        .cast("long")
        % 2
    )
    counts = (
        cat.events.select("event_type", variant.alias("variant"))
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("variant") == 0, 1).otherwise(0))
            .cast("long")
            .alias("n_a"),
            F.sum(F.when(F.col("variant") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_b"),
        )
    )
    diff = F.col("n_a") - F.col("n_b")
    chi2_ppm = F.expr("(n_a - n_b) * (n_a - n_b) * 1000000 DIV (n_a + n_b)")
    return counts.select(
        "event_type",
        "n_a",
        "n_b",
        chi2_ppm.cast("long").alias("chi2_ppm"),
        (chi2_ppm > _CHI2_CRIT_PPM).alias("srm_flag"),
    )


@query(
    "rfm_segments",
    oracle="""
    WITH per_cust AS (
        SELECT o_custkey,
               CAST(date_diff('day', MAX(CAST(o_orderdate AS DATE)),
                              (SELECT MAX(CAST(o_orderdate AS DATE))
                               FROM orders)) AS BIGINT) AS recency_days,
               CAST(COUNT(*) AS BIGINT) AS frequency,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100
                             AS BIGINT)) AS BIGINT) AS monetary_cents
        FROM orders GROUP BY o_custkey
    ), scored AS (
        SELECT *,
               NTILE(5) OVER (ORDER BY recency_days, o_custkey)       AS r,
               NTILE(5) OVER (ORDER BY frequency DESC, o_custkey)     AS f,
               NTILE(5) OVER (ORDER BY monetary_cents DESC, o_custkey) AS m
        FROM per_cust
    )
    SELECT r, f, m,
           CAST(COUNT(*) AS BIGINT)            AS n_customers,
           CAST(SUM(monetary_cents) AS BIGINT) AS revenue_cents
    FROM scored GROUP BY r, f, m
    """,
)
def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation — the
    classic CRM cut: quintile each customer on days-since-last-order,
    order count, and lifetime spend, then report segment sizes and
    revenue. Orders reduce to ONE row per customer before any ranking
    (the fact-table shuffle happens exactly once, on o_custkey); the
    recency anchor is a broadcast 1-row aggregate, not a second scan per
    row. The three NTILEs run on the customer-level table — the documented
    small-table sort (see module docstring for the 100 TB swap to
    broadcast quantile cutoffs). Spend stays in integer cents; NTILE ties
    are broken by custkey so both engines bucket identically."""
    cat = Catalog(spark, sf_dir)
    anchor = cat.orders.agg(
        F.max(F.col("o_orderdate").cast("date")).alias("anchor_d")
    )
    per_cust = (
        cat.orders.groupBy("o_custkey")
        .agg(
            F.max(F.col("o_orderdate").cast("date")).alias("last_d"),
            F.count("*").alias("frequency"),
            F.sum(
                F.expr("CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)")
            )
            .cast("long")
            .alias("monetary_cents"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            "o_custkey",
            F.datediff(F.col("anchor_d"), F.col("last_d"))
            .cast("long")
            .alias("recency_days"),
            "frequency",
            "monetary_cents",
        )
    )
    scored = per_cust.select(
        "monetary_cents",
        F.ntile(5)
        .over(Window.orderBy("recency_days", "o_custkey"))
        .alias("r"),
        F.ntile(5)
        .over(Window.orderBy(F.desc("frequency"), F.asc("o_custkey")))
        .alias("f"),
        F.ntile(5)
        .over(Window.orderBy(F.desc("monetary_cents"), F.asc("o_custkey")))
        .alias("m"),
    )
    return scored.groupBy("r", "f", "m").agg(
        F.count("*").alias("n_customers"),
        F.sum("monetary_cents").cast("long").alias("revenue_cents"),
    )


@query(
    "attribution_linear",
    oracle=f"""
    WITH c AS (
        SELECT user_id, event_id AS click_id,
               CAST(ts AS TIMESTAMP) AS cts
        FROM events WHERE event_type = 'click'
    ), p AS (
        SELECT user_id, event_id AS purchase_id,
               CAST(ts AS TIMESTAMP) AS pts,
               CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        FROM events WHERE event_type = 'purchase'
    ), pairs AS (
        SELECT p.purchase_id, p.cents, c.click_id, c.cts,
               COUNT(*) OVER (PARTITION BY p.purchase_id) AS n_touch
        FROM p JOIN c
          ON c.user_id = p.user_id
         AND c.cts <= p.pts
         AND epoch_us(p.pts) - epoch_us(c.cts) <= {_LOOKBACK_US}
    )
    SELECT CAST(cts AS DATE) AS d,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           CAST(SUM(cents * 1000000 // n_touch) AS BIGINT)
               AS credited_micro_cents
    FROM pairs GROUP BY CAST(cts AS DATE)
    """,
)
def attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear (even-credit) multi-touch attribution: every click within the
    7-day lookback of a purchase shares that purchase's revenue equally,
    rolled up by touch day — the fractional-credit counterpart of
    ``attribution_last_touch``. Purchases join clicks per USER (equi-join
    key) with the lookback as a residual predicate, so this is never a
    global range join; the per-purchase touch count is a window over the
    pair set that reuses the join's hash partitioning (purchase_id is
    user-co-located). Credit is exact micro-cents with truncating
    division — deterministic on both engines for positive operands, and
    Σ credits ≤ revenue by construction (the auditable invariant)."""
    cat = Catalog(spark, sf_dir)
    # One persisted type-filtered scan feeds both sides (was two full
    # event scans).
    # r12: examined and kept LAZY — trivially-rebuildable corpus-sized
    # filter (the measured class where an eager cut regresses M=100).
    ev = persist(
        cat.events.where(F.col("event_type").isin("click", "purchase"))
    )
    c = ev.where(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").cast("timestamp").alias("cts"),
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").cast("timestamp").alias("pts"),
        F.expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)").alias(
            "cents"
        ),
    )
    pairs = p.join(c, "user_id").where(
        (F.col("cts") <= F.col("pts"))
        & (
            F.unix_micros(F.col("pts")) - F.unix_micros(F.col("cts"))
            <= _LOOKBACK_US
        )
    )
    # Window keys = (user_id, purchase_id): purchase_id is globally unique
    # (event_id), so the count is identical to PARTITION BY purchase_id —
    # but ClusteredDistribution(user_id, purchase_id) is satisfied by the
    # join's hashpartitioning(user_id), so when both sides are large (SMJ
    # at 100 TB) the window adds NO exchange. partitionBy(purchase_id)
    # alone would re-shuffle the whole pair set.
    pairs = pairs.withColumn(
        "n_touch",
        F.count("*").over(Window.partitionBy("user_id", "purchase_id")),
    )
    return (
        pairs.select(
            F.to_date("cts").alias("d"),
            F.expr("cents * 1000000 DIV n_touch").alias("credit"),
        )
        .groupBy("d")
        .agg(
            F.count("*").alias("n_touches"),
            F.sum("credit").cast("long").alias("credited_micro_cents"),
        )
    )


@query(
    "ab_cuped",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               (strpos('0123456789abcdef',
                       substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) - 1) % 2
                   AS variant,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                                  AND CAST(ts AS TIMESTAMP)
                                      < TIMESTAMP '2024-01-16'
                             THEN CAST(CAST(value AS DECIMAL(12,2)) * 100
                                       AS BIGINT) // 100 ELSE 0 END)
                    AS BIGINT) AS x,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                                  AND CAST(ts AS TIMESTAMP)
                                      >= TIMESTAMP '2024-01-16'
                             THEN CAST(CAST(value AS DECIMAL(12,2)) * 100
                                       AS BIGINT) // 100 ELSE 0 END)
                    AS BIGINT) AS y
        FROM events GROUP BY user_id
    ), g AS (
        SELECT CAST(COUNT(*) AS BIGINT)     AS n,
               CAST(SUM(x) AS BIGINT)       AS sx,
               CAST(SUM(y) AS BIGINT)       AS sy,
               CAST(SUM(x * y) AS BIGINT)   AS sxy,
               CAST(SUM(x * x) AS BIGINT)   AS sxx
        FROM per_user
    ), v AS (
        SELECT variant,
               CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(x) AS BIGINT)   AS sx_v,
               CAST(SUM(y) AS BIGINT)   AS sy_v
        FROM per_user GROUP BY variant
    )
    SELECT v.variant, v.n_users, v.sx_v, v.sy_v,
           CAST(g.n * g.sxy - g.sx * g.sy AS DOUBLE)
               / CAST(g.n * g.sxx - g.sx * g.sx AS DOUBLE) AS theta,
           CAST(v.sy_v AS DOUBLE) / CAST(v.n_users AS DOUBLE)
             - CAST(g.n * g.sxy - g.sx * g.sy AS DOUBLE)
                 / CAST(g.n * g.sxx - g.sx * g.sx AS DOUBLE)
               * (CAST(v.sx_v AS DOUBLE) / CAST(v.n_users AS DOUBLE)
                  - CAST(g.sx AS DOUBLE) / CAST(g.n AS DOUBLE))
               AS adj_mean
    FROM v CROSS JOIN g
    """,
)
def ab_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced A/B readout (Deng et al., WSDM'13 — the
    technique every experimentation platform applies before reading a
    treatment effect): per-user PRE-period purchase spend is the covariate
    X, post-period spend the metric Y; θ = cov(X,Y)/var(X) from EXACT
    BIGINT moment sums (the ``trend_ols`` pattern), and each variant's
    adjusted mean is mean(Y) − θ·(mean(X) − mean(X)_global) as one fixed
    double expression — every float op correctly rounded in the same order,
    so both engines hash identically. Spend is whole dollars (per-event
    truncating cents÷100) to keep n·Σxy far from BIGINT overflow at scale.

    Plan: ONE user-keyed shuffle builds the per-user (variant, x, y) table;
    the global moments and the two variant rows are both tiny aggregates of
    it, recombined by a broadcast cross join of the 1-row moments. Nothing
    after the first rollup touches fact rows — CUPED at 100 TB costs one
    pass over events."""
    cat = Catalog(spark, sf_dir)
    dollars = F.expr(
        "CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) DIV 100"
    )
    is_purchase = F.col("event_type") == "purchase"
    pre = F.col("ts").cast("timestamp") < F.lit("2024-01-16").cast("timestamp")
    per_user = (
        cat.events.groupBy("user_id")
        .agg(
            F.sum(F.when(is_purchase & pre, dollars).otherwise(0))
            .cast("long")
            .alias("x"),
            F.sum(F.when(is_purchase & ~pre, dollars).otherwise(0))
            .cast("long")
            .alias("y"),
        )
        .select(
            (
                F.conv(
                    F.substring(F.md5(F.col("user_id").cast("string")), 1, 1),
                    16,
                    10,
                ).cast("long")
                % 2
            ).alias("variant"),
            "x",
            "y",
        )
    )
    g = per_user.agg(
        F.count("*").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    v = per_user.groupBy("variant").agg(
        F.count("*").alias("n_users"),
        F.sum("x").cast("long").alias("sx_v"),
        F.sum("y").cast("long").alias("sy_v"),
    )
    theta = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
        / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    )
    adj = (
        F.col("sy_v").cast("double") / F.col("n_users").cast("double")
        - theta
        * (
            F.col("sx_v").cast("double") / F.col("n_users").cast("double")
            - F.col("sx").cast("double") / F.col("n").cast("double")
        )
    )
    return v.crossJoin(F.broadcast(g)).select(
        "variant",
        "n_users",
        "sx_v",
        "sy_v",
        theta.alias("theta"),
        adj.alias("adj_mean"),
    )
