"""Operational / planner observability: exact join-size audit, shuffle-key
skew profiling, and training-mixture ("data recipe") planning.

A 1000-executor deployment lives or dies on questions the queries themselves
never answer: how many rows will this join emit, which shuffle key is skewed
enough to need salting/AQE, and how many epochs of each language does the
target mixture imply. Each audit here is the *exact* distributed computation
of one of those planner inputs — per-key count tables (one shuffle each),
then tiny aggregates — so the audit itself scales to the tables it profiles.

All arithmetic is integer (counts, ppm shares, DIV) so Spark and DuckDB are
bit-identical regardless of partitioning — the repo-wide parity discipline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import Catalog
from ..session import checkpoint_truncate, persist
from .registry import query

# ---------------------------------------------------------------------------
# Exact join-cardinality audit
# ---------------------------------------------------------------------------

@query(
    "join_size_audit",
    oracle="""
    WITH cl AS (SELECT c_custkey AS k, COUNT(*) AS cnt FROM customer GROUP BY 1),
         cr AS (SELECT o_custkey AS k, COUNT(*) AS cnt FROM orders   GROUP BY 1),
         j  AS (SELECT cl.cnt AS a, cr.cnt AS b FROM cl JOIN cr USING (k))
    SELECT (SELECT CAST(SUM(cnt) AS BIGINT) FROM cl) AS rows_left,
           (SELECT CAST(SUM(cnt) AS BIGINT) FROM cr) AS rows_right,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM cl) AS keys_left,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM cr) AS keys_right,
           CAST(COUNT(*) AS BIGINT)                  AS keys_common,
           CAST(SUM(a * b) AS BIGINT)                AS join_rows,
           CAST(MAX(a * b) AS BIGINT)                AS max_key_fanout
    FROM j
    """,
)
def join_size_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pre-join cardinality estimate: |A ⋈ B| = Σ_k cnt_A(k)·cnt_B(k),
    computed from the two per-key count tables — the planner-side audit that
    decides whether a join is safe to run, needs a pre-aggregate, or will
    explode. The count tables are each ONE partial-agg shuffle over their
    fact; the count-table join is key-aligned and tiny relative to the
    facts. At 100 TB this replaces "run it and see" with an O(keys) dry run."""
    cat = Catalog(spark, sf_dir)
    cl = cat.customer.groupBy(F.col("c_custkey").alias("k")).agg(
        F.count("*").alias("a")
    )
    cr = cat.orders.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count("*").alias("b")
    )
    left_tot = cl.agg(
        F.sum("a").alias("rows_left"), F.count("*").alias("keys_left")
    )
    right_tot = cr.agg(
        F.sum("b").alias("rows_right"), F.count("*").alias("keys_right")
    )
    joined = (
        cl.join(cr, "k")
        .agg(
            F.count("*").alias("keys_common"),
            F.sum(F.col("a") * F.col("b")).alias("join_rows"),
            F.max(F.col("a") * F.col("b")).alias("max_key_fanout"),
        )
    )
    return (
        left_tot.crossJoin(F.broadcast(right_tot))
        .crossJoin(F.broadcast(joined))
        .select(
            "rows_left", "rows_right", "keys_left", "keys_right",
            "keys_common", "join_rows", "max_key_fanout",
        )
    )


# ---------------------------------------------------------------------------
# Shuffle-key skew report
# ---------------------------------------------------------------------------

def _skew_duck(table: str, col: str) -> str:
    return f"""
        SELECT '{table}.{col}' AS key_col,
               CAST(SUM(cnt) AS BIGINT)  AS n_rows,
               CAST(COUNT(*) AS BIGINT)  AS n_keys,
               CAST(MAX(cnt) AS BIGINT)  AS max_key_rows,
               CAST(MAX(cnt) * 1000000 // SUM(cnt) AS BIGINT) AS top_share_ppm,
               CAST(SUM(cnt) * 1000000 // COUNT(*) AS BIGINT) AS avg_key_rows_ppm
        FROM (SELECT {col}, COUNT(*) AS cnt FROM {table} GROUP BY 1)
    """


@query(
    "skew_report",
    oracle=f"""
    {_skew_duck('lineitem', 'l_orderkey')}
    UNION ALL
    {_skew_duck('orders', 'o_custkey')}
    UNION ALL
    {_skew_duck('events', 'user_id')}
    """,
)
def skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew profile for the three hottest join/agg keys: rows,
    distinct keys, the heaviest key's row count and its share of the table
    in ppm, and the mean rows-per-key in ppm. top_share_ppm is exactly the
    number that decides between a plain shuffle join, AQE's skew split, and
    ``operators/skew.py``'s explicit salting. One partial-agg shuffle per
    profiled column; the per-key count table never leaves the executors —
    only the 1-row summary does."""
    cat = Catalog(spark, sf_dir)

    def profile(df: DataFrame, table: str, col: str) -> DataFrame:
        return (
            df.groupBy(col)
            .agg(F.count("*").alias("cnt"))
            .agg(
                F.sum("cnt").alias("n_rows"),
                F.count("*").alias("n_keys"),
                F.max("cnt").alias("max_key_rows"),
                F.expr("max(cnt) * 1000000 DIV sum(cnt)").alias("top_share_ppm"),
                F.expr("sum(cnt) * 1000000 DIV count(*)").alias("avg_key_rows_ppm"),
            )
            .select(
                F.lit(f"{table}.{col}").alias("key_col"),
                "n_rows", "n_keys", "max_key_rows",
                "top_share_ppm", "avg_key_rows_ppm",
            )
        )

    return (
        profile(cat.lineitem, "lineitem", "l_orderkey")
        .unionAll(profile(cat.orders, "orders", "o_custkey"))
        .unionAll(profile(cat.events, "events", "user_id"))
    )


# ---------------------------------------------------------------------------
# Training-mixture recipe planner
# ---------------------------------------------------------------------------

# Target mixture in ppm (must sum to 1,000,000) and the epoch ceiling: no
# language may be repeated more than MAX_EPOCHS times, which bounds the
# total corpus the recipe can serve.
_WEIGHTS = (("en", 500_000), ("zh", 150_000), ("es", 150_000),
            ("de", 100_000), ("fr", 100_000))
_MAX_EPOCHS = 2

_WEIGHTS_DUCK = "VALUES " + ", ".join(f"('{l}', {w})" for l, w in _WEIGHTS)


@query(
    "corpus_recipe_plan",
    oracle=f"""
    WITH avail AS (
        SELECT lang, CAST(SUM(n_chars // 4) AS BIGINT) AS tokens_avail
        FROM documents GROUP BY lang
    ), w(lang, weight_ppm) AS ({_WEIGHTS_DUCK}),
    joined AS (
        SELECT a.lang, a.tokens_avail, w.weight_ppm,
               a.tokens_avail * {_MAX_EPOCHS} * 1000000 // w.weight_ppm AS cap
        FROM avail a JOIN w USING (lang)
    ), budget AS (SELECT MIN(cap) AS total_tokens FROM joined)
    SELECT j.lang, j.tokens_avail, CAST(j.weight_ppm AS BIGINT) AS weight_ppm,
           CAST(b.total_tokens * j.weight_ppm // 1000000 AS BIGINT) AS tokens_needed,
           CAST((b.total_tokens * j.weight_ppm // 1000000) * 1000000
                // j.tokens_avail AS BIGINT) AS epochs_ppm
    FROM joined j CROSS JOIN budget b
    """,
)
def corpus_recipe_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-recipe planner (the Dolma/Pile mixture computation): given per-
    language token inventories and target mixture weights, find the largest
    total token budget where no language exceeds the epoch ceiling —
    budget = min_l(avail_l · max_epochs / w_l) — then the per-language
    token demand and implied epochs (ppm). Integer throughout. One shuffle
    (the per-language inventory); the weights dim is a broadcast literal and
    the budget is a 5-row global min broadcast back — planner maths, not a
    data-scale stage."""
    cat = Catalog(spark, sf_dir)
    avail = cat.documents.groupBy("lang").agg(
        F.sum(F.expr("n_chars DIV 4")).alias("tokens_avail")
    )
    w = F.broadcast(
        spark.createDataFrame(list(_WEIGHTS), ["lang", "weight_ppm"])
    )
    joined = avail.join(w, "lang").withColumn(
        "cap", F.expr(f"tokens_avail * {_MAX_EPOCHS} * 1000000 DIV weight_ppm")
    )
    budget = joined.agg(F.min("cap").alias("total_tokens"))
    return (
        joined.crossJoin(F.broadcast(budget))
        .select(
            "lang",
            "tokens_avail",
            F.col("weight_ppm").cast("bigint").alias("weight_ppm"),
            F.expr("total_tokens * weight_ppm DIV 1000000").alias("tokens_needed"),
            F.expr(
                "(total_tokens * weight_ppm DIV 1000000) * 1000000"
                " DIV tokens_avail"
            ).alias("epochs_ppm"),
        )
    )


@query(
    "ooo_audit",
    oracle="""
    WITH arr AS (
        SELECT event_type, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
               MAX(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
                   PARTITION BY event_type ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS hwm
        FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN hwm IS NOT NULL AND ts_us < hwm
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
           CAST(MAX(CASE WHEN hwm IS NOT NULL AND ts_us < hwm
                         THEN hwm - ts_us ELSE 0 END) AS BIGINT)
               AS max_lateness_us,
           CAST(SUM(CASE WHEN hwm IS NOT NULL AND ts_us < hwm
                         THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT)
               AS late_ppm
    FROM arr GROUP BY event_type
    """,
)
def ooo_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-orderness audit — the measurement that SIZES a watermark:
    replay the stream in arrival order (event_id is the ingestion
    sequence), track the per-type event-time high-water mark, and count
    events arriving behind it plus the worst lateness. ``max_lateness_us``
    is exactly the smallest watermark delay that would lose nothing;
    ``late_ppm`` quantifies the loss for any tighter setting — measured
    evidence replacing guessed `withWatermark` values
    (`streaming/windows.py`). One window + one aggregate, both keyed on
    event_type, exact integer µs."""
    cat = Catalog(spark, sf_dir)
    w = (
        Window.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    arr = cat.events.select(
        "event_type",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    ).withColumn("hwm", F.max("ts_us").over(w))
    late = F.col("hwm").isNotNull() & (F.col("ts_us") < F.col("hwm"))
    return arr.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.when(late, 1).otherwise(0)).cast("long").alias("n_late"),
        F.max(F.when(late, F.col("hwm") - F.col("ts_us")).otherwise(0))
        .cast("long")
        .alias("max_lateness_us"),
        F.expr(
            "CAST(SUM(CASE WHEN hwm IS NOT NULL AND ts_us < hwm THEN 1 ELSE 0"
            " END) * 1000000 DIV COUNT(*) AS BIGINT)"
        ).alias("late_ppm"),
    )


_FK_EDGES = [
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
]


def _fk_oracle() -> str:
    parts = [
        f"""SELECT '{child}.{ck}' AS fk_edge,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM {child}) AS child_rows,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM {child} c
                WHERE c.{ck} IS NOT NULL
                  AND NOT EXISTS (SELECT 1 FROM {parent} p
                                  WHERE p.{pk} = c.{ck})) AS orphans,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM {child}
                WHERE {ck} IS NULL) AS null_fks"""
        for child, ck, parent, pk in _FK_EDGES
    ]
    return "\nUNION ALL\n".join(parts)


@query("fk_audit", oracle=_fk_oracle())
def fk_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-schema referential-integrity audit: every foreign-key edge of
    the star schema checked for orphans (child keys with no parent) and
    NULL keys in one report — the constraint enforcement a warehouse
    schema declares but a lake must VERIFY (``dq_checks`` samples one
    edge; this is the complete closure).

    r7 rework for the 100 TB shape: edges are grouped BY CHILD TABLE and
    each child is scanned exactly ONCE — all of its parents left-join in
    (marker columns), and a single aggregate emits every edge's
    (child_rows, orphans, null_fks) which ``stack`` unpivots to the
    report rows. The r1-r6 form scanned each child twice per edge (an
    anti-join plus a totals pass): six lineitem scans for its three
    edges; now one. Dimension parents broadcast; the one fact-fact edge
    (lineitem→orders) is the same shuffled equi-join the anti-join
    already paid."""
    cat = Catalog(spark, sf_dir)
    by_child: dict[str, list[tuple[str, str, str]]] = {}
    for child, ck, parent, pk in _FK_EDGES:
        by_child.setdefault(child, []).append((ck, parent, pk))
    out = None
    for child, edges in by_child.items():
        c = cat.table(child).select(*[ck for ck, _, _ in edges])
        for i, (ck, parent, pk) in enumerate(edges):
            p = (
                cat.table(parent)
                .select(F.col(pk).alias(ck))
                .distinct()
                .withColumn(f"_mk{i}", F.lit(1))
            )
            c = c.join(p, ck, "left")
        agg = c.agg(
            F.count("*").alias("child_rows"),
            *[
                x
                for i, (ck, _, _) in enumerate(edges)
                for x in (
                    F.sum(
                        F.when(
                            F.col(ck).isNotNull() & F.col(f"_mk{i}").isNull(),
                            1,
                        ).otherwise(0)
                    )
                    .cast("long")
                    .alias(f"orphans_{i}"),
                    F.sum(F.when(F.col(ck).isNull(), 1).otherwise(0))
                    .cast("long")
                    .alias(f"null_fks_{i}"),
                )
            ],
        )
        stack = ", ".join(
            f"'{child}.{ck}', orphans_{i}, null_fks_{i}"
            for i, (ck, _, _) in enumerate(edges)
        )
        rows = agg.select(
            F.expr(
                f"stack({len(edges)}, {stack})"
                " AS (fk_edge, orphans, null_fks)"
            ),
            "child_rows",
        ).select("fk_edge", "child_rows", "orphans", "null_fks")
        out = rows if out is None else out.unionByName(rows)
    return out


# ---------------------------------------------------------------------------
# Cross-table amount reconciliation (header vs detail totals)
# ---------------------------------------------------------------------------

@query(
    "recon_order_totals",
    oracle="""
    WITH detail AS (
        SELECT l_orderkey,
               CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100
                             AS BIGINT)) AS BIGINT) AS detail_cents
        FROM lineitem GROUP BY l_orderkey
    ), recon AS (
        SELECT o.o_orderkey,
               CAST(CAST(o.o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)
                   AS header_cents,
               COALESCE(d.detail_cents, 0) AS detail_cents,
               ABS(CAST(CAST(o.o_totalprice AS DECIMAL(14,2)) * 100
                        AS BIGINT) - COALESCE(d.detail_cents, 0))
                   AS abs_dev_cents
        FROM orders o LEFT JOIN detail d ON d.l_orderkey = o.o_orderkey
    ), bucketed AS (
        SELECT CASE
                   WHEN detail_cents = 0 THEN 'no_detail'
                   WHEN abs_dev_cents * 1000000 // header_cents < 10000
                       THEN 'reconciled_1pct'
                   WHEN abs_dev_cents * 1000000 // header_cents < 200000
                       THEN 'minor_20pct'
                   ELSE 'major'
               END AS bucket,
               header_cents, abs_dev_cents
        FROM recon
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT)           AS n_orders,
           CAST(SUM(header_cents) AS BIGINT)  AS header_total_cents,
           CAST(SUM(abs_dev_cents) AS BIGINT) AS total_abs_dev_cents
    FROM bucketed GROUP BY bucket
    """,
)
def recon_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-vs-detail amount reconciliation — the finance-ops audit every
    double-entry pipeline runs: does each order header's total match the
    sum of its line items, and by how much is it off? Orders with NO
    line-item detail are their own bucket (the referential gap ``fk_audit``
    counts, here weighted by money at stake); the rest bucket by relative
    deviation in exact ppm (truncating DIV on non-negative operands).

    Plan: detail reduces per orderkey FIRST (partial-agg shuffle on the
    join key), so the reconciliation join is aggregate-vs-header — one row
    per order on each side, never a fact×fact row explosion; the bucket
    rollup is map-side foldable. At 100 TB both sides bucket by orderkey
    and the join is co-partitioned."""
    cat = Catalog(spark, sf_dir)
    detail = (
        cat.lineitem.select(
            "l_orderkey",
            F.expr(
                "CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT)"
            ).alias("cents"),
        )
        .groupBy("l_orderkey")
        .agg(F.sum("cents").cast("long").alias("detail_cents"))
    )
    recon = (
        cat.orders.select(
            "o_orderkey",
            F.expr(
                "CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)"
            ).alias("header_cents"),
        )
        .join(detail, F.col("l_orderkey") == F.col("o_orderkey"), "left")
        .select(
            "header_cents",
            F.coalesce(F.col("detail_cents"), F.lit(0)).alias("detail_cents"),
            F.abs(
                F.col("header_cents")
                - F.coalesce(F.col("detail_cents"), F.lit(0))
            ).alias("abs_dev_cents"),
        )
    )
    rel_ppm = F.expr("abs_dev_cents * 1000000 DIV header_cents")
    bucket = (
        F.when(F.col("detail_cents") == 0, "no_detail")
        .when(rel_ppm < 10000, "reconciled_1pct")
        .when(rel_ppm < 200000, "minor_20pct")
        .otherwise("major")
    )
    return (
        recon.select(
            bucket.alias("bucket"), "header_cents", "abs_dev_cents"
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("header_cents").cast("long").alias("header_total_cents"),
            F.sum("abs_dev_cents").cast("long").alias("total_abs_dev_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Table diff (version-to-version data comparison by key)
# ---------------------------------------------------------------------------

_DIFF_GATE = "CAST(list_reduce(list_transform(range(0, 4), i -> " \
    "CAST(strpos('0123456789abcdef', substr(md5(CAST({k} AS VARCHAR))," \
    " 1 + i, 1)) - 1 AS BIGINT)), (a, b) -> a * 16 + b) % 50 AS BIGINT)"


@query(
    "table_diff_audit",
    oracle=f"""
    WITH v1 AS (
        SELECT o_orderkey AS k,
               CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)
                   AS cents
        FROM orders
    ), gated AS (
        SELECT k, cents, {_DIFF_GATE.format(k='k')} AS g FROM v1
    ), v2 AS (
        SELECT k, cents + 100 AS cents FROM gated WHERE g = 0
        UNION ALL
        SELECT k, cents FROM gated WHERE g >= 2
        UNION ALL
        SELECT k + 10000000 AS k, cents FROM gated WHERE g = 2
    ), d AS (
        SELECT COALESCE(a.k, b.k) AS k,
               a.cents AS c1, b.cents AS c2,
               CASE WHEN a.k IS NULL THEN 'added'
                    WHEN b.k IS NULL THEN 'removed'
                    WHEN a.cents <> b.cents THEN 'changed'
                    ELSE 'unchanged' END AS kind
        FROM v1 a FULL OUTER JOIN v2 b ON b.k = a.k
    )
    SELECT kind,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN kind = 'changed' THEN c2 - c1 ELSE 0 END)
                AS BIGINT) AS changed_delta_cents
    FROM d GROUP BY kind
    """,
)
def table_diff_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Version-to-version TABLE DIFF by primary key (the data-diff /
    deployment-validation op: "what changed between yesterday's build and
    today's?"): FULL OUTER join on the key, classify each key as
    added / removed / changed / unchanged, and roll up counts plus the net
    money moved by changes. The "v2" here is a deterministic in-query
    perturbation of orders (2% price bumps, 2% deletions, 2% inserted
    clones under shifted keys — an md5 gate, so both engines derive the
    identical v2); in production v2 is the other table/version and the
    diff plan is unchanged.

    Plan: ONE full-outer equi-join on the key (co-partitioned at 100 TB —
    this is the dominant shuffle and it is unavoidable for a full diff),
    then a map-side classification and a 4-group fold. Column-level diffs
    extend the CASE, not the join count. For GIANT tables where full
    row-compare is too hot, ``table_checksum``'s order-insensitive word
    sums pre-screen partitions — diff only the buckets whose checksums
    disagree (the ``ParquetUpsertStore`` manifest-diff trick)."""
    cat = Catalog(spark, sf_dir)
    # Persisted: v1 feeds the three v2 perturbation branches AND the diff
    # join's left side — uncached, orders was scanned four times (the md5
    # gate can't push down).
    v1 = persist(
        cat.orders.select(
            F.col("o_orderkey").alias("k"),
            F.expr("CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)").alias(
                "cents"
            ),
        )
    )
    gated = v1.withColumn(
        "g",
        F.conv(F.substring(F.md5(F.col("k").cast("string")), 1, 4), 16, 10)
        .cast("long")
        % 50,
    )
    v2 = (
        gated.where(F.col("g") == 0)
        .select("k", (F.col("cents") + 100).alias("cents"))
        .unionByName(gated.where(F.col("g") >= 2).select("k", "cents"))
        .unionByName(
            gated.where(F.col("g") == 2).select(
                (F.col("k") + 10_000_000).alias("k"), "cents"
            )
        )
    )
    d = v1.alias("a").join(
        v2.alias("b"), F.col("b.k") == F.col("a.k"), "full_outer"
    ).select(
        F.when(F.col("a.k").isNull(), "added")
        .when(F.col("b.k").isNull(), "removed")
        .when(F.col("a.cents") != F.col("b.cents"), "changed")
        .otherwise("unchanged")
        .alias("kind"),
        F.col("a.cents").alias("c1"),
        F.col("b.cents").alias("c2"),
    )
    return d.groupBy("kind").agg(
        F.count("*").alias("n_rows"),
        F.sum(
            F.when(F.col("kind") == "changed", F.col("c2") - F.col("c1")).otherwise(
                0
            )
        )
        .cast("long")
        .alias("changed_delta_cents"),
    )


@query(
    "fifo_match_lots",
    oracle="""
    WITH s AS (
        SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
               SUM(CAST(l_quantity AS BIGINT))
                   OVER (PARTITION BY l_partkey
                         ORDER BY l_shipdate, l_orderkey, l_linenumber
                         ROWS UNBOUNDED PRECEDING) AS cs
        FROM lineitem WHERE l_linestatus = 'F'
    ), d AS (
        SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
               SUM(CAST(l_quantity AS BIGINT))
                   OVER (PARTITION BY l_partkey
                         ORDER BY l_shipdate, l_orderkey, l_linenumber
                         ROWS UNBOUNDED PRECEDING) AS cd
        FROM lineitem WHERE l_linestatus = 'O'
    ), pairs AS (
        SELECT s.l_partkey,
               least(s.cs, d.cd) - greatest(s.cs - s.qty, d.cd - d.qty)
                   AS matched
        FROM s JOIN d ON s.l_partkey = d.l_partkey
        WHERE least(s.cs, d.cd) - greatest(s.cs - s.qty, d.cd - d.qty) > 0
    ), m AS (
        SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(matched) AS BIGINT) AS matched_qty
        FROM pairs GROUP BY l_partkey
    ), ts AS (
        SELECT l_partkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)
                   AS total_supply
        FROM lineitem WHERE l_linestatus = 'F' GROUP BY l_partkey
    ), td AS (
        SELECT l_partkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)
                   AS total_demand
        FROM lineitem WHERE l_linestatus = 'O' GROUP BY l_partkey
    )
    SELECT m.l_partkey, m.n_pairs, m.matched_qty,
           ts.total_supply, td.total_demand,
           ts.total_supply - m.matched_qty AS leftover_supply,
           td.total_demand - m.matched_qty AS unfilled_demand
    FROM m JOIN ts USING (l_partkey) JOIN td USING (l_partkey)
    """,
)
def fifo_match_lots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIFO lot matching (inventory costing / order-book fill semantics):
    per part, 'F' lineitems are received lots and 'O' lineitems are
    demands, both in (shipdate, orderkey, linenumber) arrival order; FIFO
    says demand j consumes lot i exactly where their cumulative-quantity
    intervals overlap, so the classic sequential mutable-queue algorithm
    becomes ``overlap([cs−q, cs), [cd−q, cd))`` — two running-sum windows
    plus ONE part-keyed equi-join with a residual overlap predicate.
    Nothing is sequential: every pair's matched quantity is a closed form
    of the two prefix sums (integral TPC-H quantities → exact BIGINT).
    All three shuffles key on l_partkey (windows, join, census), so at
    100 TB the whole query is one co-partitioned pipeline; per-part pair
    fan-out is bounded by lots-per-part, never the table."""
    li = Catalog(spark, sf_dir).lineitem
    order = [F.col("l_shipdate"), F.col("l_orderkey"), F.col("l_linenumber")]
    w = (
        Window.partitionBy("l_partkey")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )

    def cum(status: str, run: str):
        return (
            li.filter(F.col("l_linestatus") == status)
            .select(
                "l_partkey",
                F.col("l_quantity").cast("long").alias("qty"),
                *order,
            )
            .select(
                "l_partkey",
                "qty",
                F.sum("qty").over(w).alias(run),
            )
        )

    # Persisted: each side feeds the overlap join AND its per-part total
    # (the total is the part's LAST prefix sum — max of the running sum —
    # so no separate fact scan recomputes it). The two cached subsets are
    # disjoint linestatus slices: one effective pass over lineitem total,
    # where the r1-r6 form scanned it four times.
    # r12: examined and kept LAZY — corpus-sized prefix-sum tables
    # (sf0.1 A/Bs read 0.86 and 1.07 across two sweeps — neutral — and the
    # measured M=100 class regresses under eager cuts).
    s = persist(cum("F", "cs").withColumnsRenamed({"qty": "sq"}))
    d = persist(cum("O", "cd").withColumnsRenamed({"qty": "dq"}))
    overlap = F.least(F.col("cs"), F.col("cd")) - F.greatest(
        F.col("cs") - F.col("sq"), F.col("cd") - F.col("dq")
    )
    pairs = (
        s.join(d, "l_partkey")
        .withColumn("matched", overlap)
        .filter(F.col("matched") > 0)
    )
    m = pairs.groupBy("l_partkey").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum("matched").cast("long").alias("matched_qty"),
    )
    ts = s.groupBy("l_partkey").agg(F.max("cs").alias("total_supply"))
    td = d.groupBy("l_partkey").agg(F.max("cd").alias("total_demand"))
    return (
        m.join(ts, "l_partkey")
        .join(td, "l_partkey")
        .select(
            "l_partkey",
            "n_pairs",
            "matched_qty",
            F.col("total_supply").cast("long").alias("total_supply"),
            F.col("total_demand").cast("long").alias("total_demand"),
            (F.col("total_supply") - F.col("matched_qty"))
            .cast("long")
            .alias("leftover_supply"),
            (F.col("total_demand") - F.col("matched_qty"))
            .cast("long")
            .alias("unfilled_demand"),
        )
    )


@query(
    "auction_second_price",
    oracle="""
    WITH bids AS (
        SELECT l_partkey, l_suppkey,
               MIN(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
                        AS BIGINT)) AS bid_cents
        FROM lineitem GROUP BY l_partkey, l_suppkey
    ), ranked AS (
        SELECT l_partkey, l_suppkey, bid_cents,
               row_number() OVER (PARTITION BY l_partkey
                                  ORDER BY bid_cents, l_suppkey) AS rk
        FROM bids
    )
    SELECT w.l_partkey,
           w.l_suppkey                 AS winner_suppkey,
           w.bid_cents                 AS winning_bid_cents,
           s.bid_cents                 AS clearing_price_cents,
           s.bid_cents - w.bid_cents   AS winner_surplus_cents
    FROM ranked w JOIN ranked s
      ON w.l_partkey = s.l_partkey AND w.rk = 1 AND s.rk = 2
    """,
)
def auction_second_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-price (Vickrey) settlement report: per part, each
    supplier's best offer is a bid; the lowest bid wins but clears at the
    SECOND-lowest price, and the surplus is what truthful bidding earns
    the winner — the standard ad-exchange / procurement settlement
    query. Exact cents via DECIMAL; total order (bid, suppkey) breaks
    ties. Shape: one (part, supplier) rollup, then a part-partitioned
    rank where WindowGroupLimit prunes to the top-2 rows per part
    map-side before the final pairing — the bid table never re-sorts
    globally, and the rank-1×rank-2 pairing is a self-join of two ≤1-row
    slices per part on the shared part key."""
    li = Catalog(spark, sf_dir).lineitem
    bids = (
        li.select(
            "l_partkey",
            "l_suppkey",
            F.expr(
                "CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100"
                " AS BIGINT)"
            ).alias("cents"),
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min("cents").alias("bid_cents"))
    )
    w = Window.partitionBy("l_partkey").orderBy("bid_cents", "l_suppkey")
    ranked = bids.select(
        "l_partkey",
        "l_suppkey",
        "bid_cents",
        F.row_number().over(w).alias("rk"),
    ).filter(F.col("rk") <= 2)
    winners = ranked.filter(F.col("rk") == 1).select(
        "l_partkey",
        F.col("l_suppkey").alias("winner_suppkey"),
        F.col("bid_cents").alias("winning_bid_cents"),
    )
    seconds = ranked.filter(F.col("rk") == 2).select(
        "l_partkey",
        F.col("bid_cents").alias("clearing_price_cents"),
    )
    return winners.join(seconds, "l_partkey").select(
        "l_partkey",
        "winner_suppkey",
        "winning_bid_cents",
        "clearing_price_cents",
        (F.col("clearing_price_cents") - F.col("winning_bid_cents")).alias(
            "winner_surplus_cents"
        ),
    )
