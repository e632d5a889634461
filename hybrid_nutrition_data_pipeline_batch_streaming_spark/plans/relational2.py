"""Second relational batch: cube, subqueries, UNION ALL, percentiles,
error-safe arithmetic (SURVEY.md §2.4 A6/A8, §2.7, §2.8 F3/F7 extensions).
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
    "agg_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS order_cnt,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two dimensions (A6): all 2² grouping sets in one pass —
    the dashboard "all tab totals" aggregation."""
    cat = Catalog(spark, sf_dir)
    return cat.orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("order_cnt"),
        F.sum(F.col("o_totalprice").cast(MONEY)).cast("double").alias("total_price"),
    )


@query(
    "filter_scalar_subquery",
    oracle="""
    SELECT c_custkey, c_acctbal
    FROM customer
    WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
                              / COUNT(c_acctbal)
                       FROM customer)
    """,
)
def filter_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-subquery predicate: customers above the mean balance. The
    subquery aggregates once and broadcasts its single row into the filter
    (no per-row recomputation)."""
    cat = Catalog(spark, sf_dir)
    cat.register_views()
    return spark.sql(
        """
        SELECT c_custkey, c_acctbal
        FROM customer
        WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
                                  / COUNT(c_acctbal)
                           FROM customer)
        """
    )


@query(
    "set_union_all",
    oracle="""
    SELECT c_nationkey AS nationkey, 'customer' AS side FROM customer
    UNION ALL
    SELECT s_nationkey AS nationkey, 'supplier' AS side FROM supplier
    """,
)
def set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL (bag semantics) — the hybrid architecture's batch+stream
    concatenation (`README.md:7-19`) is exactly unionByName at scale."""
    cat = Catalog(spark, sf_dir)
    return cat.customer.select(
        F.col("c_nationkey").alias("nationkey"), F.lit("customer").alias("side")
    ).unionByName(
        cat.supplier.select(
            F.col("s_nationkey").alias("nationkey"), F.lit("supplier").alias("side")
        )
    )


@query(
    "agg_percentile",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.5)  AS median_qty,
           quantile_cont(l_quantity, 0.9)  AS p90_qty,
           CAST(MIN(l_quantity) AS DOUBLE) AS min_qty,
           CAST(MAX(l_quantity) AS DOUBLE) AS max_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (quantile bands of the nutrition
    dashboard, W4's aggregate cousin). Spark's percentile == DuckDB's
    quantile_cont (linear interpolation), so even the interpolated doubles
    hash-match."""
    cat = Catalog(spark, sf_dir)
    return cat.lineitem.groupBy("l_returnflag").agg(
        F.percentile(F.col("l_quantity"), F.lit(0.5)).alias("median_qty"),
        F.percentile(F.col("l_quantity"), F.lit(0.9)).alias("p90_qty"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
    )


@query(
    "topk_per_group",
    oracle="""
    SELECT p_brand, p_partkey, part_rev, rnk
    FROM (
        SELECT p_brand, p_partkey,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS part_rev,
               ROW_NUMBER() OVER (PARTITION BY p_brand
                                  ORDER BY CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) DESC,
                                           p_partkey) AS rnk
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand, p_partkey
    )
    WHERE rnk <= 3
    """,
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K per group (the other top-k): best 3 parts per brand by revenue —
    aggregate then window row_number ≤ K; only K rows per group survive the
    window, never a global sort."""
    from pyspark.sql.window import Window

    cat = Catalog(spark, sf_dir)
    per_part = (
        cat.lineitem.join(F.broadcast(cat.part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_partkey")
        .agg(F.sum(F.col("l_extendedprice").cast(MONEY)).cast("double").alias("part_rev"))
    )
    w = Window.partitionBy("p_brand").orderBy(F.desc("part_rev"), F.asc("p_partkey"))
    return (
        per_part.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("p_brand", "p_partkey", "part_rev", "rnk")
    )


@query(
    "agg_collect_sorted",
    oracle="""
    SELECT c_mktsegment,
           array_to_string(list_sort(list(DISTINCT c_nationkey)), ',') AS nation_list,
           CAST(COUNT(*) AS BIGINT) AS customer_cnt
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered collect (string_agg/listagg family): the distinct nation set
    per segment, sorted and joined to one string — collect_set is
    order-nondeterministic, so sort_array fixes the order and array_join
    emits a scalar every comparison harness can hash (array columns are
    unhashable in the driver's canonicalizer)."""
    cat = Catalog(spark, sf_dir)
    return cat.customer.groupBy("c_mktsegment").agg(
        F.array_join(F.sort_array(F.collect_set("c_nationkey")), ",").alias(
            "nation_list"
        ),
        F.count("*").alias("customer_cnt"),
    )


@query(
    "agg_boolean",
    oracle="""
    SELECT l_returnflag,
           bool_or(l_discount > 0.08)  AS any_deep_discount,
           bool_and(l_quantity > 0)    AS all_positive_qty,
           CAST(count_if(l_tax = 0.0) AS BIGINT) AS taxfree_cnt
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_boolean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregates (any/every/count_if): data-quality style asserts
    as single-pass aggregations."""
    cat = Catalog(spark, sf_dir)
    return cat.lineitem.groupBy("l_returnflag").agg(
        F.bool_or(F.col("l_discount") > 0.08).alias("any_deep_discount"),
        F.bool_and(F.col("l_quantity") > 0).alias("all_positive_qty"),
        F.count_if(F.col("l_tax") == 0.0).alias("taxfree_cnt"),
    )


@query(
    "agg_pivot",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN l_linestatus = 'F'
                         THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE) AS qty_F,
           CAST(SUM(CASE WHEN l_linestatus = 'O'
                         THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE) AS qty_O
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (wide aggregation): status columns per return flag — the
    dashboard cross-tab. Spark's pivot plans the same single-pass
    conditional aggregation the oracle spells out."""
    cat = Catalog(spark, sf_dir)
    from pyspark.sql.types import DecimalType

    piv = (
        cat.lineitem.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.sum(F.col("l_quantity").cast(DecimalType(12, 2))))
    )
    return piv.select(
        "l_returnflag",
        F.col("F").cast("double").alias("qty_F"),
        F.col("O").cast("double").alias("qty_O"),
    )


@query(
    "unpivot_metrics",
    oracle="""
    SELECT o_orderkey, metric, value FROM (
        SELECT o_orderkey, 'totalprice' AS metric, o_totalprice AS value FROM orders
        UNION ALL
        SELECT o_orderkey, 'custkey' AS metric, CAST(o_custkey AS DOUBLE) AS value FROM orders
    )
    """,
)
def unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide → long): melt measure columns into (metric, value)
    rows — the long-format feed for generic metric dashboards. Spark's
    unpivot/stack is a zero-shuffle generator."""
    cat = Catalog(spark, sf_dir)
    return cat.orders.select(
        "o_orderkey", "o_totalprice", F.col("o_custkey").cast("double").alias("custkey")
    ).unpivot(
        ids=["o_orderkey"],
        values=["o_totalprice", "custkey"],
        variableColumnName="metric",
        valueColumnName="value",
    ).withColumn(
        "metric",
        F.when(F.col("metric") == "o_totalprice", "totalprice").otherwise(F.col("metric")),
    )


@query(
    "dq_checks",
    oracle="""
    SELECT
        CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT)                AS row_cnt,
        CAST((SELECT COUNT(*) FROM lineitem WHERE l_orderkey IS NULL) AS BIGINT)
                                                                       AS null_orderkeys,
        CAST((SELECT COUNT(*) FROM lineitem
              WHERE l_discount < 0 OR l_discount > 1) AS BIGINT)       AS bad_discounts,
        CAST((SELECT COUNT(*) FROM lineitem
              WHERE l_shipdate < TIMESTAMP '1990-01-01') AS BIGINT)    AS impossible_dates,
        CAST((SELECT COUNT(*) FROM lineitem l
              WHERE NOT EXISTS (SELECT 1 FROM orders o
                                WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
                                                                       AS orphan_lineitems,
        CAST((SELECT COUNT(*) FROM (SELECT l_orderkey, l_linenumber
              FROM lineitem GROUP BY 1, 2 HAVING COUNT(*) > 1)) AS BIGINT)
                                                                       AS dup_pk_groups
    """,
)
def dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality validation suite (the expectations pass every 100 TB
    ingest needs) as ONE lazy plan over ONE fact scan. The r1-r8 shape ran
    three independent legs (map-side conditional aggregates + an anti-join
    + a PK groupBy) cross-joined into the assertion row — three full
    lineitem scans, the dominant cost at 100 TB. Reworked (round 9): every
    check rides the PK groupBy the uniqueness check needs anyway — the
    row-local sums (row count, null keys, domain range, impossible dates)
    become per-group partial aggregates, referential integrity becomes a
    LEFT join of the group table against orders with orphan rows counted
    in the final fold (NULL keys never equi-match, so they count as
    orphans — same as the anti-join), and PK duplication is a cnt > 1
    flag. One scan, one PK-keyed exchange, one key join, one scalar fold;
    no crossJoins. No driver-side `.count()` actions: the whole suite is a
    plan the optimizer schedules in one job.

    The orders side is reduced to DISTINCT keys before the LEFT join: a
    duplicate o_orderkey would otherwise fan out every group row and
    silently inflate EVERY metric — a DQ suite must not presume the other
    table's PK is clean (the anti-join/NOT-EXISTS it replaced was
    fan-out-proof by construction). The dedup is a map-side partial
    aggregate over a single bigint column — noise next to the fact scan."""
    cat = Catalog(spark, sf_dir)
    li, orders = cat.lineitem, cat.orders
    g = li.groupBy("l_orderkey", "l_linenumber").agg(
        F.count("*").alias("cnt"),
        F.sum(F.when(F.col("l_orderkey").isNull(), 1).otherwise(0)).alias(
            "nulls"
        ),
        F.sum(
            F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 1), 1).otherwise(0)
        ).alias("bad"),
        F.sum(
            F.when(
                F.col("l_shipdate") < F.lit("1990-01-01").cast("timestamp_ntz"), 1
            ).otherwise(0)
        ).alias("bad_dates"),
    )
    j = g.join(
        orders.select("o_orderkey").dropDuplicates(),
        F.col("l_orderkey") == F.col("o_orderkey"),
        "left",
    )
    return j.agg(
        F.sum("cnt").cast("bigint").alias("row_cnt"),
        F.sum("nulls").cast("bigint").alias("null_orderkeys"),
        F.sum("bad").cast("bigint").alias("bad_discounts"),
        F.sum("bad_dates").cast("bigint").alias("impossible_dates"),
        F.sum(
            F.when(F.col("o_orderkey").isNull(), F.col("cnt")).otherwise(0)
        )
        .cast("bigint")
        .alias("orphan_lineitems"),
        F.sum(F.when(F.col("cnt") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("dup_pk_groups"),
    )


@query(
    "try_funcs",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_discount = 0 THEN NULL
                ELSE l_extendedprice / l_discount END AS price_per_disc,
           TRY_CAST(l_returnflag AS DOUBLE)           AS flag_num,
           COALESCE(TRY_CAST(l_returnflag AS DOUBLE), -1.0) AS flag_num_dflt
    FROM lineitem
    """,
)
def try_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe arithmetic/casts (F7): the reference's try/except defaults
    (`pipeline.py:115-129`) as try_divide/try_cast — errors become NULLs,
    never job failures."""
    cat = Catalog(spark, sf_dir)
    return cat.lineitem.select(
        "l_orderkey",
        "l_linenumber",
        F.try_divide(F.col("l_extendedprice"), F.col("l_discount")).alias(
            "price_per_disc"
        ),
        F.col("l_returnflag").try_cast("double").alias("flag_num"),
        F.coalesce(F.col("l_returnflag").try_cast("double"), F.lit(-1.0)).alias(
            "flag_num_dflt"
        ),
    )


_RECURSIVE_WALK_SQL = """
    WITH RECURSIVE edges AS (
        SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ), und AS (
        SELECT src, dst FROM edges
        UNION ALL
        SELECT dst AS src, src AS dst FROM edges
    ), walk(node, hops) AS (
        SELECT DISTINCT src AS node, 0 AS hops
        FROM und
        WHERE src LIKE 's%' AND CAST(substr(src, 2) AS BIGINT) % 5 = 0
        UNION ALL
        SELECT u.dst AS node, w.hops + 1 AS hops
        FROM walk w JOIN und u ON u.src = w.node
        WHERE w.hops < 2
    )
    SELECT node AS reached, hops, COUNT(*) AS n_paths
    FROM walk
    WHERE hops > 0
    GROUP BY node, hops
"""


# The Spark-side statement: identical recursion, but the edges CTE reads a
# lineage-cut temp view of ``plans/graph.py::cust_supp_edges`` instead of
# re-running orders⋈lineitem+DISTINCT per recursion level. The ORACLE stays
# the self-contained _RECURSIVE_WALK_SQL above: DuckDB recomputes the edges
# from the base tables.
_RECURSIVE_WALK_CUT_SQL = """
    WITH RECURSIVE edges AS (
        SELECT 'c' || custkey AS src, 's' || suppkey AS dst
        FROM cust_supp_edges
    ), und AS (
        SELECT src, dst FROM edges
        UNION ALL
        SELECT dst AS src, src AS dst FROM edges
    ), walk(node, hops) AS (
        SELECT DISTINCT src AS node, 0 AS hops
        FROM und
        WHERE src LIKE 's%' AND CAST(substr(src, 2) AS BIGINT) % 5 = 0
        UNION ALL
        SELECT u.dst AS node, w.hops + 1 AS hops
        FROM walk w JOIN und u ON u.src = w.node
        WHERE w.hops < 2
    )
    SELECT node AS reached, hops, COUNT(*) AS n_paths
    FROM walk
    WHERE hops > 0
    GROUP BY node, hops
"""


@query("recursive_path_counts", oracle=_RECURSIVE_WALK_SQL)
def recursive_path_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (WITH RECURSIVE — the SQL-surface capability Spark 4
    added): hop-bounded path counting over the customer↔supplier
    fulfillment graph, seeded from every fifth supplier. UNION ALL
    recursion with a hop guard enumerates paths (Spark's recursive CTEs
    don't support UNION-distinct yet, so fixpoint closures stay with the
    DataFrame loop in plans/graph.py — this query covers the declarative
    acyclic/bounded form). Path counts are exact integers, so the DuckDB
    oracle — the IDENTICAL statement — matches bit-for-bit. Each recursion
    level is one equi-join + the level filter; Catalyst unions the bounded
    levels, all shuffles on the node id.

    Scale boundary (round-10 risk sweep): UNION ALL recursion MATERIALIZES
    path multiplicity — one row per path — so the walk is 540 M rows at
    M=100 (12 M hop-1 + 528 M hop-2, censused) and Spark's recursion row
    guard ([RECURSION_ROW_LIMIT_EXCEEDED], default 1 M) refuses loudly.
    That refusal is the right behavior: enumeration is the wrong tool for
    COUNTING at scale. ``path_counts_census`` below computes the identical
    result as two per-level weighted-count aggregates (the r9
    census-over-enumeration lesson applied to recursion) and is the
    production path; this query stays as the WITH RECURSIVE surface
    coverage, exact at the fixture gate. The edges CTE reads the
    family-level distillation (``plans/graph.py::cust_supp_edges``); the
    oracle derives edges from the base tables."""
    from .graph import cust_supp_edges

    # Lineage cut: the recursive CTE re-reads the view per level, and each
    # read would otherwise recompute the join+distinct.
    checkpoint_truncate(
        cust_supp_edges(Catalog(spark, sf_dir))
    ).createOrReplaceTempView("cust_supp_edges")
    return spark.sql(_RECURSIVE_WALK_CUT_SQL)


@query("path_counts_census", oracle=_RECURSIVE_WALK_SQL)
def path_counts_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale form of ``recursive_path_counts`` — IDENTICAL output
    (same oracle statement), different algebra: hop-h path counts are a
    matrix-vector product, n_paths(v, h+1) = Σ_{u→v} n_paths(u, h), so
    each level is one edge join + one per-node weighted-count aggregate
    and NO path row is ever enumerated. The recursive CTE's 540 M-row
    walk at M=100 (one row per path — see the sibling's docstring)
    becomes two node-scale frames; M=100 ran 80.4 s in r10 — dominated
    by the 60 M-edge orders×lineitem distillation — where the
    enumerating form trips Spark's recursion row guard. The same
    census-over-enumeration move as round-9's join_range_binned: when
    the output is a COUNT, never materialize what you can aggregate.
    The distillation (``plans/graph.py::cust_supp_edges``) is
    lineage-cut — the und mirror and the seed filter would otherwise
    evaluate the join+distinct three times."""
    from .graph import cust_supp_edges

    edges = checkpoint_truncate(cust_supp_edges(Catalog(spark, sf_dir))).select(
        F.concat(F.lit("c"), F.col("custkey")).alias("src"),
        F.concat(F.lit("s"), F.col("suppkey")).alias("dst"),
    )
    und = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    seeds = (
        edges.where(
            F.col("dst").startswith("s")
            # Unbounded substr (ADVICE r10): a 10-char length cap silently
            # truncated supplier ids past 10 digits — parity held only
            # because the oracle shared the bug.
            & (F.expr("CAST(substr(dst, 2) AS BIGINT) % 5") == 0)
        )
        .select(F.col("dst").alias("node"))
        .distinct()
        .withColumn("n_paths", F.lit(1).cast("long"))
    )

    def step(level: DataFrame) -> DataFrame:
        return (
            level.join(und, F.col("node") == F.col("src"))
            .groupBy(F.col("dst"))
            .agg(F.sum("n_paths").cast("long").alias("n_paths"))
            .select(F.col("dst").alias("node"), "n_paths")
        )

    # r12: eager cut (was a lazy persist); read by the output AND level 2
    l1 = checkpoint_truncate(step(seeds))
    l2 = step(l1)
    return l1.select(
        F.col("node").alias("reached"), F.lit(1).alias("hops"), "n_paths"
    ).unionByName(
        l2.select(
            F.col("node").alias("reached"), F.lit(2).alias("hops"), "n_paths"
        )
    )


_GROUPING_SETS_SQL = """
    SELECT o_orderpriority, o_orderstatus,
           COUNT(*) AS order_cnt,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
               AS total_price,
           CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
           CAST(GROUPING(o_orderstatus) AS INT) AS g_status
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                            (o_orderpriority), (o_orderstatus), ())
"""


@query("agg_grouping_sets", oracle=_GROUPING_SETS_SQL)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS (A6 beyond rollup/cube): the four explicit
    aggregation levels a dashboard's total/subtotal tabs ask for, computed
    in ONE pass (Catalyst expands the sets over a single shuffle rather
    than unioning four scans), with GROUPING() flags disambiguating real
    NULL keys from subtotal rows. Identical statement runs as the DuckDB
    oracle; decimal-exact sums keep the hash stable."""
    cat = Catalog(spark, sf_dir)
    cat.orders.createOrReplaceTempView("orders")
    return spark.sql(_GROUPING_SETS_SQL)


_NULL_SEMANTICS_SQL = """
    SELECT l_orderkey, l_linenumber,
           TRY_CAST(l_returnflag AS DOUBLE) IS NOT DISTINCT FROM
               TRY_CAST(l_linestatus AS DOUBLE) AS nsafe_eq_nulls,
           l_quantity IS NOT DISTINCT FROM l_tax AS nsafe_eq_vals,
           NULLIF(l_discount, 0.0) AS disc_or_null,
           COALESCE(NULLIF(l_discount, 0.0), -1.0) AS disc_defaulted,
           (l_quantity > 30) AND (l_discount > 0.05) AS strict_and,
           CASE WHEN l_quantity IS NULL THEN 'null'
                WHEN l_quantity > 30 THEN 'big' ELSE 'small' END AS qty_band
    FROM lineitem
"""


@query("null_semantics", oracle=_NULL_SEMANTICS_SQL)
def null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-valued-logic surface (F7 family): null-safe equality
    (IS NOT DISTINCT FROM — Spark's <=>), NULLIF null injection with
    COALESCE recovery, AND over nullable operands, and CASE null guards.
    The reference handles all of this imperatively with try/except and
    .get defaults (`pipeline.py:115-129`); declaratively it is pure
    row-local expression math — map-only, no shuffle at all."""
    cat = Catalog(spark, sf_dir)
    cat.lineitem.createOrReplaceTempView("lineitem")
    return spark.sql(_NULL_SEMANTICS_SQL)


@query(
    "filter_not_in",
    oracle="""
    SELECT o_orderkey, o_custkey
    FROM orders
    WHERE o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_acctbal < 0)
    """,
)
def filter_not_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN subquery → null-aware anti join (SQL-surface corner): NOT IN
    is NOT a plain anti join — one NULL in the subquery legally empties the
    result, so Spark plans BroadcastHashJoin(LeftAnti, isNullAware=true)
    with the null-check fused into the build side. Pinned in
    test_not_in_plans_null_aware_anti_join; at scale the build side must
    stay broadcastable (Spark refuses a shuffled null-aware anti join —
    rewrite to NOT EXISTS when the exclusion set outgrows the driver)."""
    cat = Catalog(spark, sf_dir)
    cat.orders.createOrReplaceTempView("_nin_orders")
    cat.customer.createOrReplaceTempView("_nin_customer")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey
        FROM _nin_orders
        WHERE o_custkey NOT IN (
            SELECT c_custkey FROM _nin_customer WHERE c_acctbal < 0
        )
        """
    )


@query(
    "join_lateral_topn",
    oracle="""
    SELECT c.c_custkey, c.c_mktsegment, t.o_orderkey, t.o_totalprice
    FROM customer c,
    LATERAL (
        SELECT o_orderkey, o_totalprice
        FROM orders o
        WHERE o.o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 2
    ) t
    """,
)
def join_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery (the SQL-standard per-row top-N): for
    every customer, their two most expensive orders — the correlated form
    BI tools emit, distinct from the window-function rewrite
    (`topk_per_group`). Spark 4 plans the lateral as a decorrelated join +
    per-key limit; both engines agree on the deterministic tie-break.
    Customers with no orders produce no rows (inner lateral)."""
    cat = Catalog(spark, sf_dir)
    cat.customer.createOrReplaceTempView("_lat_customer")
    cat.orders.createOrReplaceTempView("_lat_orders")
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_mktsegment, t.o_orderkey, t.o_totalprice
        FROM _lat_customer c,
        LATERAL (
            SELECT o_orderkey, o_totalprice
            FROM _lat_orders o
            WHERE o.o_custkey = c.c_custkey
            ORDER BY o_totalprice DESC, o_orderkey
            LIMIT 2
        ) t
        """
    )


@query(
    "agg_having_join_back",
    oracle="""
    WITH big AS (
        SELECT l_orderkey, SUM(CAST(l_quantity AS BIGINT)) AS total_qty
        FROM lineitem GROUP BY l_orderkey
        HAVING SUM(CAST(l_quantity AS BIGINT)) > 120
    )
    SELECT c.c_name, o.o_orderkey, CAST(o.o_orderdate AS DATE) AS o_orderdate,
           o.o_totalprice, CAST(b.total_qty AS BIGINT) AS total_qty
    FROM big b
    JOIN orders o ON o.o_orderkey = b.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 20
    """,
)
def agg_having_join_back(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape ("large-volume customer"): aggregate the fact table,
    filter groups with HAVING, then join the surviving group keys BACK to
    the dimension chain for context. The defining plan property is that
    the HAVING filter shrinks the fact side to a handful of keys BEFORE
    the joins, so both joins run with a tiny build side.

    Scale shape: one lineitem shuffle with map-side partial sums, HAVING
    applied at the aggregate (no second pass), then orderkey-equi-joins;
    final global top-20 is a TakeOrderedAndProject. l_quantity is integral
    in the fixtures, so the BIGINT cast is exact in both engines (DuckDB
    rounds double→int casts, Spark truncates — only safe on integral
    values, noted here because it is the one cast-semantics trap in this
    query)."""
    cat = Catalog(spark, sf_dir)
    big = (
        cat.lineitem.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("total_qty"))
        .where(F.col("total_qty") > 120)
    )
    return (
        big.join(cat.orders, big.l_orderkey == cat.orders.o_orderkey)
        .join(cat.customer, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
            "o_totalprice",
            "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(20)
    )


@query(
    "join_range_binned",
    oracle="""
    WITH li AS (
        SELECT l_orderkey, l_linenumber,
               CAST(l_shipdate AS DATE) AS start_d,
               CAST(l_shipdate AS DATE)
                   + CAST(7 + l_orderkey % 21 AS INT) AS end_d
        FROM lineitem
        WHERE l_returnflag = 'R'
          AND year(CAST(l_shipdate AS DATE)) = 1996
          AND quarter(CAST(l_shipdate AS DATE)) = 1
    )
    SELECT datediff('day', DATE '1992-01-01', CAST(o.o_orderdate AS DATE)) // 7
               AS week_bin,
           CAST(COUNT(*) AS BIGINT)                    AS n_pairs,
           CAST(COUNT(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
               AS revenue
    FROM li JOIN orders o
      ON CAST(o.o_orderdate AS DATE) BETWEEN li.start_d AND li.end_d
    GROUP BY 1
    """,
)
def join_range_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval×point join where BOTH sides are large — the scale path for
    J5 that ``join_range``'s broadcast-BNLJ deliberately is not. Each
    lineitem defines a ship window [l_shipdate, +7..27 days]; the task is
    per-week pair counts, distinct matched orders, and coverage-weighted
    revenue over every (window, order-inside-it) pair.

    Plan (reworked by the round-9 M=100 sweep, SCALE.md): the r1-r8 shape
    was the textbook bin-equi-join — both sides mapped to 7-day bins, the
    interval side exploded to every bin it overlaps, exact BETWEEN as a
    residual filter (that general rewrite still powers
    ``join_interval_overlap``). Its cost is Σ_bin n_bin·m_bin, and here the
    bins are FIXED calendar weeks while both densities grow with the data —
    the pair stream grows QUADRATICALLY (M=10 7.5 s → M=100 195.9 s, 26×
    per 10×). The escape is that every requested aggregate is PER-POINT
    DECOMPOSABLE: an order contributes cnt = (#windows covering o_orderdate)
    to n_pairs, 1 to n_orders iff cnt > 0, and price·cnt to revenue — so a
    DIFF-ARRAY COVERAGE CENSUS replaces the join. Intervals emit +1 at
    start_d and −1 at end_d+1 (2 rows each, map-side combined to ≤ span
    dates), a running sum over the CALENDAR-BOUNDED span (Q1-1996 starts +
    ≤27-day tails ⇒ ~118 dates, constant at ANY scale) yields coverage per
    date, and orders equi-join the broadcast census on their exact date. No
    (interval, point) pair ever materializes: O(n + m + |calendar|) with
    two map-side-combinable aggregations and one broadcast join — M=100
    runs in seconds. The bin-equi-join remains the general fallback when
    downstream genuinely needs the pair rows; when it only needs
    per-point-decomposable aggregates, the census IS the 100 TB answer.
    (DuckDB's IEJoin answers the oracle natively — a nice cross-check of
    the decomposition's exactness.)"""
    cat = Catalog(spark, sf_dir)
    # ±1 coverage deltas per ship window; the date-keyed rollup collapses
    # 2 rows/interval to ≤ ~236 distinct dates before any exchange.
    deltas = (
        cat.lineitem.where(
            (F.col("l_returnflag") == "R")
            & (F.year(F.col("l_shipdate").cast("date")) == 1996)
            & (F.quarter(F.col("l_shipdate").cast("date")) == 1)
        )
        .select(
            F.col("l_shipdate").cast("date").alias("start_d"),
            F.expr(
                "date_add(CAST(l_shipdate AS DATE),"
                " CAST(7 + l_orderkey % 21 AS INT))"
            ).alias("end_d"),
        )
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("start_d").alias("d"), F.lit(1).alias("delta")
                    ),
                    F.struct(
                        F.date_add("end_d", 1).alias("d"),
                        F.lit(-1).alias("delta"),
                    ),
                )
            ).alias("ev")
        )
        .select(F.col("ev.d").alias("d"), F.col("ev.delta").alias("delta"))
        .groupBy("d")
        .agg(F.sum("delta").alias("delta"))
    )
    # Dense calendar over the span the query's own constants bound: starts
    # in Q1 1996, windows ≤ 27 days ⇒ coverage can only change inside
    # [1996-01-01, 1996-04-28] (end_d+1 of the last possible window). The
    # single-partition running sum is over ~120 rows — constant at any M.
    calendar = spark.sql(
        "SELECT explode(sequence(DATE '1996-01-01', DATE '1996-04-28'))"
        " AS d"
    )
    census = (
        calendar.join(deltas, "d", "left")
        .select("d", F.coalesce("delta", F.lit(0)).alias("delta"))
        .withColumn(
            "cover",
            F.sum("delta").over(
                Window.orderBy("d").rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            ),
        )
        .where(F.col("cover") > 0)
        .select("d", "cover")
    )
    o = cat.orders.select(
        "o_orderkey",
        "o_totalprice",
        F.col("o_orderdate").cast("date").alias("o_d"),
    )
    matched = o.join(
        F.broadcast(census), o["o_d"] == census["d"]
    ).withColumn(
        "week_bin", F.expr("datediff(o_d, DATE '1992-01-01') DIV 7")
    )
    return matched.groupBy("week_bin").agg(
        F.sum("cover").cast("long").alias("n_pairs"),
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast(MONEY) * F.col("cover"))
        .cast("double")
        .alias("revenue"),
    )


@query(
    "pareto_frontier",
    oracle="""
    WITH ranked AS (
        SELECT p_partkey, p_name, p_retailprice, p_size,
               MIN(p_size) OVER (
                   ORDER BY p_retailprice ASC, p_partkey ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS best_size_cheaper
        FROM part
    )
    SELECT p_partkey, p_name, p_retailprice, p_size
    FROM ranked
    WHERE best_size_cheaper IS NULL OR p_size < best_size_cheaper
    """,
)
def pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto-frontier query (minimize price AND size): a part is
    dominated if some part is both cheaper-or-equal and smaller. The naive
    skyline is an O(n²) self-join; for two criteria it collapses to a
    sort-filter pass — keep rows strictly below the running minimum size of
    everything cheaper (frame to 1 PRECEDING so equal prices compare only
    against strictly-cheaper rows; key tiebreak makes it deterministic).

    A bare global window would single-partition the table, so the running
    min is DISTRIBUTED two-phase (the ``shard_balanced`` prefix-sum
    pattern): the sort key buckets into monotone price BANDS — the
    in-band running min runs band-partitioned in parallel, band minima
    aggregate into a tiny prefix table (running min over bands, the one
    legitimately single-partition stage at band cardinality), and each
    row's effective predecessor-min is least(in-band, prior-bands). The
    oracle computes the same frontier with the naive global window,
    proving the decomposition exact."""
    cat = Catalog(spark, sf_dir)
    base = cat.part.select(
        "p_partkey", "p_name", "p_retailprice", "p_size"
    ).withColumn(
        # 2-dollar price bands: monotone in the sort key, so band order ==
        # price order and prefix minima compose correctly.
        "band",
        F.expr("CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100 AS BIGINT) DIV 200"),
    )
    w_band = (
        Window.partitionBy("band")
        .orderBy(F.col("p_retailprice").asc(), F.col("p_partkey").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    in_band = base.withColumn("in_band_min", F.min("p_size").over(w_band))
    band_mins = base.groupBy("band").agg(F.min("p_size").alias("band_min"))
    w_prefix = Window.orderBy("band").rowsBetween(Window.unboundedPreceding, -1)
    prefix = band_mins.withColumn(
        "prior_bands_min", F.min("band_min").over(w_prefix)
    ).select("band", "prior_bands_min")
    joined = in_band.join(F.broadcast(prefix), "band")
    best = F.least(
        F.coalesce(F.col("in_band_min"), F.lit(2147483647)),
        F.coalesce(F.col("prior_bands_min"), F.lit(2147483647)),
    )
    return joined.where(F.col("p_size") < best).select(
        "p_partkey", "p_name", "p_retailprice", "p_size"
    )


@query(
    "basket_pairs",
    oracle="""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    )
    SELECT part_a, part_b, CAST(COUNT(*) AS BIGINT) AS support
    FROM pairs GROUP BY part_a, part_b
    HAVING COUNT(*) >= 3
    ORDER BY support DESC, part_a, part_b LIMIT 25
    """,
)
def basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence mining (frequent pairs): parts bought in
    the same order, counted across orders, thresholded by minimum support —
    the pair-generation core of Apriori/FP-growth. The pair join is a SELF
    equi-join on the basket key, so its cost is Σ_orders |basket|² with
    baskets a handful of items — bounded fan-out, never corpus × corpus
    (the same per-group-pairing discipline as the dedup band joins; a
    pathological mega-basket is what a basket-size cap would guard at
    100 TB). Distinct first so quantity/linenumber multiplicity doesn't
    inflate support; top pairs via TakeOrdered."""
    cat = Catalog(spark, sf_dir)
    items = cat.lineitem.select("l_orderkey", "l_partkey").distinct()
    a = items.select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("part_a")
    )
    b = items.select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("part_b")
    )
    return (
        a.join(b, "k")
        .where(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("support"))
        .where(F.col("support") >= 3)
        .orderBy(F.desc("support"), F.asc("part_a"), F.asc("part_b"))
        .limit(25)
    )


@query(
    "top_supplier_revenue",
    oracle="""
    WITH rev AS (
        SELECT l_suppkey,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                        * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
                   AS total_rev
        FROM lineitem
        WHERE year(CAST(l_shipdate AS DATE)) = 1996
          AND quarter(CAST(l_shipdate AS DATE)) = 1
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_rev
    FROM supplier s JOIN rev r ON s.s_suppkey = r.l_suppkey
    WHERE r.total_rev = (SELECT MAX(total_rev) FROM rev)
    """,
)
def top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (view + scalar-max filter): quarterly revenue per
    supplier as a derived view, then keep the supplier(s) hitting the view's
    MAX — ties all surface, as Q15 specifies. Revenue is the decimal-exact
    price×(1−discount) sum, so the max comparison is bit-safe. The view
    aggregates once; the scalar MAX broadcasts as a 1-row subquery into the
    filter (never a re-aggregation per row), and the supplier attachment is
    a broadcast equi-join. Same plan at any fact size: one shuffle on
    l_suppkey + two broadcasts."""
    cat = Catalog(spark, sf_dir)
    rev = (
        cat.lineitem.where(
            (F.year(F.col("l_shipdate").cast("date")) == 1996)
            & (F.quarter(F.col("l_shipdate").cast("date")) == 1)
        )
        .groupBy("l_suppkey")
        .agg(
            F.sum(
                F.col("l_extendedprice").cast(MONEY)
                * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)"))
            )
            .cast("double")
            .alias("total_rev")
        )
    )
    mx = rev.agg(F.max("total_rev").alias("mx"))
    return (
        cat.supplier.join(
            rev, F.col("s_suppkey") == F.col("l_suppkey")
        )
        .crossJoin(F.broadcast(mx))
        .where(F.col("total_rev") == F.col("mx"))
        .select("s_suppkey", "s_name", "total_rev")
    )


@query(
    "join_interval_overlap",
    oracle="""
    WITH li AS (
        SELECT l_orderkey, l_linenumber,
               CAST(l_shipdate AS DATE) AS s1,
               CAST(l_shipdate AS DATE)
                   + CAST(7 + l_orderkey % 21 AS INT) AS e1
        FROM lineitem
        WHERE l_returnflag = 'R'
          AND year(CAST(l_shipdate AS DATE)) = 1996
          AND quarter(CAST(l_shipdate AS DATE)) = 1
    ), o AS (
        SELECT o_orderkey,
               CAST(o_orderdate AS DATE) AS s2,
               CAST(o_orderdate AS DATE) + 14 AS e2
        FROM orders
        WHERE CAST(o_orderdate AS DATE) >= DATE '1995-11-01'
          AND CAST(o_orderdate AS DATE) < DATE '1996-06-01'
    )
    SELECT datediff('day', DATE '1992-01-01', li.s1) // 7 AS week_bin,
           CAST(COUNT(*) AS BIGINT)                       AS n_pairs,
           CAST(COUNT(DISTINCT o.o_orderkey) AS BIGINT)   AS n_orders
    FROM li JOIN o ON li.s1 <= o.e2 AND o.s2 <= li.e1
    GROUP BY 1
    """,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval×interval OVERLAP join, both sides large — the general form
    of J5 (``join_range_binned`` handles point-in-interval). Two intervals
    overlap iff s1 ≤ e2 AND s2 ≤ e1; both sides explode to their spanned
    7-day bins and the join becomes a bin equi-join + residual predicate.
    Unlike the point case, a pair can now MEET IN SEVERAL BINS, so the
    rewrite needs the dedup step the point form provably doesn't: assign
    each potential pair ONE canonical meeting bin — the bin of
    max(s1, s2), the overlap's first day, which both rows always span —
    and keep only the candidate row where the join bin equals it. Each
    true pair then survives exactly once with zero duplicate-eliminating
    shuffle (a greatest/filter, not a distinct). Aggregation is the same
    two-level (bin, order) rollup; the oracle runs the naive non-equi
    join, proving rewrite + canonicalization exact."""
    cat = Catalog(spark, sf_dir)
    li = (
        cat.lineitem.where(
            (F.col("l_returnflag") == "R")
            & (F.year(F.col("l_shipdate").cast("date")) == 1996)
            & (F.quarter(F.col("l_shipdate").cast("date")) == 1)
        )
        .select(
            F.col("l_shipdate").cast("date").alias("s1"),
            F.expr(
                "date_add(CAST(l_shipdate AS DATE),"
                " CAST(7 + l_orderkey % 21 AS INT))"
            ).alias("e1"),
        )
        .withColumn(
            "week_bin",
            F.expr(
                "explode(sequence(datediff(s1, DATE '1992-01-01') DIV 7,"
                " datediff(e1, DATE '1992-01-01') DIV 7))"
            ),
        )
    )
    o = (
        cat.orders.where(
            (F.col("o_orderdate").cast("date") >= F.lit("1995-11-01").cast("date"))
            & (F.col("o_orderdate").cast("date") < F.lit("1996-06-01").cast("date"))
        )
        .select(
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("s2"),
            F.expr("date_add(CAST(o_orderdate AS DATE), 14)").alias("e2"),
        )
        .withColumn(
            "week_bin",
            F.expr(
                "explode(sequence(datediff(s2, DATE '1992-01-01') DIV 7,"
                " datediff(e2, DATE '1992-01-01') DIV 7))"
            ),
        )
    )
    pairs = (
        li.join(o, "week_bin")
        .where((F.col("s1") <= F.col("e2")) & (F.col("s2") <= F.col("e1")))
        # Canonical meeting bin: the overlap's first day. Every true pair
        # produces candidates in each shared bin; exactly one candidate has
        # join-bin == canonical bin, so this filter IS the dedup.
        .where(
            F.col("week_bin")
            == F.expr(
                "datediff(greatest(s1, s2), DATE '1992-01-01') DIV 7"
            )
        )
    )
    per_order = pairs.groupBy(
        F.expr("datediff(s1, DATE '1992-01-01') DIV 7").alias("ship_bin"),
        F.col("o_orderkey"),
    ).agg(F.count("*").alias("cnt"))
    return per_order.groupBy(F.col("ship_bin").alias("week_bin")).agg(
        F.sum("cnt").cast("long").alias("n_pairs"),
        F.count("*").alias("n_orders"),
    )


@query(
    "abc_classification",
    oracle="""
    WITH rev AS (
        SELECT l_partkey,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * 100)
                    AS BIGINT) AS cents
        FROM lineitem GROUP BY l_partkey
    ), tot AS (
        SELECT CAST(SUM(cents) AS BIGINT) AS total FROM rev
    ), ranked AS (
        SELECT l_partkey, cents,
               CAST(SUM(cents) OVER (ORDER BY cents DESC, l_partkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum_cents,
               total
        FROM rev CROSS JOIN tot
    ), classed AS (
        SELECT *,
               CASE WHEN cum_cents * 100 <= total * 80 THEN 'A'
                    WHEN cum_cents * 100 <= total * 95 THEN 'B'
                    ELSE 'C' END AS abc_class
        FROM ranked
    )
    SELECT abc_class,
           CAST(COUNT(*) AS BIGINT)      AS n_parts,
           CAST(SUM(cents) AS BIGINT)    AS class_cents,
           CAST(SUM(cents) * 1000000 // MAX(total) AS BIGINT)
               AS revenue_share_ppm
    FROM classed GROUP BY abc_class
    """,
)
def abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto-share classification (inventory's 80/95 rule): rank
    parts by revenue, accumulate the share, and label the parts covering
    the first 80% of revenue A, the next 15% B, the tail C. Thresholds
    compare by integer cross-multiplication (cum·100 ≤ total·80) on
    decimal-exact cents, so class boundaries are bit-identical. The
    revenue rollup is a partial-aggregated part-key shuffle; the ranking
    window runs over PART-cardinality rows (the aggregate output, not the
    fact table), which is the shape worth pinning: the cumulative pass
    touches n_parts rows no matter how many billions of lineitems feed
    it. Summary ships three rows."""
    cat = Catalog(spark, sf_dir)
    rev = cat.lineitem.groupBy("l_partkey").agg(
        F.expr(
            "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * 100) AS BIGINT)"
        ).alias("cents")
    )
    # Grand total via an unbounded frame over the SAME ordered partition the
    # ranking uses — one window pass computes both, so the fact table is
    # scanned and the part rollup shuffled exactly once (a separate
    # aggregate + crossJoin would recompute the rollup).
    order = [F.col("cents").desc(), F.col("l_partkey")]
    w = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = rev.withColumn(
        "cum_cents", F.sum("cents").over(w).cast("long")
    ).withColumn("total", F.sum("cents").over(w_all).cast("long"))
    classed = ranked.withColumn(
        "abc_class",
        F.when(F.col("cum_cents") * 100 <= F.col("total") * 80, "A")
        .when(F.col("cum_cents") * 100 <= F.col("total") * 95, "B")
        .otherwise("C"),
    )
    return classed.groupBy("abc_class").agg(
        F.count("*").alias("n_parts"),
        F.sum("cents").cast("long").alias("class_cents"),
        F.expr(
            "CAST(SUM(cents) * 1000000 DIV MAX(total) AS BIGINT)"
        ).alias("revenue_share_ppm"),
    )


@query(
    "topk_with_ties",
    oracle="""
    SELECT o_orderpriority, o_orderkey, o_totalprice,
           CAST(rnk AS BIGINT) AS rnk
    FROM (
        SELECT o_orderpriority, o_orderkey, o_totalprice,
               RANK() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC) AS rnk
        FROM orders
    )
    WHERE rnk <= 3
    """,
)
def topk_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k WITH TIES (ANSI FETCH FIRST ... WITH TIES semantics): RANK
    instead of ROW_NUMBER, so equal-priced orders at the boundary ALL
    surface — the semantics reports need when truncating ties would
    misstate "the top 3" (``topk_per_group`` is the arbitrary-tiebreak
    variant; both are correct, for different questions, and the output
    cardinality differs — that is the point). WindowGroupLimit still
    prunes map-side: rank ≤ k bounds per-partition candidates the same
    way row_number does."""
    cat = Catalog(spark, sf_dir)
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc()
    )
    return (
        cat.orders.select("o_orderpriority", "o_orderkey", "o_totalprice")
        .withColumn("rnk", F.rank().over(w).cast("long"))
        .where(F.col("rnk") <= 3)
    )


# ---------------------------------------------------------------------------
# Keyset (cursor) pagination — the OFFSET-free paging pattern
# ---------------------------------------------------------------------------

@query(
    "keyset_pagination",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderdate AS DATE) AS d,
           CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)
               AS price_cents
    FROM orders
    WHERE CAST(o_orderdate AS DATE) > DATE '1998-03-15'
       OR (CAST(o_orderdate AS DATE) = DATE '1998-03-15' AND o_orderkey > 0)
    ORDER BY d, o_orderkey
    LIMIT 20
    """,
)
def keyset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset (cursor) pagination: the page after cursor (1998-03-15, 0)
    under the total order (o_orderdate, o_orderkey) — the scale-correct
    replacement for OFFSET paging, whose cost grows with the page number
    because every earlier row must still be sorted and skipped. The tuple
    comparison compiles to a pushable disjunction, so the parquet scan
    skips row groups entirely before the cursor (min/max stats on the sort
    key), and the LIMIT plans as TakeOrderedAndProject — per-partition
    top-20 heaps, never a global sort. Deterministic because the cursor key
    is unique; every API that pages a 100 TB table serves from exactly this
    plan."""
    cat = Catalog(spark, sf_dir)
    d = F.col("o_orderdate").cast("date")
    cursor_d = F.lit("1998-03-15").cast("date")
    return (
        cat.orders.where(
            (d > cursor_d) | ((d == cursor_d) & (F.col("o_orderkey") > 0))
        )
        .select(
            "o_orderkey",
            d.alias("d"),
            F.expr(
                "CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)"
            ).alias("price_cents"),
        )
        .orderBy("d", "o_orderkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Statistical mode per group (argmax of the value-frequency table)
# ---------------------------------------------------------------------------

@query(
    "agg_mode",
    oracle="""
    WITH c AS (
        SELECT event_type,
               datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) % 7
                   AS dow,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY event_type, dow
    ), r AS (
        SELECT event_type, dow, cnt,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY cnt DESC, dow) AS rn
        FROM c
    )
    SELECT event_type,
           CAST(dow AS BIGINT) AS mode_dow,
           cnt                 AS mode_cnt
    FROM r WHERE rn = 1
    """,
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical MODE per group (which weekday is each event type's
    busiest?): the frequency table argmax, with ties broken toward the
    smaller value so the answer is a pure function of the data. Mode is the
    aggregate SQL forgot — it can't fold into one pass like sum/min/max
    because it needs the full frequency table; the scalable form is exactly
    this two-level shape: one (group, value) rollup (partial-agg friendly),
    then a per-group top-1, which Spark executes as WindowGroupLimit — a
    running top-1 heap per group, no per-group sort materialization. The
    day-of-week is engine-neutral integer date arithmetic (datediff % 7),
    not locale-dependent dayofweek()."""
    cat = Catalog(spark, sf_dir)
    c = (
        cat.events.select(
            "event_type",
            (
                F.datediff(
                    F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
                )
                % 7
            ).alias("dow"),
        )
        .groupBy("event_type", "dow")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("event_type").orderBy(F.desc("cnt"), F.asc("dow"))
    return (
        c.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("dow").cast("long").alias("mode_dow"),
            F.col("cnt").alias("mode_cnt"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental join maintenance (the delta-join IVM identity, verified)
# ---------------------------------------------------------------------------

@query(
    "join_delta_maintain",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100
                         AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def join_delta_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental JOIN maintenance, the algebra a materialized join view
    runs on every micro-batch: with both inputs split into base ∪ delta
    (here an md5 hash gate marks ~5% of orderkeys as the "new batch"),

        (O_b ∪ ΔO) ⋈ (L_b ∪ ΔL)
            = O_b⋈L_b  ∪  O_b⋈ΔL  ∪  ΔO⋈L_b  ∪  ΔO⋈ΔL

    — the three delta terms are what an IVM engine computes per batch
    (O_b⋈L_b is the stored view). This query evaluates the full
    decomposition and aggregates it; the oracle aggregates the PLAIN join,
    so the driver's value-hash proves the identity end-to-end, not just on
    a toy. The two gates are deliberately INDEPENDENT functions (orders
    split on the orderkey hash, lineitems on the (orderkey, linenumber)
    hash) — as in real CDC, where a batch carries new lineitems for old
    orders. A join-key-only split would let Catalyst's constraint
    propagation prove both cross terms empty and delete them (it does —
    verified), which is correct but demonstrates nothing.

    Scale shape: all four terms are equi-joins on l_orderkey=o_orderkey
    sharing one partitioning; the delta sides are small, so the per-batch
    incremental cost is |Δ|-proportional (the stored-view term is a read).
    The union feeds ONE partial-aggregating rollup."""
    cat = Catalog(spark, sf_dir)
    is_delta_o = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 4), 16, 10)
        .cast("long")
        % 20
        == 0
    )
    is_delta_l = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "-",
                        F.col("l_orderkey").cast("string"),
                        F.col("l_linenumber").cast("string"),
                    )
                ),
                1,
                4,
            ),
            16,
            10,
        )
        .cast("long")
        % 20
        == 0
    )
    # Persisted: each side's flagged projection is scanned once and every
    # base/delta split reads the cache — uncached, orders and lineitem
    # were each scanned four times (the md5 gate can't push down, so each
    # where() was a full pass).
    # r12: examined and kept LAZY — these are CORPUS-SIZED projections
    # (full orders/lineitem); the sf0.1 eager-cut win (1.93 → 1.69 s) came
    # from the base/delta splits racing to fill the cache, but the M=100
    # A/B read eager 36.4-46.0 s vs lazy 25.9-28.6 s: at scale the persist
    # fill pipelines into the first consumer pass while an eager cut pays a
    # separate full materialization job. Eager cuts stay reserved for
    # BOUNDED frames (vocabulary/domain/node-scale).
    o = persist(
        cat.orders.select("o_orderkey", "o_orderpriority", is_delta_o.alias("is_d"))
    )
    lp = persist(
        cat.lineitem.select(
            "l_orderkey",
            F.expr(
                "CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT)"
            ).alias("cents"),
            is_delta_l.alias("is_d"),
        )
    )
    o_b = o.where(~F.col("is_d")).drop("is_d")
    o_d = o.where(F.col("is_d")).drop("is_d")
    l_b = lp.where(~F.col("is_d")).drop("is_d")
    l_d = lp.where(F.col("is_d")).drop("is_d")
    on = F.col("l_orderkey") == F.col("o_orderkey")
    full = (
        o_b.join(l_b, on)
        .unionByName(o_b.join(l_d, on))
        .unionByName(o_d.join(l_b, on))
        .unionByName(o_d.join(l_d, on))
    )
    return full.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_items"),
        F.sum("cents").cast("long").alias("revenue_cents"),
    )


# ---------------------------------------------------------------------------
# Exact grouped median without per-group sorts (histogram decomposition)
# ---------------------------------------------------------------------------

@query(
    "grouped_median_exact",
    oracle="""
    WITH v AS (
        SELECT event_type,
               CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY CAST(CAST(value AS DECIMAL(12,2))
                                                * 100 AS BIGINT)) AS rk,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM events
    )
    SELECT event_type,
           CAST(n AS BIGINT)     AS n,
           CAST(cents AS BIGINT) AS median_cents
    FROM v WHERE rk = (n + 1) // 2
    """,
)
def grouped_median_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-group median (lower median, rank ⌈n/2⌉) — computed by
    histogram decomposition, not by sorting rows: collapse to (group,
    value) counts (one partial-agg shuffle), run a cumulative count over
    each group's VALUE HISTOGRAM (bounded by distinct values, not rows),
    and pick the first value whose running count reaches the target rank.
    This is the scalable exact-median: the JVM-side counterpart of
    ``grouped_udaf_median`` (the applyInPandas formulation, which must
    materialize each group in Python) and the grouped generalization of
    ``kth_order_statistics``. The ORACLE deliberately uses the naive
    row-rank formulation — two independent derivations agreeing on every
    value is the point of the check.

    Plan: fact rows cross the wire once (partial-aggregated histogram);
    the median window runs over per-group distinct-value rows. At 100 TB
    with high-cardinality values, band the histogram first (the
    ``kth_order_statistics`` two-level trick) — same shape, two rounds."""
    cat = Catalog(spark, sf_dir)
    hist = (
        cat.events.select(
            "event_type",
            F.expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)").alias(
                "cents"
            ),
        )
        .groupBy("event_type", "cents")
        .agg(F.count("*").alias("c"))
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("event_type")
    scored = hist.select(
        "event_type",
        "cents",
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(w_all).alias("n"),
    )
    return (
        scored.where(F.col("cum") >= F.expr("(n + 1) DIV 2"))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("event_type").orderBy("cents")
            ),
        )
        .where(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("n").cast("long").alias("n"),
            F.col("cents").cast("long").alias("median_cents"),
        )
    )


@query(
    "topk_diversified",
    oracle="""
    WITH capped AS (
        SELECT o_orderkey, o_custkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey)
                   AS per_cust_rank
        FROM orders
    )
    SELECT o_orderkey, o_custkey, o_totalprice,
           CAST(per_cust_rank AS BIGINT) AS per_cust_rank
    FROM capped
    WHERE per_cust_rank <= 2
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
)
def topk_diversified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversified global top-k: the 20 biggest orders with AT MOST TWO
    per customer — the "don't let one whale fill the leaderboard" ranking
    every dashboard top-N eventually needs. Two-stage: a per-customer
    row_number caps each key (WindowGroupLimit prunes to ≤ 2 rows per
    customer MAP-SIDE before the shuffle), then a global
    TakeOrderedAndProject picks 20 from the capped survivors — the full
    table is never globally sorted. Total order (o_totalprice desc,
    o_orderkey) at both stages makes ties deterministic."""
    cat = Catalog(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), "o_orderkey"
    )
    capped = (
        cat.orders.select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            F.row_number().over(w).alias("per_cust_rank"),
        )
        .filter(F.col("per_cust_rank") <= 2)
    )
    return (
        capped.select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            F.col("per_cust_rank").cast("long").alias("per_cust_rank"),
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(20)
    )


@query(
    "sql_pipe_syntax",
    oracle="""
    WITH g AS (
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS order_cnt,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
                   AS total_price
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        GROUP BY o_orderstatus, o_orderpriority
    )
    SELECT * FROM g WHERE order_cnt >= 5
    ORDER BY order_cnt DESC, o_orderstatus, o_orderpriority
    LIMIT 10
    """,
)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4 / GoogleSQL `|>` operators): the S9
    dashboard aggregate written as a linear pipeline — scan |> filter |>
    aggregate |> having |> order — the syntax BI tools are adopting for
    generated SQL. Catalyst parses it into exactly the plan the classic
    form gets (the DuckDB oracle runs the classic form; the value hash
    proves plan equivalence), so every pushdown/partial-agg property
    carries over unchanged."""
    cat = Catalog(spark, sf_dir)
    cat.register_views()
    return spark.sql(
        """
        FROM orders
        |> WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |> AGGREGATE COUNT(*) AS order_cnt,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
                         AS total_price
           GROUP BY o_orderstatus, o_orderpriority
        |> WHERE order_cnt >= 5
        |> ORDER BY order_cnt DESC, o_orderstatus, o_orderpriority
        |> LIMIT 10
        """
    )


@query(
    "sql_session_variables",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS order_cnt,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
               AS total_price
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1998-01-01' AND o_orderstatus = 'O'
    GROUP BY o_orderpriority
    """,
)
def sql_session_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL session variables (Spark 4 DECLARE / SET VAR): the
    parameterized-dashboard pattern — Superset-style templates bind a
    cutoff date and a status filter as typed session variables, and the
    query references them like columns. Constant-folded at analysis time,
    so pushdown sees literals (same plan as hand-inlined SQL; the oracle
    runs the inlined form)."""
    cat = Catalog(spark, sf_dir)
    cat.register_views()
    spark.sql("DECLARE OR REPLACE VARIABLE report_cutoff TIMESTAMP")
    spark.sql("SET VAR report_cutoff = TIMESTAMP '1998-01-01'")
    spark.sql("DECLARE OR REPLACE VARIABLE report_status STRING")
    spark.sql("SET VAR report_status = 'O'")
    return spark.sql(
        """
        SELECT o_orderpriority,
               COUNT(*) AS order_cnt,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
                   AS total_price
        FROM orders
        WHERE o_orderdate >= report_cutoff
          AND o_orderstatus = report_status
        GROUP BY o_orderpriority
        """
    )


@query(
    "filter_exists_correlated",
    oracle="""
    SELECT c_custkey, c_mktsegment
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderstatus = 'F')
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderstatus = 'P')
    """,
)
def filter_exists_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS subqueries (the remaining §2.2
    predicate shape next to IN / NOT IN / scalar subqueries): customers
    with a finished order and no pending one. Catalyst de-correlates both
    into a left-semi and a left-anti join on custkey — set semantics with
    no row duplication from the many-orders side (what an inner-join
    rewrite would get wrong)."""
    cat = Catalog(spark, sf_dir)
    cat.register_views()
    return spark.sql(
        """
        SELECT c_custkey, c_mktsegment
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderstatus = 'F')
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderstatus = 'P')
        """
    )


@query(
    "share_of_parent",
    oracle="""
    WITH cust AS (
        SELECT c_custkey, n_name, r_name,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)) * 100)
                    AS BIGINT) AS cents
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        GROUP BY c_custkey, n_name, r_name
    )
    SELECT c_custkey, n_name, r_name, cents,
           CAST(1000000 * cents // SUM(cents) OVER (PARTITION BY n_name)
                AS BIGINT) AS share_nation_ppm,
           CAST(1000000 * cents // SUM(cents) OVER (PARTITION BY r_name)
                AS BIGINT) AS share_region_ppm
    FROM cust
    """,
)
def share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical contribution analysis: each customer's revenue as a
    share (ppm) of their nation's and their region's totals — the
    drill-down "percent of parent" column every OLAP tree view carries.
    The fact table reduces to customer grain FIRST (one shuffle; dims
    broadcast), then two unbounded windows over the customer-grain table
    compute both parent totals — no join-back of aggregates, no second
    fact scan. 1e6·cents stays under 2^63 to ~9e12 cents per customer;
    the window totals are the usual DECIMAL swap past that."""
    cat = Catalog(spark, sf_dir)
    cust = (
        cat.orders.join(
            cat.customer.select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(cat.nation.select("n_nationkey", "n_name", "n_regionkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(cat.region.select("r_regionkey", "r_name")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy("c_custkey", "n_name", "r_name")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(12,2)") * 100)
            .cast("long")
            .alias("cents")
        )
    )
    return cust.select(
        "c_custkey",
        "n_name",
        "r_name",
        "cents",
        F.expr(
            "CAST(1000000 * cents div SUM(cents) OVER (PARTITION BY n_name)"
            " AS BIGINT)"
        ).alias("share_nation_ppm"),
        F.expr(
            "CAST(1000000 * cents div SUM(cents) OVER (PARTITION BY r_name)"
            " AS BIGINT)"
        ).alias("share_region_ppm"),
    )
