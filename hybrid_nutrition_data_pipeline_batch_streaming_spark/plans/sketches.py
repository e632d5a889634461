"""Mergeable sketch summaries — KMV distinct, count-min, Bloom, layout audit.

At 100 TB the questions "how many distinct keys", "how often does this key
occur", and "is this key in that set" are answered with SKETCHES, not exact
scans: a fixed-size summary each executor builds map-side and the driver (or
a final reduce) merges associatively. Spark ships opaque versions
(``approx_count_distinct`` = HyperLogLog++, ``Bloom`` runtime join filters),
but their binary outputs are engine-internal and cannot be value-checked
against another engine. These queries build the classic sketches from
relational primitives instead, with md5-derived hashes that Spark
(``conv(hex,16,10)``) and DuckDB (``strpos`` on the hex alphabet) decode to
identical integers — so every cell of the summary is oracle-checkable.

- ``agg_kmv_distinct``  — K-Minimum-Values distinct estimator (the
  bottom-k sketch, Bar-Yossef et al. 2002): keep the k smallest 48-bit
  hashes of the distinct keys; estimate = (k-1)·2⁴⁸ / h₍ₖ₎. Mergeable:
  union two sketches and re-take the bottom k (exactly what Spark's
  ``TakeOrderedAndProject`` does per partition, then at the merge).
- ``sketch_countmin``   — Count-Min (Cormode & Muthukrishnan 2005):
  d=4 rows × w=256 buckets of summed counts; point estimate = min over
  rows. Overestimate-only by construction. The build is vocabulary-sized
  (counts first, then cells), so the 4× cell blow-up never touches raw
  token instances.
- ``sketch_bloom``      — Bloom membership filter: 65 536 bits as 2 048
  32-bit words, k=3 hashes; ``bit_or`` is the mergeable word aggregate.
  Probes prove the no-false-negative contract; false positives are
  counted, not hidden. (Spark's own runtime bloom pruning is plan-checked
  in tests/test_plan_shape.py — this is the value-checkable analog.)
- ``length_bucketize``  — training-batch layout audit: pow-2 sequence-
  length buckets and the padding waste per bucket (the "bucketed batching"
  decision input for packing/padding pipelines). Integer-exact via
  ``length(bin(n-1))`` = ⌈log₂ n⌉ — no float log.

Reference parity note: the reference has no sketch surface (its distinct
counts run exact in ClickHouse, SURVEY.md §2.4 A5); these extend the A5 row
the way a 100 TB deployment would need.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import Catalog
from ..session import checkpoint_truncate, persist
from .registry import query

#: KMV sketch size (bottom-k).
KMV_K = 64
#: 48-bit hash space: 16^12.
_KMV_SPACE = 281474976710656

#: Count-min geometry: d rows × w buckets (two md5 hex chars per row hash).
CM_ROWS = 4
CM_PROBES = 5

#: Bloom geometry: 2^16 bits as 32-bit words, k=3 hashes of 4 hex chars.
BLOOM_HASHES = 3

_HEX = "0123456789abcdef"


def _duck_hex_int(expr: str, start: str, n: int) -> str:
    """DuckDB SQL decoding ``n`` hex chars of ``expr`` at 1-based ``start``
    into a BIGINT (the portable twin of Spark's ``conv(substr(...),16,10)``)."""
    return (
        "list_reduce(list_transform(range(0, {n}), i -> "
        "CAST(strpos('{hx}', substr({e}, {s} + i, 1)) - 1 AS BIGINT)), "
        "(a, b) -> a * 16 + b)"
    ).format(n=n, hx=_HEX, e=expr, s=start)


@query(
    "agg_kmv_distinct",
    oracle=f"""
    WITH vals AS (SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS v FROM orders),
    h AS (SELECT {_duck_hex_int('md5(v)', '1', 12)} AS h FROM vals),
    mins AS (SELECT h FROM h ORDER BY h LIMIT {KMV_K}),
    sk AS (SELECT CAST(COUNT(*) AS BIGINT) AS k_used, MAX(h) AS kth_hash FROM mins),
    ex AS (SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_distinct
           FROM orders)
    SELECT k_used, kth_hash,
           CAST(CASE WHEN k_used < {KMV_K} THEN k_used
                     ELSE (k_used - 1) * {_KMV_SPACE} // kth_hash END AS BIGINT)
               AS est_distinct,
           exact_distinct
    FROM sk CROSS JOIN ex
    """,
)
def agg_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (bottom-k) distinct-count sketch over ``orders.o_custkey``.

    Scale shape: distinct → hash → global bottom-k compiles to
    ``TakeOrderedAndProject`` — each partition keeps its own bottom k and
    only k rows per partition cross the wire; that per-partition/merge
    split IS the sketch's merge operation, so the same plan holds at any
    width. The exact count rides along (one extra distinct agg) purely so
    the sketch's error is visible in the output; a production caller drops
    it. 48-bit hash keeps (k−1)·2⁴⁸ inside BIGINT."""
    cat = Catalog(spark, sf_dir)
    vals = cat.orders.select(F.col("o_custkey").cast("string").alias("v")).distinct()
    h = vals.select(
        F.conv(F.substring(F.md5(F.col("v")), 1, 12), 16, 10)
        .cast("bigint")
        .alias("h")
    )
    mins = h.orderBy("h").limit(KMV_K)
    sk = mins.agg(
        F.count("*").cast("long").alias("k_used"),
        F.max("h").alias("kth_hash"),
    )
    ex = cat.orders.agg(
        F.countDistinct("o_custkey").cast("long").alias("exact_distinct")
    )
    return sk.crossJoin(F.broadcast(ex)).select(
        "k_used",
        "kth_hash",
        F.expr(
            f"cast(case when k_used < {KMV_K} then k_used"
            f" else (k_used - 1) * {_KMV_SPACE} div kth_hash end as bigint)"
        ).alias("est_distinct"),
        "exact_distinct",
    )


def _cm_bucket_spark(col: F.Column, row: int) -> F.Column:
    """Row-``row`` count-min bucket: two md5 hex chars → 0..255."""
    return (
        F.conv(F.substring(F.md5(col), 2 * row + 1, 2), 16, 10)
        .cast("bigint")
        .alias("bucket")
    )


def _cm_bucket_duck(expr: str, row: str) -> str:
    return (
        f"CAST((strpos('{_HEX}', substr(md5({expr}), 2 * {row} + 1, 1)) - 1) * 16"
        f" + (strpos('{_HEX}', substr(md5({expr}), 2 * {row} + 2, 1)) - 1) AS BIGINT)"
    )


@query(
    "sketch_countmin",
    oracle=f"""
    WITH tok AS (
        SELECT unnest(string_split(text, ' ')) AS t FROM documents
    ), tf AS (
        SELECT t, CAST(COUNT(*) AS BIGINT) AS c FROM tok WHERE t <> '' GROUP BY t
    ), rows_ AS (SELECT unnest(range(0, {CM_ROWS})) AS r),
    cells AS (
        SELECT rows_.r AS r, {_cm_bucket_duck('t', 'rows_.r')} AS bucket, c
        FROM tf CROSS JOIN rows_
    ), sketch AS (
        SELECT r, bucket, SUM(c) AS cell FROM cells GROUP BY r, bucket
    ), probes AS (
        SELECT t, c FROM tf ORDER BY c DESC, t LIMIT {CM_PROBES}
    ), probe_cells AS (
        SELECT p.t, p.c, rows_.r AS r, {_cm_bucket_duck('p.t', 'rows_.r')} AS bucket
        FROM probes p CROSS JOIN rows_
    )
    SELECT pc.t AS token, CAST(MIN(s.cell) AS BIGINT) AS cm_estimate,
           pc.c AS true_count
    FROM probe_cells pc JOIN sketch s ON s.r = pc.r AND s.bucket = pc.bucket
    GROUP BY pc.t, pc.c
    """,
)
def sketch_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min frequency sketch over document tokens, probed at the top-5
    true-frequent tokens (estimate ≥ truth, contract-tested).

    Scale shape: token counts FIRST (one corpus shuffle with map-side
    combine), then the d×w cell fan-out runs over the vocabulary-sized
    count table — the 4× row blow-up never multiplies raw token instances.
    The 1 024-cell sketch is broadcast to the probe join. At 100 TB the
    sketch table is the persisted artifact and point queries never touch
    the corpus; ``SUM`` cells merge across corpus shards by addition."""
    cat = Catalog(spark, sf_dir)
    tok = (
        cat.documents.select(F.explode(F.split(F.col("text"), " ")).alias("t"))
        .where(F.col("t") != "")
    )
    tf = checkpoint_truncate(
        tok.groupBy("t").agg(F.count("*").cast("long").alias("c"))
    )  # r12: eager cut (was a lazy persist; 0.69 → 0.62 s)
    row_structs = F.array(
        *[
            F.struct(
                F.lit(r).cast("bigint").alias("r"),
                _cm_bucket_spark(F.col("t"), r),
            )
            for r in range(CM_ROWS)
        ]
    )
    cells = tf.select(F.explode(row_structs).alias("s"), "c").select(
        F.col("s.r").alias("r"), F.col("s.bucket").alias("bucket"), "c"
    )
    sketch = cells.groupBy("r", "bucket").agg(F.sum("c").alias("cell"))
    probes = tf.orderBy(F.desc("c"), "t").limit(CM_PROBES)
    probe_cells = probes.select("t", "c", F.explode(row_structs).alias("s")).select(
        "t", "c", F.col("s.r").alias("r"), F.col("s.bucket").alias("bucket")
    )
    return (
        sketch.join(F.broadcast(probe_cells), ["r", "bucket"])
        .groupBy("t", "c")
        .agg(F.min("cell").cast("bigint").alias("cm_estimate"))
        .select(
            F.col("t").alias("token"),
            "cm_estimate",
            F.col("c").alias("true_count"),
        )
    )


def _bloom_pos_spark(col: F.Column, i: int) -> F.Column:
    """Hash ``i``: four md5 hex chars → bit position 0..65535."""
    return (
        F.conv(F.substring(F.md5(col), 4 * i + 1, 4), 16, 10)
        .cast("bigint")
        .alias("pos")
    )


def _bloom_pos_duck(expr: str, i: str) -> str:
    return (
        f"CAST((strpos('{_HEX}', substr(md5({expr}), 4 * {i} + 1, 1)) - 1) * 4096"
        f" + (strpos('{_HEX}', substr(md5({expr}), 4 * {i} + 2, 1)) - 1) * 256"
        f" + (strpos('{_HEX}', substr(md5({expr}), 4 * {i} + 3, 1)) - 1) * 16"
        f" + (strpos('{_HEX}', substr(md5({expr}), 4 * {i} + 4, 1)) - 1) AS BIGINT)"
    )


@query(
    "sketch_bloom",
    oracle=f"""
    WITH members AS (
        SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS k FROM customer
        WHERE c_mktsegment = 'BUILDING'
    ), hashes AS (SELECT unnest(range(0, {BLOOM_HASHES})) AS i),
    mpos AS (
        SELECT {_bloom_pos_duck('k', 'hashes.i')} AS pos
        FROM members CROSS JOIN hashes
    ), words AS (
        SELECT pos // 32 AS word,
               bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INTEGER)) AS wval
        FROM mpos GROUP BY pos // 32
    ), probes AS (
        SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS k FROM orders
    ), ppos AS (
        SELECT k, {_bloom_pos_duck('k', 'hashes.i')} AS pos
        FROM probes CROSS JOIN hashes
    ), verdict AS (
        SELECT p.k,
               MIN(CASE WHEN (COALESCE(w.wval, 0) >> CAST(p.pos % 32 AS INTEGER))
                             & 1 = 1
                        THEN 1 ELSE 0 END) AS positive
        FROM ppos p LEFT JOIN words w ON w.word = p.pos // 32
        GROUP BY p.k
    ), truth AS (
        SELECT v.k, v.positive,
               CASE WHEN m.k IS NOT NULL THEN 1 ELSE 0 END AS is_member
        FROM verdict v LEFT JOIN members m ON m.k = v.k
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_probes,
           CAST(SUM(is_member) AS BIGINT) AS n_members,
           CAST(SUM(positive) AS BIGINT) AS n_bloom_positive,
           CAST(SUM(CASE WHEN positive = 1 AND is_member = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_positive
    FROM truth
    """,
)
def sketch_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom membership filter: build over the BUILDING-segment customers,
    probe every distinct ordering customer; summary row proves zero false
    negatives (members ⊆ positives) and counts false positives honestly.

    Scale shape: the filter is 2 048 words built with ``bit_or`` — a fully
    associative word-wise aggregate, so shards build partial filters and a
    union merges them (exactly how Spark's own runtime bloom join filter
    is assembled). The word table is broadcast-sized at ANY member-set
    cardinality (fixed m); probes join it broadcast, one shuffle total for
    the probe-side distinct."""
    cat = Catalog(spark, sf_dir)
    members = (
        cat.customer.where(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").cast("string").alias("k"))
        .distinct()
    )
    pos_arr = lambda c: F.array(  # noqa: E731
        *[_bloom_pos_spark(c, i) for i in range(BLOOM_HASHES)]
    )
    words = (
        members.select(F.explode(pos_arr(F.col("k"))).alias("pos"))
        .groupBy((F.col("pos") / 32).cast("bigint").alias("word"))
        .agg(
            F.expr(
                "bit_or(shiftleft(cast(1 as bigint), cast(pos % 32 as int)))"
            ).alias("wval")
        )
    )
    probes = cat.orders.select(F.col("o_custkey").cast("string").alias("k")).distinct()
    ppos = probes.select("k", F.explode(pos_arr(F.col("k"))).alias("pos"))
    verdict = (
        ppos.join(
            F.broadcast(words),
            (F.col("pos") / 32).cast("bigint") == F.col("word"),
            "left",
        )
        .select(
            "k",
            F.expr(
                "case when (shiftright(coalesce(wval, cast(0 as bigint)),"
                " cast(pos % 32 as int)) & 1) = 1 then 1 else 0 end"
            ).alias("hit"),
        )
        .groupBy("k")
        .agg(F.min("hit").alias("positive"))
    )
    truth = verdict.join(
        F.broadcast(members.withColumn("is_member", F.lit(1))), ["k"], "left"
    ).select("positive", F.coalesce("is_member", F.lit(0)).alias("is_member"))
    return truth.agg(
        F.count("*").cast("long").alias("n_probes"),
        F.sum("is_member").cast("long").alias("n_members"),
        F.sum("positive").cast("long").alias("n_bloom_positive"),
        F.sum(
            F.when((F.col("positive") == 1) & (F.col("is_member") == 0), 1).otherwise(
                0
            )
        )
        .cast("long")
        .alias("n_false_positive"),
    )


@query(
    "length_bucketize",
    oracle="""
    WITH d AS (
        SELECT len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tok
        FROM documents
    ), b AS (
        SELECT n_tok,
               CASE WHEN n_tok <= 1 THEN 1
                    ELSE CAST(1 AS BIGINT) << CAST(length(bin(n_tok - 1)) AS INTEGER)
               END AS bucket
        FROM d
    )
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
           CAST(bucket * COUNT(*) AS BIGINT) AS padded_tokens,
           CAST((bucket * COUNT(*) - SUM(n_tok)) * 1000000
                // (bucket * COUNT(*)) AS BIGINT) AS waste_ppm
    FROM b GROUP BY bucket
    """,
)
def length_bucketize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pow-2 sequence-length bucketing with per-bucket padding waste — the
    input to the batch-layout decision (pad within buckets vs pack): a
    bucket above ~30% waste_ppm·10⁻⁶ wants packing instead.

    Integer-exact ⌈log₂ n⌉ via ``length(bin(n-1))`` (binary digit count) —
    no float log whose boundary rounding could differ across engines.
    Scale shape: map-side length + bucket expr, ONE shuffle into ≤~20
    bucket groups with partial aggregation."""
    cat = Catalog(spark, sf_dir)
    d = cat.documents.select(
        F.expr("cast(size(filter(split(text, ' '), x -> x != '')) as bigint)").alias(
            "n_tok"
        )
    )
    b = d.select(
        "n_tok",
        F.expr(
            "case when n_tok <= 1 then cast(1 as bigint)"
            " else shiftleft(cast(1 as bigint),"
            " cast(length(bin(n_tok - 1)) as int)) end"
        ).alias("bucket"),
    )
    return b.groupBy("bucket").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("sum_tokens"),
        F.expr("cast(first(bucket) * count(*) as bigint)").alias("padded_tokens"),
        F.expr(
            "cast((first(bucket) * count(*) - sum(n_tok)) * 1000000"
            " div (first(bucket) * count(*)) as bigint)"
        ).alias("waste_ppm"),
    )


@query(
    "kmv_overlap",
    oracle=f"""
    WITH a AS (
        SELECT DISTINCT CAST(user_id AS VARCHAR) AS v
        FROM events WHERE event_type = 'click'
    ), b AS (
        SELECT DISTINCT CAST(user_id AS VARCHAR) AS v
        FROM events WHERE event_type = 'purchase'
    ), ska AS (
        SELECT h FROM (SELECT {_duck_hex_int('md5(v)', '1', 12)} AS h FROM a)
        ORDER BY h LIMIT {KMV_K}
    ), skb AS (
        SELECT h FROM (SELECT {_duck_hex_int('md5(v)', '1', 12)} AS h FROM b)
        ORDER BY h LIMIT {KMV_K}
    ), uni AS (
        SELECT h FROM (
            SELECT h FROM ska UNION SELECT h FROM skb
        ) ORDER BY h LIMIT {KMV_K}
    ), stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k_used,
               MAX(u.h) AS kth_hash,
               CAST(SUM(CASE WHEN u.h IN (SELECT h FROM ska)
                              AND u.h IN (SELECT h FROM skb)
                             THEN 1 ELSE 0 END) AS BIGINT) AS j_common
        FROM uni u
    ), ex AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS exact_overlap
        FROM (SELECT v FROM a INTERSECT SELECT v FROM b)
    )
    SELECT k_used, j_common,
           CAST((k_used - 1) * {_KMV_SPACE} // kth_hash AS BIGINT) AS union_est,
           CAST(j_common * ((k_used - 1) * {_KMV_SPACE} // kth_hash)
                // k_used AS BIGINT) AS inter_est,
           exact_overlap
    FROM stats CROSS JOIN ex
    """,
)
def kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based SET INTERSECTION between two corpus slices (clicking vs
    purchasing users) — the KMV identity: the k smallest hashes of A∪B are
    a uniform sample of the union, so the fraction of them present in BOTH
    bottom-k sketches estimates Jaccard, and J·|A∪B|-estimate estimates the
    overlap. Each side ships only its k-row sketch (mergeable, constant
    size), so two 100 TB-side slices compare by exchanging k hashes —
    audience-overlap math without co-shuffling either side. Membership
    against the union's k smallest needs only the sketches themselves (any
    union-bottom-k hash from A is necessarily in A's bottom k). Exact
    overlap is reported beside the estimate, integer arithmetic
    throughout.

    r7: each side's distinct-user set is computed ONCE (persisted,
    user-cardinality) and feeds both its sketch and the exact-overlap
    verifier; each k-row sketch is persisted for its two probes — the
    fact table is scanned twice (once per side) instead of six times."""
    cat = Catalog(spark, sf_dir)

    def users(etype: str) -> DataFrame:
        return persist(
            cat.events.where(F.col("event_type") == etype)
            .select(F.col("user_id").cast("string").alias("v"))
            .distinct()
        )

    def sketch(us: DataFrame) -> DataFrame:
        return persist(
            us.select(
                F.conv(F.substring(F.md5(F.col("v")), 1, 12), 16, 10)
                .cast("long")
                .alias("h")
            )
            .orderBy("h")
            .limit(KMV_K)
        )

    a_users, b_users = users("click"), users("purchase")
    ska, skb = sketch(a_users), sketch(b_users)
    uni = ska.union(skb).distinct().orderBy("h").limit(KMV_K)
    flagged = (
        uni.join(ska.withColumnRenamed("h", "ha"), F.col("h") == F.col("ha"), "left")
        .join(skb.withColumnRenamed("h", "hb"), F.col("h") == F.col("hb"), "left")
    )
    stats = flagged.agg(
        F.count("*").alias("k_used"),
        F.max("h").alias("kth_hash"),
        F.sum(
            F.when(F.col("ha").isNotNull() & F.col("hb").isNotNull(), 1).otherwise(0)
        )
        .cast("long")
        .alias("j_common"),
    )
    ex = a_users.intersect(b_users).agg(F.count("*").alias("exact_overlap"))
    est = F.expr(f"(k_used - 1) * {_KMV_SPACE} DIV kth_hash")
    return stats.crossJoin(F.broadcast(ex)).select(
        "k_used",
        "j_common",
        est.cast("long").alias("union_est"),
        F.expr(
            f"j_common * ((k_used - 1) * {_KMV_SPACE} DIV kth_hash) DIV k_used"
        )
        .cast("long")
        .alias("inter_est"),
        "exact_overlap",
    )


#: HLL geometry: m=64 registers (top 6 hash bits), rho over the low 42 bits.
HLL_M = 64
_HLL_REST = 2**42
_HLL_SCALE = 2**50  # Σ 2^(50 − M_j) stays exact BIGINT for any M_j ≤ 43


@query(
    "sketch_hll",
    oracle=f"""
    WITH vals AS (
        SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS v FROM orders
    ), h AS (
        SELECT {_duck_hex_int('md5(v)', '1', 12)} AS h FROM vals
    ), parts AS (
        SELECT h // {_HLL_REST} AS reg, h % {_HLL_REST} AS rest FROM h
    ), rho AS (
        SELECT reg,
               CASE WHEN rest = 0 THEN 43
                    ELSE 43 - len(bin(rest)) END AS rho
        FROM parts
    ), regs AS (
        SELECT r.range AS reg, COALESCE(MAX(rho.rho), 0) AS m_j
        FROM range({HLL_M}) r LEFT JOIN rho ON rho.reg = r.range
        GROUP BY r.range
    ), s AS (
        SELECT CAST(SUM(CAST(POWER(2, 50 - m_j) AS BIGINT)) AS BIGINT)
                   AS s_scaled,
               CAST(SUM(CASE WHEN m_j = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_zero_regs
        FROM regs
    ), ex AS (
        SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_distinct
        FROM orders
    )
    SELECT s_scaled, n_zero_regs,
           (CAST(0.709 AS DOUBLE) * {HLL_M} * {HLL_M} * {_HLL_SCALE})
               / CAST(s_scaled AS DOUBLE) AS est_raw,
           exact_distinct
    FROM s CROSS JOIN ex
    """,
)
def sketch_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog with VALUE-CHECKABLE cells (completing A5's sketch tier
    the portable way — Spark's builtin approx_count_distinct carries opaque
    binary state that no oracle can compare): md5-derived 48-bit hashes
    split into a 6-bit register index and a 42-bit tail whose
    leading-zero rank is the classic rho; per-register MAX is the mergeable
    aggregate. The harmonic mean's fractional sum Σ2^(−M_j) is scaled to
    the EXACT integer Σ2^(50−M_j) (every term a power of two — no float
    accumulation), so both engines hash the sketch state identically and
    the one float division at the end is bit-stable. ``est_raw`` is the
    uncorrected HLL estimate; the small-range linear-counting correction
    needs ln() (not bit-portable) and is applied by the CALLER from the
    shipped n_zero_regs — the sketch state, not the presentation, is the
    contract. Build cost: one distinct + one 64-group aggregate."""
    cat = Catalog(spark, sf_dir)
    h = (
        cat.orders.select(F.col("o_custkey").cast("string").alias("v"))
        .distinct()
        .select(
            F.conv(F.substring(F.md5(F.col("v")), 1, 12), 16, 10)
            .cast("long")
            .alias("h")
        )
    )
    rho = h.select(
        F.expr(f"h DIV {_HLL_REST}").alias("reg"),
        F.expr(
            f"CASE WHEN h % {_HLL_REST} = 0 THEN 43"
            f" ELSE 43 - length(bin(h % {_HLL_REST})) END"
        ).alias("rho"),
    )
    regs = (
        spark.range(HLL_M)
        .withColumnRenamed("id", "reg")
        .join(rho.groupBy("reg").agg(F.max("rho").alias("rho")), "reg", "left")
        .select(F.coalesce(F.col("rho"), F.lit(0)).alias("m_j"))
    )
    s = regs.agg(
        F.sum(F.expr("CAST(POWER(2, 50 - m_j) AS BIGINT)"))
        .cast("long")
        .alias("s_scaled"),
        F.sum(F.when(F.col("m_j") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_zero_regs"),
    )
    ex = cat.orders.agg(
        F.countDistinct("o_custkey").alias("exact_distinct")
    )
    return s.crossJoin(F.broadcast(ex)).select(
        "s_scaled",
        "n_zero_regs",
        (
            F.lit(0.709).cast("double") * HLL_M * HLL_M * F.lit(_HLL_SCALE)
            / F.col("s_scaled").cast("double")
        ).alias("est_raw"),
        "exact_distinct",
    )


@query(
    "sketch_hll_merge",
    oracle=f"""
    WITH vals AS (
        SELECT DISTINCT date_trunc('month', CAST(o_orderdate AS DATE)) AS m,
               CAST(o_custkey AS VARCHAR) AS v
        FROM orders
    ), h AS (
        SELECT m, {_duck_hex_int('md5(v)', '1', 12)} AS h FROM vals
    ), rho AS (
        SELECT m, h // {_HLL_REST} AS reg,
               CASE WHEN h % {_HLL_REST} = 0 THEN 43
                    ELSE 43 - len(bin(h % {_HLL_REST})) END AS rho
        FROM h
    ), partials AS (
        SELECT m, reg, MAX(rho) AS m_j FROM rho GROUP BY m, reg
    ), merged AS (
        SELECT r.range AS reg, COALESCE(MAX(p.m_j), 0) AS m_j
        FROM range({HLL_M}) r LEFT JOIN partials p ON p.reg = r.range
        GROUP BY r.range
    ), direct AS (
        SELECT r.range AS reg, COALESCE(MAX(rho.rho), 0) AS m_j
        FROM range({HLL_M}) r LEFT JOIN rho ON rho.reg = r.range
        GROUP BY r.range
    ), sm AS (
        SELECT CAST(SUM(CAST(POWER(2, 50 - m_j) AS BIGINT)) AS BIGINT)
                   AS s_scaled,
               CAST(SUM(CASE WHEN m_j = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_zero_regs
        FROM merged
    ), sd AS (
        SELECT CAST(SUM(CAST(POWER(2, 50 - m_j) AS BIGINT)) AS BIGINT)
                   AS s_direct
        FROM direct
    ), np AS (
        SELECT CAST(COUNT(DISTINCT m) AS BIGINT) AS n_partials FROM vals
    )
    SELECT n_partials, s_scaled, n_zero_regs,
           (CAST(0.709 AS DOUBLE) * {HLL_M} * {HLL_M} * {_HLL_SCALE})
               / CAST(s_scaled AS DOUBLE) AS est_raw,
           s_scaled = s_direct AS matches_direct
    FROM sm CROSS JOIN sd CROSS JOIN np
    """,
)
def sketch_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL MERGE — the property that justifies sketches at 100 TB: build a
    partial sketch per month (each worker/day/partition summarizes its own
    slice), then combine by per-register MAX into the corpus sketch —
    byte-identical to the sketch built directly over all data
    (``matches_direct`` ships that proof in-band; max is associative,
    commutative, idempotent, so ANY merge tree gives the same registers).
    This is how a metrics store answers "distinct customers, any date
    range" from per-day sketch rows without re-scanning facts.

    Plan: per-month distinct + (month, reg) partial max + 64-group merge —
    all partial-agg friendly; the direct rebuild here exists only to verify
    the merge (a production store reads, never rebuilds). Same exact-
    integer state as ``sketch_hll`` (Σ2^(50−M_j), powers of two only)."""
    cat = Catalog(spark, sf_dir)
    vals = cat.orders.select(
        F.trunc(F.col("o_orderdate").cast("date"), "MM").alias("m"),
        F.col("o_custkey").cast("string").alias("v"),
    ).distinct()
    rho = vals.select(
        "m",
        F.conv(F.substring(F.md5(F.col("v")), 1, 12), 16, 10)
        .cast("long")
        .alias("h"),
    ).select(
        "m",
        F.expr(f"h DIV {_HLL_REST}").alias("reg"),
        F.expr(
            f"CASE WHEN h % {_HLL_REST} = 0 THEN 43"
            f" ELSE 43 - length(bin(h % {_HLL_REST})) END"
        ).alias("rho"),
    )
    # Persisted: rho derives from the fact-scale distinct and feeds the
    # per-month partials, the direct rebuild AND the n_partials count —
    # uncached, the orders distinct would execute three times. (In a
    # production store only `partials` is ever materialized; the direct
    # rebuild exists to verify the merge, so the triple-scan is an
    # artifact of shipping the proof in-band.)
    rho = persist(rho)
    partials = rho.groupBy("m", "reg").agg(F.max("rho").alias("m_j"))
    regs = spark.range(HLL_M).withColumnRenamed("id", "reg")
    merged = (
        regs.join(
            partials.groupBy("reg").agg(F.max("m_j").alias("m_j")),
            "reg",
            "left",
        )
        .select(F.coalesce(F.col("m_j"), F.lit(0)).alias("m_j"))
        .agg(
            F.sum(F.expr("CAST(POWER(2, 50 - m_j) AS BIGINT)"))
            .cast("long")
            .alias("s_scaled"),
            F.sum(F.when(F.col("m_j") == 0, 1).otherwise(0))
            .cast("long")
            .alias("n_zero_regs"),
        )
    )
    direct = (
        regs.join(rho.groupBy("reg").agg(F.max("rho").alias("rho")), "reg", "left")
        .select(F.coalesce(F.col("rho"), F.lit(0)).alias("m_j"))
        .agg(
            F.sum(F.expr("CAST(POWER(2, 50 - m_j) AS BIGINT)"))
            .cast("long")
            .alias("s_direct")
        )
    )
    # Counted off the cached rho (rho is a 1:1 map of vals, so the month
    # set is identical) — reading vals here would re-run the distinct.
    np_ = rho.agg(F.countDistinct("m").alias("n_partials"))
    return (
        merged.crossJoin(F.broadcast(direct))
        .crossJoin(F.broadcast(np_))
        .select(
            "n_partials",
            "s_scaled",
            "n_zero_regs",
            (
                F.lit(0.709).cast("double")
                * HLL_M
                * HLL_M
                * F.lit(_HLL_SCALE)
                / F.col("s_scaled").cast("double")
            ).alias("est_raw"),
            (F.col("s_scaled") == F.col("s_direct")).alias("matches_direct"),
        )
    )
