"""Dataset profiling / corpus statistics / incremental-aggregation algebra.

A 100 TB training-data pipeline begins with a dataset card: per-column
profiles, value histograms, and n-gram language-model counts — and keeps its
aggregates fresh by MERGING partial aggregates rather than recomputing full
scans. Each operator here is a single declarative plan (no driver-side
loops), with decimal-exact sums (``functions.parity``) so the DuckDB oracle
hash matches bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import Catalog
from ..functions.parity import MONEY, QTY, dsum
from ..session import checkpoint_truncate, persist
from .registry import query


@query(
    "profile_columns",
    oracle="""
    SELECT COUNT(*) AS row_cnt,
           COUNT(DISTINCT l_orderkey) AS orderkey_distinct,
           COUNT(DISTINCT l_returnflag) AS returnflag_distinct,
           COUNT(*) - COUNT(l_tax) AS tax_nulls,
           MIN(l_quantity) AS quantity_min,
           MAX(l_quantity) AS quantity_max,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
               / COUNT(l_quantity) AS quantity_avg,
           MIN(l_shipdate) AS shipdate_min,
           MAX(l_shipdate) AS shipdate_max,
           MIN(l_extendedprice) AS price_min,
           MAX(l_extendedprice) AS price_max
    FROM lineitem
    """,
)
def profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card profiler: row count, distinct cardinalities, null
    counts, numeric min/max/mean (decimal-exact), date range and string
    length bounds — all in ONE aggregation pass over the fact table (one
    scan, one reduce; the map side combines partials). The multi-distinct
    is expanded by Catalyst; at 100 TB swap exact distincts for
    ``approx_count_distinct`` sketches and this stays a single pass."""
    cat = Catalog(spark, sf_dir)
    li = cat.lineitem
    return li.agg(
        F.count("*").alias("row_cnt"),
        F.count_distinct("l_orderkey").alias("orderkey_distinct"),
        F.count_distinct("l_returnflag").alias("returnflag_distinct"),
        (F.count("*") - F.count("l_tax")).alias("tax_nulls"),
        F.min("l_quantity").alias("quantity_min"),
        F.max("l_quantity").alias("quantity_max"),
        (F.sum(F.col("l_quantity").cast(QTY)).cast("double") / F.count("l_quantity")).alias(
            "quantity_avg"
        ),
        F.min("l_shipdate").alias("shipdate_min"),
        F.max("l_shipdate").alias("shipdate_max"),
        F.min("l_extendedprice").alias("price_min"),
        F.max("l_extendedprice").alias("price_max"),
    )


@query(
    "histogram_value",
    oracle="""
    SELECT CAST(FLOOR(value / 50.0) AS INT) AS bucket,
           CAST(FLOOR(value / 50.0) AS INT) * 50.0 AS bucket_lo,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS bucket_value
    FROM events
    GROUP BY 1, 2
    """,
)
def histogram_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram (bucket = floor(value/50)): the
    profiling cut behind every dashboard distribution chart. One shuffle on
    the bucket id; bucket arithmetic is pure IEEE double ops so both
    engines compute identical bucket boundaries. Bucket count is bounded by
    the value domain, not the row count — scale-free output."""
    cat = Catalog(spark, sf_dir)
    bucket = F.floor(F.col("value") / 50.0).cast("int")
    return (
        cat.events.groupBy(
            bucket.alias("bucket"),
            (bucket * 50.0).alias("bucket_lo"),
        )
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("value").cast(MONEY)).cast("double").alias("bucket_value"),
        )
    )


@query(
    "ngram_bigram_lm",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z]+'),
                           t -> t <> '') AS ts
        FROM documents
    ), bi AS (
        SELECT unnest(list_zip(ts[1:len(ts)-1], ts[2:len(ts)])) AS z
        FROM toks WHERE len(ts) >= 2
    ), cnts AS (
        SELECT z[1] AS w1, z[2] AS w2, COUNT(*) AS cnt
        FROM bi GROUP BY 1, 2
    ), probs AS (
        -- window BEFORE the cnt filter (SQL evaluates WHERE before window
        -- functions, so the filter must live a level up to keep the
        -- denominator over ALL of w1's continuations)
        SELECT w1, w2, cnt,
               CAST(cnt AS DOUBLE)
                   / SUM(cnt) OVER (PARTITION BY w1) AS cond_prob
        FROM cnts
    )
    SELECT w1, w2, cnt, cond_prob FROM probs WHERE cnt >= 3
    """,
)
def ngram_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model counts with conditional probabilities
    P(w2|w1) = c(w1,w2) / Σ_w c(w1,w) — the corpus statistic behind
    KenLM-style filtering and contamination scoring. Bigrams are built by
    zipping two shifted slices of the token array (array ops stay inside
    one projection — the token array never crosses a shuffle; see
    NOTES.md on why not element_at-in-transform). Then one groupBy on the
    bigram and one window over w1: the denominator reuses the (w1,w2)
    aggregate rather than re-scanning the corpus. Integer-count division
    makes the probability bit-identical in both engines."""
    cat = Catalog(spark, sf_dir)
    toks = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z]+"), lambda t: t != F.lit("")
    )
    docs = cat.documents.select(toks.alias("ts")).where(F.size("ts") >= 2)
    bigrams = docs.select(
        F.explode(
            F.zip_with(
                F.slice(F.col("ts"), 1, F.size("ts") - 1),
                F.slice(F.col("ts"), 2, F.size("ts") - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("z")
    )
    cnts = bigrams.groupBy(
        F.col("z.w1").alias("w1"), F.col("z.w2").alias("w2")
    ).agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("w1")
    return (
        cnts.select(
            "w1",
            "w2",
            "cnt",
            (F.col("cnt").cast("double") / F.sum("cnt").over(w)).alias("cond_prob"),
        )
        .where(F.col("cnt") >= 3)
    )


@query(
    "perplexity_filter",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z]+'),
                           t -> t <> '') AS ts
        FROM documents
    ), bi AS (
        SELECT doc_id, i AS pos, ts[i] AS w1, ts[i + 1] AS w2
        FROM toks, UNNEST(range(1, len(ts))) AS t(i)
        WHERE len(ts) >= 2
    ), cnts AS (
        SELECT w1, w2, COUNT(*) AS cnt FROM bi GROUP BY 1, 2
    ), probs AS (
        SELECT w1, w2,
               CAST(cnt AS DOUBLE) / SUM(cnt) OVER (PARTITION BY w1) AS p
        FROM cnts
    ), folded AS (
        SELECT b.doc_id,
               COUNT(*) AS n_bigrams,
               list_reduce(list_prepend(0.0, list(pr.p ORDER BY b.pos)),
                           (a, x) -> a + x) AS p_sum
        FROM bi b JOIN probs pr ON b.w1 = pr.w1 AND b.w2 = pr.w2
        GROUP BY b.doc_id
    )
    SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
           p_sum / n_bigrams AS lm_score,
           (p_sum / n_bigrams >= 0.05) AS keep
    FROM folded
    """,
)
def perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM-based quality gating (the C4/CCNet perplexity-filter pattern):
    train the bigram LM on the corpus itself, score every document by its
    mean bigram probability under that LM, and gate on the score —
    low-likelihood docs are the gibberish/boilerplate a pretraining
    pipeline drops. Two shuffles build the LM (bigram groupBy + w1
    window); scoring is one broadcast-ready equi-join of doc bigrams
    against the prob table and one per-doc aggregation.

    Float-parity discipline: a per-doc SUM of doubles is
    summation-order-dependent, so both engines fold the probabilities in
    POSITION order (collect → sort by pos → left fold) — bit-identical,
    like the mm_decode_stats byte moments. The probability itself is one
    IEEE division of exact integer counts. At 100 TB the prob table is
    ~vocab² rows (tiny vs the corpus) — broadcast it; per-doc state is
    bounded by document length."""
    cat = Catalog(spark, sf_dir)
    toks = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z]+"), lambda t: t != F.lit("")
    )
    docs = cat.documents.select("doc_id", toks.alias("ts")).where(F.size("ts") >= 2)
    bi = docs.select(
        "doc_id",
        F.posexplode(
            F.zip_with(
                F.slice(F.col("ts"), 1, F.size("ts") - 1),
                F.slice(F.col("ts"), 2, F.size("ts") - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("pos", "z"),
    ).select("doc_id", "pos", F.col("z.w1").alias("w1"), F.col("z.w2").alias("w2"))
    cnts = bi.groupBy("w1", "w2").agg(F.count("*").alias("cnt"))
    probs = cnts.select(
        "w1",
        "w2",
        (
            F.col("cnt").cast("double")
            / F.sum("cnt").over(Window.partitionBy("w1"))
        ).alias("p"),
    )
    folded = (
        bi.join(probs, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.aggregate(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "p"))),
                    lambda s: s["p"],
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("p_sum"),
        )
    )
    score = F.col("p_sum") / F.col("n_bigrams")
    return folded.select(
        "doc_id",
        "n_bigrams",
        score.alias("lm_score"),
        (score >= 0.05).alias("keep"),
    )


@query(
    "agg_incremental_merge",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS order_cnt,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
               AS total_price,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
               / COUNT(*) AS avg_price
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-aggregation algebra: maintain a grouped aggregate by
    merging PARTIAL aggregates (count, decimal sum) from an existing
    snapshot and a new delta batch, instead of rescanning history — the
    incremental-view-maintenance pattern every warehouse rollup needs at
    100 TB. Here orders are split at 1997-01-01 into "old" and "delta",
    each reduced independently, then merged by summing the partials;
    non-decomposable stats (avg) are derived from the merged primitives.
    The oracle is the FULL recompute — passing proves the merge algebra is
    exact (decimal sums are associative; double sums would drift)."""
    cat = Catalog(spark, sf_dir)
    orders = cat.orders

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("o_totalprice").cast(MONEY)).alias("sum_dec"),
        )

    cut = F.lit("1997-01-01").cast("date")
    old = partial(orders.where(F.col("o_orderdate") < cut))
    delta = partial(orders.where(F.col("o_orderdate") >= cut))
    merged = (
        old.unionByName(delta)
        .groupBy("o_orderpriority")
        .agg(
            F.sum("cnt").alias("order_cnt"),
            F.sum("sum_dec").alias("merged_sum"),
        )
    )
    return merged.select(
        "o_orderpriority",
        "order_cnt",
        F.col("merged_sum").cast("double").alias("total_price"),
        (F.col("merged_sum").cast("double") / F.col("order_cnt")).alias("avg_price"),
    )


# ---------------------------------------------------------------------------
# Audit: file provenance + order-insensitive table checksum
# ---------------------------------------------------------------------------

@query("file_provenance")  # oracle registered below — it embeds the sf path
def file_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level provenance via the hidden ``_metadata`` scan columns (S10
    audit depth): per-source-file row counts — the lineage primitive for
    incremental backfills ("which files produced these rows?") and for
    debugging bad-file quarantine at 100 TB, where a scan covers millions of
    objects. ``_metadata.file_path`` is populated by the scan itself — zero
    extra IO, no join back to a manifest."""
    if _os.path.abspath(sf_dir) != _os.path.abspath(PROV_ORACLE_SF):
        # Loud skip beats silent mismatch: the registered oracle embeds a
        # literal fixture path (DuckDB's filename pseudo-column needs
        # read_parquet, not the driver's fixed views), so running the Spark
        # side at a DIFFERENT sf would hash-mismatch for a reason that has
        # nothing to do with correctness. Local harnesses re-point both
        # sides together via provenance_oracle()/PROV_ORACLE_SF.
        raise RuntimeError(
            "file_provenance oracle is pinned to "
            f"{PROV_ORACLE_SF!r} but the query was asked to run at "
            f"{sf_dir!r}; re-derive the oracle with provenance_oracle() "
            "and set profiling.PROV_ORACLE_SF, or set TEST_ORACLE_SF_DIR "
            "before the plans package imports"
        )
    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        df.select(
            F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1).alias(
                "file"
            )
        )
        .groupBy("file")
        .agg(F.count("*").alias("row_cnt"))
    )


# The provenance oracle needs the literal fixture path (DuckDB's filename
# pseudo-column comes from read_parquet, not the pre-registered view). The
# driver formats oracles against fixed views only, so substitute the default
# correctness sf_dir here; local harnesses re-derive per-SF via
# provenance_oracle() and re-point PROV_ORACLE_SF to match.
import os as _os  # noqa: E402

_PROV_SF = _os.environ.get("TEST_ORACLE_SF_DIR", "/root/testdata/sf0.01")

#: The sf dir the CURRENTLY REGISTERED oracle reads. file_provenance refuses
#: to run against any other sf_dir (loud failure instead of a silent
#: value-hash mismatch). Mutable so tools that re-derive the oracle per-SF
#: can re-point the guard in the same breath.
PROV_ORACLE_SF = _PROV_SF


def provenance_oracle(sf_dir: str) -> str:
    """The file_provenance DuckDB oracle for a given fixture dir."""
    return f"""
    SELECT parse_filename(filename) AS file, COUNT(*) AS row_cnt
    FROM read_parquet('{sf_dir}/lineitem.parquet', filename = true)
    GROUP BY 1
    """


from .registry import ORACLE as _ORACLE  # noqa: E402

_ORACLE["file_provenance"] = provenance_oracle(_PROV_SF)


@query(
    "table_checksum",
    oracle="""
    SELECT COUNT(*) AS row_cnt,
           CAST(SUM(CAST(('0x' || substr(md5(
                CAST(l_orderkey AS VARCHAR) || '|' ||
                CAST(l_linenumber AS VARCHAR) || '|' ||
                CAST(l_quantity AS VARCHAR) || '|' || l_returnflag
           ), 1, 8)) AS BIGINT)) AS BIGINT) AS checksum
    FROM lineitem
    """,
)
def table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive table checksum (the 100 TB migration audit): each
    row hashes to the first 32 bits of the md5 of its canonical key string;
    the table fingerprint is the exact BIGINT SUM of those words — integer
    addition commutes, so ANY partitioning/replica/engine computing the same
    rows produces the same checksum. Compare source vs replica fingerprints
    to certify a copy without sorting or shuffling either side: one map-side
    expression and a scalar aggregate."""
    cat = Catalog(spark, sf_dir)
    canon = F.concat_ws(
        "|",
        F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string"),
        F.col("l_quantity").cast("string"),
        F.col("l_returnflag"),
    )
    word = F.conv(F.substring(F.md5(canon), 1, 8), 16, 10).cast("long")
    return cat.lineitem.agg(
        F.count("*").alias("row_cnt"),
        F.sum(word).alias("checksum"),
    )


@query(
    "agg_approx_topk",
    oracle="""
    SELECT l_returnflag, COUNT(*) AS cnt FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_approx_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-items sketch (Spark 4's approx_top_k): the streaming-friendly
    heavy-hitters structure for 100 TB profiling — one pass, mergeable,
    bounded memory (default capacity 10 000 tracked items). Deterministic
    here BY CONSTRUCTION: k covers the column's full cardinality and the
    cardinality is far below the sketch capacity, so every count is exact
    and the item set complete — which is what lets the sketch carry a DuckDB
    oracle (the general case is rank-boundary-tie-dependent, like the other
    agg_approx_* sketches, and would be rows-only). The struct array is
    exploded to rows because the driver canonicalizer cannot hash arrays."""
    cat = Catalog(spark, sf_dir)
    cat.lineitem.createOrReplaceTempView("_topk_lineitem")
    return spark.sql(
        """
        SELECT x.item AS l_returnflag, x.count AS cnt
        FROM (
            SELECT explode(approx_top_k(l_returnflag, 3)) AS x
            FROM _topk_lineitem
        )
        """
    )


@query(
    "corr_matrix",
    oracle="""
    WITH m AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sq,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sp,
               CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sd,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                        * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sqq,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS spp,
               CAST(SUM(CAST(l_discount AS DECIMAL(18,2))
                        * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sdd,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                        * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sqp,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                        * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sqd,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS spd
        FROM lineitem
    )
    SELECT n,
           (sqp - sq * sp / n)
               / (sqrt(sqq - sq * sq / n) * sqrt(spp - sp * sp / n))
               AS corr_qty_price,
           (sqd - sq * sd / n)
               / (sqrt(sqq - sq * sq / n) * sqrt(sdd - sd * sd / n))
               AS corr_qty_discount,
           (spd - sp * sd / n)
               / (sqrt(spp - sp * sp / n) * sqrt(sdd - sd * sd / n))
               AS corr_price_discount
    FROM m
    """,
)
def corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations for the dataset card — with EXACT
    moments: all sums and cross-products accumulate in DECIMAL (2-decimal
    inputs square exactly at scale 4), so every moment is order-free, and
    the final correlation arithmetic is one fixed sequence of
    correctly-rounded double ops both engines execute identically (the
    same discipline as `standardize_values`; a float-accumulated corr()
    differs across partitionings in the low bits and would never
    hash-match). ONE aggregation pass produces the full moment matrix —
    adding columns adds expressions, not passes."""
    cat = Catalog(spark, sf_dir)
    q = F.col("l_quantity").cast("decimal(18,2)")
    p = F.col("l_extendedprice").cast("decimal(18,2)")
    d = F.col("l_discount").cast("decimal(18,2)")
    m = cat.lineitem.agg(
        F.count("*").alias("n"),
        F.sum(q).cast("double").alias("sq"),
        F.sum(p).cast("double").alias("sp"),
        F.sum(d).cast("double").alias("sd"),
        F.sum(q * q).cast("double").alias("sqq"),
        F.sum(p * p).cast("double").alias("spp"),
        F.sum(d * d).cast("double").alias("sdd"),
        F.sum(q * p).cast("double").alias("sqp"),
        F.sum(q * d).cast("double").alias("sqd"),
        F.sum(p * d).cast("double").alias("spd"),
    )

    def corr(sxy, sx, sy, sxx, syy):
        n = F.col("n")
        return (F.col(sxy) - F.col(sx) * F.col(sy) / n) / (
            F.sqrt(F.col(sxx) - F.col(sx) * F.col(sx) / n)
            * F.sqrt(F.col(syy) - F.col(sy) * F.col(sy) / n)
        )

    return m.select(
        "n",
        corr("sqp", "sq", "sp", "sqq", "spp").alias("corr_qty_price"),
        corr("sqd", "sq", "sd", "sqq", "sdd").alias("corr_qty_discount"),
        corr("spd", "sp", "sd", "spp", "sdd").alias("corr_price_discount"),
    )


@query(
    "checksum_buckets",
    oracle="""
    SELECT CAST(l_orderkey % 16 AS INT) AS bucket,
           COUNT(*) AS row_cnt,
           CAST(SUM(CAST(('0x' || substr(md5(
                CAST(l_orderkey AS VARCHAR) || '|' ||
                CAST(l_linenumber AS VARCHAR) || '|' ||
                CAST(l_quantity AS VARCHAR) || '|' || l_returnflag
           ), 1, 8)) AS BIGINT)) AS BIGINT) AS checksum
    FROM lineitem
    GROUP BY 1
    """,
)
def checksum_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed table fingerprints (`table_checksum`'s divergence-LOCALIZING
    form): one checksum per key bucket, so reconciling two 100 TB replicas
    that disagree narrows to re-copying the mismatched buckets instead of
    the table — the anti-entropy / Merkle-level-1 pattern. Same exact
    BIGINT word-sum per bucket; one partial-agg shuffle on a 16-value
    key."""
    cat = Catalog(spark, sf_dir)
    canon = F.concat_ws(
        "|",
        F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string"),
        F.col("l_quantity").cast("string"),
        F.col("l_returnflag"),
    )
    word = F.conv(F.substring(F.md5(canon), 1, 8), 16, 10).cast("long")
    return (
        cat.lineitem.groupBy((F.col("l_orderkey") % 16).cast("int").alias("bucket"))
        .agg(F.count("*").alias("row_cnt"), F.sum(word).alias("checksum"))
    )


@query(
    "corpus_drift_tv",
    oracle="""
    WITH tok AS (
        SELECT CASE WHEN (strpos('0123456789abcdef',
                          substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
                       + strpos('0123456789abcdef',
                          substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1 < 230
                    THEN 'train' ELSE 'heldout' END AS split,
               unnest(string_split(text, ' ')) AS t
        FROM documents
    ), c AS (
        SELECT t,
               CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT)
                   AS c1,
               CAST(SUM(CASE WHEN split = 'heldout' THEN 1 ELSE 0 END) AS BIGINT)
                   AS c2
        FROM tok WHERE t <> '' GROUP BY t
    ), n AS (
        SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2,
               COUNT(*) AS vocab
        FROM c
    )
    SELECT n.n1 AS n_train, n.n2 AS n_heldout, n.vocab,
           CAST(SUM(CAST(abs(c.c1 * n.n2 - c.c2 * n.n1) AS HUGEINT)) * 1000000
                // (2 * CAST(n.n1 AS HUGEINT) * n.n2) AS BIGINT) AS tv_ppm
    FROM c CROSS JOIN n
    GROUP BY n.n1, n.n2, n.vocab
    """,
)
def corpus_drift_tv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus drift detection: total-variation distance between the token
    distributions of two corpus slices (here the md5 train split vs the
    held-out rest) — ½·Σ|p(t)−q(t)| in EXACT integer arithmetic:
    |c₁·N₂ − c₂·N₁| cross-multiplied counts avoid any float probability,
    the sum is a BIGINT reduce, and the ppm division happens once. TV = 0
    means identical distributions; a monitoring job alerts on drift
    between corpus snapshots (the train/serving-skew check, or tokenizer
    re-training trigger). ONE token pass with a conditional aggregation
    produces both distributions; the vocabulary-sized table reduces to a
    single row. Use DECIMAL(38,0) accumulators past ~10¹² tokens."""
    cat = Catalog(spark, sf_dir)
    key = F.md5(F.col("doc_id").cast("string"))
    bucket = F.conv(F.substring(key, 1, 2), 16, 10).cast("int")
    tok = cat.documents.select(
        F.when(bucket < 230, "train").otherwise("heldout").alias("split"),
        F.explode(F.split(F.col("text"), " ")).alias("t"),
    ).where(F.col("t") != "")
    c = tok.groupBy("t").agg(
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0))
        .cast("long")
        .alias("c1"),
        F.sum(F.when(F.col("split") == "heldout", 1).otherwise(0))
        .cast("long")
        .alias("c2"),
    )
    n = c.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
        F.count("*").alias("vocab"),
    )
    return (
        c.crossJoin(F.broadcast(n))
        .groupBy("n1", "n2", "vocab")
        .agg(
            F.expr(
                "cast(sum(abs(cast(c1 as decimal(38,0)) * n2"
                " - cast(c2 as decimal(38,0)) * n1)) * 1000000"
                " div (2 * cast(first(n1) as decimal(38,0)) * first(n2)) as bigint)"
            ).alias("tv_ppm")
        )
        .select(
            F.col("n1").alias("n_train"),
            F.col("n2").alias("n_heldout"),
            "vocab",
            "tv_ppm",
        )
    )


@query(
    "histogram_equidepth",
    oracle="""
    WITH b AS (
        SELECT value,
               NTILE(8) OVER (ORDER BY value, event_id) AS bucket
        FROM events
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           MIN(value) AS lo,
           MAX(value) AS hi
    FROM b GROUP BY bucket
    """,
)
def histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram (quantile buckets — equal counts, data-driven
    boundaries): the complement of `histogram_value`'s fixed-width form and
    what optimizers/profilers actually store for skewed columns (uniform
    widths waste buckets on empty ranges). Exact spec via a global ntile
    with a deterministic tie-break; the 100 TB form replaces it with
    approx_percentile cut points broadcast as boundaries (same output
    contract, no global sort) — the same two-pass note as
    `curriculum_order`."""
    cat = Catalog(spark, sf_dir)
    w = Window.orderBy("value", "event_id")
    return (
        cat.events.select("value", F.ntile(8).over(w).alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("cnt"),
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
        )
    )


@query(
    "kth_order_statistics",
    oracle="""
    WITH c AS (
        SELECT CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        FROM events
    ), n AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM c
    ), k AS (
        SELECT n_rows, (n_rows + 1) // 2 AS k50,
               (9 * n_rows + 9) // 10 AS k90
        FROM n
    ), ranked AS (
        SELECT cents, ROW_NUMBER() OVER (ORDER BY cents) AS r FROM c
    )
    SELECT k.n_rows,
           CAST(MAX(CASE WHEN r.r = k.k50 THEN r.cents END) AS BIGINT)
               AS median_cents,
           CAST(MAX(CASE WHEN r.r = k.k90 THEN r.cents END) AS BIGINT)
               AS p90_cents
    FROM ranked r CROSS JOIN k
    GROUP BY k.n_rows
    """,
)
def kth_order_statistics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-th order statistics WITHOUT a global sort: money-typed values
    live on a bounded integer domain (cents), so the exact median and p90
    come from a domain-histogram — one partially-aggregated groupBy over
    ~2k distinct cents, a cumulative count over that domain-cardinality
    table (the only ordered stage, bounded by the VALUE DOMAIN, not the row
    count), and a first-bucket-reaching-k pick. The oracle computes the
    same ranks the naive way (global ROW_NUMBER), proving the histogram
    decomposition exact. This is how exact percentiles stay feasible at
    100 TB — `agg_percentile`'s sort-based exactness is per-GROUP; this is
    the whole-table variant. For unbounded domains the same plan runs on a
    quantized domain + per-bucket recursion (binary search), same shapes."""
    cat = Catalog(spark, sf_dir)
    hist = (
        cat.events.select(
            F.expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)").alias(
                "cents"
            )
        )
        .groupBy("cents")
        .agg(F.count("*").alias("cnt"))
    )
    # r12: eager cut (was a lazy persist) — the total count and the
    # cumulative pass raced to fill it (0.61 → 0.43 s).
    hist = checkpoint_truncate(hist)
    totals = hist.agg(F.sum("cnt").cast("long").alias("n_rows"))
    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    cum = (
        hist.withColumn("cum", F.sum("cnt").over(w).cast("long"))
        .crossJoin(F.broadcast(totals))
        .withColumn("k50", F.expr("(n_rows + 1) DIV 2"))
        .withColumn("k90", F.expr("(9 * n_rows + 9) DIV 10"))
    )
    return cum.groupBy("n_rows").agg(
        F.min(F.when(F.col("cum") >= F.col("k50"), F.col("cents"))).alias(
            "median_cents"
        ),
        F.min(F.when(F.col("cum") >= F.col("k90"), F.col("cents"))).alias(
            "p90_cents"
        ),
    )


@query(
    "weighted_median",
    oracle="""
    WITH c AS (
        SELECT CAST(l_quantity AS BIGINT) AS qty,
               CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                   AS w_cents
        FROM lineitem
    ), hist AS (
        SELECT qty, CAST(SUM(w_cents) AS BIGINT) AS w
        FROM c GROUP BY qty
    ), tot AS (
        SELECT CAST(SUM(w) AS BIGINT) AS w_total FROM hist
    ), cum AS (
        SELECT qty, w,
               CAST(SUM(w) OVER (ORDER BY qty ROWS BETWEEN UNBOUNDED
                    PRECEDING AND CURRENT ROW) AS BIGINT) AS cw,
               w_total
        FROM hist CROSS JOIN tot
    )
    SELECT w_total,
           CAST(MIN(CASE WHEN 2 * cw >= w_total THEN qty END) AS BIGINT)
               AS weighted_median_qty,
           CAST(MIN(CASE WHEN 10 * cw >= 9 * w_total THEN qty END) AS BIGINT)
               AS weighted_p90_qty
    FROM cum GROUP BY w_total
    """,
)
def weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-weighted order statistics: the quantity level below which
    half (and 90%) of the REVENUE sits — weighted quantiles, the inventory
    cut a merchandiser actually uses (unweighted medians over-weight cheap
    high-volume lines). Same bounded-domain histogram shape as
    ``kth_order_statistics`` with decimal-exact cent WEIGHTS instead of row
    counts: one partial-aggregated histogram over ~50 quantity levels, a
    domain-cardinality cumulative weight, and threshold picks via integer
    cross-multiplication (2·cw ≥ W, 10·cw ≥ 9·W — no division at all). No
    table-scale sort at any size."""
    cat = Catalog(spark, sf_dir)
    hist = persist(
        cat.lineitem.select(
            F.col("l_quantity").cast("long").alias("qty"),
            F.expr(
                "CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)"
            ).alias("w_cents"),
        )
        .groupBy("qty")
        .agg(F.sum("w_cents").cast("long").alias("w"))
        # Persisted: the weight-histogram feeds both the total weight and
        # the cumulative pass - one lineitem scan instead of two.
    )
    tot = hist.agg(F.sum("w").cast("long").alias("w_total"))
    w_cum = Window.orderBy("qty").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.withColumn("cw", F.sum("w").over(w_cum).cast("long")).crossJoin(
        F.broadcast(tot)
    )
    return cum.groupBy("w_total").agg(
        F.min(F.when(2 * F.col("cw") >= F.col("w_total"), F.col("qty")))
        .cast("long")
        .alias("weighted_median_qty"),
        F.min(F.when(10 * F.col("cw") >= 9 * F.col("w_total"), F.col("qty")))
        .cast("long")
        .alias("weighted_p90_qty"),
    )


@query(
    "percentile_interpolated",
    oracle="""
    WITH v AS (
        SELECT event_type,
               CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
               row_number() OVER (PARTITION BY event_type ORDER BY
                                  CAST(CAST(value AS DECIMAL(12,2)) * 100
                                       AS BIGINT)) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM events
    ), picked AS (
        SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
               MAX(CASE WHEN rn = (n - 1) * 50 // 100 + 1 THEN cents END)
                   AS a50,
               MAX(CASE WHEN rn = (n - 1) * 50 // 100 + 2 THEN cents END)
                   AS b50,
               CAST(MAX((n - 1) * 50 % 100) AS BIGINT) AS f50,
               MAX(CASE WHEN rn = (n - 1) * 95 // 100 + 1 THEN cents END)
                   AS a95,
               MAX(CASE WHEN rn = (n - 1) * 95 // 100 + 2 THEN cents END)
                   AS b95,
               CAST(MAX((n - 1) * 95 % 100) AS BIGINT) AS f95
        FROM v GROUP BY event_type
    )
    SELECT event_type, n,
           CAST(a50 * (100 - f50) + COALESCE(b50, a50) * f50 AS BIGINT)
               AS p50_c100,
           CAST(a95 * (100 - f95) + COALESCE(b95, a95) * f95 AS BIGINT)
               AS p95_c100
    FROM picked
    """,
)
def percentile_interpolated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCENTILE_CONT with linear interpolation, made EXACT: the standard
    definition places p at fractional rank (n−1)·p, interpolating between
    the two adjacent order statistics — engines differ in float rounding
    there, so this computes the interpolation in integer cent-hundredths:
    p_c100 = x_k·(100−frac) + x_{k+1}·frac where frac = (n−1)·p mod 100.
    One ranking window per series + one conditional aggregate picks both
    bracketing order statistics for p50 and p95 (the rank targets are
    expressions of the per-group count, so no second pass); ties don't
    matter because equal ranks carry equal values. The window partitions
    by event_type — at high per-group cardinality the two-level histogram
    of ``kth_order_statistics``/``grouped_median_exact`` replaces the
    sort, same formula."""
    cat = Catalog(spark, sf_dir)
    cents = F.expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)")
    w = Window.partitionBy("event_type").orderBy("cents")
    v = cat.events.select("event_type", cents.alias("cents")).select(
        "event_type",
        "cents",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("event_type")).alias("n"),
    )
    picked = v.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n"),
        F.expr(
            "MAX(CASE WHEN rn = (n - 1) * 50 div 100 + 1 THEN cents END)"
        ).alias("a50"),
        F.expr(
            "MAX(CASE WHEN rn = (n - 1) * 50 div 100 + 2 THEN cents END)"
        ).alias("b50"),
        F.expr("CAST(MAX((n - 1) * 50 % 100) AS BIGINT)").alias("f50"),
        F.expr(
            "MAX(CASE WHEN rn = (n - 1) * 95 div 100 + 1 THEN cents END)"
        ).alias("a95"),
        F.expr(
            "MAX(CASE WHEN rn = (n - 1) * 95 div 100 + 2 THEN cents END)"
        ).alias("b95"),
        F.expr("CAST(MAX((n - 1) * 95 % 100) AS BIGINT)").alias("f95"),
    )
    return picked.select(
        "event_type",
        "n",
        F.expr(
            "CAST(a50 * (100 - f50) + COALESCE(b50, a50) * f50 AS BIGINT)"
        ).alias("p50_c100"),
        F.expr(
            "CAST(a95 * (100 - f95) + COALESCE(b95, a95) * f95 AS BIGINT)"
        ).alias("p95_c100"),
    )
