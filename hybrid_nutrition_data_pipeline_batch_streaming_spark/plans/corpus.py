"""The full corpus-build pipeline: every north-star curation stage composed
end-to-end into ONE query (SURVEY.md §2.11 — the engine's flagship
demonstration that the training-data operators compose).

    quality gate → language gate → exact dedup → near-dup clustering
    (MinHash bands → connected components, one survivor per cluster) →
    deterministic train/val/test split → sequence packing

Stage order is the scale argument: the map-only gates run first and shrink
everything downstream; exact dedup (one window shuffle) runs before the
much costlier near-dup stage; the pair graph and its components are built
only over gate+exact survivors; packing — the one Python boundary — sees
only canonical documents. At 100 TB each arrow is the same plan shape as
its standalone query (same helpers, same shuffles), so the standalone plan
audits transfer.

The oracle replays all six stages in one DuckDB statement (two recursive
CTEs: transitive closure for components, the next-fit recurrence for
packing), so the whole composition is value-checked end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import Catalog
from ..session import checkpoint_truncate
from .registry import query
from .dedup import (
    _MINHASH_CAND_SQL,
    _SHINGLES_SQL,
    _MINHASH_SIG_SQL,
)
from .graph import connected_components, doc_pair_edges
from .text import (
    _EN_SCORE_SQL,
    _ES_SCORE_SQL,
    _STOP_LIST_SQL,
    _lang_scores,
    _quality_scores,
)
from .curation import _PACK_CTE_SQL, _PACK_SHARD_SQL, pack_next_fit


def corpus_gate_survivors(cat: Catalog) -> DataFrame:
    """Stages 1-3 of the corpus build — quality gate, language gate, exact
    dedup — as one deterministic map + one window shuffle over ``documents``:
    the canonical survivor set ``(doc_id, source, text, n_tok)``.
    ``pipeline_drop_reasons`` applies the same gate functions to every
    document, because it also reports each dropped document's reason."""
    toks = F.split(F.col("text"), " ")
    _, _, pred_lang = _lang_scores()
    _, _, quality = _quality_scores(toks)
    gated = cat.documents.select(
        "doc_id",
        "source",
        "text",
        F.size(toks).alias("n_tok"),
        F.md5(F.lower(F.trim(F.col("text")))).alias("text_hash"),
    ).where((quality >= 2) & (pred_lang == "en"))
    w = Window.partitionBy("text_hash").orderBy("doc_id")
    return (
        gated.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "source", "text", "n_tok")
    )


@query(
    "pipeline_corpus_build",
    oracle=f"""
    WITH RECURSIVE scored AS (
        SELECT doc_id, source, text, string_split(text, ' ') AS toks,
               md5(lower(trim(text))) AS text_hash,
               CASE WHEN {_EN_SCORE_SQL} >= {_ES_SCORE_SQL}
                         AND {_EN_SCORE_SQL} > 0 THEN 'en'
                    WHEN {_ES_SCORE_SQL} > 0 THEN 'es'
                    ELSE 'und' END AS pred_lang
        FROM documents
    ), quality AS (
        SELECT doc_id, source, text, text_hash, pred_lang,
               CAST(len(toks) AS INT) AS n_tok,
               CASE WHEN len(toks) BETWEEN 20 AND 400 THEN 1 ELSE 0 END
                 + CASE WHEN CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) > 0.3
                        THEN 1 ELSE 0 END
                 + CASE WHEN CAST(len(list_filter(toks, x ->
                             list_contains({_STOP_LIST_SQL}, x))) AS DOUBLE) / len(toks)
                             BETWEEN 0.01 AND 0.5 THEN 1 ELSE 0 END AS quality
        FROM scored
    ), kept AS (
        SELECT doc_id, source, text, n_tok,
               ROW_NUMBER() OVER (PARTITION BY text_hash ORDER BY doc_id) AS rn
        FROM quality
        WHERE quality >= 2 AND pred_lang = 'en'
    ), k AS (
        SELECT doc_id, source, text, n_tok FROM kept WHERE rn = 1
    ), sh AS (
        SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM k
    ), sig AS (
        SELECT doc_id, shingles,
           {_MINHASH_SIG_SQL}
        FROM sh
    ), cand AS (
{_MINHASH_CAND_SQL}
    ), edges AS (
        SELECT c.doc_a, c.doc_b
        FROM cand c
        JOIN sig sa ON sa.doc_id = c.doc_a
        JOIN sig sb ON sb.doc_id = c.doc_b
        WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
                 / len(list_distinct(list_concat(sa.shingles, sb.shingles))) >= 0.5
    ), und AS (
        SELECT doc_a AS src, doc_b AS dst FROM edges
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM edges
    ), comp(doc, reach) AS (
        SELECT doc_id, doc_id FROM k
        UNION
        SELECT c.doc, u.dst FROM comp c JOIN und u ON u.src = c.reach
    ), labels AS (
        SELECT doc, MIN(reach) AS rep FROM comp GROUP BY doc
    ), canon AS (
        SELECT k.doc_id, k.source, k.n_tok
        FROM k JOIN labels l ON l.doc = k.doc_id AND l.rep = k.doc_id
    ), docs AS (
        SELECT doc_id, source, {_PACK_SHARD_SQL} AS pack_shard, n_tok,
               ROW_NUMBER() OVER (
                   PARTITION BY source, {_PACK_SHARD_SQL} ORDER BY doc_id
               ) AS rn
        FROM canon
    ), {_PACK_CTE_SQL}
    SELECT doc_id, source, pack_shard, n_tok, seq_id, seq_offset,
           CASE WHEN (strpos('0123456789abcdef',
                             substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
                     + strpos('0123456789abcdef',
                              substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1 < 230
                     THEN 'train'
                WHEN (strpos('0123456789abcdef',
                             substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
                     + strpos('0123456789abcdef',
                              substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1 < 243
                     THEN 'val'
                ELSE 'test'
           END AS split
    FROM packed
    """,
)
def pipeline_corpus_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All six curation stages in one pass (see module docstring): emits the
    dataloader-ready map (doc_id, source, n_tok, seq_id, seq_offset, split)
    for every surviving canonical document."""
    cat = Catalog(spark, sf_dir)

    # Stages 1-3 (map-only gates + one exact-dedup window shuffle) — the
    # shared survivor set (corpus_gate_survivors).
    # Lineage cut, not persist: k feeds component seeding AND packing, and
    # the CC loop downstream issues an action per round — each would re-run
    # Catalyst over the very large gate expression trees (~40 marker
    # counters). Truncating lineage here cut the composed pipeline's
    # driver-side analysis from seconds per action to milliseconds (see
    # plans/graph.py for the same note).
    k = checkpoint_truncate(corpus_gate_survivors(cat))

    # Stage 4: near-dup clusters over survivors; keep each cluster's min
    # id. The banded minhash build runs over k (this pipeline's own
    # lineage-cut survivor set — shingles + signatures + band joins inside
    # this query's timed plan).
    edges = doc_pair_edges(k)
    labels = connected_components(k.select("doc_id"), edges)
    canon = (
        labels.where(F.col("doc_id") == F.col("cluster_rep"))
        .join(k, "doc_id")
        .select("doc_id", "source", "n_tok")
    )

    # Stage 5-6: deterministic split + shard-bounded next-fit packing
    # (plans/curation.py::pack_next_fit — one Arrow batch per
    # (source, pack_shard), so a giant source cannot OOM an executor).
    packed = pack_next_fit(canon)
    key = F.md5(F.col("doc_id").cast("string"))
    bucket = F.conv(F.substring(key, 1, 2), 16, 10).cast("int")
    return packed.select(
        "doc_id",
        "source",
        "pack_shard",
        "n_tok",
        "seq_id",
        "seq_offset",
        F.when(bucket < 230, "train")
        .when(bucket < 243, "val")
        .otherwise("test")
        .alias("split"),
    )


# ---------------------------------------------------------------------------
# Balanced output sharding — distributed prefix sum
# ---------------------------------------------------------------------------

#: Token budget per output shard (~8 shards at sf0.001, scales with corpus).
SHARD_TOKEN_BUDGET = 4096


@query(
    "shard_balanced",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               md5('shard:' || CAST(doc_id AS VARCHAR)) AS k
        FROM documents
    ), c AS (
        SELECT doc_id, n_tokens,
               SUM(n_tokens) OVER (
                   ORDER BY k, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS excl
        FROM t
    )
    SELECT doc_id, n_tokens,
           CAST(COALESCE(excl, 0) // 4096 AS BIGINT) AS shard_id
    FROM c
    """,
)
def shard_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced output sharding: assign every document to a fixed-token-
    budget output shard, in a reproducible shuffled order (md5 of doc_id —
    no RNG state, resumable). This is the write-planning step a corpus
    build runs right before `partitionBy(shard_id)` so output files land
    near-equal-sized regardless of document-length skew.

    The naive formulation is a running SUM over ONE global ORDER BY —
    a single-partition window that serializes the whole corpus through one
    task. This implementation is the two-phase distributed prefix sum
    instead: (1) bucket docs by the first hex char of the shuffle key and
    compute the 16 per-bucket token subtotals (one map-side-combined
    shuffle, 16 rows out); (2) turn the subtotals into exclusive bucket
    offsets with a window over 16 rows (trivially single-partition);
    (3) broadcast the offsets back and compute the within-bucket running
    sum in parallel (window partitioned BY bucket). Because the bucket is
    a prefix of the sort key, bucket-offset + within-bucket prefix ==
    global prefix, bit-for-bit. At 100 TB, widen the bucket prefix to 2-3
    hex chars (256-4096 parallel partitions) — same plan.

    The DuckDB oracle runs the naive single-window form, proving the
    two-phase decomposition exact.
    """
    cat = Catalog(spark, sf_dir)
    t = cat.documents.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
        F.md5(F.concat(F.lit("shard:"), F.col("doc_id").cast("string"))).alias("k"),
    ).withColumn("bucket", F.substring("k", 1, 1))
    bucket_tot = t.groupBy("bucket").agg(F.sum("n_tokens").alias("tot"))
    offsets = bucket_tot.withColumn(
        "bucket_off",
        F.coalesce(
            F.sum("tot").over(
                Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).select("bucket", "bucket_off")
    within = F.coalesce(
        F.sum("n_tokens").over(
            Window.partitionBy("bucket")
            .orderBy("k", "doc_id")
            .rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    return (
        t.join(F.broadcast(offsets), "bucket")
        .withColumn("excl", F.col("bucket_off") + within)
        .select(
            "doc_id",
            "n_tokens",
            F.floor(F.col("excl") / F.lit(SHARD_TOKEN_BUDGET))
            .cast("long")
            .alias("shard_id"),
        )
    )


# ---------------------------------------------------------------------------
# Per-document drop-reason attribution (pipeline provenance audit)
# ---------------------------------------------------------------------------


@query(
    "pipeline_drop_reasons",
    oracle=f"""
    WITH RECURSIVE scored AS (
        SELECT doc_id, text, string_split(text, ' ') AS toks,
               md5(lower(trim(text))) AS text_hash,
               CASE WHEN {_EN_SCORE_SQL} >= {_ES_SCORE_SQL}
                         AND {_EN_SCORE_SQL} > 0 THEN 'en'
                    WHEN {_ES_SCORE_SQL} > 0 THEN 'es'
                    ELSE 'und' END AS pred_lang
        FROM documents
    ), quality AS (
        SELECT doc_id, text, text_hash, pred_lang,
               CASE WHEN len(toks) BETWEEN 20 AND 400 THEN 1 ELSE 0 END
                 + CASE WHEN CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) > 0.3
                        THEN 1 ELSE 0 END
                 + CASE WHEN CAST(len(list_filter(toks, x ->
                             list_contains({_STOP_LIST_SQL}, x))) AS DOUBLE) / len(toks)
                             BETWEEN 0.01 AND 0.5 THEN 1 ELSE 0 END AS quality
        FROM scored
    ), ranked AS (
        SELECT doc_id, text,
               ROW_NUMBER() OVER (PARTITION BY text_hash ORDER BY doc_id) AS rn
        FROM quality
        WHERE quality >= 2 AND pred_lang = 'en'
    ), k AS (
        SELECT doc_id, text FROM ranked WHERE rn = 1
    ), sh AS (
        SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM k
    ), sig AS (
        SELECT doc_id, shingles,
           {_MINHASH_SIG_SQL}
        FROM sh
    ), cand AS (
{_MINHASH_CAND_SQL}
    ), edges AS (
        SELECT c.doc_a, c.doc_b
        FROM cand c
        JOIN sig sa ON sa.doc_id = c.doc_a
        JOIN sig sb ON sb.doc_id = c.doc_b
        WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
                 / len(list_distinct(list_concat(sa.shingles, sb.shingles))) >= 0.5
    ), und AS (
        SELECT doc_a AS src, doc_b AS dst FROM edges
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM edges
    ), comp(doc, reach) AS (
        SELECT doc_id, doc_id FROM k
        UNION
        SELECT c.doc, u.dst FROM comp c JOIN und u ON u.src = c.reach
    ), labels AS (
        SELECT doc, MIN(reach) AS rep FROM comp GROUP BY doc
    )
    SELECT q.doc_id,
           CASE WHEN q.quality < 2 THEN 'quality'
                WHEN q.pred_lang <> 'en' THEN 'language'
                WHEN r.rn > 1 THEN 'exact_dup'
                WHEN l.rep <> q.doc_id THEN 'near_dup'
                ELSE 'kept' END AS reason,
           CAST(q.quality AS INT) AS quality, q.pred_lang
    FROM quality q
    LEFT JOIN ranked r ON r.doc_id = q.doc_id
    LEFT JOIN labels l ON l.doc = q.doc_id
    """,
)
def pipeline_drop_reasons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-record provenance for the corpus build: EVERY input document gets
    the FIRST pipeline stage that dropped it — 'quality' | 'language' |
    'exact_dup' | 'near_dup' | 'kept' — plus its gate scores. This is the
    audit table a production curation run publishes next to the corpus
    (why did my document disappear?), and the direct analogue of the
    reference's quarantine accounting for unparseable rows
    (dagster_project/pipeline.py drop-on-error) lifted to whole-pipeline
    granularity.

    Same stage plans as pipeline_corpus_build (the audits transfer): map-
    only gates, one window shuffle for exact-dup rank, banded equi-joins +
    label propagation for near-dup clusters. The fates come back to the
    full input via two LEFT broadcast-able joins on doc_id; precedence is
    a single CASE, so a doc failing several gates reports the earliest —
    deterministic in both engines."""
    cat = Catalog(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    _, _, pred_lang = _lang_scores()
    _, _, quality = _quality_scores(toks)
    base = cat.documents.select(
        "doc_id",
        "text",
        F.md5(F.lower(F.trim(F.col("text")))).alias("text_hash"),
        quality.cast("int").alias("quality"),
        pred_lang.alias("pred_lang"),
    )
    base = checkpoint_truncate(base)

    w = Window.partitionBy("text_hash").orderBy("doc_id")
    ranked = (
        base.where((F.col("quality") >= 2) & (F.col("pred_lang") == "en"))
        .withColumn("rn", F.row_number().over(w))
        .select("doc_id", "text", "rn")
    )
    survivors = checkpoint_truncate(
        ranked.where(F.col("rn") == 1).select("doc_id", "text")
    )

    # Same survivor set as corpus_gate_survivors by construction (the
    # shared gate).
    edges = doc_pair_edges(survivors)
    labels = connected_components(survivors, edges)

    reason = (
        F.when(F.col("quality") < 2, "quality")
        .when(F.col("pred_lang") != "en", "language")
        .when(F.col("rn") > 1, "exact_dup")
        .when(F.col("cluster_rep") != F.col("doc_id"), "near_dup")
        .otherwise("kept")
    )
    return (
        base.join(ranked.select("doc_id", "rn"), "doc_id", "left")
        .join(
            labels.select("doc_id", "cluster_rep"),
            "doc_id",
            "left",
        )
        .select("doc_id", reason.alias("reason"), "quality", "pred_lang")
    )


@query(
    "allocate_largest_remainder",
    oracle="""
    WITH g AS (
        SELECT lang, source, CAST(SUM(n_chars) AS BIGINT) AS chars
        FROM documents GROUP BY lang, source
    ), t AS (
        SELECT lang, source, chars,
               SUM(chars) OVER ()                          AS total,
               1000000 * chars // SUM(chars) OVER ()       AS base,
               (1000000 * chars) % SUM(chars) OVER ()      AS rem
        FROM g
    ), r AS (
        SELECT lang, source, chars, base, rem,
               1000000 - SUM(base) OVER () AS deficit,
               row_number() OVER (ORDER BY rem DESC, lang, source) AS rk
        FROM t
    )
    SELECT lang, source, chars,
           CAST(base AS BIGINT) AS base_alloc,
           CAST(base + CASE WHEN rk <= deficit THEN 1 ELSE 0 END AS BIGINT)
               AS final_alloc
    FROM r
    """,
)
def allocate_largest_remainder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact proportional budget allocation (Hamilton / largest-remainder
    method): split a 1M-token sampling budget across (lang, source)
    strata proportional to their character mass, with Σ final_alloc equal
    to the budget EXACTLY — floor each proportional share, then hand the
    leftover units to the largest remainders (total order (rem desc,
    lang, source), so ties never diverge). This is the published-dataset
    contract corpus_quota_split enforces per-row, computed at the
    planning layer. One corpus shuffle reduces to the bounded stratum
    table (|langs|×|sources| rows); every window after runs on that
    bounded domain — the kth_order_statistics argument. The B·chars
    products hold in BIGINT while B·total_chars < 2^63 (B=1e6 budget vs
    ~1e11-char fixture-class corpora); past that the two products move to
    DECIMAL(38,0)."""
    cat = Catalog(spark, sf_dir)
    budget = F.lit(1_000_000).cast("long")
    g = (
        cat.documents.groupBy("lang", "source")
        .agg(F.sum("n_chars").cast("long").alias("chars"))
    )
    every = Window.partitionBy()
    t = g.select(
        "lang",
        "source",
        "chars",
        (budget * F.col("chars"))
        .cast("long")
        .alias("scaled"),
        F.sum("chars").over(every).alias("total"),
    ).select(
        "lang",
        "source",
        "chars",
        F.expr("scaled div total").alias("base"),
        F.expr("scaled % total").alias("rem"),
    )
    r = t.select(
        "lang",
        "source",
        "chars",
        "base",
        (budget - F.sum("base").over(every)).alias("deficit"),
        F.row_number()
        .over(Window.orderBy(F.desc("rem"), "lang", "source"))
        .alias("rk"),
    )
    return r.select(
        "lang",
        "source",
        "chars",
        F.col("base").cast("long").alias("base_alloc"),
        (
            F.col("base")
            + F.when(F.col("rk") <= F.col("deficit"), 1).otherwise(0)
        )
        .cast("long")
        .alias("final_alloc"),
    )
