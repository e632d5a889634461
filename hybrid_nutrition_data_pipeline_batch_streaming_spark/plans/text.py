"""Text analysis over the documents table (SURVEY.md §2.4 A4, §2.11 X3;
north-star: language-ID, quality scoring, token counting, fingerprinting).

The reference's only text analytics is the Superset word cloud over
`openai_best_pairings` (`README.md:61-64`); everything here generalizes that
to an LLM-training-data text pipeline. All ops are built-in column
expressions (split/explode/transform/md5) — no Python UDFs — so they run
inside whole-stage codegen and shuffle at most once (the token groupBy).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import Catalog
from ..session import checkpoint_truncate, persist
from .registry import query


@query(
    "wordcloud_tokens",
    oracle="""
    SELECT token, COUNT(*) AS freq
    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    WHERE token <> ''
    GROUP BY token
    ORDER BY freq DESC, token
    LIMIT 50
    """,
)
def wordcloud_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token frequency top-N (A4) — the word-cloud aggregation
    (`README.md:61-64`) as explode → groupBy → TakeOrdered."""
    cat = Catalog(spark, sf_dir)
    return (
        cat.documents.select(F.explode(F.split(F.col("text"), " ")).alias("token"))
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("token"))
        .limit(50)
    )


def _occurrences(text: Column, marker: str) -> Column:
    """Count non-overlapping occurrences of ``marker`` in ``text`` via the
    length-difference trick — pure string arithmetic, identical in any SQL
    dialect (the portable form of the word-frequency heuristic)."""
    return (F.length(text) - F.length(F.replace(text, F.lit(marker)))) / len(marker)


def _occ_sql(expr: str, marker: str) -> str:
    return f"(length({expr}) - length(replace({expr}, '{marker}', ''))) / {len(marker)}"


# Tiny deterministic marker lexicons (language-ID heuristic: function-word
# hit counting — the classic n-gram/stopword LID shortcut).
_EN_MARKERS = (" the ", " a ", " and ", " of ", " is ")
_ES_MARKERS = (" el ", " la ", " de ", " que ", " y ")

_PADDED = "' ' || text || ' '"
_EN_SCORE_SQL = " + ".join(_occ_sql(_PADDED, m) for m in _EN_MARKERS)
_ES_SCORE_SQL = " + ".join(_occ_sql(_PADDED, m) for m in _ES_MARKERS)


def _lang_scores() -> tuple[Column, Column, Column]:
    """(en, es, pred_lang) over ``text``: each lexicon's marker hits and the
    language they predict — 'en' when English hits at least tie Spanish
    ones, else 'es' on any Spanish hit, else 'und'."""
    padded = F.concat(F.lit(" "), F.col("text"), F.lit(" "))
    en = sum((_occurrences(padded, m) for m in _EN_MARKERS), F.lit(0))
    es = sum((_occurrences(padded, m) for m in _ES_MARKERS), F.lit(0))
    pred_lang = (
        F.when((en >= es) & (en > 0), F.lit("en"))
        .when(es > 0, F.lit("es"))
        .otherwise(F.lit("und"))
    )
    return en, es, pred_lang


@query(
    "lang_id",
    oracle=f"""
    SELECT doc_id,
           CAST({_EN_SCORE_SQL} AS DOUBLE) AS en_score,
           CAST({_ES_SCORE_SQL} AS DOUBLE) AS es_score,
           CASE
               WHEN {_EN_SCORE_SQL} >= {_ES_SCORE_SQL}
                    AND {_EN_SCORE_SQL} > 0 THEN 'en'
               WHEN {_ES_SCORE_SQL} > 0 THEN 'es'
               ELSE 'und'
           END AS pred_lang
    FROM documents
    """,
)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language identification via function-word marker counting (north-star
    text-analysis op). Pure column arithmetic — at 100 TB this is a
    map-only pass with zero shuffle."""
    cat = Catalog(spark, sf_dir)
    en, es, pred_lang = _lang_scores()
    return cat.documents.select(
        "doc_id",
        en.cast("double").alias("en_score"),
        es.cast("double").alias("es_score"),
        pred_lang.alias("pred_lang"),
    )


_STOPWORDS = ("the", "a", "and", "of", "is")
_STOP_LIST_SQL = "['" + "', '".join(_STOPWORDS) + "']"


def _quality_scores(toks: Column) -> tuple[Column, Column, Column]:
    """(stopword_ratio, uniq_ratio, quality) of a token array: the
    Gopher-style 0-3 score, one point each for a 20-400 token length, a
    unique-token ratio above 0.3 and a stopword ratio in [0.01, 0.5]."""
    n = F.size(toks)
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    stop_ratio = (
        F.size(F.filter(toks, lambda x: F.array_contains(stop_arr, x))).cast("double")
        / n
    )
    uniq_ratio = F.size(F.array_distinct(toks)).cast("double") / n
    quality = (
        F.when(n.between(20, 400), 1).otherwise(0)
        + F.when(uniq_ratio > 0.3, 1).otherwise(0)
        + F.when(stop_ratio.between(0.01, 0.5), 1).otherwise(0)
    )
    return stop_ratio, uniq_ratio, quality


@query(
    "text_stats",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, text, n_chars, string_split(text, ' ') AS toks
        FROM documents
    )
    SELECT doc_id, n_chars,
           CAST(len(toks) AS INT)                AS n_tokens,
           CAST(len(list_distinct(toks)) AS INT) AS n_uniq_tokens,
           CAST(length(replace(text, ' ', '')) AS DOUBLE)
             / len(toks)                         AS avg_token_len,
           CAST(len(list_filter(regexp_split_to_array(text, '[^a-z0-9]+'),
                                x -> x <> '')) AS INT) AS re_tokens,
           CAST(len(list_filter(toks, x -> list_contains({_STOP_LIST_SQL}, x)))
                AS DOUBLE) / len(toks)           AS stopword_ratio,
           CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS uniq_ratio,
           CASE
               WHEN {_EN_SCORE_SQL} >= {_ES_SCORE_SQL}
                    AND {_EN_SCORE_SQL} > 0 THEN 'en'
               WHEN {_ES_SCORE_SQL} > 0 THEN 'es'
               ELSE 'und'
           END AS pred_lang,
           CAST(CASE WHEN len(toks) BETWEEN 20 AND 400 THEN 1 ELSE 0 END
                + CASE WHEN CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) > 0.3
                       THEN 1 ELSE 0 END
                + CASE WHEN CAST(len(list_filter(toks, x ->
                            list_contains({_STOP_LIST_SQL}, x))) AS DOUBLE) / len(toks)
                            BETWEEN 0.01 AND 0.5 THEN 1 ELSE 0 END AS INT) AS quality
    FROM t
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text profile (X3, north-star): length statistics,
    whitespace + regex token counts, stopword/lexical-diversity ratios,
    marker-based language ID, and the 0-3 quality score — ONE map-only
    projection, zero shuffle, linear at 100 TB. The standalone variants
    (`lang_id`, `quality_score`, `token_count`) stay registered; this
    composite carries the driver correctness row for the family."""
    cat = Catalog(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    re_toks = F.filter(F.split(F.col("text"), "[^a-z0-9]+"), lambda x: x != "")
    stop_ratio, uniq_ratio, quality = _quality_scores(toks)
    _, _, pred_lang = _lang_scores()
    return cat.documents.select(
        "doc_id",
        "n_chars",
        n.alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_uniq_tokens"),
        (
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double")
            / n
        ).alias("avg_token_len"),
        F.size(re_toks).alias("re_tokens"),
        stop_ratio.alias("stopword_ratio"),
        uniq_ratio.alias("uniq_ratio"),
        pred_lang.alias("pred_lang"),
        quality.cast("int").alias("quality"),
    )


@query(
    "quality_score",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, n_chars,
               string_split(text, ' ') AS toks
        FROM documents
    )
    SELECT doc_id,
           CAST(len(toks) AS INT) AS n_tokens,
           CAST(len(list_filter(toks, x -> list_contains({_STOP_LIST_SQL}, x))) AS DOUBLE)
             / len(toks) AS stopword_ratio,
           CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS uniq_ratio,
           CAST(n_chars AS DOUBLE) / len(toks) AS chars_per_token,
           CAST(CASE WHEN len(toks) BETWEEN 20 AND 400 THEN 1 ELSE 0 END
                + CASE WHEN CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) > 0.3
                       THEN 1 ELSE 0 END
                + CASE WHEN CAST(len(list_filter(toks, x ->
                            list_contains({_STOP_LIST_SQL}, x))) AS DOUBLE) / len(toks)
                            BETWEEN 0.01 AND 0.5 THEN 1 ELSE 0 END AS INT) AS quality
    FROM t
    """,
)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document quality scoring (north-star): length band,
    lexical-diversity and stopword-ratio signals summed into a 0-3 score —
    the Gopher-rules shape, as pure column expressions."""
    cat = Catalog(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    stop_ratio, uniq_ratio, quality = _quality_scores(toks)
    return cat.documents.select(
        "doc_id",
        n.alias("n_tokens"),
        stop_ratio.alias("stopword_ratio"),
        uniq_ratio.alias("uniq_ratio"),
        (F.col("n_chars").cast("double") / n).alias("chars_per_token"),
        quality.cast("int").alias("quality"),
    )


@query(
    "token_count",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens,
           CAST(len(list_filter(regexp_split_to_array(text, '[^a-z0-9]+'),
                                x -> x <> '')) AS INT) AS re_tokens,
           CAST(length(text) AS DOUBLE)
             / len(list_filter(regexp_split_to_array(text, '[^a-z0-9]+'),
                               x -> x <> '')) AS chars_per_re_token
    FROM documents
    """,
)
def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (north-star): whitespace tokens plus a BPE-ish
    regex-word tokenization ([^a-z0-9]+ splits), both JVM-side."""
    cat = Catalog(spark, sf_dir)
    ws = F.split(F.col("text"), " ")
    re_toks = F.filter(F.split(F.col("text"), "[^a-z0-9]+"), lambda x: x != "")
    return cat.documents.select(
        "doc_id",
        F.size(ws).alias("ws_tokens"),
        F.size(re_toks).alias("re_tokens"),
        (F.length("text").cast("double") / F.size(re_toks)).alias("chars_per_re_token"),
    )


@query(
    "pipeline_text_curation",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, text,
               string_split(text, ' ') AS toks,
               md5(lower(trim(text))) AS text_hash,
               CASE WHEN {_EN_SCORE_SQL} >= {_ES_SCORE_SQL}
                         AND {_EN_SCORE_SQL} > 0 THEN 'en'
                    WHEN {_ES_SCORE_SQL} > 0 THEN 'es'
                    ELSE 'und' END AS pred_lang
        FROM documents
    ), quality AS (
        SELECT doc_id, text_hash, pred_lang,
               CAST(len(toks) AS INT) AS n_tokens,
               CASE WHEN len(toks) BETWEEN 20 AND 400 THEN 1 ELSE 0 END
                 + CASE WHEN CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) > 0.3
                        THEN 1 ELSE 0 END
                 + CASE WHEN CAST(len(list_filter(toks, x ->
                             list_contains({_STOP_LIST_SQL}, x))) AS DOUBLE) / len(toks)
                             BETWEEN 0.01 AND 0.5 THEN 1 ELSE 0 END AS quality
        FROM scored
    ), kept AS (
        SELECT doc_id, text_hash, n_tokens, CAST(quality AS INT) AS quality,
               ROW_NUMBER() OVER (PARTITION BY text_hash ORDER BY doc_id) AS rn
        FROM quality
        WHERE quality >= 2 AND pred_lang = 'en'
    )
    SELECT doc_id, n_tokens, quality FROM kept WHERE rn = 1
    """,
)
def pipeline_text_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north-star ops composed into one curation pass (the shape of a
    real training-data pipeline): quality gate → language gate → exact
    dedup keeping the smallest doc_id — a single Catalyst plan whose only
    shuffle is the dedup window. At 100 TB the map-only gates run first and
    cut the shuffle volume, which is exactly why they're composed this way.
    """
    cat = Catalog(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    _, _, pred_lang = _lang_scores()
    _, _, quality = _quality_scores(toks)
    from pyspark.sql.window import Window

    gated = cat.documents.select(
        "doc_id",
        n.alias("n_tokens"),
        quality.cast("int").alias("quality"),
        F.md5(F.lower(F.trim(F.col("text")))).alias("text_hash"),
    ).where((quality >= 2) & (pred_lang == "en"))
    w = Window.partitionBy("text_hash").orderBy("doc_id")
    return (
        gated.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "n_tokens", "quality")
    )


CHUNK_TOKENS = 64
CHUNK_STRIDE = 48  # 16-token overlap


@query(
    "text_chunking",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), ids AS (
        SELECT doc_id, toks,
               CAST(unnest(generate_series(0,
                   CAST(greatest(ceil((len(toks) - {CHUNK_TOKENS})
                                      / {CHUNK_STRIDE}.0), 0) AS BIGINT))) AS INT) AS chunk_id
        FROM t
    ), chunks AS (
        SELECT doc_id, chunk_id,
               array_to_string(toks[(chunk_id * {CHUNK_STRIDE} + 1)
                                    :(chunk_id * {CHUNK_STRIDE} + {CHUNK_TOKENS})], ' ') AS chunk_text
        FROM ids
    )
    SELECT doc_id, chunk_id, chunk_text,
           CAST(len(string_split(chunk_text, ' ')) AS INT) AS n_chunk_tokens
    FROM chunks
    """,
)
def text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (north-star text op): fixed
    {CHUNK_TOKENS}-token windows with {CHUNK_STRIDE}-token stride — the
    standard context-window preparation step for LLM training corpora.
    Pure slice/explode column work: one generator, no shuffle, linear in
    corpus size."""
    cat = Catalog(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    n_chunks = F.greatest(
        F.ceil((F.size(toks) - F.lit(CHUNK_TOKENS)) / F.lit(float(CHUNK_STRIDE))),
        F.lit(0),
    )
    idx = F.sequence(F.lit(0), n_chunks.cast("bigint"))
    chunked = cat.documents.select(
        "doc_id",
        toks.alias("toks"),
        F.explode(idx).alias("chunk_id"),
    ).select(
        "doc_id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.array_join(
            F.slice(
                F.col("toks"),
                (F.col("chunk_id") * CHUNK_STRIDE + 1).cast("int"),
                CHUNK_TOKENS,
            ),
            " ",
        ).alias("chunk_text"),
    )
    return chunked.withColumn(
        "n_chunk_tokens", F.size(F.split(F.col("chunk_text"), " "))
    )


#: Pinned english stop list (Spark's StopWordsRemover default, frozen
#: here so the oracle cannot drift if a Spark upgrade edits the list;
#: passed EXPLICITLY to StopWordsRemover below).
ENGLISH_STOPWORDS: tuple[str, ...] = (
    'i', 'me', 'my', 'myself', 'we', 'our', 'ours', 'ourselves', 'you',
    'your', 'yours', 'yourself', 'yourselves', 'he', 'him', 'his', 'himself',
    'she', 'her', 'hers', 'herself', 'it', 'its', 'itself', 'they', 'them',
    'their', 'theirs', 'themselves', 'what', 'which', 'who', 'whom', 'this',
    'that', 'these', 'those', 'am', 'is', 'are', 'was', 'were', 'be', 'been',
    'being', 'have', 'has', 'had', 'having', 'do', 'does', 'did', 'doing',
    'a', 'an', 'the', 'and', 'but', 'if', 'or', 'because', 'as', 'until',
    'while', 'of', 'at', 'by', 'for', 'with', 'about', 'against', 'between',
    'into', 'through', 'during', 'before', 'after', 'above', 'below', 'to',
    'from', 'up', 'down', 'in', 'out', 'on', 'off', 'over', 'under', 'again',
    'further', 'then', 'once', 'here', 'there', 'when', 'where', 'why',
    'how', 'all', 'any', 'both', 'each', 'few', 'more', 'most', 'other',
    'some', 'such', 'no', 'nor', 'not', 'only', 'own', 'same', 'so', 'than',
    'too', 'very', 's', 't', 'can', 'will', 'just', 'don', 'should', 'now',
    "i'll", "you'll", "he'll", "she'll", "we'll", "they'll", "i'd", "you'd",
    "he'd", "she'd", "we'd", "they'd", "i'm", "you're", "he's", "she's",
    "it's", "we're", "they're", "i've", "we've", "you've", "they've",
    "isn't", "aren't", "wasn't", "weren't", "haven't", "hasn't", "hadn't",
    "don't", "doesn't", "didn't", "won't", "wouldn't", "shan't", "shouldn't",
    "mustn't", "can't", "couldn't", 'cannot', 'could', "here's", "how's",
    "let's", 'ought', "that's", "there's", "what's", "when's", "where's",
    "who's", "why's", 'would',
)


#: SQL IN-list form of the same tuple, derived mechanically (single-quote
#: doubling) so there is exactly ONE source of truth — a hand-maintained
#: second literal could drift without tripping anything until the parity
#: sweep (VERDICT r8 item 3).
_STOPWORDS_SQL = ", ".join(
    "'" + w.replace("'", "''") + "'" for w in ENGLISH_STOPWORDS
)


@query(
    "text_ml_pipeline",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS tokens FROM documents
    ), f AS (
        SELECT doc_id, len(tokens) AS n_tokens,
               len(list_filter(tokens,
                               t -> t NOT IN ({{_STOPWORDS_SQL}}))) AS n_content
        FROM toks
    )
    SELECT doc_id,
           CAST(n_tokens AS INT) AS n_tokens,
           CAST(n_content AS INT) AS n_content_tokens,
           CAST(n_tokens - n_content AS INT) AS n_stopwords
    FROM f
    """.replace("{_STOPWORDS_SQL}", _STOPWORDS_SQL),
)
def text_ml_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib text pipeline (X3 library path): Tokenizer → StopWordsRemover →
    HashingTF term frequencies — the feature-extraction front half of any
    Spark-native text classifier/clusterer. Round 8: promoted from
    rows-only to ORACLE-BACKED — the HashingTF buckets are JVM-internal and
    stay out of the output, but every emitted column (token / content /
    stopword counts) is deterministic, so the oracle replays the
    Tokenizer's whitespace split and the PINNED stop list
    (ENGLISH_STOPWORDS) exactly. The stop list is passed explicitly so a
    Spark default-list change can never silently diverge from the oracle."""
    from pyspark.ml.feature import HashingTF, StopWordsRemover, Tokenizer

    cat = Catalog(spark, sf_dir)
    toks = Tokenizer(inputCol="text", outputCol="tokens").transform(cat.documents)
    filtered = StopWordsRemover(
        inputCol="tokens", outputCol="filtered",
        stopWords=list(ENGLISH_STOPWORDS),
    ).transform(toks)
    tf = HashingTF(inputCol="filtered", outputCol="tf", numFeatures=1024).transform(
        filtered
    )
    return tf.select(
        "doc_id",
        F.size("tokens").alias("n_tokens"),
        F.size("filtered").alias("n_content_tokens"),
        (F.size("tokens") - F.size("filtered")).alias("n_stopwords"),
    )


@query(
    "doc_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(lower(trim(text))) AS fp_exact,
           list_min(list_transform(
               generate_series(1, greatest(length(text) - 7, 1)),
               i -> md5(substr(text, CAST(i AS INT), 8)))) AS fp_min_shingle
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting (north-star): a whole-document content hash
    plus a min-hash over 8-char rolling shingles (the rolling-hash winnowing
    shape) — the pair of keys an exact/near dedup pass clusters on."""
    cat = Catalog(spark, sf_dir)
    positions = F.sequence(F.lit(1), F.greatest(F.length("text") - 7, F.lit(1)))
    return cat.documents.select(
        "doc_id",
        F.md5(F.lower(F.trim(F.col("text")))).alias("fp_exact"),
        F.array_min(
            F.transform(positions, lambda i: F.md5(F.col("text").substr(i, F.lit(8))))
        ).alias("fp_min_shingle"),
    )


# ---------------------------------------------------------------------------
# Embedding generation (feature-hashing stand-in for the model boundary)
# ---------------------------------------------------------------------------

HASH_DIM = 8  # feature-hash buckets = output embedding dims


@query(
    "embed_feature_hash",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), bucketed AS (
        SELECT doc_id,
               (strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) % {HASH_DIM}
                   AS bucket
        FROM toks
    ), counts AS (
        SELECT doc_id,
               {", ".join(
                   f"CAST(SUM(CASE WHEN bucket = {i} THEN 1 ELSE 0 END) AS DOUBLE)"
                   f" AS c{i}"
                   for i in range(HASH_DIM)
               )}
        FROM bucketed GROUP BY doc_id
    )
    SELECT doc_id,
           {", ".join(
               f"c{i} / sqrt({' + '.join(f'c{j} * c{j}' for j in range(HASH_DIM))})"
               f" AS e{i}"
               for i in range(HASH_DIM)
           )}
    FROM counts
    """,
)
def embed_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding GENERATION (the producer side of the similarity/dedup
    suite, which elsewhere only consumes the fixture vectors): every token
    hashes into one of {HASH_DIM} buckets (first md5 hex digit mod
    {HASH_DIM}), per-doc bucket counts L2-normalize into a unit vector —
    classic feature hashing (Weinberger et al. 2009), the deterministic
    stand-in for a model-embedding call. A real deployment swaps this for
    an Arrow-batched mapInPandas model invocation (same boundary as
    functions/enrichment.py); the hashing variant keeps the whole path
    JVM-side and exactly oracle-checkable.

    Float parity: counts are exact integers; the squared-norm is summed in
    fixed bucket order c0²→c{HASH_DIM - 1}²; sqrt and division are
    correctly-rounded IEEE ops — so Spark and DuckDB emit bit-identical
    doubles. Scale shape: explode → ONE partially-aggregated groupBy on
    doc_id (conditional sums, no pivot shuffle); output is ~n_docs rows of
    {HASH_DIM} doubles, ready to feed dedup_semantic / similarity_*."""
    cat = Catalog(spark, sf_dir)
    bucket = (
        F.conv(F.substring(F.md5(F.col("tok")), 1, 1), 16, 10).cast("int") % HASH_DIM
    )
    counts = (
        cat.documents.select(
            "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
        )
        .select("doc_id", bucket.alias("bucket"))
        .groupBy("doc_id")
        .agg(
            *[
                F.sum(F.when(F.col("bucket") == i, 1).otherwise(0))
                .cast("double")
                .alias(f"c{i}")
                for i in range(HASH_DIM)
            ]
        )
    )
    sq_norm = None
    for i in range(HASH_DIM):
        term = F.col(f"c{i}") * F.col(f"c{i}")
        sq_norm = term if sq_norm is None else sq_norm + term
    norm = F.sqrt(sq_norm)
    return counts.select(
        "doc_id", *[(F.col(f"c{i}") / norm).alias(f"e{i}") for i in range(HASH_DIM)]
    )


# ---------------------------------------------------------------------------
# Collocation mining (bigram PMI)
# ---------------------------------------------------------------------------

#: Minimum bigram count before a pair is scored — the standard PMI
#: low-frequency guard (rare pairs otherwise dominate the ranking).
PMI_MIN_COUNT = 5


@query(
    "collocation_pmi",
    oracle=f"""
    WITH bg AS (
        SELECT string_split(b, ' ')[1] AS w1, string_split(b, ' ')[2] AS w2
        FROM (
            SELECT unnest(list_transform(
                generate_series(1, greatest(len(string_split(text, ' ')) - 1, 0)),
                i -> string_split(text, ' ')[i] || ' ' ||
                     string_split(text, ' ')[i + 1])) AS b
            FROM documents
        )
    ), cxy AS (
        SELECT w1, w2, COUNT(*) AS c_xy FROM bg GROUP BY w1, w2
    ), cx AS (
        SELECT w1, SUM(c_xy) AS c_x FROM cxy GROUP BY w1
    ), cy AS (
        SELECT w2, SUM(c_xy) AS c_y FROM cxy GROUP BY w2
    ), n AS (
        SELECT SUM(c_xy) AS n_total FROM cxy
    )
    SELECT cxy.w1, cxy.w2, cxy.c_xy,
           CAST((CAST(cxy.c_xy AS HUGEINT) * n.n_total * 1000000)
                // (CAST(cx.c_x AS HUGEINT) * cy.c_y) AS BIGINT) AS pmi_ppm
    FROM cxy
    JOIN cx ON cx.w1 = cxy.w1
    JOIN cy ON cy.w2 = cxy.w2
    CROSS JOIN n
    WHERE cxy.c_xy >= {PMI_MIN_COUNT}
    ORDER BY pmi_ppm DESC, cxy.w1, cxy.w2
    LIMIT 50
    """,
)
def collocation_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining via pointwise mutual information (north-star text
    op): score adjacent word pairs by how much more often they co-occur than
    chance — the classic phrase-detection pass (Mikolov-style word2phrase)
    a tokenizer-training corpus build runs before BPE.

    PMI is computed as the exact integer ratio ``c_xy·N·10⁶ div (c_x·c_y)``
    (parts-per-million of the independence baseline; the log is monotone, so
    ranking in ratio space IS the PMI ranking) — integer arithmetic because
    ln() is not bit-identical across engines while BIGINT division is.
    Marginals come from the bigram table itself (c_x = Σ_y c_xy), so all
    counts live in one stream: explode bigrams (zip-shifted slices, one
    linear pass — the `_shingles` trick), ONE partial-aggregated groupBy for
    c_xy, then two tiny re-aggregations over the distinct-bigram table for
    the marginals and a scalar total.

    Scale shape: the expensive shuffle is the c_xy groupBy (map-side
    combine); the marginal tables are vocabulary-sized and broadcast back.
    At 100 TB vocab outgrows broadcast → swap the two marginal joins to
    sort-merge on w1/w2 (same plan text, drop the hint); products are
    DECIMAL(38,0) so counts up to 10¹² stay exact."""
    cat = Catalog(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    n1 = F.greatest(F.size(toks) - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice(toks, 1, n1), F.slice(toks, 2, n1),
        lambda x, y: F.concat_ws(" ", x, y),
    )
    bg = cat.documents.select(F.explode(bigrams).alias("b")).select(
        F.split(F.col("b"), " ").getItem(0).alias("w1"),
        F.split(F.col("b"), " ").getItem(1).alias("w2"),
    )
    # Four consumers (marginals ×2, total, main stream) — materialize the
    # bigram-count table once instead of re-exploding the corpus per branch.
    # r12: eager cut (was a lazy persist) — the four consumers raced to
    # fill it (1.30 → 0.70 s interleaved).
    cxy = checkpoint_truncate(bg.groupBy("w1", "w2").agg(F.count("*").alias("c_xy")))
    cx = cxy.groupBy("w1").agg(F.sum("c_xy").alias("c_x"))
    cy = cxy.groupBy("w2").agg(F.sum("c_xy").alias("c_y"))
    n = cxy.agg(F.sum("c_xy").alias("n_total"))
    return (
        cxy.where(F.col("c_xy") >= PMI_MIN_COUNT)
        .join(F.broadcast(cx), "w1")
        .join(F.broadcast(cy), "w2")
        .crossJoin(F.broadcast(n))
        .select(
            "w1",
            "w2",
            "c_xy",
            F.expr(
                "cast(c_xy as decimal(38,0)) * n_total * 1000000"
                " div (cast(c_x as decimal(38,0)) * c_y)"
            ).alias("pmi_ppm"),
        )
        .orderBy(F.desc("pmi_ppm"), F.asc("w1"), F.asc("w2"))
        .limit(50)
    )


# ---------------------------------------------------------------------------
# BPE merge-pair counting (one tokenizer-training step)
# ---------------------------------------------------------------------------

@query(
    "bpe_top_pairs",
    oracle="""
    WITH words AS (
        SELECT w, COUNT(*) AS freq
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        WHERE w <> '' GROUP BY w
    ), pairs AS (
        SELECT string_split(w, '')[i] AS left_sym,
               string_split(w, '')[i + 1] AS right_sym,
               freq
        FROM words, UNNEST(generate_series(1, len(w) - 1)) AS t(i)
        WHERE len(w) >= 2
    )
    SELECT left_sym, right_sym,
           CAST(SUM(freq) AS BIGINT) AS pair_count
    FROM pairs
    GROUP BY 1, 2
    ORDER BY pair_count DESC, left_sym, right_sym
    LIMIT 20
    """,
)
def bpe_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE-training step (tokenizer north-star): count adjacent symbol
    pairs weighted by word frequency and rank them — the argmax pair is the
    next merge rule. The heavy lifting is word-frequency compression FIRST
    (the classic BPE trick: pair counts come from the distinct-word table ×
    freq, not the raw corpus — the fixture's ~30-word vocab turns millions
    of tokens into dozens of weighted words), then a zip-shifted char-pair
    explode over words and one partial-agg groupBy. A full BPE trainer
    re-runs this with the winning pair merged into the symbol arrays
    (iterative, localCheckpoint per round, like k-means); one step carries
    the oracle because merges are deterministic given the ranking."""
    cat = Catalog(spark, sf_dir)
    words = (
        cat.documents.select(F.explode(F.split(F.col("text"), " ")).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
        .where(F.length("w") >= 2)
    )
    chars = F.split(F.col("w"), "")
    n1 = F.size(chars) - 1
    pairs = F.zip_with(
        F.slice(chars, 1, n1),
        F.slice(chars, 2, n1),
        lambda a, b: F.struct(a.alias("l"), b.alias("r")),
    )
    return (
        words.select(F.explode(pairs).alias("p"), "freq")
        .groupBy(
            F.col("p.l").alias("left_sym"), F.col("p.r").alias("right_sym")
        )
        .agg(F.sum("freq").cast("long").alias("pair_count"))
        .orderBy(F.desc("pair_count"), F.asc("left_sym"), F.asc("right_sym"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Curriculum ordering
# ---------------------------------------------------------------------------

@query(
    "curriculum_order",
    oracle="""
    WITH scored AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
               md5('cur:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
        FROM documents
    ), staged AS (
        SELECT doc_id, n_tok, shuffle_key,
               NTILE(4) OVER (ORDER BY n_tok, doc_id) AS stage
        FROM scored
    )
    SELECT doc_id, n_tok, stage,
           ROW_NUMBER() OVER (ORDER BY stage, shuffle_key, doc_id)
               AS curriculum_pos
    FROM staged
    """,
)
def curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum data ordering (training-schedule north-star): rank the
    corpus easy→hard (difficulty proxy: token count; production plugs in
    the quality/perplexity scores), cut it into 4 ntile stages, and assign
    each doc a deterministic position — shuffled WITHIN a stage by the md5
    key (reproducible, resumable), ordered ACROSS stages. The output
    position column is what a curriculum dataloader sorts by.

    Scale note: the global ntile/row_number here is the exact spec; at
    100 TB replace them with the two-pass equivalent (approx quantile cuts
    broadcast as stage boundaries, position = stage_offset + rank within
    stage) — same output contract, no single-task global sort."""
    cat = Catalog(spark, sf_dir)
    from pyspark.sql.window import Window

    scored = cat.documents.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tok"),
        F.md5(F.concat(F.lit("cur:"), F.col("doc_id").cast("string"))).alias(
            "shuffle_key"
        ),
    )
    staged = scored.withColumn(
        "stage", F.ntile(4).over(Window.orderBy("n_tok", "doc_id"))
    )
    return staged.select(
        "doc_id",
        "n_tok",
        "stage",
        F.row_number()
        .over(Window.orderBy("stage", "shuffle_key", "doc_id"))
        .alias("curriculum_pos"),
    )


#: Vocabulary size for the coverage audit. The fixture corpus draws from a
#: ~31-word vocabulary, so 16 leaves a real OOV tail at every SF; a
#: production tokenizer-prep run sets this to its vocab budget (32k, 100k…).
VOCAB_TOP_K = 16


@query(
    "vocab_coverage",
    oracle=f"""
    WITH tok AS (
        SELECT lang, unnest(string_split(text, ' ')) AS t FROM documents
    ), tok_ne AS (SELECT lang, t FROM tok WHERE t <> ''),
    tf AS (SELECT t, COUNT(*) AS c FROM tok_ne GROUP BY t),
    vocab AS (SELECT t FROM tf ORDER BY c DESC, t LIMIT {VOCAB_TOP_K})
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           CAST(SUM(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS oov_ppm
    FROM tok_ne LEFT JOIN vocab v USING (t)
    GROUP BY lang
    """,
)
def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage / OOV-rate audit per language: the tokenizer-prep
    decision input — a language whose OOV rate against the candidate vocab
    is high needs vocab budget or byte-fallback. Vocab = corpus top-K by
    frequency (deterministic tie-break on the token).

    Scale shape: one corpus shuffle for term frequencies, the K-row vocab
    shortlist broadcast back into a left join (null marker = OOV), one
    final per-language aggregation. The vocab side is bounded by K
    regardless of corpus size — the same shortlist-broadcast shape as the
    retrieval family."""
    cat = Catalog(spark, sf_dir)
    tok = (
        cat.documents.select(
            "lang", F.explode(F.split(F.col("text"), " ")).alias("t")
        ).where(F.col("t") != "")
    )
    # r7: ONE corpus explode+shuffle — the (lang, token) count table feeds
    # both the vocab cut and the coverage rollup as weighted counts
    # (Σc ≡ the per-token row count the r1-r6 plan re-exploded the corpus
    # to get). Persisted for its two consumers.
    lt = persist(tok.groupBy("lang", "t").agg(F.count("*").alias("c")))
    tf = lt.groupBy("t").agg(F.sum("c").alias("c"))
    vocab = tf.orderBy(F.desc("c"), "t").limit(VOCAB_TOP_K).select(
        "t", F.lit(1).alias("in_vocab")
    )
    oov_c = F.when(F.col("in_vocab").isNull(), F.col("c")).otherwise(F.lit(0))
    return (
        lt.join(F.broadcast(vocab), "t", "left")
        .groupBy("lang")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.sum(oov_c).cast("long").alias("n_oov"),
            F.expr(
                "cast(sum(case when in_vocab is null then c else 0 end)"
                " * 1000000 div sum(c) as bigint)"
            ).alias("oov_ppm"),
        )
    )


@query(
    "lang_confusion_matrix",
    oracle=f"""
    WITH pred AS (
        SELECT lang,
               CASE
                   WHEN {_EN_SCORE_SQL} >= {_ES_SCORE_SQL}
                        AND {_EN_SCORE_SQL} > 0 THEN 'en'
                   WHEN {_ES_SCORE_SQL} > 0 THEN 'es'
                   ELSE 'und'
               END AS pred_lang
        FROM documents
    ), cells AS (
        SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n
        FROM pred GROUP BY lang, pred_lang
    )
    SELECT lang, pred_lang, n,
           CAST(1000000 * n // SUM(n) OVER (PARTITION BY lang) AS BIGINT)
               AS row_share_ppm
    FROM cells
    """,
)
def lang_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: the ``lang_id`` marker heuristic's
    predictions crossed with the reference ``lang`` label, each cell with
    its share of the true-label row (recall on the diagonal) — the
    companion evaluation to the ``eval_*`` family, on a categorical
    prediction. One scan scores and buckets map-side; the matrix is a
    |langs|×3 census, and the row-share window runs on that bounded
    table."""
    cat = Catalog(spark, sf_dir)
    _, _, pred_lang = _lang_scores()
    pred = cat.documents.select("lang", pred_lang.alias("pred_lang"))
    cells = pred.groupBy("lang", "pred_lang").agg(
        F.count("*").cast("long").alias("n")
    )
    return cells.select(
        "lang",
        "pred_lang",
        "n",
        F.expr(
            "CAST(1000000 * n div SUM(n) OVER (PARTITION BY lang) AS BIGINT)"
        ).alias("row_share_ppm"),
    )
