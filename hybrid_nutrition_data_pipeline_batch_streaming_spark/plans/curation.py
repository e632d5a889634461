"""Corpus-curation operators beyond the X2/X3 core (north-star extensions):
PII redaction, repetition-based quality filtering, TF-IDF term scoring,
benchmark-contamination detection, deterministic train/val/test splitting.

These are the remaining table-stakes ops of a large-scale training-data
pipeline. All are map-only or blocked equi-joins — no all-pairs work, no
Python in the hot path — and every one carries a DuckDB oracle. They
register AFTER the driver's 50-query window (plans/__init__.PRIORITY);
the local differential harness verifies them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import Catalog
from .dedup import _SHINGLES_SQL, _shingles
from ..session import checkpoint_truncate, persist
from .registry import query

# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

# Deterministically inject PII so the redaction path has something to hit at
# any SF (the fixture corpus is synthetic prose): doc_id % 4 picks an email,
# a US-style phone number, an IPv4 address, or nothing.
_PII_SQL = """
        SELECT doc_id,
               text || CASE doc_id % 4
                   WHEN 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
                   WHEN 1 THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' today'
                   WHEN 2 THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7 logged'
                   ELSE ''
               END AS text
        FROM documents
"""

_EMAIL_RE = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
_PHONE_RE = "\\b[0-9]{3}-[0-9]{4}\\b"
_IP_RE = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"


def _occ(expr: str, pat: str) -> str:
    return f"len(regexp_extract_all({expr}, '{pat}'))"


@query(
    "pii_redact",
    oracle=f"""
    WITH raw AS ({_PII_SQL})
    SELECT doc_id,
           CAST({_occ('text', _EMAIL_RE)} AS INT) AS n_emails,
           CAST({_occ('text', _PHONE_RE)} AS INT) AS n_phones,
           CAST({_occ('text', _IP_RE)} AS INT)    AS n_ips,
           regexp_replace(regexp_replace(regexp_replace(text,
               '{_EMAIL_RE}', '<EMAIL>', 'g'),
               '{_PHONE_RE}', '<PHONE>', 'g'),
               '{_IP_RE}', '<IP>', 'g') AS redacted
    FROM raw
    """,
)
def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction (north-star curation op): count and mask
    emails / phone numbers / IPv4 addresses with JVM-side regexes — the
    pre-training privacy scrub. Map-only, zero shuffle, linear at 100 TB.
    Patterns stay in the Java∩RE2 subset; production swaps in a richer
    pattern bank (SSNs, IBANs, street addresses) the same way."""
    cat = Catalog(spark, sf_dir)
    injected = (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.lit(" contact user"), F.col("doc_id").cast("string"),
                     F.lit("@example.com now")),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(F.lit(" call 555-"),
                     F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                     F.lit(" today")),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(F.lit(" from 10.0."), (F.col("doc_id") % 256).cast("string"),
                     F.lit(".7 logged")),
        )
        .otherwise(F.lit(""))
    )
    raw = cat.documents.select(
        "doc_id", F.concat(F.col("text"), injected).alias("text")
    )
    t = F.col("text")
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
        ),
        _IP_RE,
        "<IP>",
    )
    return raw.select(
        "doc_id",
        F.size(F.regexp_extract_all(t, F.lit(_EMAIL_RE), F.lit(0))).alias("n_emails"),
        F.size(F.regexp_extract_all(t, F.lit(_PHONE_RE), F.lit(0))).alias("n_phones"),
        F.size(F.regexp_extract_all(t, F.lit(_IP_RE), F.lit(0))).alias("n_ips"),
        redacted.alias("redacted"),
    )


# ---------------------------------------------------------------------------
# Repetition-based quality filter (Gopher-rule family)
# ---------------------------------------------------------------------------


@query(
    "repetition_score",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               greatest(len(string_split(text, ' ')) - 2, 0) AS total_3grams,
               len({_SHINGLES_SQL}) AS distinct_3grams
        FROM documents
    )
    SELECT doc_id, CAST(total_3grams AS INT) AS total_3grams,
           CAST(distinct_3grams AS INT) AS distinct_3grams,
           CASE WHEN total_3grams > 0
                THEN 1.0 - CAST(distinct_3grams AS DOUBLE) / total_3grams
                ELSE 0.0 END AS rep_ratio,
           total_3grams > 0
             AND 1.0 - CAST(distinct_3grams AS DOUBLE) / total_3grams > 0.2
               AS is_repetitive
    FROM t
    """,
)
def repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-n-gram fraction (the Gopher repetition rule): share of word
    3-grams that are duplicates within the document; docs above 0.2 are
    flagged as boilerplate/spam-like. Map-only column arithmetic over the
    same shingle machinery the dedup family uses."""
    cat = Catalog(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    total = F.greatest(F.size(toks) - 2, F.lit(0))
    distinct = F.size(_shingles(F.col("text")))
    rep = F.when(
        total > 0, F.lit(1.0) - distinct.cast("double") / total
    ).otherwise(F.lit(0.0))
    return cat.documents.select(
        "doc_id",
        total.cast("int").alias("total_3grams"),
        distinct.cast("int").alias("distinct_3grams"),
        rep.alias("rep_ratio"),
        ((total > 0) & (rep > 0.2)).alias("is_repetitive"),
    )


# ---------------------------------------------------------------------------
# TF-IDF-style term scoring
# ---------------------------------------------------------------------------

TOP_TERMS = 3


@query(
    "tfidf_terms",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), tf AS (
        SELECT doc_id, term, COUNT(*) AS tf
        FROM tok WHERE term <> '' GROUP BY doc_id, term
    ), df AS (
        SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY term
    ), n AS (
        SELECT COUNT(*) AS n_docs FROM documents
    ), scored AS (
        SELECT tf.doc_id, tf.term,
               CAST(tf.tf AS DOUBLE) * n.n_docs / df.df AS score
        FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, score, rank FROM (
        SELECT doc_id, term, score,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, term) AS rank
        FROM scored
    )
    WHERE rank <= {TOP_TERMS}
    """,
)
def tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top distinguishing terms per document by tf·(N/df) — the TF-IDF
    shape with an exact rational weight instead of ln(N/df), so the score
    is bit-identical across engines (production uses the log form; swap one
    expression). The per-(doc, term) tf table builds MAP-SIDE
    (``plans.search._doc_tf`` — documents are single rows, so the r1-r6
    explode→groupBy(doc, term) was a pure-overhead corpus shuffle); df is
    one vocabulary-sized aggregate over it, N broadcasts, and the per-doc
    top-k window is the one remaining doc-keyed shuffle."""
    from .search import _doc_tf

    cat = Catalog(spark, sf_dir)
    tf = (
        _doc_tf(cat)
        .select("doc_id", F.explode("tfs").alias("e"))
        .select("doc_id", F.col("e.tok").alias("term"), F.col("e.tf").alias("tf"))
        .where(F.col("term") != "")
    )
    # tf has exactly one row per (doc, term), so df is a plain COUNT — no
    # distinct pass needed. The df join stays a shuffle join: vocabulary
    # size is corpus-dependent (AQE demotes it to broadcast when small).
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = cat.documents.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            (F.col("tf").cast("double") * F.col("n_docs") / F.col("df")).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_TERMS)
        .select("doc_id", "term", "score", "rank")
    )


# ---------------------------------------------------------------------------
# Benchmark contamination check
# ---------------------------------------------------------------------------

BENCHMARK_MAX_ID = 25  # fixture stand-in for an eval benchmark's documents


@query(
    "contamination_check",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM documents
    ), bench AS (
        SELECT doc_id AS bench_id, unnest(shingles) AS s
        FROM sh WHERE doc_id < {BENCHMARK_MAX_ID}
    ), corpus AS (
        SELECT doc_id, unnest(shingles) AS s
        FROM sh WHERE doc_id >= {BENCHMARK_MAX_ID}
    )
    SELECT corpus.doc_id,
           COUNT(DISTINCT bench.bench_id) AS n_benchmarks_hit,
           COUNT(DISTINCT bench.s)        AS n_shared_3grams
    FROM corpus JOIN bench ON corpus.s = bench.s
    GROUP BY corpus.doc_id
    """,
)
def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination detection (north-star curation op): corpus
    documents sharing any word-3-gram with a benchmark/eval set (here: the
    first {BENCHMARK_MAX_ID} doc_ids as the stand-in benchmark), via the
    inverted-index equi-join on the shingle — the de-contamination pass
    every pre-training pipeline runs before training. The benchmark side is
    small (an eval suite), so at 100 TB this is a broadcast-able semi-join
    keyed on shingle hashes; no document pair is ever enumerated."""
    cat = Catalog(spark, sf_dir)
    sh = cat.documents.select("doc_id", _shingles(F.col("text")).alias("shingles"))
    bench = (
        sh.where(F.col("doc_id") < BENCHMARK_MAX_ID)
        .select(F.col("doc_id").alias("bench_id"), F.explode("shingles").alias("s"))
    )
    corpus = (
        sh.where(F.col("doc_id") >= BENCHMARK_MAX_ID)
        .select("doc_id", F.explode("shingles").alias("s"))
    )
    return (
        corpus.join(F.broadcast(bench), "s")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("bench_id").alias("n_benchmarks_hit"),
            F.countDistinct("s").alias("n_shared_3grams"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic corpus split / shuffle key
# ---------------------------------------------------------------------------


@query(
    "corpus_split",
    oracle="""
    WITH keyed AS (
        SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS shuffle_key FROM documents
    )
    SELECT doc_id, shuffle_key,
           CAST(strpos('0123456789abcdef', substr(shuffle_key, 1, 1)) - 1 AS INT) * 16
             + CAST(strpos('0123456789abcdef', substr(shuffle_key, 2, 1)) - 1 AS INT)
               AS bucket,
           CASE
               WHEN (strpos('0123456789abcdef', substr(shuffle_key, 1, 1)) - 1) * 16
                    + strpos('0123456789abcdef', substr(shuffle_key, 2, 1)) - 1 < 230
                    THEN 'train'
               WHEN (strpos('0123456789abcdef', substr(shuffle_key, 1, 1)) - 1) * 16
                    + strpos('0123456789abcdef', substr(shuffle_key, 2, 1)) - 1 < 243
                    THEN 'val'
               ELSE 'test'
           END AS split
    FROM keyed
    """,
)
def corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment + global shuffle key
    (north-star curation op): bucket = first byte of md5(doc_id) → ~90/5/5
    split (230/13/13 of 256); sorting by shuffle_key IS the reproducible
    corpus shuffle (no RNG state, stable under reruns and repartitioning —
    the property that makes 100 TB dataset builds resumable). Map-only."""
    cat = Catalog(spark, sf_dir)
    key = F.md5(F.col("doc_id").cast("string"))
    bucket = (
        F.conv(F.substring(key, 1, 2), 16, 10).cast("int")
    )
    return cat.documents.select(
        "doc_id",
        key.alias("shuffle_key"),
        bucket.alias("bucket"),
        F.when(bucket < 230, "train").when(bucket < 243, "val").otherwise("test").alias(
            "split"
        ),
    )


@query(
    "corpus_quota_split",
    oracle="""
    WITH ranked AS (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY md5('quota:' || CAST(doc_id AS VARCHAR)), doc_id
               ) AS pick_rank
        FROM documents
    )
    SELECT doc_id, lang, CAST(pick_rank AS BIGINT) AS pick_rank,
           (pick_rank <= CASE WHEN lang = 'en' THEN 60 ELSE 80 END)
               AS selected
    FROM ranked
    """,
)
def corpus_quota_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-stratum quotas (vs sample_stratified's per-row keep
    rates): take precisely N docs per language — the contract dataset
    builds actually publish ("60 k English, 80 k per low-resource
    language"), where fractional sampling only lands near the target.
    Each doc is ranked within its language by a seeded md5 draw (pure
    function of doc_id — reproducible, resumable, no RNG state) and
    selected iff its rank is inside the language's quota.

    One shuffle (the per-language window). Skew note for 100 TB: the
    dominant language's partition is the straggler; the production form
    pre-filters with an approximate per-lang threshold on the md5 key
    (computed from counts) so the exact window only ranks ~quota + ε rows
    per language, not the full corpus."""
    cat = Catalog(spark, sf_dir)
    draw = F.md5(F.concat(F.lit("quota:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("lang").orderBy(draw, F.col("doc_id"))
    quota = F.when(F.col("lang") == "en", F.lit(60)).otherwise(F.lit(80))
    return cat.documents.select(
        "doc_id",
        "lang",
        F.row_number().over(w).cast("long").alias("pick_rank"),
        (F.row_number().over(w) <= quota).alias("selected"),
    )


# ---------------------------------------------------------------------------
# Sequence packing
# ---------------------------------------------------------------------------

MAX_SEQ_TOKENS = 256  # training-sequence capacity (tokens)


def _hex_u16_sql(expr: str) -> str:
    """DuckDB: first 4 hex digits of md5(expr) as an int in [0, 65536)."""
    digit = "strpos('0123456789abcdef', substr(md5({e}), {i}, 1)) - 1"
    d = [digit.format(e=expr, i=i + 1) for i in range(4)]
    return f"((({d[0]}) * 16 + ({d[1]})) * 16 + ({d[2]})) * 16 + ({d[3]})"


#: Packing shards per source: each applyInPandas group is ONE Arrow batch,
#: so a single giant source would otherwise become one unbounded in-memory
#: pandas frame. The shard is an md5-derived hash of doc_id mod
#: N_PACK_SHARDS — deterministic, engine-neutral (the oracle mirrors the
#: identical hex arithmetic), and mixing (plain doc_id % N fails on
#: fixtures that assign doc_ids round-robin by source: an entire source
#: lands in one residue class). Packing runs within (source, pack_shard),
#: accepting N-1 extra sequence seams per source — the standard trade. At
#: 100 TB this constant is sized so max_source_docs / N_PACK_SHARDS rows
#: fit one executor batch.
N_PACK_SHARDS = 4

#: DuckDB mirror of the Spark-side pack-shard expression.
_PACK_SHARD_SQL = (
    f"CAST(({_hex_u16_sql('CAST(doc_id AS VARCHAR)')})"
    f" % {N_PACK_SHARDS} AS INT)"
)


def _pack_shard_col():
    """Spark: first 16 bits of md5(doc_id) mod N_PACK_SHARDS — must stay
    bit-identical to ``_PACK_SHARD_SQL``."""
    u16 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10
    ).cast("int")
    return (u16 % N_PACK_SHARDS).cast("int")

#: The recursive next-fit CTE over a `docs` CTE that must provide
#: (doc_id, source, pack_shard, n_tok, rn) with rn numbered per
#: (source, pack_shard) in doc_id order.
_PACK_CTE_SQL = f"""packed AS (
        SELECT doc_id, source, pack_shard, n_tok, rn,
               CAST(1 AS BIGINT) AS seq_id, CAST(0 AS BIGINT) AS seq_offset,
               CAST(n_tok AS BIGINT) AS filled
        FROM docs WHERE rn = 1
        UNION ALL
        SELECT d.doc_id, d.source, d.pack_shard, d.n_tok, d.rn,
               CASE WHEN p.filled + d.n_tok <= {MAX_SEQ_TOKENS}
                    THEN p.seq_id ELSE p.seq_id + 1 END,
               CASE WHEN p.filled + d.n_tok <= {MAX_SEQ_TOKENS}
                    THEN p.filled ELSE CAST(0 AS BIGINT) END,
               CASE WHEN p.filled + d.n_tok <= {MAX_SEQ_TOKENS}
                    THEN p.filled + d.n_tok ELSE CAST(d.n_tok AS BIGINT) END
        FROM packed p JOIN docs d ON d.source = p.source
                                 AND d.pack_shard = p.pack_shard
                                 AND d.rn = p.rn + 1
    )"""


def _pack_pandas(pdf):
    """Next-fit packing over one (source, pack_shard) Arrow batch."""
    import pandas as pd

    pdf = pdf.sort_values("doc_id").reset_index(drop=True)
    seq_ids, offsets = [], []
    seq, filled = 1, 0
    for n in pdf["n_tok"]:
        if filled > 0 and filled + n > MAX_SEQ_TOKENS:
            seq += 1
            filled = 0
        seq_ids.append(seq)
        offsets.append(filled)
        filled += n
    pdf["seq_id"] = pd.Series(seq_ids, dtype="int64")
    pdf["seq_offset"] = pd.Series(offsets, dtype="int64")
    return pdf[
        ["doc_id", "source", "pack_shard", "n_tok", "seq_id", "seq_offset"]
    ]


def pack_next_fit(docs: DataFrame) -> DataFrame:
    """Shard-bounded greedy next-fit packing over (doc_id, source, n_tok).

    Adds ``pack_shard`` (md5-hash of doc_id mod N_PACK_SHARDS) and packs
    within
    (source, pack_shard) in doc_id order — every Arrow batch handed to the
    Python loop is at most ~1/N of its source, so one web-scale source can
    no longer become a single unbounded executor batch. seq_id is local to
    its (source, pack_shard) group."""
    return (
        docs.withColumn("pack_shard", _pack_shard_col())
        .groupBy("source", "pack_shard")
        .applyInPandas(
            _pack_pandas,
            schema=(
                "doc_id bigint, source string, pack_shard int, n_tok int,"
                " seq_id bigint, seq_offset bigint"
            ),
        )
    )


@query(
    "pack_sequences",
    oracle=f"""
    WITH RECURSIVE docs AS (
        SELECT doc_id, source, {_PACK_SHARD_SQL} AS pack_shard,
               CAST(len(string_split(text, ' ')) AS INT) AS n_tok,
               ROW_NUMBER() OVER (
                   PARTITION BY source, {_PACK_SHARD_SQL} ORDER BY doc_id
               ) AS rn
        FROM documents
    ), {_PACK_CTE_SQL}
    SELECT doc_id, source, pack_shard, n_tok, seq_id, seq_offset
    FROM packed
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy next-fit sequence packing (north-star curation op): concatenate
    consecutive documents (per source+shard, doc_id order) into training
    sequences of ≤ {MAX_SEQ_TOKENS} tokens; a doc that would overflow starts
    the next sequence, and an oversized doc gets one to itself. Emits each
    doc's (seq_id, seq_offset) placement — the map a dataloader needs to
    build packed batches without padding waste.

    Running-sum-with-reset is inherently sequential per group (not a window
    frame), so this is the textbook applyInPandas case: one Arrow batch per
    (source, pack_shard), a linear pass inside pandas, no Python in any
    other stage. The deterministic doc_id-mod shard bounds every batch to
    ~1/{N_PACK_SHARDS} of its source (see ``N_PACK_SHARDS``), so a single
    giant source cannot OOM an executor; the oracle replays the identical
    next-fit recurrence — shard seams included — as a recursive CTE, so the
    Python loop is value-checked row-for-row."""
    cat = Catalog(spark, sf_dir)
    docs = cat.documents.select(
        "doc_id",
        "source",
        F.size(F.split(F.col("text"), " ")).alias("n_tok"),
    )
    return pack_next_fit(docs)


# ---------------------------------------------------------------------------
# Domain mixing (balanced downsampling)
# ---------------------------------------------------------------------------


@query(
    "corpus_mix_sample",
    oracle=f"""
    WITH cnt AS (
        SELECT lang, COUNT(*) AS c FROM documents GROUP BY lang
    ), p AS (
        SELECT lang,
               CAST((SELECT MIN(c) FROM cnt) AS DOUBLE) / CAST(c AS DOUBLE)
                   AS accept_p
        FROM cnt
    )
    SELECT d.doc_id, d.lang, p.accept_p
    FROM documents d JOIN p ON p.lang = d.lang
    WHERE CAST({_hex_u16_sql("'mix:' || CAST(d.doc_id AS VARCHAR)")} AS DOUBLE)
          < p.accept_p * 65536.0
    """,
)
def corpus_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data mixing via balanced domain downsampling (north-star curation op):
    sample each language down to the size of the smallest one, so the output
    mix is uniform over domains — the deterministic core of the
    domain-reweighting step every pretraining corpus build runs (general
    temperature mixing substitutes any weight w_s for c_min; the plan shape
    is identical). ``lang`` is the domain here because the fixture corpus is
    deliberately language-skewed (~3.4× en vs fr at sf0.01) while ``source``
    is uniform.

    Acceptance is hash-gated, not RNG-gated: a doc survives iff the first 16
    bits of md5('mix:' || doc_id) fall below accept_p · 2¹⁶. That makes the
    sample a pure function of (doc_id, per-source counts) — reproducible
    across reruns, partitionings, and engines, which is what lets a 100 TB
    corpus build resume mid-way. accept_p = c_min/c_s is a single IEEE
    division of two exact counts, so Spark and DuckDB agree bit-for-bit.

    Scale shape: one partial-aggregated groupBy over the tiny source
    dimension, the per-source probabilities broadcast back, and the gate is
    a map-side filter — one scan of the corpus, no full-table shuffle.
    """
    cat = Catalog(spark, sf_dir)
    counts = cat.documents.groupBy("lang").agg(F.count("*").alias("c"))
    cmin = counts.agg(F.min("c").alias("cmin"))
    probs = counts.crossJoin(F.broadcast(cmin)).select(
        "lang",
        (F.col("cmin").cast("double") / F.col("c").cast("double")).alias("accept_p"),
    )
    u16 = F.conv(
        F.substring(F.md5(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))), 1, 4),
        16,
        10,
    ).cast("int")
    return (
        cat.documents.join(F.broadcast(probs), "lang")
        .where(u16.cast("double") < F.col("accept_p") * F.lit(65536.0))
        .select("doc_id", "lang", "accept_p")
    )


# ---------------------------------------------------------------------------
# Model-based quality scoring (deterministic linear classifier) + keep-best
# ---------------------------------------------------------------------------

#: fastText-style linear classifier in integer milli-units: every token
#: hashes into one of 256 weight buckets; bucket weights are a fixed
#: pseudo-random projection of the bucket id (Knuth multiplicative hash mod
#: a prime), so the "model" is a pure function both engines evaluate
#: identically — the deterministic stand-in for broadcast learned weights.
_CLS_MULT = 2654435761
_CLS_MOD = 2003  # weights span [-1001, +1001] milli-units

#: Shared oracle CTE body: (doc_id, n_toks, margin_milli). DuckDB has no
#: conv(hex→int), so the two md5 hex digits map through strpos arithmetic.
_CLS_SCORE_SQL = f"""
        SELECT doc_id, COUNT(*) AS n_toks,
               CAST(SUM(((strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) * 16
                     + strpos('0123456789abcdef', substr(md5(tok), 2, 1)) - 1)
                    * {_CLS_MULT} % {_CLS_MOD} - 1001) AS BIGINT) AS margin_milli
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        GROUP BY doc_id
"""


def _cls_margin_cols(cat: Catalog) -> DataFrame:
    """(doc_id, n_toks, margin_milli) — one explode + one partial-aggregated
    groupBy; every arithmetic step is int64-exact."""
    bucket = F.conv(F.substring(F.md5(F.col("tok")), 1, 2), 16, 10).cast("long")
    weight = (bucket * _CLS_MULT) % _CLS_MOD - 1001
    return (
        cat.documents.select(
            "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
        )
        .select("doc_id", weight.alias("w"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_toks"), F.sum("w").alias("margin_milli"))
    )


@query(
    "quality_classifier",
    oracle=f"""
    WITH scored AS ({_CLS_SCORE_SQL})
    SELECT doc_id, n_toks, margin_milli,
           margin_milli / (1000.0 * n_toks) AS score,
           CAST(margin_milli > 0 AS INT) AS keep
    FROM scored
    """,
)
def quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based document quality scoring (the fastText-classifier stage
    of a curation pipeline): token → 256-bucket feature hash → fixed
    integer milli-unit weights → per-doc mean margin. The weight lookup is
    a closed-form expression (no join at all); a learned model swaps in as
    a broadcast 256-row weight table with the identical plan shape. All
    accumulation is int64 (exact, associative); the only float op is the
    final mean, one division on identical operands in both engines.

    Scale: explode → one partially-aggregated groupBy on doc_id — the same
    single-shuffle shape as every other map-scored gate, so it composes
    into pipeline_corpus_build-style chains at any corpus size."""
    cat = Catalog(spark, sf_dir)
    scored = _cls_margin_cols(cat)
    return scored.select(
        "doc_id",
        "n_toks",
        "margin_milli",
        (F.col("margin_milli") / (F.lit(1000.0) * F.col("n_toks"))).alias("score"),
        (F.col("margin_milli") > 0).cast("int").alias("keep"),
    )


def _keep_best_oracle() -> str:
    from .registry import ORACLE

    edges_sql = ORACLE["dedup_minhash_banded"].strip()
    return f"""
    WITH RECURSIVE pairs AS (
        SELECT doc_a, doc_b FROM ({edges_sql}) p
    ), und AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ), comp(doc, reach) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT c.doc, u.dst FROM comp c JOIN und u ON u.src = c.reach
    ), labels AS (
        SELECT doc, MIN(reach) AS cluster_rep FROM comp GROUP BY doc
    ), scored AS ({_CLS_SCORE_SQL})
    SELECT l.doc AS doc_id, l.cluster_rep,
           s.margin_milli / (1000.0 * s.n_toks) AS score,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY l.cluster_rep
               ORDER BY s.margin_milli / (1000.0 * s.n_toks) DESC, l.doc
           ) = 1 AS INT) AS keep
    FROM labels l JOIN scored s ON s.doc_id = l.doc
    """


@query("dedup_keep_best", oracle=_keep_best_oracle())
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware cluster canonicalization: where
    dedup_connected_components keeps each cluster's MIN doc_id (arbitrary),
    this keeps the HIGHEST-QUALITY member — the policy real curation
    pipelines ship (SemDeDup/FineWeb keep-best-of-cluster). Components come
    from the verified MinHash-banded pair graph; the survivor is picked by
    a per-cluster row_number over (classifier score DESC, doc_id) — the
    doc_id tiebreak keeps the choice total and deterministic.

    Scale: component labels are linear in docs, the score join is
    co-partitioned on doc_id, and the survivor window partitions by
    cluster_rep — no stage touches pair-count-squared data."""
    from .graph import connected_components, doc_pair_edges

    cat = Catalog(spark, sf_dir)
    labels = connected_components(
        cat.documents.select("doc_id"), doc_pair_edges(cat.documents)
    ).select("doc_id", "cluster_rep")
    scored = _cls_margin_cols(cat).select(
        "doc_id",
        (F.col("margin_milli") / (F.lit(1000.0) * F.col("n_toks"))).alias("score"),
    )
    w = Window.partitionBy("cluster_rep").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        labels.join(scored, "doc_id")
        .select(
            "doc_id",
            "cluster_rep",
            "score",
            (F.row_number().over(w) == 1).cast("int").alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# DSIR-style importance resampling (hashed-ngram target matching)
# ---------------------------------------------------------------------------

#: Hashed-feature buckets for the importance model (first two hex digits of
#: md5(token) — 256 buckets, portable to any SQL dialect).
DSIR_BUCKETS = 256


def _hex_u8_sql(expr: str) -> str:
    """DuckDB: first 2 hex digits of md5(expr) as an int in [0, 256)."""
    digit = "strpos('0123456789abcdef', substr(md5({e}), {i}, 1)) - 1"
    d = [digit.format(e=expr, i=i + 1) for i in range(2)]
    return f"(({d[0]}) * 16 + ({d[1]}))"


@query(
    "dsir_resample",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, source,
               {_hex_u8_sql('t')} AS b
        FROM (
            SELECT doc_id, source, unnest(string_split(text, ' ')) AS t
            FROM documents
        )
        WHERE t <> ''
    ), counts AS (
        SELECT b, COUNT(*) AS r_b,
               CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT)
                   AS t_b
        FROM tok GROUP BY b
    ), tot AS (
        SELECT CAST(SUM(r_b) AS BIGINT) AS r_tot,
               CAST(SUM(t_b) AS BIGINT) AS t_tot
        FROM counts
    ), ev AS (
        SELECT counts.b,
               CAST((CAST(counts.t_b + 1 AS HUGEINT)
                         * (tot.r_tot + {DSIR_BUCKETS}) * 1000000)
                    // (CAST(counts.r_b + 1 AS HUGEINT)
                         * (tot.t_tot + {DSIR_BUCKETS})) AS BIGINT)
                   AS e_ppm
        FROM counts CROSS JOIN tot
    ), perdoc AS (
        SELECT tok.doc_id,
               COUNT(*) AS n_tok,
               CAST(SUM(ev.e_ppm) AS BIGINT) AS dsir_score_ppm,
               CAST(SUM(ev.e_ppm) // COUNT(*) AS BIGINT) AS mean_evidence_ppm
        FROM tok JOIN ev ON ev.b = tok.b
        GROUP BY tok.doc_id
    ), stats AS (
        SELECT CAST(SUM(mean_evidence_ppm) AS HUGEINT) AS s_tot,
               COUNT(*) AS n_docs
        FROM perdoc
    )
    SELECT p.doc_id, p.n_tok, p.dsir_score_ppm, p.mean_evidence_ppm,
           CAST(p.mean_evidence_ppm AS HUGEINT) * s.n_docs >= s.s_tot AS selected
    FROM perdoc p CROSS JOIN stats s
    """,
)
def dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al. 2023 —
    north-star curation op): weight every raw document by how much its
    hashed-token distribution looks like a TARGET domain (here source
    'src0', standing in for "high-quality reference corpus"), then gate on
    the weight. This is the standard recipe for skewing a 100 TB crawl
    toward Wikipedia/books-like text without training a model.

    Faithful-but-exact arithmetic: DSIR's log importance weight
    Σ_b c_b·log(p̂_tgt(b)/p̂_raw(b)) needs ln(), which is not bit-identical
    across engines; instead each token contributes its Laplace-smoothed
    likelihood RATIO in ppm — e_b = (t_b+1)(R+B)·10⁶ div ((r_b+1)(T+B)) —
    and documents aggregate the exact BIGINT sum (order-free, engine-stable).
    The per-token ratio is the same sufficient statistic; the selection gate
    keeps documents whose mean per-token evidence beats the CORPUS average
    (compared as exact integers — mean·n_docs ≥ Σmeans — no float division),
    with the deterministic md5 gate of `corpus_mix_sample` as the sampling
    stage when quotas matter.

    Scale shape: ONE token explode, ONE conditional aggregation produces
    raw and target bucket counts together (B=256 rows — map-side combine
    makes the shuffle tiny), evidence broadcasts back onto the token
    stream, and the per-doc aggregation is one partial-agg shuffle on
    doc_id. No Python, no driver collects, no all-pairs anything."""
    cat = Catalog(spark, sf_dir)
    bucket = F.conv(F.substring(F.md5(F.col("t")), 1, 2), 16, 10).cast("int")
    tok = persist(
        cat.documents.select(
            "doc_id", "source", F.explode(F.split(F.col("text"), " ")).alias("t")
        )
        .where(F.col("t") != "")
        .select("doc_id", "source", bucket.alias("b"))
        # r12: examined, converted to an eager cut, then REVERTED — the
        # token explode is a trivially-rebuildable corpus-sized frame; the
        # M=100 A/B read eager 15.4 s vs lazy 12.8 s (the persist fill
        # pipelines into the first consumer pass).
    )
    counts = tok.groupBy("b").agg(
        F.count("*").alias("r_b"),
        F.sum(F.when(F.col("source") == "src0", 1).otherwise(0))
        .cast("long")
        .alias("t_b"),
    )
    tot = counts.agg(
        F.sum("r_b").cast("long").alias("r_tot"),
        F.sum("t_b").cast("long").alias("t_tot"),
    )
    ev = counts.crossJoin(F.broadcast(tot)).select(
        "b",
        F.expr(
            f"cast(t_b + 1 as decimal(38,0))"
            f" * (r_tot + {DSIR_BUCKETS}) * 1000000"
            f" div (cast(r_b + 1 as decimal(38,0)) * (t_tot + {DSIR_BUCKETS}))"
        ).alias("e_ppm"),
    )
    perdoc = (
        tok.join(F.broadcast(ev), "b")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tok"),
            F.sum("e_ppm").alias("dsir_score_ppm"),
            F.expr("sum(e_ppm) div count(*)").alias("mean_evidence_ppm"),
        )
    )
    stats = perdoc.agg(
        F.sum(F.col("mean_evidence_ppm").cast("decimal(38,0)")).alias("s_tot"),
        F.count("*").alias("n_docs"),
    )
    return perdoc.crossJoin(F.broadcast(stats)).select(
        "doc_id",
        "n_tok",
        "dsir_score_ppm",
        "mean_evidence_ppm",
        (
            F.col("mean_evidence_ppm").cast("decimal(38,0)") * F.col("n_docs")
            >= F.col("s_tot")
        ).alias("selected"),
    )


# ---------------------------------------------------------------------------
# Split-leakage check (near-dup clusters straddling train/val/test)
# ---------------------------------------------------------------------------

def _split_leakage_oracle() -> str:
    from .graph import _cc_oracle

    return f"""
    WITH cc AS ({_cc_oracle().strip()}),
    splits AS (
        SELECT doc_id,
               CASE WHEN b < 230 THEN 'train'
                    WHEN b < 243 THEN 'val'
                    ELSE 'test' END AS split
        FROM (
            SELECT doc_id,
                   (strpos('0123456789abcdef',
                           substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
                   + strpos('0123456789abcdef',
                            substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1 AS b
            FROM documents
        )
    )
    SELECT cc.cluster_rep,
           CAST(COUNT(*) AS BIGINT) AS cluster_size,
           CAST(COUNT(DISTINCT s.split) AS BIGINT) AS n_splits,
           COUNT(*) >= 2 AND COUNT(DISTINCT s.split) >= 2 AS leaky
    FROM cc JOIN splits s ON s.doc_id = cc.doc_id
    GROUP BY cc.cluster_rep
    HAVING COUNT(*) >= 2
    """


@query("split_leakage_check", oracle=_split_leakage_oracle())
def split_leakage_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test leakage audit (north-star curation op): a random
    per-document split puts near-duplicates on BOTH sides of the train/eval
    boundary — the classic contamination-by-duplication failure (Lee et al.
    2022 measure it directly). This composes the near-dup connected
    components with the md5 split assignment and flags every multi-doc
    cluster whose members straddle splits; the fix is splitting by
    cluster_rep instead of doc_id (one line — hash the rep, not the doc).

    Scale shape: the CC labels are the expensive input (already ≲ linear,
    see graph.py); the audit itself is one equi-join on doc_id plus one
    cluster-keyed aggregation. Singleton clusters are excluded — they
    cannot leak."""
    from .graph import dedup_connected_components

    cc = dedup_connected_components(spark, sf_dir).select("doc_id", "cluster_rep")
    key = F.md5(F.col("doc_id").cast("string"))
    bucket = F.conv(F.substring(key, 1, 2), 16, 10).cast("int")
    splits = Catalog(spark, sf_dir).documents.select(
        "doc_id",
        F.when(bucket < 230, "train")
        .when(bucket < 243, "val")
        .otherwise("test")
        .alias("split"),
    )
    return (
        cc.join(splits, "doc_id")
        .groupBy("cluster_rep")
        .agg(
            F.count("*").alias("cluster_size"),
            F.count_distinct("split").alias("n_splits"),
            ((F.count("*") >= 2) & (F.count_distinct("split") >= 2)).alias("leaky"),
        )
        .where(F.col("cluster_size") >= 2)
    )


# ---------------------------------------------------------------------------
# Epoch-wise deterministic reshuffle
# ---------------------------------------------------------------------------

N_EPOCHS = 2


@query(
    "epoch_shuffle",
    oracle=f"""
    WITH e AS (
        SELECT doc_id, epoch,
               md5('epoch' || CAST(epoch AS VARCHAR) || ':'
                   || CAST(doc_id AS VARCHAR)) AS k
        FROM documents, UNNEST(generate_series(0, {N_EPOCHS - 1})) AS t(epoch)
    )
    SELECT doc_id, CAST(epoch AS INT) AS epoch,
           ROW_NUMBER() OVER (PARTITION BY epoch ORDER BY k, doc_id)
               AS position
    FROM e
    """,
)
def epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-epoch deterministic reshuffling (the training-dataloader order):
    each epoch ranks every document by md5('epoch{{i}}:' || doc_id) — a
    different but fully reproducible permutation per epoch, no RNG state to
    checkpoint, resumable mid-epoch from (epoch, position). This is the
    multi-epoch companion of `corpus_split`'s shuffle key and
    `curriculum_order`'s staged ordering; the three compose (shuffle within
    curriculum stage within epoch) without interference because every key
    is an independent keyed hash.

    The exact global row_number is the spec; at 100 TB the standard
    realization sorts by the hash key directly (no rank materialized) or
    assigns position = partition_offset + local rank after a range
    partition on the key — same contract, no single-task sort."""
    cat = Catalog(spark, sf_dir)
    from pyspark.sql.window import Window

    epochs = spark.range(N_EPOCHS).select(F.col("id").cast("int").alias("epoch"))
    e = cat.documents.select("doc_id").crossJoin(F.broadcast(epochs)).select(
        "doc_id",
        "epoch",
        F.md5(
            F.concat(
                F.lit("epoch"),
                F.col("epoch").cast("string"),
                F.lit(":"),
                F.col("doc_id").cast("string"),
            )
        ).alias("k"),
    )
    w = Window.partitionBy("epoch").orderBy("k", "doc_id")
    return e.select(
        "doc_id", "epoch", F.row_number().over(w).alias("position")
    )


# ---------------------------------------------------------------------------
# In-document cleaning: consecutive-duplicate-token collapse
# ---------------------------------------------------------------------------


@query(
    "clean_repeated_tokens",
    oracle="""
    WITH t AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        FROM documents
    ), c AS (
        SELECT doc_id, toks,
               list_filter(toks, (x, i) -> i = 1 OR x <> toks[i - 1]) AS clean
        FROM t
    )
    SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_before,
           CAST(len(clean) AS BIGINT) AS n_after,
           array_to_string(clean, ' ') AS clean_text
    FROM c
    """,
)
def clean_repeated_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collapse runs of consecutive duplicate tokens ("the the" → "the") —
    the stutter-cleanup pass OCR/scrape corpora need before tokenization
    (the in-document sibling of `repetition_score`, which only MEASURES
    repetition; this one repairs it and reports the before/after counts).

    Scale shape: ZERO shuffles — the whole operator is one higher-order
    ``filter`` lambda over the token array, map-side per document, so it
    pipelines inside the scan stage at any corpus size. The index lambda
    uses ``try_element_at`` so position 0 yields NULL (OR-absorbed) under
    ANSI mode rather than an array-index error."""
    cat = Catalog(spark, sf_dir)
    t = cat.documents.select(
        "doc_id",
        F.expr("filter(split(text, ' '), x -> x != '')").alias("toks"),
    )
    c = t.select(
        "doc_id",
        "toks",
        F.expr(
            "filter(toks, (x, i) -> i = 0 OR x != try_element_at(toks, i))"
        ).alias("clean"),
    )
    return c.select(
        "doc_id",
        F.expr("cast(size(toks) as bigint)").alias("n_before"),
        F.expr("cast(size(clean) as bigint)").alias("n_after"),
        F.array_join("clean", " ").alias("clean_text"),
    )


# ---------------------------------------------------------------------------
# Temperature-based multilingual sampling
# ---------------------------------------------------------------------------

#: 2^48 — the square of the 24-bit md5 draw's range.
_TEMP_SPACE_SQ = 281474976710656


@query(
    "corpus_temperature_sample",
    oracle=f"""
    WITH n AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang
    ), m AS (SELECT MIN(n_docs) AS n_min FROM n),
    d AS (
        SELECT doc_id, lang,
               list_reduce(list_transform(range(1, 7),
                   i -> CAST(strpos('0123456789abcdef',
                        substr(md5('temp:' || CAST(doc_id AS VARCHAR)), i, 1)) - 1
                        AS BIGINT)),
                   (a, b) -> a * 16 + b) AS h
        FROM documents
    )
    SELECT d.lang, n.n_docs,
           CAST(SUM(CASE WHEN d.h * d.h * n.n_docs < m.n_min * {_TEMP_SPACE_SQ}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
    FROM d JOIN n USING (lang) CROSS JOIN m
    GROUP BY d.lang, n.n_docs
    """,
)
def corpus_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature α=0.5 multilingual down-sampling: accept each doc with
    probability √(n_min/n_lang), flattening the language distribution
    toward the smallest language (the multilingual-pretraining mixture
    rule; α generalizes by repeated squaring). The acceptance test is
    INTEGER-exact — u < √(n_min/n_l) rewritten as h²·n_l < n_min·2⁴⁸ for a
    24-bit md5 draw h — so no engine ever evaluates a square root and the
    sample is a pure function of doc_id and the language counts.

    Scale shape: one count shuffle over languages (tiny result, broadcast
    back), then a map-side accept test folded into one final aggregation.
    Past ~10¹² docs per language move h²·n_l into DECIMAL(38,0) — same
    plan, wider accumulator."""
    cat = Catalog(spark, sf_dir)
    n = cat.documents.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs")
    )
    m = n.agg(F.min("n_docs").alias("n_min"))
    d = cat.documents.select(
        "lang",
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("temp:"), F.col("doc_id").cast("string"))), 1, 6
            ),
            16,
            10,
        )
        .cast("bigint")
        .alias("h"),
    )
    return (
        d.join(F.broadcast(n), "lang")
        .crossJoin(F.broadcast(m))
        .groupBy("lang", "n_docs")
        .agg(
            F.sum(
                F.when(
                    F.col("h") * F.col("h") * F.col("n_docs")
                    < F.col("n_min") * F.lit(_TEMP_SPACE_SQ),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_sampled")
        )
    )


@query(
    "sample_reservoir",
    oracle="""
    WITH ranked AS (
        SELECT lang, doc_id,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        FROM documents
    )
    SELECT lang, doc_id, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= 8
    """,
)
def sample_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic distributed reservoir sample: exactly k=8 documents per
    language, uniform over the stream. The classic reservoir algorithm is
    sequential; the distributed identity is "k smallest by a uniform random
    key" — here the key is md5(doc_id), so the sample is a pure function of
    the data (reproducible across retries/partitionings, the property random()
    reservoirs lose under speculation). One shuffle partitioned by lang; at
    100 TB the per-partition top-k pushes down (WindowGroupLimit prunes to k
    rows per partition map-side before the exchange), so the shuffle carries
    ~k rows per stratum, not the corpus."""
    cat = Catalog(spark, sf_dir)
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        cat.documents.select("lang", "doc_id")
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= 8)
    )


#: k-anonymity threshold: a quasi-identifier combination shared by fewer
#: than K rows is re-identifiable and must be suppressed or generalized.
KANON_K = 5


@query(
    "kanon_audit",
    oracle=f"""
    WITH cells AS (
        SELECT lang, source,
               CAST(least(n_chars // 200, 9) AS BIGINT) AS len_band,
               CAST(COUNT(*) AS BIGINT) AS cell_n
        FROM documents
        GROUP BY lang, source, least(n_chars // 200, 9)
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT)                    AS n_cells,
           CAST(SUM(CASE WHEN cell_n < {KANON_K} THEN 1 ELSE 0 END)
                AS BIGINT)                             AS unsafe_cells,
           CAST(SUM(CASE WHEN cell_n < {KANON_K} THEN cell_n ELSE 0 END)
                AS BIGINT)                             AS rows_at_risk,
           CAST(MIN(cell_n) AS BIGINT)                 AS min_cell,
           CAST(SUM(cell_n) AS BIGINT)                 AS n_rows
    FROM cells GROUP BY lang
    """,
)
def kanon_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (the release-gate sibling of ``pii_redact`` and the
    GDPR delete path): treat (lang, source, length-band) as the
    quasi-identifier tuple, count equivalence-class sizes, and report per
    language how many classes fall below k={K} — the rows a publisher must
    suppress or generalize before the dataset ships. Two keyed aggregates
    (cell rollup, then per-lang summary), both partial-aggregated map-side;
    the min over cell sizes is the dataset's actual k. Generalizing the
    banding (coarser length bands, dropping `source`) re-runs the same plan
    — the audit IS the generalization loop's fitness function.""".replace(
        "{K}", str(KANON_K)
    )
    cat = Catalog(spark, sf_dir)
    cells = (
        cat.documents.select(
            "lang",
            "source",
            F.expr("CAST(least(n_chars DIV 200, 9) AS BIGINT)").alias("len_band"),
        )
        .groupBy("lang", "source", "len_band")
        .agg(F.count("*").alias("cell_n"))
    )
    unsafe = F.col("cell_n") < KANON_K
    return cells.groupBy("lang").agg(
        F.count("*").alias("n_cells"),
        F.sum(F.when(unsafe, 1).otherwise(0)).cast("long").alias("unsafe_cells"),
        F.sum(F.when(unsafe, F.col("cell_n")).otherwise(0))
        .cast("long")
        .alias("rows_at_risk"),
        F.min("cell_n").alias("min_cell"),
        F.sum("cell_n").cast("long").alias("n_rows"),
    )


@query(
    "sample_weighted",
    oracle="""
    WITH w AS (
        SELECT doc_id,
               CAST(1 + least(n_chars // 400, 3) AS BIGINT) AS weight
        FROM documents
    ), rep AS (
        SELECT doc_id, weight, unnest(generate_series(1, weight)) AS copy
        FROM w
    ), keyed AS (
        SELECT doc_id, weight,
               md5(CAST(doc_id AS VARCHAR) || '#' || CAST(copy AS VARCHAR)) AS k
        FROM rep
    ), top AS (
        SELECT * FROM keyed ORDER BY k, doc_id LIMIT 30
    )
    SELECT doc_id, ANY_VALUE(weight) AS weight,
           CAST(COUNT(*) AS BIGINT) AS n_draws,
           MIN(k) AS best_key
    FROM top GROUP BY doc_id
    """,
)
def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling by deterministic replication: each document gets
    1..4 tickets proportional to a quality proxy (length band), every
    ticket draws a reproducible md5 key, and the k smallest tickets win —
    heavier documents are proportionally likelier to be drawn, and the
    sample is a pure function of the data (stable under retries and
    repartitioning, like ``sample_reservoir``). The integer-ticket trick is
    the exactness-safe stand-in for exponential-key (A-ES) weighted
    reservoirs, whose float pow() keys are not bit-stable across engines.
    Plan: bounded explode (≤4×) → global top-k (TakeOrdered — never a
    single-partition sort of the corpus) → group the k winners. At 100 TB
    only k rows ever concentrate on one node."""
    cat = Catalog(spark, sf_dir)
    rep = (
        cat.documents.select(
            "doc_id",
            F.expr("CAST(1 + least(n_chars DIV 400, 3) AS BIGINT)").alias(
                "weight"
            ),
        )
        .withColumn("copy", F.explode(F.expr("sequence(1, weight)")))
        .withColumn(
            "k",
            F.md5(
                F.concat_ws(
                    "#", F.col("doc_id").cast("string"), F.col("copy").cast("string")
                )
            ),
        )
    )
    top = rep.orderBy("k", "doc_id").limit(30)
    return top.groupBy("doc_id").agg(
        F.first("weight").alias("weight"),
        F.count("*").alias("n_draws"),
        F.min("k").alias("best_key"),
    )


#: l-diversity threshold: a quasi-identifier cell whose sensitive attribute
#: takes fewer than L distinct values discloses that attribute even when the
#: cell is k-anonymous.
LDIV_L = 2


@query(
    "ldiv_audit",
    oracle=f"""
    WITH cells AS (
        SELECT source,
               CAST(least(n_chars // 200, 9) AS BIGINT) AS len_band,
               CAST(COUNT(*) AS BIGINT)              AS cell_n,
               CAST(COUNT(DISTINCT lang) AS BIGINT)  AS diversity
        FROM documents
        GROUP BY source, least(n_chars // 200, 9)
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(SUM(CASE WHEN diversity < {LDIV_L} THEN 1 ELSE 0 END)
                AS BIGINT)          AS undiverse_cells,
           CAST(SUM(CASE WHEN diversity < {LDIV_L} THEN cell_n ELSE 0 END)
                AS BIGINT)          AS rows_at_risk,
           CAST(MIN(diversity) AS BIGINT) AS min_diversity
    FROM cells GROUP BY source
    """,
)
def ldiv_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — the disclosure check k-anonymity misses: a cell
    can hold ≥k rows yet still leak its SENSITIVE attribute if every row
    agrees on it (all five people in the cell share one language → knowing
    someone is in the cell reveals their language). Per quasi-identifier
    cell (source × length band), count distinct sensitive values (lang) and
    flag cells below L=2; rolled up per source with the rows at risk.
    Companion to ``kanon_audit`` (cell SIZE) — together they implement the
    Machanavajjhala et al. release gate.

    Plan: one (QI-cell) rollup carrying a distinct-count (two-level
    aggregate — partial on (cell, lang), final on cell), then a tiny
    per-source fold. Same 100 TB shape as any grouped distinct."""
    cat = Catalog(spark, sf_dir)
    cells = (
        cat.documents.select(
            "source",
            F.least(F.expr("n_chars DIV 200"), F.lit(9))
            .cast("long")
            .alias("len_band"),
            "lang",
        )
        .groupBy("source", "len_band")
        .agg(
            F.count("*").alias("cell_n"),
            F.countDistinct("lang").alias("diversity"),
        )
    )
    return cells.groupBy("source").agg(
        F.count("*").alias("n_cells"),
        F.sum(F.when(F.col("diversity") < LDIV_L, 1).otherwise(0))
        .cast("long")
        .alias("undiverse_cells"),
        F.sum(F.when(F.col("diversity") < LDIV_L, F.col("cell_n")).otherwise(0))
        .cast("long")
        .alias("rows_at_risk"),
        F.min("diversity").cast("long").alias("min_diversity"),
    )


@query(
    "kanon_generalize",
    oracle=f"""
    WITH s AS (
        SELECT lang, source,
               CAST(least(n_chars // 200, 9) AS BIGINT) AS band200,
               CAST(least(n_chars // 500, 9) AS BIGINT) AS band500
        FROM documents
    ), cells AS (
        SELECT CASE WHEN GROUPING(band200) = 0 THEN 0
                    WHEN GROUPING(band500) = 0 THEN 1
                    WHEN GROUPING(source)  = 0 THEN 2
                    WHEN GROUPING(lang)    = 0 THEN 3
                    ELSE 4 END            AS level,
               CAST(COUNT(*) AS BIGINT)   AS cell_n
        FROM s
        GROUP BY GROUPING SETS ((lang, source, band200),
                                (lang, source, band500),
                                (lang, source), (lang), ())
    )
    SELECT CAST(level AS BIGINT)                        AS level,
           CAST(COUNT(*) AS BIGINT)                     AS n_cells,
           CAST(MIN(cell_n) AS BIGINT)                  AS min_cell,
           CAST(SUM(CASE WHEN cell_n < {KANON_K} THEN 1 ELSE 0 END)
                AS BIGINT)                              AS unsafe_cells,
           CAST(SUM(CASE WHEN cell_n < {KANON_K} THEN cell_n ELSE 0 END)
                AS BIGINT)                              AS rows_at_risk,
           CAST(CASE WHEN MIN(cell_n) >= {KANON_K} THEN 1 ELSE 0 END
                AS BIGINT)                              AS is_safe
    FROM cells GROUP BY level
    """,
)
def kanon_generalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity generalization-ladder search: evaluate FIVE coarsening
    levels of the quasi-identifier (full (lang, source, 200-char band) →
    wider 500-char bands → drop length → lang only → fully general) in a
    SINGLE pass via GROUPING SETS, and report each level's equivalence-
    class census — the release engineer picks the first level with
    ``is_safe = 1`` (min class ≥ k), i.e. the minimal information loss
    meeting the contract that ``kanon_audit`` only checks for one level.
    One expand (×5) + one shuffle builds every ladder rung's cells;
    the per-level census is a second, cell-scale aggregate."""
    cat = Catalog(spark, sf_dir)
    s = cat.documents.select(
        "lang",
        "source",
        F.expr("CAST(least(n_chars div 200, 9) AS BIGINT)").alias("band200"),
        F.expr("CAST(least(n_chars div 500, 9) AS BIGINT)").alias("band500"),
    )
    cells = s.groupingSets(
        [
            ["lang", "source", "band200"],
            ["lang", "source", "band500"],
            ["lang", "source"],
            ["lang"],
            [],
        ],
        "lang",
        "source",
        "band200",
        "band500",
    ).agg(
        F.expr(
            "CASE WHEN grouping(band200) = 0 THEN 0"
            "     WHEN grouping(band500) = 0 THEN 1"
            "     WHEN grouping(source)  = 0 THEN 2"
            "     WHEN grouping(lang)    = 0 THEN 3"
            "     ELSE 4 END"
        ).alias("level"),
        F.count("*").alias("cell_n"),
    )
    return cells.groupBy("level").agg(
        F.count("*").cast("long").alias("n_cells"),
        F.min("cell_n").cast("long").alias("min_cell"),
        F.sum(F.when(F.col("cell_n") < KANON_K, 1).otherwise(0))
        .cast("long")
        .alias("unsafe_cells"),
        F.sum(F.when(F.col("cell_n") < KANON_K, F.col("cell_n")).otherwise(0))
        .cast("long")
        .alias("rows_at_risk"),
        F.when(F.min("cell_n") >= KANON_K, 1)
        .otherwise(0)
        .cast("long")
        .alias("is_safe"),
    ).select(
        F.col("level").cast("long").alias("level"),
        "n_cells",
        "min_cell",
        "unsafe_cells",
        "rows_at_risk",
        "is_safe",
    )
