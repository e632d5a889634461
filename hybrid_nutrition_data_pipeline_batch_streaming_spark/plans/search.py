"""Text retrieval over the documents table (inverted-index family).

The missing sibling of the dedup/similarity suites: given a phrase or a bag
of words, find and rank matching documents. Spark has no search primitive,
so both queries build the classic structures from relational ops:

- ``phrase_search``    — positional inverted index: adjacency-joined token
  positions answer exact-phrase queries. The demo phrase is self-derived
  (the corpus's most frequent bigram, deterministic tie-break) so the query
  stays non-empty across driver fixture regenerations; a production caller
  substitutes any literal phrase — the plan is identical.
- ``text_search_rank`` — tf·idf bag-of-words ranking with idf as the exact
  integer ratio N·10⁶ div df (ln() is not bit-identical across engines;
  ratio space preserves the ranking for single-term weights and BIGINT
  arithmetic hashes identically everywhere).

Scale shape: both are explode → ONE corpus-wide groupBy (the posting
build); query terms are a broadcast singleton/handful, so probing is
map-side. At 100 TB the posting table is the persisted artifact and the
per-query work is partition-pruned posting reads — a build-once/probe-many
split, noted per query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import Catalog
from ..session import checkpoint_truncate, persist
from .registry import query

#: Bag-of-words size for the ranking demo (the corpus's top-N tokens).
N_QUERY_TERMS = 3
TOP_DOCS = 20


def doc_tf_frame(documents: DataFrame) -> DataFrame:
    """Per-document term frequencies computed MAP-SIDE — the shared
    retrieval index form for ``text_search_rank`` / ``bm25_search``.

    Every document is ONE input row, so tf(doc, tok) never needs a
    corpus-wide shuffle: sort the token array, run-length encode it with
    higher-order functions (boundaries = indices where a new token run
    starts; tf = distance to the next boundary), and the document length
    falls out as ``size(s)`` on the same row. Replaces the r1-r6 plan
    (explode → groupBy(doc_id, tok), a full-corpus shuffle, plus a later
    doc_id join to re-attach dl) with zero shuffles — the difference
    between shuffling the whole 100 TB token stream and shuffling nothing.

    Emits (doc_id, dl, tfs:array<struct<tok,tf>>). Query code reads the
    lineage-cut form via ``_doc_tf`` below.
    """
    return (
        documents.where(F.col("text") != "")
        .select("doc_id", F.array_sort(F.split(F.col("text"), " ")).alias("s"))
        .select(
            "doc_id",
            F.size("s").alias("dl"),
            F.expr(
                "filter(sequence(1, size(s)), i -> i = 1 OR s[i-1] != s[i-2])"
            ).alias("b"),
            F.col("s"),
        )
        .select(
            "doc_id",
            "dl",
            F.expr(
                "transform(sequence(0, size(b) - 1), j -> struct("
                " s[b[j] - 1] AS tok,"
                " (IF(j + 1 < size(b), b[j + 1], size(s) + 1) - b[j]) AS tf))"
            ).alias("tfs"),
        )
    )


def _doc_tf(cat: Catalog):
    """The shared per-doc tf index (r12): ``doc_tf_frame`` computed inline
    and lineage-cut — the map-side RLE build runs inside each consumer's
    own timed plan, computed fresh from the documents parquet every
    invocation.

    The cut is LOAD-BEARING: (a) it is the optimizer barrier — explode()
    directly over the uncut nested-lambda projections sends Catalyst into
    a runaway optimization loop (measured on Spark 4.1: .explain() alone
    pegs a core for minutes; the cut's scan leaf makes the generator input
    a plain attribute); (b) the heavy consumers (search_prf_expand,
    similarity_maxsim, bm25's stats leg) reference the index two-plus
    times. Do not inline ``doc_tf_frame`` into the consumers."""
    # r12: eager cut (was a lazy persist) — still the same optimizer
    # barrier (the scan leaf is a plain attribute source), but the two-plus
    # consumer legs no longer race to fill it (bm25 0.72 → 0.63 s, tfidf
    # 0.99 → 0.78 s, prf 1.51 → 1.14 s interleaved).
    return checkpoint_truncate(doc_tf_frame(cat.documents))


@query(
    "phrase_search",
    oracle="""
    WITH bg AS (
        SELECT doc_id,
               unnest(list_transform(
                   generate_series(1, greatest(len(string_split(text, ' ')) - 1, 0)),
                   i -> string_split(text, ' ')[i] || ' ' ||
                        string_split(text, ' ')[i + 1])) AS ph
        FROM documents
    ), top1 AS (
        SELECT ph FROM (
            SELECT ph, COUNT(*) AS c FROM bg GROUP BY ph
        ) ORDER BY c DESC, ph LIMIT 1
    )
    SELECT bg.doc_id, bg.ph AS phrase, COUNT(*) AS n_matches
    FROM bg JOIN top1 ON top1.ph = bg.ph
    GROUP BY bg.doc_id, bg.ph
    """,
)
def phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase search via a positional inverted index (retrieval
    north-star): every adjacent token pair is a posting; the query phrase
    equi-joins into the posting stream and per-doc match counts come from
    one aggregation. This is how phrase queries run over a token-position
    index (Lucene's positional postings re-expressed relationally): an
    n-word phrase is n-1 adjacency joins, here pre-fused into bigram
    postings by the same zip-shifted slice trick as `_shingles`.

    The searched phrase is the corpus's top bigram (deterministic
    ORDER BY count DESC, phrase), so the query is self-contained and
    fixture-proof; substituting a literal phrase drops the derivation
    subquery and keeps the probe plan. At 100 TB the posting stream is a
    persisted table bucketed by phrase key and the probe reads one bucket —
    build-once/probe-many."""
    cat = Catalog(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    n1 = F.greatest(F.size(toks) - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice(toks, 1, n1), F.slice(toks, 2, n1),
        lambda x, y: F.concat_ws(" ", x, y),
    )
    # r12: examined and kept LAZY — corpus-sized bigram explode (the
    # measured class where an eager cut regresses M=100).
    bg = persist(
        cat.documents.select("doc_id", F.explode(bigrams).alias("ph"))
    )
    top1 = (
        bg.groupBy("ph")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), F.asc("ph"))
        .limit(1)
        .select("ph")
    )
    return (
        bg.join(F.broadcast(top1), "ph")
        .groupBy("doc_id", F.col("ph").alias("phrase"))
        .agg(F.count("*").alias("n_matches"))
    )


@query(
    "text_search_rank",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
        WHERE text <> ''
    ), tf AS (
        SELECT doc_id, tok, COUNT(*) AS tf FROM tok GROUP BY doc_id, tok
    ), terms AS (
        SELECT tok, CAST(SUM(tf) AS BIGINT) AS total, COUNT(*) AS df
        FROM tf GROUP BY tok
        ORDER BY total DESC, tok LIMIT {N_QUERY_TERMS}
    ), n AS (
        SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tok
    )
    SELECT doc_id,
           CAST(SUM(tf.tf * ((n.n_docs * 1000000) // terms.df)) AS BIGINT)
               AS score_ppm,
           CAST(COUNT(*) AS BIGINT) AS terms_hit
    FROM tf JOIN terms ON terms.tok = tf.tok CROSS JOIN n
    GROUP BY doc_id
    ORDER BY score_ppm DESC, doc_id
    LIMIT {TOP_DOCS}
    """,
)
def text_search_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-of-words tf·idf ranking (retrieval north-star): score documents
    for a term set by Σ_t tf(t,d) · idf(t), idf as the exact integer ratio
    N_docs·10⁶ div df(t) — BIGINT arithmetic instead of ln(N/df) because
    logs differ in the last ulp across engines while the per-term ranking
    is the same monotone order. The query terms are the corpus's top
    {N_QUERY_TERMS} tokens by total frequency (deterministic tie-break),
    keeping the demo fixture-proof; real callers pass literal terms and
    keep the identical probe plan.

    Plan: per-doc tf computed MAP-SIDE (``_doc_tf`` — documents are
    single rows, so no corpus shuffle builds the index) → term stats
    aggregate the exploded index (one vocabulary-sized partial-agg
    shuffle) → the {N_QUERY_TERMS}-row term set broadcasts back onto the
    index → per-doc score is one more partial-agg shuffle + TakeOrdered.
    The corpus is read once; nothing all-pairs. Measured 1.5 s → 0.6 s at
    sf0.1 vs the r1-r6 explode→groupBy(doc,tok) index build."""
    cat = Catalog(spark, sf_dir)
    docs = _doc_tf(cat)
    tf = docs.select(
        "doc_id", F.explode("tfs").alias("e")
    ).select("doc_id", "e.tok", F.col("e.tf").cast("long").alias("tf"))
    terms = (
        tf.groupBy("tok")
        .agg(F.sum("tf").cast("long").alias("total"), F.count("*").alias("df"))
        .orderBy(F.desc("total"), F.asc("tok"))
        .limit(N_QUERY_TERMS)
    )
    n = docs.agg(F.count("*").alias("n_docs"))
    return (
        tf.join(F.broadcast(terms), "tok")
        .crossJoin(F.broadcast(n))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.col("tf") * F.expr("n_docs * 1000000 div df")
            )
            .cast("long")
            .alias("score_ppm"),
            F.count("*").cast("long").alias("terms_hit"),
        )
        .orderBy(F.desc("score_ppm"), F.asc("doc_id"))
        .limit(TOP_DOCS)
    )


@query(
    "bm25_search",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents WHERE text <> ''
    ), tf AS (
        SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
        FROM tok GROUP BY doc_id, tok
    ), dl AS (
        SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id
    ), stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(dl) AS BIGINT)  AS l_total
        FROM dl
    ), terms AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS df
        FROM tf GROUP BY tok
        ORDER BY CAST(SUM(tf) AS BIGINT) DESC, tok LIMIT {N_QUERY_TERMS}
    ), scored AS (
        SELECT tf.doc_id,
               ((n_docs - df) * 1000 // df)
               * ((22000 * tf * l_total)
                  // (10 * tf * l_total + 3 * l_total + 9 * dl.dl * n_docs))
               AS s
        FROM tf JOIN terms USING (tok) JOIN dl USING (doc_id) CROSS JOIN stats
    )
    SELECT doc_id,
           CAST(SUM(s) AS BIGINT)   AS score_units,
           CAST(COUNT(*) AS BIGINT) AS terms_hit
    FROM scored GROUP BY doc_id
    ORDER BY score_units DESC, doc_id LIMIT {TOP_DOCS}
    """,
)
def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranking (k1=1.2, b=0.75) in exact integer arithmetic — the
    production upgrade of ``text_search_rank``'s flat tf·idf: term frequency
    saturates (tf·(k1+1) / (tf + k1·…)) and long documents are penalized by
    dl/avgdl. Multiplying the BM25 fraction through by 10·L (L = corpus
    token count, so avgdl = L/N needs no division) gives
    ``22000·tf·L DIV (10·tf·L + 3·L + 9·dl·N)`` — per-mille of the
    saturation term — and idf is the rational surrogate (N−df)·1000 DIV df
    (logs are not bit-stable across engines; the rational form preserves the
    df ordering). Every operand is BIGINT, so both engines hash identically.

    Plan: per-doc tf AND dl computed MAP-SIDE on the same row
    (``_doc_tf`` — documents are single rows, so neither needs a corpus
    shuffle, and dl rides along the exploded index for free instead of
    joining back on doc_id) → corpus stats are one scalar aggregate over
    the cached index → the term set broadcasts onto the index → per-doc
    score is one partial-agg shuffle + TakeOrdered. vs the r1-r6 plan
    this removes the groupBy(doc,tok) corpus shuffle, the dl groupBy AND
    the doc_id re-join (measured 1.5 s → 0.6 s at sf0.1). Reference
    parity: the word-cloud chart's token statistics (`README.md:61-64`)
    generalized to ranked retrieval."""
    cat = Catalog(spark, sf_dir)
    docs = _doc_tf(cat)
    tf = docs.select("doc_id", "dl", F.explode("tfs").alias("e")).select(
        "doc_id", "dl", "e.tok", F.col("e.tf").cast("long").alias("tf")
    )
    stats = docs.agg(
        F.count("*").alias("n_docs"), F.sum("dl").cast("long").alias("l_total")
    )
    terms = (
        tf.groupBy("tok")
        .agg(F.sum("tf").cast("long").alias("total"), F.count("*").alias("df"))
        .orderBy(F.desc("total"), F.asc("tok"))
        .limit(N_QUERY_TERMS)
        .drop("total")
    )
    return (
        tf.join(F.broadcast(terms), "tok")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "s",
            F.expr(
                "((n_docs - df) * 1000 DIV df) * ((22000 * tf * l_total)"
                " DIV (10 * tf * l_total + 3 * l_total + 9 * dl * n_docs))"
            ),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("s").cast("long").alias("score_units"),
            F.count("*").cast("long").alias("terms_hit"),
        )
        .orderBy(F.desc("score_units"), F.asc("doc_id"))
        .limit(TOP_DOCS)
    )


#: Late-interaction parameters: tokens per chunk, feature-hash dims (shared
#: with plans/text.py::embed_feature_hash), query terms, result size.
MAXSIM_CHUNK = 16
MAXSIM_DIM = 8
MAXSIM_TERMS = 3
MAXSIM_TOP = 15

_MAXSIM_C = ", ".join(
    f"CAST(SUM(CASE WHEN bucket = {i} THEN 1 ELSE 0 END) AS DOUBLE) AS c{i}"
    for i in range(MAXSIM_DIM)
)
_MAXSIM_NORM = " + ".join(f"c{j} * c{j}" for j in range(MAXSIM_DIM))
_MAXSIM_E = ", ".join(
    f"c{i} / sqrt({_MAXSIM_NORM}) AS e{i}" for i in range(MAXSIM_DIM)
)
_MAXSIM_CASE = "CASE t.bucket " + " ".join(
    f"WHEN {i} THEN e{i}" for i in range(MAXSIM_DIM)
) + " END"


@query(
    "similarity_maxsim",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, i, string_split(text, ' ')[i] AS tok,
               CAST((i - 1) // {MAXSIM_CHUNK} AS BIGINT) AS chunk
        FROM (
            SELECT doc_id, text,
                   unnest(generate_series(1, len(string_split(text, ' ')))) AS i
            FROM documents WHERE text <> ''
        )
    ), bucketed AS (
        SELECT doc_id, chunk,
               (strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1)
                   % {MAXSIM_DIM} AS bucket
        FROM toks
    ), counts AS (
        SELECT doc_id, chunk, {_MAXSIM_C}
        FROM bucketed GROUP BY doc_id, chunk
    ), vecs AS (
        SELECT doc_id, chunk, {_MAXSIM_E} FROM counts
    ), terms AS (
        SELECT tok,
               (strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1)
                   % {MAXSIM_DIM} AS bucket,
               ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok) AS term_idx
        FROM toks GROUP BY tok
        ORDER BY COUNT(*) DESC, tok LIMIT {MAXSIM_TERMS}
    ), comp AS (
        SELECT v.doc_id, t.term_idx, MAX({_MAXSIM_CASE}) AS m
        FROM vecs v CROSS JOIN terms t
        GROUP BY v.doc_id, t.term_idx
    ), final AS (
        SELECT doc_id,
               MAX(CASE WHEN term_idx = 1 THEN m END) AS m1,
               MAX(CASE WHEN term_idx = 2 THEN m END) AS m2,
               MAX(CASE WHEN term_idx = 3 THEN m END) AS m3
        FROM comp GROUP BY doc_id
    )
    SELECT doc_id, m1, m2, m3, (m1 + m2 + m3) AS maxsim
    FROM final ORDER BY maxsim DESC, doc_id LIMIT {MAXSIM_TOP}
    """,
)
def similarity_maxsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ColBERT-style late-interaction retrieval (multi-vector MaxSim): every
    document becomes a BAG of chunk embeddings ({MAXSIM_CHUNK}-token chunks
    through the same feature-hash embedder as
    ``plans/text.py::embed_feature_hash``), and a query scores as
    Σ_t max_chunk ⟨q_t, chunk⟩ — each query term matches its best chunk
    independently, which is what lets late interaction beat single-vector
    retrieval on long documents. The demo query terms are the corpus's top
    tokens (fixture-proof, like ``bm25_search``); a hashed single token is a
    basis vector, so its dot product selects one embedding component —
    real dense query vectors swap the component pick for the zip_with fold
    of ``similarity_topk`` on the identical plan.

    Float parity: chunk components are the bit-stable pattern proven by
    embed_feature_hash (integer counts → fixed-order squared-norm → one
    sqrt/divide); per-term MAX is order-free; the final score is the fixed
    three-term expression m1+m2+m3, never a float aggregate.

    Scale shape (r7 rework — the map-side-index discipline of ``_doc_tf``
    applied to multi-vector chunks): documents are single rows, so the
    whole chunk-embedding table computes MAP-SIDE with higher-order
    functions (token→bucket array, per-chunk bucket counts via
    slice+filter, per-chunk L2 normalize), the {MAXSIM_TERMS}-term query
    pivots to ONE broadcast row, and each term's MaxSim is an
    ``array_max`` over the row's own chunk vectors — zero doc-cardinality
    shuffles (the r2-r6 plan paid three: the (doc, chunk) aggregate, the
    per-(doc, term) max-pool, and the per-doc pivot). The one remaining
    shuffle is the vocabulary-sized term-statistics aggregate; the result
    is a TakeOrdered. Float parity is preserved bit-for-bit: counts fold
    to the squared norm in fixed array order (aggregate(c, 0D, a+y·y) ≡
    the old c0²+c1²+… chain), division and MAX are order-free. Measured
    1.0 s → 0.6 s warm at sf0.1; MATCH=True against the r6 plan."""
    cat = Catalog(spark, sf_dir)
    docs = persist(
        cat.documents.where(F.col("text") != "")
        .select("doc_id", F.split(F.col("text"), " ").alias("s"))
        .select(
            "doc_id",
            F.expr(
                f"transform(s, x -> CAST(conv(substring(md5(x), 1, 1),"
                f" 16, 10) AS INT) % {MAXSIM_DIM})"
            ).alias("b"),
        )
        .select(
            "doc_id",
            F.expr(
                f"transform(sequence(0, (size(b) - 1) DIV {MAXSIM_CHUNK}),"
                f" j -> transform(sequence(0, {MAXSIM_DIM - 1}), i ->"
                f" CAST(size(filter(slice(b, j * {MAXSIM_CHUNK} + 1,"
                f" {MAXSIM_CHUNK}), v -> v = i)) AS DOUBLE)))"
            ).alias("cv"),
        )
        .select(
            "doc_id",
            F.expr(
                "transform(cv, c -> transform(c, x ->"
                " x / sqrt(aggregate(c, 0D, (a, y) -> a + y * y))))"
            ).alias("ev"),
        )
        # The persist is load-bearing: m1/m2/m3 each reference ev, and
        # HOF chains are outside codegen CSE — uncached, the whole
        # embed pipeline would re-evaluate per reference.
    )
    tf = _doc_tf(cat).select(F.explode("tfs").alias("e")).select(
        "e.tok", F.col("e.tf").cast("long").alias("tf")
    )
    from pyspark.sql.window import Window as _W

    bucket = (
        F.conv(F.substring(F.md5(F.col("tok")), 1, 1), 16, 10).cast("int")
        % MAXSIM_DIM
    )
    terms = (
        tf.groupBy("tok")
        .agg(F.sum("tf").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("tok"))
        .limit(MAXSIM_TERMS)
        .withColumn(
            "term_idx",
            F.row_number().over(_W.orderBy(F.desc("cnt"), F.asc("tok"))),
        )
        .select(bucket.alias("bucket"), "term_idx")
    )
    trow = terms.agg(
        *[
            F.max(F.when(F.col("term_idx") == t, F.col("bucket"))).alias(
                f"bkt{t}"
            )
            for t in (1, 2, 3)
        ]
    )
    final = docs.crossJoin(F.broadcast(trow)).select(
        "doc_id",
        *[
            F.expr(f"array_max(transform(ev, c -> c[bkt{t}]))").alias(f"m{t}")
            for t in (1, 2, 3)
        ],
    )
    return (
        final.select(
            "doc_id",
            "m1",
            "m2",
            "m3",
            (F.col("m1") + F.col("m2") + F.col("m3")).alias("maxsim"),
        )
        .orderBy(F.desc("maxsim"), F.asc("doc_id"))
        .limit(MAXSIM_TOP)
    )


#: PRF parameters: pseudo-relevant pool size and expansion-term count.
PRF_POOL = 10
PRF_EXPAND = 3


@query(
    "search_prf_expand",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents WHERE text <> ''
    ), tf AS (
        SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
        FROM tok GROUP BY doc_id, tok
    ), dfs AS (
        SELECT tok, CAST(SUM(tf) AS BIGINT) AS total,
               CAST(COUNT(*) AS BIGINT) AS df
        FROM tf GROUP BY tok
    ), n AS (
        SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM tf
    ), seed AS (
        SELECT tok, df FROM dfs ORDER BY total DESC, tok LIMIT {N_QUERY_TERMS}
    ), r1 AS (
        SELECT tf.doc_id,
               SUM(tf.tf * ((n.n_docs * 1000000) // seed.df)) AS s1
        FROM tf JOIN seed ON seed.tok = tf.tok CROSS JOIN n
        GROUP BY tf.doc_id
        ORDER BY s1 DESC, tf.doc_id LIMIT {PRF_POOL}
    ), expanded AS (
        SELECT tf.tok FROM tf JOIN r1 ON r1.doc_id = tf.doc_id
        WHERE tf.tok NOT IN (SELECT tok FROM seed)
        GROUP BY tf.tok
        ORDER BY SUM(tf.tf) DESC, tf.tok LIMIT {PRF_EXPAND}
    ), qterms AS (
        SELECT s.tok, s.df, 1 AS is_seed FROM seed s
        UNION ALL
        SELECT d.tok, d.df, 0 AS is_seed
        FROM dfs d JOIN expanded e ON e.tok = d.tok
    )
    SELECT tf.doc_id,
           CAST(SUM(tf.tf * ((n.n_docs * 1000000) // q.df)) AS BIGINT)
               AS score_ppm,
           CAST(SUM(q.is_seed) AS BIGINT)     AS seed_hits,
           CAST(SUM(1 - q.is_seed) AS BIGINT) AS exp_hits
    FROM tf JOIN qterms q ON q.tok = tf.tok CROSS JOIN n
    GROUP BY tf.doc_id
    ORDER BY score_ppm DESC, tf.doc_id LIMIT {TOP_DOCS}
    """,
)
def search_prf_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance-feedback query expansion (Rocchio's idea, the
    two-round retrieval every serious search stack runs): round 1 ranks
    with the seed terms; the top-{PRF_POOL} docs are ASSUMED relevant and
    their dominant non-seed terms (top {PRF_EXPAND} by pooled tf) join the
    query; round 2 re-ranks the corpus with the expanded term set,
    reporting per-doc seed vs expansion hits. Same exact-integer idf as
    ``text_search_rank`` (ppm ratios, no ln), deterministic tie-breaks at
    every cut, so the whole two-round cascade value-hashes across engines.

    Plan: the inverted index (tf table) builds ONCE and serves all three
    probes — seed ranking, expansion mining (a {PRF_POOL}-doc semi-join of
    the index), and final ranking; term sets stay broadcast-sized by
    construction. The corpus text is exploded exactly once; at 100 TB the
    tf table is the persisted posting store and each round is a pruned
    posting read (the build-once/probe-many split, twice)."""
    cat = Catalog(spark, sf_dir)
    docs = _doc_tf(cat)  # map-side per-doc tf; no corpus shuffle (r7)
    tf = docs.select("doc_id", F.explode("tfs").alias("e")).select(
        "doc_id", "e.tok", F.col("e.tf").cast("long").alias("tf")
    )
    # Persisted: the vocabulary stats feed BOTH the seed cut and the final
    # qterms lookup — uncached, the vocab aggregate runs twice.
    dfs = checkpoint_truncate(
        tf.groupBy("tok").agg(
            F.sum("tf").cast("long").alias("total"), F.count("*").alias("df")
        )
    )  # r12: eager cut (was a lazy persist)
    n = docs.agg(F.count("*").alias("n_docs"))
    seed = (
        dfs.orderBy(F.desc("total"), F.asc("tok"))
        .limit(N_QUERY_TERMS)
        .select("tok", "df")
    )
    r1 = (
        tf.join(F.broadcast(seed), "tok")
        .crossJoin(F.broadcast(n))
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("tf") * F.expr("n_docs * 1000000 DIV df")).alias("s1")
        )
        .orderBy(F.desc("s1"), F.asc("doc_id"))
        .limit(PRF_POOL)
        .select("doc_id")
    )
    expanded = (
        tf.join(F.broadcast(r1), "doc_id")
        .join(F.broadcast(seed.select("tok")), "tok", "left_anti")
        .groupBy("tok")
        .agg(F.sum("tf").cast("long").alias("pooled"))
        .orderBy(F.desc("pooled"), F.asc("tok"))
        .limit(PRF_EXPAND)
        .select("tok")
    )
    qterms = seed.withColumn("is_seed", F.lit(1)).unionByName(
        dfs.join(F.broadcast(expanded), "tok")
        .select("tok", "df")
        .withColumn("is_seed", F.lit(0))
    )
    return (
        tf.join(F.broadcast(qterms), "tok")
        .crossJoin(F.broadcast(n))
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("tf") * F.expr("n_docs * 1000000 DIV df"))
            .cast("long")
            .alias("score_ppm"),
            F.sum("is_seed").cast("long").alias("seed_hits"),
            F.sum(F.lit(1) - F.col("is_seed")).cast("long").alias("exp_hits"),
        )
        .orderBy(F.desc("score_ppm"), F.asc("doc_id"))
        .limit(TOP_DOCS)
    )
