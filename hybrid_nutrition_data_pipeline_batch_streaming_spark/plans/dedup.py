"""Deduplication suite over documents (SURVEY.md §2.11 X2; north-star).

Five dedup strategies, each shaped for 100 TB:

- exact:        hash-groupBy on a normalized content hash — one shuffle.
- minhash LSH:  shingle → minhash signature → band-bucket equi-join →
                verify candidates with exact Jaccard. The candidate join is
                an equi-join on band keys, so candidate generation never
                goes O(n²); only within-bucket pairs are verified.
- simhash:      near-dup via Hamming distance on a 16-bit signature; pairs
                are generated within LSH-style bucket (high byte) so the
                pair join is again an equi-join.
- n-gram Jaccard: word-3-gram overlap verify on blocked candidates.
- embedding cosine: see plans/similarity.py (shares the vector machinery).

Everything is built-in column expressions (split/transform/md5/explode) —
JVM-side, no Python UDFs. The md5-string minhash keeps the oracle portable:
min() over hex digests is a total order both engines agree on.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import Catalog
from ..operators.blocking import (
    bag_pair_counts,
    capped_blocking_join,
    capped_pair_sql,
    packable,
)
from ..session import checkpoint_truncate, persist
from .registry import query

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


@query(
    "dedup_exact_text",
    oracle="""
    SELECT md5(lower(trim(text))) AS text_hash,
           MIN(doc_id) AS keep_id,
           COUNT(*) AS dup_cnt
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized content hash (X2): groupBy(hash) keeping the
    smallest id. Single shuffle on a 128-bit key — the canonical first pass
    of any training-data dedup pipeline."""
    cat = Catalog(spark, sf_dir)
    return (
        cat.documents.groupBy(
            F.md5(F.lower(F.trim(F.col("text")))).alias("text_hash")
        )
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("dup_cnt"))
    )


# ---------------------------------------------------------------------------
# Shared shingling helpers
# ---------------------------------------------------------------------------

N_MINHASHES = 4


def _shingles(text: Column) -> Column:
    """Distinct word 3-gram shingles of a space-tokenized document.

    Built by zipping three shifted slices of the token array — one linear
    pass. (An element_at(toks, i)-per-index transform re-evaluates the
    split() expression at every lambda reference, which profiled ~10× slower
    at sf0.1; zip_with keeps shingling O(n_tokens).)
    """
    toks = F.split(text, " ")
    n2 = F.greatest(F.size(toks) - 2, F.lit(0))
    a = F.slice(toks, 1, n2)
    b = F.slice(toks, 2, n2)
    c = F.slice(toks, 3, n2)
    pairs = F.zip_with(a, b, lambda x, y: F.concat_ws(" ", x, y))
    return F.array_distinct(
        F.zip_with(pairs, c, lambda xy, z: F.concat_ws(" ", xy, z))
    )


_SHINGLES_SQL = """
    list_distinct(list_transform(
        generate_series(1, greatest(len(string_split(text, ' ')) - 2, 1)),
        i -> string_split(text, ' ')[i] || ' ' ||
             string_split(text, ' ')[i + 1] || ' ' ||
             string_split(text, ' ')[i + 2]))
"""


def _minhash(digests: Column, k: int) -> Column:
    """k-th min-hash: the lexicographic min of the k-th 8-hex-char slice of
    each shingle's md5.

    One md5 per shingle feeds all N_MINHASHES coordinates (disjoint 32-bit
    slices of the digest are independent hash functions) — 4× cheaper than
    one keyed digest per coordinate, and — unlike xxhash64 — with an exact
    DuckDB twin for the oracle."""
    return F.array_min(F.transform(digests, lambda d: d.substr(8 * k + 1, 8)))


def _minhash_sql(k: int) -> str:
    return (
        f"list_min(list_transform(shingles, s -> substr(md5(s), {8 * k + 1}, 8)))"
    )


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, shingles, mh0..mh3): the distinct word 3-gram shingles and
    their ``N_MINHASHES`` min-hashes over any (doc_id, text, ...) DataFrame
    — the minhash twin of ``simhash_signatures``. Lazy: every caller reads
    it more than once, and cuts or persists it as its own plan needs."""
    return (
        docs.select("doc_id", _shingles(F.col("text")).alias("shingles"))
        .withColumn("digests", F.transform(F.col("shingles"), F.md5))
        .select(
            "doc_id",
            "shingles",
            *[
                _minhash(F.col("digests"), k).alias(f"mh{k}")
                for k in range(N_MINHASHES)
            ],
        )
    )


def _jaccard(a: str, b: str) -> Column:
    """Exact Jaccard |A∩B| / |A∪B| of two distinct-shingle array columns:
    one integer ratio, the same double in both engines."""
    return F.size(F.array_intersect(a, b)).cast("double") / F.size(
        F.array_union(a, b)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup
# ---------------------------------------------------------------------------

_MINHASH_SIG_SQL = ",\n           ".join(
    f"{_minhash_sql(k)} AS mh{k}" for k in range(N_MINHASHES)
)


@query(
    "dedup_minhash",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM documents
    ), sig AS (
        SELECT doc_id, shingles,
           {_MINHASH_SIG_SQL}
        FROM sh
    ), cand AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.shingles AS sh_a, b.shingles AS sh_b
        FROM sig a JOIN sig b
          ON a.mh0 = b.mh0 AND a.mh1 = b.mh1
         AND a.mh2 = b.mh2 AND a.mh3 = b.mh3
         AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
             / len(list_distinct(list_concat(sh_a, sh_b))) AS jaccard
    FROM cand
    WHERE CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
             / len(list_distinct(list_concat(sh_a, sh_b))) >= 0.5
    """,
)
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-duplicate detection (X2): 4 keyed minhashes over word
    3-gram shingles form one LSH band; docs colliding on the whole band are
    candidates (equi-join — shuffle on the band key, never O(n²)), then
    verified with exact Jaccard ≥ 0.5.

    At 100 TB you'd use r bands × b rows to tune recall; the plan shape
    (signature → band explode → equi-self-join → verify) is exactly this.
    """
    cat = Catalog(spark, sf_dir)
    # Materialize the signature table once: the self-join would otherwise
    # recompute shingling+hashing on BOTH sides (and Catalyst re-inlines the
    # shared md5 transform when the projection feeds an exchange). At
    # production scale this is "write the LSH signature table, then
    # self-join it". EAGER cut, not a lazy persist (r12): the self-join's
    # two scan legs materialize concurrently under AQE and raced to compute
    # the uncached table; eager also stops each downstream reference
    # re-paying Catalyst analysis of the shingling subtree.
    sig = checkpoint_truncate(minhash_signatures(cat.documents))
    a = sig.alias("a")
    b = sig.alias("b")
    band_eq = [F.col(f"a.mh{k}") == F.col(f"b.mh{k}") for k in range(N_MINHASHES)]
    cond = band_eq[0]
    for c in band_eq[1:]:
        cond = cond & c
    cand = a.join(b, cond & (F.col("a.doc_id") < F.col("b.doc_id"))).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("a.shingles").alias("sh_a"),
        F.col("b.shingles").alias("sh_b"),
    )
    return (
        cand.withColumn("jaccard", _jaccard("sh_a", "sh_b"))
        .where(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b", "jaccard")
    )


#: Band-bucket occupancy cap for the minhash pair generators (shared
#: capped-blocking lever, operators/blocking.py): band buckets fill
#: linearly with corpus duplicate families — measured 8 occupancy at
#: sf0.1 → 508 at M=100 (500 k docs) — so the bucket self-join's pair
#: volume grows quadratically without a cap. 4096 is ~8× the M=100
#: maximum, so every shipped fixture AND every scale-study dataset is
#: bit-identical; a bucket denser than this holds >0.8% of an M=100
#: corpus sharing one 64-bit band signature — boilerplate, not near-dup
#: signal, exactly the population MinHashLSH probe caps drop.
MINHASH_BUCKET_CAP = 4096

_MINHASH_BANDS = (("mh0", "mh1"), ("mh2", "mh3"))

_MINHASH_CAND_SQL = "\n        UNION\n".join(
    capped_pair_sql("sig", cols, "doc_id", MINHASH_BUCKET_CAP, "doc_a", "doc_b")
    for cols in _MINHASH_BANDS
)


@query(
    "dedup_minhash_banded",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM documents
    ), sig AS (
        SELECT doc_id, shingles,
           {_MINHASH_SIG_SQL}
        FROM sh
    ), cand AS (
{_MINHASH_CAND_SQL}
    )
    SELECT c.doc_a, c.doc_b,
           CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
             / len(list_distinct(list_concat(sa.shingles, sb.shingles))) AS jaccard
    FROM cand c
    JOIN sig sa ON sa.doc_id = c.doc_a
    JOIN sig sb ON sb.doc_id = c.doc_b
    WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
             / len(list_distinct(list_concat(sa.shingles, sb.shingles))) >= 0.5
    """,
)
def dedup_minhash_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-band MinHash LSH (X2, the production r×b form): the same 4
    minhash coordinates arranged as b=2 bands × r=2 rows. A pair is a
    candidate if it collides on EITHER band (OR-amplification), then exact
    Jaccard verifies. At J=0.5 the single-band (AND-of-4) recall is
    J⁴ ≈ 0.06; two bands of two give 1-(1-J²)² ≈ 0.44 — the recall knob
    `dedup_minhash`'s docstring promises, wired. Each band join is still an
    equi-join (never O(n²)) AND capped at ``MINHASH_BUCKET_CAP`` occupancy
    per bucket (round-6, shared operators/blocking.py lever — band buckets
    measured growing 8 → 508 occupancy from sf0.1 to M=100, the same
    linear fill that made dedup_embedding quadratic); the union + distinct
    dedups cross-band candidates before the verify join, so no pair is
    rescored twice."""
    cat = Catalog(spark, sf_dir)
    return banded_minhash_pairs(cat.documents.select("doc_id", "text"))


def banded_minhash_pairs(docs: DataFrame) -> DataFrame:
    """Verified near-dup pairs (Jaccard ≥ 0.5) from b=2×r=2 banded minhash
    over any (doc_id, text, ...) DataFrame — the reusable core of
    ``dedup_minhash_banded``, also consumed by the corpus-build pipeline."""
    # Eager lineage cut (r12, was a lazy .persist()): the two band joins
    # plus the two rescore legs below all reference this frame, and their
    # scan legs materialize CONCURRENTLY — a lazy cache let them race to
    # compute the uncached signatures, and every reference re-paid Catalyst
    # analysis of the shingling subtree. Measured at sf0.1 (cold
    # construct+execute): the pair build 2.01 → 1.42 s, and its six
    # headline consumers each dropped 0.1-0.8 s (dedup_connected_components
    # 3.43 → 2.61 s, pipeline_corpus_build 4.15 → 3.24 s).

    sig = checkpoint_truncate(minhash_signatures(docs))
    cand = None
    for cols in _MINHASH_BANDS:
        pairs = capped_blocking_join(
            sig.select("doc_id", *cols),
            cols,
            "doc_id",
            MINHASH_BUCKET_CAP,
            "doc_a",
            "doc_b",
        )
        cand = pairs if cand is None else cand.unionByName(pairs)
    cand = cand.distinct()
    sa = sig.select(
        F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", _jaccard("sh_a", "sh_b"))
        .where(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash near-dup
# ---------------------------------------------------------------------------

# 64-bit simhash from the full 16-hex-char md5 of each token, carried as two
# 32-bit words (w0 = chars 1-8, w1 = chars 9-16) so signed BIGINT arithmetic
# stays overflow-free in every dialect. Hex digits decode portably: Spark
# conv(c,16,10), DuckDB strpos on the hex alphabet.
SIMHASH_BITS = 64
_WORD_BITS = 32
HAMMING_MAX = 6
_BLOCK_DIV = 2 ** 24  # block on the top 8 bits of w0


def _word_sql(prefix: str, lo: int) -> str:
    """One 32-bit signature word from the per-bit vote columns, as a SQL
    expression string (see simhash_signatures for why strings)."""
    terms = " + ".join(
        f"(CASE WHEN {prefix}{lo + j} > 0 THEN {2**j}L ELSE 0L END)"
        for j in range(_WORD_BITS)
    )
    return f"CAST({terms} AS BIGINT)"


_EXPANDED_SQL = """
        SELECT doc_id, j,
               CASE WHEN ((strpos('0123456789abcdef', substr(h, (j // 4) + 1, 1)) - 1)
                          // (CASE j % 4 WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 2 ELSE 1 END)) % 2 = 1
                    THEN 1 ELSE -1 END AS sgn
        FROM bits, generate_series(0, 63) t(j)
"""

# The shared signature CTE chain (token → digest → per-bit votes → two
# 32-bit words), used by both simhash oracles.
_SIG_CTES_SQL = f"""tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ), bits AS (
        SELECT doc_id, md5(token) AS h FROM tok WHERE token <> ''
    ), expanded AS ({_EXPANDED_SQL}
    ), votes AS (
        SELECT doc_id, j, SUM(sgn) AS s FROM expanded GROUP BY doc_id, j
    ), sig AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN s > 0 AND j < 32
                             THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS w0,
               CAST(SUM(CASE WHEN s > 0 AND j >= 32
                             THEN CAST(pow(2, j - 32) AS BIGINT) ELSE 0 END) AS BIGINT) AS w1
        FROM votes
        GROUP BY doc_id
    )"""


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """Materialized (doc_id, w0, w1) 64-bit simhash signature table over any
    (doc_id, text, ...) DataFrame — shared by the single-block and
    multi-probe pair generators.

    Decode each digest once to two 32-bit words, then sum the ±1 votes per
    bit in ONE aggregation pass (64 sums of 2·bit-1 over shiftright/AND of
    the words, map-side partials — no per-bit explode on the Spark side).
    Hex char 1 is the word's most significant nibble, and within a nibble
    bit j%4==0 is the 8s bit, so signature bit j sits at word bit 31-(j%32).
    (The conv-to-two-words decode was profiled in r9: 1.4× faster than
    per-nibble decodes, 3× faster than inlining the decode into all 64
    aggregates, bit-identical signatures.)

    r12 optimization, two structural changes (measured at sf0.1, board
    harness, min-of-3 construct+execute):

    - The 64 vote aggregates and the two word assemblies are built as SQL
      STRINGS (``F.expr`` / ``selectExpr``), not as Column-method chains:
      one py4j round trip each instead of ~6 per expression × 96
      expressions. Identical expression tree after parsing (collect()
      equality checked against the Column form at sf0.1); construction
      drops 1.18 → 0.29 s.
    - The result is an EAGER lineage cut (``checkpoint_truncate``), not a
      lazy ``.persist()``: the consumers self-join it (two scan legs per
      probe join, 8 probe joins in the multiprobe), and those legs
      materialize CONCURRENTLY under AQE — with a lazy cache several legs
      race to compute the uncached signature table, and each downstream
      reference also re-pays Catalyst analysis of the whole signature
      subtree. Cold per-query totals: dedup_simhash 1.77 → 0.98 s,
      dedup_simhash_multiprobe 4.84 → 1.88 s,
      dedup_simhash_multiprobe_wide 2.95 → 1.18 s.
    """

    tok = (
        docs.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("token"))
        .where(F.col("token") != "")
        .select("doc_id", F.md5(F.col("token")).alias("h"))
    )
    words = tok.selectExpr(
        "doc_id",
        "CAST(conv(substring(h, 1, 8), 16, 10) AS BIGINT) AS wa",
        "CAST(conv(substring(h, 9, 8), 16, 10) AS BIGINT) AS wb",
    )
    votes = [
        F.expr(
            f"SUM((shiftright({'wa' if j < _WORD_BITS else 'wb'},"
            f" {31 - (j % _WORD_BITS)}) & 1) * 2 - 1) AS s{j}"
        )
        for j in range(SIMHASH_BITS)
    ]
    return checkpoint_truncate(
        words.groupBy("doc_id")
        .agg(*votes)
        .selectExpr(
            "doc_id",
            _word_sql("s", 0) + " AS w0",
            _word_sql("s", 32) + " AS w1",
        )
    )


@query(
    "dedup_simhash",
    oracle=f"""
    WITH {_SIG_CTES_SQL}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.w0, b.w0)) + bit_count(xor(a.w1, b.w1)) AS INT) AS hamming
    FROM sig a JOIN sig b
      ON (a.w0 // {_BLOCK_DIV}) = (b.w0 // {_BLOCK_DIV}) AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.w0, b.w0)) + bit_count(xor(a.w1, b.w1)) <= {HAMMING_MAX}
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate detection (X2): 64-bit signature from token
    digests (per-bit ±1 votes over all tokens); candidate pairs generated by
    equality on the top 8 signature bits (an LSH block — equi-join, never
    O(n²)), verified by Hamming distance ≤ {HAMMING_MAX}. Single-probe, so a
    pair whose differing bits land in the top byte is missed — see
    ``dedup_simhash_multiprobe`` for the complete-recall form.

    Scale note (round-9): the block key space is FIXED (256 values), so
    occupancy grows linearly with the corpus and candidate pairs
    quadratically — M=100 measured 43.0 s with 19 M verified pairs OUT
    (~2.3 µs/pair: output-bound, the candidates are mostly true matches at
    this fixture density). The 100 TB lever is a wider block (more bits),
    which here only narrows recall it never promised (single-probe is
    already lossy); the multiprobe sibling documents why ITS occupancy
    cannot be capped."""
    cat = Catalog(spark, sf_dir)
    sig = simhash_signatures(cat.documents.select("doc_id", "text"))
    a, b = sig.alias("a"), sig.alias("b")
    hamming = (
        F.bit_count(F.expr("a.w0 ^ b.w0")) + F.bit_count(F.expr("a.w1 ^ b.w1"))
    ).cast("int")
    return (
        a.join(
            b,
            (F.expr(f"a.w0 DIV {_BLOCK_DIV}") == F.expr(f"b.w0 DIV {_BLOCK_DIV}"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .where(F.col("hamming") <= HAMMING_MAX)
    )


def _probe_pairs(sig: DataFrame, probes, block) -> DataFrame:
    """Verified (doc_a, doc_b, hamming) pairs from the fused multiprobe join
    over a ``simhash_signatures`` table: one equi-join per probe on the
    computed block key, with the Hamming bound and first-probe-wins (no
    earlier probe's block collides) as residual predicates inside the
    join's codegen loop — no candidate row materializes, no DISTINCT, each
    qualifying pair is emitted by exactly one probe.

    ``probes`` lists ``(w, k)``: block ``k`` of signature word ``w``;
    ``block(col, k)`` extracts it from a word column (``a0``, ``b1``...)."""
    sa = sig.select(
        F.col("doc_id").alias("doc_a"), F.col("w0").alias("a0"), F.col("w1").alias("a1")
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"), F.col("w0").alias("b0"), F.col("w1").alias("b1")
    )

    def collide(w: int, k: int) -> Column:
        return block(f"a{w}", k) == block(f"b{w}", k)

    hamming = (
        F.bit_count(F.expr("a0 ^ b0")) + F.bit_count(F.expr("a1 ^ b1"))
    ).cast("int")
    out = None
    for i, (w, k) in enumerate(probes):
        cond = (
            collide(w, k)
            & (F.col("doc_a") < F.col("doc_b"))
            & (hamming <= F.lit(HAMMING_MAX))
        )
        for w2, k2 in probes[:i]:  # first-probe-wins dedup
            cond = cond & ~collide(w2, k2)
        pairs = sa.join(sb, cond).select(
            "doc_a", "doc_b", hamming.alias("hamming")
        )
        out = pairs if out is None else out.unionByName(pairs)
    return out


@query(
    "dedup_simhash_multiprobe",
    oracle=f"""
    WITH {_SIG_CTES_SQL}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.w0, b.w0)) + bit_count(xor(a.w1, b.w1)) AS INT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.w0, b.w0)) + bit_count(xor(a.w1, b.w1)) <= {HAMMING_MAX}
    """,
)
def dedup_simhash_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-index SimHash join (X2 — the complete-recall production form,
    Manku et al.'s web-dedup construction): probe ALL 8 disjoint byte-blocks
    of the 64-bit signature with one equi-join each. Pigeonhole guarantees
    completeness — {HAMMING_MAX} differing bits cannot touch all 8 blocks,
    so every pair within the Hamming radius collides on at least one probe.
    The oracle is therefore the brute-force all-pairs Hamming join: this
    blocked plan must reproduce it EXACTLY, and the equality is the
    completeness proof run as a test. Each probe stays an equi-join
    (O(n · block-occupancy), never O(n²)); candidates are deduped across
    probes before the single verification pass.

    Scale note (round-9 density audit, REWORKED round-10): each probe's
    key space is FIXED (256 values per 8-bit block), so block occupancy —
    and with it the candidate volume — grows linearly with the corpus and
    the enumerated pair count quadratically, the same class as the
    round-9 join_range_binned / ngram-posting finds. The r1-r9 plan
    MATERIALIZED that volume: 8 probe joins emitted candidate pair ROWS
    into a union + distinct, then re-joined the signatures twice to
    verify — at M=100 that is ~3.9 G pair rows shuffled three times, and
    the first-ever reading (this round's risk sweep) found the query GC-
    thrashing past 17 minutes, effectively dead. The fused form never
    materializes a candidate: each probe joins the signature table to
    itself on the computed block key WITH the Hamming verification AND a
    first-probe-wins predicate (pair emitted at probe k only if no probe
    j < k collides — well-defined because both full signatures are on the
    join row) as residual conditions, so the C(L,2) enumeration happens
    streaming inside whole-stage codegen and only TRUE pairs ever leave
    the join; cross-probe dedup is exact with NO distinct. M=100:
    dead → 264.6 s for 43.15 M verified pairs (complete recall finds
    2.3× the lossy single-probe's 19 M; ~6 µs per output pair with all
    8 probes' enumeration included — output-bound, the same class as
    the sibling's 43.0 s for 19 M).
    Capping occupancy would break the pigeonhole completeness this query
    exists to prove; the production levers at 100 TB remain wider blocks
    (16-bit → 65 536 keys) or content pre-partitioning — both change the
    recall contract and belong to a separate query if needed."""
    cat = Catalog(spark, sf_dir)
    sig = simhash_signatures(cat.documents.select("doc_id", "text"))

    def block(word: str, k: int) -> Column:
        # Byte k (0 = most significant) of a 32-bit word.
        return F.shiftright(F.col(word), 24 - 8 * k).bitwiseAND(F.lit(255))

    return _probe_pairs(sig, [(w, k) for w in (0, 1) for k in range(4)], block)


_WIDE_BLOCK_BITS = 16
_WIDE_MASK = 2**_WIDE_BLOCK_BITS - 1  # 65535


@query(
    "dedup_simhash_multiprobe_wide",
    oracle=f"""
    WITH {_SIG_CTES_SQL}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.w0, b.w0)) + bit_count(xor(a.w1, b.w1)) AS INT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.w0, b.w0)) + bit_count(xor(a.w1, b.w1)) <= {HAMMING_MAX}
      AND ((a.w0 // {_WIDE_MASK + 1}) = (b.w0 // {_WIDE_MASK + 1})
        OR (a.w0 % {_WIDE_MASK + 1}) = (b.w0 % {_WIDE_MASK + 1})
        OR (a.w1 // {_WIDE_MASK + 1}) = (b.w1 // {_WIDE_MASK + 1})
        OR (a.w1 % {_WIDE_MASK + 1}) = (b.w1 % {_WIDE_MASK + 1}))
    """,
)
def dedup_simhash_multiprobe_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB production contract of ``dedup_simhash_multiprobe``
    (VERDICT r10 item 3a): FOUR 16-bit probe blocks instead of eight 8-bit
    ones. Each probe's key space is 65 536 values — 256× the 8-bit form's —
    so block occupancy (and with it per-probe candidate volume, the
    quantity that grows quadratically on a fixed key space) collapses by
    the same factor at any corpus size. The price is the recall contract:
    with only 4 blocks, {HAMMING_MAX} differing bits CAN touch every block
    (pigeonhole needs > {HAMMING_MAX} blocks for a completeness guarantee),
    so a near-dup pair is found iff at least one 16-bit block matches
    exactly. The oracle states exactly that contract — the brute-force
    Hamming join restricted to pairs sharing a block — so the green hash
    proves the plan implements its own documented recall, not full recall
    (sf0.01: 61 of the 78 brute-force pairs; the miss rate is the knob's
    cost, visible and measured, never silent).

    Same fused shape as the sibling: each probe is one equi-join on the
    computed block key with the Hamming bound and first-probe-wins
    earlier-block-inequality as residual predicates inside the join's
    codegen loop — no candidate row materializes, no DISTINCT, each
    qualifying pair emitted by exactly one probe."""
    cat = Catalog(spark, sf_dir)
    sig = simhash_signatures(cat.documents.select("doc_id", "text"))

    def block(word: str, k: int) -> Column:
        # 16-bit half k (0 = most significant) of a 32-bit word.
        return F.shiftright(F.col(word), _WIDE_BLOCK_BITS - _WIDE_BLOCK_BITS * k).bitwiseAND(
            F.lit(_WIDE_MASK)
        )

    return _probe_pairs(sig, [(w, k) for w in (0, 1) for k in (0, 1)], block)


# ---------------------------------------------------------------------------
# N-gram Jaccard near-dup (blocked)
# ---------------------------------------------------------------------------

#: Loud upper bound on a (source, shingle) posting list in the EXACT
#: inverted-index jaccard. A posting of length L emits C(L,2) intersection
#: rows, so one boilerplate shingle shared by 100 k docs would emit 5e9
#: pairs from a single group — at that density the exact all-pairs query is
#: the wrong tool (use dedup_ngram_prefix's PPJoin prefix filter, or a
#: df-cutoff mirrored in the oracle) and silently grinding through it would
#: mask the problem. Fixture/generated max occupancy is 81 (M=100 census,
#: SCALE.md round-9) — ~1200× headroom; this guard trips only on data whose
#: shape breaks the query's own contract.
_NGRAM_POSTING_GUARD = 100_000


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, source, {_SHINGLES_SQL} AS shingles FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
             / len(list_distinct(list_concat(a.shingles, b.shingles))) AS jaccard
    FROM sh a JOIN sh b
      ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
             / len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.4
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard near-dup (X2) with blocking on `source`: pairs are
    only formed within a block (equi-join key), then verified exactly. The
    blocking key is what keeps this linear-ish at scale — swap in the LSH
    band key from dedup_minhash for content-based blocking.

    Plan (reworked by the round-9 M=100 refresh, SCALE.md): ONE
    (source, shingle)-keyed shuffle collects each posting's sorted doc bag
    and the C(L,2) ordered pairs explode MAP-SIDE as packed longs — the
    shared ``bag_pair_counts`` (operators/blocking.py) that
    graph_jaccard_sim's wedges also use. The logically-equivalent
    explode-self-join additionally shuffles the 21 M-row posting table a
    second time and ships two-column pair structs through the count
    aggregation. Measured NEUTRAL at M=100 on the word-salad fixtures
    (best-of 154.8 s vs the old shape's 149.5 s, single-run noise ±50 s):
    the wall is the 464 M-row pair-count aggregation both shapes pay —
    inherent to the exact semantics. Kept anyway: 8-byte pair keys through
    the engine's biggest dedup shuffle, one less exchange, and loud
    id-space/posting-density guards are the right 100 TB shape even where
    uniform fixtures can't show a local win (the dedup_incremental
    precedent, SCALE.md round-5)."""
    cat = Catalog(spark, sf_dir)
    sh = persist(
        cat.documents.select(
            "doc_id", "source", _shingles(F.col("text")).alias("shingles")
        )
    )  # read 2× below (sizes + the posting build); without the
    # persist each read re-runs the zip_with shingling — profiled 1.9× slower
    # at sf0.1
    # Inverted-index formulation: |A∩B| by counting per-pair postings-list
    # collisions; |A∪B| = |A|+|B|-|A∩B|. No shingle ARRAY ever crosses a
    # shuffle and pairs sharing zero shingles are never materialized — the
    # shape that survives 100 TB (the shuffle key is (source, shingle),
    # standard posting-list skew handling applies).
    sizes = sh.select("doc_id", F.size("shingles").alias("n_sh"))
    ex = sh.select("doc_id", "source", F.explode("shingles").alias("s"))
    # The pair key packs doc_a·2³² + doc_b into ONE signed long: enforce
    # the id-space assumption loudly, once per bag, and refuse posting
    # lists whose C(L,2) fan-out says the exact query is being pointed at
    # df-cutoff-shaped data.
    guard = F.assert_true(
        F.size("ds") <= _NGRAM_POSTING_GUARD,
        F.lit(
            "dedup_ngram_jaccard: a (source, shingle) posting exceeds"
            f" {_NGRAM_POSTING_GUARD} docs — C(L,2) pair fan-out is"
            " quadratic; use dedup_ngram_prefix or add a df-cutoff"
        ),
    )
    posting = (
        ex.groupBy("source", "s")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .filter(F.size("ds") >= 2)
        .filter(packable("ds", "dedup_ngram_jaccard: doc_id").isNull())
        .filter(guard.isNull())
    )
    # doc_a < doc_b by construction (sorted distinct bag) — matches the
    # oracle's a.doc_id < b.doc_id orientation; _shingles is distinct per
    # doc, so each pair is counted once per SHARED shingle = |A∩B| exactly.
    common = bag_pair_counts(posting, "ds", "doc_a", "doc_b", "inter")
    return (
        common.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "nb"), "doc_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")),
        )
        .where(F.col("jaccard") >= 0.4)
        .select("doc_a", "doc_b", "jaccard")
    )


#: Corpus-scaled document-frequency cutoff for the production-contract
#: jaccard variant: cutoff = max(NGRAM_DF_CUTOFF_MIN,
#: n_docs DIV NGRAM_DF_CUTOFF_DIV). An ABSOLUTE cutoff has no stable
#: meaning across scales — the r11 M=100 study found that at 500 k
#: word-salad docs the vocabulary saturates (median shingle df 43, max
#: 81) and the absolute-2 draft pruned the planted near-dup signal to
#: zero rows, while the 20 k-doc slice still matched the exact query.
#: The divisor is tuned the way production knobs are, from the measured
#: df distribution: at M=100 it yields cutoff 40, below which sit 99.8%
#: of the exact query's pairs (1374/1377 planted near-dups share at
#: least one sub-cutoff shingle) while the C(L,2) posting fan-out
#: collapses 464 M -> 108 M (4.3x). At the driver fixtures (500 docs,
#: max df 4) the floor of 2 applies and the prune is still exercised.
NGRAM_DF_CUTOFF_MIN = 2
NGRAM_DF_CUTOFF_DIV = 12_500

#: Minimum FILTERED-representation size for a document to be judged at
#: all. Without it, two docs sharing one rare shingle out of two-element
#: filtered sets score jaccard 0.5 — a false positive class the fixture
#: showed immediately (26 spurious pairs at sf0.01). Production dedup
#: applies the same floor ("too little signal to judge"); mirrored in
#: the oracle, so the floor is part of the verified contract.
NGRAM_DFCUT_MIN_SIGNAL = 5


@query(
    "dedup_ngram_jaccard_dfcut",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, source, {_SHINGLES_SQL} AS shingles FROM documents
    ), ex AS (
        SELECT doc_id, source, unnest(shingles) AS s FROM sh
    ), rare AS (
        SELECT source, s FROM ex GROUP BY source, s
        HAVING COUNT(*) BETWEEN 2 AND GREATEST(
            {NGRAM_DF_CUTOFF_MIN},
            (SELECT COUNT(*) FROM documents) // {NGRAM_DF_CUTOFF_DIV})
    ), rex AS (
        SELECT ex.doc_id, ex.source, ex.s FROM ex JOIN rare USING (source, s)
    ), nsz AS (
        SELECT doc_id, COUNT(*) AS n FROM rex GROUP BY doc_id
        HAVING COUNT(*) >= {NGRAM_DFCUT_MIN_SIGNAL}
    ), inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
        FROM rex a JOIN rex b
          ON a.source = b.source AND a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(i AS DOUBLE) / (na.n + nb.n - i) AS jaccard
    FROM inter
    JOIN nsz na ON na.doc_id = doc_a
    JOIN nsz nb ON nb.doc_id = doc_b
    WHERE CAST(i AS DOUBLE) / (na.n + nb.n - i) >= 0.4
    """,
)
def dedup_ngram_jaccard_dfcut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The df-cutoff production contract of ``dedup_ngram_jaccard``
    (VERDICT r10 item 3b — the knob the base query's posting guard tells
    skewed corpora to use, previously prose at the guard's docstring).
    Semantics are the C4/Gopher-style FILTERED REPRESENTATION: shingles
    above the corpus-scaled df cutoff are dropped from every document's
    set (boilerplate carries no identity, like stopwords in retrieval),
    documents with fewer than {NGRAM_DFCUT_MIN_SIGNAL} surviving shingles
    are excluded (too little signal to judge — the floor that kills the
    tiny-set false-positive class), and jaccard is computed EXACTLY over
    the filtered sets. The oracle states precisely this contract — same
    GREATEST-over-COUNT(*) cutoff, same floor — so the green hash proves
    the documented semantics at every scale.

    Why not generate candidates from rare postings and verify with the
    FULL-set jaccard? That shape materializes a DISTINCT over ~10⁸
    candidate pairs and then pays an array-intersect per candidate — the
    same candidate-materialization class the r10 risk sweep found dead in
    dedup_simhash_multiprobe (this round's first draft of THIS query hit
    it at M=100). The filtered form keeps the base query's provably
    scalable shape instead: ONE (source, shingle)-keyed posting shuffle,
    map-side C(L,2) packed-long pair explode bounded by C(cutoff, 2) per
    posting, one count aggregation, two size joins. No candidate row
    materializes; no array ever crosses a shuffle.

    Plan notes: the corpus count rides in as a broadcast 1-row aggregate
    (never a driver collect); sub-floor docs are cheapest removed AFTER
    pair counting (an eligible pair's intersection count is unaffected by
    sub-floor docs, so the inner join with the floored size table drops
    exactly the pairs touching them); packed-long id-space bounds
    enforced loudly as in the base query."""
    cat = Catalog(spark, sf_dir)
    sh = cat.documents.select(
        "doc_id", "source", _shingles(F.col("text")).alias("shingles")
    )
    ndocs = cat.documents.agg(F.count("*").alias("n_docs"))
    cutoff = F.greatest(
        F.lit(NGRAM_DF_CUTOFF_MIN),
        F.expr(f"n_docs DIV {NGRAM_DF_CUTOFF_DIV}"),
    )
    ex = sh.select("doc_id", "source", F.explode("shingles").alias("s"))
    posting = (
        ex.groupBy("source", "s")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        # The cutoff: df-1 postings emit no pairs, df > cutoff postings
        # are boilerplate by contract. Fan-out per surviving posting is at
        # most C(cutoff, 2), the cutoff a slow linear function of corpus
        # size — never of per-shingle skew.
        .crossJoin(F.broadcast(ndocs))
        .filter((F.size("ds") >= 2) & (F.size("ds") <= cutoff))
        .filter(packable("ds", "dedup_ngram_jaccard_dfcut: doc_id").isNull())
    )
    # r12: eager cut (was a lazy persist) — the pair explode and the
    # per-doc size rollup materialize concurrently and raced to compute
    # the uncached posting table (measured 7.99 → 3.14 s min-of-3 at
    # sf0.1, interleaved sweep 3.23 → 2.08 s).
    posting = checkpoint_truncate(posting)
    # Per-doc filtered-representation sizes, with the signal floor.
    nsz = (
        posting.select(F.explode("ds").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= NGRAM_DFCUT_MIN_SIGNAL)
    )
    inter = bag_pair_counts(posting, "ds", "doc_a", "doc_b", "i")
    na = nsz.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    nb = nsz.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return (
        inter.join(na, "doc_a")  # inner joins apply the floor to both ends
        .join(nb, "doc_b")
        .withColumn(
            "jaccard", F.col("i") / (F.col("na") + F.col("nb") - F.col("i"))
        )
        .where(F.col("jaccard") >= 0.4)
        .select("doc_a", "doc_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# N-gram Jaccard via positional prefix filtering (PPJoin-style, exact)
# ---------------------------------------------------------------------------

JACCARD_T = 0.4


@query(
    "dedup_ngram_prefix",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, source, {_SHINGLES_SQL} AS shingles FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
             / len(list_distinct(list_concat(a.shingles, b.shingles))) AS jaccard
    FROM sh a JOIN sh b
      ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
             / len(list_distinct(list_concat(a.shingles, b.shingles))) >= {JACCARD_T}
    """,
)
def dedup_ngram_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram Jaccard near-dup via positional prefix filtering (X2 — the
    skew-proof exact form). Same semantics and oracle as
    ``dedup_ngram_jaccard``; only the candidate generation changes:

    Each doc's shingles are ordered by a global (document-frequency ASC,
    shingle) total order, and the posting join runs ONLY over each doc's
    first ``n - ceil(t*n) + 1`` shingles. The prefix-filtering lemma
    (Chaudhuri/Xiao, PPJoin) guarantees any pair with Jaccard >= t shares a
    prefix shingle under a consistent global order, so no pair is lost —
    provably lossless, contract-tested for equality with the plain
    inverted-index query.

    Why it scales where the plain posting join doesn't: a shingle shared by
    L docs costs L² candidate rows. Ordering by ascending df puts hot
    shingles LAST, so they fall outside almost every doc's prefix and the
    join runs on rare-shingle posting lists — the structural answer to
    hot-shingle skew, instead of salting around it."""
    cat = Catalog(spark, sf_dir)
    sh = persist(
        cat.documents.select(
            "doc_id", "source", _shingles(F.col("text")).alias("shingles")
        )
    )  # feeds postings, prefix build, and the verification join
    ex = sh.select("doc_id", "source", F.explode("shingles").alias("s"))
    # Global order key: document frequency within the block (shingles are
    # distinct per doc, so count(*) counts documents), ties by shingle text.
    df_tab = ex.groupBy("source", "s").agg(F.count("*").alias("df"))
    ranked = (
        ex.join(df_tab, ["source", "s"])
        .groupBy("doc_id", "source")
        .agg(
            F.array_sort(F.collect_list(F.struct("df", "s"))).alias("ordered"),
            F.count("*").alias("n"),
        )
    )
    prefix_len = (
        F.col("n") - F.ceil(F.col("n") * F.lit(JACCARD_T)) + F.lit(1)
    ).cast("int")
    pref = ranked.select(
        "doc_id",
        "source",
        F.explode(
            F.transform(
                F.slice(F.col("ordered"), F.lit(1), prefix_len), lambda x: x["s"]
            )
        ).alias("s"),
    )
    a, b = pref.alias("a"), pref.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()  # a pair may share several prefix shingles
    )
    # Exact verification on the (small) candidate set — array intersection
    # over the full shingle lists, same integer ratio as the oracle.
    return (
        cand.join(
            sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sa")),
            "doc_a",
        )
        .join(
            sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sb")),
            "doc_b",
        )
        .select("doc_a", "doc_b", _jaccard("sa", "sb").alias("jaccard"))
        .where(F.col("jaccard") >= JACCARD_T)
    )


# ---------------------------------------------------------------------------
# Exact-substring span dedup (duplicated-span fraction)
# ---------------------------------------------------------------------------

def _spans(text: Column) -> Column:
    """POSITIONAL word 3-gram spans — `_shingles` without the distinct, so a
    span repeated inside one document counts once per position (the unit the
    duplicated-text fraction is defined over)."""
    toks = F.split(text, " ")
    n2 = F.greatest(F.size(toks) - 2, F.lit(0))
    pairs = F.zip_with(
        F.slice(toks, 1, n2), F.slice(toks, 2, n2),
        lambda x, y: F.concat_ws(" ", x, y),
    )
    return F.zip_with(
        pairs, F.slice(toks, 3, n2), lambda xy, z: F.concat_ws(" ", xy, z)
    )


_SPANS_SQL = """
    list_transform(
        generate_series(1, greatest(len(string_split(text, ' ')) - 2, 0)),
        i -> string_split(text, ' ')[i] || ' ' ||
             string_split(text, ' ')[i + 1] || ' ' ||
             string_split(text, ' ')[i + 2])
"""


@query(
    "span_dedup",
    oracle=f"""
    WITH sp AS (
        SELECT doc_id, unnest({_SPANS_SQL}) AS span FROM documents
    ), nd AS (
        SELECT span, COUNT(DISTINCT doc_id) AS ndocs FROM sp GROUP BY span
    )
    SELECT sp.doc_id,
           COUNT(*) AS n_spans,
           CAST(SUM(CASE WHEN nd.ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS dup_spans,
           CAST(SUM(CASE WHEN nd.ndocs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
               / COUNT(*) AS dup_frac
    FROM sp JOIN nd ON nd.span = sp.span
    GROUP BY sp.doc_id
    """,
)
def span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication profile (north-star dedup op): for every
    document, the fraction of its positional word 3-gram spans that also
    occur in at least one OTHER document — the distributed approximation of
    suffix-array exact-substring dedup (Lee et al., "Deduplicating Training
    Data Makes Language Models Better"): corpora are filtered on this
    fraction rather than whole-document hashes, catching boilerplate and
    quoted blocks whole-doc dedup misses.

    Plan: explode positional spans once, ONE partial-aggregated groupBy on
    the span key for the document-frequency table, join it back on the same
    key (co-partitioned — AQE reuses the exchange), then a per-doc
    conditional sum. dup_frac is one BIGINT/BIGINT→DOUBLE division, so the
    value hash is engine-stable. Documents shorter than 3 tokens have no
    spans and no row — stated contract.

    Scale: both shuffles hash on the span string; the DF table is huge but
    never collected — at 100 TB add a frequency cutoff (spans seen once can
    be dropped map-side via a bloom filter built from a first pass) and
    hash spans to 64-bit before the shuffle to cut key width."""
    cat = Catalog(spark, sf_dir)
    sp = cat.documents.select(
        "doc_id", F.explode(_spans(F.col("text"))).alias("span")
    )
    nd = sp.groupBy("span").agg(F.count_distinct("doc_id").alias("ndocs"))
    dup = F.sum(F.when(F.col("ndocs") >= 2, 1).otherwise(0)).cast("long")
    return (
        sp.join(nd, "span")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans"),
            dup.alias("dup_spans"),
            (dup.cast("double") / F.count("*")).alias("dup_frac"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental dedup: new batch vs an existing corpus index
# ---------------------------------------------------------------------------

@query(
    "dedup_incremental",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM documents
    ), sig AS (
        SELECT doc_id, shingles, {_MINHASH_SIG_SQL} FROM sh
    ), newb AS (
        SELECT * FROM sig WHERE doc_id % 4 = 0
    ), seen AS (
        SELECT * FROM sig WHERE doc_id % 4 <> 0
    ), cand AS (
        SELECT n.doc_id AS new_id, s.doc_id AS seen_id,
               n.shingles AS sh_n, s.shingles AS sh_s
        FROM newb n JOIN seen s ON n.mh0 = s.mh0 AND n.mh1 = s.mh1
        UNION
        SELECT n.doc_id AS new_id, s.doc_id AS seen_id,
               n.shingles AS sh_n, s.shingles AS sh_s
        FROM newb n JOIN seen s ON n.mh2 = s.mh2 AND n.mh3 = s.mh3
    ), hits AS (
        SELECT new_id, COUNT(*) AS n_dup_matches
        FROM cand
        WHERE CAST(len(list_intersect(sh_n, sh_s)) AS DOUBLE)
                 / len(list_distinct(list_concat(sh_n, sh_s))) >= 0.5
        GROUP BY new_id
    )
    SELECT n.doc_id,
           COALESCE(h.n_dup_matches, 0) AS n_dup_matches,
           COALESCE(h.n_dup_matches, 0) = 0 AS keep
    FROM newb n LEFT JOIN hits h ON h.new_id = n.doc_id
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus dedup (north-star at 100 TB): dedup a NEW ingest
    batch against the ALREADY-CURATED corpus without rescanning corpus×corpus
    — the shape every rolling pretraining-data build runs per snapshot. The
    seen side's banded minhash signatures are the persistent index (here
    recomputed from the fixture; in production a bucketed table written once
    per snapshot); the new batch (doc_id % 4 = 0, a deterministic ~25%
    stand-in for an arrival partition) probes ONLY band-bucket collisions —
    two equi-joins of size O(new × bucket occupancy), never O(new × corpus).
    Candidates union-distinct across bands, exact Jaccard ≥ 0.5 verifies, and
    every new doc reports its match count with ``keep`` = no near-dup seen.

    Same b=2×r=2 banding as `dedup_minhash_banded`; left join keeps
    unmatched new docs (the common case) without a second scan."""
    cat = Catalog(spark, sf_dir)
    sig = persist(minhash_signatures(cat.documents))
    # Band joins and the pair-dedup ship IDS + band keys only — the shingle
    # arrays (the wide payload, ~100 tokens/doc) attach AFTERWARDS, to just
    # the deduped candidate pairs. At M=100 the arrays are ~50× the id
    # columns, and shipping them through two band joins plus the distinct
    # was the dominant shuffle volume; candidates are ~corpus-dup-density
    # sparse, so two narrow re-attachment joins are far cheaper.
    slim = sig.select("doc_id", *[f"mh{k}" for k in range(N_MINHASHES)])
    newb = slim.where(F.col("doc_id") % 4 == 0)
    seen = slim.where(F.col("doc_id") % 4 != 0)
    cand = None
    for cols in _MINHASH_BANDS:
        n, s = newb.alias("n"), seen.alias("s")
        cond = (F.col(f"n.{cols[0]}") == F.col(f"s.{cols[0]}")) & (
            F.col(f"n.{cols[1]}") == F.col(f"s.{cols[1]}")
        )
        pairs = n.join(s, cond).select(
            F.col("n.doc_id").alias("new_id"),
            F.col("s.doc_id").alias("seen_id"),
        )
        cand = pairs if cand is None else cand.unionByName(pairs)
    sh = sig.select("doc_id", "shingles")
    enriched = (
        cand.dropDuplicates(["new_id", "seen_id"])
        .join(
            sh.select(
                F.col("doc_id").alias("new_id"), F.col("shingles").alias("sh_n")
            ),
            "new_id",
        )
        .join(
            sh.select(
                F.col("doc_id").alias("seen_id"),
                F.col("shingles").alias("sh_s"),
            ),
            "seen_id",
        )
    )
    hits = (
        enriched.where(_jaccard("sh_n", "sh_s") >= 0.5)
        .groupBy("new_id")
        .agg(F.count("*").alias("n_dup_matches"))
    )
    newb_ids = sig.where(F.col("doc_id") % 4 == 0).select("doc_id")
    return (
        newb_ids.join(hits, newb_ids.doc_id == hits.new_id, "left")
        .select(
            "doc_id",
            F.coalesce("n_dup_matches", F.lit(0)).alias("n_dup_matches"),
            (F.coalesce("n_dup_matches", F.lit(0)) == 0).alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# Chunk-level (line-level) dedup with text reassembly
# ---------------------------------------------------------------------------


@query(
    "dedup_lines",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ), chunks AS (
        SELECT doc_id, CAST(i AS BIGINT) AS chunk_no,
               array_to_string(ts[(i-1)*8+1:i*8], ' ') AS chunk
        FROM toks, unnest(range(1, CAST(ceil(len(ts) / 8.0) AS BIGINT) + 1)) AS t(i)
    ), counted AS (
        SELECT doc_id, chunk_no, chunk,
               COUNT(*) OVER (PARTITION BY md5(chunk)) AS corpus_cnt
        FROM chunks
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN corpus_cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dropped,
           COALESCE(STRING_AGG(CASE WHEN corpus_cnt = 1 THEN chunk END, ' '
                               ORDER BY chunk_no), '') AS clean_text
    FROM counted
    GROUP BY doc_id
    """,
)
def dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document (line/chunk-level) dedup with reassembly — the
    RefinedWeb/CCNet pattern that exact- and minhash-dedup (whole-document
    granularity) cannot express: boilerplate repeated ACROSS documents is
    cut OUT of every document, and the surviving chunks are stitched back
    in original order. The fixture corpus has no newlines, so "lines" are
    fixed 8-token windows (the same determinism contract either way).

    Reference parity: the reference keeps whole rows keyed by item id
    (dagster_project/pipeline.py:85-108) and has no sub-record dedup; this
    is one of the engine-side training-data extensions (brief: dedup
    family) rather than a ported behavior.

    Shape for 100 TB: tokenize once (projection), posexplode to
    (doc, chunk_no, chunk) — linear, no joins; ONE shuffle to count chunk
    frequency (window partitioned by md5(chunk), so the exchange key is a
    fixed 128-bit hash, never the chunk text); ONE shuffle back to the doc
    to reassemble (groupBy doc_id, order restored by array_sort on
    chunk_no). Nothing is quadratic and no driver-side state exists; the
    frequency window is the same plan as a groupBy+join but with one fewer
    scan of the exploded table. Docs that lose every chunk stay in the
    output with clean_text = '' (audit trail, not a silent drop).
    """
    W_TOK = 8
    cat = Catalog(spark, sf_dir)
    toks = cat.documents.select("doc_id", F.split(F.col("text"), " ").alias("ts"))
    chunked = toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(
                    F.lit(1), F.ceil(F.size(F.col("ts")) / F.lit(W_TOK)).cast("long")
                ),
                lambda i: F.array_join(
                    F.slice(
                        F.col("ts"),
                        ((i - F.lit(1)) * F.lit(W_TOK) + F.lit(1)).cast("int"),
                        W_TOK,
                    ),
                    " ",
                ),
            )
        ).alias("pos", "chunk"),
    ).select("doc_id", (F.col("pos") + 1).cast("long").alias("chunk_no"), "chunk")
    counted = chunked.withColumn(
        "corpus_cnt",
        F.count(F.lit(1)).over(Window.partitionBy(F.md5(F.col("chunk")))),
    )
    return counted.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.sum(F.when(F.col("corpus_cnt") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_dropped"),
        F.coalesce(
            F.array_join(
                F.transform(
                    F.filter(
                        F.array_sort(
                            F.collect_list(
                                F.struct(
                                    F.col("chunk_no").alias("chunk_no"),
                                    F.when(
                                        F.col("corpus_cnt") == 1, F.col("chunk")
                                    ).alias("chunk"),
                                )
                            )
                        ),
                        lambda x: x["chunk"].isNotNull(),
                    ),
                    lambda x: x["chunk"],
                ),
                " ",
            ),
            F.lit(""),
        ).alias("clean_text"),
    )


# ---------------------------------------------------------------------------
# Threshold calibration sweep over the verified pair table
# ---------------------------------------------------------------------------

_SWEEP_THRESHOLDS = (0.5, 0.6, 0.7, 0.8, 0.9)


def _threshold_sweep_oracle() -> str:
    from .registry import ORACLE

    pairs_sql = ORACLE["dedup_minhash_banded"].strip()
    thr_rows = ", ".join(f"({t})" for t in _SWEEP_THRESHOLDS)
    return f"""
    WITH pairs AS ({pairs_sql}),
    thr(threshold) AS (VALUES {thr_rows}),
    hits AS (
        SELECT t.threshold, p.doc_a, p.doc_b
        FROM pairs p CROSS JOIN thr t
        WHERE p.jaccard >= t.threshold
    )
    SELECT threshold,
           CAST(COUNT(*) AS BIGINT)                AS n_pairs,
           CAST(COUNT(DISTINCT doc_b) AS BIGINT)   AS n_dropped_greedy
    FROM hits GROUP BY threshold
    """


@query("dedup_threshold_sweep", oracle=_threshold_sweep_oracle())
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup threshold CALIBRATION — the sweep every pipeline runs before
    committing to a similarity cutoff: how many pairs survive, and how many
    documents would the greedy keep-lowest-id policy drop, at each
    candidate Jaccard threshold? One pass over the verified pair table
    (pairs are generated ONCE by the banded-minhash equi-joins; the sweep
    is a broadcast cross join against the 5-row threshold list + one
    rollup), not one dedup run per threshold — the difference between an
    afternoon and a re-scan-per-candidate at corpus scale. The thresholds
    compare against the same double Jaccard both engines derive from
    identical integer set sizes, so the filter is bit-identical."""
    cat = Catalog(spark, sf_dir)
    pairs = banded_minhash_pairs(cat.documents.select("doc_id", "text"))
    thr = pairs.sparkSession.createDataFrame(
        [(t,) for t in _SWEEP_THRESHOLDS], "threshold double"
    )
    hits = pairs.crossJoin(F.broadcast(thr)).where(
        F.col("jaccard") >= F.col("threshold")
    )
    return hits.groupBy("threshold").agg(
        F.count("*").alias("n_pairs"),
        F.countDistinct("doc_b").alias("n_dropped_greedy"),
    )
