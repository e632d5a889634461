"""Embedding similarity search over the embeddings table (SURVEY.md §2.11 X1).

Four tiers, by scale:

- ``similarity_topk``    — exact brute-force cosine top-k for a bounded query
                           set: crossJoin(queries × corpus) where the query
                           side is tiny and broadcast. Exact baseline.
- ``similarity_ann_lsh`` — multi-band sign-random-projection LSH: vectors
                           hash to N_BANDS independent sign-pattern buckets;
                           candidates are the union of per-band equi-join
                           collisions (OR-amplification — same recall lever
                           as MinHash banding), then exact-rescored. The
                           band joins keep candidate generation
                           O(n · bucket_occupancy · bands), never O(n·m).
- ``similarity_ann_ivf`` — inverted-file ANN: corpus partitioned into
                           coarse-quantizer cells, queries probe their
                           nearest nprobe cells, members exact-rescored.
                           The probed fraction nprobe/K bounds the scanned
                           corpus share — the partition-pruning analogue
                           for vector search.
- ``dedup_embedding``    — cosine near-duplicate pairs from the same banded
                           candidates (threshold instead of top-k) —
                           embedding-space near-dedup for training data.

Recall/cost tunes via (N_BANDS, BAND_BITS): more bands → higher recall,
more candidates. With 4×4 on this corpus (cos(NN) ≈ 0.45 ⇒ per-bit
agreement p ≈ 0.66) expected top-5 recall is 1-(1-p⁴)⁴ ≈ 0.55 — measured in
tests/test_operators.py. ``similarity_ann_hyperplane`` is the production
variant — seeded random (Rademacher) hyperplanes at 8 bands, correctness
carried by its oracle-backed measured-recall contract; axis planes keep
``similarity_ann_lsh``'s oracle dialect-portable.

Dot products fold left-to-right over the array in both engines (Spark
``aggregate`` / DuckDB ``list_reduce``), so the double cosine is
bit-identical and safe to hash-compare.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import Catalog
from ..operators.blocking import capped_blocking_join, capped_pair_sql
from ..operators.clustering import (
    _dot,
    _dot_s,
    _norm,
    _norm_s,
    cell_means,
    cell_scores,
    nearest_cell,
    seed_centroids,
    update_centroids,
)
from ..session import checkpoint_truncate, persist
from .registry import ORACLE, query

N_QUERIES = 20  # bounded probe set
TOP_K = 5
N_BANDS = 4
BAND_BITS = 4
EMB_DIM = 64


def _to_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def _cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


#: Per-element template for norms taken straight off the embeddings scan —
#: identical values to ``_norm(_to_double(embedding))`` (cast each element
#: to double, multiply, left-fold) without materializing the double array.
_RAW_E = "CAST(embedding[{i}] AS DOUBLE)"


def _vectors(cat: Catalog) -> DataFrame:
    """The embeddings as the k-means ``base`` frame (vec_id, e, n): the
    double array and its norm, taken straight off the scan."""
    return cat.embeddings.select(
        "vec_id",
        _to_double(F.col("embedding")).alias("e"),
        _norm_s(_RAW_E, EMB_DIM).alias("n"),
    )


def _side(emb: DataFrame, id_name: str, p: str) -> DataFrame:
    """One side of a cosine join off the embeddings scan:
    (``id_name``, ``{p}e``, ``{p}n``) — the double array and its norm."""
    return emb.select(
        F.col("vec_id").alias(id_name),
        _to_double(F.col("embedding")).alias(f"{p}e"),
        _norm_s(_RAW_E, EMB_DIM).alias(f"{p}n"),
    )


def _cosine_qc() -> Column:
    """The cosine of the joined ``qe``/``ce`` arrays from their norms
    ``qn``/``cn``, precomputed per side (not per candidate pair): the same
    doubles as ``_cosine``, with ~3× less array work in the pairwise
    stage."""
    return _dot(F.col("qe"), F.col("ce")) / (F.col("qn") * F.col("cn"))


def _top_k(scored: DataFrame, k: int = TOP_K) -> DataFrame:
    """The ``k`` nearest neighbours per query of a (query_id, neighbor_id,
    cosine) frame, ranked by cosine descending with ties to the lower
    ``neighbor_id``: (query_id, neighbor_id, cosine, rank). The per-query
    row_number keeps only k rows per partition past the window."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


# DuckDB twins (expressions over DOUBLE[] columns {x}, {y}).
def _dot_sql(x: str, y: str) -> str:
    return (
        f"list_reduce(list_transform(generate_series(1, len({x})), "
        f"i -> {x}[i] * {y}[i]), (a, b) -> a + b)"
    )


def _norm_sql(x: str) -> str:
    return f"sqrt({_dot_sql(x, x)})"


def _cos_sql(x: str, y: str) -> str:
    return f"{_dot_sql(x, y)} / ({_norm_sql(x)} * {_norm_sql(y)})"


@query(
    "similarity_topk",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
        FROM embeddings WHERE vec_id < {N_QUERIES}
    ), c AS (
        SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS ce
        FROM embeddings
    ), scored AS (
        SELECT query_id, neighbor_id, {_cos_sql('qe', 'ce')} AS cosine
        FROM q JOIN c ON query_id <> neighbor_id
    )
    SELECT query_id, neighbor_id, cosine, rank
    FROM (
        SELECT query_id, neighbor_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rank
        FROM scored
    )
    WHERE rank <= {TOP_K}
    """,
)
def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-k (X1 baseline): a bounded query set is
    broadcast against the corpus, scored JVM-side with higher-order array
    functions, and ranked per query."""
    emb = Catalog(spark, sf_dir).embeddings
    q = _side(emb.where(F.col("vec_id") < N_QUERIES), "query_id", "q")
    c = _side(emb, "neighbor_id", "c")
    return _top_k(
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", _cosine_qc().alias("cosine"))
    )


def _band_bucket(arr_double: Column, band: int) -> Column:
    """Sign pattern of dims [band·BAND_BITS, (band+1)·BAND_BITS) as an int."""
    bucket = F.lit(0)
    for i in range(BAND_BITS):
        dim = band * BAND_BITS + i + 1  # 1-based element_at
        bucket = bucket + F.when(
            F.element_at(arr_double, dim) > 0, F.lit(2**i)
        ).otherwise(F.lit(0))
    return bucket.cast("int")


def _band_bucket_raw(band: int) -> Column:
    """``_band_bucket`` taken straight off the embeddings scan column (r12,
    the ``_dot_s`` placement rule): passing the ``_to_double`` transform
    Column inlined one full 64-element transform copy per bit reference —
    16 interpreted array builds per row across 4 bands, each consulted for
    ONE element. Identical values: ``CAST(embedding[j] AS DOUBLE) > 0`` is
    exactly ``e[j] > 0`` on the cast array (the per-element cast is the
    same op), and a NULL element falls to the 0 branch in both forms."""
    terms = " + ".join(
        f"(CASE WHEN CAST(embedding[{band * BAND_BITS + i}] AS DOUBLE) > 0"
        f" THEN {2 ** i} ELSE 0 END)"
        for i in range(BAND_BITS)
    )
    return F.expr(f"CAST({terms} AS INT)")


def _band_sql(band: int) -> str:
    return " + ".join(
        f"CASE WHEN e[{band * BAND_BITS + i + 1}] > 0 THEN {2**i} ELSE 0 END"
        for i in range(BAND_BITS)
    )


def _band_candidates(probes: DataFrame, corpus: DataFrame, bands) -> DataFrame:
    """Distinct (query_id, neighbor_id) pairs that collide on any of the
    ``bands`` columns: one broadcast equi-join of the probe set per band,
    unioned and deduped (OR-amplification). Both frames carry ``vec_id``
    and the band columns; the probe side is bounded, so each join is
    linear in the corpus."""
    cand = None
    for b in bands:
        piece = (
            F.broadcast(
                probes.select(F.col("vec_id").alias("query_id"), F.col(b).alias(f"q{b}"))
            )
            .join(
                corpus.select(F.col("vec_id").alias("neighbor_id"), b),
                (F.col(f"q{b}") == F.col(b))
                & (F.col("query_id") != F.col("neighbor_id")),
            )
            .select("query_id", "neighbor_id")
        )
        cand = piece if cand is None else cand.union(piece)
    return cand.distinct()


_BASE_SQL = f"""
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
               {", ".join(f"CAST({_band_sql(b)} AS INT) AS b{b}" for b in range(N_BANDS))}
        FROM embeddings
"""

_CAND_UNION_SQL = "\n        UNION\n".join(
    f"""        SELECT q.query_id, c.vec_id AS neighbor_id
        FROM q JOIN base c ON q.b{b} = c.b{b} AND q.query_id <> c.vec_id"""
    for b in range(N_BANDS)
)

#: Bucket-occupancy cap for the PAIR-generating (bucket self-join) path:
#: a band bucket holding k vectors emits k(k−1)/2 candidate pairs, and with
#: FIXED 4-bit buckets occupancy grows linearly with the corpus — so pair
#: volume grows QUADRATICALLY. Measured: at M=100 (200 k vectors) the
#: largest bucket holds 38 806 vectors → ~7.5e8 pairs from ONE bucket and
#: the uncapped query never finishes on this host. A bucket that dense
#: carries no similarity signal (19% of the corpus sharing a 4-bit sign
#: pattern); dropping it is the standard LSH blocking lever (FAISS caps
#: probe lists the same way). 2048 is ~14× the max fixture occupancy
#: (≤150 at sf0.1), so every shipped fixture's results are bit-identical;
#: the query-probe ANN paths (query × bucket, linear) need no cap.
PAIR_BUCKET_CAP = 2048

#: The ONLY pair-union oracle fragment (r5 superseded the uncapped form —
#: it was quadratic in bucket occupancy). Round-6: generated by the shared
#: ``operators/blocking.py`` fragment builder so the engine's broadcast
#: occupancy filter and the oracle's HAVING census stay mirrored by
#: construction.
_PAIR_UNION_CAPPED_SQL = "\n        UNION\n".join(
    capped_pair_sql(
        "base", [f"b{b}"], "vec_id", PAIR_BUCKET_CAP, "vec_a", "vec_b"
    )
    for b in range(N_BANDS)
)


@query(
    "similarity_ann_lsh",
    oracle=f"""
    WITH base AS ({_BASE_SQL}),
    q AS (
        SELECT vec_id AS query_id, e AS qe,
               {", ".join(f"b{b}" for b in range(N_BANDS))}
        FROM base WHERE vec_id < {N_QUERIES}
    ), cand AS (
{_CAND_UNION_SQL}
    ), scored AS (
        SELECT cand.query_id, cand.neighbor_id,
               {_cos_sql('q.qe', 'c.e')} AS cosine
        FROM cand
        JOIN q ON q.query_id = cand.query_id
        JOIN base c ON c.vec_id = cand.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine, rank
    FROM (
        SELECT query_id, neighbor_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rank
        FROM scored
    )
    WHERE rank <= {TOP_K}
    """,
)
def similarity_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via multi-band sign-LSH (X1 scale path): candidate
    pairs come from equi-joins on each band bucket, unioned and deduped
    (OR-amplification), then exact-rescored and ranked. Work is
    O(n · occupancy · bands) — swap in more/wider bands as the
    recall/latency dial."""
    cat = Catalog(spark, sf_dir)
    e = _to_double(F.col("embedding"))
    # Persisted: base IS the LSH index (vectors + band buckets + norms) and
    # every probe reads it — the query cut, each band's candidate join and
    # the re-rank. Uncached, the bucket/norm projection over the full
    # embedding table re-computed per band (~10 passes at 4 bands); the
    # build-once/probe-many split is the point of an ANN index.
    # r12: eager cut (was a lazy persist) — the four band-join legs and
    # both rescore legs materialize concurrently and raced to fill it.
    base = checkpoint_truncate(
        cat.embeddings.select(
            "vec_id",
            e.alias("e"),
            *[_band_bucket_raw(b).alias(f"b{b}") for b in range(N_BANDS)],
            _norm_s(_RAW_E, EMB_DIM).alias("n"),
        )
    )
    probes = base.where(F.col("vec_id") < N_QUERIES)
    cand = _band_candidates(probes, base, [f"b{b}" for b in range(N_BANDS)])
    q = probes.select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe"), F.col("n").alias("qn")
    )
    return _top_k(
        cand.join(F.broadcast(q), "query_id")
        .join(
            base.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("e").alias("ce"),
                F.col("n").alias("cn"),
            ),
            "neighbor_id",
        )
        .select("query_id", "neighbor_id", _cosine_qc().alias("cosine"))
    )


@query("similarity_ann_mllib")
def similarity_ann_mllib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib BucketedRandomProjectionLSH variant of the ANN path (X1): the
    library implementation of the same idea (random-hyperplane bucketing,
    approxSimilarityJoin on Euclidean distance over normalized vectors ≈
    cosine ranking). Seeded for determinism, but hash functions are
    JVM-internal → rows-only check; the custom SQL-portable variant
    (similarity_ann_lsh) carries the oracle."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH, Normalizer
    from pyspark.ml.functions import array_to_vector

    cat = Catalog(spark, sf_dir)
    vecs = cat.embeddings.select(
        "vec_id", array_to_vector(_to_double(F.col("embedding"))).alias("raw")
    )
    vecs = Normalizer(inputCol="raw", outputCol="features", p=2.0).transform(vecs)
    lsh = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes", bucketLength=0.5, numHashTables=4, seed=42
    )
    model = lsh.fit(vecs)
    q = vecs.where(F.col("vec_id") < N_QUERIES)
    # On unit vectors: cosine = 1 - dist²/2, so ranking by distance ranks
    # by cosine.
    joined = model.approxSimilarityJoin(q, vecs, 2.0, distCol="dist").select(
        F.col("datasetA.vec_id").alias("query_id"),
        F.col("datasetB.vec_id").alias("neighbor_id"),
        (1 - F.col("dist") * F.col("dist") / 2).alias("cosine"),
    ).where(F.col("query_id") != F.col("neighbor_id"))
    return _top_k(joined)


@query(
    "similarity_ann_mllib_recall",
    oracle=f"""
    SELECT vec_id AS query_id,
           CAST({TOP_K} AS BIGINT) AS n_exact,
           TRUE AS recall_ok
    FROM embeddings WHERE vec_id < {N_QUERIES}
    """,
)
def similarity_ann_mllib_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked companion to ``similarity_ann_mllib`` (the VERDICT r7
    item-4 pattern applied to the last MLlib rows-only query): the LSH
    bucket hashes are JVM-internal, but the index's QUALITY CONTRACT is
    deterministic under the pinned seed — per query, the approx top-k must
    recover ≥ 50% of the exact brute-force top-k (measured: min 0.8, mean
    0.94-0.98 across both fixture SFs, so the bound has 1.6× margin). The
    oracle asserts n_exact = TOP_K and recall_ok = TRUE per probe — a
    bucketing regression that tanks recall hash-mismatches loudly."""
    ann = similarity_ann_mllib(spark, sf_dir).select("query_id", "neighbor_id")
    exact = similarity_topk(spark, sf_dir).select("query_id", "neighbor_id")
    n_exact = exact.groupBy("query_id").agg(F.count("*").alias("n_exact"))
    n_hit = (
        ann.join(exact, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hit"))
    )
    return (
        n_exact.join(n_hit, "query_id", "left")
        .na.fill(0, ["n_hit"])
        .select(
            "query_id",
            "n_exact",
            (F.col("n_hit") >= F.col("n_exact") * 0.5).alias("recall_ok"),
        )
    )


# --- Seeded random-hyperplane sign-LSH (the production variant) ------------
#
# ``similarity_ann_lsh`` uses AXIS-ALIGNED planes (bit j = sign of dim j) so
# its oracle stays dialect-portable; the module docstring has always named
# seeded random hyperplanes as the production form (VERDICT r11 item 7).
# This is that form: each band bit is the sign of ⟨e, w⟩ against a ±1
# Rademacher hyperplane derived from md5("hp:band:bit:dim") — a pure
# function with no RNG state, reproducible across reruns, partitionings and
# languages, exactly like the seeded-md5 samplers. Full-dim planes use ALL
# coordinates per bit (axis planes read BAND_BITS·N_BANDS = 16 of 64 dims),
# which is what makes sign-LSH robust to energy concentrating in a few
# dimensions. The hashes are not practically SQL-expressible (16 bits ×
# 64-term folds), so the ANN query itself is rows-only and its measured
# recall CONTRACT is the oracle-hashed companion — the
# ``agg_approx_distinct_bound`` pattern (r8).

HP_DIMS = 64   # embeddings fixture dimensionality (catalog schema)
HP_BANDS = 8   # more OR-amplification than the 4-band axis tier: full-dim
               # planes cost one fold per bit wherever axis planes read one
               # element, so the production tier spends its budget on
               # recall — 1−(1−p⁴)⁸ ≈ 0.78 at p ≈ 0.65 vs 0.55 for 4 bands

# NEGATIVE RESULT, recorded (r12 M=100 study, SCALE.md): a probe-side
# bucket-occupancy cap (the PAIR_BUCKET_CAP / FAISS probe-list move) was
# tried at 4096 (22× the ≤188 fixture occupancy, so fixtures bit-identical)
# and REVERTED — at M=100 it collapsed recall 0.68 → 0.06, because on
# clustered data the dense buckets are exactly where the true neighbors
# live (a 4-bit band has only 16 sign patterns; the majority pattern holds
# 33% of a 200 k corpus by construction, probes included). The correct
# scale knob for multiband sign-LSH is re-tuning (BAND_BITS, HP_BANDS)
# with corpus size — bits ∝ log n to hold occupancy, bands ∝ p^-bits to
# hold recall — the same re-tuning the IVF tier does via K ∝ √n cells.
# Also measured: at a BOUNDED probe count the exact broadcast scan is
# already cheaper than any probe pass (5.8 s vs 16-24 s at M=100 for 20
# probes); the LSH tiers earn their keep at many-probe / all-pairs
# workloads, where candidate volume per probe is what (bits, bands) tune.


def _hp_plane(band: int, bit: int) -> Column:
    """The ±1 hyperplane for (band, bit) as a literal double array."""
    import hashlib as _hl

    return F.array(
        *[
            F.lit(
                1.0
                if int(
                    _hl.md5(f"hp:{band}:{bit}:{d}".encode()).hexdigest()[0], 16
                )
                % 2
                == 0
                else -1.0
            )
            for d in range(HP_DIMS)
        ]
    )


def _hp_bucket(e: Column, band: int) -> Column:
    """Sign pattern of BAND_BITS seeded-hyperplane projections as an int —
    the REFERENCE form (one sequential fold per bit). ``hp_index_frame``
    computes the same signs with one fused fold; this form is kept as the
    spec and the equivalence witness (r12 A/B harness compared them
    element-identical at sf0.01)."""
    bucket = F.lit(0)
    for j in range(BAND_BITS):
        bucket = bucket + F.when(
            _dot(e, _hp_plane(band, j)) > 0, F.lit(2**j)
        ).otherwise(F.lit(0))
    return bucket.cast("int")


def hp_index_frame(emb: DataFrame) -> DataFrame:
    """The persisted FORM of the hyperplane index: (vec_id, hb0..hbN, n) —
    band buckets + norm only, never the raw vectors. This is the FAISS
    convention (persist codes, not payloads): the index stays tiny
    (ints + one double per vector), band candidate joins ship 8-byte ids
    instead of 64-double arrays, and the rescore joins the embeddings
    table back by vec_id for the exact vectors. Consumed inline (with a
    lineage cut) by ``similarity_ann_hyperplane``.

    r12 optimization (guide §4.2 — hand whole Arrow batches to vectorized
    native code): the 32 per-(band,bit) projections and the norm are ONE
    Arrow-batched pandas UDF running a 64-step NumPy accumulation. Two
    JVM expression forms were built and measured first, and both lost to
    driver-side ANALYSIS, not execution — PySpark re-analyzes the plan at
    every DataFrame transformation, and a higher-order-function tree big
    enough to express 32 projections is re-resolved each time:

    - 32 independent ``aggregate(zip_with(e, plane))`` folds: ~2.7 s of
      construction+execution for the index alone at sf0.1;
    - ONE fused fold carrying a 32-sum accumulator array (nested lambdas
      + a 2048-double Literal): execution got faster, but constructing
      the consuming query still cost 2.6-15 s of pure analysis per bench
      pass (measured by timing construct and execute separately), putting
      similarity_ann_hyperplane at 18.3 s in the committed r12 bench run.

    The pandas UDF is a SINGLE small plan node: construction is
    milliseconds, and 2 000 rows × 64 dims × 32 planes is ~4 M flops of
    NumPy per batch. Bit-identical to the reference ``_hp_bucket`` form by
    construction: the accumulation visits d = 0..63 in the same sequential
    order with the same ``acc + e[d] * (±1.0)`` step starting from 0.0
    (IEEE ±1.0 products are exact, NumPy float64 ops are the same IEEE
    ops), and ``sqrt`` is correctly rounded in both runtimes — verified
    element-identical (buckets AND norms) against the per-bit fold spec in
    tests/test_operators.py. Assumes non-null embeddings (the catalog
    fixture's contract; the equivalence test runs on the real fixture)."""
    import hashlib as _hl

    n_codes = HP_BANDS * BAND_BITS
    # W[d, band*BAND_BITS + bit]: the same md5-derived ±1 planes as
    # _hp_plane, band-major — shipped to workers once in the UDF closure.
    W = np.asarray(
        [
            [
                1.0
                if int(_hl.md5(f"hp:{b}:{j}:{d}".encode()).hexdigest()[0], 16) % 2
                == 0
                else -1.0
                for b in range(HP_BANDS)
                for j in range(BAND_BITS)
            ]
            for d in range(HP_DIMS)
        ]
    )
    pow2 = np.asarray([float(2**j) for j in range(BAND_BITS)])

    @F.pandas_udf("array<double>")
    def hp_codes(embs: pd.Series) -> pd.Series:
        E = np.asarray(embs.to_list(), dtype=np.float64)
        if E.shape[0] == 0:
            return pd.Series([], dtype=object)
        sums = np.zeros((E.shape[0], n_codes))
        sq = np.zeros(E.shape[0])
        for d in range(HP_DIMS):  # sequential d-order == the fold's order
            x = E[:, d]
            sums = sums + x[:, None] * W[d]
            sq = sq + x * x
        bits = (sums > 0.0).reshape(-1, HP_BANDS, BAND_BITS)
        buckets = (bits * pow2).sum(axis=2)  # exact small ints in double
        out = np.concatenate([buckets, np.sqrt(sq)[:, None]], axis=1)
        return pd.Series(list(out))

    coded = emb.select("vec_id", hp_codes(F.col("embedding")).alias("c"))
    return coded.select(
        "vec_id",
        *[
            F.element_at(F.col("c"), b + 1).cast("int").alias(f"hb{b}")
            for b in range(HP_BANDS)
        ],
        F.element_at(F.col("c"), HP_BANDS + 1).alias("n"),
    )


@query("similarity_ann_hyperplane")
def similarity_ann_hyperplane(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via seeded random-hyperplane sign-LSH — the
    production variant of ``similarity_ann_lsh`` (same OR-amplified band
    equi-joins, same exact rescore; only the hash family differs).

    The index form (buckets + norms, ``hp_index_frame``) is the FAISS
    convention — codes only, never raw vectors: the band joins ship 8-byte
    ids + ints, and the exact rescore joins the embeddings table back by
    vec_id. The index is computed INLINE from the embeddings parquet
    inside this query's own plan and eagerly lineage-cut for the one
    plan's 9 references (qb + 8 band joins + the rescore norms) — eager,
    not a lazy persist, because the 8 band joins' broadcast stages
    materialize CONCURRENTLY and a lazy cache lets several of them race
    to compute the index before any block is published (measured at
    sf0.1: exec 1.2-3.8 s lazy vs a steady 0.9 s eager). Correctness is
    carried by the oracle-backed recall contract
    ``similarity_ann_hyperplane_recall``, which wraps this query."""
    cat = Catalog(spark, sf_dir)
    index = checkpoint_truncate(hp_index_frame(cat.embeddings))
    vecs = cat.embeddings.select(
        "vec_id", _to_double(F.col("embedding")).alias("e")
    )
    # Probe cut touches ONLY the index (ints): the band joins must
    # not re-derive an embeddings join per band — the query-side vectors
    # enter exactly once, in the broadcast rescore payload below.
    qb = index.where(F.col("vec_id") < N_QUERIES)
    cand = _band_candidates(qb, index, [f"hb{b}" for b in range(HP_BANDS)])
    # Rescore: query vectors+norms as one bounded broadcast; corpus
    # vectors+norms as ONE payload join (vecs ⋈ index on vec_id — the
    # id-keyed payload lookup), so the candidate set crosses exactly one
    # shuffle join instead of two.
    q_pay = (
        qb.select(F.col("vec_id").alias("query_id"), F.col("n").alias("qn"))
        .join(
            vecs.select(F.col("vec_id").alias("query_id"), F.col("e").alias("qe")),
            "query_id",
        )
    )
    payload = vecs.select(
        F.col("vec_id").alias("neighbor_id"), F.col("e").alias("ce")
    ).join(
        index.select(F.col("vec_id").alias("neighbor_id"), F.col("n").alias("cn")),
        "neighbor_id",
    )
    return _top_k(
        cand.join(F.broadcast(q_pay), "query_id")
        .join(payload, "neighbor_id")
        .select("query_id", "neighbor_id", _cosine_qc().alias("cosine"))
    )


@query(
    "similarity_ann_hyperplane_recall",
    oracle=f"""
    SELECT vec_id AS query_id,
           CAST({TOP_K} AS BIGINT) AS n_exact,
           TRUE AS recall_ok
    FROM embeddings WHERE vec_id < {N_QUERIES}
    """,
)
def similarity_ann_hyperplane_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked recall contract for the seeded-hyperplane ANN tier:
    the hash family is JVM-folded (not SQL-expressible), but its QUALITY
    contract is deterministic under the md5-derived planes — per probe, the
    approx top-k must recover ≥ 20% of the exact brute-force top-k
    (measured at 8 bands: per-query min 0.4, mean 0.68-0.72 at sf0.001 AND
    sf0.01, so the floor has 2× margin; theory: per-bit agreement
    p = 1 − θ/π ≈ 0.65 at the corpus's cos(NN) ≈ 0.45 gives expected
    recall 1−(1−p⁴)⁸ ≈ 0.78). A bucketing regression hash-mismatches
    loudly."""
    ann = similarity_ann_hyperplane(spark, sf_dir).select("query_id", "neighbor_id")
    exact = similarity_topk(spark, sf_dir).select("query_id", "neighbor_id")
    n_exact = exact.groupBy("query_id").agg(F.count("*").alias("n_exact"))
    n_hit = (
        ann.join(exact, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hit"))
    )
    return (
        n_exact.join(n_hit, "query_id", "left")
        .na.fill(0, ["n_hit"])
        .select(
            "query_id",
            "n_exact",
            (F.col("n_hit") >= F.col("n_exact") * 0.2).alias("recall_ok"),
        )
    )


N_CENTROIDS = 16  # IVF coarse-quantizer cells
N_PROBE = 4       # cells probed per query


_IVF_ASSIGN_SQL = f"""
        SELECT vec_id, cid AS cell FROM (
            SELECT b.vec_id, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY b.vec_id
                                      ORDER BY {_cos_sql('b.e', 'c.ce')} DESC,
                                               c.cid) AS rn
            FROM base b CROSS JOIN cent c
        ) WHERE rn = 1
"""


@query(
    "similarity_ann_ivf",
    oracle=f"""
    WITH base AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ), cent AS (
        SELECT vec_id AS cid, e AS ce FROM base WHERE vec_id < {N_CENTROIDS}
    ), assign AS ({_IVF_ASSIGN_SQL}
    ), probes AS (
        SELECT query_id, cid AS cell FROM (
            SELECT q.vec_id AS query_id, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                      ORDER BY {_cos_sql('q.e', 'c.ce')} DESC,
                                               c.cid) AS rn
            FROM base q CROSS JOIN cent c WHERE q.vec_id < {N_QUERIES}
        ) WHERE rn <= {N_PROBE}
    ), scored AS (
        SELECT p.query_id, a.vec_id AS neighbor_id,
               {_cos_sql('qb.e', 'nb.e')} AS cosine
        FROM probes p
        JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.query_id
        JOIN base qb ON qb.vec_id = p.query_id
        JOIN base nb ON nb.vec_id = a.vec_id
    )
    SELECT query_id, neighbor_id, cosine, rank
    FROM (
        SELECT query_id, neighbor_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rank
        FROM scored
    )
    WHERE rank <= {TOP_K}
    """,
)
def similarity_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN (X1 scale path #2): partition the corpus into
    {N_CENTROIDS} cells by nearest coarse centroid, probe each query's best
    {N_PROBE} cells, exact-rescore only those cells' members. Complements the
    LSH path: IVF recall tracks the data's cluster structure instead of
    random hyperplanes, and the probed fraction (nprobe/K) directly bounds
    the scanned corpus share.

    Centroids here are the {N_CENTROIDS} lowest-vec_id corpus vectors — a
    deterministic stand-in for the offline k-means training step (which a
    real deployment runs once, out of band); the serving-side plan is
    identical either way and is the part that must scale:
    - centroids broadcast; cell assignment is a map-side broadcast join
      followed by one partially-aggregated max_by groupBy (n rows cross the
      wire, never n×K);
    - the probe join is an equi-join on cell id, so each query touches only
      its nprobe cells' posting lists — the IVF contract.
    """
    cat = Catalog(spark, sf_dir)
    # r12: eager cut (was a lazy persist) — corpus, centroid set and both
    # rescore sides materialize concurrently and raced to fill it.
    base = checkpoint_truncate(_vectors(cat))
    # Nearest cell per corpus vector (operators/clustering.py); the probes
    # rank the same scores.
    scored_cells = cell_scores(base, seed_centroids(base, N_CENTROIDS))
    assign = nearest_cell(scored_cells)
    # Top-NPROBE cells per query (bounded probe set — window over ≤K rows).
    qw = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("cid"))
    probes = (
        scored_cells.where(F.col("vec_id") < N_QUERIES)
        .withColumnRenamed("vec_id", "query_id")
        .withColumn("rn", F.row_number().over(qw))
        .where(F.col("rn") <= N_PROBE)
        .select("query_id", F.col("cid").alias("cell"))
    )
    # Each corpus vector lives in exactly one cell, so a (query, neighbor)
    # pair can arise from at most one probed cell — no dedup needed.
    scored = (
        F.broadcast(probes)
        .join(assign, "cell")
        .where(F.col("vec_id") != F.col("query_id"))
        .withColumnRenamed("vec_id", "neighbor_id")
        .join(
            F.broadcast(
                base.select(
                    F.col("vec_id").alias("query_id"),
                    F.col("e").alias("qe"),
                    F.col("n").alias("qn"),
                ).where(F.col("query_id") < N_QUERIES)
            ),
            "query_id",
        )
        .join(
            base.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("e").alias("ce"),
                F.col("n").alias("cn"),
            ),
            "neighbor_id",
        )
        .select("query_id", "neighbor_id", _cosine_qc().alias("cosine"))
    )
    return _top_k(scored)


NEAR_DUP_COS = 0.4


@query(
    "dedup_embedding",
    oracle=f"""
    WITH base AS ({_BASE_SQL}),
    pairs AS (
{_PAIR_UNION_CAPPED_SQL}
    ), scored AS (
        SELECT pairs.vec_a, pairs.vec_b, {_cos_sql('a.e', 'b.e')} AS cosine
        FROM pairs
        JOIN base a ON a.vec_id = pairs.vec_a
        JOIN base b ON b.vec_id = pairs.vec_b
    )
    SELECT vec_a, vec_b, cosine
    FROM scored
    WHERE cosine > {NEAR_DUP_COS}
    """,
)
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (X2/X1 hybrid): banded-LSH
    candidate pairs, exact-rescored, thresholded — semantic dedup of
    training data with the same OR-amplified blocking as the ANN path.
    Round-5 scale lever: per-band bucket-occupancy cap
    (``PAIR_BUCKET_CAP``, mirrored exactly in the oracle) — fixed-width
    sign buckets fill linearly with the corpus, so the bucket self-join's
    pair volume grows quadratically; the M=100 study measured one 38 k
    bucket emitting ~7.5e8 pairs and the uncapped query never finishing.
    Every shipped fixture is far below the cap (≤150 occupancy), so test
    results are bit-identical; on real corpora the cap bounds per-bucket
    work the way FAISS caps probe lists."""
    cat = Catalog(spark, sf_dir)
    e = _to_double(F.col("embedding"))
    # r12: eager cut (was a lazy persist) — four band-join legs plus both
    # rescore joins materialize concurrently and raced to fill it.
    base = checkpoint_truncate(
        cat.embeddings.select(
            "vec_id",
            e.alias("e"),
            *[_band_bucket_raw(b).alias(f"b{b}") for b in range(N_BANDS)],
            _norm_s(_RAW_E, EMB_DIM).alias("n"),
        )
    )
    pairs = None
    for b in range(N_BANDS):
        # ≤2^BAND_BITS distinct keys: the occupancy census broadcasts for
        # free (shared capped-blocking operator, operators/blocking.py).
        piece = capped_blocking_join(
            base, [f"b{b}"], "vec_id", PAIR_BUCKET_CAP, "vec_a", "vec_b"
        )
        pairs = piece if pairs is None else pairs.union(piece)
    pairs = pairs.distinct()
    return (
        pairs.join(
            base.select(
                F.col("vec_id").alias("vec_a"),
                F.col("e").alias("ea"),
                F.col("n").alias("na"),
            ),
            "vec_a",
        )
        .join(
            base.select(
                F.col("vec_id").alias("vec_b"),
                F.col("e").alias("eb"),
                F.col("n").alias("nb"),
            ),
            "vec_b",
        )
        .select(
            "vec_a",
            "vec_b",
            (_dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))).alias("cosine"),
        )
        .where(F.col("cosine") > NEAR_DUP_COS)
    )


# ---------------------------------------------------------------------------
# Int8 scalar quantization (storage-side vector compression)
# ---------------------------------------------------------------------------

_Q_SCALE_SQL = "list_max(list_transform(e, x -> abs(x))) / 127"

# Portable round-half-up: floor(x + 0.5) ties-break identically in Spark and
# DuckDB (plain round() does not — HALF_UP vs banker's).
_QUANT_SQL = (
    "CASE WHEN scale = 0 THEN list_transform(e, x -> 0) "
    "ELSE list_transform(e, x -> CAST(floor(x / scale + 0.5) AS INT)) END"
)


def _deq_sql(q: str, scale: str) -> str:
    return f"list_transform({q}, x -> x * {scale})"


@query(
    "embedding_quantize",
    oracle=f"""
    WITH base AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ), scaled AS (
        SELECT vec_id, e, {_Q_SCALE_SQL} AS scale FROM base
    ), quant AS (
        SELECT vec_id, e, scale, {_QUANT_SQL} AS q FROM scaled
    )
    SELECT vec_id, scale,
           array_to_string(q, ',') AS q_str,
           list_max(list_transform(generate_series(1, len(e)),
                    i -> abs(e[i] - q[i] * scale))) AS max_abs_err,
           list_reduce(list_transform(generate_series(1, len(e)),
                    i -> (e[i] - q[i] * scale) * (e[i] - q[i] * scale)),
                    (a, b) -> a + b) / len(e) AS mse
    FROM quant
    """,
)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization (X1 storage path): per-vector
    scale = max|x|/127, q = round-half-up(x/scale) — 4× smaller vectors at
    <1% cosine error, the standard first compression step for a 100 TB
    embedding corpus. Map-only (zero shuffle); emits the quantized codes
    (joined to a string for the hash harness) plus exact reconstruction
    error stats. floor(x+0.5) keeps rounding portable across engines
    (round() tie-breaks differ)."""
    cat = Catalog(spark, sf_dir)
    e = _to_double(F.col("embedding"))
    scaled = cat.embeddings.select("vec_id", e.alias("e")).withColumn(
        "scale", F.array_max(F.transform(F.col("e"), F.abs)) / 127
    )
    quant = scaled.withColumn(
        "q",
        F.when(
            F.col("scale") == 0, F.transform(F.col("e"), lambda x: F.lit(0))
        ).otherwise(
            F.transform(
                F.col("e"),
                lambda x: F.floor(x / F.col("scale") + 0.5).cast("int"),
            )
        ),
    )
    err = F.zip_with(
        F.col("e"),
        F.col("q"),
        lambda x, qv: x - qv.cast("double") * F.col("scale"),
    )
    return quant.select(
        "vec_id",
        "scale",
        F.array_join(F.col("q"), ",").alias("q_str"),
        F.array_max(F.transform(err, F.abs)).alias("max_abs_err"),
        (
            F.aggregate(
                F.transform(err, lambda x: x * x),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            / F.size(F.col("e"))
        ).alias("mse"),
    )


@query(
    "similarity_topk_int8",
    oracle=f"""
    WITH base AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ), scaled AS (
        SELECT vec_id, e, {_Q_SCALE_SQL} AS scale FROM base
    ), deq AS (
        SELECT vec_id, {_deq_sql(_QUANT_SQL, 'scale')} AS d FROM scaled
    ), q AS (
        SELECT vec_id AS query_id, d AS qe FROM deq WHERE vec_id < {N_QUERIES}
    ), c AS (
        SELECT vec_id AS neighbor_id, d AS ce FROM deq
    ), scored AS (
        SELECT query_id, neighbor_id, {_cos_sql('qe', 'ce')} AS cosine
        FROM q JOIN c ON query_id <> neighbor_id
    )
    SELECT query_id, neighbor_id, cosine, rank
    FROM (
        SELECT query_id, neighbor_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rank
        FROM scored
    )
    WHERE rank <= {TOP_K}
    """,
)
def similarity_topk_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k over int8-DEQUANTIZED vectors (X1): the serving-side half
    of ``embedding_quantize`` — scan the 4×-smaller codes, dequantize on the
    fly, rank by cosine. A contract test pins its recall against the fp64
    exact top-k, quantifying the compression/accuracy trade; the oracle
    replays quantize→dequantize→rank bit-exactly."""
    cat = Catalog(spark, sf_dir)
    e = _to_double(F.col("embedding"))
    scaled = cat.embeddings.select("vec_id", e.alias("e")).withColumn(
        "scale", F.array_max(F.transform(F.col("e"), F.abs)) / 127
    )
    deq = scaled.select(
        "vec_id",
        F.when(
            F.col("scale") == 0,
            F.transform(F.col("e"), lambda x: F.lit(0.0)),
        )
        .otherwise(
            F.transform(
                F.col("e"),
                lambda x: F.floor(x / F.col("scale") + 0.5).cast("int").cast("double")
                * F.col("scale"),
            )
        )
        .alias("d"),
    ).withColumn("n", _norm(F.col("d")))
    qs = deq.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("d").alias("qe"),
        F.col("n").alias("qn"),
    )
    cs = deq.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("d").alias("ce"),
        F.col("n").alias("cn"),
    )
    return _top_k(
        F.broadcast(qs)
        .join(cs, F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", _cosine_qc().alias("cosine"))
    )


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup-style cluster-then-prune)
# ---------------------------------------------------------------------------

SEM_CELLS = 32   # coarse clusters; production K scales with n (see docstring)
SEM_TAU = 0.4    # within-cell cosine above which the higher-id doc is pruned

_SEM_ASSIGN_SQL = f"""
        SELECT vec_id, cid AS cell FROM (
            SELECT b.vec_id, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY b.vec_id
                                      ORDER BY {_cos_sql('b.e', 'c.ce')} DESC,
                                               c.cid) AS rn
            FROM base b CROSS JOIN cent c
        ) WHERE rn = 1
"""


@query(
    "dedup_semantic",
    oracle=f"""
    WITH base AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ), cent AS (
        SELECT vec_id AS cid, e AS ce FROM base WHERE vec_id < {SEM_CELLS}
    ), assign AS ({_SEM_ASSIGN_SQL}
    ), dups AS (
        SELECT ab.vec_id AS vec_id, MIN(aa.vec_id) AS rep
        FROM assign aa
        JOIN assign ab ON aa.cell = ab.cell AND aa.vec_id < ab.vec_id
        JOIN base a ON a.vec_id = aa.vec_id
        JOIN base b ON b.vec_id = ab.vec_id
        WHERE {_cos_sql('a.e', 'b.e')} >= {SEM_TAU}
        GROUP BY ab.vec_id
    )
    SELECT s.vec_id, s.cell,
           COALESCE(d.rep, s.vec_id) AS rep_id,
           CAST(CASE WHEN d.rep IS NULL THEN 1 ELSE 0 END AS INT) AS keep
    FROM assign s LEFT JOIN dups d ON d.vec_id = s.vec_id
    """,
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup, cluster-then-prune (X2 scale path; the SemDeDup
    recipe — Abbas et al. 2023, arXiv:2303.09540): assign every embedding to
    its nearest coarse centroid, compare pairs ONLY within a cell, and prune
    any vector that has a lower-id cell-mate with cosine ≥ {SEM_TAU}. Output
    is a total map: (vec_id, cell, rep_id, keep) — ``keep=0`` rows are the
    semantic duplicates a training-data build drops.

    Complements ``dedup_embedding`` (LSH-banded candidate pairs): clustering
    concentrates near-dups into the same cell by construction, so the prune
    is exhaustive within a cell rather than probabilistic across bands.

    Scale shape (the SemDeDup argument):
    - centroids are broadcast; assignment is a map-side broadcast join plus
      one partially-aggregated max_by groupBy — n rows cross the wire once;
    - the pairwise prune is an equi-join on cell id, so candidate pairs are
      Σ_cells occ² — bounded by choosing K ∝ n/target_cell_size (production
      runs k-means offline and scales K with the corpus; {SEM_CELLS}
      deterministic lowest-id centroids stand in for that offline step, as
      in ``similarity_ann_ivf``);
    - dot products stay JVM-side (left-fold ``aggregate``), bit-identical
      to the DuckDB oracle.
    """
    cat = Catalog(spark, sf_dir)
    # r12: examined, converted to an eager cut, then REVERTED to lazy —
    # base and enr are corpus-sized vector frames and the M=100 A/B read
    # eager 15.2 s vs lazy 10.5 s (two blocking ~100 MB materializations
    # vs persist fills that pipeline into the first consumer pass); the
    # sf0.1 eager win (1.85 → 1.38 s) was the small-input race.
    base = persist(_vectors(cat))
    assign = nearest_cell(cell_scores(base, seed_centroids(base, SEM_CELLS)))
    enr = persist(assign.join(base, "vec_id"))  # vec_id, cell, e, n
    lhs = enr.select(
        F.col("vec_id").alias("a_id"), "cell", F.col("e").alias("ae"), F.col("n").alias("an")
    )
    rhs = enr.select(
        F.col("vec_id").alias("b_id"), "cell", F.col("e").alias("be"), F.col("n").alias("bn")
    )
    dups = (
        lhs.join(rhs, "cell")
        .where(F.col("a_id") < F.col("b_id"))
        .where(
            (_dot(F.col("ae"), F.col("be")) / (F.col("an") * F.col("bn"))) >= SEM_TAU
        )
        .groupBy("b_id")
        .agg(F.min("a_id").alias("rep"))
        .withColumnRenamed("b_id", "vec_id")
    )
    return assign.join(dups, "vec_id", "left").select(
        "vec_id",
        "cell",
        F.coalesce(F.col("rep"), F.col("vec_id")).alias("rep_id"),
        F.when(F.col("rep").isNull(), 1).otherwise(0).cast("int").alias("keep"),
    )


# ---------------------------------------------------------------------------
# Cluster centroid update (the k-means / IVF training step)
# ---------------------------------------------------------------------------

CENTROID_DIMS = 4  # output dims value-checked (of 64); the plan covers all


@query(
    "cluster_centroids",
    oracle=f"""
    WITH base AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ), cent AS (
        SELECT vec_id AS cid, e AS ce FROM base WHERE vec_id < {SEM_CELLS}
    ), assign AS ({_SEM_ASSIGN_SQL}
    )
    SELECT a.cell,
           COUNT(*) AS n_members,
           {", ".join(
               f"CAST(SUM(CAST(b.e[{d + 1}] AS DECIMAL(25,12))) AS DOUBLE)"
               f" / COUNT(*) AS c{d}"
               for d in range(4)
           )}
    FROM assign a JOIN base b ON b.vec_id = a.vec_id
    GROUP BY a.cell
    """,
)
def cluster_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster centroid recomputation — the UPDATE half of a k-means / IVF
    training iteration (the ASSIGN half is ``similarity_ann_ivf`` /
    ``dedup_semantic``): per-cell member count and mean embedding.

    The reproducibility problem this solves: a naive double-sum mean is
    order-dependent, so shuffles/retries/AQE re-plans change the result in
    the last ulps — poison for resumable 100 TB corpus builds and for
    cross-engine verification. Accumulating each dimension as DECIMAL(25,12)
    makes the sum EXACT and therefore order-independent: Spark's partial
    aggregation (map-side combine, any partitioning) and DuckDB's
    single-node fold produce the identical decimal, and the final
    decimal→double cast + one IEEE division agree bit-for-bit. The
    double→decimal cast itself cannot tie-break differently across engines:
    a binary fraction's decimal expansion can never terminate in
    ...5000… at the rounding digit (10^-13 is not a binary fraction), so
    both engines round to the same nearest decimal.

    Scale shape: broadcast centroid assign (see dedup_semantic), then ONE
    partially-aggregated groupBy on cell — n rows cross the wire once;
    {CENTROID_DIMS} of 64 dims are value-checked to keep the result
    hashable (the plan is identical for all 64)."""
    cat = Catalog(spark, sf_dir)
    # r12: eager cut (was a lazy persist) — three concurrent legs; M=100
    # kmeans A/B (same base shape, one more leg) read eager≈lazy, so the
    # sf0.1 race win stands (unlike dedup_semantic, which adds a second
    # corpus-sized enr frame and reverted).
    base = checkpoint_truncate(_vectors(cat))
    assign = nearest_cell(cell_scores(base, seed_centroids(base, SEM_CELLS)))
    return (
        assign.join(base.select("vec_id", "e"), "vec_id")
        .groupBy("cell")
        .agg(F.count("*").alias("n_members"), *cell_means(CENTROID_DIMS, "c"))
    )


# ---------------------------------------------------------------------------
# One full Lloyd iteration (assign → update → reassign), value-checked
# ---------------------------------------------------------------------------

_UPD_MEANS_SQL = ", ".join(
    f"CAST(SUM(CAST(b.e[{d + 1}] AS DECIMAL(25,12))) AS DOUBLE) / COUNT(*)"
    for d in range(EMB_DIM)
)


@query(
    "kmeans_refine",
    oracle=f"""
    WITH base AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ), cent AS (
        SELECT vec_id AS cid, e AS ce FROM base WHERE vec_id < {SEM_CELLS}
    ), assign0 AS ({_SEM_ASSIGN_SQL}
    ), upd AS (
        SELECT a.cell AS cid, list_value({_UPD_MEANS_SQL}) AS ce
        FROM assign0 a JOIN base b ON b.vec_id = a.vec_id
        GROUP BY a.cell
    ), assign1 AS (
        SELECT vec_id, cid AS cell FROM (
            SELECT b.vec_id, u.cid,
                   ROW_NUMBER() OVER (PARTITION BY b.vec_id
                                      ORDER BY {_cos_sql('b.e', 'u.ce')} DESC,
                                               u.cid) AS rn
            FROM base b CROSS JOIN upd u
        ) WHERE rn = 1
    )
    SELECT a0.vec_id,
           a0.cell AS cell_seed,
           a1.cell AS cell_refined,
           CAST(a0.cell <> a1.cell AS INT) AS moved
    FROM assign0 a0 JOIN assign1 a1 USING (vec_id)
    """,
)
def kmeans_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full Lloyd (k-means) iteration, value-checked end-to-end: seed
    assignment against the deterministic coarse centroids, decimal-exact
    centroid UPDATE (all {EMB_DIM} dimensions — see ``cluster_centroids``
    for why exact decimal sums make the mean order-independent), then
    REASSIGNMENT against the refined centroids. Output is each vector's
    before/after cell and a moved flag — the convergence signal an
    iterative clustering loop monitors (sum(moved)=0 ⇒ fixpoint).

    This is the iteration a production IVF/SemDeDup deployment runs offline
    to train its coarse quantizer; composed from the same two primitives
    the engine already verifies, it shows the ITERATIVE path itself holds
    exact cross-engine parity — not just single-pass queries. Per round:
    one broadcast assign (map-side), one partially-aggregated groupBy
    (n rows cross the wire once), one broadcast reassign. A multi-round
    loop adds localCheckpoint per round (plans/graph.py pattern)."""
    cat = Catalog(spark, sf_dir)
    # r12: eager cut (was a lazy persist) — both assign passes, the update
    # join and the centroid seed raced to fill it.
    base = checkpoint_truncate(_vectors(cat))
    a0 = checkpoint_truncate(
        nearest_cell(cell_scores(base, seed_centroids(base, SEM_CELLS)))
    )
    upd = update_centroids(a0, base, EMB_DIM)
    a1 = nearest_cell(cell_scores(base, upd))
    return (
        a0.withColumnRenamed("cell", "cell_seed")
        .join(a1.withColumnRenamed("cell", "cell_refined"), "vec_id")
        .select(
            "vec_id",
            "cell_seed",
            "cell_refined",
            (F.col("cell_seed") != F.col("cell_refined")).cast("int").alias("moved"),
        )
    )


# ---------------------------------------------------------------------------
# Text → embeddings → top-k, composed end-to-end
# ---------------------------------------------------------------------------

EMBED_QUERIES = 10  # probe docs for the composed pipeline
EMBED_TOP_K = 3

_EMBED_SQL = f"""
        SELECT doc_id, list_value({", ".join(f"e{i}" for i in range(8))}) AS e
        FROM (
            SELECT doc_id,
                   {", ".join(
                       f"c{i} / sqrt({' + '.join(f'c{j} * c{j}' for j in range(8))})"
                       f" AS e{i}"
                       for i in range(8)
                   )}
            FROM (
                SELECT doc_id,
                       {", ".join(
                           "CAST(SUM(CASE WHEN "
                           "(strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1)"
                           f" % 8 = {i} THEN 1 ELSE 0 END) AS DOUBLE) AS c{i}"
                           for i in range(8)
                       )}
                FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                      FROM documents)
                GROUP BY doc_id
            )
        )
"""


@query(
    "pipeline_embed_topk",
    oracle=f"""
    WITH emb AS ({_EMBED_SQL}
    ), q AS (
        SELECT doc_id AS query_id, e AS qe FROM emb WHERE doc_id < {EMBED_QUERIES}
    ), scored AS (
        SELECT q.query_id, c.doc_id AS neighbor_id,
               {_dot_sql('q.qe', 'c.e')} AS cosine
        FROM q JOIN emb c ON c.doc_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cosine, rank
    FROM (
        SELECT query_id, neighbor_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rank
        FROM scored
    )
    WHERE rank <= {EMBED_TOP_K}
    """,
)
def pipeline_embed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The vector pipeline composed end-to-end: documents → feature-hash
    embeddings (plans/text.py ``embed_feature_hash`` — the producer side) →
    exact cosine top-{EMBED_TOP_K} for {EMBED_QUERIES} probe docs (the
    consumer side). Nothing here touches the fixture embeddings table: the
    engine generates, normalizes, and searches its own vectors in one lazy
    plan, value-checked end-to-end. Vectors are already unit-norm, so
    cosine is the plain dot product — no per-pair norm recompute. Scale
    shape: the embed stage is one explode + partially-aggregated groupBy;
    the probe set is bounded and broadcast, so search is a linear corpus
    scan (the exact-baseline shape of ``similarity_topk``)."""
    from .text import embed_feature_hash

    # r12: eager cut (was a lazy persist) — the broadcast probe leg and
    # the corpus leg raced to fill it.
    emb = checkpoint_truncate(
        embed_feature_hash(spark, sf_dir).select(
            "doc_id", F.array(*[F.col(f"e{i}") for i in range(8)]).alias("e")
        )
    )
    q = emb.where(F.col("doc_id") < EMBED_QUERIES).select(
        F.col("doc_id").alias("query_id"), F.col("e").alias("qe")
    )
    return _top_k(
        F.broadcast(q)
        .join(
            emb.select(F.col("doc_id").alias("neighbor_id"), F.col("e").alias("ce")),
            F.col("query_id") != F.col("neighbor_id"),
        )
        .select("query_id", "neighbor_id", _dot_s("qe", "ce", 8).alias("cosine")),
        EMBED_TOP_K,
    )


# ---------------------------------------------------------------------------
# Product quantization (the FAISS-PQ compression path of the ANN family)
# ---------------------------------------------------------------------------

PQ_M = 8     # subspaces
PQ_DSUB = 8  # dims per subspace (PQ_M * PQ_DSUB = 64)
PQ_K = 16    # centroids per subspace → 4-bit codes, 64 dims → 8 bytes
PQ_SHORTLIST = 100  # ADC candidates exact-reranked per query


def _sub_l2sq_s(e: str, ce: str, s: str) -> Column:
    """Squared L2 between subvectors ``s`` of ``e`` and ``ce`` — the
    sequential left fold over the PQ_DSUB dims unrolled as one static
    codegen-able chain (r12; see ``_dot_s``): identical IEEE operation
    sequence to ``aggregate(sequence(1, PQ_DSUB), 0.0, acc + d*d)``,
    bit-deterministic in both engines. ``s`` is a column name; subscripts
    are 0-based Spark SQL array indexing."""
    terms = " + ".join(
        f"(({e}[{s}*{PQ_DSUB}+{i}] - {ce}[{s}*{PQ_DSUB}+{i}])"
        f" * ({e}[{s}*{PQ_DSUB}+{i}] - {ce}[{s}*{PQ_DSUB}+{i}]))"
        for i in range(PQ_DSUB)
    )
    return F.expr(f"0.0D + {terms}")


@query(
    "similarity_topk_pq",
    oracle=f"""
    WITH raw AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS r FROM embeddings
    ), base AS (
        -- unit-normalize so squared L2 is monotone with cosine:
        -- ||a-b||^2 = 2 - 2*cos(a,b) on the unit sphere
        SELECT vec_id,
               list_transform(r, x -> x / {_norm_sql('r')}) AS e
        FROM raw
    ), cent AS (
        SELECT vec_id AS j, e AS ce FROM base WHERE vec_id < {PQ_K}
    ), pairs AS (
        SELECT b.vec_id, s.s, c.j,
               list_reduce(list_transform(generate_series(1, {PQ_DSUB}),
                   i -> (b.e[s.s * {PQ_DSUB} + i] - c.ce[s.s * {PQ_DSUB} + i])
                        * (b.e[s.s * {PQ_DSUB} + i] - c.ce[s.s * {PQ_DSUB} + i])),
                   (a, x) -> a + x) AS dist
        FROM base b, generate_series(0, {PQ_M - 1}) s(s), cent c
    ), codes AS (
        SELECT vec_id, s, (MIN(struct_pack(d := dist, j := j))).j AS code
        FROM pairs GROUP BY vec_id, s
    ), codearr AS (
        SELECT vec_id, list(code ORDER BY s) AS codes FROM codes GROUP BY vec_id
    ), dt AS (
        SELECT vec_id AS query_id, list(dist ORDER BY s, j) AS dt
        FROM pairs WHERE vec_id < {N_QUERIES} GROUP BY vec_id
    ), scored AS (
        SELECT q.query_id, v.vec_id AS neighbor_id,
               list_reduce(list_transform(generate_series(0, {PQ_M - 1}),
                   s -> q.dt[s * {PQ_K} + v.codes[s + 1] + 1]),
                   (a, x) -> a + x) AS approx_dist
        FROM dt q JOIN codearr v ON q.query_id <> v.vec_id
    ), shortlist AS (
        SELECT query_id, neighbor_id
        FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY approx_dist, neighbor_id) AS arank
            FROM scored
        )
        WHERE arank <= {PQ_SHORTLIST}
    ), reranked AS (
        SELECT s.query_id, s.neighbor_id,
               {_dot_sql('q.e', 'c.e')} AS cosine
        FROM shortlist s
        JOIN base q ON q.vec_id = s.query_id
        JOIN base c ON c.vec_id = s.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine, rank
    FROM (
        SELECT query_id, neighbor_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rank
        FROM reranked
    )
    WHERE rank <= {TOP_K}
    """,
)
def similarity_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized ANN with exact re-ranking (X1, the FAISS-PQ
    two-stage shape): vectors unit-normalize then compress 32× — 64
    floats → {PQ_M} 4-bit codes — queries score every candidate with
    asymmetric distance computation (ADC: one {PQ_M}×{PQ_K} subspace
    lookup table per query, a sequential fold of {PQ_M} lookups per
    candidate — no vector arithmetic touches the corpus), and the ADC
    top-{PQ_SHORTLIST} shortlist is re-ranked with exact cosine (a plain
    dot fold on unit vectors). PQ prunes, exact decides — the standard
    production split; measured recall@5 vs the exact baseline ≈0.85 at
    sf0.01 (contract-tested floor in tests/test_operators.py), bounded
    by the deterministic first-{PQ_K}-vectors codebook; production
    trains per-subspace k-means (operators/clustering.py) offline with
    the identical plan shape.

    Encoding is a broadcast join of corpus × (subspace × centroid) scored
    map-side, argmin'd via MIN(struct(dist, j)) — partial aggregation, so
    n×{PQ_M} rows shuffle, never n×{PQ_M}×{PQ_K}. Every reduction is a
    left fold or a lexicographic MIN: bit-identical in DuckDB, which
    re-derives codebooks, codes, tables, shortlists and re-ranked scores
    from the same parquet and matches the full top-{TOP_K} hash."""
    cat = Catalog(spark, sf_dir)
    # Unit-normalize first: on the unit sphere L2² = 2 − 2·cos, so the PQ
    # ranking targets the same cosine neighbors as the exact baseline.
    # r12: the norm is hoisted out of the per-element lambda — the fold
    # subexpression inside transform() was re-evaluated per element (64×
    # per row, interpreted); the division values are identical. The hoisted
    # (r, nrm) frame is an eager cut so the divide reads leaf columns (the
    # _dot_s placement rule) and the three base consumers (pairs, both
    # rerank sides) stop re-deriving the scan+norm.
    pre = checkpoint_truncate(
        cat.embeddings.select(
            "vec_id",
            _to_double(F.col("embedding")).alias("r"),
            _norm_s(_RAW_E, EMB_DIM).alias("nrm"),
        )
    )
    base = pre.select(
        "vec_id",
        F.expr("transform(r, x -> x / nrm)").alias("e"),
    )
    cent = base.where(F.col("vec_id") < PQ_K).select(
        F.col("vec_id").cast("int").alias("j"), F.col("e").alias("ce")
    )
    subspaces = F.explode(
        F.array(*[F.lit(s) for s in range(PQ_M)])
    ).alias("s")
    pairs = (
        base.select("vec_id", "e", subspaces)
        .join(F.broadcast(cent))
        .select(
            "vec_id",
            "s",
            "j",
            _sub_l2sq_s("e", "ce", "s").alias("dist"),
        )
    )
    # r12: eager cut (was a lazy persist) — the code table and the
    # broadcast ADC tables materialize concurrently and raced to compute
    # the uncached pair table.
    pairs = checkpoint_truncate(pairs)
    codes = (
        pairs.groupBy("vec_id", "s")
        .agg(F.min(F.struct("dist", "j")).alias("m"))
        .select("vec_id", "s", F.col("m.j").alias("code"))
    )
    codearr = codes.groupBy("vec_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("s", "code"))), lambda t: t["code"]
        ).alias("codes")
    )
    dt = (
        pairs.where(F.col("vec_id") < N_QUERIES)
        .groupBy(F.col("vec_id").alias("query_id"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("s", "j", "dist"))),
                lambda t: t["dist"],
            ).alias("dt")
        )
    )

    # ADC: the fold over subspaces unrolled as a static lookup chain (r12,
    # same IEEE sequence as aggregate(sequence(0, PQ_M-1), 0.0, acc +
    # dt[s*PQ_K + codes[s]]); 0-based SQL subscripts).
    adc_chain = F.expr(
        "0.0D + " + " + ".join(f"dt[{s} * {PQ_K} + codes[{s}]]" for s in range(PQ_M))
    )
    scored = (
        codearr.join(F.broadcast(dt), F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            adc_chain.alias("approx_dist"),
        )
    )
    wa = Window.partitionBy("query_id").orderBy("approx_dist", "neighbor_id")
    shortlist = (
        scored.withColumn("arank", F.row_number().over(wa))
        .where(F.col("arank") <= PQ_SHORTLIST)
        .select("query_id", "neighbor_id")
    )
    # Exact re-rank of the shortlist: vectors are unit-norm, so cosine is
    # the plain dot fold. Only SHORTLIST×queries rows touch full vectors.
    q_vec = base.select(F.col("vec_id").alias("query_id"), F.col("e").alias("qe"))
    c_vec = base.select(F.col("vec_id").alias("neighbor_id"), F.col("e").alias("ne"))
    return _top_k(
        shortlist.join(F.broadcast(q_vec), "query_id")
        .join(c_vec, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            _dot_s("qe", "ne", EMB_DIM).alias("cosine"),
        )
    )


# ---------------------------------------------------------------------------
# Hard-negative mining (contrastive training data)
# ---------------------------------------------------------------------------

#: Ranks 1..TOP_K are positives; the next HARD_NEGATIVES ranks are the
#: "hard" negatives — close enough to be confusable, wrong enough to teach.
HARD_NEGATIVES = 5


@query(
    "hard_negative_mining",
    oracle=f"""
    WITH base AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ), q AS (
        SELECT vec_id AS query_id, e AS qe FROM base WHERE vec_id < {N_QUERIES}
    ), scored AS (
        SELECT q.query_id, c.vec_id AS cand_id,
               {_cos_sql('q.qe', 'c.e')} AS cosine
        FROM q JOIN base c ON c.vec_id <> q.query_id
    ), ranked AS (
        SELECT query_id, cand_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, cand_id) AS rank
        FROM scored
    )
    SELECT query_id, cand_id, cosine, rank,
           CASE WHEN rank <= {TOP_K} THEN 'positive'
                ELSE 'hard_negative' END AS label
    FROM ranked
    WHERE rank <= {TOP_K + HARD_NEGATIVES}
    """,
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-pair mining (the training-data op behind every embedding
    model): per anchor, the top-{TOP_K} neighbors become positives and the
    next {HARD_NEGATIVES} ranks become HARD negatives — candidates close
    enough to confuse the model, which train far better than random
    negatives (in-batch negatives are the random baseline; this is the
    ANCE/SimCSE hard-mining shape). One ranking pass labels both classes —
    the same broadcast×corpus scoring as `similarity_topk`, one extra
    window band, no second scan.

    At 100 TB the scoring side swaps to the ANN tiers (LSH/IVF shortlist,
    exact re-rank) exactly as the search path does; mining quality follows
    shortlist recall, measured in tests for those tiers."""
    emb = Catalog(spark, sf_dir).embeddings
    q = _side(emb.where(F.col("vec_id") < N_QUERIES), "query_id", "q")
    c = _side(emb, "cand_id", "c")
    scored = (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("cand_id"))
        .select("query_id", "cand_id", _cosine_qc().alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K + HARD_NEGATIVES)
        .select(
            "query_id",
            "cand_id",
            "cosine",
            "rank",
            F.when(F.col("rank") <= TOP_K, "positive")
            .otherwise("hard_negative")
            .alias("label"),
        )
    )


# ---------------------------------------------------------------------------
# MMR-diversified top-k (retrieval diversification)
# ---------------------------------------------------------------------------

MMR_LAMBDA = 0.7
MMR_SHORTLIST = 10
MMR_PICKS = 3


def _mmr_oracle() -> str:
    lam, om = MMR_LAMBDA, round(1 - MMR_LAMBDA, 2)
    return f"""
    WITH base AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ), q AS (
        SELECT vec_id AS query_id, e AS qe FROM base WHERE vec_id < {N_QUERIES}
    ), ranked AS (
        SELECT query_id, cand_id, ce, cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, cand_id) AS rank
        FROM (
            SELECT q.query_id, c.vec_id AS cand_id, c.e AS ce,
                   {_cos_sql('q.qe', 'c.e')} AS cosine
            FROM q JOIN base c ON c.vec_id <> q.query_id
        )
    ), short AS (
        SELECT * FROM ranked WHERE rank <= {MMR_SHORTLIST}
    ), s1 AS (
        SELECT query_id, cand_id, ce, {lam} * cosine AS mmr_score
        FROM short WHERE rank = 1
    ), r2 AS (
        SELECT c.query_id, c.cand_id, c.ce,
               {lam} * c.cosine - {om} * {_cos_sql('c.ce', 's1.ce')} AS mmr_score,
               ROW_NUMBER() OVER (
                   PARTITION BY c.query_id
                   ORDER BY {lam} * c.cosine
                            - {om} * {_cos_sql('c.ce', 's1.ce')} DESC,
                            c.cand_id) AS pick
        FROM short c JOIN s1 ON s1.query_id = c.query_id
        WHERE c.rank > 1
    ), s2 AS (
        SELECT query_id, cand_id, ce, mmr_score FROM r2 WHERE pick = 1
    ), r3 AS (
        SELECT c.query_id, c.cand_id,
               {lam} * c.cosine
                   - {om} * greatest({_cos_sql('c.ce', 's1.ce')},
                                     {_cos_sql('c.ce', 's2.ce')}) AS mmr_score,
               ROW_NUMBER() OVER (
                   PARTITION BY c.query_id
                   ORDER BY {lam} * c.cosine
                            - {om} * greatest({_cos_sql('c.ce', 's1.ce')},
                                              {_cos_sql('c.ce', 's2.ce')}) DESC,
                            c.cand_id) AS pick
        FROM short c
        JOIN s1 ON s1.query_id = c.query_id
        JOIN s2 ON s2.query_id = c.query_id
        WHERE c.rank > 1 AND c.cand_id <> s2.cand_id
    )
    SELECT query_id, cand_id, mmr_score, 1 AS pick_rank FROM s1
    UNION ALL
    SELECT query_id, cand_id, mmr_score, 2 AS pick_rank FROM s2
    UNION ALL
    SELECT query_id, cand_id, mmr_score, 3 AS pick_rank FROM r3 WHERE pick = 1
    """


@query("similarity_mmr", oracle=_mmr_oracle())
def similarity_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance diversified top-k (the RAG-serving
    diversifier): greedily pick {MMR_PICKS} results per query maximizing
    λ·sim(q,c) − (1−λ)·max_sim(c, already-picked) — relevant AND mutually
    dissimilar, where plain top-k returns near-duplicates of one document.
    Greedy selection is inherently sequential, so the {MMR_PICKS} rounds
    are UNROLLED into one lazy plan (the `graph_pagerank` technique): each
    round is a window argmax over the per-query shortlist joined with the
    prior picks; the shortlist (exact top-{MMR_SHORTLIST}) is persisted
    once and bounds every round's work at queries × {MMR_SHORTLIST}. All
    scoring is the same fixed-order fold arithmetic as the other
    similarity tiers — bit-identical across engines. At 100 TB the
    shortlist comes from the ANN tiers; the MMR rounds never touch the
    corpus again."""
    emb = Catalog(spark, sf_dir).embeddings
    lam, om = MMR_LAMBDA, round(1 - MMR_LAMBDA, 2)
    q = _side(emb.where(F.col("vec_id") < N_QUERIES), "query_id", "q")
    c = _side(emb, "cand_id", "c")
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    short = persist(
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("cand_id"))
        .select("query_id", "cand_id", "ce", _cosine_qc().alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= MMR_SHORTLIST)
    )
    s1 = short.where(F.col("rank") == 1).select(
        "query_id",
        F.col("cand_id").alias("s1_id"),
        F.col("ce").alias("s1e"),
        (F.lit(lam) * F.col("cosine")).alias("s1_score"),
    )
    rest = short.where(F.col("rank") > 1)
    sim_s1 = _dot_s("ce", "s1e", EMB_DIM) / (
        _norm_s("ce", EMB_DIM) * _norm_s("s1e", EMB_DIM)
    )
    r2 = (
        rest.join(s1, "query_id")
        .withColumn("mmr_score", F.lit(lam) * F.col("cosine") - F.lit(om) * sim_s1)
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("mmr_score"), F.asc("cand_id"))
    s2 = (
        r2.withColumn("pick", F.row_number().over(w2))
        .where(F.col("pick") == 1)
        .select(
            "query_id",
            F.col("cand_id").alias("s2_id"),
            F.col("ce").alias("s2e"),
            F.col("mmr_score").alias("s2_score"),
        )
    )
    sim_s2 = _dot_s("ce", "s2e", EMB_DIM) / (
        _norm_s("ce", EMB_DIM) * _norm_s("s2e", EMB_DIM)
    )
    r3 = (
        rest.join(s1.select("query_id", "s1e"), "query_id")
        .join(s2.select("query_id", "s2_id", "s2e"), "query_id")
        .where(F.col("cand_id") != F.col("s2_id"))
        .withColumn(
            "mmr_score",
            F.lit(lam) * F.col("cosine") - F.lit(om) * F.greatest(sim_s1, sim_s2),
        )
        .withColumn("pick", F.row_number().over(w2))
        .where(F.col("pick") == 1)
    )
    out1 = s1.select(
        "query_id",
        F.col("s1_id").alias("cand_id"),
        F.col("s1_score").alias("mmr_score"),
        F.lit(1).alias("pick_rank"),
    )
    out2 = s2.select(
        "query_id",
        F.col("s2_id").alias("cand_id"),
        F.col("s2_score").alias("mmr_score"),
        F.lit(2).alias("pick_rank"),
    )
    out3 = r3.select(
        "query_id", "cand_id", "mmr_score", F.lit(3).alias("pick_rank")
    )
    return out1.unionByName(out2).unionByName(out3)


def _recall_oracle() -> str:
    exact_sql = ORACLE["similarity_topk"].strip()
    approx_sql = ORACLE["similarity_ann_lsh"].strip()
    return f"""
    WITH exact_top AS (
        SELECT query_id, neighbor_id FROM ({exact_sql}) x
    ), approx_top AS (
        SELECT query_id, neighbor_id FROM ({approx_sql}) a
    )
    SELECT e.query_id,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hit,
           CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS recall_ppm
    FROM exact_top e
    LEFT JOIN approx_top a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
    """


@query("ann_recall_eval", oracle=_recall_oracle())
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k evaluation of the LSH ANN tier against the exact scan — the
    "measure, don't guess" closure of the similarity suite: both result
    sets are deterministic, so their per-query overlap is an exact,
    oracle-checkable number (the contract tests pin recall FLOORS; this
    query ships the full per-query report a tuning loop reads before
    touching band geometry). Composes the two registered pipelines
    verbatim — exact top-k and banded-LSH top-k — and left-joins approx
    onto exact per (query, neighbor): misses surface as NULLs, recall in
    integer ppm. Evaluation cost is the two searches plus a k·|queries|
    join — negligible; at 100 TB the exact side runs on a held-out sample,
    same plan."""
    exact = similarity_topk(spark, sf_dir).select("query_id", "neighbor_id")
    approx = (
        similarity_ann_lsh(spark, sf_dir)
        .select("query_id", F.col("neighbor_id").alias("a_neighbor"))
    )
    return (
        exact.join(
            approx,
            (exact["query_id"] == approx["query_id"])
            & (exact["neighbor_id"] == approx["a_neighbor"]),
            "left",
        )
        .select(exact["query_id"].alias("query_id"), "neighbor_id", "a_neighbor")
        .groupBy("query_id")
        .agg(
            F.count("*").alias("n_exact"),
            F.sum(F.when(F.col("a_neighbor").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_hit"),
            F.expr(
                "CAST(SUM(CASE WHEN a_neighbor IS NOT NULL THEN 1 ELSE 0 END)"
                " * 1000000 DIV COUNT(*) AS BIGINT)"
            ).alias("recall_ppm"),
        )
    )


_CSIM_DIMS = 64
# Quantize each dimension with an explicit floor to 1e-9 before summing:
# floor is bit-identical across engines, whereas the DECIMAL cast's
# tie-rounding differs (Spark HALF_UP, DuckDB half-even) and at corpus row
# counts a tie eventually lands on some dimension.
_CSIM_SUM = ", ".join(
    f"(CAST(SUM(CAST(floor(e[{d + 1}] * 1000000000) AS BIGINT)) AS DOUBLE)"
    f" / 1000000000) / COUNT(*) AS c{d}"
    for d in range(_CSIM_DIMS)
)
_CSIM_LIST = "list_value(" + ", ".join(f"c{d}" for d in range(_CSIM_DIMS)) + ")"


@query(
    "centroid_similarity",
    oracle=f"""
    WITH base AS (
        SELECT label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ), cent AS (
        SELECT label, COUNT(*) AS n_members, {_CSIM_SUM}
        FROM base GROUP BY label
    ), vecs AS (
        SELECT label, n_members, {_CSIM_LIST} AS cv FROM cent
    ), withn AS (
        SELECT label, n_members, cv,
               sqrt(list_reduce(list_transform(generate_series(1, {_CSIM_DIMS}),
                    i -> cv[i] * cv[i]), (a, b) -> a + b)) AS nrm
        FROM vecs
    )
    SELECT a.label AS label_a, b.label AS label_b,
           CAST(a.n_members AS BIGINT) AS n_a,
           CAST(b.n_members AS BIGINT) AS n_b,
           list_reduce(list_transform(generate_series(1, {_CSIM_DIMS}),
                i -> a.cv[i] * b.cv[i]), (x, y) -> x + y)
               / (a.nrm * b.nrm) AS cosine
    FROM withn a JOIN withn b ON a.label < b.label
    """,
)
def centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-cluster centroid similarity matrix — the clustering QA
    artifact (merge candidates, confusable classes, embedding-space
    collapse all show up as high off-diagonal cosines). Per-label
    centroids use an order-independent exact mean over all 64 dims —
    dimensions floor-quantized to integer nano-units before the sum
    (floor is bit-identical across engines; the DECIMAL-cast variant of
    ``cluster_centroids`` hits the engines' differing tie-rounding once
    enough rows land on a tie); the pairwise cosine over the
    BOUNDED centroid set (k² pairs of k centroids — never touching the
    corpus again) folds left-to-right via zip_with/aggregate, the
    bit-stable array path proven by ``similarity_topk``. The centroids
    travel through the tiny self-join as ARRAY columns — a 64-scalar-wide
    theta-join plans a combinatorial expression tree (Catalyst OOM, found
    the hard way); arrays keep the plan linear. One partial-aggregated
    label shuffle, then k rows join k rows."""
    cat = Catalog(spark, sf_dir)
    e = _to_double(F.col("embedding"))
    cent = (
        cat.embeddings.select("label", e.alias("e"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_members"),
            *[
                (
                    F.sum(
                        F.floor(F.element_at("e", d + 1) * 1000000000).cast(
                            "long"
                        )
                    ).cast("double")
                    / 1000000000
                    / F.count("*")
                ).alias(f"c{d}")
                for d in range(_CSIM_DIMS)
            ],
        )
    )
    vecs = cent.select(
        "label",
        "n_members",
        F.array(*[F.col(f"c{d}") for d in range(_CSIM_DIMS)]).alias("cv"),
    )
    withn = vecs.withColumn("nrm", _norm_s("cv", _CSIM_DIMS))
    a = withn.select(
        F.col("label").alias("label_a"),
        F.col("n_members").alias("n_a"),
        F.col("cv").alias("cva"),
        F.col("nrm").alias("nrm_a"),
    )
    b = withn.select(
        F.col("label").alias("label_b"),
        F.col("n_members").alias("n_b"),
        F.col("cv").alias("cvb"),
        F.col("nrm").alias("nrm_b"),
    )
    return a.join(b, F.col("label_a") < F.col("label_b")).select(
        "label_a",
        "label_b",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        (_dot_s("cva", "cvb", _CSIM_DIMS) / (F.col("nrm_a") * F.col("nrm_b"))).alias(
            "cosine"
        ),
    )


# ---------------------------------------------------------------------------
# Matryoshka truncation evaluation (short-vector recall against full-dim)
# ---------------------------------------------------------------------------

MRL_DIMS = 16  # truncated prefix length under evaluation


@query(
    "embedding_matryoshka_eval",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
        FROM embeddings WHERE vec_id < {N_QUERIES}
    ), c AS (
        SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS ce
        FROM embeddings
    ), full_k AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY {_cos_sql('qe', 'ce')} DESC,
                                               neighbor_id) AS rank
            FROM q JOIN c ON query_id <> neighbor_id
        ) WHERE rank <= {TOP_K}
    ), short_k AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY {_cos_sql(f'qe[1:{MRL_DIMS}]',
                                          f'ce[1:{MRL_DIMS}]')} DESC,
                                neighbor_id) AS rank
            FROM q JOIN c ON query_id <> neighbor_id
        ) WHERE rank <= {TOP_K}
    )
    SELECT f.query_id,
           CAST(COUNT(s.neighbor_id) AS BIGINT) AS hits,
           CAST(COUNT(s.neighbor_id) * 1000000 // {TOP_K} AS BIGINT)
               AS recall_ppm
    FROM full_k f LEFT JOIN short_k s
      ON s.query_id = f.query_id AND s.neighbor_id = f.neighbor_id
    GROUP BY f.query_id
    """,
)
def embedding_matryoshka_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka (MRL) truncation evaluation: how much top-{TOP_K} recall
    survives searching with only the first {MRL_DIMS} of 64 dimensions?
    Truncated-prefix search is the matryoshka deployment pattern — 4×
    cheaper vectors for candidate generation, full-dim only to re-rank —
    and this query measures exactly what that costs: per-query overlap
    between the full-dim and truncated exact top-k, as exact ppm recall.

    Plan: BOTH searches share the broadcast query side and the one corpus
    scan pattern of ``similarity_topk`` (bounded probe set — the documented
    exact baseline); the overlap is a per-query equi-join of two k-row
    sets. At 100 TB the truncated search is the one that runs at corpus
    scale (that's the point), so its cost ceiling is the production
    number; the full-dim run scores only the evaluation sample.
    r7: both legs read ONE persisted double-converted embedding table
    (the corpus previously scanned+converted once per leg per side)."""
    cat = Catalog(spark, sf_dir)
    emb = persist(
        cat.embeddings.select("vec_id", _to_double(F.col("embedding")).alias("e"))
    )

    def _topk(ndims: int | None) -> DataFrame:
        take = (lambda col: F.slice(col, 1, ndims)) if ndims else (lambda c: c)
        q = emb.where(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            take(F.col("e")).alias("qe"),
        )
        c = emb.select(
            F.col("vec_id").alias("neighbor_id"),
            take(F.col("e")).alias("ce"),
        )
        return _top_k(
            F.broadcast(q)
            .join(c, F.col("query_id") != F.col("neighbor_id"))
            .select(
                "query_id",
                "neighbor_id",
                _cosine(F.col("qe"), F.col("ce")).alias("cosine"),
            )
        ).select("query_id", "neighbor_id")

    full_k = _topk(None)
    short_k = _topk(MRL_DIMS).select(
        F.col("query_id").alias("qs"), F.col("neighbor_id").alias("ns")
    )
    return (
        full_k.join(
            short_k,
            (F.col("qs") == F.col("query_id"))
            & (F.col("ns") == F.col("neighbor_id")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count("ns").alias("hits"),
            F.expr(f"COUNT(ns) * 1000000 DIV {TOP_K}")
            .cast("long")
            .alias("recall_ppm"),
        )
    )


_OUT_DIMS = 64
#: Per-label integer-micro centroid components: Σ floor(x·1e6) div n.
#: (floor-then-sum like _CSIM_SUM, but kept in BIGINT micro-units so the
#: downstream distance is pure integer arithmetic — no float folds at all.)
_OUT_SUMS = ", ".join(
    f"CAST(SUM(eq[{d + 1}]) AS BIGINT) AS s{d}" for d in range(_OUT_DIMS)
)
_OUT_CV = "list_value(" + ", ".join(
    f"s{d} // n_members" for d in range(_OUT_DIMS)
) + ")"


@query(
    "embedding_outliers",
    oracle=f"""
    WITH base AS (
        SELECT vec_id, label,
               list_transform(CAST(embedding AS DOUBLE[]),
                              x -> CAST(floor(x * 1000000) AS BIGINT)) AS eq
        FROM embeddings
    ), cent AS (
        SELECT label, CAST(COUNT(*) AS BIGINT) AS n_members, {_OUT_SUMS}
        FROM base GROUP BY label
    ), cv AS (
        SELECT label, n_members, {_OUT_CV} AS c FROM cent
    ), scored AS (
        SELECT b.vec_id, b.label,
               list_reduce(list_transform(generate_series(1, {_OUT_DIMS}),
                    i -> (b.eq[i] - c.c[i]) * (b.eq[i] - c.c[i])),
                    (a, x) -> a + x) AS dist2
        FROM base b JOIN cv c ON b.label = c.label
    ), ranked AS (
        SELECT vec_id, label, dist2,
               row_number() OVER (PARTITION BY label
                                  ORDER BY dist2 DESC, vec_id) AS rk
        FROM scored
    )
    SELECT CAST(label AS BIGINT) AS label, vec_id,
           CAST(dist2 AS BIGINT) AS dist2, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= 3
    """,
)
def embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster outlier mining: the 3 members of each label cluster
    farthest (squared L2) from their own centroid — the vectors a curation
    team inspects first for mislabeled or junk embeddings (the SemDeDup
    paper's "far from centroid = keep/inspect" signal, made exact). All
    arithmetic is integer micro-units: components floor-quantize to 1e-6,
    the centroid is the truncating per-dimension mean, and distances are
    BIGINT sums (≤ 64·(2e6)² ≈ 2.6e14 — five orders under 2^63). Shape:
    one groupBy builds the |labels|-row centroid table (64 scalar sums →
    one array), which BROADCASTS onto the corpus for a map-side zip_with
    distance; the only corpus-scale shuffle is the per-label top-3 window
    (WindowGroupLimit prunes map-side)."""
    cat = Catalog(spark, sf_dir)
    base = cat.embeddings.select(
        "vec_id",
        F.col("label").cast("long").alias("label"),
        F.expr(
            "transform(embedding,"
            " x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"
        ).alias("eq"),
    )
    sums = [
        F.expr(f"SUM(eq[{d}])").alias(f"s{d}") for d in range(_OUT_DIMS)
    ]
    cent = base.groupBy("label").agg(F.count("*").alias("n_members"), *sums)
    cv = cent.select(
        "label",
        F.expr(
            "array({})".format(
                ", ".join(f"s{d} div n_members" for d in range(_OUT_DIMS))
            )
        ).alias("c"),
    )
    scored = base.join(F.broadcast(cv), "label").select(
        "vec_id",
        "label",
        F.expr(
            "aggregate(zip_with(eq, c, (a, b) -> (a - b) * (a - b)),"
            " 0L, (acc, x) -> acc + x)"
        ).alias("dist2"),
    )
    w = Window.partitionBy("label").orderBy(F.desc("dist2"), "vec_id")
    return (
        scored.select(
            "label",
            "vec_id",
            "dist2",
            F.row_number().over(w).cast("long").alias("rk"),
        )
        .filter(F.col("rk") <= 3)
    )
