"""Pair generation: the bucket-occupancy-capped blocking self-join (the
shared scale lever for every banded/bucketed candidate generator) and the
packed-key pair count over sorted id bags.

Motivation (round-5 M=100 scale study, SCALE.md): any blocking scheme with a
FIXED key space — sign-LSH bands, minhash band buckets, content buckets —
fills linearly with the corpus, so the bucket self-join's pair volume grows
QUADRATICALLY. Measured: one 4-bit sign bucket held 38 806 vectors at
M=100 (~7.5e8 pairs from a single bucket; the uncapped query never
finished), and the minhash band buckets grew 8 → 508 occupancy from sf0.1
to M=100 on the same linear trajectory. A bucket that dense carries no
similarity signal — a meaningful fraction of the corpus sharing one band
key means the band does not discriminate — so dropping it is the standard
LSH blocking lever (FAISS caps probe lists the same way; PPJoin's prefix
filter bounds the same quantity structurally).

This module factors the lever implemented ad hoc twice in round 5
(``plans/similarity.py`` dedup_embedding's per-band census,
``plans/graph.py`` graph_jaccard_sim's hub-bag filter) into ONE operator +
its oracle-mirroring SQL fragment, so every pair generator states the cap
the same way and the DuckDB oracle mirrors it bit-for-bit.

Plan shape (per band): one partial-aggregated census shuffle over the band
key (output ≤ |distinct keys| rows — broadcastable by construction), a
broadcast semi-filter of the left side, then ONE equi-join on the band key
with the ordered-id predicate applied at the join. No sort, no window, no
driver collect; survives any partitioning.

``bag_pair_counts`` is the other pair generator: shared-member counts for
every id pair from sorted distinct bags (posting lists, neighbor sets), one
count shuffle over 8-byte packed keys.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def capped_blocking_join(
    df: DataFrame,
    band_cols: Sequence[str],
    id_col: str,
    cap: int,
    out_a: str = "id_a",
    out_b: str = "id_b",
) -> DataFrame:
    """Ordered candidate pairs (``out_a`` < ``out_b``) from an equi-self-join
    of ``df`` on ``band_cols``, with buckets above ``cap`` occupancy dropped.

    The occupancy census is tiny relative to ``df`` (one row per distinct
    band key) and is broadcast, so the cap adds one map-side aggregate and
    zero extra shuffles of the corpus. Callers union the per-band outputs
    and ``distinct()`` for OR-amplified banding.
    """
    band_cols = list(band_cols)
    ok = (
        df.groupBy(*band_cols)
        .agg(F.count("*").alias("occ"))
        .filter(F.col("occ") <= cap)
        .drop("occ")
    )
    lhs = df.select(*band_cols, F.col(id_col).alias(out_a)).join(
        F.broadcast(ok), band_cols
    )
    rhs = df.select(
        *[F.col(c).alias(f"__rhs_{c}") for c in band_cols],
        F.col(id_col).alias(out_b),
    )
    cond = F.col(out_a) < F.col(out_b)
    for c in band_cols:
        cond = (F.col(c) == F.col(f"__rhs_{c}")) & cond
    return lhs.join(rhs, cond).select(out_a, out_b)


def capped_pair_sql(
    base: str,
    band_cols: Sequence[str],
    id_col: str,
    cap: int,
    out_a: str = "id_a",
    out_b: str = "id_b",
) -> str:
    """The DuckDB oracle fragment mirroring :func:`capped_blocking_join`
    exactly — a HAVING census join-filtered into the bucket self-join. One
    fragment per band; callers UNION them."""
    band_cols = list(band_cols)
    keys = ", ".join(band_cols)
    ok = "".join(c[0] for c in band_cols) + "_ok"
    ok_on = " AND ".join(f"{ok}.{c} = a.{c}" for c in band_cols)
    on = " AND ".join(f"a.{c} = b.{c}" for c in band_cols)
    return (
        f"        SELECT a.{id_col} AS {out_a}, b.{id_col} AS {out_b}\n"
        f"        FROM {base} a\n"
        f"        JOIN (SELECT {keys} FROM {base} GROUP BY {keys}\n"
        f"              HAVING COUNT(*) <= {cap}) {ok} ON {ok_on}\n"
        f"        JOIN {base} b ON {on} AND a.{id_col} < b.{id_col}"
    )


def packable(bag: str, ids: str) -> Column:
    """A NULL-valued check that the sorted id array ``bag`` fits the packed
    pair key of :func:`bag_pair_counts`; it fails the query, naming
    ``ids``, when it does not. Filter on ``packable(...).isNull()``.

    Both ends of the id space are checked: the last element bounds the
    top (a·2³² overflows a signed long once a reaches 2³¹) and the first
    the bottom (a negative id passes a max-only check yet unpacks to the
    wrong pair, since DIV and pmod disagree on negative keys)."""
    return F.assert_true(
        (F.element_at(F.col(bag), -1) < F.lit(2**31))
        & (F.element_at(F.col(bag), 1) >= F.lit(0)),
        F.lit(
            f"{ids} outside [0, 2^31) breaks the packed long pair key;"
            " repack into DECIMAL(38,0) for this id space"
        ),
    )


def bag_pair_counts(bags: DataFrame, bag: str, a: str, b: str, n: str) -> DataFrame:
    """``(a, b, n)``: for every pair ``a < b`` of ids that share a bag, the
    number of bags holding both. Each ``bag`` is a sorted distinct id
    array, so every pair is emitted once per shared bag in ``a < b``
    orientation. The packed key holds any pair with ``0 <= a < 2³¹`` and
    ``b < 2³²``; :func:`packable` enforces the stricter [0, 2³¹) per bag.

    The C(L,2) pairs of each bag explode map-side through two chained
    generators (posexplode the bag, then explode each element's tail
    slice) — a nested transform-of-transforms materialized the whole
    array-of-arrays per bag in the interpreted evaluator (0.85 s against
    0.18 s for an 8.7 M-pair explode at sf0.1). Each pair crosses the one
    count shuffle as a single long ``a·2³² + b`` instead of a two-field
    struct and is unpacked after the count."""
    pairs = (
        bags.select(F.posexplode(bag).alias("i", "x"), bag)
        .select(
            F.col("x"),
            F.explode(F.expr(f"slice({bag}, i + 2, size({bag}))")).alias("y"),
        )
        .select(F.expr("x * 4294967296 + y").alias("pk"))
    )
    return (
        pairs.groupBy("pk")
        .agg(F.count("*").alias(n))
        .select(
            F.expr("pk DIV 4294967296").cast("long").alias(a),
            F.pmod("pk", F.lit(4294967296)).cast("long").alias(b),
            n,
        )
    )
