"""Property-based tests (hypothesis) for the engine's core invariants.

Fast, driver-side generation → tiny DataFrames; each property pins a
semantics contract that must hold for ANY input, not just the fixtures:
decimal-exact sums, LWW dedup laws, shingle/Jaccard bounds, salting
equivalence.
"""

from __future__ import annotations

import datetime
from decimal import Decimal

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from hybrid_nutrition_data_pipeline_batch_streaming_spark.functions.parity import (
    MONEY,
    dsum,
)
from hybrid_nutrition_data_pipeline_batch_streaming_spark.operators.skew import (
    salted_join,
)
from hybrid_nutrition_data_pipeline_batch_streaming_spark.pipeline import (
    dedup_last_write_wins,
)

FAST = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

money = st.decimals(
    min_value=Decimal("-9999.99"),
    max_value=Decimal("9999.99"),
    places=2,
    allow_nan=False,
    allow_infinity=False,
)


@FAST
@given(vals=st.lists(money, min_size=1, max_size=50))
def test_dsum_equals_exact_decimal_sum(spark, vals):
    """dsum must equal the exact (Python Decimal) sum for any partitioning."""
    df = spark.createDataFrame([(float(v),) for v in vals], "x double").repartition(4)
    got = df.agg(dsum(F.col("x")).alias("s")).collect()[0].s
    # Engine casts each double to DECIMAL(12,2) first — mirror that exactly.
    expected = float(sum(Decimal(str(round(float(v), 2))) for v in vals))
    assert got == expected


@FAST
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),
            st.integers(min_value=0, max_value=10_000),
            st.text(alphabet="xyz", min_size=1, max_size=3),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_lww_dedup_laws(spark, rows):
    """One row per key; the kept row carries that key's max timestamp;
    applying dedup twice equals applying it once (idempotence)."""
    base = datetime.datetime(2024, 1, 1)
    data = [
        (k, base + datetime.timedelta(seconds=s), payload) for k, s, payload in rows
    ]
    df = spark.createDataFrame(
        data, "item_name string, ingestion_ts timestamp_ntz, payload string"
    )
    out = dedup_last_write_wins(df).collect()
    keys = [r.item_name for r in out]
    assert len(keys) == len(set(keys)) == len({k for k, _, _ in rows})
    max_ts = {}
    for k, s, _ in rows:
        max_ts[k] = max(max_ts.get(k, -1), s)
    for r in out:
        assert r.ingestion_ts == base + datetime.timedelta(seconds=max_ts[r.item_name])
    again = dedup_last_write_wins(dedup_last_write_wins(df)).count()
    assert again == len(set(keys))


@FAST
@given(
    big_keys=st.lists(st.integers(0, 5), min_size=1, max_size=40),
    small_keys=st.sets(st.integers(0, 5), min_size=1, max_size=6),
)
def test_salted_join_property(spark, big_keys, small_keys):
    """salted_join ≡ plain join for arbitrary (skewed) key multisets."""
    big = spark.createDataFrame([(k, i) for i, k in enumerate(big_keys)], "k int, v int")
    small = spark.createDataFrame([(k, f"s{k}") for k in small_keys], "k int, tag string")
    plain = sorted(tuple(r) for r in big.join(small, "k").collect())
    salted = sorted(
        tuple(r) for r in salted_join(big, small, "k", n_salts=3).select("k", "v", "tag").collect()
    )
    assert plain == salted


@FAST
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)),
        min_size=0,
        max_size=20,
    )
)
def test_connected_components_property(spark, edges):
    """Label propagation must equal a driver-side union-find for ANY graph
    over the node set 0..12 (self-loops and duplicate edges included)."""
    from hybrid_nutrition_data_pipeline_batch_streaming_spark.plans.graph import (
        connected_components,
    )

    n = 13
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    edge_df = spark.createDataFrame(
        [(a, b) for a, b in edges] or [(0, 0)], "doc_a long, doc_b long"
    )
    got = {
        r.doc_id: r.cluster_rep
        for r in connected_components(nodes, edge_df).collect()
    }
    # Reference: union-find.
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {i: find(i) for i in range(n)}
    # Canonicalize union-find roots to component minima.
    comp_min = {}
    for i, r in expected.items():
        comp_min[r] = min(comp_min.get(r, i), i)
    expected = {i: comp_min[r] for i, r in expected.items()}
    assert got == expected


@FAST
@given(
    toks=st.lists(st.integers(1, 300), min_size=1, max_size=40),
)
def test_pack_sequences_property(spark, toks):
    """Next-fit packing invariants for ANY token-count sequence, run
    through the SHIPPED ``pack_next_fit`` (shard-bounded): within every
    (source, pack_shard) group — in doc_id order — offsets restart at 0 on
    each new sequence, a doc never straddles the capacity unless it alone
    exceeds it, seq ids are contiguous from 1, and the shard assignment is
    exactly the documented md5-derived hash of doc_id."""
    import hashlib

    from hybrid_nutrition_data_pipeline_batch_streaming_spark.plans.curation import (
        MAX_SEQ_TOKENS,
        N_PACK_SHARDS,
        pack_next_fit,
    )

    docs = spark.createDataFrame(
        [(i, "s", t) for i, t in enumerate(toks)],
        "doc_id bigint, source string, n_tok int",
    )
    rows = pack_next_fit(docs).collect()
    assert len(rows) == len(toks)

    def expect_shard(doc_id: int) -> int:
        h = hashlib.md5(str(doc_id).encode()).hexdigest()
        return int(h[:4], 16) % N_PACK_SHARDS

    by_shard: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: r.doc_id):
        assert r.pack_shard == expect_shard(r.doc_id)
        by_shard.setdefault(r.pack_shard, []).append(r)
    for shard_rows in by_shard.values():
        prev_seq, prev_end = 1, 0
        for r in shard_rows:
            if r.seq_id == prev_seq:
                assert r.seq_offset == prev_end  # dense within a sequence
            else:
                assert r.seq_id == prev_seq + 1  # contiguous ids
                assert r.seq_offset == 0  # restart at 0
                # only split on overflow
                assert prev_end + r.n_tok > MAX_SEQ_TOKENS
            within = r.seq_offset + r.n_tok
            # oversized doc gets a sequence to itself
            assert within <= MAX_SEQ_TOKENS or r.seq_offset == 0
            prev_seq, prev_end = r.seq_id, within


@FAST
@given(
    vec=st.lists(
        st.floats(-100, 100, allow_nan=False, allow_infinity=False, width=32),
        min_size=1,
        max_size=16,
    )
)
def test_int8_quantization_error_bound(spark, vec):
    """Symmetric int8 quantization: every element's reconstruction error is
    ≤ scale/2 (round-half-up), and codes stay within [-127, 127]."""
    df = spark.createDataFrame([(0, vec)], "vec_id bigint, embedding array<float>")
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    scaled = df.select("vec_id", e.alias("e")).withColumn(
        "scale", F.array_max(F.transform(F.col("e"), F.abs)) / 127
    )
    row = scaled.withColumn(
        "q",
        F.when(
            F.col("scale") == 0, F.transform(F.col("e"), lambda x: F.lit(0))
        ).otherwise(
            F.transform(
                F.col("e"),
                lambda x: F.floor(x / F.col("scale") + 0.5).cast("int"),
            )
        ),
    ).collect()[0]
    scale = row.scale
    assert all(-127 <= c <= 127 for c in row.q)
    for x, c in zip(row.e, row.q):
        assert abs(x - c * (scale or 0.0)) <= (scale or 0.0) / 2 + 1e-12


@given(
    words=st.lists(
        st.tuples(
            st.text(alphabet="ab", min_size=2, max_size=8),
            st.integers(min_value=1, max_value=5),
        ),
        min_size=1,
        max_size=8,
    ),
    n_merges=st.integers(min_value=1, max_value=4),
)
@FAST
def test_bpe_merge_regex_matches_python_greedy(spark, words, n_merges):
    """The JVM regexp merge (' l r(?= )' lookahead) must reproduce greedy
    left-to-right non-overlapping merging for ANY word shapes — repeats
    like 'aaaa' (merge to 'aa aa', not 'aa a a') are exactly the
    overlap case the lookahead exists for."""
    from hybrid_nutrition_data_pipeline_batch_streaming_spark.operators.bpe import (
        train_bpe,
        train_bpe_python,
    )

    # dedupe words (groupBy in the distributed path would merge them anyway)
    uniq: dict[str, int] = {}
    for w, f in words:
        uniq[w] = uniq.get(w, 0) + f
    word_list = sorted(uniq.items())
    df = spark.createDataFrame(word_list, "w string, freq long")
    merges, final = train_bpe(df, n_merges=n_merges)
    assert merges == train_bpe_python(word_list, n_merges=n_merges)
    got = sorted(r.syms.replace(" ", "") for r in final.collect())
    assert got == sorted(w for w, _ in word_list)


@FAST
@given(
    texts=st.lists(
        st.text(alphabet="ab é中 ", min_size=1, max_size=40),
        min_size=1,
        max_size=12,
    ),
)
def test_doc_tf_matches_counter(spark, texts):
    """The map-side run-length tf encoder (plans/search.doc_tf_frame — the
    shared retrieval index builder) must agree
    with collections.Counter over ANY text — including empty tokens from
    repeated/trailing spaces and non-ASCII — and dl must equal the token
    count. Guards the r7 HOF rework against sort/boundary off-by-ones."""
    from collections import Counter

    from hybrid_nutrition_data_pipeline_batch_streaming_spark.plans.search import (
        doc_tf_frame,
    )

    rows = [(i, t) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")

    out = doc_tf_frame(docs).collect()
    expected = {
        i: Counter(t.split(" ")) for i, t in rows if t != ""
    }
    assert {r.doc_id for r in out} == set(expected)
    for r in out:
        got = {e.tok: e.tf for e in r.tfs}
        assert got == dict(expected[r.doc_id]), (r.doc_id, got)
        assert r.dl == sum(expected[r.doc_id].values())
        assert len(got) == len(r.tfs)  # no duplicate token entries
