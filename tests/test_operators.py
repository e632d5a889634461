"""Operator-contract tests that the hash oracle can't express."""

import pytest
from pyspark.sql import functions as F

from hybrid_nutrition_data_pipeline_batch_streaming_spark import plans

SF = "/root/testdata/sf0.001"


def test_approx_count_distinct_error_bound(spark):
    """HLL++ sketch (A5 scale path) must stay within its configured rsd."""
    approx = {
        r.l_returnflag: r.approx_orders
        for r in plans.QUERIES["agg_approx_distinct"](spark, SF).collect()
    }
    exact = {
        r.l_returnflag: r.cnt
        for r in spark.read.parquet(f"{SF}/lineitem.parquet")
        .groupBy("l_returnflag")
        .agg(F.countDistinct("l_orderkey").alias("cnt"))
        .collect()
    }
    for flag, est in approx.items():
        assert abs(est - exact[flag]) / exact[flag] <= 0.05


def test_stateful_totals_match_batch(spark):
    """applyInPandasWithState totals == exact batch aggregate."""
    got = {
        r.user_id: (r.event_cnt, r.total_value)
        for r in plans.QUERIES["stream_stateful_totals"](spark, SF).collect()
    }
    exp = {
        r.user_id: (r.cnt, r.total)
        for r in spark.read.parquet(f"{SF}/events.parquet")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("total"),
        )
        .collect()
    }
    assert got == exp


def test_minhash_finds_known_near_dups(spark):
    """MinHash LSH must surface pairs whose true 3-gram Jaccard ≥ 0.5 that
    collide on the band; every emitted pair must genuinely clear the
    threshold (no false positives survive verification)."""
    rows = plans.QUERIES["dedup_minhash"](spark, SF).collect()
    assert all(r.jaccard >= 0.5 for r in rows)
    assert all(r.doc_a < r.doc_b for r in rows)


def test_similarity_topk_contract(spark):
    """Exact top-k: k rows per query, ranks 1..k, cosine non-increasing."""
    rows = plans.QUERIES["similarity_topk"](spark, SF).collect()
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        cosines = [r.cosine for r in rs]
        assert cosines == sorted(cosines, reverse=True)
        assert all(-1.0001 <= c <= 1.0001 for c in cosines)


def test_ann_lsh_recall_vs_exact(spark):
    """Bucketed ANN should recover a healthy fraction of the exact top-5
    (sign-LSH with 6 bits on 64-dim unit-ish vectors — recall won't be 1.0,
    but it must be far above chance)."""
    exact = {
        (r.query_id, r.neighbor_id)
        for r in plans.QUERIES["similarity_topk"](spark, SF).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in plans.QUERIES["similarity_ann_lsh"](spark, SF).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.2, f"ANN recall collapsed: {recall}"


def test_ann_hyperplane_recall_and_determinism(spark):
    """The seeded-hyperplane production tier (r12): recall ≥ 0.5 overall at
    sf0.001 (measured 0.72 — floor leaves drift room), every per-query
    recall ≥ the 0.2 contract floor, and two invocations are bit-identical
    (the md5-derived planes carry no RNG state)."""
    exact = {
        (r.query_id, r.neighbor_id)
        for r in plans.QUERIES["similarity_topk"](spark, SF).collect()
    }
    rows1 = plans.QUERIES["similarity_ann_hyperplane"](spark, SF).collect()
    rows2 = plans.QUERIES["similarity_ann_hyperplane"](spark, SF).collect()
    assert sorted(map(tuple, rows1)) == sorted(map(tuple, rows2))
    approx = {(r.query_id, r.neighbor_id) for r in rows1}
    assert len(exact & approx) / len(exact) >= 0.5
    contract = plans.QUERIES["similarity_ann_hyperplane_recall"](spark, SF).collect()
    assert contract and all(r.recall_ok for r in contract)


def test_hp_index_codes_match_reference_buckets(spark):
    """r12 optimization: hp_index_frame computes the 32 (band, bit) sign
    projections and the norm in ONE Arrow-batched NumPy accumulation
    (driver-side analysis of the JVM higher-order-function forms dominated
    the query — see hp_index_frame's docstring). Pin it bit-identical
    (buckets AND norms) to the reference per-bit `_hp_bucket` folds —
    same sequential d-order, same `acc + e[d] * (±1.0)` step — so a future
    rewrite that reorders the floating-point additions (and can flip a
    near-zero sign) fails loudly here instead of as a recall drift."""
    from pyspark.sql import functions as F

    from hybrid_nutrition_data_pipeline_batch_streaming_spark.catalog import (
        Catalog,
    )
    from hybrid_nutrition_data_pipeline_batch_streaming_spark.plans import (
        similarity as S,
    )

    emb = Catalog(spark, SF).embeddings
    e = S._to_double(F.col("embedding"))
    reference = emb.select(
        "vec_id",
        *[S._hp_bucket(e, b).alias(f"hb{b}") for b in range(S.HP_BANDS)],
        S._norm(e).alias("n"),
    )
    got = sorted(map(tuple, S.hp_index_frame(emb).collect()))
    want = sorted(map(tuple, reference.collect()))
    assert got == want and got


def test_ann_mllib_recall_vs_exact(spark):
    """The BRP-LSH library path must recover ≥0.8 of the exact top-5 with
    its tuned (bucketLength=0.5, numHashTables=4) configuration — measured
    0.98 at sf0.01; this pins the floor so param drift is caught."""
    import pytest as _pytest

    try:
        approx = {
            (r.query_id, r.neighbor_id)
            for r in plans.QUERIES["similarity_ann_mllib"](spark, SF).collect()
        }
    except NotImplementedError:
        _pytest.skip("pyspark.ml unavailable")
    exact = {
        (r.query_id, r.neighbor_id)
        for r in plans.QUERIES["similarity_topk"](spark, SF).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"BRP-LSH recall regressed: {recall}"


def test_ann_ivf_recall_and_probe_contract(spark):
    """IVF (nprobe=4 of 16 cells) must recover ≥0.6 of the exact top-5
    (measured 0.85), and every reported neighbor must come from a probed
    cell — i.e. results are a subset of exact rescoring, never fabricated."""
    exact_rows = plans.QUERIES["similarity_topk"](spark, SF).collect()
    exact = {(r.query_id, r.neighbor_id) for r in exact_rows}
    exact_cos = {(r.query_id, r.neighbor_id): r.cosine for r in exact_rows}
    ivf_rows = plans.QUERIES["similarity_ann_ivf"](spark, SF).collect()
    ivf = {(r.query_id, r.neighbor_id) for r in ivf_rows}
    recall = len(exact & ivf) / len(exact)
    assert recall >= 0.6, f"IVF recall regressed: {recall}"
    # Exactness of the rescore: any overlap pair carries the same cosine.
    for r in ivf_rows:
        key = (r.query_id, r.neighbor_id)
        if key in exact_cos:
            assert r.cosine == exact_cos[key]
    # Per-query structure: ranks 1..k, descending cosine.
    by_q = {}
    for r in ivf_rows:
        by_q.setdefault(r.query_id, []).append(r)
    for rs in by_q.values():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        cosines = [r.cosine for r in rs]
        assert cosines == sorted(cosines, reverse=True)


def test_simhash_multiprobe_complete_and_dominates(spark):
    """Multi-index probing must find every pair the single-block probe
    finds (superset), and its oracle equality (brute-force all-pairs) is
    the pigeonhole completeness proof — here we just pin the dominance."""
    single = {
        (r.doc_a, r.doc_b)
        for r in plans.QUERIES["dedup_simhash"](spark, SF).collect()
    }
    multi_rows = plans.QUERIES["dedup_simhash_multiprobe"](spark, SF).collect()
    multi = {(r.doc_a, r.doc_b) for r in multi_rows}
    assert single <= multi
    assert all(r.hamming <= 6 for r in multi_rows)


def test_minhash_banded_recall_dominates_single_band(spark):
    """OR-amplified banding (b=2, r=2) must find every pair the AND-of-4
    single band finds, and its verified pairs must all clear the exact
    Jaccard threshold (no unverified false positives)."""
    single = {
        (r.doc_a, r.doc_b) for r in plans.QUERIES["dedup_minhash"](spark, SF).collect()
    }
    banded_rows = plans.QUERIES["dedup_minhash_banded"](spark, SF).collect()
    banded = {(r.doc_a, r.doc_b) for r in banded_rows}
    assert single <= banded  # banding can only widen the candidate set
    assert all(r.jaccard >= 0.5 for r in banded_rows)
    assert all(r.doc_a < r.doc_b for r in banded_rows)


def test_int8_topk_recall_vs_exact(spark):
    """Int8 scalar quantization must barely perturb the cosine ranking:
    dequantized top-5 recovers >=0.9 of the fp64 exact top-5, and every
    reported cosine is within 0.02 of the exact value for that pair."""
    exact_rows = plans.QUERIES["similarity_topk"](spark, SF).collect()
    exact = {(r.query_id, r.neighbor_id) for r in exact_rows}
    q_rows = plans.QUERIES["similarity_topk_int8"](spark, SF).collect()
    quant = {(r.query_id, r.neighbor_id) for r in q_rows}
    recall = len(exact & quant) / len(exact)
    assert recall >= 0.9, f"int8 ranking drifted: recall {recall}"
    exact_cos = {(r.query_id, r.neighbor_id): r.cosine for r in exact_rows}
    for r in q_rows:
        key = (r.query_id, r.neighbor_id)
        if key in exact_cos:
            assert abs(r.cosine - exact_cos[key]) < 0.02


def test_ngram_prefix_filter_is_lossless(spark):
    """Prefix filtering (PPJoin) must return EXACTLY the pairs of the plain
    inverted-index Jaccard join — the lemma guarantees losslessness, this
    pins it against off-by-one prefix-length regressions."""
    plain = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in plans.QUERIES["dedup_ngram_jaccard"](spark, SF).collect()
    }
    pref = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in plans.QUERIES["dedup_ngram_prefix"](spark, SF).collect()
    }
    assert pref == plain


def test_connected_components_contract(spark):
    """Cluster canonicalization: every edge's endpoints share a rep, the rep
    is the component minimum, exactly one keep per cluster, total coverage."""
    edges = [
        (r.doc_a, r.doc_b)
        for r in plans.QUERIES["dedup_minhash_banded"](spark, SF).collect()
    ]
    rows = plans.QUERIES["dedup_connected_components"](spark, SF).collect()
    rep = {r.doc_id: r.cluster_rep for r in rows}
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert len(rep) == n_docs  # total map, singletons included
    for a, b in edges:
        assert rep[a] == rep[b], f"edge ({a},{b}) split across clusters"
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_rep, []).append(r)
    for c, members in by_cluster.items():
        assert c == min(m.doc_id for m in members)  # rep is the min id
        assert sum(m.keep for m in members) == 1  # one survivor
        assert all(m.cluster_size == len(members) for m in members)


def test_sampling_contracts(spark):
    """Seeded samplers: reproducible, right expected size, valid strata."""
    s1 = plans.QUERIES["sample_bernoulli"](spark, SF)
    n1, n2 = s1.count(), plans.QUERIES["sample_bernoulli"](spark, SF).count()
    assert n1 == n2  # seed-reproducible
    total = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert 0.02 * total <= n1 <= 0.25 * total  # near p=0.1

    strat = plans.QUERIES["sample_stratified"](spark, SF)
    by_lang = {r.lang: r.cnt for r in strat.groupBy("lang").agg(F.count("*").alias("cnt")).collect()}
    full = {
        r.lang: r.cnt
        for r in spark.read.parquet(f"{SF}/documents.parquet")
        .groupBy("lang")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    # English stratum sampled much more aggressively than the rest.
    if "en" in by_lang:
        assert by_lang["en"] / full["en"] < 0.3


def test_approx_percentile_error_bound(spark):
    approx = {
        r.l_returnflag: r.approx_median_price
        for r in plans.QUERIES["agg_approx_percentile"](spark, SF).collect()
    }
    exact = {
        r.l_returnflag: r.m
        for r in spark.read.parquet(f"{SF}/lineitem.parquet")
        .groupBy("l_returnflag")
        .agg(F.percentile(F.col("l_extendedprice"), F.lit(0.5)).alias("m"))
        .collect()
    }
    for flag, est in approx.items():
        assert abs(est - exact[flag]) / exact[flag] <= 0.05


def test_text_chunking_reconstructs(spark):
    """Stride-1 chunk coverage: every token of every doc appears in at least
    one chunk, first chunk starts the doc, overlap equals tokens - stride."""
    rows = plans.QUERIES["text_chunking"](spark, SF).collect()
    docs = {r.doc_id: r.text for r in spark.read.parquet(f"{SF}/documents.parquet").collect()}
    from hybrid_nutrition_data_pipeline_batch_streaming_spark.plans.text import (
        CHUNK_STRIDE,
        CHUNK_TOKENS,
    )

    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, {})[r.chunk_id] = r.chunk_text.split(" ")
    for doc_id, chunks in by_doc.items():
        toks = docs[doc_id].split(" ")
        assert chunks[0] == toks[:CHUNK_TOKENS]
        covered = max(cid * CHUNK_STRIDE + len(c) for cid, c in chunks.items())
        assert covered >= len(toks)  # tail covered
        for cid, c in chunks.items():
            assert c == toks[cid * CHUNK_STRIDE : cid * CHUNK_STRIDE + CHUNK_TOKENS]


def test_kmeans_train_objective_monotone_and_reproducible(spark):
    """Spherical k-means contract: each full round cannot decrease the
    objective (assignment picks max cosine; the mean maximizes summed
    cosine for a fixed assignment), and a re-run reproduces the identical
    assignment — the decimal-exact reduction at work."""
    from pyspark.sql import functions as F
    from hybrid_nutrition_data_pipeline_batch_streaming_spark.operators.clustering import (
        kmeans_objective,
        kmeans_train,
    )

    base = (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .select(
            "vec_id",
            F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("e"),
        )
        .persist()
    )
    objs = []
    for rounds in (0, 1, 2, 3):
        assign, cent = kmeans_train(base, k=8, dims=64, rounds=rounds)
        objs.append(kmeans_objective(base, assign, cent))
    assert all(b >= a - 1e-9 for a, b in zip(objs, objs[1:])), objs
    assert objs[-1] > objs[0]  # training actually improved the quantizer
    a1, _ = kmeans_train(base, k=8, dims=64, rounds=3)
    a2, _ = kmeans_train(base, k=8, dims=64, rounds=3)
    assert sorted(map(tuple, a1.collect())) == sorted(map(tuple, a2.collect()))


def test_kmeans_train_one_round_is_the_oracle_checked_lloyd_step(spark):
    """The standalone trainer runs the step ``kmeans_refine`` checks against
    its DuckDB oracle: one round from the same seeds puts every vector in
    that query's ``cell_refined``."""
    from hybrid_nutrition_data_pipeline_batch_streaming_spark.operators.clustering import (
        kmeans_train,
    )
    from hybrid_nutrition_data_pipeline_batch_streaming_spark.plans.similarity import (
        EMB_DIM,
        SEM_CELLS,
    )

    refined = {
        r.vec_id: r.cell_refined
        for r in plans.QUERIES["kmeans_refine"](spark, SF).collect()
    }
    base = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("e"),
    )
    assign, _ = kmeans_train(base, k=SEM_CELLS, dims=EMB_DIM, rounds=1)
    trained = {r.vec_id: r.cell for r in assign.collect()}
    assert len(refined) == base.count() > 0
    assert trained == refined


def test_pq_rerank_recall_vs_exact(spark):
    """Two-stage PQ (ADC shortlist → exact re-rank) must hold most of the
    exact top-5. The deterministic first-16 codebook bounds recall well
    below 1.0 — the floor guards against indexing/normalization bugs that
    collapse it toward random (~0.01)."""
    from hybrid_nutrition_data_pipeline_batch_streaming_spark.plans.similarity import (
        similarity_topk,
        similarity_topk_pq,
    )

    exact = {
        (r.query_id, r.neighbor_id) for r in similarity_topk(spark, SF).collect()
    }
    pq = {
        (r.query_id, r.neighbor_id) for r in similarity_topk_pq(spark, SF).collect()
    }
    recall = len(exact & pq) / len(exact)
    assert recall >= 0.6, f"PQ re-rank recall regressed: {recall}"


def test_checkpoint_truncate_flips_to_reliable_with_conf(spark, tmp_path):
    """VERDICT r2 item 6: ONE session conf (sc.setCheckpointDir) must flip
    every iterative lineage cut from localCheckpoint (dev) to reliable
    checkpoint() (cluster fault tolerance) — no code edits. Proven on the
    connected-components loop: with a checkpoint dir set, the loop writes
    real checkpoint files there and still converges to the right clusters."""
    import os

    from pyspark.sql import functions as F

    from hybrid_nutrition_data_pipeline_batch_streaming_spark.plans.graph import (
        connected_components,
    )

    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None  # engine default: localCheckpoint
    ckpt = str(tmp_path / "reliable")
    sc.setCheckpointDir(ckpt)
    try:
        nodes = spark.range(8).select(F.col("id").alias("doc_id"))
        edges = spark.createDataFrame(
            [(0, 1), (1, 2), (5, 6)], "doc_a long, doc_b long"
        )
        labels = {
            r.doc_id: r.cluster_rep
            for r in connected_components(nodes, edges).collect()
        }
        assert labels == {0: 0, 1: 0, 2: 0, 3: 3, 4: 4, 5: 5, 6: 5, 7: 7}
        # The cuts went to the RELIABLE dir (checkpoint(), not local blocks).
        written = [
            f for root, _, fs in os.walk(ckpt) for f in fs if f.startswith("part-")
        ]
        assert written, "no checkpoint files written under the configured dir"
    finally:
        # Restore the no-dir default so later tests keep localCheckpoint.
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.empty())
        assert sc.getCheckpointDir() is None


def test_scratch_checkpoint_gates_on_deployment(spark, tmp_path):
    """ADVICE r7: per-round scratch cuts (graph_kcore's survivor edges)
    use localCheckpoint for speed, but on a multi-node cluster the blocks
    are unrecoverable — losing an executor mid-loop fails the query. The
    scratch_checkpoint helper must therefore gate on deployment: local
    master → localCheckpoint even when a reliable dir is configured (the
    measured 253→207 s kcore win). (The distributed-master branch can't
    execute on local[*].)"""
    import os

    from hybrid_nutrition_data_pipeline_batch_streaming_spark.session import (
        scratch_checkpoint,
    )

    sc = spark.sparkContext
    assert sc.master.startswith("local")
    ckpt = str(tmp_path / "reliable")
    sc.setCheckpointDir(ckpt)
    try:
        df = spark.range(10)
        # local master: local blocks, nothing written to the dir.
        scratch_checkpoint(df).collect()
        assert not [
            f for root, _, fs in os.walk(ckpt) for f in fs if f.startswith("part-")
        ], "local master must not write reliable checkpoints"
    finally:
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.empty())
        assert sc.getCheckpointDir() is None


def test_query_invocation_releases_previous_caches(spark):
    """ADVICE r7: plan functions persist() intermediates their callers
    materialize later, so nothing inside a query can unpersist them — in a
    long-lived session (driver's 50-query window) disk-backed cache entries
    would accumulate unboundedly. Pin the registry contract: a TOP-LEVEL
    query invocation releases the frames the previous top-level query's
    scope persisted (its result is already consumed by then), while NESTED
    invocations (composite plans consuming other registered queries) join
    the outer scope and must NOT release — that would drop frames the outer
    plan already persisted."""
    from hybrid_nutrition_data_pipeline_batch_streaming_spark import session as S

    cm = spark._jsparkSession.sharedState().cacheManager()

    def cached(df) -> bool:
        return cm.lookupCachedData(df._jdf).isDefined()

    # similarity_maxsim persists its chunk-bag frame (r12: most former
    # exemplars — graph_triangles, similarity_ann_lsh, er_golden_records —
    # switched their persists to eager localCheckpoints, which never
    # register in the CacheManager; maxsim's cut measured a loss and
    # stays a lazy persist). Built inside an outer scope, as during a
    # composite's build, it joins that scope.
    with S.query_scope(spark) as outer:
        plans.QUERIES["similarity_maxsim"](spark, SF).count()
        persisted = [df for df in outer.frames if df.is_cached]
        assert persisted and all(map(cached, persisted)), (
            "expected similarity_maxsim to leave cached frames"
        )
        plans.QUERIES["flagship_revenue"](spark, SF)
        assert all(map(cached, persisted)), (
            "nested invocation must not release outer caches"
        )
    plans.QUERIES["flagship_revenue"](spark, SF)  # no persists of its own
    assert not any(map(cached, persisted)), (
        "top-level invocation must release prior caches"
    )
    assert S._ACTIVE_SCOPE.get() is None


def test_query_scope_leaves_other_sessions_caches(spark):
    """Sessions on one SparkContext (the JDBC endpoint's, a newSession of
    a dashboard) share its CacheManager. A top-level query releases only
    what its own session's previous query made, so a frame another session
    cached stays cached."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    held = spark.newSession().range(37).selectExpr("id * 7 AS v").persist()
    try:
        assert held.count() == 37
        assert cm.lookupCachedData(held._jdf).isDefined()
        plans.QUERIES["flagship_revenue"](spark, SF).collect()
        assert cm.lookupCachedData(held._jdf).isDefined(), (
            "a query must not release another session's cache"
        )
    finally:
        held.unpersist()


def test_stream_memory_views_released_per_query(spark):
    """Every run_to_memory pass registers a memory-sink temp view. The
    query scope drops the previous query's views at the next top-level
    query, so repeated stream passes in one session keep one pass's worth
    of mem_* views registered instead of 2 → 4 → 6."""

    def mem_views() -> set[str]:
        return {
            t.name
            for t in spark.catalog.listTables()
            if t.isTemporary and t.name.startswith("mem_")
        }

    before = mem_views()
    plans.QUERIES["stream_tumbling_live"](spark, SF).collect()
    first = mem_views()
    added = first - before
    assert added, "expected the stream pass to register a memory-sink view"
    for _ in range(2):
        plans.QUERIES["stream_tumbling_live"](spark, SF).collect()
        assert len(mem_views()) == len(first)
    assert not added & mem_views(), "the first pass's views must be dropped"


def test_release_caches_frees_lineage_cut_blocks(spark):
    """ADVICE r12 (medium): localCheckpoint blocks never register in the
    CacheManager, so nothing that only clears cached plans frees them, and
    every eager cut once leaked across a long-lived session. Releasing a
    query scope must free the storage blocks of the cut frames made in it
    — and a fresh top-level query invocation (the registry's release
    point) must do the same implicitly for the previous query's scope."""
    from hybrid_nutrition_data_pipeline_batch_streaming_spark import session as S

    def cut_blocks() -> int:
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(1 for i in infos if i.numCachedPartitions() > 0)

    def settles_to(n: int) -> bool:
        # unpersist(blocking=False): block removal is async — poll briefly.
        import time as _t

        for _ in range(50):
            if cut_blocks() == n:
                return True
            _t.sleep(0.1)
        return False

    with S.query_scope(spark):  # start clean: releases the previous scope
        pass
    settles_to(0)  # drain any async removals from earlier tests
    base = cut_blocks()
    with S.query_scope(spark) as scope:
        cut = S.checkpoint_truncate(spark.range(1000).select(F.col("id") * 2))
        assert cut.count() == 1000
    assert cut_blocks() > base, "expected the eager cut to hold storage blocks"
    assert any(d is cut for d in scope.frames), (
        "checkpoint_truncate must record its frame with the active scope"
    )
    scope.release()
    assert settles_to(base), "releasing the scope must free cut blocks"
    assert not scope.frames, "released scope must be drained"
    # The registry wrapper path: a top-level query releases the previous
    # query's cuts at entry.
    with S.query_scope(spark):
        cut2 = S.checkpoint_truncate(spark.range(500).select(F.col("id") + 1))
    assert cut2.count() == 500 and cut_blocks() > base
    plans.QUERIES["flagship_revenue"](spark, SF)
    assert settles_to(base), "top-level invocation must free prior cuts"


def test_nested_composite_query_end_to_end(spark):
    """ADVICE r12 (low): keep a REAL nested exemplar next to the mechanism
    probe — ``dedup_cluster_report`` invokes the registered
    ``dedup_connected_components`` as a building block, whose loop issues
    eager lineage cuts. If the wrapper ever released caches/cut blocks from
    INSIDE a nested invocation (or at fn exit), the outer plan's
    materialization would read freed localCheckpoint blocks and fail. The
    end-to-end collect — after a prior query left release-able state — is
    the regression canary."""
    from hybrid_nutrition_data_pipeline_batch_streaming_spark import session as S

    # Leave prior state for the composite's top-level release to clear.
    plans.QUERIES["similarity_maxsim"](spark, SF).count()
    rows = plans.QUERIES["dedup_cluster_report"](spark, SF).collect()
    assert S._ACTIVE_SCOPE.get() is None
    assert rows, "composite query returned no clusters"
    assert all(r.cluster_size >= 2 for r in rows)


def test_perplexity_filter_contract(spark):
    """LM scores are mean probabilities in (0, 1]; the gate is exactly
    score >= threshold; every scoreable doc (>= 2 alpha tokens) is scored."""
    rows = plans.QUERIES["perplexity_filter"](spark, SF).collect()
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert 0 < len(rows) <= n_docs
    for r in rows:
        assert r.n_bigrams >= 1
        assert 0.0 < r.lm_score <= 1.0  # mean of conditional probabilities
        assert r.keep == (r.lm_score >= 0.05)
    # The corpus-trained LM must separate: not everything on one side.
    kept = sum(r.keep for r in rows)
    assert 0 < kept  # and typically < len(rows); gate position is data-shaped


def test_corpus_quota_split_exact_quotas(spark):
    """Selected counts hit the quota EXACTLY wherever the stratum has
    enough docs (min(quota, stratum size) otherwise), and pick_rank is a
    1..n permutation per language — the property fractional sampling
    can't give."""
    rows = plans.QUERIES["corpus_quota_split"](spark, SF).collect()
    full = {}
    for r in rows:
        full.setdefault(r.lang, []).append(r)
    for lang, rs in full.items():
        quota = 60 if lang == "en" else 80
        assert sum(r.selected for r in rs) == min(quota, len(rs))
        assert sorted(r.pick_rank for r in rs) == list(range(1, len(rs) + 1))
        # Selection = exactly the quota-smallest ranks.
        assert {r.pick_rank for r in rs if r.selected} == set(
            range(1, min(quota, len(rs)) + 1)
        )


def test_udtf_expand_skips_malformed_and_expands_arrays(spark):
    """The Python UDTF must emit one row per JSON array element and emit
    ZERO rows (not an error) for malformed input — the reference's
    try/except row-skip living inside the table function."""
    rows = plans.QUERIES["udtf_expand_items"](spark, SF).collect()
    by_item = {}
    for r in rows:
        by_item.setdefault(r.item_name, []).append(r)
    # %50==3 partkeys (malformed JSON) contribute no rows at all: every
    # emitted item parses, so every row has a well-formed name + calories.
    assert rows and all(r.name and r.calories >= 0 for r in rows)
    # Two-element arrays expand to idx 0 and 1, with the bogus tail element
    # surfaced (the 1→N shape element_at(data, 1) cannot produce).
    multi = [rs for rs in by_item.values() if any(r.elem_idx == 1 for r in rs)]
    assert multi
    for rs in multi:
        assert {r.elem_idx for r in rs} >= {0, 1}
        assert all(r.n_elems == 2 for r in rs if r.elem_idx == 1)
        assert all(r.name == "bogus" and r.calories == 1.0 for r in rs if r.elem_idx == 1)


def test_variant_extract_null_semantics(spark):
    """try_variant_get: missing path → NULL (never error), typed reads
    agree with each other."""
    rows = plans.QUERIES["variant_extract"](spark, SF).collect()
    assert rows
    for r in rows:
        assert r.has_tag == (r.tag is not None)
        if r.k is not None:
            assert float(r.k) == r.k_dbl


def test_collocation_pmi_contract(spark):
    """PMI rows respect the min-count guard, the ppm ordering, and the
    bounded output size."""
    rows = plans.QUERIES["collocation_pmi"](spark, SF).collect()
    assert 0 < len(rows) <= 50
    assert all(r.c_xy >= 5 for r in rows)
    ppms = [r.pmi_ppm for r in rows]
    assert ppms == sorted(ppms, reverse=True)
    # ratio space: >1e6 means the pair co-occurs above independence
    assert any(p > 1_000_000 for p in ppms)


def test_span_dedup_consistency(spark):
    """dup_spans ≤ n_spans, frac ∈ [0,1], and n_spans equals the positional
    3-gram count max(len-2, 0) of each surviving document."""
    got = {r.doc_id: r for r in plans.QUERIES["span_dedup"](spark, SF).collect()}
    docs = {
        r.doc_id: r.n
        for r in spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", F.size(F.split("text", " ")).alias("n"))
        .collect()
    }
    assert got
    for doc_id, r in got.items():
        assert r.n_spans == max(docs[doc_id] - 2, 0)
        assert 0 <= r.dup_spans <= r.n_spans
        assert abs(r.dup_frac - r.dup_spans / r.n_spans) < 1e-12


def test_dedup_incremental_matches_banded_cross_pairs(spark):
    """Incremental probe finds EXACTLY the banded near-dup pairs that cross
    the seen/new boundary — the index path loses nothing vs the full
    self-join."""
    inc = {r.doc_id: r for r in plans.QUERIES["dedup_incremental"](spark, SF).collect()}
    full = plans.QUERIES["dedup_minhash_banded"](spark, SF).collect()
    expected: dict[int, int] = {}
    for p in full:
        for new, other in ((p.doc_a, p.doc_b), (p.doc_b, p.doc_a)):
            if new % 4 == 0 and other % 4 != 0:
                expected[new] = expected.get(new, 0) + 1
    n_new = spark.read.parquet(f"{SF}/documents.parquet").where(
        F.col("doc_id") % 4 == 0
    ).count()
    assert len(inc) == n_new
    for doc_id, r in inc.items():
        assert r.n_dup_matches == expected.get(doc_id, 0)
        assert r.keep == (r.n_dup_matches == 0)


def test_dsir_resample_gate_and_direction(spark):
    """The selection gate is exactly 'mean evidence ≥ corpus average', and
    target-domain (src0) documents score higher on average than the rest —
    the importance model points at the target."""
    rows = plans.QUERIES["dsir_resample"](spark, SF).collect()
    n = len(rows)
    s_tot = sum(r.mean_evidence_ppm for r in rows)
    src = {
        r.doc_id: r.source
        for r in spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "source")
        .collect()
    }
    tgt_scores, rest_scores = [], []
    for r in rows:
        assert r.selected == (r.mean_evidence_ppm * n >= s_tot)
        (tgt_scores if src[r.doc_id] == "src0" else rest_scores).append(
            r.mean_evidence_ppm
        )
    assert 0 < sum(1 for r in rows if r.selected) < n
    assert sum(tgt_scores) / len(tgt_scores) > sum(rest_scores) / len(rest_scores)


def test_retrieval_contracts(spark):
    """phrase_search returns per-doc counts for exactly one phrase; ranking
    scores are monotone with the returned order and terms_hit is bounded by
    the query-bag size."""
    ph = plans.QUERIES["phrase_search"](spark, SF).collect()
    assert ph and len({r.phrase for r in ph}) == 1
    assert all(r.n_matches >= 1 for r in ph)
    # the phrase really is the corpus top bigram: every match is a real
    # adjacency in the source text
    phrase = ph[0].phrase
    docs = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{SF}/documents.parquet").collect()
    }
    for r in ph[:10]:
        toks = docs[r.doc_id].split(" ")
        adj = sum(
            1
            for i in range(len(toks) - 1)
            if f"{toks[i]} {toks[i+1]}" == phrase
        )
        assert adj == r.n_matches

    ranked = plans.QUERIES["text_search_rank"](spark, SF).collect()
    assert 0 < len(ranked) <= 20
    scores = [r.score_ppm for r in ranked]
    assert scores == sorted(scores, reverse=True)
    assert all(1 <= r.terms_hit <= 3 for r in ranked)


def test_bpe_trainer_matches_python_reference(spark):
    """The distributed BPE trainer's merge sequence equals the pure-Python
    greedy reference (same tie-break) on the fixture word table, total
    symbol count decreases monotonically, and merged symbols reconstruct
    the original words exactly."""
    from hybrid_nutrition_data_pipeline_batch_streaming_spark.operators.bpe import (
        train_bpe,
        train_bpe_python,
    )

    words = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select(F.explode(F.split("text", " ")).alias("w"))
        .where((F.col("w") != "") & (F.length("w") >= 2))
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )
    word_list = [(r.w, r.freq) for r in words.collect()]

    merges, final = train_bpe(words, n_merges=10)
    expected = train_bpe_python(word_list, n_merges=10)
    assert merges == expected
    assert len(merges) == 10

    rows = final.collect()
    # merging never alters content: stripping separators rebuilds the words
    got_words = sorted(r.syms.replace(" ", "") for r in rows)
    assert got_words == sorted(w for w, _ in word_list)
    # and strictly compresses the symbol stream
    n_final = sum(len(r.syms.split(" ")) * r.freq for r in rows)
    n_chars = sum(len(w) * f for w, f in word_list)
    assert n_final < n_chars


def test_mmr_diversifies_vs_plain_topk(spark):
    """MMR picks are unique per query, the first pick equals the exact
    rank-1 neighbor, and diversification actually bites: for at least one
    query the MMR set differs from the plain top-3."""
    mmr = plans.QUERIES["similarity_mmr"](spark, SF).collect()
    by_q: dict[int, dict[int, int]] = {}
    for r in mmr:
        by_q.setdefault(r.query_id, {})[r.pick_rank] = r.cand_id
    topk = plans.QUERIES["similarity_topk"](spark, SF).collect()
    top_by_q: dict[int, dict[int, int]] = {}
    for r in topk:
        top_by_q.setdefault(r.query_id, {})[r.rank] = r.neighbor_id
    assert set(by_q) == set(top_by_q)
    diverged = 0
    for qid, picks in by_q.items():
        assert len(picks) == 3 and len(set(picks.values())) == 3
        assert picks[1] == top_by_q[qid][1]  # first pick = pure relevance
        if {picks[2], picks[3]} != {top_by_q[qid][2], top_by_q[qid][3]}:
            diverged += 1
    assert diverged > 0


def test_bpe_encode_applies_learned_merges(spark):
    """Encoding with the learned rules reproduces the trainer's final
    symbolization on training words (train/encode consistency), runs as one
    JVM projection, and compresses token counts for unseen words sharing
    the corpus's character bigrams."""
    from hybrid_nutrition_data_pipeline_batch_streaming_spark.operators.bpe import (
        encode_with_merges,
        train_bpe,
    )

    words = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select(F.explode(F.split("text", " ")).alias("w"))
        .where((F.col("w") != "") & (F.length("w") >= 2))
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )
    merges, final = train_bpe(words, n_merges=8)
    enc = encode_with_merges(words.select("w"), merges)
    got = {r.w: tuple(r.bpe_tokens) for r in enc.collect()}
    want = {r.syms.replace(" ", ""): tuple(r.syms.split(" ")) for r in final.collect()}
    assert got == want
    # no Python in the encode plan
    plan = enc._jdf.queryExecution().executedPlan().toString()
    assert "PythonUDF" not in plan and "ArrowEvalPython" not in plan


def test_join_range_binned_census_equals_naive_join(spark, tmp_path):
    """The r9 census decomposition of join_range_binned must reproduce the
    naive non-equi join EXACTLY on adversarial data the fixtures don't
    have: intervals straddling the quarter boundary, orders ON window
    endpoints, orders outside the calendar span, non-qualifying flags and
    years. Seeded-random, engine-vs-naive both in Spark — independent of
    the DuckDB oracle."""
    import datetime
    import random

    from hybrid_nutrition_data_pipeline_batch_streaming_spark.functions.parity import (
        MONEY,
    )

    rng = random.Random(42)
    d0 = datetime.date(1995, 12, 1)
    li_rows = []
    for i in range(400):
        ship = d0 + datetime.timedelta(days=rng.randrange(170))
        li_rows.append(
            (
                rng.randrange(1, 500),  # l_orderkey drives window length
                rng.choice(["R", "R", "A", "N"]),
                ship,
            )
        )
    # Edge pins: a window starting on the last Q1 day (tail past quarter
    # end), one on the first day, and non-1996 rows that must be filtered.
    li_rows += [
        (20, "R", datetime.date(1996, 3, 31)),
        (0, "R", datetime.date(1996, 1, 1)),
        (7, "R", datetime.date(1995, 3, 1)),
        (7, "R", datetime.date(1997, 2, 1)),
    ]
    o_rows = []
    for k in range(300):
        o_rows.append(
            (
                k,
                round(rng.uniform(10, 5000), 2),
                d0 + datetime.timedelta(days=rng.randrange(200)),
            )
        )
    # Orders exactly ON a window start and a window end date.
    o_rows += [(300, 100.0, datetime.date(1996, 1, 1)),
               (301, 100.0, datetime.date(1996, 4, 27))]
    sf = str(tmp_path / "sf")
    spark.createDataFrame(
        li_rows, "l_orderkey long, l_returnflag string, l_shipdate date"
    ).write.parquet(f"{sf}/lineitem.parquet")
    spark.createDataFrame(
        o_rows, "o_orderkey long, o_totalprice double, o_orderdate date"
    ).write.parquet(f"{sf}/orders.parquet")

    from pyspark.sql import functions as F

    got = {
        r.week_bin: (r.n_pairs, r.n_orders, round(r.revenue, 6))
        for r in plans.QUERIES["join_range_binned"](spark, sf).collect()
    }
    li = (
        spark.read.parquet(f"{sf}/lineitem.parquet")
        .where(
            (F.col("l_returnflag") == "R")
            & (F.year("l_shipdate") == 1996)
            & (F.quarter("l_shipdate") == 1)
        )
        .select(
            F.col("l_shipdate").alias("start_d"),
            F.expr(
                "date_add(l_shipdate, CAST(7 + l_orderkey % 21 AS INT))"
            ).alias("end_d"),
        )
    )
    o = spark.read.parquet(f"{sf}/orders.parquet")
    naive = (
        li.join(
            o, F.col("o_orderdate").between(F.col("start_d"), F.col("end_d"))
        )
        .groupBy(
            F.expr("datediff(o_orderdate, DATE '1992-01-01') DIV 7").alias(
                "week_bin"
            )
        )
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.countDistinct("o_orderkey").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast(MONEY)).cast("double").alias(
                "revenue"
            ),
        )
    )
    want = {
        r.week_bin: (r.n_pairs, r.n_orders, round(r.revenue, 6))
        for r in naive.collect()
    }
    assert got == want and got, f"census != naive: {got} vs {want}"


def test_ngram_prefix_is_the_boilerplate_knob(spark, tmp_path):
    """Executable evidence for the SCALE.md round-9 claim that
    dedup_ngram_prefix (PPJoin prefix filtering) is THE production knob for
    boilerplate-heavy corpora, where the exact inverted-index jaccard's
    Σ C(L,2) posting fan-out goes quadratic (VERDICT r9 item 7).

    Fixture: every doc opens with the same 6-word boilerplate preamble (the
    real-corpus shape — footers, license headers, cookie banners), followed
    by doc-unique words; one genuine near-dup pair (docs 9000/9001) hides
    in the tail. Three pins:
      1. both exact paths agree and find exactly the planted pair;
      2. the plain posting join pays a C(L,2) fan-out on the boilerplate
         shingles that dwarfs the true-pair volume (the quadratic wall);
      3. under the documented (df ASC, shingle) prefix order, EVERY
         boilerplate shingle falls outside every doc's prefix, so the
         prefix-restricted posting fan-out collapses to the rare-shingle
         scale — the structural reason the knob works.
    """
    import math

    n_docs = 120
    boiler = "terms of service apply all rights"
    rows = []
    for i in range(n_docs):
        uniq = " ".join(f"u{i}w{j}" for j in range(24))
        rows.append((i, "web", f"{boiler} {uniq}"))
    shared = " ".join(f"dupw{j}" for j in range(24))
    rows.append((9000, "web", f"{boiler} {shared}"))
    rows.append((9001, "web", f"{boiler} {shared} extra"))
    sf = str(tmp_path / "sf")
    spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    ).write.parquet(f"{sf}/documents.parquet")

    # (1) Same exact semantics on the skewed shape, planted pair found.
    plain = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in plans.QUERIES["dedup_ngram_jaccard"](spark, sf).collect()
    }
    prefix = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in plans.QUERIES["dedup_ngram_prefix"](spark, sf).collect()
    }
    assert plain == prefix
    assert set(plain) == {(9000, 9001)} and plain[(9000, 9001)] >= 0.4

    # (2)+(3) The structural claim, computed from the fixture under the
    # documented rules (word-3-gram distinct shingles; prefix length
    # n - ceil(t*n) + 1 over the (df ASC, shingle) total order).
    def shingles(text):
        toks = text.split(" ")
        return list(dict.fromkeys(
            " ".join(toks[k:k + 3]) for k in range(len(toks) - 2)
        ))

    docs = {doc_id: shingles(text) for doc_id, _src, text in rows}
    df_count: dict[str, int] = {}
    for sh in docs.values():
        for s in sh:
            df_count[s] = df_count.get(s, 0) + 1
    boiler_shingles = {s for s, c in df_count.items() if c == len(docs)}
    assert len(boiler_shingles) == 4  # the 6-word preamble's 3-grams

    def fanout(postings):
        return sum(c * (c - 1) // 2 for c in postings.values())

    full_post = df_count  # shingles are distinct per doc: df == posting len
    t = 0.4
    pref_post: dict[str, int] = {}
    for sh in docs.values():
        ordered = sorted(sh, key=lambda s: (df_count[s], s))
        plen = len(sh) - math.ceil(t * len(sh)) + 1
        for s in ordered[:plen]:
            pref_post[s] = pref_post.get(s, 0) + 1
        # (3) hot shingles fall outside every prefix:
        assert not boiler_shingles & set(ordered[:plen])
    # (2) the plain path's pair fan-out is dominated by boilerplate and is
    # ~quadratic in corpus size; the prefix path's is rare-shingle flat.
    boiler_pairs = sum(
        full_post[s] * (full_post[s] - 1) // 2 for s in boiler_shingles
    )
    assert boiler_pairs >= 4 * (n_docs * (n_docs - 1) // 2)
    assert fanout(full_post) >= boiler_pairs
    # Prefix-restricted postings: only the planted pair's shared shingles
    # collide, so the candidate fan-out is the true-pair scale, not N².
    assert fanout(pref_post) <= 30


def test_ngram_jaccard_id_space_guard_trips_loudly(spark, tmp_path):
    """The packed-long pair key assumes doc_id ∈ [0, 2^31). ADVICE r9: a
    max-only assert let NEGATIVE ids through to silent pack/unpack
    corruption (DIV floors toward -inf, pmod wraps → wrong pair
    recovered). Both bounds must now fail LOUDLY at execution."""
    import pytest as _pytest

    text = "alpha beta gamma delta epsilon"  # shared → one posting, len 2
    for bad_id in (-5, 2**31 + 7):
        sf = str(tmp_path / f"sf_{bad_id}")
        spark.createDataFrame(
            [(bad_id, "web", text), (1, "web", text)],
            "doc_id long, source string, text string",
        ).write.parquet(f"{sf}/documents.parquet")
        with _pytest.raises(Exception, match="dedup_ngram_jaccard"):
            plans.QUERIES["dedup_ngram_jaccard"](spark, sf).collect()


def test_bag_pair_counts_matches_brute_force(spark):
    """The packed-key pair count against a Python count over C(L,2) pairs
    of generated sorted distinct bags: single-element bags emit nothing, a
    pair shared by several bags counts once per bag, and a largest id in
    [2^31, 2^32) still unpacks exactly (the low word of the packed key —
    the fixtures' ids never reach it)."""
    import random
    from collections import Counter
    from itertools import combinations

    from hybrid_nutrition_data_pipeline_batch_streaming_spark.operators.blocking import (
        bag_pair_counts,
    )

    rng = random.Random(7)
    big = [2**31, 2**31 + 3, 2**32 - 1]
    bags = [[5], [2**32 - 1], [2, 9], [2, 9, 11], [0, 2, 9, 2**32 - 1], [9, 2**32 - 1]]
    for _ in range(60):
        bag = sorted(rng.sample(range(40), rng.randint(1, 6)))
        if rng.random() < 0.4:
            bag.append(rng.choice(big))
        bags.append(bag)
    want = Counter(p for bag in bags for p in combinations(bag, 2))
    df = spark.createDataFrame([(b,) for b in bags], "ds array<bigint>")
    got = {
        (r.a, r.b): r.n for r in bag_pair_counts(df, "ds", "a", "b", "n").collect()
    }
    assert want[(2, 9)] >= 3 and want[(9, 2**32 - 1)] >= 2  # shared pairs
    assert got == dict(want)


def test_multiprobe_emits_identical_docs_exactly_once(spark, tmp_path):
    """The r10 fused multiprobe replaces the cross-probe DISTINCT with a
    first-probe-wins predicate. The sharpest case: IDENTICAL documents
    have identical signatures and collide on ALL 8 probes — the pair must
    appear exactly once (hamming 0), proving the predicate dedups where
    the old plan needed the distinct. Unrelated docs must not pair."""
    rows = [
        (1, "web", "alpha beta gamma delta epsilon zeta"),
        (2, "web", "alpha beta gamma delta epsilon zeta"),  # identical → all-probe collision
        (3, "web", "alpha beta gamma delta epsilon zeta"),  # three-way
        (4, "web", "totally different words about other topics entirely"),
    ]
    sf = str(tmp_path / "sf")
    spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    ).write.parquet(f"{sf}/documents.parquet")
    out = plans.QUERIES["dedup_simhash_multiprobe"](spark, sf).collect()
    pairs = sorted((r.doc_a, r.doc_b, r.hamming) for r in out)
    assert pairs == [(1, 2, 0), (1, 3, 0), (2, 3, 0)]


def test_retention_cohorts_fused_window_matches_join_form(spark, tmp_path):
    """The r10 fusion of retention_cohorts (one scan + per-user MIN window,
    COUNT(*) over distinct user-months) must equal the two-scan
    firsts-join-back form on MULTI-month data — the shipped fixtures span
    a single month, so the oracle gate alone never exercises a cohort
    aging across months or a returning user counted once per month."""
    import datetime

    rows, eid = [], 0
    base = datetime.datetime(2024, 1, 15)
    # user 1: active Jan, Feb, Apr (gap month); user 2: Jan only;
    # user 3: joins Feb, active Mar twice (distinct must collapse);
    # user 4: NULL-user twin excluded by contract (non-null here).
    plan = {1: [0, 1, 3], 2: [0], 3: [1, 2, 2]}
    for u, months in plan.items():
        for m in months:
            eid += 1
            rows.append((eid, u, base + datetime.timedelta(days=31 * m), "click", 1.0))
    sf = str(tmp_path / "sf")
    spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp_ntz, event_type string, value double"
    ).write.parquet(f"{sf}/events.parquet")

    got = {
        (str(r.cohort_month), r.months_since, r.active_users)
        for r in plans.QUERIES["retention_cohorts"](spark, sf).collect()
    }
    ev = spark.read.parquet(f"{sf}/events.parquet").select(
        "user_id", F.trunc(F.col("ts").cast("timestamp"), "month").alias("am")
    )
    firsts = ev.groupBy("user_id").agg(F.min("am").alias("cm"))
    ref = {
        (str(r.cm), r.ms, r.n)
        for r in ev.distinct()
        .join(firsts, "user_id")
        .groupBy(
            "cm",
            ((F.year("am") - F.year("cm")) * 12 + (F.month("am") - F.month("cm"))).alias("ms"),
        )
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    assert got == ref
    # the shape the fixture can't show: a January cohort aging 3 months
    assert ("2024-01-01", 3, 1) in got


def test_dfcut_is_the_boilerplate_knob(spark, tmp_path):
    """Contract pin for dedup_ngram_jaccard_dfcut (VERDICT r10 item 3b):
    the df-cutoff drops boilerplate postings BEFORE pair enumeration, so
    (1) a pair whose agreement is boilerplate-only is NOT reported even at
    jaccard >= 0.4 (the documented recall loss, concentrated exactly on
    the pairs a dedup pipeline ignores), (2) a genuine rare-shingle
    near-dup IS reported with its TRUE full-shingle jaccard, and (3) every
    posting surviving the cutoff has C(L,2) fan-out bounded by
    C(cutoff,2) — the skew-proof property prose promised in the base
    query's guard docstring."""
    from hybrid_nutrition_data_pipeline_batch_streaming_spark.plans.dedup import (
        NGRAM_DF_CUTOFF_DIV,
        NGRAM_DF_CUTOFF_MIN,
    )

    boiler = "terms of service apply all rights reserved worldwide"
    rows = []
    for i in range(60):  # boilerplate df = 62 >> cutoff
        uniq = " ".join(f"u{i}w{j}" for j in range(24))
        rows.append((i, "web", f"{boiler} {uniq}"))
    # Boilerplate-only pair: each doc is the preamble + ONE unique word —
    # true jaccard is high, but every SHARED shingle is boilerplate.
    rows.append((9000, "web", f"{boiler} only9000"))
    rows.append((9001, "web", f"{boiler} only9001"))
    # Rare near-dup pair: shares 24 words nobody else has (df = 2 <= cutoff).
    shared = " ".join(f"dupw{j}" for j in range(24))
    rows.append((9100, "web", shared))
    rows.append((9101, "web", f"{shared} extra"))
    sf = str(tmp_path / "sf")
    spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    ).write.parquet(f"{sf}/documents.parquet")

    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in plans.QUERIES["dedup_ngram_jaccard"](spark, sf).collect()
    }
    cut = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in plans.QUERIES["dedup_ngram_jaccard_dfcut"](spark, sf).collect()
    }
    # The exact query sees both planted pairs. The filtered-representation
    # contract drops every boilerplate shingle (df = 62 > cutoff), so docs
    # 9000/9001 — boilerplate plus ONE unique word each — fall below the
    # min-signal floor entirely and their pair vanishes; the rare-shingle
    # pair survives with the FILTERED jaccard (1.0: every df-2 shingle of
    # 9100 is shared with 9101; 9101's 'extra' shingles are df-1 and out
    # of the representation on both engines).
    assert (9000, 9001) in exact and (9100, 9101) in exact
    assert set(cut) == {(9100, 9101)}
    assert cut[(9100, 9101)] == 1.0
    # (3) structural: post-cutoff fan-out is constant per posting.
    def shingles(text):
        toks = text.split(" ")
        return set(" ".join(toks[k:k + 3]) for k in range(len(toks) - 2))

    df_count: dict[str, int] = {}
    for _i, _src, text in rows:
        for s in shingles(text):
            df_count[s] = df_count.get(s, 0) + 1
    # Corpus-scaled cutoff: at this corpus size the floor applies.
    cutoff = max(NGRAM_DF_CUTOFF_MIN, len(rows) // NGRAM_DF_CUTOFF_DIV)
    assert cutoff == NGRAM_DF_CUTOFF_MIN
    surviving = {s: c for s, c in df_count.items() if 2 <= c <= cutoff}
    assert surviving  # the rare pair's shared shingles survive
    assert max(c * (c - 1) // 2 for c in surviving.values()) <= (
        cutoff * (cutoff - 1) // 2
    )
    # boilerplate postings are all gone
    assert all(c <= cutoff or s not in surviving for s, c in df_count.items())


def test_multiprobe_wide_recall_contract(spark):
    """Contract pin for dedup_simhash_multiprobe_wide (VERDICT r10 item 3a),
    computed INDEPENDENTLY of the oracle: collect the signature table at
    sf0.001, enumerate all pairs in Python, and check the query returns
    exactly {hamming <= 6 AND at least one 16-bit block equal} — each pair
    once (first-probe-wins across the 4 probes), a strict subset of the
    8-bit multiprobe's complete recall on this fixture."""
    from hybrid_nutrition_data_pipeline_batch_streaming_spark.catalog import Catalog
    from hybrid_nutrition_data_pipeline_batch_streaming_spark.plans.dedup import (
        HAMMING_MAX,
        simhash_signatures,
    )

    sf = "/root/testdata/sf0.001"
    sig = {
        r.doc_id: (r.w0, r.w1)
        for r in simhash_signatures(
            Catalog(spark, sf).documents.select("doc_id", "text")
        ).collect()
    }

    def blocks(w0, w1):
        return (w0 >> 16, w0 & 0xFFFF, w1 >> 16, w1 & 0xFFFF)

    ids = sorted(sig)
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            (a0, a1), (b0, b1) = sig[a], sig[b]
            ham = bin(a0 ^ b0).count("1") + bin(a1 ^ b1).count("1")
            if ham <= HAMMING_MAX and any(
                x == y for x, y in zip(blocks(a0, a1), blocks(b0, b1))
            ):
                want[(a, b)] = ham

    rows = plans.QUERIES["dedup_simhash_multiprobe_wide"](spark, sf).collect()
    got = [(r.doc_a, r.doc_b, r.hamming) for r in rows]
    assert len(got) == len(set((a, b) for a, b, _ in got))  # exactly once
    assert {(a, b): h for a, b, h in got} == want
    # And the contract is a genuine restriction of complete recall here.
    full = {
        (r.doc_a, r.doc_b)
        for r in plans.QUERIES["dedup_simhash_multiprobe"](spark, sf).collect()
    }
    assert set(want) < full


def test_kcore_fixpoint_fill_matches_full_peel(spark, tmp_path):
    """r11 kcore early-exit: when a peel round drops no node, the loop
    fills the remaining census rows instead of rewriting the edge set
    (survivor-count == node-count is a sound set-equality test under
    monotone peeling). Pin both terminal regimes on graphs where the
    fixpoint fires EARLY: a dense biclique (nothing ever peels — round-1
    exit must still emit all KCORE_ROUNDS identical rows) and a sparse
    star (cascades to empty, then stays all-zero)."""
    from hybrid_nutrition_data_pipeline_batch_streaming_spark.plans.graph import (
        KCORE_K,
        KCORE_ROUNDS,
    )

    # Dense: complete bipartite K(15,15) — every degree 15 >= K=12.
    rows = []
    ok = 0
    for c in range(1, 16):
        for s in range(1, 16):
            ok += 1
            rows.append((ok, c, s))
    sf = str(tmp_path / "dense")
    spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, l_suppkey long"
    ).selectExpr("o_orderkey", "o_custkey").write.parquet(f"{sf}/orders.parquet")
    spark.createDataFrame(
        rows, "l_orderkey long, o_custkey long, l_suppkey long"
    ).selectExpr("l_orderkey", "l_suppkey").write.parquet(f"{sf}/lineitem.parquet")
    got = sorted(
        (r["round"], r.n_nodes, r.n_edges)
        for r in plans.QUERIES["graph_kcore"](spark, sf).collect()
    )
    assert KCORE_K <= 15  # the fixture premise: nothing peels
    assert got == [(i, 30, 450) for i in range(1, KCORE_ROUNDS + 1)]

    # Sparse: star — every leaf degree 1 < K, cascades to empty by round
    # 1 and the all-zero fixpoint fills the rest.
    star = [(i, 1, i) for i in range(1, 9)]
    sf2 = str(tmp_path / "sparse")
    spark.createDataFrame(
        star, "o_orderkey long, o_custkey long, l_suppkey long"
    ).selectExpr("o_orderkey", "o_custkey").write.parquet(f"{sf2}/orders.parquet")
    spark.createDataFrame(
        star, "l_orderkey long, o_custkey long, l_suppkey long"
    ).selectExpr("l_orderkey", "l_suppkey").write.parquet(f"{sf2}/lineitem.parquet")
    got2 = sorted(
        (r["round"], r.n_nodes, r.n_edges)
        for r in plans.QUERIES["graph_kcore"](spark, sf2).collect()
    )
    assert got2 == [(i, 0, 0) for i in range(1, KCORE_ROUNDS + 1)]


class _CapturedCC(Exception):
    """Raised by the capturing stand-in once a caller's CC inputs are in."""


@pytest.mark.parametrize(
    "query_name",
    [
        "dedup_connected_components",
        "dedup_keep_best",
        "pipeline_corpus_build",
        "pipeline_drop_reasons",
        "er_golden_records",
    ],
)
def test_cc_edge_endpoints_are_nodes(spark, monkeypatch, query_name):
    """``connected_components`` seeds its labels from the edge endpoints and
    never semi-joins them against ``nodes`` (plans/graph.py, r13 loop
    rework), so every caller must pass edges whose endpoints are a subset
    of its nodes — an endpoint outside them would surface as a phantom
    cluster member. Capture the exact (nodes, edges) pair each caller
    hands over and anti-join the endpoints against the nodes."""
    from hybrid_nutrition_data_pipeline_batch_streaming_spark.plans import (
        corpus,
        graph,
    )

    captured = []

    def capture(nodes, edges, *args, **kwargs):
        captured.append((nodes, edges))
        raise _CapturedCC

    # curation/textmatch import it from plans.graph at call time; corpus
    # binds it at module import.
    monkeypatch.setattr(graph, "connected_components", capture)
    monkeypatch.setattr(corpus, "connected_components", capture)
    with pytest.raises(_CapturedCC):
        plans.QUERIES[query_name](spark, SF)
    (nodes, edges), = captured
    ends = edges.select(F.explode(F.array("doc_a", "doc_b")).alias("doc_id"))
    assert ends.count() > 0, "vacuous: the caller produced no edges"
    assert ends.join(nodes.select("doc_id"), "doc_id", "left_anti").count() == 0
