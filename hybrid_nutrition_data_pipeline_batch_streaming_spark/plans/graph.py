"""Connected-components dedup clustering (SURVEY.md §2.11 X2 — the step
after pair generation).

Every near-dup detector in plans/dedup.py emits PAIRS; a real training-data
pipeline must then pick one canonical document per duplicate CLUSTER (pairs
(a,b),(b,c) must collapse to one survivor, not two). That grouping is
connected components over the pair graph — an iterative algorithm, computed
here with Pregel-style min-label propagation in plain DataFrame ops:

    label(v) ← min(label(v), min over neighbors u of label(u))

repeated to fixpoint. Each round is one equi-join (edges × labels) plus one
groupBy-min — both shuffle on doc_id, and AQE handles the skew of a giant
cluster's hub. Rounds needed = the graph diameter; near-dup clusters are
shallow (duplicates of a common source), so convergence is a handful of
rounds. At extreme scale the same loop upgrades to the large-star/small-star
algorithm (Kiveris et al., "Connected Components in MapReduce"), which
bounds rounds at O(log n) with the identical per-round plan shape.

The per-round convergence check is one driver-side aggregation (the exact
decimal label sum, which strictly decreases until the fixpoint) — the
canonical exception to "no driver actions": iterative fixpoints need a loop
condition. The oracle computes the same components with a recursive CTE
(transitive closure → min reachable id), so even this iterative operator is
value-checked, not rows-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import Catalog
from ..operators.blocking import bag_pair_counts, packable
from ..session import checkpoint_truncate, scratch_checkpoint
from .dedup import banded_minhash_pairs
from .registry import ORACLE, query

MAX_ROUNDS = 15  # >> near-dup cluster diameter; loop exits early on fixpoint


def connected_components(
    nodes: DataFrame, edges: DataFrame, max_rounds: int = MAX_ROUNDS
) -> DataFrame:
    """(doc_id, cluster_rep): min doc_id reachable from each node over the
    undirected edge set. ``nodes`` must have column doc_id; ``edges``
    columns doc_a/doc_b.

    ``doc_id`` must be NUMERIC: the O(1)-per-round convergence test sums
    labels, and a non-numeric label would cast to NULL and silently end
    the loop after one round (string keys should be mapped to dense ids
    first — see ``er_golden_records`` for the pattern)."""
    if dict(nodes.dtypes).get("doc_id") not in ("bigint", "int", "smallint"):
        raise ValueError(
            "connected_components requires a numeric doc_id; map string "
            f"keys to ids first (got {dict(nodes.dtypes).get('doc_id')})"
        )
    # Lineage cut (not persist): pair generation sits on a DEEP plan
    # (shingling → minhash → band joins → Jaccard verify, itself over gated
    # inputs), and an iterative loop re-submits its lineage to Catalyst on
    # EVERY action. Caching dodges re-execution but not re-analysis — with
    # the corpus-build gates upstream, each tiny round cost 2-4.5 s of
    # driver-side plan optimization (measured at sf0.1) vs 0.4 s truncated.
    # On a cluster this is the GraphFrames pattern (periodic checkpointing
    # inside iteration); swap for reliable checkpoint() when a fault-tolerant
    # checkpoint dir is configured.
    # Checkpoint ONE orientation, mirror it reader-side (the
    # graph_bfs_khop pattern, round 5): half the checkpoint write for a
    # column swap the scan does for free. This first cut stays EAGER — it
    # materializes the expensive pair build, which the mirror union below
    # references twice (the r12 race rule).
    e_ck = checkpoint_truncate(
        edges.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )
    und = e_ck.union(
        e_ck.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # Only edge-touched nodes can ever change label — every other node is a
    # fixpoint at round 0. Iterate over the edge subgraph (near-dup graphs
    # are a sliver of the corpus at any scale) and union the untouched
    # nodes back as self-labeled singletons at the end.
    #
    # r13 loop-control rework (guide §1.2 — the loop was JOB-COUNT bound at
    # small fixtures: 1.28 s for a 255-edge graph, ~9 jobs of fixed
    # overhead each):
    # - edge endpoints come from ONE map-side explode of the cached single
    #   orientation (the und form scanned the mirror union and shuffled
    #   both copies into the distinct);
    # - the initial labels ARE the edge endpoints labeled with themselves:
    #   edge endpoints are a subset of ``nodes`` for every caller (pair
    #   tables are generated BETWEEN the caller's own nodes), so the old
    #   nodes⋈edge_nodes semi-join — and its separate eager cut — was the
    #   identity;
    # - the per-round cut and the per-round convergence collect fuse into
    #   ONE job: the cut is lazy (plan truncation still immediate), and the
    #   sum collect right after it materializes AND caches the blocks. The
    #   loop's consumers are strictly sequential (collect, then next
    #   round's single join leg), so the r12 concurrent-leg race that
    #   forbids lazy persists cannot occur here.
    # Measured (sf0.1, interleaved A/B on prebuilt pairs, min-of-4): the
    # CC stage alone 1.03 → 0.89 s — modest here (the per-job overhead is
    # smaller than profiled), kept because the job count halves and the
    # M=100 loop runs more rounds. Labels bit-identical (integer
    # min-propagation; all 6 CC consumers oracle-green after the change).
    edge_nodes = checkpoint_truncate(
        e_ck.select(F.explode(F.array("src", "dst")).alias("doc_id"))
        .distinct(),
        eager=False,
    )
    singletons = nodes.select("doc_id").join(
        edge_nodes, "doc_id", "left_anti"
    ).select("doc_id", F.col("doc_id").alias("label"))
    labels = edge_nodes.select("doc_id", F.col("doc_id").alias("label"))
    # Min-label propagation only ever DECREASES labels, so the label sum
    # strictly decreases until the fixpoint — comparing sums is a complete
    # convergence test and costs one aggregation per round (no join against
    # the previous labels). decimal(38,0) keeps the sum exact at any corpus
    # size where sum(doc_id)·rounds could overflow a bigint.
    prev_sum = labels.agg(
        F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
    ).collect()[0][0]
    for _ in range(max_rounds):
        prop = und.join(
            labels.withColumnRenamed("doc_id", "src"), "src"
        ).select(F.col("dst").alias("doc_id"), "label")
        # Stays checkpoint_truncate (NOT the kcore peel-round
        # localCheckpoint): measured at M=100 on dedup_keep_best, forcing
        # localCheckpoint here was 45.2 s vs 41.6 s — the per-round labels
        # cover only the edge-touched node sliver, so the reliable write
        # was never the cost the way kcore's 60 M-edge survivor sets were.
        new_labels = checkpoint_truncate(
            labels.union(prop).groupBy("doc_id").agg(F.min("label").alias("label")),
            eager=False,
        )
        new_sum = new_labels.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        ).collect()[0][0]
        labels = new_labels
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    return (
        labels.unionByName(singletons).withColumnRenamed("label", "cluster_rep")
    )


def doc_pair_edges(docs: DataFrame) -> DataFrame:
    """(doc_a, doc_b): the verified banded-MinHash near-dup pair graph over
    any (doc_id, text, ...) frame — the edge base of the document-cluster
    family and of the corpus pipelines' near-dup stage."""
    return banded_minhash_pairs(docs.select("doc_id", "text")).select(
        "doc_a", "doc_b"
    )


def cust_supp_edges(cat: Catalog) -> DataFrame:
    """(custkey, suppkey): the DISTINCT customer→supplier fulfillment edges
    from orders⋈lineitem — the edge base of ``graph_pagerank``,
    ``graph_kcore``, ``recursive_path_counts`` and ``path_counts_census``.
    Raw key pairs: each consumer applies its own node encoding map-side."""
    return (
        cat.orders.select("o_orderkey", "o_custkey")
        .join(
            cat.lineitem.select("l_orderkey", "l_suppkey"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("l_suppkey").alias("suppkey"),
        )
        .distinct()
    )


def _cc_oracle() -> str:
    edges_sql = ORACLE["dedup_minhash_banded"].strip()
    return f"""
    WITH RECURSIVE edges AS (
        SELECT doc_a, doc_b FROM ({edges_sql}) pairs
    ), und AS (
        SELECT doc_a AS src, doc_b AS dst FROM edges
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM edges
    ), comp(doc, reach) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT c.doc, u.dst FROM comp c JOIN und u ON u.src = c.reach
    ), labels AS (
        SELECT doc, MIN(reach) AS rep FROM comp GROUP BY doc
    )
    SELECT l.doc AS doc_id, l.rep AS cluster_rep,
           CAST(s.cnt AS BIGINT) AS cluster_size,
           CAST(l.doc = l.rep AS INT) AS keep
    FROM labels l
    JOIN (SELECT rep, COUNT(*) AS cnt FROM labels GROUP BY rep) s
      ON s.rep = l.rep
    """


#: Fixed-point scale for PageRank micro-units: ranks live in [0, 1], so a
#: unit of 1e-15 keeps ~15 significant digits while every intermediate
#: (unit × 85, unit sums over a node's in-edges) stays far inside int64.
PR_SCALE = 10**15
PR_ROUNDS = 3


def _pagerank_round_sql(i: int) -> str:
    """One unrolled PageRank round in pure integer arithmetic."""
    return f"""
    contrib{i} AS (
        SELECT u.dst AS node, SUM(r.units // u.deg) AS s
        FROM und_deg u JOIN r{i - 1} r ON u.src = r.node
        GROUP BY u.dst
    ), r{i} AS (
        SELECT n.node,
               (15 * {PR_SCALE}::BIGINT) // (100 * (SELECT cnt FROM nn))
                   + (85 * COALESCE(c.s, 0)) // 100 AS units
        FROM nodes n LEFT JOIN contrib{i} c ON n.node = c.node
    )"""


def _pagerank_oracle() -> str:
    rounds = ", ".join(_pagerank_round_sql(i) for i in range(1, PR_ROUNDS + 1))
    return f"""
    WITH edges AS (
        SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ), und AS (
        SELECT src, dst FROM edges
        UNION ALL
        SELECT dst AS src, src AS dst FROM edges
    ), deg AS (
        SELECT src, COUNT(*) AS deg FROM und GROUP BY src
    ), und_deg AS (
        SELECT u.src, u.dst, d.deg FROM und u JOIN deg d ON u.src = d.src
    ), nodes AS (
        SELECT DISTINCT src AS node FROM und
    ), nn AS (
        SELECT COUNT(*) AS cnt FROM nodes
    ), r0 AS (
        SELECT node, {PR_SCALE}::BIGINT // (SELECT cnt FROM nn) AS units
        FROM nodes
    ), {rounds}
    -- DuckDB's SUM over BIGINT yields HUGEINT, which pandas renders as
    -- float64 — cast back to BIGINT so the driver sees int64 like Spark.
    SELECT node, CAST(units AS BIGINT) AS rank_units,
           CAST(units AS DOUBLE) / {PR_SCALE} AS rank
    FROM r{PR_ROUNDS}
    """


@query("graph_pagerank", oracle=_pagerank_oracle())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the customer↔supplier fulfillment graph (edges from
    orders⋈lineitem, traversed both ways), three power-iteration rounds
    with damping 0.85 — in FIXED-POINT integer arithmetic: ranks are int64
    micro-units (1e-15), per-edge contributions are integer division by
    out-degree, and damping is ×85 DIV 100. Every operation is exact and
    associative, so the result is bit-identical under any partitioning, in
    any engine — the same reproducible-reduction discipline as the
    integer-cents streaming state, applied to an iterative algorithm
    (IEEE-double PageRank diverges across engines in the low bits and is
    the classic irreproducibility trap at cluster scale).

    Plan shape: the degree-annotated edge list is lineage-cut once
    and re-joined per round; with a FIXED round count there are no
    per-round convergence actions, so all rounds compose into ONE
    lazy plan — per-round shuffles are equi-joins and groupBy-sums on the
    node id, exactly the Pregel schedule."""
    # Node ids are parity-encoded LONGS internally (customer→2k,
    # supplier→2k+1, like graph_bfs_khop) — every per-round shuffle keys
    # on the node id, and fixed 8-byte keys hash/compare/ship cheaper
    # than 'c123'/'s45' strings; the string ids are reconstructed only in
    # the final projection so the output (and oracle) are unchanged.
    # r12 fusion (guide §2.4 — two operations keyed the same way share one
    # exchange): the und mirror is ONE map-side explode of the single
    # stored orientation (consumes the unmaterialized join+distinct once,
    # so the pre-mirror checkpoint the union form needed disappears), and
    # the degree annotation is a COUNT window over the same src
    # partitioning instead of a groupBy + self-join (one shuffle, not
    # three). The whole distillation → mirror → degree chain is a single
    # eager cut; measured 3.37 → 2.67 s cold at sf0.1, ranks bit-identical
    # (integer arithmetic — the window count equals the groupBy count).
    e = cust_supp_edges(Catalog(spark, sf_dir)).select(
        (F.col("custkey") * 2).alias("src"),
        (F.col("suppkey") * 2 + 1).alias("dst"),
    )
    und = e.select(
        F.explode(
            F.array(
                F.struct(F.col("src").alias("s"), F.col("dst").alias("d")),
                F.struct(F.col("dst").alias("s"), F.col("src").alias("d")),
            )
        ).alias("p")
    ).select(F.col("p.s").alias("src"), F.col("p.d").alias("dst"))
    und_deg = checkpoint_truncate(
        und.withColumn("deg", F.count("*").over(Window.partitionBy("src")))
    )
    nodes = checkpoint_truncate(
        und_deg.select(F.col("src").alias("node")).distinct()
    )
    n = nodes.count()  # scalar graph size — bounded, not a data collect

    base = (15 * PR_SCALE) // (100 * n)
    ranks = nodes.select(
        "node", F.lit(PR_SCALE // n).cast("long").alias("units")
    )
    for _ in range(PR_ROUNDS):
        contrib = (
            und_deg.join(ranks.withColumnRenamed("node", "src"), "src")
            .select(
                F.col("dst").alias("node"),
                F.expr("units DIV deg").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        ranks = nodes.join(contrib, "node", "left").select(
            "node",
            (
                F.lit(base) + F.expr("(85 * coalesce(s, 0L)) DIV 100")
            ).cast("long").alias("units"),
        )
    return ranks.select(
        F.concat(
            F.when(F.col("node") % 2 == 0, F.lit("c")).otherwise(F.lit("s")),
            F.expr("node DIV 2").cast("string"),
        ).alias("node"),
        F.col("units").alias("rank_units"),
        (F.col("units").cast("double") / PR_SCALE).alias("rank"),
    )


@query("dedup_connected_components", oracle=_cc_oracle())
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster canonicalization (X2): connected components over the
    verified MinHash-banded pair graph; every document maps to its cluster's
    min doc_id. ``keep`` marks the one survivor per cluster — the actual
    keep/drop decision a dedup pipeline ships. Singletons (no near-dup) keep
    themselves, so this is a total map over the corpus."""
    cat = Catalog(spark, sf_dir)
    labels = connected_components(
        cat.documents.select("doc_id"), doc_pair_edges(cat.documents)
    )
    sizes = labels.groupBy("cluster_rep").agg(F.count("*").alias("cluster_size"))
    return (
        labels.join(sizes, "cluster_rep")
        .select(
            "doc_id",
            "cluster_rep",
            "cluster_size",
            (F.col("doc_id") == F.col("cluster_rep")).cast("int").alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# Triangle enumeration over the near-dup graph
# ---------------------------------------------------------------------------

def _triangles_oracle() -> str:
    edges_sql = ORACLE["dedup_minhash_banded"].strip()
    return f"""
    WITH E AS (
        SELECT doc_a, doc_b FROM ({edges_sql}) pairs
    )
    SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
    FROM E e1
    JOIN E e2 ON e2.doc_a = e1.doc_b
    JOIN E e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
    """


@query("graph_triangles", oracle=_triangles_oracle())
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle enumeration over the near-duplicate graph (the graph-analytic
    companion to connected components): a triangle (a, b, c) means three
    documents that are pairwise near-dups — evidence of a template/boilerplate
    family rather than a chance collision, the signal dedup pipelines use to
    prioritize cluster review.

    Plan: the verified pair list (doc_a < doc_b from the banded-minhash
    equi-joins) is canonically oriented, so each triangle is found exactly
    once by two hash joins — e1(a,b) ⋈ e2(b,c) ⋈ e3(a,c) with a<b<c by
    construction. No orientation dedup pass is needed.

    Scale: this is the standard distributed triangle enumeration (join the
    edge list with itself on the shared endpoint, then close the wedge with
    a hash probe of the third edge). Edge lists from near-dup detection are
    sparse — wedge counts stay near-linear — and the canonical a<b ordering
    already implements the "orient by degree" trick's worst case; at 100 TB
    add the degree-ordering refinement to bound skew from hub nodes."""
    # r12: eager lineage cut instead of a lazy .persist() — the three
    # self-join legs materialize concurrently and raced to compute the
    # uncached pair table (measured 1.98 → 1.74 s cold at sf0.1; exec
    # 0.56 → 0.12 s with the build paid once at construction).
    edges = checkpoint_truncate(doc_pair_edges(Catalog(spark, sf_dir).documents))
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    return (
        e1.join(e2, F.col("e2.doc_a") == F.col("e1.doc_b"))
        .join(
            e3,
            (F.col("e3.doc_a") == F.col("e1.doc_a"))
            & (F.col("e3.doc_b") == F.col("e2.doc_b")),
        )
        .select(
            F.col("e1.doc_a").alias("a"),
            F.col("e1.doc_b").alias("b"),
            F.col("e2.doc_b").alias("c"),
        )
    )


def _degrees_oracle() -> str:
    edges_sql = ORACLE["dedup_minhash_banded"].strip()
    return f"""
    WITH E AS (SELECT doc_a, doc_b FROM ({edges_sql}) pairs),
    und AS (
        SELECT doc_a AS node FROM E
        UNION ALL
        SELECT doc_b AS node FROM E
    ), deg AS (
        SELECT node, COUNT(*) AS degree FROM und GROUP BY node
    )
    SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM deg GROUP BY degree
    """


@query("graph_degrees", oracle=_degrees_oracle())
def graph_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the near-dup graph (the first thing to look
    at before running CC/PageRank at scale: a heavy-tailed distribution
    predicts skewed joins and drives the salting/degree-ordering choices
    the other graph ops document). Edge endpoints explode → ONE
    partial-agg count per node → one tiny re-aggregation into the
    histogram; output size is bounded by the max degree, not the graph.

    The endpoint fan-out is a single ``explode(array(a, b))`` — NOT a
    union of two projections of the edge frame: the edges come from the
    (expensive, unmaterialized) banded pair generation, and a union
    consumes that pipeline twice while the explode consumes it once
    (measured at M=100: 90.8 s → the pair-generation cost once)."""
    edges = doc_pair_edges(Catalog(spark, sf_dir).documents)
    und = edges.select(F.explode(F.array("doc_a", "doc_b")).alias("node"))
    deg = und.groupBy("node").agg(F.count("*").alias("degree"))
    return deg.groupBy("degree").agg(F.count("*").cast("long").alias("n_nodes"))


def _cluster_report_oracle() -> str:
    return f"""
    WITH cc AS ({_cc_oracle().strip()})
    SELECT cc.cluster_rep,
           CAST(COUNT(*) AS BIGINT) AS cluster_size,
           CAST(COUNT(DISTINCT d.lang) AS BIGINT) AS n_langs,
           CAST(SUM(d.n_chars) AS BIGINT) AS total_chars,
           MIN(d.doc_id) AS min_doc_id,
           MAX(d.doc_id) AS max_doc_id
    FROM cc JOIN documents d ON d.doc_id = cc.doc_id
    GROUP BY cc.cluster_rep
    HAVING COUNT(*) >= 2
    """


@query("dedup_cluster_report", oracle=_cluster_report_oracle())
def dedup_cluster_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup REVIEW report (what a data curator actually reads before
    signing off a dedup pass): per multi-document near-dup cluster — size,
    language spread (cross-language clusters flag translation/boilerplate
    families), byte mass reclaimed by keeping one survivor, and the id
    range. One equi-join of the CC labels onto the corpus metadata + one
    cluster-keyed aggregation; singletons excluded (nothing to review).
    Companion to `dedup_keep_best` (which picks the survivor) and
    `split_leakage_check` (which audits the split)."""
    from ..catalog import Catalog

    cc = dedup_connected_components(spark, sf_dir).select("doc_id", "cluster_rep")
    docs = Catalog(spark, sf_dir).documents.select("doc_id", "lang", "n_chars")
    return (
        cc.join(docs, "doc_id")
        .groupBy("cluster_rep")
        .agg(
            F.count("*").alias("cluster_size"),
            F.count_distinct("lang").alias("n_langs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .where(F.col("cluster_size") >= 2)
    )


#: k-core threshold: below the sf0.001 supplier degrees but inside the
#: sf0.01 degree distribution, so the census shows a full peel-out cascade
#: at the smallest fixture and a partial stable core at the larger ones.
KCORE_K = 12
KCORE_ROUNDS = 3


def _kcore_round_sql(i: int) -> str:
    """One unrolled peeling round: survivors by degree, then edge closure."""
    return f"""
    s{i} AS (
        SELECT node FROM n{i - 1} WHERE deg >= {KCORE_K}
    ), e{i} AS (
        SELECT u.src, u.dst FROM e{i - 1} u
        JOIN s{i} a ON u.src = a.node
        JOIN s{i} b ON u.dst = b.node
    ), n{i} AS (
        SELECT src AS node, COUNT(*) AS deg FROM e{i} GROUP BY src
    )"""


def _kcore_oracle() -> str:
    rounds = ", ".join(_kcore_round_sql(i) for i in range(1, KCORE_ROUNDS + 1))
    stats = "\nUNION ALL\n".join(
        f"""SELECT {i} AS round,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM s{i}) AS n_nodes,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM e{i}) AS n_edges"""
        for i in range(1, KCORE_ROUNDS + 1)
    )
    return f"""
    WITH edges AS (
        SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ), e0 AS (
        SELECT src, dst FROM edges
        UNION ALL
        SELECT dst AS src, src AS dst FROM edges
    ), n0 AS (
        SELECT src AS node, COUNT(*) AS deg FROM e0 GROUP BY src
    ), {rounds}
    {stats}
    """


@query("graph_kcore", oracle=_kcore_oracle())
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition by iterative peeling over the customer↔supplier
    fulfillment graph (same edge derivation as ``graph_pagerank``): each
    round drops every node whose current degree is below k={K}, removes the
    edges touching dropped nodes, and recomputes degrees — the standard
    densest-substructure primitive (community cores, spam-farm detection,
    graph sparsification before all-pairs work). The query emits the
    per-round census (surviving nodes / undirected edges), which is the
    audit artifact a pipeline actually records, stays non-empty even when
    the core peels to nothing (the sf0.001 regime — k exceeds most degrees
    and the cascade empties the graph), and makes the monotone shrink
    visible.

    Plan shape: a FIXED round count; per round two node-keyed semi-join
    filters plus one degree aggregate (the Pregel schedule), with the
    doubled edge list lineage-cut before fan-out AND each round's survivor
    edge set checkpointed (round-6: the census aggregates previously
    re-executed every earlier round's semi-joins, ≈2× the optimal work —
    SCALE.md M=100 339 s; per-round truncation makes each round read the
    prior round's materialized edges exactly once, the same discipline the
    CC loop uses). Exact integer counts — identical in any engine at any
    partitioning.

    r11 fixpoint early-exit: peeling is MONOTONE (survivor sets only
    shrink), so survivor-count == node-count is a sound set-equality
    test — when a round drops nothing, the edge set is unchanged and
    every remaining round's census row is identical by induction. The
    loop detects that with per-round scalar counts (the CC-loop
    precedent: iterative fixpoints need a driver-side loop condition;
    the collects are bounded single numbers) and fills the remaining
    rounds without recomputation. This is exactly the M=100 regime —
    the generated graph is dense, NO node peels at k={K}, and the old
    plan rewrote the full 60 M-edge survivor orientation three times
    for three identical rows. Both terminal regimes hit the exit: dense
    (nothing drops, round 1) and emptied (the sf0.001 cascade reaches
    the all-zero row and stays there).""".replace("{K}", str(KCORE_K))
    # Round-5: parity-encoded LONG node ids (the pagerank/BFS scheme) — the
    # output is a census, so ids never surface and every per-round semi-join
    # ships 8-byte keys instead of strings.
    # The initial edge set is cut with scratch_checkpoint — SERIALIZED
    # blocks, the primitive the r5/r8 M=100 study picked for this frame
    # class (the deserialized fallback OOMed the 8 g heap; the edge set is
    # read by the round-0 degree pass and the round-1 semi-joins).
    # r12 peel-loop rework (VERDICT r11 item 6): the census needs only the
    # NODE-DEGREE table per round, so (a) degrees come from ONE map-side
    # explode of the single orientation (the old union-with-self doubling
    # scanned the edge set twice per round for identical shuffle volume);
    # (b) the doubled-edge census count is Σdeg over the materialized
    # degree table (every doubled edge is counted exactly once by its src),
    # so the per-round edge-set count — a full extra edge scan, and in the
    # dense fixpoint regime the SECOND full pass of the query — is a
    # node-scale aggregate instead; (c) node-count / survivor-count / Σdeg
    # collapse into one bounded 3-scalar collect per degree table. M=100
    # study in SCALE.md; edge-scale work per round is now exactly the
    # semi-join filter + checkpoint write + one degree shuffle, which is
    # the synchronous-peel minimum.
    edges = scratch_checkpoint(cust_supp_edges(Catalog(spark, sf_dir))).select(
        (F.col("custkey") * 2).alias("src"),
        (F.col("suppkey") * 2 + 1).alias("dst"),
    )

    def _deg(ed):
        # Node-scale, read twice (stats collect + next round's semi-joins)
        # → deserialized multi-read cut, per the session.py storage-policy
        # table. The explode doubles rows map-side before the one shuffle.
        return checkpoint_truncate(
            ed.select(F.explode(F.array("src", "dst")).alias("node"))
            .groupBy("node")
            .agg(F.count("*").alias("deg"))
        )

    def _stats(nd) -> tuple[int, int, int]:
        """(node_cnt, survivor_cnt, doubled_edge_cnt) in one collect."""
        r = nd.agg(
            F.count("*").alias("nodes"),
            F.sum(F.when(F.col("deg") >= KCORE_K, 1).otherwise(0)).alias("surv"),
            F.sum("deg").alias("tot_deg"),
        ).first()
        return (r.nodes or 0, int(r.surv or 0), int(r.tot_deg or 0))

    n = _deg(edges)
    node_cnt, surv_cnt, tot_deg = _stats(n)
    rows: list[tuple[int, int, int]] = []
    for i in range(1, KCORE_ROUNDS + 1):
        if surv_cnt == node_cnt:
            # Fixpoint: no node dropped, so the edge set — and every
            # subsequent round — is unchanged. Fill the remaining census
            # rows without touching edge-scale data again (tot_deg IS the
            # doubled-edge count of the unchanged set).
            rows.extend((j, surv_cnt, tot_deg) for j in range(i, KCORE_ROUNDS + 1))
            break
        s = n.where(F.col("deg") >= KCORE_K).select("node")
        # Checkpoint the SINGLE orientation per round and mirror it
        # reader-side (the same halved-write discipline as the initial
        # edge distillation): an undirected edge survives iff both its
        # endpoints survive, so filtering one orientation by src AND dst
        # equals filtering the doubled list — the checkpoint write is the
        # round's dominant cost and this halves it.
        #
        # Round-7/8: the PER-ROUND cut is scratch_checkpoint — on local
        # masters a localCheckpoint (each round's survivor set is
        # intra-query scratch consumed only by the next round),
        # but on a DISTRIBUTED master with a reliable dir it falls back
        # to a real checkpoint: localCheckpoint blocks are unrecoverable,
        # so losing one executor mid-peel would fail the query instead of
        # recomputing (ADVICE r7).
        edges = scratch_checkpoint(
            edges.join(s.withColumnRenamed("node", "src"), "src", "left_semi")
            .join(s.withColumnRenamed("node", "dst"), "dst", "left_semi")
            .select("src", "dst")
        )
        n = _deg(edges)
        prev_surv = surv_cnt
        node_cnt, surv_cnt, tot_deg = _stats(n)
        rows.append((i, prev_surv, tot_deg))
    return spark.createDataFrame(
        rows, "round int, n_nodes bigint, n_edges bigint"
    )

# ---------------------------------------------------------------------------
# k-hop BFS reachability from seed nodes (bounded frontier expansion)
# ---------------------------------------------------------------------------

_BFS_EDGES_SQL = """
        SELECT DISTINCT l_partkey * 2     AS s, l_suppkey * 2 + 1 AS t
        FROM lineitem
        UNION ALL
        SELECT DISTINCT l_suppkey * 2 + 1 AS s, l_partkey * 2     AS t
        FROM lineitem
"""


def _bfs_oracle() -> str:
    return f"""
    WITH U AS ({_BFS_EDGES_SQL}),
    L0 AS (
        SELECT DISTINCT l_partkey * 2 AS node FROM lineitem
        WHERE l_partkey % 1000 = 0
    ),
    L1 AS (
        SELECT DISTINCT t AS node FROM U JOIN L0 ON U.s = L0.node
        WHERE t NOT IN (SELECT node FROM L0)
    ),
    L2 AS (
        SELECT DISTINCT t AS node FROM U JOIN L1 ON U.s = L1.node
        WHERE t NOT IN (SELECT node FROM L0)
          AND t NOT IN (SELECT node FROM L1)
    ),
    L3 AS (
        SELECT DISTINCT t AS node FROM U JOIN L2 ON U.s = L2.node
        WHERE t NOT IN (SELECT node FROM L0)
          AND t NOT IN (SELECT node FROM L1)
          AND t NOT IN (SELECT node FROM L2)
    )
    SELECT CAST(0 AS BIGINT) AS hop, CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM L0
    UNION ALL SELECT 1, CAST(COUNT(*) AS BIGINT) FROM L1
    UNION ALL SELECT 2, CAST(COUNT(*) AS BIGINT) FROM L2
    UNION ALL SELECT 3, CAST(COUNT(*) AS BIGINT) FROM L3
    """


@query("graph_bfs_khop", oracle=_bfs_oracle())
def graph_bfs_khop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded k-hop BFS from a seed set — the blast-radius query ("if these
    parts are recalled, which suppliers are exposed, and which other parts
    do THOSE suppliers feed?"). The graph is the part–supplier bipartite
    edge set distilled from lineitem (node ids parity-encoded into one
    space: part→2k, supplier→2k+1), seeds are every 1000th part, and the
    result is the EXACT BFS level census — nodes first reached at hop 1
    (direct suppliers), hop 2 (co-supplied parts), hop 3 (their other
    suppliers).

    Plan: textbook distributed frontier expansion — per hop, one equi-join
    of the (small) frontier against the edge list plus one distinct and one
    anti-join against the visited set; three hops unroll into ONE lazy plan
    (no driver loop — the hop count is a constant, unlike
    ``connected_components``' data-dependent fixpoint). Frontier and
    visited sets stay node-scale; only the edge join touches edge-scale
    data. At 100 TB the edge distillation is the dominant shuffle (once,
    reusable), the visited anti-join gains a bloom pre-filter, and hub skew
    lands on AQE's skew-join split."""
    li = Catalog(spark, sf_dir).lineitem
    # ONE distinct over the fact table, lineage-cut (the cut keeps the
    # union's two orientations from evaluating the distinct twice — the
    # same halved-write discipline the r5 M=100 study established). Both
    # orientations derive from the single stored orientation (the mirror
    # is a reader-side column swap). Frontier/visited cuts below stay:
    # level h's plan otherwise EMBEDS levels 0..h-1 (frontier ⋈ edges,
    # anti ⋈ visited) — exponential plan growth and per-level re-analysis
    # even under cache (same measured pathology as the CC loop; see module
    # docstring).
    pairs_ck = checkpoint_truncate(
        li.select(
            F.col("l_partkey").alias("partkey"),
            F.col("l_suppkey").alias("suppkey"),
        ).distinct()
    ).select(
        (F.col("partkey") * 2).alias("s"),
        (F.col("suppkey") * 2 + 1).alias("t"),
    )
    und = pairs_ck.union(
        pairs_ck.select(F.col("t").alias("s"), F.col("s").alias("t"))
    )
    l0 = checkpoint_truncate(
        li.where(F.col("l_partkey") % 1000 == 0)
        .select((F.col("l_partkey") * 2).alias("node"))
        .distinct()
    )
    visited, levels = l0, [l0]
    for _ in range(3):
        frontier = checkpoint_truncate(
            und.join(levels[-1], und["s"] == levels[-1]["node"])
            .select(F.col("t").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
        )
        levels.append(frontier)
        visited = checkpoint_truncate(visited.union(frontier))
    out = None
    for hop, lvl in enumerate(levels):
        row = lvl.agg(F.count("*").cast("long").alias("n_nodes")).select(
            F.lit(hop).cast("long").alias("hop"), "n_nodes"
        )
        out = row if out is None else out.union(row)
    return out


# ---------------------------------------------------------------------------
# Node similarity by neighbor-set Jaccard (set-similarity join on adjacency)
# ---------------------------------------------------------------------------

#: Wedge-generation hub cap: parts co-purchased by more than this many
#: suppliers are excluded from BOTH the intersection join and the degrees —
#: Jaccard over the capped graph, self-consistently. A part shared by d
#: suppliers emits d(d−1)/2 wedge rows, so one hub part at d=10⁵ emits 5e9
#: rows; capping is the standard item-item-CF / SimRank lever (hub items
#: carry no similarity signal, like stopwords in text). 200 is ~4× the max
#: part degree in every shipped fixture AND the scale-study generator
#: (52 at sf0.1, ~30 at any M), so results are bit-identical on all test
#: data — the cap exists for genuinely skewed production graphs.
_JACCARD_HUB_CAP = 200


@query(
    "graph_jaccard_sim",
    oracle=f"""
    WITH adj0 AS (
        SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
    ), pdeg AS (
        SELECT p, COUNT(*) AS pd FROM adj0 GROUP BY p
    ), adj AS (
        SELECT adj0.s, adj0.p FROM adj0
        JOIN pdeg ON pdeg.p = adj0.p
        WHERE pdeg.pd <= {_JACCARD_HUB_CAP}
    ), deg AS (
        SELECT s, CAST(COUNT(*) AS BIGINT) AS deg FROM adj GROUP BY s
    ), inter AS (
        SELECT a.s AS sa, b.s AS sb, CAST(COUNT(*) AS BIGINT) AS i
        FROM adj a JOIN adj b ON b.p = a.p AND b.s > a.s
        GROUP BY a.s, b.s
    )
    SELECT sa, sb, i AS shared_parts,
           CAST(i * 1000000 // (da.deg + db.deg - i) AS BIGINT)
               AS jaccard_ppm
    FROM inter
    JOIN deg da ON da.s = sa
    JOIN deg db ON db.s = sb
    ORDER BY jaccard_ppm DESC, sa, sb
    LIMIT 20
    """,
)
def graph_jaccard_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Node similarity by neighbor-set Jaccard — "which suppliers are
    interchangeable?" scored as |parts(a) ∩ parts(b)| / |parts(a) ∪
    parts(b)| over the part–supplier graph (SimRank's cheap, exact
    cousin; the same shape powers collaborative filtering's item-item
    similarity). Jaccard in exact ppm (union via inclusion–exclusion:
    deg_a + deg_b − inter — never a second join), top-20 pairs.

    Plan (reworked by the M=100 study, SCALE.md): ONE part-keyed shuffle
    collects each part's sorted supplier bag, the C(d,2) ordered wedge
    pairs explode MAP-SIDE from the bag as packed longs, and one count
    aggregation scores intersections — the logically-equivalent adjacency
    self-join shuffles the 60 M-row table twice more and was measured
    slower at every M. Degrees come from the same checkpointed bags;
    TakeOrdered pages the result. Never an all-pairs supplier product.
    Scale lever: hub parts above ``_JACCARD_HUB_CAP`` are excluded from
    wedges and degrees alike (bag-size filter, mirrored exactly in the
    oracle's ``pdeg``): wedge volume is Σ d(d−1)/2 over part degrees, so
    a single hot part at 100 TB quadratically inflates the intersection
    shuffle while contributing no similarity signal. The cap is ~4× the
    max part degree of every shipped fixture, so test results are
    bit-identical; on skewed production data it is THE knob."""
    # r13 (guide §2.4 — one exchange instead of two): the sorted distinct
    # supplier bag per part is ONE ``collect_set`` aggregation STRAIGHT
    # OVER the raw lineitem projection — the partial collect_set dedups
    # map-side, so a separate distinct-(p,s)-keyed exchange is never paid
    # (bag build measured 1.09 → 0.70 s cold at sf0.1, full query 3.54 →
    # 2.06 s min interleaved with the 2-generator explode below; rows
    # identical).
    adj0 = Catalog(spark, sf_dir).lineitem.select(
        F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p")
    )
    # ONE part-keyed shuffle does dedup + cap + wedge generation: collect
    # each part's (distinct, sorted) supplier bag, drop hub bags, and emit
    # the C(d,2) ordered pairs map-side from the bag — no adjacency
    # self-join (which shuffles the 60 M-row table twice), no separate
    # degree window. Bags are part-scale; checkpointed because both the
    # wedge explode and the degree rollup read them. The pair key packs
    # sa·2³² + sb into a SIGNED long, so the id space is enforced loudly,
    # once per bag.
    bags = checkpoint_truncate(
        adj0.groupBy("p")
        .agg(F.sort_array(F.collect_set("s")).alias("ss"))
        .filter(F.size("ss") <= _JACCARD_HUB_CAP)
        .filter(packable("ss", "graph_jaccard_sim: supplier id").isNull())
    )
    deg = (
        bags.select(F.explode("ss").alias("s"))
        .groupBy("s")
        .agg(F.count("*").alias("deg"))
    )
    # sa < sb by construction (sorted distinct bag), matching the oracle's
    # b.s > a.s orientation. The wedge shuffle — the biggest intermediate
    # in the engine's graph family, Σ d(d−1)/2 rows — moves one packed
    # long per row.
    inter = bag_pair_counts(bags, "ss", "sa", "sb", "i")
    da = deg.select(F.col("s").alias("sa"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("s").alias("sb"), F.col("deg").alias("deg_b"))
    return (
        inter.join(F.broadcast(da), "sa")
        .join(F.broadcast(db), "sb")
        .select(
            "sa",
            "sb",
            F.col("i").alias("shared_parts"),
            F.expr("i * 1000000 DIV (deg_a + deg_b - i)")
            .cast("long")
            .alias("jaccard_ppm"),
        )
        .orderBy(F.desc("jaccard_ppm"), F.asc("sa"), F.asc("sb"))
        .limit(20)
    )


@query(
    "graph_shortest_path",
    oracle="""
    WITH e AS (
        SELECT l_suppkey AS s, l_partkey AS p,
               MIN(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
                        AS BIGINT)) AS w
        FROM lineitem GROUP BY 1, 2
    ), d1 AS (
        SELECT p, MIN(w) AS c FROM e WHERE s = 1 GROUP BY p
    ), d2 AS (
        SELECT e.s, MIN(d1.c + e.w) AS c
        FROM d1 JOIN e ON e.p = d1.p GROUP BY e.s
    ), d3 AS (
        SELECT e.p, MIN(d2.c + e.w) AS c
        FROM d2 JOIN e ON e.s = d2.s GROUP BY e.p
    ), walks AS (
        SELECT p, c, 1 AS hops FROM d1
        UNION ALL
        SELECT p, c, 3 AS hops FROM d3
    )
    SELECT CAST(p AS BIGINT) AS l_partkey,
           CAST(MIN(c * 10 + hops) // 10 AS BIGINT) AS best_cost_cents,
           CAST(MIN(c * 10 + hops) % 10 AS BIGINT)  AS best_hops
    FROM walks GROUP BY p
    """,
)
def graph_shortest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source shortest walk, bounded at 3 edges: cheapest
    way to reach each part from supplier #1 over the supplier–part graph
    with min-lineitem-price edge weights (exact cents via DECIMAL). This
    is min-plus (tropical) relaxation — ``dist ⊗ edges`` twice more after
    the seed hop, each relaxation ONE equi-join + ONE grouped MIN, all
    unrolled into a single lazy plan (constant hop bound, like
    ``graph_bfs_khop``; walks may revisit nodes — standard min-plus
    semantics, so no visited-set anti-join is needed for correctness).
    The (cost, hops) argmin packs into one BIGINT ``cost·10 + hops`` so
    both engines take the same total-order MIN (prefer fewer hops on
    cost ties). The edge distillation is the only fact-table shuffle;
    distance vectors stay node-scale (≤ |suppliers| or |parts| rows) and
    broadcast onto the edge list at every relaxation."""
    li = Catalog(spark, sf_dir).lineitem
    cents = (F.col("l_extendedprice").cast("decimal(12,2)") * 100).cast(
        "long"
    )
    e = (
        li.select(
            F.col("l_suppkey").alias("s"),
            F.col("l_partkey").alias("p"),
            cents.alias("w"),
        )
        .groupBy("s", "p")
        .agg(F.min("w").alias("w"))
    )
    e = checkpoint_truncate(e)
    d1 = (
        e.filter(F.col("s") == 1)
        .groupBy("p")
        .agg(F.min("w").alias("c"))
    )
    d2 = (
        F.broadcast(d1)
        .join(e, "p")
        .groupBy("s")
        .agg(F.min(F.col("c") + F.col("w")).alias("c"))
    )
    d3 = (
        F.broadcast(d2)
        .join(e, "s")
        .groupBy("p")
        .agg(F.min(F.col("c") + F.col("w")).alias("c"))
    )
    walks = d1.select("p", "c", F.lit(1).alias("hops")).unionByName(
        d3.select("p", "c", F.lit(3).alias("hops"))
    )
    packed = walks.groupBy("p").agg(
        F.min(F.col("c") * 10 + F.col("hops")).alias("k")
    )
    return packed.select(
        F.col("p").cast("long").alias("l_partkey"),
        F.expr("CAST(k div 10 AS BIGINT)").alias("best_cost_cents"),
        F.expr("CAST(k % 10 AS BIGINT)").alias("best_hops"),
    )


@query(
    "greedy_set_cover",
    oracle="""
    WITH e AS (
        SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
    ),
    w1 AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS c FROM e
           GROUP BY s ORDER BY c DESC, s LIMIT 1),
    cov1 AS (SELECT DISTINCT e.p FROM e JOIN w1 ON e.s = w1.s),
    e2 AS (SELECT e.s, e.p FROM e ANTI JOIN cov1 ON e.p = cov1.p),
    w2 AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS c FROM e2
           GROUP BY s ORDER BY c DESC, s LIMIT 1),
    cov2 AS (SELECT DISTINCT e2.p FROM e2 JOIN w2 ON e2.s = w2.s),
    e3 AS (SELECT e2.s, e2.p FROM e2 ANTI JOIN cov2 ON e2.p = cov2.p),
    w3 AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS c FROM e3
           GROUP BY s ORDER BY c DESC, s LIMIT 1)
    SELECT 1 AS round, s AS l_suppkey, c AS newly_covered FROM w1
    UNION ALL SELECT 2, s, c FROM w2
    UNION ALL SELECT 3, s, c FROM w3
    """,
)
def greedy_set_cover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy set cover, 3 rounds: pick the supplier covering the most
    still-uncovered parts, remove its parts, repeat — the approximation
    algorithm behind "pick the fewest vendors/replicas/probes that cover
    everything" (its ln(n) guarantee is the best any polynomial algorithm
    gets). Data-DEPENDENT selection stays inside one lazy plan: each
    round is a grouped count, a 1-row TakeOrdered argmax (count desc,
    suppkey — ties never diverge), a semi-join for the winner's parts and
    an anti-join to shrink the edge set; no driver-side loop or collect.
    The distilled edge list is the only fact-scale input (checkpointed
    once); every frontier object after is supplier- or part-scale."""
    li = Catalog(spark, sf_dir).lineitem
    e = checkpoint_truncate(
        li.select(
            F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p")
        ).distinct()
    )
    rounds = []
    cur = e
    for rnd in (1, 2, 3):
        win = (
            cur.groupBy("s")
            .agg(F.count("*").cast("long").alias("c"))
            .orderBy(F.desc("c"), "s")
            .limit(1)
        )
        rounds.append(
            win.select(
                F.lit(rnd).cast("int").alias("round"),
                F.col("s").alias("l_suppkey"),
                F.col("c").alias("newly_covered"),
            )
        )
        cov = cur.join(F.broadcast(win), "s").select("p").distinct()
        cur = cur.join(F.broadcast(cov), "p", "left_anti")
    out = rounds[0]
    for r in rounds[1:]:
        out = out.unionByName(r)
    return out


def _modularity_oracle() -> str:
    edges_sql = ORACLE["dedup_minhash_banded"].strip()
    return f"""
    WITH E AS (
        SELECT doc_a, doc_b FROM ({edges_sql}) pairs
    ), L AS (
        SELECT doc_id, lang FROM documents
    ), tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m FROM E
    ), dc AS (
        SELECT L.lang, CAST(COUNT(*) AS BIGINT) AS degree_sum
        FROM (SELECT doc_a AS d FROM E UNION ALL SELECT doc_b FROM E) ends
        JOIN L ON ends.d = L.doc_id
        GROUP BY L.lang
    ), mc AS (
        SELECT la.lang, CAST(COUNT(*) AS BIGINT) AS intra_edges
        FROM E
        JOIN L la ON E.doc_a = la.doc_id
        JOIN L lb ON E.doc_b = lb.doc_id
        WHERE la.lang = lb.lang
        GROUP BY la.lang
    )
    SELECT dc.lang,
           tot.m                              AS m_edges,
           COALESCE(mc.intra_edges, 0)        AS intra_edges,
           dc.degree_sum,
           CAST((4 * tot.m * COALESCE(mc.intra_edges, 0)
                 - dc.degree_sum * dc.degree_sum) * 1000000
                // (4 * tot.m * tot.m) AS BIGINT) AS contribution_ppm
    FROM dc LEFT JOIN mc ON dc.lang = mc.lang CROSS JOIN tot
    """


@query("graph_modularity", oracle=_modularity_oracle())
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-quality (Newman modularity) of the LANGUAGE communities
    over the near-dup graph: per language, its exact modularity
    contribution Q_c = m_c/m − (d_c/2m)², scaled so everything is BIGINT —
    Q_c·4m²·1e6 = (4m·m_c − d_c²)·1e6 with one truncating division.
    ΣQ_c near 1 means near-dups stay inside a language (cross-lingual
    contamination would drag it down) — the "is my blocking aligned with
    my partition" audit. Every lang with graph presence gets a row even
    with zero intra edges (left join, coalesce 0). Shape: pairs come from
    the banded equi-joins ONCE; lang attachment is two co-partitionable
    equi-joins on doc id; the per-community census is |langs| rows and
    the 1-row edge total broadcasts into the closed form. At ~1e9 edges
    the 4m² term moves to DECIMAL(38,0)."""
    cat = Catalog(spark, sf_dir)
    edges = checkpoint_truncate(doc_pair_edges(cat.documents))
    langs = cat.documents.select("doc_id", "lang")
    tot = edges.agg(F.count("*").cast("long").alias("m"))
    ends = edges.select(
        F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
    )
    dc = (
        ends.join(langs, "doc_id")
        .groupBy("lang")
        .agg(F.count("*").cast("long").alias("degree_sum"))
    )
    mc = (
        edges.join(
            langs.select(
                F.col("doc_id").alias("doc_a"), F.col("lang").alias("lang_a")
            ),
            "doc_a",
        )
        .join(
            langs.select(
                F.col("doc_id").alias("doc_b"), F.col("lang").alias("lang_b")
            ),
            "doc_b",
        )
        .filter(F.col("lang_a") == F.col("lang_b"))
        .groupBy(F.col("lang_a").alias("lang"))
        .agg(F.count("*").cast("long").alias("intra_edges"))
    )
    out = (
        dc.join(mc, "lang", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "lang",
            F.col("m").alias("m_edges"),
            F.coalesce("intra_edges", F.lit(0)).cast("long").alias(
                "intra_edges"
            ),
            "degree_sum",
            F.expr(
                """
                CAST((4 * m * coalesce(intra_edges, 0)
                      - degree_sum * degree_sum) * 1000000
                     div (4 * m * m) AS BIGINT)
                """
            ).alias("contribution_ppm"),
        )
    )
    return out
