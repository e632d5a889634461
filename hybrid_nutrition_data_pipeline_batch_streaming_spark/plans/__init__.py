"""Named query plans — the engine's public query surface.

Importing this package populates the registry from every query module; the
driver contract (``__spark_entry__.py``) re-exports ``QUERIES`` / ``ORACLE``.

Ordering matters: the driver's correctness harness checks the FIRST 50
registered queries against their DuckDB oracles. ``PRIORITY`` pins those 50
slots to one oracle-backed representative per SURVEY.md §2 row plus every
north-star operator (dedup / similarity / text / streaming / e2e pipeline /
multimodal). Everything else — standalone variants absorbed into a composite
(e.g. ``regexp_funcs`` ⊂ ``str_funcs``), rows-only sketch/sampling queries,
and extras beyond §2 — registers after the window and is still verified by
the local differential harness (tests/test_oracle_parity.py).
"""

from .registry import ORACLE, QUERIES, query  # noqa: F401
from . import relational  # noqa: F401,E402
from . import relational2  # noqa: F401,E402
from . import semistructured  # noqa: F401,E402
from . import windows  # noqa: F401,E402
from . import text  # noqa: F401,E402
from . import dedup  # noqa: F401,E402
from . import similarity  # noqa: F401,E402
from . import nutrition  # noqa: F401,E402
from . import streaming_queries  # noqa: F401,E402
from . import multimodal_queries  # noqa: F401,E402
from . import udf_surface  # noqa: F401,E402
from . import curation  # noqa: F401,E402
from . import graph  # noqa: F401,E402
from . import corpus  # noqa: F401,E402
from . import cdc  # noqa: F401,E402
from . import skew_queries  # noqa: F401,E402
from . import timeseries  # noqa: F401,E402
from . import profiling  # noqa: F401,E402
from . import pysource  # noqa: F401,E402
from . import textmatch  # noqa: F401,E402
from . import search  # noqa: F401,E402
from . import sketches  # noqa: F401,E402
from . import webcuration  # noqa: F401,E402
from . import opsaudit  # noqa: F401,E402
from . import engagement  # noqa: F401,E402
from . import experiments  # noqa: F401,E402
from . import evaluation  # noqa: F401,E402
from . import geo  # noqa: F401,E402

# The driver-checked window: exactly these 50, in this order, all with
# oracles.
#
# STANDING ROTATION POLICY (VERDICT r8 item 1 — coverage is complete at
# 304/304 oracle-backed ever-green, so from round 9 on the window is a
# freshness rotation, not a coverage push). Slots are assigned in order:
#   1. the FIVE core regressions (flagship_revenue, join_inner,
#      dedup_last_write, pipeline_nutrition_e2e, stream_tumbling_live) —
#      always present, every round;
#   2. any query whose PLAN or ORACLE changed this round after its last
#      green driver row — a green row must never predate the code it
#      vouches for;
#   3. the remaining slots go to the OLDEST green rows registry-wide
#      (compute with: latest green round per query over CORRECTNESS_r*.json,
#      ascending), so the maximum green-row age strictly decreases every
#      round until the whole registry cycles.
# Rotated-out queries stay registered below the window, still verified by
# the local differential harness (tests/test_oracle_parity.py) at
# sf0.001 + sf0.01.
#
# Round-12 instantiation — NINE rule-2 seats + TWO standing rows-only
# seats:
#   pipeline_corpus_build          near-dup pair stage rebuilt over the
#                        shared gate survivors (VERDICT r11 item 1)
#   pipeline_drop_reasons          same pair-stage change
#   graph_kcore                    peel-loop rework: degrees from one
#                        map-side explode of the single orientation,
#                        census edge counts as Σdeg over the node table
#                        (no per-round edge-set count), one bounded
#                        3-scalar collect per round (49.2 → 36.6 s)
#   similarity_ann_hyperplane_recall  NEW (VERDICT r11 item 7) — the
#                        measured-recall contract of the seeded
#                        random-hyperplane production LSH tier
#   bm25_search, text_search_rank, search_prf_expand, tfidf_terms,
#   similarity_maxsim    the retrieval family's shared per-doc tf index
#                        is the shared map-side doc_tf_frame build
#   stream_dedup_state, mm_decode_features  (VERDICT r11 item 8) — the
#                        two never-window rows-only keys: both have green
#                        oracle companions, but a rows>0 driver row each
#                        round surfaces runtime breakage a driver-only
#                        run could miss. Explicitly exempt from the
#                        oracle-required check below.
# The age ladder after r11 (recomputed over CORRECTNESS_r01-r11): 20
# queries whose newest green row is r4, then 35 r5-age. The remaining
# slots re-verify ALL 20 r4-age rows and the first 14 r5-age rows in
# registry order, dropping the maximum green-row age from r4 to r5 (the
# remaining 21 r5-age keys — stream_percentile_live, mm_metadata,
# mm_resize, mm_frame_dedup, mm_scene_segments displaced by the late
# doc_tf rule-2 seats, then mm_audio_energy, mm_caption_align,
# mm_decode_bmp, mm_decode_wav, corpus_quota_split, dsir_resample
# onward — head the r13 rule-3 backlog).
#
# Since r13, two more rule-2 seats: cluster_centroids and
# lang_confusion_matrix, whose plans changed expression form when the
# k-means primitives and the language-ID rule each moved into one shared
# function (rows unchanged; see tools/plan_manifest.py). They take the last
# two rule-3 seats, so stream_topk_live and stream_cusum_live join the
# rule-3 backlog until the full r12+r13 rotation lands.
#
# Three more rule-2 seats: graph_jaccard_sim, dedup_ngram_jaccard and
# dedup_ngram_jaccard_dfcut. r13 changed their plans (the chained pair
# generators) and none has a driver row since; their pair count now lives
# in one function, operators/blocking.py::bag_pair_counts (plans
# unchanged by that move). They take the last three rule-3 seats, so
# span_dedup, dedup_lines and stream_sliding_live join the rule-3 backlog.
PRIORITY: tuple[str, ...] = (
    # -- 5 core regressions (driver-green r1-r11) --
    "flagship_revenue",
    "join_inner",
    "dedup_last_write",
    "pipeline_nutrition_e2e",
    "stream_tumbling_live",
    # -- rule 2: plan/oracle changed in r12 --
    "pipeline_corpus_build",
    "pipeline_drop_reasons",
    "graph_kcore",
    "similarity_ann_hyperplane_recall",
    "bm25_search",
    "text_search_rank",
    "search_prf_expand",
    "tfidf_terms",
    "similarity_maxsim",
    # -- rule 2: plan changed after r13 (shared curation rules) --
    "cluster_centroids",
    "lang_confusion_matrix",
    # -- rule 2: plan changed in r13 (chained pair generators) --
    "graph_jaccard_sim",
    "dedup_ngram_jaccard",
    "dedup_ngram_jaccard_dfcut",
    # -- standing rows-only driver rows (no oracle by design) --
    "stream_dedup_state",
    "mm_decode_features",
    # -- rule 3: all 20 r4-age rows (registry order) --
    "sketch_bloom",
    "sketch_hll",
    "ooo_audit",
    "fk_audit",
    "recon_order_totals",
    "user_streaks",
    "cusum_changepoint",
    "activity_bitmap",
    "ctr_wilson",
    "cep_pattern_match",
    "ab_srm_check",
    "rfm_segments",
    "ab_cuped",
    "eval_auc_rank",
    "eval_pr_thresholds",
    "eval_calibration_bins",
    "eval_label_kappa",
    "eval_gains_lift",
    "geo_hub_assign",
    "geo_grid_hotspots",
    # -- rule 3 cont.: 9 of the r5-age cohort (registry order) --
    "join_asof_nearest",
    "pareto_frontier",
    "top_supplier_revenue",
    "topk_with_ties",
    "grouped_median_exact",
    "filter_exists_correlated",
    "xml_roundtrip_flatten",
    "window_cume_dist",
    "dedup_incremental",
)

#: Window seats that intentionally carry NO oracle (genuinely
#: non-SQL-expressible: arrival-order streaming dedup, external-codec
#: decode) — the driver applies its rows-only check to these.
ROWS_ONLY_SEATS: frozenset[str] = frozenset(
    {"stream_dedup_state", "mm_decode_features"}
)


def _reorder() -> None:
    missing = [n for n in PRIORITY if n not in QUERIES]
    if missing:
        raise RuntimeError(f"PRIORITY names not registered: {missing}")
    no_oracle = [
        n for n in PRIORITY if n not in ORACLE and n not in ROWS_ONLY_SEATS
    ]
    ordered = {n: QUERIES[n] for n in PRIORITY}
    ordered.update((n, fn) for n, fn in QUERIES.items() if n not in ordered)
    QUERIES.clear()
    QUERIES.update(ordered)
    oracle_ordered = {n: ORACLE[n] for n in PRIORITY if n in ORACLE}
    oracle_ordered.update((n, s) for n, s in ORACLE.items() if n not in oracle_ordered)
    ORACLE.clear()
    ORACLE.update(oracle_ordered)
    if no_oracle:
        raise RuntimeError(f"PRIORITY queries missing oracles: {no_oracle}")


_reorder()
