"""Plan-regression guard: no scale anti-pattern sneaks into a graded query.

Walks every non-streaming graded query's formatted physical plan at
sf0.001 (explain only — plans don't change shape with sf, AQE runtime
re-planning aside) and fails on the three anti-patterns the round-3 audit
checked by hand:

1. ``CartesianProduct`` — an unbounded all-pairs join. Allowed only for
   the explicitly-labeled exact verifier tiers (documented quadratic
   baselines a caller opts into at bounded corpus sizes).
2. ``BroadcastNestedLoopJoin`` — allowed only where the build side is a
   one-row scalar aggregate (the sanctioned scalar-subquery pattern; a
   BNLJ against anything sf-scaling would OOM at 100 TB).
3. A full-width ``lineitem`` scan — the widest fact table (11 columns);
   any query reading all of them has lost column pruning.

The allowlists are explicit per query name so a new offender fails loudly
and has to argue its way in with a reason string.
"""

from __future__ import annotations

import re

import pytest

from distributed_api_etl_spark.queries import load_all
from distributed_api_etl_spark.session import release_caches

REGISTRY = load_all()

# query -> why a cartesian product is sanctioned there
ALLOW_CARTESIAN = {}

# query -> why a BroadcastNestedLoopJoin is sanctioned there. This is the
# EXACT set of queries whose sf0.001 plans contain a BNLJ today — every
# build side is bounded by construction (a one-row scalar aggregate, or an
# explicitly-labeled exact/baseline tier over a bounded side).
ALLOW_BNLJ = {
    # one-row scalar aggregate broadcast (scalar-subquery decorrelation)
    "q22_dormant_rich_customers": "1-row avg-balance scalar",
    "q11_important_parts": "1-row global-total scalar",
    "customer_rfm_segments": "1-row max-orderdate scalar",
    "text_tfidf_topk": "1-row corpus-N scalar",
    "corpus_bigram_pmi": "1-row total + smoothing scalars",
    "events_value_mad_outliers": "1-row median scalars",
    "events_value_winsorized": "1-row percentile-bounds scalar",
    "documents_temperature_mixture": "1-row token-total scalar",
    "events_hll_daily_rollup": "1-row register-footprint scalar",
    "dedup_lsh_recall_report": "1-row tier-count scalars + labeled exact tier",
    "events_hll_type_overlap": "type-pair enumeration over the category-bounded event-type set (|types|^2 rows, sf-invariant) against m-row register tables",
    # labeled exact/baseline tiers over bounded sides
    "dedup_embedding_cosine": "labeled exact all-pairs verifier tier (similarity.py:cosine_pairs)",
    "ann_bruteforce_topk": "bounded broadcast query side (labeled baseline tier)",
    "ann_quantized_topk": "bounded broadcast query side + 1-row scale scalar",
    "ann_ivf_topk": "bounded broadcast centroid/query sides",
    "ann_ivf_kmeans_topk": "bounded broadcast learned centroids",
    "semantic_diversity_sample": "bounded broadcast k-row centroid set (ivf_assign argmax)",
    "ann_ivf_multiprobe_topk": "bounded broadcast centroid/query sides",
    "ann_recall_at_k": "bounded broadcast query sides (ivf tier + labeled exact ground-truth tier)",
    "ann_int8_rerank_topk": "bounded broadcast query side (int8 tier) + n_queries*k_cand-row candidate set (full-precision rerank tier)",
    "ann_quantized_recall_at_k": "bounded broadcast query sides (labeled quantized-tier baseline vs the same labeled exact ground-truth tier as ann_recall_at_k)",
    "ann_ivf_int8_rerank_recall_at_k": "1-row broadcast centroid-array sides (ivf_assign/probe_assign) + the labeled exact ground-truth tier; bucket/rerank joins are broadcast equi-joins",
    "ann_rerank_depth_recall_at_k": "bounded broadcast query side (int8 linear-scan tier per k_cand) + the labeled exact ground-truth tier",
    "ann_index_serving_roundtrip": "1-row broadcast centroid-array probe assignment; every serving join over the stored partitioned index is a broadcast equi-join",
    "ann_serving_with_tombstones": "1-row broadcast centroid-array probe assignment; serving joins are broadcast equi-joins and the tombstone mask is a broadcast left-anti equi-join on the pruned scan",
    "ann_upsert_serving": "1-row broadcast centroid-array sides (base build, batch re-encode, query probe_assign); the old-version mask is a broadcast left-anti equi-join and every serving join over the masked-union index is a broadcast equi-join",
    "ann_incremental_ingest_topk": "1-row broadcast centroid-array sides (batch-2 ivf_assign + query probe_assign); serving joins over the appended partitioned index are broadcast equi-joins",
    "ann_kmeans_int8_index_topk": "1-row broadcast centroid-array sides (Lloyd's per-iteration assignment, index build, query probe_assign); serving joins are broadcast equi-joins",
    "ann_retrain_after_drift": "1-row broadcast centroid-array sides (v1 build + frozen-centroid append, survivor Lloyd's retrain per iteration, rebuild, query probe_assign); the tombstone mask is a broadcast left-anti equi-join and serving joins over the re-stored index are broadcast equi-joins",
    "ann_dim_truncation_recall_at_k": "bounded broadcast query side (truncated-scan tier per dim) + the labeled exact ground-truth tier",
    "ann_pq_adc_recall_at_k": "1-row broadcast codebook-array sides (training assignment, encode, LUT build) + bounded broadcast per-query LUT maps (ADC tier) + the labeled exact ground-truth tier",
    "ann_ivf_pq_rerank_recall_at_k": "1-row broadcast codebook/centroid-array sides (pq_train assignment, single-scan ingest, query probe_assign, LUT build) + the labeled exact ground-truth tier; all serving joins over the stored partitioned index are broadcast equi-joins",
    "ann_ivf_pq_filtered_topk": "1-row broadcast codebook/centroid-array sides (pq_train assignment, single-scan ingest, query probe_assign, LUT build); serving joins over the stored partitioned index — including the per-query label-equality filter riding the bucket equi-join — are broadcast equi-joins",
    "ann_kmeans_pq_index_topk": "1-row broadcast centroid/codebook-array sides (Lloyd's per-iteration assignment, pq_train assignment, single-scan ingest, query probe_assign, LUT build); serving joins over the stored partitioned index are broadcast equi-joins",
    "ann_ivf_pq_incremental_ingest_topk": "1-row broadcast codebook/centroid-array sides (pq_train assignment, base build + batch-2 assign_to_ivf_pq_index, query probe_assign, LUT build); serving joins over the appended partitioned index are broadcast equi-joins",
    "ann_ivf_rpq_rerank_recall_at_k": "1-row broadcast codebook/centroid-array sides (residual pq_train assignment, single-scan ingest, query probe_assign, LUT build) + bounded broadcast (query x nprobe)-row qc-term probe frame + the labeled exact ground-truth tier; serving joins are broadcast equi-joins",
    "ann_ivf_index_stats": "1-row broadcast centroid-array side (index build assignment) + 1-row totals scalar broadcast back onto the n_buckets-row counts",
    "ann_binary_hamming_recall_at_k": "bounded broadcast query-word side (sign-bit Hamming tier per k_cand) + the labeled exact ground-truth tier; rerank joins are broadcast equi-joins",
    "ann_multiprobe_recall_at_k": "bounded broadcast centroid/query sides per nprobe tier + the same labeled exact ground-truth tier as ann_recall_at_k",
    "ann_knn_graph_recall": "1-row broadcast centroid-array assignment + the labeled exact all-pairs ground-truth tier (graded-scale audit panel only); the graph build itself is a bucket equi self-join",
    "ann_mmr_diversity_topk": "bounded broadcast query side (candidate generation tier); every MMR step is a keyed max + broadcast joins of picked ids over the n_queries x k_cand candidate frame",
    "ann_filtered_recall_at_k": "1-row broadcast centroid-array sides (index build, query probe_assign) + the labeled FILTERED exact ground-truth tier (bruteforce_filtered_topk: bounded broadcast query side, label equality riding the join); serving joins are broadcast equi-joins",
    "ann_ivf_filtered_serving_topk": "1-row broadcast centroid-array probe assignment (the ann_index_serving_roundtrip shape); every serving join over the stored partitioned index — including the per-query label-equality filter riding the bucket equi-join — is a broadcast equi-join",
    "documents_hybrid_rrf_topk": "1-row corpus-stats scalar (BM25 tier) + bounded broadcast 1-query vector side (labeled brute cosine tier); fusion itself unions two bounded top-k lists",
    "documents_hybrid_rrf_served_topk": "1-row corpus-stats scalar (BM25 tier) + 1-row broadcast centroid-array probe assignment (stored int8 serving tier — every serving join a broadcast equi-join); fusion unions two bounded top-k lists",
    "documents_hybrid_rrf_quality_topk": "1-row corpus-stats scalar (BM25 tier) + bounded broadcast 1-query vector side (labeled brute cosine tier); the quality list is a TakeOrdered cut and fusion unions three bounded top-k lists",
    "documents_fivegram_logppl": "1-row total-token scalar",
    "documents_bm25_relevance": "1-row corpus-stats scalar (N, total tokens)",
    "documents_unigram_logppl": "1-row total-token scalar",
    "documents_dsir_importance": "1-row corpus-totals + vocab-size scalar",
    "documents_bigram_logppl": "1-row total-token scalar",
    "documents_trigram_logppl": "1-row total-token scalar",
    "documents_ccnet_buckets": "1-row total-token + 1-row tertile-threshold scalars",
}

LINEITEM_WIDTH = 11

_SCAN_RE = re.compile(r"\(\d+\) Scan parquet")


def _formatted_plan(spark, df) -> str:
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(jmode)


def _lineitem_scan_widths(plan: str) -> list[int]:
    widths = []
    blocks = _SCAN_RE.split(plan)[1:]
    for block in blocks:
        # this scan's detail section runs until the NEXT node header
        # "(N) ..." at start of line; truncating at the first bare "(" is
        # wrong — PushedFilters contains parens and precedes ReadSchema
        m_next = re.search(r"\n\(\d+\) ", block)
        seg = block[: m_next.start()] if m_next else block
        if "lineitem.parquet" not in seg:
            continue
        m = re.search(r"ReadSchema: struct<([^>]*)>", seg)
        if m:
            fields = [f for f in m.group(1).split(",") if ":" in f]
            widths.append(len(fields))
    return widths


# Guard scope (widened round 5): ALL registered batch queries — graded or
# not, an anti-pattern in shipped library surface is just as real at 100 TB.
# The old bare-"pipeline" tag exclusion silently dropped seven graded
# LLM-pipeline queries (semantic_diversity_sample, training_mix_selection,
# the incremental-dedup family, ...) from the guard; only the HTTP family
# (tagged pipeline+etl) is excluded, because its build EXECUTES the pipeline
# and returns a sink read-back whose plan is just a parquet scan.
BATCH_NAMES = sorted(
    n
    for n, s in REGISTRY.items()
    if "streaming" not in s.tags
    and not ("pipeline" in s.tags and "etl" in s.tags)
)


@pytest.mark.parametrize("name", BATCH_NAMES)
def test_no_scale_antipatterns(spark, sf_dir, name):
    spec = REGISTRY[name]
    df = spec.build(spark, sf_dir)
    plan = _formatted_plan(spark, df)
    try:
        if name not in ALLOW_CARTESIAN:
            assert "CartesianProduct" not in plan, (
                f"{name}: CartesianProduct in plan — unbounded all-pairs join"
            )
        if name not in ALLOW_BNLJ and name not in ALLOW_CARTESIAN:
            assert "BroadcastNestedLoopJoin" not in plan, (
                f"{name}: BroadcastNestedLoopJoin — non-equi/cross join whose "
                "build side must be proven bounded, then allowlisted with a reason"
            )
        for w in _lineitem_scan_widths(plan):
            assert w < LINEITEM_WIDTH, (
                f"{name}: full-width lineitem scan ({w} cols) — column pruning lost"
            )
    finally:
        release_caches()


# ---------------------------------------------------------------------------
# Streaming plan guard: the batch guard above explains lazily, but a graded
# streaming query's real plan only exists once a micro-batch EXECUTES —
# _drain_to_memory stashes the executed plan (queries/streaming.py:
# LAST_EXECUTED_PLAN), so running the registered query through its actual
# graded code path leaves the evidence behind. Assertions:
#   1. the claimed state-store operator is genuinely in the executed plan
#      (a "stateful" op that silently fell back to a stateless rewrite would
#      grade correct on one batch and lose state at scale);
#   2. a claimed-stateless op acquired NO state store;
#   3. the same anti-patterns as batch (CartesianProduct / un-allowlisted
#      BNLJ) — a stream-side cartesian re-executes per micro-batch, strictly
#      worse than the batch offense.
# streaming_api_pipeline_bronze is excluded: its work happens inside
# foreachBatch (driver-launched batch jobs per micro-batch), so the stream
# plan is just source->foreachBatch; its batch plan is covered via the
# shared pipeline compiler exercised by api_pipeline_bronze above.
# ---------------------------------------------------------------------------

# query -> (must-contain markers, must-NOT-contain markers beyond the global
# anti-patterns). Marker strings are physical-node names from this Spark
# build; the streaming-semantics version guard (tests/test_streaming.py)
# pins the build, so these cannot silently rot under an upgrade.
STREAMING_PLAN_SPECS = {
    "streaming_stateful_dedup": (["FlatMapGroupsInPandasWithState"], []),
    "streaming_user_event_counts": (["FlatMapGroupsInPandasWithState"], []),
    "streaming_tumbling_window": (["StateStoreSave"], []),
    "streaming_sessionize": (["SessionWindowStateStore"], []),
    "streaming_click_purchase_join": (["StreamingSymmetricHashJoin"], []),
    "streaming_dedup_within_watermark": (["StreamingDeduplicateWithinWatermark"], []),
    # stream-static enrich is STATELESS by design: broadcast dim into each
    # micro-batch, no watermark, no join state.
    "streaming_static_enrich": (
        ["BroadcastHashJoin"],
        ["StateStore", "StreamingSymmetricHashJoin"],
    ),
    "streaming_click_purchase_left_outer": (["StreamingSymmetricHashJoin"], []),
    "streaming_hll_user_cardinality": (["FlatMapGroupsInPandasWithState"], []),
    # lifetime budget admission: two scalars of state per group, no joins
    "streaming_token_budget_admission": (
        ["FlatMapGroupsInPandasWithState"],
        ["StreamingSymmetricHashJoin"],
    ),
    # streaming index maintenance is STATELESS by design (per-row
    # assignment against frozen broadcast centroids inside foreachBatch);
    # the micro-batch plan must show the ingest-split filter PUSHED into
    # the stream's file scan, and no state store anywhere — batching
    # independence is what makes append == rebuild hold, and state would
    # break it
    "streaming_ann_index_append": (
        ["GreaterThanOrEqual(vec_id"],
        ["StateStore", "StreamingSymmetricHashJoin"],
    ),
}


def test_streaming_spec_covers_all_graded_streaming_queries():
    """New graded streaming queries must declare their expected plan shape."""
    graded_streaming = {
        n
        for n, s in REGISTRY.items()
        if s.graded and "streaming" in s.tags and "pipeline" not in s.tags
    }
    assert graded_streaming == set(STREAMING_PLAN_SPECS), (
        "graded streaming queries and STREAMING_PLAN_SPECS diverged — add a "
        "(markers, forbidden) entry for each new query: "
        f"{sorted(graded_streaming ^ set(STREAMING_PLAN_SPECS))}"
    )


@pytest.mark.parametrize("name", sorted(STREAMING_PLAN_SPECS))
def test_streaming_no_scale_antipatterns(spark, sf_dir, name):
    from distributed_api_etl_spark.queries import streaming as qstreaming

    qstreaming.LAST_EXECUTED_PLAN = None
    REGISTRY[name].build(spark, sf_dir).count()  # real drain, real plan
    plan = qstreaming.LAST_EXECUTED_PLAN
    assert plan, f"{name}: drain left no executed plan to audit"
    required, forbidden = STREAMING_PLAN_SPECS[name]
    for marker in required:
        assert marker in plan, (
            f"{name}: expected stateful operator {marker!r} missing from the "
            "executed micro-batch plan — the claimed streaming semantics "
            "are not what actually ran"
        )
    for marker in forbidden:
        assert marker not in plan, (
            f"{name}: {marker!r} in executed plan — this query is documented "
            "stateless/broadcast; acquiring state or a stream-stream join "
            "changes its scale profile"
        )
    assert "CartesianProduct" not in plan, (
        f"{name}: CartesianProduct in the per-micro-batch plan"
    )
    assert "BroadcastNestedLoopJoin" not in plan, (
        f"{name}: BroadcastNestedLoopJoin re-executed every micro-batch — "
        "prove the build side bounded and allowlist it with a reason"
    )


def test_scan_width_parser_sees_filtered_scans(spark, sf_dir):
    """Regression for the parser bug review found: a scan WITH pushed
    filters (parens precede ReadSchema in the detail block) must still
    yield its width — a full-width filtered scan must not pass vacuously."""
    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet").where("l_quantity > 1")
    assert _lineitem_scan_widths(_formatted_plan(spark, df)) == [LINEITEM_WIDTH]
