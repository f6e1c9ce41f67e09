"""Global anti-pattern plan audit: no registered batch key may plan a
CartesianProduct, and BroadcastNestedLoopJoin is allowed ONLY where
one side is bounded-tiny by construction (broadcast of a query
vector / scalar-aggregate row / hard-capped baseline). Any new key
that accidentally plans an unbounded cross join fails here before it
ever reaches the driver or a cluster.

Streaming keys are excluded: building their "plan" executes the
stream to a memory sink (covered by their own parity + streaming
tests).
"""

from __future__ import annotations

from tests.conftest import SF_SMALL

# Keys whose BroadcastNestedLoopJoin is a documented broadcast-of-tiny:
#   - embed_cosine / simsearch_topk / simsearch_topk_batch /
#     simsearch_range: the broadcast side is 1-8 query vectors.
#   - embed_neardup: test-only exact baseline, input hard-capped to
#     vec_id < 1000 on BOTH engines (operators/similarity.py).
#   - join_cross: the operator IS a cross join (region x nation, 5x25).
#   - agg_class_counts / metrics_gm_auc_multiclass /
#     crossval_multiclass / text_bm25_topk / text_bm25_from_index:
#     scalar one-row aggregate (class totals / corpus avgdl+df
#     constants — for from_index, the pivoted 3-term df row read
#     from the index's terms sidecar) joined back.
#   - timeseries_gapfill: constant date spine x the tiny broadcast
#     event-type domain (the gap-fill reporting grid).
BNL_ALLOWED = {
    "sketch_kmv_overlap",  # lang-pair spine (<=10 rows) x broadcast K-row sketches
    "agg_hll_union",  # one-row exact-global agg x one-row merged-sketch agg
    "text_bm25_topk",
    "text_bm25_from_index",
    "filter_length_band",  # one-row percentile-threshold agg broadcast
    "discretize_quantile_approx",  # one-row decile-edge agg broadcast
    "discretize_quantile_sketch",  # one-row sketch-edge + one-row total
    "audit_freshness",  # one-row global-max agg broadcast
    "drift_psi",  # one-row period-totals agg broadcast
    "metrics_pr_auc",  # one-row (ptot, n_scored) agg broadcast over the bounded PR grid
    "metrics_roc_auc",  # same shape: one-row totals broadcast over the bounded ROC grid
    "join_bloom_prune",  # one-row bits-set agg broadcast onto the one-row probe stats
    "retrieval_hybrid_rrf",  # fuses two 10-row top-k lists (bm25 + cosine)
    "timeseries_gapfill",
    "timeseries_interpolate",  # hourly spine x broadcast |event types| grid
    "embed_cosine",
    "simsearch_topk",
    "simsearch_topk_batch",
    "simsearch_range",
    "simsearch_ivf_probe2",
    "simsearch_ivf_from_index",  # single query vector broadcast over one cell
    "simsearch_recall",
    "simsearch_pq_recall",  # 16-row query batch broadcast for exact top-k
    "simsearch_ivf_pq_nprobe",  # same 16-row query batch, exact ground truth
    "simsearch_opq_recall",  # same 16-row query batch, exact ground truth
    "simsearch_nsw_beam",  # same 16-row query batch, exact ground truth
    "embed_neardup",
    "join_cross",
    "agg_class_counts",
    "metrics_gm_auc_multiclass",
    "crossval_multiclass",
    # (metrics_calibration's BNLJ is retired — its winning score comes
    # from the numpy kernel, so the allowlist carries no entry that
    # grows with model size; the BNLJ spec scorer lives only in
    # tests/spec_scorer.py)
}


def test_no_unbounded_cross_joins(spark):
    from concurrent.futures import ThreadPoolExecutor

    from chi_frbcs_bigdatacs_spark.plans.registry import get_registry

    # Plan construction is mostly driver-side (py4j + the bounded
    # collects some fns run while building); 8 threads overlap those
    # per-key stalls (guide §2.6) — measured 170s -> ~40s with
    # identical audit coverage.
    def plan_of(item):
        key, spec = item
        return key, (
            spec.fn(spark, SF_SMALL)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )

    items = [
        (k, s) for k, s in get_registry().items() if not k.startswith("stream_")
    ]
    cartesian, stray_bnl = [], []
    with ThreadPoolExecutor(max_workers=8) as pool:
        for key, plan in pool.map(plan_of, items):
            if "CartesianProduct" in plan:
                cartesian.append(key)
            if "BroadcastNestedLoopJoin" in plan and key not in BNL_ALLOWED:
                stray_bnl.append(key)
    assert not cartesian, f"CartesianProduct planned by: {cartesian}"
    assert not stray_bnl, (
        f"unallowlisted BroadcastNestedLoopJoin in: {stray_bnl} — either "
        f"fix the plan (equi-join/broadcast the tiny side) or document "
        f"why the non-equi side is bounded and add it to BNL_ALLOWED"
    )
