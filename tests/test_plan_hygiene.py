"""Registry-wide physical-plan hygiene sweep.

test_plans.py asserts specific good plans; this asserts the ABSENCE of
bad ones everywhere: no CartesianProduct in any registered batch
query, nested-loop joins only where a broadcast single-row scalar
attach (or a deliberately tiny broadcast query side) makes them the
right plan, and Python nodes only in the operators declared
pandas-based. A new query that accidentally introduces an unbounded
cross product or a row-at-a-time UDF fails here before it ships.

Streaming queries execute their bounded run when the DataFrame is
built, so they are swept separately: the harness records the last
micro-batch's EXECUTED plan per run (streaming/harness.LAST_PLAN) and
the same CartesianProduct / Python-node asserts run over those.
anomaly_isolation_forest stays excluded (driver-side fetch by design,
S5).
"""

from __future__ import annotations

import os

import pytest

from ecommerce_dataengineering_project_spark.queries import registry

_QUERIES, _ = registry()

_SKIP = {n for n in _QUERIES if n.startswith("stream_")} | {"anomaly_isolation_forest"}

# Single-row (or few-row) broadcast sides where BroadcastNestedLoopJoin
# is the intended plan: corpus-level scalars attached to every row, or
# a <=5-row query side joined with a non-equi condition.
_BNLJ_OK = {
    "anomaly_zscore",  # mean/std scalar attach
    "bm25_search",  # corpus stats scalar attach
    "ingestion_freshness",  # global latest-ts scalar attach
    "similarity_topk",  # 5-row broadcast query side, != condition
    "ann_filtered_topk",  # same 5-row broadcast query side, corpus pre-filtered
    "ann_pq_topk",  # same 5-row broadcast query side over PQ codes
    "tfidf_top_terms",  # n_docs scalar attach
    "segment_overlap_sketch",  # |segments|-row pairwise (<) join over sketches
    "heavy_hitter_tokens",  # 1-row total-err scalar attach onto KB sketch state
    "rfm_segments",  # 1-row global-max-date scalar attach
    "mixture_sample",  # 1-row corpus-total scalar attach onto per-stratum counts
    "revenue_histogram",  # 1-row (lo, width) bounds scalar attach
    "inverted_index",  # 1-row n_docs scalar attach for the df band
    "doc_perplexity",  # 1-row vocabulary-size scalar attach
    "mixture_divergence",  # n_slices-row totals + 1-row (V, tot) attaches
    "semantic_decontaminate",  # benchmark-sized broadcast eval side (constant m)
}

# Arrow-batched Python nodes (pandas UDF / mapInPandas / grouped map):
# the declared §2j / multimodal / ANN-assigner surface. Never
# row-at-a-time BatchEvalPython.
_PYTHON_OK = {
    "ann_lsh_topk",
    "ann_ivf_topk",  # nearest-centroid assigner (pandas UDF) on both sides
    "ivf_quantizer_drift",  # nearest-centroid assigner scores every vector
    "ivf_recenter",  # the after-drift report's nearest-centroid assigner
    "ivf_split_hot_cell",  # the after-drift report's nearest-centroid assigner
    "semantic_dedup_incremental",  # assigner builds the history cell index
    "pandas_udf_score",
    "grouped_pandas_stats",
    "multimodal_decode",
    "multimodal_features",
    "multimodal_resize",
    "multimodal_frame_sample",
    "dedup_embedding_cosine",
    "heavy_hitter_tokens",  # mapInPandas MG partition summaries
    "chunk_documents_udtf",  # ArrowEvalPythonUDTF — the §2j UDTF arm
    "udtf_user_sessions",  # ArrowEvalPythonUDTF over a TABLE argument
    "mapinarrow_norms",  # raw-Arrow mapInArrow — the §2j third arm
    "anomaly_scores_distributed",  # broadcast-model mapInPandas scoring
    "cogroup_asof_pandas",  # FlatMapCoGroupsInPandas — the §2j cogroup arm
    "arrow_udf_tokens",  # ArrowEvalPython — native-Arrow scalar UDF (4.1)
    "observed_dq_metrics",  # CollectMetrics rides a noop-write job
}

_PY_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "MapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
)


@pytest.mark.parametrize("name", sorted(n for n in _QUERIES if n not in _SKIP))
def test_plan_hygiene(spark, sf_dir, name):
    plan = (
        _QUERIES[name](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan, f"{name}: unbounded cross product"
    if name not in _BNLJ_OK:
        assert "BroadcastNestedLoopJoin" not in plan, f"{name}: unexpected BNLJ"
    if name not in _PYTHON_OK:
        for node in _PY_NODES:
            assert node not in plan, f"{name}: unexpected Python node {node}"
    # row-at-a-time Python is never acceptable, even in declared ops
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF"


# Streaming sweep: run each stream_* query (bounded), then audit every
# micro-batch plan the harness captured for that run. Python nodes are
# allowed only for the declared per-key-state operator.
_STREAM_PYTHON_OK = {
    "stream_inventory_restock",  # applyInPandasWithState (T7)
    "stream_timer_sessions",  # applyInPandasWithState + event-time timers
    "stream_idle_timer_flush",  # applyInPandasWithState + proc-time timers
}


@pytest.mark.parametrize(
    "name", sorted(n for n in _QUERIES if n.startswith("stream_"))
)
def test_stream_plan_hygiene(spark, sf_dir, name):
    from ecommerce_dataengineering_project_spark.streaming import harness

    harness.LAST_PLAN.clear()
    _QUERIES[name](spark, sf_dir)
    assert harness.LAST_PLAN, f"{name}: no executed micro-batch plan captured"
    for run, plan in harness.LAST_PLAN.items():
        # runs are keyed by their work dir, which must be the query's
        # own scratch dir, never a path relative to the caller's cwd
        assert run.startswith(harness.TMP_ROOT + os.sep), f"{name}: work dir {run}"
        assert "CartesianProduct" not in plan, f"{name}/{run}: cross product"
        assert (
            "BatchEvalPython" not in plan
        ), f"{name}/{run}: row-at-a-time Python UDF"
        if name not in _STREAM_PYTHON_OK:
            for node in _PY_NODES + ("FlatMapGroupsInPandasWithState",):
                assert node not in plan, f"{name}/{run}: Python node {node}"
