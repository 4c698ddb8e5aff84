"""Shuffle-budget regression pins (round 5).

tests/test_plans.py pins plan PROPERTIES (a broadcast here, a pushed
filter there); this suite pins plan COST: the exact shuffle-exchange
ceiling for the headline queries whose one-shuffle (or known-k-shuffle)
shapes are the engine's core scale argument. A refactor that slips a
second Exchange into q1 or turns the sessionization window into a
two-pass shape fails here immediately, instead of surfacing as a bench
drift three rounds later. Budgets are the CURRENT counts (PLANS.md) —
equality below the ceiling is allowed (improvements pass), exceeding it
is a regression.

Counting matches tools/plan_digest.py: hash/range/single-partition
exchanges only — BroadcastExchange moves dimension-sized data and is
deliberately excluded.
"""

from __future__ import annotations

import re

import pytest

from data_pipeline_with_big_data_stack_spark.queries import QUERIES
from tests.conftest import SF_SMOKE

# query -> max allowed shuffle exchanges (from PLANS.md @ round 5)
BUDGETS = {
    "q1_pricing_summary": 1,
    "q3_shipping_priority": 1,
    "q5_local_supplier_volume": 1,
    "q9_product_type_profit": 1,
    "q_druid_hourly_dashboard": 1,
    "q_events_hourly_rollup": 1,
    "q_events_sessionization": 1,
    "q_dedup_exact": 1,
    "q_dedup_minhash_lsh": 2,
    "q_dedup_simhash": 3,
    "q_asof_purchase_to_click": 2,
    "q_range_join_value_bands": 1,
    "q_doc_quality_scores": 0,
    "q_doc_sequence_packing": 1,
    "q_frequent_items_users": 1,
    "q_ann_cosine_topk": 1,
    "q_events_funnel": 6,
    "q_events_funnel_one_pass": 2,  # 1 hash (user_id) + 1 single-partition
    "q_dedup_keep_best": 1,
    "q_source_capped_sampling": 1,
    "q_dsir_domain_selection": 4,  # buckets + totals + per-doc + top-k
    # round 6: the materialized-index lifecycle — both serve paths must
    # stay probe-key-only (build exchanges are K×dim partials). With the
    # lookup-table ADC the codebook and probe-cell aggregates run over
    # coalesce(1), so the q_id window shuffle is the whole plan
    "q_ann_ivfpq_index_search": 1,
    "q_ann_ivfpq_index_expire": 1,
    # round 6: q15 materializes the supplier-revenue view once; the
    # post-checkpoint plan is max-broadcast + joins — no global window
    "q15_top_suppliers_by_revenue": 3,
    # round 7: NB classifier — vocab is materialized pre-plan (bkt-count
    # exchange paid once at checkpoint time); the scoring plan keeps
    # prior (1 row) + vocab totals (≤8192 checkpointed rows) + the
    # per-doc score groupBy. No Window.partitionBy() anywhere.
    "q_quality_classifier_nb": 3,
    # round 7: PR sweep over the frozen model — consts agg + per-doc
    # score groupBy + per-threshold groupBy (model lineage is cut by
    # materialize)
    "q_quality_classifier_pr": 3,
    # round 12: sliding-window exact-substring dedup — win-keyed
    # groupBy + the doc-partitioned islands pass + the final doc agg
    # join; the dup-window count rides the island aggregation, so
    # 3 is the whole op
    "q_doc_exact_substring_dedup": 3,
    # round 14: the exact re-rank over the ADC shortlist — the RETURNED
    # plan is scan(In-pushed shortlist ids) + two broadcasts + the
    # per-probe window, so one hash exchange is the whole stage (the
    # index build/search exchanges run at construction time and are
    # budgeted via q_ann_ivfpq_index_search)
    "q_ann_ivfpq_rerank_topk": 1,
}


def _shuffles(plan: str) -> int:
    return len(re.findall(r"Exchange (?:hash|range|Single)", plan))


@pytest.mark.parametrize("name", sorted(BUDGETS))
def test_shuffle_count_within_budget(spark, name):
    df = QUERIES[name](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    got = _shuffles(plan)
    assert got <= BUDGETS[name], (
        f"{name}: {got} shuffle exchanges, budget {BUDGETS[name]} — a new "
        "Exchange crept into a pinned one-shuffle shape (see PLANS.md)"
    )
