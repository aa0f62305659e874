"""Per-query Spark job budgets: the counter that hypervisor steal cannot
move. Each query runs once to warm the session (and the table schema
memo), then its builder plus the noop sink must stay within the
committed number of jobs. A change that adds jobs to one of these
queries fails here; a change that removes some should lower its
budget."""

from __future__ import annotations

import pytest

from mapreduce_cs416_spark.plans.registry import ALL_QUERIES
from mapreduce_cs416_spark.testing import count_jobs

# the registered benchmark queries, q5 for a six-table read, the
# other LSH and triangle queries sharing the banded-LSH and
# triangle-count operators, and the queries running the iterative
# graph loops (components, k-core, fixed-point PageRank), and the
# headline queries whose builders write manifest tables (their stats
# are collected without a Spark job)
BUDGETS = {
    "graph_triangles_lsh": 11,
    "graph_triangles": 11,
    "graph_kcore_lsh": 34,
    "graph_kcore": 54,
    "graph_pagerank_fixed": 54,
    # adaptive execution submits up to two more query-stage jobs in
    # some identical warm runs of these two (26-28 and 25-27 jobs,
    # 4 cores), so their budgets are the highest count seen
    "dedup_components": 28,
    "entity_resolution": 27,
    "similarity_cosine_near_dup_lsh": 4,
    "similarity_near_dup_lsh_prod": 4,
    "corpus_bpe_train": 3,
    "mr_wordcount_compat": 1,
    "ivm_orders_revenue": 6,
    "dedup_exact": 2,
    "sketch_heavy_hitters": 5,
    "text_token_stats": 1,
    "q5_local_supplier": 7,
    "cdc_merge_orders_manifest": 10,
    "cdc_change_feed": 12,
    "cdc_merge_schema_evolution": 8,
    "manifest_delete_from": 5,
    "manifest_delete_dv": 6,
    "manifest_native_scan": 5,
    "manifest_repartition_scan": 8,
    "group_atomic_ivm": 20,
}


def _run(spark, sf_dir: str, name: str) -> None:
    ALL_QUERIES[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()


@pytest.mark.parametrize("name", sorted(BUDGETS))
def test_query_job_budget(spark, sf_dir, name):
    _run(spark, sf_dir, name)
    with count_jobs(spark) as jobs:
        _run(spark, sf_dir, name)
    assert jobs.n <= BUDGETS[name], f"{name}: {jobs.n} jobs, budget {BUDGETS[name]}"
