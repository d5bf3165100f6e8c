"""Spark jobs per graph-family query at sf0.01: the bounded driver replay
keeps each query's control plane fixed. Counted on the second of two runs
(the first warms the fixture schema cache), the final collect included.
The counts do not depend on the core count (checked at local[2], [4]
and [8])."""

from __future__ import annotations

import os

import pytest

from tests.conftest import SF_SMALL

#: the sf0.01 fixture, a sibling of the suite's shared sf0.001 one
SF = os.path.join(os.path.dirname(SF_SMALL), "sf0.01")

JOBS = {
    "graph_pagerank_trade": 8,
    "graph_label_propagation": 8,
    "graph_bfs_levels": 8,
    "graph_sssp_cheapest": 8,
    "graph_hits_trade": 8,
    "graph_hash_random_walk": 8,
    "text_textrank_words": 8,
    "graph_ktruss_core": 9,
    "graph_temporal_reachability": 9,
    "graph_ppr_asia": 10,
    "graph_kcore_trade": 11,
    "graph_temporal_reachability_incremental": 11,
    "graph_harmonic_centrality": 11,
    "events_markov_stationary": 4,
}


@pytest.mark.parametrize("name", sorted(JOBS))
def test_graph_query_job_count(spark, name):
    from arc_cassandra_pipeline_plugin_spark.queries import load_all

    query = load_all()[name]
    sc = spark.sparkContext
    for run in range(2):
        sc.setJobGroup(f"jobs_{name}_{run}", name)
        try:
            query.fn(spark, SF).collect()
        finally:
            sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup(f"jobs_{name}_1")
    assert len(jobs) == JOBS[name]
