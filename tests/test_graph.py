"""The graph operator path (``operators/graph.py``): each shared edge
table is materialized once per session, and no graph query's plan reads
a cached relation or re-scans parquet past its shared table."""

from __future__ import annotations

import pytest

from form700_etl_spark import io, profile
from form700_etl_spark.registry import all_queries

QUERIES = all_queries()
GRAPH = sorted(n for n in QUERIES if n.startswith("graph_"))


@pytest.mark.parametrize("name", GRAPH)
def test_graph_plan_reads_no_cache_and_no_parquet(spark, sf_dir, name):
    """Every shared edge table is an ``io.materialize`` leaf (``Scan
    ExistingRDD``): a ``.cache()`` would leave an ``InMemoryTableScan``
    wrapping the lineitem scan in each consumer's plan."""
    df = QUERIES[name].fn(spark, sf_dir)
    plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"  # noqa: SLF001
    )
    assert "InMemoryTableScan" not in plan, plan
    assert "Scan parquet" not in plan, plan


@pytest.mark.parametrize(
    "key, reason, first, second",
    [
        ("co_pairs", "graph co-purchase pairs",
         "graph_adamic_adar_links", "graph_jaccard_neighbors"),
        ("stable_co", "graph stable co-purchase adjacency",
         "graph_local_clustering_coeff", "graph_label_propagation"),
        ("purchases", "graph purchase edges",
         "graph_pagerank_bipartite", "graph_personalized_pagerank"),
    ],
)
def test_shared_edge_table_materialized_once_per_session(
    spark, sf_dir, key, reason, first, second
):
    """The first consumer built in a session materializes the shared
    table (its jobs carry ``materialize: <reason>``); a second consumer
    launches none of those jobs."""

    def materializations(after):
        return [
            j for j in profile.jobs(spark, after=after)
            if (j["description"] or "").startswith(f"materialize: {reason}")
        ]

    io._SESSION_CACHE.pop((key, sf_dir), None)  # noqa: SLF001 — make `first` the first consumer
    mark = profile.last_job_id(spark)
    QUERIES[first].fn(spark, sf_dir)
    assert materializations(mark), f"{first} did not materialize {reason}"
    mark = profile.last_job_id(spark)
    QUERIES[second].fn(spark, sf_dir)
    assert not materializations(mark), f"{second} re-materialized {reason}"
