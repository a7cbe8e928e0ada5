"""Connected-components / dedup-cluster operator tests."""
from __future__ import annotations

import time

import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F

from busdata_pipeline_spark.operators.clustering import (
    connected_components,
    dedup_clusters,
    dedup_summary,
    observed_metrics,
)


def _components(spark, edges):
    df = spark.createDataFrame(edges, ["a", "b"])
    return {
        (r.id, r.component) for r in connected_components(df).collect()
    }


def test_chain_converges_to_min(spark):
    # 1-2-3-4-5 chain: diameter 4, needs several propagation rounds.
    got = _components(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (5, 1)}


def test_disjoint_components(spark):
    got = _components(spark, [(10, 20), (20, 30), (100, 200), (7, 8)])
    assert got == {
        (10, 10), (20, 10), (30, 10),
        (100, 100), (200, 100),
        (7, 7), (8, 7),
    }


def test_edge_order_and_direction_irrelevant(spark):
    # Edges given high->low and shuffled: labels still flow to the min.
    got = _components(spark, [(5, 3), (9, 5), (3, 1)])
    assert got == {(1, 1), (3, 1), (5, 1), (9, 1)}


def test_dedup_summary_counts(spark):
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(10)], ["doc_id", "text"]
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], ["a", "b"])
    row = dedup_summary(docs, pairs).collect()[0]
    # 10 docs, 5 in clusters {1,2,3} and {7,8}, 2 clusters -> 7 survive.
    assert (row.n_docs, row.n_clustered_docs, row.n_clusters,
            row.n_after_dedup) == (10, 5, 2, 7)


def test_cluster_id_is_component_min(spark):
    pairs = spark.createDataFrame([(42, 17), (17, 99)], ["a", "b"])
    got = {(r.doc_id, r.cluster_id) for r in dedup_clusters(pairs).collect()}
    assert got == {(17, 17), (42, 17), (99, 17)}


def test_nonconvergence_raises_instead_of_wrong_labels(spark):
    import pytest as _pytest

    from busdata_pipeline_spark.operators.clustering import (
        connected_components,
    )

    # A chain 0-1-2-...-6 has diameter 6; two rounds cannot finish it.
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], ["a", "b"]
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=2)


def test_observed_metrics_wait_is_bounded(spark):
    """An observed action that never runs must fail the wait within its
    timeout, naming the caller's round, instead of hanging the loop."""
    obs = Observation()
    df = spark.range(5).observe(obs, F.count(F.lit(1)).alias("n"))
    t0 = time.perf_counter()
    with pytest.raises(TimeoutError, match="round 3"):
        observed_metrics(obs, "connected_components round 3", timeout_s=0.5)
    assert time.perf_counter() - t0 < 30
    # once the action runs, the same bounded wait returns the metrics
    df.collect()
    assert observed_metrics(obs, "after the action") == {"n": 5}
