"""Iterative algorithms: k-means convergence and connected-components
label propagation."""

from __future__ import annotations

from pyspark.sql import functions as F

from eclypsium_etl_spark import plans
from eclypsium_etl_spark.io import table
from eclypsium_etl_spark.llm import clustering
from eclypsium_etl_spark.llm.clustering import connected_components, kmeans

from .conftest import SF_SMOKE, spark_jobs


def test_connected_components_multihop(spark):
    """Label must propagate across a 4-hop chain (needs >1 iteration) and
    stay put in a separate component."""
    pairs = spark.createDataFrame(
        # chain 1-2-3-4-5 (given as adjacent pairs) + island {10, 11}
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)],
        "doc_a long, doc_b long",
    )
    got = {
        r.doc_id: r.group_id for r in connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10}


def test_kmeans_iterations_improve_objective(spark):
    """More Lloyd iterations must not decrease mean within-cluster cosine
    (the objective k-means on unit vectors maximizes)."""
    from eclypsium_etl_spark.functions import dot
    from eclypsium_etl_spark.llm.clustering import recompute_centroids

    def objective(assigned):
        cents = recompute_centroids(assigned)
        joined = assigned.join(cents, "cent_id")
        return (
            joined.select(
                dot(
                    F.col("embedding"), F.col("cent_emb")
                ).alias("sim")
            )
            .agg(F.avg("sim"))
            .collect()[0][0]
        )

    one = objective(kmeans(spark, SF_SMOKE, iterations=1))
    three = objective(kmeans(spark, SF_SMOKE, iterations=3))
    assert three >= one - 1e-9, (one, three)


def test_kmeans_assignment_complete_and_stable(spark):
    """Every vector assigned to exactly one cluster; rerun is identical
    (deterministic init + tiebreaks)."""
    a = kmeans(spark, SF_SMOKE, iterations=2)
    n_vecs = table(spark, SF_SMOKE, "embeddings").count()
    assert a.count() == n_vecs
    m1 = {r.vec_id: r.cent_id for r in a.collect()}
    m2 = {r.vec_id: r.cent_id for r in kmeans(spark, SF_SMOKE, iterations=2).collect()}
    assert m1 == m2


def test_warm_canonical_kmeans_is_memo_only(spark, monkeypatch):
    """A second canonical kmeans_fit is a pure memo read: it builds no
    training or assignment plan, launches no Spark job (no schema is
    inferred again), its assignment scans only the memo, and its rows
    equal the first call's."""
    asg1, cents1 = clustering.kmeans_fit(spark, SF_SMOKE, iterations=2)
    rows1 = sorted(asg1.collect()), sorted(cents1.collect())

    def no_plan(*_):
        raise AssertionError("a memo hit built an assignment plan")

    monkeypatch.setattr(clustering, "assign_to_centroids", no_plan)
    (asg2, cents2), jobs = spark_jobs(
        spark, lambda: clustering.kmeans_fit(spark, SF_SMOKE, iterations=2)
    )
    assert jobs == []
    assert plans.physical_plan(asg2).count("FileScan") == 1
    assert (sorted(asg2.collect()), sorted(cents2.collect())) == rows1


def test_star_contraction_matches_label_prop(spark):
    """connected_components_star must produce exactly the label-prop
    result (same (doc_id, group_id) map) on a mixed graph: chains,
    an island, a triangle, and out-of-order ids."""
    from eclypsium_etl_spark.llm.clustering import connected_components_star

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11),
         (20, 21), (21, 22), (20, 22),  # triangle
         (7, 30), (6, 30)],             # min id arrives via a hub
        "doc_a long, doc_b long",
    )
    label = {r.doc_id: r.group_id for r in connected_components(pairs).collect()}
    star = {r.doc_id: r.group_id for r in connected_components_star(pairs).collect()}
    assert star == label


def test_star_contraction_handles_high_diameter(spark):
    """The O(log n) upgrade claim: a 60-node PATH graph (diameter 59)
    converges for star contraction well inside 20 rounds — label
    propagation would need ~59 rounds (one hop per round) and its default
    budget correctly REFUSES instead of returning split components."""
    import pytest

    from eclypsium_etl_spark.llm.clustering import connected_components_star

    n = 60
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    got = {r.doc_id: r.group_id for r in connected_components_star(pairs).collect()}
    assert got == {i: 0 for i in range(n)}
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iter=10)


def test_dedup_groups_star_api(spark):
    """ops.dedup_groups(algorithm="star") yields the same groups + keeper
    flags as the default label propagation; unknown algorithms refuse."""
    import pytest

    from eclypsium_etl_spark import ops

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    lab = {(r.doc_id, r.group_id, r.is_canonical) for r in ops.dedup_groups(pairs).collect()}
    star = {
        (r.doc_id, r.group_id, r.is_canonical)
        for r in ops.dedup_groups(pairs, algorithm="star").collect()
    }
    assert lab == star
    with pytest.raises(ValueError, match="unknown algorithm"):
        ops.dedup_groups(pairs, algorithm="bogus")
