"""k-means properties: assignment covers every vector, distortion is
non-increasing across iterations, and results are partitioning-
invariant (the determinism claim the DuckDB oracle relies on)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from airflow_subscription_etl_spark.operators.clustering import (
    assign_clusters,
    kmeans_cluster_summary,
    kmeans_fit_predict,
)
from airflow_subscription_etl_spark.sources.io import read_star_table

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def emb(spark):
    return read_star_table(spark, SF, "embeddings")


def test_kmeans_covers_all_vectors(emb):
    n = emb.count()
    out = kmeans_fit_predict(emb, k=4, iters=2)
    assert out.count() == n
    assert out.select("vec_id").distinct().count() == n
    cids = {r["cluster_id"] for r in out.select("cluster_id").distinct().collect()}
    assert cids <= set(range(1, 5)) and len(cids) >= 1


def test_kmeans_distortion_non_increasing(emb):
    def total_dist(iters):
        s = kmeans_cluster_summary(kmeans_fit_predict(emb, k=4, iters=iters))
        return s.agg(F.sum("sum_dist_micro")).collect()[0][0]

    d1, d2, d3 = total_dist(1), total_dist(2), total_dist(3)
    assert d2 <= d1
    assert d3 <= d2


def test_kmeans_partitioning_invariant(emb):
    a = kmeans_cluster_summary(kmeans_fit_predict(emb, k=4, iters=3)).collect()
    b = kmeans_cluster_summary(
        kmeans_fit_predict(emb.repartition(11), k=4, iters=3)
    ).collect()
    key = lambda rows: {r["cluster_id"]: tuple(r) for r in rows}  # noqa: E731
    assert key(a) == key(b)


def test_assign_clusters_tiebreak(spark):
    df = spark.createDataFrame(
        [(1, [0.0, 0.0])], ["vec_id", "embedding"]
    ).select("vec_id", F.col("embedding").cast("array<float>").alias("embedding"))
    # two identical centroids -> tie -> lowest cid wins
    out = assign_clusters(df, [[1.0, 1.0], [1.0, 1.0]]).collect()
    assert out[0]["cluster_id"] == 1


@pytest.mark.parametrize("n_rows, iters", [(3, 1), (3, 2), (0, 1)])
def test_kmeans_fewer_rows_than_k_raises(spark, n_rows, iters):
    """3 rows cannot seed 8 clusters: iters=1 used to return 3 clusters
    silently, iters=2 and an empty input died with IndexError."""
    df = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(n_rows)],
        "vec_id bigint, embedding array<float>",
    )
    with pytest.raises(ValueError, match=f"at least k=8 rows, got {n_rows}"):
        kmeans_fit_predict(df, k=8, iters=iters)


# --- semantic dedup ----------------------------------------------------------


def test_semantic_dedup_drops_near_identical(spark):
    """Exact duplicates land in one cluster; the higher ids of each
    near-identical set are dropped, the lowest survives."""
    from airflow_subscription_etl_spark.operators.clustering import semantic_dedup

    base = [1.0, 0.0, 0.0, 0.0]
    far = [0.0, 1.0, 0.0, 0.0]
    rows = [
        (1, base),
        (2, base),                      # exact dup of 1 -> dropped
        (3, [0.99, 0.01, 0.0, 0.0]),    # near dup of 1 -> dropped
        (4, far),
        (5, [0.0, 0.0, 1.0, 0.0]),      # orthogonal -> kept
    ]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    out = {r["vec_id"]: r["is_dropped"] for r in
           semantic_dedup(df, k=2, iters=2, threshold=0.95).collect()}
    assert out[1] is False
    assert out[2] is True
    assert out[3] is True
    assert out[4] is False
    assert out[5] is False


def test_semantic_dedup_partitioning_invariant(spark):
    from airflow_subscription_etl_spark.operators.clustering import semantic_dedup
    from airflow_subscription_etl_spark.sources.io import read_star_table

    emb = read_star_table(spark, "/root/testdata/sf0.001", "embeddings")
    a = semantic_dedup(emb.repartition(1), k=4, iters=2, threshold=0.45)
    b = semantic_dedup(emb.repartition(13), k=4, iters=2, threshold=0.45)
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def test_kmeans_pandas_twin_bit_identical(spark):
    """assign_clusters_pandas must reproduce the HOF path EXACTLY —
    integer-micro distances are order-free, so any mismatch is a
    rounding/tiebreak bug, not float noise."""
    from airflow_subscription_etl_spark.operators.clustering import (
        assign_clusters,
        assign_clusters_pandas,
    )

    rows = [(i, [float((i * 7 + j * 3) % 11) / 11.0 for j in range(6)]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    cents = [[0.1] * 6, [0.5] * 6, [0.9] * 6]
    a = sorted(map(tuple, assign_clusters(df, cents).collect()))
    b = sorted(map(tuple, assign_clusters_pandas(df, cents).collect()))
    assert a == b
