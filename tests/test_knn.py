"""kNN join against a brute-force reference: every point sorted by
(dist2, id) per query."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geoio_jl_spark import dialect as D
from geoio_jl_spark.operators import knn as KNN


def _reference(pts, qs, k):
    points = [(r["doc_id"], r["lon_i"], r["lat_i"]) for r in pts.collect()]
    out = []
    for q, qx, qy in qs.select("query_id", "qx", "qy").collect():
        ranked = sorted(((x - qx) ** 2 + (y - qy) ** 2, p)
                        for p, x, y in points)
        out += [(q, p, d2, rank)
                for rank, (d2, p) in enumerate(ranked[:k], start=1)]
    return sorted(out)


def _points(spark, n=3000):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.expr(D.LON_I.format(id="id")).alias("lon_i"),
        F.expr(D.LAT_I.format(id="id")).alias("lat_i"),
    )


def _queries(spark, n=12):
    return spark.createDataFrame(pd.DataFrame({
        "query_id": range(n),
        "qx": [(q * 1117) % 33000 + 1500 for q in range(n)],
        "qy": [(q * 2339) % 14000 + 1500 for q in range(n)],
    }))


def _several_partitions(spark):
    return _points(spark).repartition(6), _queries(spark)


def _query_outside_extent(spark):
    qs = spark.createDataFrame(pd.DataFrame({
        "query_id": [0, 1], "qx": [90000, 0], "qy": [90000, 0]}))
    return _points(spark, n=400), qs


def _dense_blob(spark):
    rng = np.random.default_rng(7)
    blob = pd.DataFrame({
        "doc_id": range(500),
        "lon_i": rng.integers(4900, 5100, 500),
        "lat_i": rng.integers(4900, 5100, 500)})
    bg = pd.DataFrame({
        "doc_id": range(500, 3500),
        "lon_i": rng.integers(0, 36000, 3000),
        "lat_i": rng.integers(0, 17000, 3000)})
    qs = spark.createDataFrame(pd.DataFrame(
        {"query_id": [0], "qx": [5000], "qy": [5000]}))
    return spark.createDataFrame(pd.concat([blob, bg])), qs


def _tie(spark):
    # two points equidistant from the query: lower doc_id wins rank
    pts = spark.createDataFrame(pd.DataFrame({
        "doc_id": [10, 20, 30], "lon_i": [0, 200, 500], "lat_i": [100, 100, 100],
    }))
    qs = spark.createDataFrame(pd.DataFrame({
        "query_id": [0], "qx": [100], "qy": [100],
    }))
    return pts, qs


def _equidistant_ring(spark):
    # twelve points in one partition, all at dist2 = 100 from the query,
    # with shuffled ids: the lowest ids must win whatever subset a partial
    # sort keeps at the k-th distance
    ring = [(10, 0), (0, 10), (-10, 0), (0, -10), (6, 8), (8, 6),
            (-6, 8), (-8, 6), (6, -8), (8, -6), (-6, -8), (-8, -6)]
    pts = spark.createDataFrame(pd.DataFrame({
        "doc_id": np.random.default_rng(5).permutation(12) + 100,
        "lon_i": [1000 + x for x, _ in ring],
        "lat_i": [1000 + y for _, y in ring]})).coalesce(1)
    qs = spark.createDataFrame(pd.DataFrame(
        {"query_id": [0], "qx": [1000], "qy": [1000]}))
    return pts, qs


@pytest.mark.parametrize("case,k", [
    (_several_partitions, 7), (_query_outside_extent, 5), (_dense_blob, 5),
    (_tie, 2),
    (_equidistant_ring, 1), (_equidistant_ring, 3), (_equidistant_ring, 5)],
    ids=lambda v: v.__name__.lstrip("_") if callable(v) else str(v))
def test_knn_join_matches_reference(spark, case, k):
    pts, qs = case(spark)
    got = sorted(map(tuple, KNN.knn_join(pts, qs, k).collect()))
    assert got == _reference(pts, qs, k)


def test_k_larger_than_points(spark):
    pts, qs = _points(spark, n=3), _queries(spark, n=2)
    got = sorted(map(tuple, KNN.knn_join(pts, qs, k=10).collect()))
    assert len(got) == 6  # 2 queries x 3 points
    assert got == _reference(pts, qs, 10)


def test_empty_points(spark):
    pts = _points(spark, n=1).filter("doc_id < 0")
    out = KNN.knn_join(pts, _queries(spark), k=3)
    assert out.count() == 0
    assert out.columns == ["query_id", "doc_id", "dist2", "rank"]
