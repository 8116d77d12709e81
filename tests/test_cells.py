"""Cell index math: Python/Column forms must match the dialect SQL forms."""

import pandas as pd
from pyspark.sql import functions as F

from geoio_jl_spark import dialect as D
from geoio_jl_spark.operators import cells as C


def test_cell_id_col_matches_dialect_sql(spark):
    df = spark.range(5000).select(
        F.expr(D.LON_I.format(id="id")).alias("lon_i"),
        F.expr(D.LAT_I.format(id="id")).alias("lat_i"),
    )
    for res in (0, 3, 5):
        got = df.select(
            C.cell_id_col("lon_i", "lat_i", res).alias("a"),
            F.expr(D.cell_id_sql("lon_i", "lat_i", res)).alias("b"),
        ).filter(F.col("a") != F.col("b")).count()
        assert got == 0, f"res={res}"


def test_cell_parent_consistent(spark):
    df = spark.range(2000).select(
        F.expr(D.LON_I.format(id="id")).alias("lon_i"),
        F.expr(D.LAT_I.format(id="id")).alias("lat_i"),
    )
    out = df.select(
        C.cell_parent(C.cell_id_col("lon_i", "lat_i", 5), 3).alias("a"),
        C.cell_id_col("lon_i", "lat_i", 3).alias("b"),
    ).filter(F.col("a") != F.col("b")).count()
    assert out == 0


def test_cover_bbox_cells(spark):
    boxes = spark.createDataFrame(pd.DataFrame({
        "box_id": [0], "minx": [0], "miny": [0], "maxx": [900], "maxy": [500],
    }))
    # res=3 -> 400-centidegree cells: x cells {0,1,2}, y cells {0,1} -> 6 rows
    out = C.cover_bbox_cells(boxes, "minx", "miny", "maxx", "maxy", res=3)
    assert out.count() == 6
    cells = {r["cell_id"] for r in out.collect()}
    assert len(cells) == 6


def test_point_cell_within_cover(spark):
    # any point inside a bbox must land in one of the bbox's covering cells
    pts = spark.range(300).select(
        F.expr(D.LON_I.format(id="id")).alias("lon_i"),
        F.expr(D.LAT_I.format(id="id")).alias("lat_i"),
    ).filter((F.col("lon_i") <= 5000) & (F.col("lat_i") <= 5000))
    boxes = spark.createDataFrame(pd.DataFrame({
        "box_id": [0], "minx": [0], "miny": [0], "maxx": [5000], "maxy": [5000],
    }))
    cover = {r["cell_id"] for r in
             C.cover_bbox_cells(boxes, "minx", "miny", "maxx", "maxy", 3).collect()}
    pts_cells = {r["c"] for r in
                 pts.select(C.cell_id_col("lon_i", "lat_i", 3).alias("c")).collect()}
    assert pts_cells <= cover
