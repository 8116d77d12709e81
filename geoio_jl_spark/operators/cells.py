"""Cell index operators — the engine's replacement for the reference's
R-tree spatial index (gpkg.jl:411-448) per the north rule: an H3/S2-style
hierarchical integer cell id used as a partition / equi-join key so spatial
predicates become joins Catalyst already knows how to execute.

All cell math is pure int64 column arithmetic (whole-stage codegen, no
UDFs); the id layout is ``res * 2^40 + cx * 2^20 + cy`` over centidegree
coordinates — see dialect.cell_id_sql for the shared two-dialect form.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from geoio_jl_spark import dialect

RES_BITS = 1099511627776  # 2**40
CX_BITS = 1048576  # 2**20


def cell_id_col(lon_i: str | Column, lat_i: str | Column, res: int) -> Column:
    """cell_id for integer centidegree coords (non-negative)."""
    e = dialect.cell_edge_centideg(res)
    lon_c = F.col(lon_i) if isinstance(lon_i, str) else lon_i
    lat_c = F.col(lat_i) if isinstance(lat_i, str) else lat_i
    return (
        F.lit(res).cast("bigint") * RES_BITS
        + F.floor(lon_c / F.lit(float(e))).cast("bigint") * CX_BITS
        + F.floor(lat_c / F.lit(float(e))).cast("bigint")
    )


def assign_cells(df: DataFrame, lon_i: str = "lon_i", lat_i: str = "lat_i",
                 res: int = 5, out: str = "cell_id") -> DataFrame:
    """Append the cell id column (map-only, shuffle-free)."""
    return df.withColumn(out, cell_id_col(lon_i, lat_i, res))


def cell_parent(cell_id: Column, parent_res: int) -> Column:
    """Coarsen a cell id to an ancestor resolution (pure arithmetic)."""
    res = (cell_id / RES_BITS).cast("bigint")
    cx = ((cell_id % RES_BITS) / CX_BITS).cast("bigint")
    cy = cell_id % CX_BITS
    shift = F.pow(F.lit(2.0), (res - F.lit(parent_res))).cast("bigint")
    return (
        F.lit(parent_res).cast("bigint") * RES_BITS
        + F.floor(cx / shift).cast("bigint") * CX_BITS
        + F.floor(cy / shift).cast("bigint")
    )


def cover_bbox_cells(df: DataFrame, minx: str, miny: str, maxx: str,
                     maxy: str, res: int, out: str = "cell_id") -> DataFrame:
    """Explode each row into one row per cell covering its integer bbox —
    the polygon-tiling step of every spatial join.  Pure
    ``sequence``+``explode`` (JVM-side), no UDF."""
    e = dialect.cell_edge_centideg(res)
    cx0 = F.floor(F.col(minx) / F.lit(float(e))).cast("bigint")
    cx1 = F.floor(F.col(maxx) / F.lit(float(e))).cast("bigint")
    cy0 = F.floor(F.col(miny) / F.lit(float(e))).cast("bigint")
    cy1 = F.floor(F.col(maxy) / F.lit(float(e))).cast("bigint")
    with_cx = df.withColumn("_cx", F.explode(F.sequence(cx0, cx1)))
    with_cy = with_cx.withColumn("_cy", F.explode(F.sequence(cy0, cy1)))
    return with_cy.withColumn(
        out,
        F.lit(res).cast("bigint") * RES_BITS + F.col("_cx") * CX_BITS + F.col("_cy"),
    ).drop("_cx", "_cy")
