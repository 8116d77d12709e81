"""Geometry accessor functions over WKB columns (reference F8 — the
GeoInterface trait surface gi.jl:12-57, re-expressed as ``st_*`` column
functions like the SQL/MM convention).

All Arrow-batched (one decode per geometry per batch); scalar outputs so
they compose with any relational plan.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType, IntegerType, StringType, StructField, StructType,
)

from geoio_jl_spark.functions import wkb as W


def _ensure(col):
    from pyspark.sql import SparkSession

    from geoio_jl_spark.shipping import ensure_pyfiles
    s = SparkSession.getActiveSession()
    if s is not None:
        ensure_pyfiles(s)
    return F.col(col) if isinstance(col, str) else col


def _map_udf(ret, fn):
    @F.pandas_udf(ret)
    def _udf(wkbs: pd.Series) -> pd.Series:
        return wkbs.map(lambda b: None if b is None else fn(W.decode_wkb(bytes(b))))
    return _udf


def st_kind(col) -> Column:
    """Geometry type name — POINT/LINESTRING/… (F30 dict, gpkg.jl:543-551)."""
    return _map_udf(StringType(), lambda g: g.kind_name)(_ensure(col))


def st_x(col) -> Column:
    """x of a Point (first coordinate for other kinds)."""
    return _map_udf(DoubleType(),
                    lambda g: float(g.coords[0, 0]) if len(g.coords) else None
                    )(_ensure(col))


def st_y(col) -> Column:
    return _map_udf(DoubleType(),
                    lambda g: float(g.coords[0, 1]) if len(g.coords) else None
                    )(_ensure(col))


def st_npoints(col) -> Column:
    """Total vertex count (ncoord/getcoord trait role)."""
    def count(g):
        n = len(g.coords)
        for c in g.geoms:
            if len(g.coords) == 0:
                n += count(c)
        return n
    return _map_udf(IntegerType(), count)(_ensure(col))


def st_numgeometries(col) -> Column:
    """ngeom trait: parts of a Multi/collection, 1 for simple kinds."""
    def ngeom(g):
        if g.kind in (W.MULTIPOINT, W.MULTILINESTRING, W.MULTIPOLYGON):
            return (len(g.parts) - 1) if g.parts else len(g.geoms)
        if g.kind == W.GEOMETRYCOLLECTION:
            return len(g.geoms)
        return 1
    return _map_udf(IntegerType(), ngeom)(_ensure(col))


_BOUNDS_SCHEMA = StructType([
    StructField("minx", DoubleType()), StructField("miny", DoubleType()),
    StructField("maxx", DoubleType()), StructField("maxy", DoubleType()),
])


def st_bounds(col) -> Column:
    """Per-geometry bbox struct (A1 per-row form)."""
    c = _ensure(col)

    @F.pandas_udf(_BOUNDS_SCHEMA)
    def _udf(wkbs: pd.Series) -> pd.DataFrame:
        b = W.wkb_bounds_batch([None if x is None else bytes(x) for x in wkbs])
        return pd.DataFrame(b, columns=["minx", "miny", "maxx", "maxy"])

    return _udf(c)


def st_centroid_x(col) -> Column:
    c = _ensure(col)

    @F.pandas_udf(DoubleType())
    def _udf(wkbs: pd.Series) -> pd.Series:
        out = W.wkb_centroid_batch([None if x is None else bytes(x) for x in wkbs])
        return pd.Series(out[:, 0])

    return _udf(c)
