"""kNN join: for each query point, the k nearest data points.

The reference's only nearest-neighbour structure is the GPKG R-tree
(gpkg.jl:411-448); here the role is one plan, a map-side partial top-k:
broadcast the (small) query side, keep a *local* top-k per partition inside
an Arrow-batched numpy kernel, then merge the |partitions| x |queries| x k
survivors with one small shuffle and a ``row_number`` window.  Shuffle
volume is O(P*Q*k), independent of |points|.

Distances are squared-Euclidean in integer centidegrees (exact, hash-stable
across engines); ties break on the point id.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def knn_join(points: DataFrame, queries: DataFrame, k: int,
             px: str = "lon_i", py: str = "lat_i",
             qid: str = "query_id", qx: str = "qx", qy: str = "qy",
             point_id: str = "doc_id") -> DataFrame:
    """Rows ``(qid, point_id, dist2, rank)``: the k points nearest each
    query, ranked by ``(dist2, point_id)``."""
    from geoio_jl_spark.shipping import ensure_pyfiles
    spark = points.sparkSession
    ensure_pyfiles(spark)
    qrows = queries.select(qid, qx, qy).collect()  # query side is small by contract
    q_ids = np.array([r[0] for r in qrows], dtype=np.int64)
    q_x = np.array([r[1] for r in qrows], dtype=np.int64)
    q_y = np.array([r[2] for r in qrows], dtype=np.int64)
    bq = spark.sparkContext.broadcast((q_ids, q_x, q_y))

    def local_topk(batches):
        ids, xs, ys = bq.value
        empty = np.empty(0, dtype=np.int64)
        best_d = [empty] * len(ids)
        best_p = [empty] * len(ids)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            p_id = pdf[point_id].to_numpy(np.int64)
            p_x = pdf[px].to_numpy(np.int64)
            p_y = pdf[py].to_numpy(np.int64)
            # (Q, B) squared distances, vectorized
            d2 = (p_x[None, :] - xs[:, None]) ** 2 + (p_y[None, :] - ys[:, None]) ** 2
            kk = min(k, d2.shape[1])
            # keep every point tied at the kk-th distance, so the cut to k
            # below sees the lowest ids among them
            kth = np.partition(d2, kk - 1, axis=1)[:, kk - 1]
            for qi in range(len(ids)):
                sel = d2[qi] <= kth[qi]
                cd = np.concatenate([best_d[qi], d2[qi, sel]])
                cp = np.concatenate([best_p[qi], p_id[sel]])
                top = np.lexsort((cp, cd))[:k]
                best_d[qi], best_p[qi] = cd[top], cp[top]
        yield pd.DataFrame({
            qid: np.repeat(ids, [len(d) for d in best_d]),
            point_id: np.concatenate([empty, *best_p]),
            "dist2": np.concatenate([empty, *best_d]),
        })

    partial = points.select(point_id, px, py).mapInPandas(
        local_topk, schema=f"{qid} long, {point_id} long, dist2 long"
    )
    w = Window.partitionBy(qid).orderBy(F.col("dist2").asc(), F.col(point_id).asc())
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(qid, point_id, "dist2", "rank")
    )
