"""Prototypicality-based data pruning (Sorscher, Geirhos, Shekhar et
al. 2022, "Beyond neural scaling laws: beating power law scaling via
data pruning"): cluster the embedding corpus, score every example by
its distance to its cluster prototype, and DROP the most prototypical
fraction — easy, redundant examples near the center carry the least
marginal information at large data scale, so pruning them beats
random pruning (and at small scale the rule inverts, which is why the
keep fraction is a knob, not a constant).

Assignment is the IVF tier's declarative nearest-centroid rule
(`operators/knn.py::_nearest_cells_declarative`: round(L2², 6) with
centroid-id tie-breaks); the oracle-gated entry runs the
mechanism over the md5-hash-picked centroid fit both engines can
select, while production fits (sample-Lloyd / k-means||) plug into
the same ``centroids`` parameter and stay pinned by pytest.

The keep rule is DIVISION-FREE integer arithmetic: rank examples per
cluster by (distance DESC, id ASC) — hardest first — and keep rank r
of a size-c cluster iff ``r · D ≤ keep_num · c`` (the integer form of
``r ≤ keep_frac · c``), so the flag is cross-engine exact with no
float rounding at the boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from semantic_ann_in_data_lake_spark.operators.knn import _nearest_cells_declarative


def prototype_prune(
    emb: DataFrame,
    centroids: DataFrame,
    keep_num: int = 7,
    keep_den: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "cid",
    centroid_vec_col: str = "cv",
    round_dp: int = 6,
) -> DataFrame:
    """``(vec_id, cluster, dist, kept)`` — full coverage (every input
    row, flagged), the audit-friendly dedup-family shape. ``kept``
    marks the hardest ``keep_num/keep_den`` of each cluster (ties at
    equal rounded distance break by id, so the boundary is stable).

    One broadcast of the centroid table (nlist-sized by construction),
    one assignment pass, one cluster-keyed window — never an all-pairs
    stage."""
    if not (0 < keep_num <= keep_den):
        raise ValueError("0 < keep_num <= keep_den required")
    v = emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    )
    c = centroids.select(
        F.col(centroid_id_col).alias("cell"),
        F.col(centroid_vec_col).cast("array<double>").alias("centroid"),
    )
    assigned = _nearest_cells_declarative(v, c, "__v", 1, round_dp).select(
        "vec_id", F.col("cell").alias("cluster"), F.col("distance").alias("dist")
    )
    w_rank = Window.partitionBy("cluster").orderBy(
        F.col("dist").desc(), F.col("vec_id").asc()
    )
    w_size = Window.partitionBy("cluster")
    return assigned.select(
        "vec_id",
        "cluster",
        "dist",
        (
            F.row_number().over(w_rank) * F.lit(keep_den)
            <= F.count(F.lit(1)).over(w_size) * F.lit(keep_num)
        ).alias("kept"),
    )
