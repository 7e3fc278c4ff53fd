"""SemDeDup: cluster-scoped semantic deduplication over embeddings.

Public method: Abbas et al., *SemDeDup: Data-efficient learning at
web-scale through semantic deduplication* (2023). Embeddings are
k-means-clustered; WITHIN each cluster, pairs above a cosine
threshold τ are semantic duplicates and exactly one representative
per duplicate group is kept — the paper's keep rule (keep the example
with the LOWEST cosine similarity to its cluster centroid) is
reproduced by a greedy sweep in ascending centroid-similarity order.
Cross-cluster near-duplicates are missed by design (the paper's own
recall trade; the LSH tier ``dedup.embedding_near_dups`` is the
cluster-free alternative in this repo).

Extension beyond the reference surface: the reference stops at
whole-corpus ANN search (``join_discoverer.py``); SemDeDup is the
standard published recipe for pruning semantically redundant
pre-training data at the 100 TB scale this engine targets.

Scale design:

- **Clustering reuses the IVF machinery** (`knn.fit_ivf_centroids`,
  `knn.derive_nlist`): nlist ≈ √n keeps expected cluster size ≈ √n,
  so per-cluster pairwise work is ~n per cluster-sweep round instead
  of n² corpus-wide. Centroids broadcast (≤ cap·d doubles).
- **Assignment is one Arrow-batched map** (no shuffle): each batch
  computes argmin cell + centroid cosine against the broadcast
  centroid matrix in BLAS form.
- **The greedy sweep shuffles once on cluster id** (applyInPandas).
  Oversized clusters (over ``max_cluster_size``) are hash-subsplit
  with a warning — bounded executor memory wins over exactness at
  the tail, and the miss class (dups straddling a subsplit) is the
  same class the paper already accepts at cluster boundaries.
- **Deterministic**: centroid fit is seeded and sample-sorted, the
  sweep order is (centroid_cos asc, id asc), and subsplit hashing is
  content-addressed — rerun, retry, and repartition all reproduce the
  identical keep set.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from semantic_ann_in_data_lake_spark.operators.knn import (
    _prep,
    _vectors,
    derive_nlist,
    fit_ivf_centroids,
)


def semdedup(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tau: float = 0.95,
    nlist: int | None = None,
    seed: int = 42,
    fit: str = "sample",
    max_cluster_size: int = 100_000,
) -> DataFrame:
    """Cluster-scoped semantic dedup; returns one row per input vector:

    ``(vec_id, cluster, centroid_cos, kept, dup_of, dup_cos)`` —
    ``kept`` marks the representatives; a dropped row names the kept
    representative it duplicates (``dup_of``) and their cosine
    (``dup_cos`` > τ by construction). Zero vectors are their own
    cluster-0 representatives (cosine with anything is 0 ≤ τ).
    """
    import numpy as np
    import pandas as pd

    spark = embeddings.sparkSession
    c = _prep(embeddings, id_col, vec_col, "cand")
    if nlist is None:
        nlist = derive_nlist(c)
    out_schema = (
        "vec_id long, cluster int, centroid_cos double,"
        " kept boolean, dup_of long, dup_cos double"
    )
    if c.limit(1).count() == 0:
        # empty corpus: the centroid fit's seeded sample pick would
        # throw on a zero-row sample — the dedup of nothing is nothing
        return spark.createDataFrame([], out_schema)
    centroids = fit_ivf_centroids(c, nlist=nlist, seed=seed, fit=fit)
    # unit-normalize centroids: assignment then maximizes cosine
    # directly (argmax v̂·ĉ ≡ argmin angular distance on the sphere)
    cn = np.linalg.norm(centroids, axis=1)
    cn[cn == 0.0] = 1.0
    centroids = centroids / cn[:, None]
    bc = spark.sparkContext.broadcast(centroids)

    def assign(batches):
        cents = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vecs = _vectors(pdf)
            norms = np.linalg.norm(vecs, axis=1)
            norms[norms == 0.0] = 1.0
            unit = vecs / norms[:, None]
            cos = unit @ cents.T
            cell = cos.argmax(axis=1)
            out = pd.DataFrame(
                {
                    "vec_id": pdf["cand_id"],
                    "cluster": cell.astype("int32"),
                    "centroid_cos": cos[np.arange(len(cos)), cell],
                    "unit_vec": [row.tolist() for row in unit],
                }
            )
            yield out

    from semantic_ann_in_data_lake_spark.cache import scoped_persist

    # persisted: feeds BOTH the cluster-size aggregate and the subsplit
    # join — without it the full BLAS assignment stage runs twice per
    # action (correctness would survive only because it's deterministic)
    assigned = scoped_persist(
        c.mapInPandas(
            assign,
            schema=(
                "vec_id long, cluster int, centroid_cos double,"
                " unit_vec array<double>"
            ),
        )
    )

    # oversized clusters hash-subsplit into ceil(size/cap) shards; the
    # split key is content-addressed (id hash), so the shard a vector
    # sweeps in never depends on partitioning or retries. Cluster
    # sizes come from a ≤nlist-row aggregate broadcast back (map-side
    # join — the only data shuffle is the sweep's own (cluster, sub))
    sizes = assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("__csize__")
    )
    n_sub = F.greatest(
        F.lit(1),
        F.ceil(F.col("__csize__") / F.lit(max_cluster_size)).cast("int"),
    )
    assigned = (
        assigned.join(F.broadcast(sizes), "cluster")
        .withColumn(
            "sub",
            F.when(
                n_sub > 1, F.pmod(F.xxhash64("vec_id", F.lit(seed)), n_sub)
            ).otherwise(F.lit(0)).cast("int"),
        )
        .drop("__csize__")
    )

    tau_f = float(tau)

    def sweep(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) > max_cluster_size:
            warnings.warn(
                "semdedup: cluster shard exceeds max_cluster_size "
                f"({len(pdf)} rows) — greedy sweep is O(size²) here",
                stacklevel=2,
            )
        pdf = pdf.sort_values(
            ["centroid_cos", "vec_id"], kind="mergesort"
        ).reset_index(drop=True)
        mat = _vectors(pdf, "unit_vec")
        kept_rows: list[int] = []
        kept = np.zeros(len(pdf), dtype=bool)
        dup_of = np.full(len(pdf), -1, dtype=np.int64)
        dup_cos = np.zeros(len(pdf), dtype=np.float64)
        for i in range(len(pdf)):
            if kept_rows:
                sims = mat[kept_rows] @ mat[i]
                j = int(sims.argmax())
                if sims[j] > tau_f:
                    dup_of[i] = pdf["vec_id"].iloc[kept_rows[j]]
                    dup_cos[i] = sims[j]
                    continue
            kept[i] = True
            kept_rows.append(i)
        return pd.DataFrame(
            {
                "vec_id": pdf["vec_id"],
                "cluster": pdf["cluster"],
                "centroid_cos": pdf["centroid_cos"],
                "kept": kept,
                "dup_of": dup_of,
                "dup_cos": dup_cos,
            }
        )

    return assigned.groupBy("cluster", "sub").applyInPandas(
        sweep, schema=out_schema
    )
