"""Persistent, incrementally-refreshable IVF index.

The reference persists its ANN artifacts to disk and reloads them per
query session (``DeepJoin/annIndex.py:21-40`` saves/loads an hnswlib
graph; SURVEY §4.3 redesigns persistence as Parquet). The per-run IVF
strategy in ``operators/knn.py`` refits centroids on every call —
right for one-shot joins, wasteful for a standing index over a
growing corpus. This module is the standing form, stored as
``<path>/centroids`` (``cell`` 0..nlist-1, ``centroid``) and
``<path>/cells`` (``vec_id``, ``embedding``; hive-partitioned by
``cell``):

- ``build_ivf_index``: fit centroids once (shared
  ``knn.fit_ivf_centroids`` — sample or distributed k-means||),
  assign every vector to its nearest cell, persist both tables.
- ``refresh_ivf_index``: assign ONLY the new vectors against the
  stored centroids and append one file to each cell they touch,
  written by parallel tasks — ingesting a day's embeddings touches no
  existing data and costs O(new·nlist).
  Centroids drift as the corpus grows (FAISS guidance: retrain when
  recall sags); ``build`` is the retrain, ``refresh`` the fast path.
- ``search_ivf_index``: the per-run IVF tier's own query path
  (``knn._ivf_scored``) over the stored cells — probe the ``nprobe``
  nearest cells per query, score each probed cell with BLAS and a
  local top-k, merge. Distances are exact recomputes over the probed
  cells (the reference's own ANN contract: approximate NEIGHBORS,
  exact DISTANCES), so results are deterministic and
  invariant-checkable.
- ``index_assignment_violations``: the standing invariant — every
  stored vector sits in the cell of its nearest centroid. Empty iff
  build+refresh agree with a from-scratch recompute; the oracle is
  ``WHERE FALSE``.

Build, refresh and the violation check assign with the declarative
nearest-centroid rule (``knn._nearest_cells_declarative``: 6-dp-rounded
L2², lowest cell id on ties), because the stored assignment must stay
replayable by the violation check and the DuckDB oracles. The search
probes with the tier's numpy rule (``knn._assign_cells``); a probe that
breaks a near-tie the other way changes which cells are scanned, never
a reported distance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from semantic_ann_in_data_lake_spark.operators.knn import (
    _check_metric, _ivf_scored, _nearest_cells_declarative, _prep,
    _ranked_topk, _require_integral_ids, derive_nlist, fit_ivf_centroids,
)


#: the stored ``<path>/centroids`` layout
_CENTROIDS_SCHEMA = "cell int, centroid array<double>"


def _centroids_df(spark: SparkSession, centroids) -> DataFrame:
    rows = [(i, [float(x) for x in ctr]) for i, ctr in enumerate(centroids)]
    return spark.createDataFrame(rows, _CENTROIDS_SCHEMA)


def _read_centroids(spark: SparkSession, path: str) -> DataFrame:
    """The stored centroid table, read with its known schema: no
    schema-inference job on every search, refresh and check."""
    return spark.read.schema(_CENTROIDS_SCHEMA).parquet(f"{path}/centroids")


def _stored_vectors(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return _prep(emb, id_col, vec_col, "cand").select(
        F.col("cand_id").alias("vec_id"), F.col("cand_vec").alias("embedding")
    )


def _write_cells(df: DataFrame, path: str, mode: str) -> None:
    """Write assigned ``(vec_id, embedding, cell)`` rows into the
    hive-partitioned ``<path>/cells``: one file per touched cell, from
    parallel tasks. Hashing by cell puts each cell in exactly one task;
    the explicit partition count keeps AQE from coalescing the shuffle
    into a single task that writes every cell file in turn."""
    n = df.sparkSession.sparkContext.defaultParallelism
    df.repartition(n, "cell").write.mode(mode).partitionBy("cell").parquet(
        f"{path}/cells"
    )


def assign_cells_jvm(
    vecs: DataFrame, centroids: DataFrame, n_cells: int = 1
) -> DataFrame:
    """Nearest ``n_cells`` centroid ids per vector under the declarative
    rule (broadcast cross join over the nlist-row centroid table +
    argmin window). Returns ``(vec_id, embedding, cell[, cell_rank])``;
    deterministic: 6-dp distance, cell-id tie-break."""
    out = _nearest_cells_declarative(
        vecs, centroids, "embedding", n_cells
    ).drop("distance")
    return out.drop("cell_rank") if n_cells == 1 else out


def build_ivf_index(
    emb: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int | None = None,
    seed: int = 42,
    fit: str = "sample",
) -> None:
    if nlist is None:
        # same scale-aware default as the per-run IVF tiers: cells
        # track the corpus (≈ √n) so a persistent index built today
        # still partitions the corpus after it grows
        nlist = derive_nlist(emb)
    prepped = _prep(emb, id_col, vec_col, "cand")
    cents = fit_ivf_centroids(prepped, nlist=nlist, seed=seed, fit=fit)
    cdf = _centroids_df(emb.sparkSession, cents)
    cdf.write.mode("overwrite").parquet(f"{path}/centroids")
    _write_cells(
        assign_cells_jvm(_stored_vectors(emb, id_col, vec_col), cdf), path, "overwrite"
    )


def refresh_ivf_index(
    spark: SparkSession,
    path: str,
    new_emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Append new vectors under the STORED centroids — no refit, no
    touch of existing cells (each cell the new rows touch gains one
    file, written by parallel tasks)."""
    cdf = _read_centroids(spark, path)
    _write_cells(
        assign_cells_jvm(_stored_vectors(new_emb, id_col, vec_col), cdf), path, "append"
    )


def search_ivf_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 4,
    metric: str = "l2_sq",
    exclude_self: bool = True,
    round_dp: int = 6,
) -> DataFrame:
    """Top-k per query over the persisted cells, through the IVF tier's
    probe-and-score path. The stored centroid ids must be 0..nlist-1
    (the layout ``build_ivf_index`` writes): the probe names cells by
    centroid row. Ids must be integral, as in every numpy kNN tier. A
    re-ingested id may sit in two cells, so pairs are deduplicated
    before ranking."""
    import numpy as np

    _check_metric(metric)
    # at most nlist rows: sort on the driver, not with a range-sampled
    # distributed sort on every search
    cents = sorted(
        _read_centroids(spark, path).collect(), key=lambda r: r["cell"]
    )
    if [r["cell"] for r in cents] != list(range(len(cents))):
        raise ValueError(f"centroid ids at {path} are not 0..nlist-1")
    cells = spark.read.parquet(f"{path}/cells").select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("cand_vec"),
        "cell",
    )
    q = _prep(queries, id_col, vec_col, "query")
    _require_integral_ids(q, cells)
    scored = _ivf_scored(
        q,
        cells,
        np.asarray([r["centroid"] for r in cents], dtype=np.float64),
        nprobe, k, metric, exclude_self, round_dp,
    ).dropDuplicates(["query_id", "cand_id"])
    return _ranked_topk(scored, k, metric)


def index_assignment_violations(spark: SparkSession, path: str) -> DataFrame:
    """Rows whose STORED cell is not the argmin cell under the stored
    centroids — empty iff the index (after any number of refreshes)
    matches a from-scratch assignment. The checks.py posture: a
    distributed property with a ``WHERE FALSE`` oracle."""
    cdf = _read_centroids(spark, path)
    cells = spark.read.parquet(f"{path}/cells")
    want = assign_cells_jvm(
        cells.select("vec_id", "embedding"), cdf
    ).withColumnRenamed("cell", "want_cell")
    return (
        cells.select("vec_id", F.col("cell").alias("stored_cell"))
        .join(want.select("vec_id", "want_cell"), "vec_id")
        .where(F.col("stored_cell") != F.col("want_cell"))
        .select("vec_id", "stored_cell", "want_cell")
    )
