"""Streaming PCA-moment accumulation: the ingest-time form of the
batch covariance pass (`operators/embedproj.py::embedding_cov_moments`).

A production embedding pipeline wants the ANN rotation (PCA / OPQ)
fitted over EVERYTHING ingested so far without re-scanning the corpus
per refresh.

State: the d(d+1)/2 exact moment rows ``(i, j, n, sx, sy, sxy)`` —
the table IS the product — kept on the as_of state chain
(``profile_stream._prior_state``) with the id frontier
``max_seen_post``, which keeps a re-delivered file out of the sums.

Merge: ``embedproj.merge_cov_moments``, a DECIMAL-exact sum. Decimal
addition is associative, so accumulating per micro-batch is not an
approximation: the streamed state equals the batch pass over the full
log BIT-FOR-BIT, and `pca_fit_from_moments(state)` equals
`pca_fit(full corpus)` exactly — the strongest stream ≡ batch pin in
the suite (hash equality on the state itself, not just on derived
outputs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from semantic_ann_in_data_lake_spark.streaming.profile_stream import (
    _accumulate_foreach_batch,
    _read_latest_state,
)

_MOMENT_COLS = ("i", "j", "n", "sx", "sy", "sxy")


def read_cov_moments_state(
    spark, state_path: str, lineage: str | None = None
) -> DataFrame:
    """Latest accumulated moments at ``state_path`` — the frame
    `pca_fit_from_moments` consumes. Picks the highest ``as_of_batch``
    of the given run (or of the lexicographically-greatest run_id when
    several runs share the path and none is named)."""
    return _read_latest_state(spark, state_path, lineage, "moments").select(
        *_MOMENT_COLS
    )


def incremental_cov_moments_foreach_batch(
    emb_stream: DataFrame,
    state_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lineage: str | None = None,
):
    """foreachBatch accumulator: fold each micro-batch's exact moment
    relation into the moments state (see module doc). Returns the
    writeStream builder (caller sets checkpoint and starts)."""
    from semantic_ann_in_data_lake_spark.operators.embedproj import (
        embedding_cov_moments,
        merge_cov_moments,
    )

    return _accumulate_foreach_batch(
        emb_stream,
        state_path,
        id_col,
        lineage,
        _MOMENT_COLS,
        lambda rows: embedding_cov_moments(rows, vec_col),
        merge_cov_moments,
        "moments",
    )
