"""Streaming maintenance of the persistent IVF index (SURVEY §2.10
extension; batch twin: ``operators/ivf_index.py``).

The reference builds its FAISS index once per run from the full
embedding set (``join_discoverer.py`` builds in-memory per query
session); a 100 TB lake instead ingests embeddings continuously. This
sink appends each micro-batch's vectors UNDER THE STORED CENTROIDS —
the same O(new · nlist) no-refit contract as
:func:`refresh_ivf_index` — so the searchable index trails the stream
by one trigger interval and never pauses for a rebuild.

Exactly-once story (two independent layers, both bounded):

1. a committed ``ingest_log`` of ``(run_id, batch_id)`` pairs, where
   ``run_id`` is minted once per writer incarnation — a replayed
   foreachBatch invocation WITHIN this incarnation (driver retry of a
   fully committed epoch) short-circuits before touching the cells.
   The run scoping matters: a fresh checkpoint restarts ``batch_id``
   at 0, so a bare-batch-id log would collide with a prior run's
   entries and silently drop that batch's NEW rows while the new
   checkpoint marks them consumed. An entry short-circuits only when
   it provably belongs to this incarnation; logs written by older
   versions (no ``run_id`` column) never match and fall through.
2. a vec_id anti-join against the existing cells for cross-run
   re-delivery (restart from a fresh checkpoint, or a prior run's log
   entry that layer 1 now correctly ignores). The probe reads ONLY
   the vec_id column of the cell files (column-pruned scan). It can
   be disabled (``dedup_ids=False``) when re-ingesting duplicate ids
   is acceptable — see below: replays are absorbed semantically even
   without it.

Even a row that slips both layers (crash between the cell append and
the log write) is absorbed semantically: assignment under stored
centroids is deterministic, so the duplicate is byte-identical, and
:func:`search_ivf_index` deduplicates (query_id, cand_id) pairs before
ranking — replayed appends can never change a search result.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from semantic_ann_in_data_lake_spark.operators.ivf_index import (
    refresh_ivf_index,
)
from semantic_ann_in_data_lake_spark.streaming.profile_stream import (
    scoped_foreach_batch,
    _read_sink_or_none,
)


def stream_refresh_ivf_index(
    emb_stream: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dedup_ids: bool = True,
):
    """``writeStream`` writer that keeps the IVF index at ``path``
    current with an append-only embedding stream. The index must
    already exist (``build_ivf_index``) — centroids are never refit
    here, so cell geometry stays stable under ingestion and the
    assignment invariant (``index_assignment_violations``) holds for
    streamed rows exactly as for built rows.
    """

    # minted once per writer incarnation: a driver retry re-invokes
    # THIS closure (same token), while a restarted stream builds a new
    # writer (new token) — so a prior run's log rows, whose batch ids
    # restart at 0 under a fresh checkpoint, can never short-circuit
    # a batch that carries new data (bare-batch_id keying
    # silently lost such rows)
    run_token = uuid.uuid4().hex

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        log_path = f"{path}/ingest_log"
        # mergeSchema: tolerate log dirs mixing the legacy batch_id-only
        # schema with (run_id, batch_id) rows
        log = _read_sink_or_none(
            spark, log_path, {"mergeSchema": "true"}
        )
        if (
            log is not None
            and "run_id" in log.columns
            and log.where(
                (F.col("run_id") == run_token)
                & (F.col("batch_id") == batch_id)
            ).head(1)
        ):
            return  # driver-retry replay of a fully committed batch
        fresh = batch_df
        deduped = False
        if dedup_ids:
            cells = _read_sink_or_none(spark, f"{path}/cells")
            if cells is not None:
                seen = cells.select(
                    F.col("vec_id").alias(id_col)
                ).distinct()
                # persist: the anti-join probes the vec_id column of
                # the ENTIRE index — without this, the emptiness check
                # and the cell append would each run that scan
                fresh = fresh.join(seen, id_col, "left_anti").persist()
                deduped = True
        try:
            if fresh.head(1):
                refresh_ivf_index(spark, path, fresh, id_col, vec_col)
            spark.createDataFrame(
                [(run_token, int(batch_id))],
                "run_id string, batch_id long",
            ).write.mode("append").parquet(log_path)
        finally:
            if deduped:
                fresh.unpersist()

    return scoped_foreach_batch(emb_stream, handle)
