"""Streaming HLL cardinality monitor: the ingest-time form of the
batch distinct-count sketch (`operators/sketches.py::hll_registers`).

A crawl ingest wants "distinct pages / users / tokens so far, per
group" continuously, without re-scanning the log per trigger and
without a full countDistinct key-space shuffle. HLL registers are the
textbook answer.

State: the register rows ``(*group_cols, pos, val)`` — ≤ 64 rows per
group REGARDLESS of cardinality — kept on the as_of state chain
(``profile_stream._prior_state``) with the id frontier
``max_seen_post``.

Merge: per-(group, pos) MAX (``sketches.hll_merge``) — associative AND
idempotent, so accumulating per micro-batch is not an approximation OF
the batch sketch: the streamed register table equals
``hll_registers(full log)`` BIT-FOR-BIT, and every estimate derived
from it equals the batch estimate exactly. Because max-merge is
idempotent a redelivered row could not corrupt the registers even
without the frontier; the frontier only skips its hash work.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from semantic_ann_in_data_lake_spark.streaming.profile_stream import (
    _accumulate_foreach_batch,
    _read_latest_state,
)


def read_hll_state(
    spark,
    state_path: str,
    group_cols: tuple[str, ...] = (),
    lineage: str | None = None,
) -> DataFrame:
    """Latest accumulated register table at ``state_path`` — the frame
    `sketches.hll_estimate` consumes. Picks the highest ``as_of_batch``
    of the given run (or of the lexicographically-greatest run_id when
    several share the path and none is named)."""
    return _read_latest_state(spark, state_path, lineage, "HLL").select(
        *group_cols, "pos", "val"
    )


def incremental_hll_foreach_batch(
    docs_stream: DataFrame,
    state_path: str,
    key_col: str,
    group_cols: tuple[str, ...] = (),
    id_col: str = "doc_id",
    lineage: str | None = None,
):
    """foreachBatch accumulator: sketch each micro-batch's new rows and
    max-merge into the register state (see module doc). Returns the
    writeStream builder (caller sets checkpoint, starts)."""
    from semantic_ann_in_data_lake_spark.operators.sketches import (
        hll_merge,
        hll_registers,
    )

    return _accumulate_foreach_batch(
        docs_stream,
        state_path,
        id_col,
        lineage,
        (*group_cols, "pos", "val"),
        lambda rows: hll_registers(rows, key_col, group_cols=group_cols),
        hll_merge,
        "HLL",
    )
