"""Streaming graph accumulation: ingest kNN edges as they are
produced (per-batch index refreshes, crawl joins) and maintain the
canonical edge set plus EXACTLY-incremental per-node triangle counts —
the streaming leg of `operators/graphrank.triangle_stats`.

Why triangles can be exactly incremental: a triangle becomes complete
at precisely the micro-batch that delivers its LAST edge, so counting,
per batch, the triangles that contain at least one genuinely-new edge
(each distinct triple once) partitions the final triangle set across
batches with no overlap and no gap. Degrees are additive in new
canonical edges. Both deltas are integer-exact, so after any ingest
order the state equals the batch `triangle_stats` over the full edge
set ROW-FOR-ROW (the stream ≡ batch pin in
`tests/test_streaming.py::test_streaming_graph_triangles_equal_batch`).

State: the per-node rows ``(node, degree, triangles)`` on the as_of
state chain (``profile_stream._prior_state``), plus the canonical edge
sink, one batch-slot partition ``(run_id, batch_id)`` per batch holding
that batch's genuinely-new edges. A replay of batch b reads only
edge slots batch_id < b, so it recomputes the same delta.

Merge: per-node SUM of the degree and triangle deltas. Edges are
CONTENT-addressed — the canonical (a, b) pair is its own identity — so
redelivered edges are eliminated by an anti-join against the edge
sink, not by an id-ordered arrival guard (duplicate and out-of-order
delivery are both harmless).

Per-trigger cost: the new-edge anti-join and the common-neighbor
triangle probe are Δ-keyed equi-joins — shuffle work is O(|Δ|·d̄)
(delta times mean degree), never O(|E|²); the full edge history is
scanned once per trigger (the price of exact incremental triangles —
still far below the |E|^1.5 full recount it replaces).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from semantic_ann_in_data_lake_spark.streaming.profile_stream import (
    _lineage_token,
    _prior_state,
    _read_latest_state,
    _read_sink_or_none,
    _write_slot,
    scoped_foreach_batch,
)

_STATE_COLS = ("node", "degree", "triangles")


def read_graph_state(
    spark, state_path: str, lineage: str | None = None
) -> DataFrame:
    """Latest accumulated per-node graph state: ``(node, degree,
    triangles, clustering)`` — the same relation
    `operators/graphrank.triangle_stats` computes in batch (clustering
    derived with the identical expression, so equality is exact)."""
    cur = _read_latest_state(spark, state_path, lineage, "graph")
    return cur.select(
        "node",
        "degree",
        "triangles",
        F.when(
            F.col("degree") >= 2,
            F.round(
                F.lit(2.0)
                * F.col("triangles").cast("double")
                / (
                    F.col("degree").cast("double")
                    * (F.col("degree") - F.lit(1)).cast("double")
                ),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("clustering"),
    )


def incremental_graph_foreach_batch(
    edge_stream: DataFrame,
    state_path: str,
    edges_path: str,
    src_col: str = "src",
    dst_col: str = "dst",
    lineage: str | None = None,
):
    """foreachBatch accumulator over a stream of DIRECTED edges: dedup
    into the canonical undirected sink and fold exact degree/triangle
    deltas into the per-node state (see module doc). Returns the
    writeStream builder (caller sets checkpoint and starts)."""
    run_token = _lineage_token(lineage)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        b = int(batch_id)

        # canonical a < b, in-batch dedup
        raw = batch_df.select(
            F.col(src_col).alias("s"), F.col(dst_col).alias("d")
        ).where(F.col("s") != F.col("d"))
        cand = (
            raw.select(
                F.least("s", "d").alias("a"), F.greatest("s", "d").alias("b")
            )
            .distinct()
        )

        # committed history = partitions strictly before this batch;
        # slots at/after b are crash leftovers a replay must ignore
        sink = _read_sink_or_none(spark, edges_path)
        if sink is not None:
            hist = sink.where(
                (F.col("run_id") == run_token) & (F.col("batch_id") < b)
            ).select("a", "b")
        else:
            hist = None

        delta = cand
        if hist is not None:
            delta = cand.join(hist, ["a", "b"], "left_anti")
        delta = delta.localCheckpoint(eager=True)

        pre, _ = _prior_state(
            spark, state_path, run_token, b, _STATE_COLS, "graph"
        )

        n_delta = delta.count()
        if n_delta == 0 and pre is None:
            return  # nothing to record yet
        if n_delta == 0:
            merged = pre
        else:
            # E' = history + delta, as adjacency (both directions)
            full = delta if hist is None else hist.unionByName(delta)
            und = full.select(
                F.col("a").alias("x"), F.col("b").alias("y")
            ).unionByName(
                full.select(F.col("b").alias("x"), F.col("a").alias("y"))
            )
            # triangles completed by a delta edge: common neighbors of
            # its endpoints in E' — each triple counted once
            u1 = und.select(F.col("x").alias("a"), F.col("y").alias("c1"))
            u2 = und.select(F.col("x").alias("b"), F.col("y").alias("c2"))
            new_tris = (
                delta.join(u1, "a")
                .join(u2, "b")
                .where(
                    (F.col("c1") == F.col("c2"))
                    & (F.col("c1") != F.col("a"))
                    & (F.col("c1") != F.col("b"))
                )
                .select(
                    F.array_sort(
                        F.array("a", "b", F.col("c1"))
                    ).alias("tri")
                )
                .distinct()
            )
            tri_delta = (
                new_tris.select(F.explode("tri").alias("node"))
                .groupBy("node")
                .agg(F.count(F.lit(1)).alias("__t"))
            )
            deg_delta = (
                delta.select(F.col("a").alias("node"))
                .unionByName(delta.select(F.col("b").alias("node")))
                .groupBy("node")
                .agg(F.count(F.lit(1)).alias("__d"))
            )
            deltas = deg_delta.join(tri_delta, "node", "full_outer")
            base = (
                pre
                if pre is not None
                else spark.createDataFrame(
                    [], "node bigint, degree bigint, triangles bigint"
                )
            )
            merged = (
                base.join(deltas, "node", "full_outer")
                .select(
                    "node",
                    (
                        F.coalesce("degree", F.lit(0))
                        + F.coalesce("__d", F.lit(0))
                    ).cast("long").alias("degree"),
                    (
                        F.coalesce("triangles", F.lit(0))
                        + F.coalesce("__t", F.lit(0))
                    ).cast("long").alias("triangles"),
                )
            )

        _write_slot(
            merged.withColumn("as_of_batch", F.lit(b))
            .withColumn("run_id", F.lit(run_token))
            .withColumn("epoch", F.lit(b % 2)),
            state_path,
            ("run_id", "epoch"),
            sort=("node",),
        )
        if n_delta > 0:
            _write_slot(
                delta.withColumn("run_id", F.lit(run_token))
                .withColumn("batch_id", F.lit(b)),
                edges_path,
                ("run_id", "batch_id"),
                sort=("a", "b"),
            )

    return scoped_foreach_batch(edge_stream, handle)
