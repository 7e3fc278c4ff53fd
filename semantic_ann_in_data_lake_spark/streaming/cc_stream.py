"""Incremental connected-components maintenance over a near-dup edge
stream (the streaming twin of ``operators/dedup.dedup_clusters``).

A dedup pipeline's cluster table must stay current as the streaming
LSH sink (``incremental_neardup_foreach_batch``) discovers new pairs —
recomputing CC from scratch per micro-batch is O(all edges) forever.
This sink maintains the ``(doc_id, cluster_id = min reachable id)``
table incrementally:

1. map the batch's edge endpoints to their CURRENT labels (one keyed
   join against the label sink; unseen nodes label themselves);
2. contract the batch into a LABEL-graph — at most 2·|batch edges|
   nodes regardless of corpus size — and union-find it on the driver
   (the bounded-driver-state discipline: the label graph is
   batch-sized, never corpus-sized);
3. broadcast the old→new label mapping back and rewrite ONLY the
   affected rows (+ insert the batch's new nodes).

Why this is exactly-once WITHOUT an ingest log: min-label merging is
a monotone semilattice — labels only ever decrease, and applying the
same edges twice is the identity on the fixpoint. A replayed batch
maps to an identity label-mapping and rewrites nothing; a crash
between write and checkpoint-commit replays into the same state.
(The profile/CMS sinks need (run, batch) guards because their folds
are NOT idempotent; label merging is, so determinism alone closes
the retry hole.)

Multi-hop correctness across batches: within a batch the driver
union-find closes transitivity; across batches, an edge joining two
existing components merges their LABELS, and every member of the
losing component is rewritten — so the global fixpoint after any
batch equals batch CC over the union of all edges so far (pinned by
the stream ≡ batch equality test).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from semantic_ann_in_data_lake_spark.streaming.profile_stream import (
    scoped_foreach_batch,
    _read_sink_or_none,
)


def _union_find_merge(label_edges: list[tuple[int, int]]) -> dict[int, int]:
    """Union-find over the batch's label graph; returns the non-trivial
    old→new (min of component) mapping."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent.setdefault(r, r) != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in label_edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {x: find(x) for x in parent if find(x) != x}


def incremental_cc_foreach_batch(
    pairs_stream: DataFrame, labels_path: str
):
    """foreachBatch incremental CC: consume ``(id_a, id_b)`` near-dup
    edges and keep the ``(doc_id, cluster_id)`` parquet table at
    ``labels_path`` equal to batch CC over every edge seen so far.

    Per batch the distributed work is one keyed join (endpoint →
    current label), one bounded collect (the ≤2·|batch| distinct
    label pairs), and one filtered rewrite of affected + new rows —
    maintenance cost scales with the batch and the touched
    components, not table history. At 100 TB partition the label sink
    by a hash bucket of ``cluster_id`` and rewrite only touched
    buckets; the local sink keeps a single overwrite-swap for test
    economy (the table is |near-dup docs|-sized, the smallest
    artifact in the pipeline).
    """

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        edges = (
            batch_df.select(
                F.col("id_a").cast("long").alias("a"),
                F.col("id_b").cast("long").alias("b"),
            )
            .where(F.col("a") != F.col("b"))
            .distinct()
        )
        labels = _read_sink_or_none(spark, labels_path)
        if labels is None:
            labels = spark.createDataFrame(
                [], "doc_id long, cluster_id long"
            )
        lab_a = labels.select(
            F.col("doc_id").alias("a"), F.col("cluster_id").alias("la")
        )
        lab_b = labels.select(
            F.col("doc_id").alias("b"), F.col("cluster_id").alias("lb")
        )
        le = (
            edges.join(lab_a, "a", "left")
            .join(lab_b, "b", "left")
            .select(
                F.coalesce("la", F.col("a")).alias("la"),
                F.coalesce("lb", F.col("b")).alias("lb"),
            )
            .where(F.col("la") != F.col("lb"))
            .distinct()
            .collect()
        )
        mapping = _union_find_merge([(r["la"], r["lb"]) for r in le])

        # new nodes enter with their post-merge label
        new_nodes = (
            edges.select(F.col("a").alias("doc_id"))
            .union(edges.select(F.col("b").alias("doc_id")))
            .distinct()
            .join(labels.select("doc_id"), "doc_id", "left_anti")
            .withColumn("cluster_id", F.col("doc_id"))
        )
        updated = labels.unionByName(new_nodes)
        if mapping:
            mdf = F.broadcast(
                spark.createDataFrame(
                    list(mapping.items()), "old long, new long"
                )
            )
            updated = (
                updated.join(mdf, updated.cluster_id == F.col("old"), "left")
                .select(
                    "doc_id",
                    F.coalesce("new", "cluster_id").alias("cluster_id"),
                )
            )
        # eager localCheckpoint truncates lineage so the overwrite no
        # longer references the path it just read (Spark rejects a
        # write over a source still in the plan) — labels stay
        # DISTRIBUTED, nothing collects to the driver
        updated = updated.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("cluster_id").cast("long").alias("cluster_id"),
        ).localCheckpoint(eager=True)
        updated.repartition(1).write.mode("overwrite").parquet(labels_path)

    return scoped_foreach_batch(pairs_stream, handle)
