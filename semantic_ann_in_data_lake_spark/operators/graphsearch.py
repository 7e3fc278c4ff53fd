"""Beam search over a persisted kNN graph for OUT-OF-CORPUS queries —
the distributed analogue of hnswlib's ``knn_query``
(``DeepJoin/annIndex.py:21-40``): the reference builds an HNSW index
over the column corpus once, then answers arbitrary query vectors by
greedy graph descent. The repo's NN-descent tier
(`operators/nndescent.py`) builds the self-graph; this operator
completes the lifecycle by answering NEW vectors against that graph
(or any ``(query_id, cand_id)`` edge list, e.g. the exact kNN graph or
a parquet-persisted one) without touching the non-graph tiers.

Algorithm — bounded-hop distributed beam search:

1. **Entry points** (the coarse-quantizer step): a deterministic
   hash-order sample of ``n_entry ≈ √n`` corpus nodes plays the role
   of IVF centroids; each query scores the sample (broadcast join —
   the sample is √n rows) and seeds its visited set with its
   ``entry_k`` nearest sample members. Query-adaptive entries, unlike
   HNSW's single global entry point — recall starts near the query.
2. **T hops**: each round takes the current per-query beam (top
   ``beam`` visited by rounded distance, id tie-break), expands it one
   hop along the SYMMETRIZED edge list, re-scores the unseen
   neighbors exactly against the query vector (``knn._rescore_pairs``,
   the verify step the refine and NN-descent tiers share), and folds
   them into the visited set. Each round is one edge join (shuffle by
   node) + the re-score's two vector joins + one per-query window
   (``knn._ranked_topk``) — all relational, no pointer chasing;
   per-round candidate volume is ≤ |queries|·beam·2k, independent of
   n. Round state is lineage-truncated (`operators/iterate.py`).
3. **Result**: the ranked top-k of the visited set per query, with
   EXACT rounded L2² distances and consecutive ranks — the same
   approximate-neighbors/exact-distances contract as every other tier
   (`operators/checks.knn_invariant_violations`).

Fixed ``hops`` keeps the plan data-independent, which is what lets the
driver's DuckDB oracle replay the ENTIRE mechanism as unrolled CTEs
(`plans/q_ann.py::graph_search_recall_report`); recall is monotone in
``beam``/``hops``/``entry_k`` (each only grows the visited superset —
pinned in pytest on the blob fixture).

Scale shape: the graph is n·k edges partitioned by source node; a
query batch of Q rows costs O(Q·(√n + hops·beam·k)) scored pairs —
sub-linear per query in corpus size, no O(n) scan per query, no
broadcast of the corpus. Skew-safe: beam width bounds per-query
fan-out; node degree is bounded by 2k after symmetrization.

Connectivity contract (measured, tests/test_graphsearch.py): beam
search reaches only the connected components its entry seeds land in.
HNSW sidesteps this by keeping the graph connected BY CONSTRUCTION
(hierarchy + insert-order links); a plain kNN graph over C tight
clusters is C disconnected components, and √n entries then miss
~(1 − n_entry/n)^{|cluster|} of them (measured on 30 blobs of 12:
recall 0.43 at n_entry=19 vs 0.97 at 120). On corpora whose kNN graph
is one giant component (the usual web-scale case) the √n default
navigates fine (recall 0.995 at hops=4/beam=12 on uniform d=4); for
heavily clustered corpora raise ``n_entry`` toward the expected
component count — entry scoring is one broadcast of n_entry rows, so
the budget is cheap — or search an IVF tier instead.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from semantic_ann_in_data_lake_spark.functions.hashing import portable_hash64
from semantic_ann_in_data_lake_spark.operators.iterate import iter_checkpoint
from semantic_ann_in_data_lake_spark.operators.knn import (
    _ranked_topk,
    _rescore_pairs,
)


def graph_search(
    queries: DataFrame,
    corpus: DataFrame,
    graph: DataFrame,
    k: int = 5,
    beam: int = 8,
    hops: int = 3,
    entry_k: int = 4,
    n_entry: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    round_dp: int = 6,
) -> DataFrame:
    """Top-k nearest ``corpus`` members per ``queries`` row by beam
    search over ``graph`` (an edge list with ``query_id``/``cand_id``
    columns over corpus ids — NN-descent output, the exact kNN graph,
    or a parquet-persisted index). Returns ``(query_id, cand_id,
    distance, rank)``, rank 1..k by (rounded L2² asc, cand_id asc).

    ``n_entry`` defaults to ⌈√|corpus|⌉ (one count action); pass it
    explicitly to keep the plan action-free / oracle-static.
    """
    if k < 1 or beam < 1 or hops < 0 or entry_k < 1:
        raise ValueError("k, beam, entry_k >= 1 and hops >= 0 required")
    qids = queries.select(F.col(id_col).alias("query_id"))
    cids = corpus.select(F.col(id_col).alias("cand_id"))
    if n_entry is None:
        n_entry = math.isqrt(max(cids.count() - 1, 0)) + 1

    # symmetrized bounded-degree edge list (≤ 2k per node)
    und = (
        graph.select(F.col("query_id").alias("src"), F.col("cand_id").alias("dst"))
        .unionByName(
            graph.select(
                F.col("cand_id").alias("src"), F.col("query_id").alias("dst")
            )
        )
        .distinct()
    )

    # entry sample: hash-order head of the corpus ids (deterministic on
    # any cluster layout; the √n "centroid" stand-ins)
    sample = (
        cids.withColumn("__h", portable_hash64(F.col("cand_id").cast("string"),
                                               seed=f"gs{seed}:"))
        .orderBy(F.col("__h").asc(), F.col("cand_id").asc())
        .limit(n_entry)
        .drop("__h")
    )

    def score(pairs: DataFrame) -> DataFrame:
        """(query_id, cand_id) -> + exact rounded distance."""
        return _rescore_pairs(pairs, queries, corpus, id_col, vec_col, round_dp)

    visited = (
        _ranked_topk(
            score(qids.crossJoin(F.broadcast(sample))), entry_k, "l2_sq"
        )
        .drop("rank")
        .transform(iter_checkpoint)
    )

    for _ in range(hops):
        frontier = _ranked_topk(visited, beam, "l2_sq")
        expanded = (
            frontier.join(und, frontier.cand_id == und.src)
            .select("query_id", F.col("dst").alias("cand_id"))
            .distinct()
            .join(visited, ["query_id", "cand_id"], "left_anti")
        )
        visited = (
            visited.unionByName(score(expanded)).transform(iter_checkpoint)
        )

    return _ranked_topk(visited, k, "l2_sq")
