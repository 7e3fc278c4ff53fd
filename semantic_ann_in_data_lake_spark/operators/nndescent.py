"""NN-descent: distributed k-nearest-neighbor GRAPH construction by
iterative neighbor-of-neighbor refinement (Dong, Moses & Li, WWW 2011,
"Efficient K-Nearest Neighbor Graph Construction for Generic Similarity
Measures").

The graph-based ANN family is the one public family the engine's tier
ladder (exact / broadcast / LSH / IVF / PQ / OPQ / PCA-refine) did not
cover. NN-descent is its index-free member and the natural Spark fit:
unlike HNSW (a sequential, pointer-chasing insert order), every
NN-descent step is a relational operation over the whole edge set —
  1. reverse the current graph,
  2. join co-neighbors (if u and w are both neighbors of v, u and w
     are candidate neighbors of each other),
  3. keep the k best per node.
so each iteration is one self-join + one window, and the whole build is
a driver loop of T such rounds over DataFrames.

Scale posture (the reason this exists next to the IVF/PQ tiers):
- Work per iteration is O(n · (k + rk)²) candidate pairs — LINEAR in n
  at fixed degree, vs the O(n²) exact graph. No global structure is
  ever materialized beyond the n·k edge list.
- The reverse-edge cap ``rk`` (paper's ρ·K sample) bounds the join
  fan-out of HUB nodes: a node appearing in everyone's neighbor list
  would otherwise produce |in-degree|² co-neighbor pairs in one
  partition (the skew failure mode of every graph self-join). The cap
  is deterministic — keep the rk closest by (rounded distance, id) —
  not a random sample, so the build replays exactly.
- Every intermediate graph is lineage-TRUNCATED per round
  (`operators/iterate.py`, the shared iterative-operator convention),
  not merely persisted: iteration t's plan references iteration t-1's
  frame ~5× (the und self-join sees it twice, the union and candidate
  set again), so with plain persist the LOGICAL tree grows 5^T-fold
  and Catalyst analysis — not execution — becomes the wall-clock
  (measured 160 s at T=3 on 500 rows before truncation, ~7 s after).
  Default posture is executor-local blocks (job restart on executor
  loss); wrap the build in ``iterate.reliable_checkpoints(dir)`` on
  preemptible clusters for parquet-backed round state.
- Init is hash-bucket cliques (J=2 independent md5 bucketings at mean
  bucket size k+1): one groupBy-sized shuffle, no global sort, no
  dense-index zipWithIndex. Two independent partitions overlaid give a
  connected expander-ish seed graph whp, which co-neighbor joins can
  then traverse; a single bucketing would seed disjoint cliques that
  iteration could never escape.

Determinism contract (what lets the driver's DuckDB oracle replicate
the FULL mechanism end-to-end, `plans/q_ann.py` nndescent entries):
all selection happens on round(L2², 6) with id tie-breaks, bucket
assignment is md5-hex arithmetic both engines evaluate identically,
and candidate-set unions are set-distinct — so graph t is a pure
function of (corpus, k, iters, rk, seed) in either engine.

Reference parity note: the reference's ANN layer is HNSW via hnswlib
(`DeepJoin/annIndex.py:21-40` — approximate neighbors, exact
distances); this operator keeps that same return contract
(`(query_id, cand_id, distance, rank)`, exact recomputable distances,
gated by `operators/checks.knn_invariant_violations`) while swapping
the graph-construction algorithm for the one that distributes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from semantic_ann_in_data_lake_spark.cache import scoped_persist
from semantic_ann_in_data_lake_spark.operators.iterate import (
    iter_checkpoint,
)
from semantic_ann_in_data_lake_spark.operators.knn import (
    _ranked_topk,
    _rescore_pairs,
)


def _md5_bucket(col, seed: int, n_buckets: int):
    """Deterministic cross-engine bucket id: first 8 hex digits of
    md5("{seed}:{id}") as an integer, mod n_buckets. DuckDB twin:
    ``('0x'||substr(md5('{seed}:'||id::VARCHAR),1,8))::BIGINT % nb``."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{seed}:"), col.cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    return F.pmod(h, F.lit(n_buckets))


def nndescent_knn_graph(
    emb: DataFrame,
    k: int = 5,
    iters: int = 3,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    reverse_cap: int | None = None,
    round_dp: int = 6,
    min_update_frac: float | None = None,
) -> DataFrame:
    """Approximate k-NN graph over ``emb`` by NN-descent: returns
    ``(query_id, cand_id, distance, rank)`` — k rows per node, exact
    rounded L2² distances, ranks 1..k by (distance, cand_id).

    ``iters`` trades recall for passes: each round may only improve a
    node's list (the new list is the top-k of a SUPERSET containing the
    old list), so recall is monotone in ``iters``. On corpora with
    cluster structure a handful of rounds converge (pinned by
    `tests/test_nndescent.py::test_nndescent_converges_on_blobs`); on
    the uniform-random gate corpus the neighbor-of-neighbor signal is
    weak and the gated recall number is a pessimistic floor — same
    caveat as `ivf_recall_report`.

    ``min_update_frac`` (the paper's δ) turns ``iters`` into a CEILING:
    after each round, the number of CHANGED edges is counted (one
    anti-join of two k·n edge lists) and the loop stops early once a
    round improves fewer than ``min_update_frac · n · k`` edges — the
    production knob that makes T self-tuning per corpus (clustered
    data converges in few rounds; uniform data stops burning passes
    once the marginal gain dies). The stop depends only on the data,
    so determinism is unchanged; the ORACLE-gated entries pin fixed
    ``iters`` (a data-independent plan DuckDB replays), and the early
    stop is pinned in pytest instead.
    """
    if k < 1 or iters < 0:
        raise ValueError("k >= 1 and iters >= 0 required")
    if min_update_frac is not None and not (0 <= min_update_frac <= 1):
        raise ValueError("min_update_frac in [0, 1] required")
    rk = reverse_cap if reverse_cap is not None else 3 * k

    # persist the (id, vector) frame: scored_topk references it TWICE
    # per round (query and candidate side of the scoring join) plus the
    # init/count, so without the persist the corpus scan + cast re-runs
    # ~2·iters times (measured 10.1 s → 7.1 s at sf0.1, k=10, T=3 —
    # bit-identical output). The count() right below materializes it.
    v = scoped_persist(
        emb.select(
            F.col(id_col).alias("__id"),
            F.col(vec_col).cast("array<double>").alias("__v"),
        )
    )
    n = v.count()
    n_buckets = max(1, (n + k) // (k + 1))

    # The candidate scorings are the dominant build cost —
    # O(n·(k+rk)²) pairs per round, each paying an INTERPRETED 64-lane
    # aggregate/zip_with fold plus two shuffle joins. The pairscore
    # kernel computes the same unrounded L2² bit-identically
    # (sequential lane loop — same add chain) over the broadcast vector
    # matrix; round stays a JVM expression on the returned column, so
    # graph trajectories are unchanged. When the admission gate
    # declines, scorer is None and the join path below is the
    # reference.
    from semantic_ann_in_data_lake_spark.operators.pairscore import (
        exact_l2_pair_scorer,
    )

    scorer = exact_l2_pair_scorer(v, v, "__id", "__v")

    def scored_topk(pairs: DataFrame) -> DataFrame:
        """(query_id, cand_id) -> ranked top-k (query_id, cand_id,
        distance, rank)."""
        if scorer is not None:
            s = scorer(pairs, "query_id", "cand_id").select(
                "query_id",
                "cand_id",
                F.round(F.col("d"), round_dp).alias("distance"),
            )
        else:
            s = _rescore_pairs(pairs, v, v, "__id", "__v", round_dp)
        return _ranked_topk(s, k, "l2_sq")

    # --- init: J=2 overlaid hash-bucket cliques at mean size k+1 ----------
    init_parts = []
    for s in (seed, seed + 1):
        b = v.select(
            F.col("__id"), _md5_bucket(F.col("__id"), s, n_buckets).alias("__b")
        )
        init_parts.append(
            b.alias("a")
            .join(
                b.alias("b"),
                (F.col("a.__b") == F.col("b.__b"))
                & (F.col("a.__id") != F.col("b.__id")),
            )
            .select(
                F.col("a.__id").alias("query_id"),
                F.col("b.__id").alias("cand_id"),
            )
        )
    p0 = init_parts[0].unionByName(init_parts[1]).distinct()
    if n >= 2:
        # Coverage fallback: a node that is a SINGLETON in both md5
        # bucketings (probability ≈ e⁻² per node at mean bucket size
        # k+1) would have zero seed edges and vanish from the returned
        # graph. Pair every such orphan with the globally smallest id
        # (the second-smallest when the orphan IS the minimum) so each
        # node enters descent with ≥1 candidate edge; reverse edges in
        # round 1 then grow its list normally. Deterministic, and a
        # no-op (empty anti-join) whenever the bucketings cover — the
        # oracle twin replays the same rule.
        low2 = [
            r["__id"]
            for r in v.select("__id").orderBy("__id").limit(2).collect()
        ]
        fallback = (
            v.select("__id")
            .join(
                p0.select(F.col("query_id").alias("__id")).distinct(),
                "__id",
                "left_anti",
            )
            .select(
                F.col("__id").alias("query_id"),
                F.when(F.col("__id") == F.lit(low2[0]), F.lit(low2[1]))
                .otherwise(F.lit(low2[0]))
                .alias("cand_id"),
            )
        )
        p0 = p0.unionByName(fallback)
    g = scored_topk(p0).transform(iter_checkpoint)

    # --- descent rounds ----------------------------------------------------
    for _ in range(iters):
        prev = g
        rev = _ranked_topk(
            g.select(
                F.col("cand_id").alias("query_id"),
                F.col("query_id").alias("cand_id"),
                "distance",
            ),
            rk,
            "l2_sq",
        ).select("query_id", "cand_id")
        und = (
            g.select("query_id", "cand_id")
            .unionByName(rev)
            .distinct()
            .transform(iter_checkpoint)
        )
        co = (
            und.alias("a")
            .join(
                und.alias("b"),
                (F.col("a.query_id") == F.col("b.query_id"))
                & (F.col("a.cand_id") != F.col("b.cand_id")),
            )
            .select(
                F.col("a.cand_id").alias("query_id"),
                F.col("b.cand_id").alias("cand_id"),
            )
        )
        cand = co.unionByName(und.select("query_id", "cand_id")).distinct()
        g = scored_topk(cand).transform(iter_checkpoint)
        if min_update_frac is not None:
            changed = (
                g.select("query_id", "cand_id")
                .join(
                    prev.select("query_id", "cand_id"),
                    ["query_id", "cand_id"],
                    "left_anti",
                )
                .count()
            )
            if changed < min_update_frac * n * k:
                break

    # the last round's top-k already carries the (distance, cand_id) rank
    return g


def nndescent_recall_vs_exact(
    graph: DataFrame, exact: DataFrame
) -> DataFrame:
    """One-row recall report of an NN-descent graph against the exact
    top-k graph (both as (query_id, cand_id, ...)): ``(n_queries,
    n_exact, n_found, recall_x1000)``. Integer arithmetic only, so the
    row is cross-engine hashable; assembled as one plan (three
    aggregates cross-joined — each a 1-row frame, no driver
    round-trip), mirroring `q_ann._ivf_candidate_recall`."""
    ex = exact.select("query_id", "cand_id")
    base = ex.agg(
        F.count_distinct("query_id").cast("long").alias("n_queries"),
        F.count(F.lit(1)).cast("long").alias("n_exact"),
    )
    found = (
        graph.select("query_id", "cand_id")
        .join(ex, ["query_id", "cand_id"])
        .agg(F.count(F.lit(1)).cast("long").alias("n_found"))
    )
    return base.crossJoin(found).select(
        "n_queries",
        "n_exact",
        "n_found",
        (
            (F.lit(1000) * F.col("n_found"))
            / F.greatest(F.col("n_exact"), F.lit(1))
        )
        .cast("long")
        .alias("recall_x1000"),
    )
