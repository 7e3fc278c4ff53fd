"""The flagship SemLink-style pipeline, end to end (reference §3.3).

``semlink.py:11-32`` orchestrates: build lake → embed columns → exact
kNN self-join → √distance threshold → joinable pairs → P/R/F1 + NDCG
vs ground truth, over a (k, τ) grid. Here the same lifecycle is one
lazy DataFrame program over the ``embeddings`` test table, whose
``label`` column provides ground truth (same label = joinable), so the
whole pipeline is machine-checkable without any model call.

The reference recomputes distances for every (k, τ) cell
(``join_discoverer.py:485-491``); we compute the kNN once at k_max and
slice — the fix SURVEY §4.3 calls out.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from semantic_ann_in_data_lake_spark.cache import scoped_persist
from semantic_ann_in_data_lake_spark.operators.evaluation import (
    _canonical,
    ndcg_at_k,
    pair_metrics_df,
    symmetric_truth,
)
from semantic_ann_in_data_lake_spark.operators.knn import knn_join, threshold_join


def load_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def label_truth_pairs(emb: DataFrame) -> DataFrame:
    """Ground-truth joinable pairs: same ``label``, id_a < id_b."""
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("label").alias("la"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("label").alias("lb"))
    return (
        a.join(b, (F.col("la") == F.col("lb")) & (F.col("id_a") < F.col("id_b")))
        .select("id_a", "id_b")
    )


#: the reference's evaluation grid (``SemLink/config.py:26-27``)
GRID_KS = [5, 10, 25]
GRID_TAUS = [0.1, 0.2, 0.3, 0.4]


def grid_evaluate_discovery(
    spark: SparkSession,
    sf_dir: str,
    ks: list[int] | None = None,
    taus: list[float] | None = None,
    strategy: str = "exact",
) -> DataFrame:
    """The reference's headline entry loop (``join_discoverer.py:485-517``):
    evaluate every (k, τ) grid cell → one row per cell, the Spark twin of
    ``evaluation_results.csv``.

    The reference recomputes the full kNN for every cell even though τ
    never affects distances (``join_discoverer.py:485-491``). Here the
    kNN runs ONCE at k_max and every cell is a conditional slice:

    - canonical pair table: groupBy(pair) → min rank over the two
      directions + the (symmetric) distance. A pair is discovered in
      cell (k, τ) iff min_rank ≤ k AND √distance ≤ τ — so all 12 cells'
      TP/FP/FN come from ONE full-outer join with truth, cross-joined
      against the broadcast 12-row grid, in a single aggregation.
    - NDCG@k depends only on k: one scored (query, rank, rel) table,
      cross-joined with the broadcast k-list, filtered rank ≤ k.

    At scale this is one kNN + two small shuffles regardless of grid
    size, vs the reference's |grid| full recomputes.
    """
    ks = ks or GRID_KS
    taus = taus or GRID_TAUS
    k_max = max(ks)
    emb = load_embeddings(spark, sf_dir)
    # persist: the kNN subtree feeds BOTH the pair-confusion branch and
    # the NDCG branch of the one final plan — without it Catalyst
    # executes the kNN twice (no cross-branch CSE).
    knn = scoped_persist(knn_join(emb, emb, k=k_max, strategy=strategy))
    truth = label_truth_pairs(emb)
    sym = symmetric_truth(truth, "id_a", "id_b")

    grid = F.broadcast(
        spark.createDataFrame(
            [(k, float(t)) for k in ks for t in taus], "k int, tau double"
        )
    )
    klist = F.broadcast(spark.createDataFrame([(k,) for k in ks], "k int"))

    # --- P/R/F1 per (k, tau): one agg over canonical pairs × grid ---
    canon = (
        knn.select(
            F.least(
                F.col("query_id").cast("string"), F.col("cand_id").cast("string")
            ).alias("pair_lo"),
            F.greatest(
                F.col("query_id").cast("string"), F.col("cand_id").cast("string")
            ).alias("pair_hi"),
            "rank",
            "distance",
        )
        .groupBy("pair_lo", "pair_hi")
        .agg(F.min("rank").alias("min_rank"), F.min("distance").alias("distance"))
    )
    tru = _canonical(truth, "id_a", "id_b").withColumn("is_true", F.lit(1))
    flags = canon.join(tru, ["pair_lo", "pair_hi"], "full_outer")
    in_disc = F.coalesce(
        (F.col("min_rank") <= F.col("k"))
        & (F.sqrt(F.col("distance")) <= F.col("tau")),
        F.lit(False),
    )
    is_true = F.col("is_true").isNotNull()
    conf = (
        flags.crossJoin(grid)
        .groupBy("k", "tau")
        .agg(
            F.sum(F.when(in_disc & is_true, 1).otherwise(0)).alias("tp"),
            F.sum(F.when(in_disc & ~is_true, 1).otherwise(0)).alias("fp"),
            F.sum(F.when(~in_disc & is_true, 1).otherwise(0)).alias("fn"),
        )
    )

    # --- NDCG per k: one scored table × k-list ---
    scored = knn.join(
        sym.select(
            F.col("t_query").cast("long").alias("query_id"),
            F.col("t_cand").cast("long").alias("cand_id"),
            F.lit(1).alias("rel"),
        ),
        ["query_id", "cand_id"],
        "left",
    ).na.fill({"rel": 0})
    dcg_k = (
        scored.crossJoin(klist)
        .where(F.col("rank") <= F.col("k"))
        .groupBy("k", "query_id")
        .agg(F.sum(F.col("rel") / F.log2(F.col("rank") + 1)).alias("dcg"))
    )
    n_rel = sym.groupBy(F.col("t_query").cast("long").alias("query_id")).agg(
        F.count(F.lit(1)).alias("n_rel")
    )
    idcg = F.aggregate(
        F.sequence(F.lit(1), F.least(F.col("k"), F.col("n_rel"))),
        F.lit(0.0).cast("double"),
        lambda acc, i: acc + F.lit(1.0) / F.log2(i.cast("double") + 1),
    )
    ndcg_k = (
        dcg_k.join(n_rel, "query_id", "left")
        .na.fill({"n_rel": 0})
        .select(
            "k",
            F.when(F.col("n_rel") > 0, F.col("dcg") / idcg)
            .otherwise(F.lit(0.0))
            .alias("ndcg"),
        )
        .groupBy("k")
        .agg(F.round(F.avg("ndcg"), 4).alias("ndcg_at_k"))
    )

    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    eps = F.lit(1e-8)
    precision = tp / (tp + fp + eps)
    recall = tp / (tp + fn + eps)
    f1 = 2 * precision * recall / (precision + recall + eps)
    return conf.join(ndcg_k, "k").select(
        "k",
        F.round("tau", 2).alias("tau"),
        tp.cast("long").alias("tp"),
        fp.cast("long").alias("fp"),
        fn.cast("long").alias("fn"),
        F.round(precision, 4).alias("precision"),
        F.round(recall, 4).alias("recall"),
        F.round(f1, 4).alias("f1"),
        "ndcg_at_k",
    )


def export_evaluation_artifacts(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    ks: list[int] | None = None,
    taus: list[float] | None = None,
    strategy: str = "exact",
) -> DataFrame:
    """The reference's artifact sinks (``join_discoverer.py:491-517``):
    ``distances_{k}_dist_{τ}.csv`` + ``joinable_columns_{k}_dist_{τ}.csv``
    per cell and ``evaluation_results.csv`` for the grid.

    Divergence (documented): the reference writes the SAME distance table
    |taus| times per k because its loop recomputes it; we compute kNN at
    k_max once, persist, and slice per artifact — identical file contents,
    one pass. Returns the evaluation_results DataFrame.
    """
    from semantic_ann_in_data_lake_spark.sources.writers import write_csv

    ks = ks or GRID_KS
    taus = taus or GRID_TAUS
    emb = load_embeddings(spark, sf_dir)
    knn = knn_join(emb, emb, k=max(ks), strategy=strategy).persist()
    try:
        for k in ks:
            sliced = knn.where(F.col("rank") <= k)
            for tau in taus:
                write_csv(sliced, f"{out_dir}/distances_{k}_dist_{tau}.csv")
                write_csv(
                    threshold_join(sliced, tau),
                    f"{out_dir}/joinable_columns_{k}_dist_{tau}.csv",
                )
        results = grid_evaluate_discovery(
            spark, sf_dir, ks=ks, taus=taus, strategy=strategy
        )
        write_csv(results, f"{out_dir}/evaluation_results.csv")
        return results
    finally:
        knn.unpersist()


def evaluate_discovery(
    spark: SparkSession,
    sf_dir: str,
    k: int = 10,
    tau: float = 3.0,
    strategy: str = "broadcast",
) -> DataFrame:
    """One row: (k, tau, tp, fp, fn, precision, recall, f1, ndcg_at_k)."""
    emb = load_embeddings(spark, sf_dir)
    knn = knn_join(emb, emb, k=k, strategy=strategy)
    joinable = threshold_join(knn, tau)
    truth = label_truth_pairs(emb)
    sym = symmetric_truth(truth, "id_a", "id_b")
    prf = pair_metrics_df(joinable, sym)
    ndcg = ndcg_at_k(knn, sym, k)
    return (
        prf.crossJoin(ndcg)
        .select(
            F.lit(k).alias("k"),
            F.round(F.lit(tau), 2).alias("tau"),
            "tp",
            "fp",
            "fn",
            "precision",
            "recall",
            "f1",
            "ndcg_at_k",
        )
    )
