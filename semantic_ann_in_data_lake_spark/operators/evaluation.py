"""Retrieval-quality evaluation: P/R/F1 + NDCG@k vs ground-truth pairs.

Ports the reference's two metric harnesses —
``DeepJoin/search_query.py:69-117`` (micro P/R/F1 + macro NDCG@k) and
``SemLink/join_discoverer.py:370-451`` (canonical unordered-pair P/R/F1,
query-spec restriction, NDCG) — as pure DataFrame aggregations:

- TP/FP/FN are ``left_semi`` / ``left_anti`` joins on a canonical pair
  key (``least/greatest`` mirrors ``tuple(sorted(...))``,
  ``join_discoverer.py:399-407``).
- identical arithmetic: ε = 1e-8 guarded divisions
  (``search_query.py:71,90-92``; ``join_discoverer.py:27,421-423``),
  metrics rounded to 4 dp (``search_query.py:108-111``).
- NDCG weights 1/log2(rank+1) (``search_query.py:95-96``,
  ``join_discoverer.py:354-361``); IDCG closed form over
  ``min(k, n_relevant)`` positions via ``sequence``+``aggregate``.

At scale: truth tables are small relative to retrieved sets → Catalyst
broadcasts the semi/anti joins; the per-query NDCG groupBy shuffles only
(query, rank, rel) triples.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EPS = 1e-8


def symmetric_truth(gt: DataFrame, q_col: str, c_col: str) -> DataFrame:
    """J10: both directions of each ground-truth pair → (query, cand)."""
    a = gt.select(F.col(q_col).alias("t_query"), F.col(c_col).alias("t_cand"))
    b = gt.select(F.col(c_col).alias("t_query"), F.col(q_col).alias("t_cand"))
    return a.union(b).distinct()


def _canonical(df: DataFrame, a: str, b: str) -> DataFrame:
    """Unordered pair key: (least, greatest) of the two string keys.
    NULL-keyed rows are dropped — least/greatest SKIP nulls, so a pair
    with one NULL side would collapse to a phantom self-pair (x, x)
    and pollute the P/R/F1 counts."""
    df = df.where(F.col(a).isNotNull() & F.col(b).isNotNull())
    return df.select(
        F.least(F.col(a).cast("string"), F.col(b).cast("string")).alias("pair_lo"),
        F.greatest(F.col(a).cast("string"), F.col(b).cast("string")).alias("pair_hi"),
    ).distinct()


def pair_metrics_df(
    retrieved: DataFrame,
    truth: DataFrame,
    retrieved_cols: tuple[str, str] = ("query_id", "cand_id"),
    truth_cols: tuple[str, str] = ("t_query", "t_cand"),
) -> DataFrame:
    """Canonical-pair precision/recall/F1 (one row), reference-identical
    ε and rounding (``join_discoverer.py:399-429``), as one lazy plan
    (one full-outer-flag aggregation, no driver-side counts) — the form
    used in ``queries()`` so the oracle can check it.
    """
    disc = _canonical(retrieved, *retrieved_cols)
    tru = _canonical(truth, *truth_cols)
    on = ["pair_lo", "pair_hi"]
    flags = disc.withColumn("in_truth", F.lit(1)).join(
        tru.withColumn("is_true", F.lit(1)), on, "full_outer"
    )
    agg = flags.agg(
        F.sum(
            F.when(F.col("in_truth").isNotNull() & F.col("is_true").isNotNull(), 1).otherwise(0)
        ).alias("tp"),
        F.sum(
            F.when(F.col("in_truth").isNotNull() & F.col("is_true").isNull(), 1).otherwise(0)
        ).alias("fp"),
        F.sum(
            F.when(F.col("in_truth").isNull() & F.col("is_true").isNotNull(), 1).otherwise(0)
        ).alias("fn"),
    )
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    precision = tp / (tp + fp + F.lit(EPS))
    recall = tp / (tp + fn + F.lit(EPS))
    f1 = 2 * precision * recall / (precision + recall + F.lit(EPS))
    return agg.select(
        tp.cast("long").alias("tp"),
        fp.cast("long").alias("fp"),
        fn.cast("long").alias("fn"),
        F.round(precision, 4).alias("precision"),
        F.round(recall, 4).alias("recall"),
        F.round(f1, 4).alias("f1"),
    )


def ndcg_at_k(
    ranked: DataFrame,
    truth: DataFrame,
    k: int,
    query_col: str = "query_id",
    cand_col: str = "cand_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Macro NDCG@k (one row, 4 dp) over a ranked retrieval result.

    Relevance is binary membership of (query, cand) in the symmetric
    truth set; queries absent from the truth contribute NDCG 0 via
    IDCG=0 guard — matching ``search_query.py:79-111``.
    """
    r = ranked.where(F.col(rank_col) <= k).select(
        F.col(query_col).cast("string").alias("q"),
        F.col(cand_col).cast("string").alias("c"),
        F.col(rank_col).alias("rank"),
    )
    t = truth.select(
        F.col("t_query").cast("string").alias("q"),
        F.col("t_cand").cast("string").alias("c"),
        F.lit(1).alias("rel"),
    )
    scored = r.join(t, ["q", "c"], "left").na.fill({"rel": 0})
    per_q = scored.groupBy("q").agg(
        F.sum(F.col("rel") / F.log2(F.col("rank") + 1)).alias("dcg")
    )
    n_rel = t.groupBy("q").agg(F.count(F.lit(1)).alias("n_rel"))
    # IDCG = sum_{i=1..min(k, n_rel)} 1/log2(i+1), closed form via sequence
    idcg = F.aggregate(
        F.sequence(F.lit(1), F.least(F.lit(k), F.col("n_rel"))),
        F.lit(0.0).cast("double"),
        lambda acc, i: acc + F.lit(1.0) / F.log2(i.cast("double") + 1),
    )
    joined = per_q.join(n_rel, "q", "left").na.fill({"n_rel": 0})
    per_query_ndcg = joined.select(
        "q",
        F.when(F.col("n_rel") > 0, F.col("dcg") / idcg).otherwise(F.lit(0.0)).alias(
            "ndcg"
        ),
    )
    return per_query_ndcg.agg(F.round(F.avg("ndcg"), 4).alias("ndcg_at_k"))
