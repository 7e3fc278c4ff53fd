"""Parity of the exact numpy kernels with their declarative twins.

Every broadcast vector-matrix kernel engages only through
``pairscore.admit_matrices``. Each harness row runs the kernels with
the gate live and pins whether the gate admits the corpus. When it
does, the row runs them again with the gate patched to decline (the
declarative twin, which is the reference) and requires identical rows.
"""

from __future__ import annotations

import pytest

from semantic_ann_in_data_lake_spark.operators import pairscore

_GRID = [(i, [i * 5e-4, 0.0]) for i in range(40)]  # distances on the 6-dp grid
_COARSE = [(i, [i * 0.013, 0.0]) for i in range(30)]

# name: (id type, rows, k, round_dp, admitted)
CORPORA = {
    "n_le_k": ("bigint", [(1, [0.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 2.0])], 5, 6, True),
    "n_1": ("bigint", [(1, [0.5, 0.5])], 5, 6, True),
    "empty": ("bigint", [], 5, 6, False),
    "dup_ids": ("bigint", [(1, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0])], 2, 6, False),
    "null_id": (
        "bigint",
        [(1, [0.0, 0.0]), (None, [1.0, 0.0]), (3, [0.0, 1.0]), (4, [2.0, 2.0])],
        2, 6, False,
    ),
    "null_vec": ("bigint", [(1, [0.0, 0.0]), (2, None), (3, [0.0, 1.0])], 2, 6, False),
    "ragged": ("bigint", [(1, [0.0, 0.0]), (2, [1.0]), (3, [0.0, 1.0])], 2, 6, False),
    "string_ids": ("string", [("a", [0.0, 0.0]), ("b", [1.0, 0.0]), ("c", [0.0, 1.0])], 2, 6, False),
    "grid_ties": ("bigint", _GRID, 3, 6, True),
    "grid_dp2": ("bigint", _COARSE, 3, 2, True),
    "grid_dp1": ("bigint", _COARSE, 3, 1, True),
}


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def _run_kernels(df, k, round_dp):
    from semantic_ann_in_data_lake_spark.operators import dedup
    from semantic_ann_in_data_lake_spark.operators.knn import knn_join
    from semantic_ann_in_data_lake_spark.operators.nndescent import (
        nndescent_knn_graph,
    )

    out = {}
    other = df.select("*")  # same rows, distinct frame: two collects
    for name, cands in (("self", df), ("cross", other)):
        for ex in (True, False):
            out[f"superset/{name}/exclude_self={ex}"] = _rows(
                knn_join(
                    df, cands, k=k, strategy="exact", exclude_self=ex,
                    round_dp=round_dp,
                )
            )
    out["pair_scorer/nndescent"] = _rows(
        nndescent_knn_graph(df, k=k, iters=1, round_dp=round_dp)
    )
    out["near_dups"] = _rows(dedup.embedding_near_dups(df, tau=0.5))
    return out


@pytest.mark.parametrize("corpus", list(CORPORA))
def test_exact_kernels_match_declarative_twins(spark, monkeypatch, corpus):
    id_type, rows, k, round_dp, admitted = CORPORA[corpus]
    df = spark.createDataFrame(
        rows, f"vec_id {id_type}, embedding array<double>"
    )

    real = pairscore.admit_matrices
    decisions = []

    def spy(*args):
        m = real(*args)
        decisions.append(m is not None)
        return m

    with monkeypatch.context() as mp:
        mp.setattr(pairscore, "admit_matrices", spy)
        live = _run_kernels(df, k, round_dp)
    assert decisions and set(decisions) == {admitted}
    if not admitted:
        return  # every call declined: the live run WAS the reference
    with monkeypatch.context() as mp:
        mp.setattr(pairscore, "admit_matrices", lambda *args: None)
        reference = _run_kernels(df, k, round_dp)
    for kernel, want in reference.items():
        assert live[kernel] == want, kernel


# the quantizer tiers, as knn_join strategy + options
_QUANTIZER_TIERS = {
    "ivf": {"strategy": "ivf"},
    "ivf_int8": {"strategy": "ivf", "compress": "int8"},
    "pq": {"strategy": "pq"},
    "pq_refine": {"strategy": "pq_refine"},
    "ivf_pq": {"strategy": "ivf_pq"},
    "ivf_pq_refine": {"strategy": "ivf_pq_refine"},
}


@pytest.mark.parametrize("tier", list(_QUANTIZER_TIERS))
@pytest.mark.parametrize("corpus", ["empty", "n_1", "n_le_k"])
def test_quantizer_tiers_match_exact_on_tiny_corpora(spark, corpus, tier):
    """With n ≤ nprobe cells every cell is probed, and with n ≤ ksub
    every vector is its own codeword, so each approximate tier must
    return exactly the exact tier's rows — none for an empty frame."""
    from semantic_ann_in_data_lake_spark.operators.knn import knn_join

    id_type, rows, k, round_dp, _ = CORPORA[corpus]
    df = spark.createDataFrame(
        rows, f"vec_id {id_type}, embedding array<double>"
    )
    want = _rows(knn_join(df, df, k=k, strategy="exact", round_dp=round_dp))
    got = _rows(
        knn_join(df, df, k=k, round_dp=round_dp, **_QUANTIZER_TIERS[tier])
    )
    assert got == want


# the re-scoring tiers on tiny corpora, as (strategy, corpus); graph
# search answers a distinct query frame and keeps self matches
_RESCORE_CASES = [
    (tier, corpus)
    for tier in ("nndescent", "nndescent_refine", "pca_refine", "graph")
    for corpus in ("empty", "n_1", "n_le_k")
] + [("opq_refine", "empty")]


@pytest.mark.parametrize("tier,corpus", _RESCORE_CASES)
def test_rescore_tiers_match_exact_on_tiny_corpora(spark, tier, corpus):
    """Every shortlist reaches all n ≤ k candidates, so each tier that
    re-scores its shortlist exactly must return the exact tier's rows:
    none for an empty frame, and all of them for a 2-dim corpus under
    the refine tiers' 32-dim default projection."""
    from semantic_ann_in_data_lake_spark.operators.knn import knn_join

    id_type, rows, k, round_dp, _ = CORPORA[corpus]
    df = spark.createDataFrame(
        rows, f"vec_id {id_type}, embedding array<double>"
    )
    if tier == "graph":
        cands, opts = df.select("*"), {"exclude_self": False}
    else:
        cands, opts = df, {}
    want = _rows(
        knn_join(df, cands, k=k, strategy="exact", round_dp=round_dp, **opts)
    )
    # one descent round and one hop already reach every candidate
    got = _rows(
        knn_join(
            df, cands, k=k, strategy=tier, round_dp=round_dp, iters=1,
            hops=1,
        )
    )
    assert got == want


def test_gate_declines_string_ids_without_a_spark_job(spark):
    """The id-type check reads the schema only, so a declined call
    runs no Spark job; an admitted call does collect."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs_of(group, id_type, ids):
        df = spark.createDataFrame(
            [(i, [float(j), 0.0]) for j, i in enumerate(ids)],
            f"vec_id {id_type}, embedding array<double>",
        )
        sc.setJobGroup(group, group)
        try:
            got = pairscore.exact_l2_topk_superset(
                df, df, "vec_id", "embedding", 5, True, 6
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return got, tracker.getJobIdsForGroup(group)

    got, jobs = jobs_of("gate-string-ids", "string", ["a", "b", "c"])
    assert got is None and jobs == []
    got, jobs = jobs_of("gate-long-ids", "bigint", [1, 2, 3])
    assert got is not None and len(jobs) > 0


def test_pairfit_hashes_non_string_text_as_strings(spark):
    """Integer-typed text columns are hashed as their string form: the
    weights equal a fit on the pre-cast pairs and the DuckDB replay."""
    import duckdb
    from pyspark.sql import functions as F

    from semantic_ann_in_data_lake_spark.annotate import pairfit

    data = [(i, (i * 7919) % 1009) for i in range(1, 40)]
    ints = spark.createDataFrame(data, "text_a int, text_b int")
    strs = ints.select(
        F.col("text_a").cast("string").alias("text_a"),
        F.col("text_b").cast("string").alias("text_b"),
    )
    got = pairfit.fit_pair_encoder(ints, dim=8).weights
    assert got == pairfit.fit_pair_encoder(strs, dim=8).weights

    con = duckdb.connect()
    con.execute("CREATE TABLE pairs (text_a INTEGER, text_b INTEGER)")
    con.executemany("INSERT INTO pairs VALUES (?, ?)", data)
    want = con.execute(pairfit.fit_weights_sql("pairs", dim=8)).fetchone()
    assert got == tuple(want)
