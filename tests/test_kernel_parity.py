"""Parity of the exact numpy kernels with their declarative twins.

Every broadcast vector-matrix kernel engages only through
``pairscore.admit_matrices``. Each harness row runs the kernels with
the gate live and pins whether the gate admits the corpus. When it
does, the row runs them again with the gate patched to decline (the
declarative twin, which is the reference) and requires identical rows.
The approximate and broadcast tiers of ``knn_join`` are held to the
exact tier's rows on the same corpora where they must agree, and to
its rules on duplicate ids, ragged vectors and string ids.
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


def _frame(spark, corpus):
    id_type, rows, k, round_dp, _ = CORPORA[corpus]
    df = spark.createDataFrame(
        rows, f"vec_id {id_type}, embedding array<double>"
    )
    return df, k, round_dp


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
    df, k, round_dp = _frame(spark, corpus)
    admitted = CORPORA[corpus][4]

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

    df, k, round_dp = _frame(spark, corpus)
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
] + [("opq_refine", "empty"), ("opq_refine", "n_le_k")]


@pytest.mark.parametrize("tier,corpus", _RESCORE_CASES)
def test_rescore_tiers_match_exact_on_tiny_corpora(spark, tier, corpus):
    """Every shortlist reaches all n ≤ k candidates, so each tier that
    re-scores its shortlist exactly must return the exact tier's rows:
    none for an empty frame, and all of them for a 2-dim corpus under
    the refine tiers' 32-dim default projection."""
    from semantic_ann_in_data_lake_spark.operators.knn import knn_join

    df, k, round_dp = _frame(spark, corpus)
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


# the numpy tiers, as knn_join options
_NUMPY_TIERS = {
    "broadcast": {"strategy": "broadcast"},
    "broadcast_cosine": {"strategy": "broadcast", "metric": "cosine"},
    "lsh": {"strategy": "lsh"},
    "pq": {"strategy": "pq"},
    "ivf": {"strategy": "ivf"},
    "ivf_pq": {"strategy": "ivf_pq"},
}


@pytest.mark.parametrize("tier", ["broadcast", "broadcast_cosine", "pq", "ivf"])
@pytest.mark.parametrize("corpus", ["null_id", "null_vec"])
def test_numpy_tiers_drop_null_ids_and_vectors(spark, corpus, tier):
    """A row with a NULL id or a NULL vector takes no part: each tier
    returns the exact tier's rows under the same metric."""
    from semantic_ann_in_data_lake_spark.operators.knn import knn_join

    df, k, round_dp = _frame(spark, corpus)
    opts = _NUMPY_TIERS[tier]
    metric = opts.get("metric", "l2_sq")
    want = _rows(
        knn_join(df, df, k=k, strategy="exact", metric=metric, round_dp=round_dp)
    )
    assert want and all(None not in row for row in want)
    assert _rows(knn_join(df, df, k=k, round_dp=round_dp, **opts)) == want


@pytest.mark.parametrize("tier", ["broadcast", "lsh"])
def test_numpy_tiers_mask_every_copy_of_a_duplicated_id(spark, tier):
    """Every candidate that shares the query's id is a self pair.
    Broadcast ranks each query ROW, so its scored pairs, not its ranks,
    equal the exact tier's, which ranks each query id."""
    from semantic_ann_in_data_lake_spark.operators.knn import knn_join

    df, k, round_dp = _frame(spark, "dup_ids")
    got = _rows(knn_join(df, df, k=k, **_NUMPY_TIERS[tier]))
    assert got and all(q != c for q, c, _, _ in got)
    if tier == "broadcast":
        want = knn_join(df, df, k=k, strategy="exact")
        assert {r[:3] for r in got} == {r[:3] for r in _rows(want)}


@pytest.mark.parametrize("tier", ["broadcast", "pq", "ivf", "lsh"])
def test_numpy_tiers_reject_ragged_vectors(spark, tier):
    from semantic_ann_in_data_lake_spark.operators.knn import knn_join

    df, k, round_dp = _frame(spark, "ragged")
    with pytest.raises(Exception, match="strategy='exact'"):
        knn_join(df, df, k=k, **_NUMPY_TIERS[tier]).collect()


@pytest.mark.parametrize("tier", ["lsh", "pq", "ivf_pq"])
def test_numpy_tiers_reject_string_ids_without_a_spark_job(spark, tier):
    from semantic_ann_in_data_lake_spark.operators.knn import knn_join

    df, k, _ = _frame(spark, "string_ids")
    sc = spark.sparkContext
    group = f"string-ids-{tier}"
    sc.setJobGroup(group, group)
    try:
        with pytest.raises(ValueError, match="integral"):
            knn_join(df, df, k=k, **_NUMPY_TIERS[tier])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_topk_rows_matches_a_brute_force_sort():
    """The shared numpy selection against a full sort of each row on
    (round(key), cand_id): grid keys tie on the rounding boundary, +inf
    cells never appear, and a row with fewer than k finite keys returns
    only those."""
    import numpy as np

    from semantic_ann_in_data_lake_spark.operators.knn import _topk_rows

    rng = np.random.RandomState(7)
    for _ in range(200):
        nq, nc = rng.randint(1, 12), rng.randint(1, 25)
        k, round_dp = rng.randint(1, 8), int(rng.choice([1, 2, 6]))
        key = np.round(rng.rand(nq, nc) * 4, 2) + rng.choice([0.0, 5e-7], (nq, nc))
        key[rng.rand(nq, nc) < 0.3] = np.inf
        cids = np.sort(rng.choice(100, nc, replace=False)).astype(np.int64)
        qids = rng.choice(np.r_[cids, 100], nq).astype(np.int64)
        exclude_self = bool(rng.rand() < 0.5)
        rounded = np.round(key, round_dp)
        want = []
        for i in range(nq):
            cells = [
                (float(rounded[i, j]), int(cids[j]))
                for j in range(nc)
                if np.isfinite(key[i, j])
                and not (exclude_self and cids[j] == qids[i])
            ]
            for r, (d, c) in enumerate(sorted(cells)[:k], start=1):
                want.append((int(qids[i]), c, d, r))
        got = _topk_rows(
            qids, key.copy(), cids, k, round_dp, exclude_self, with_rank=True
        )
        assert list(got.itertuples(index=False, name=None)) == want


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
