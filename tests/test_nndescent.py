"""NN-descent kNN-graph construction (operators/nndescent.py).

Cross-engine equality of the full T-round mechanism is covered by the
oracle gate (`nndescent_recall_report` replays every round in DuckDB;
`knn_nndescent_l2` gates the distance/rank contract); these tests pin
the SEMANTICS the gates leave to pytest: convergence where the
algorithm's locality assumption holds (clustered data — the gate corpus
is uniform-random, the documented pessimistic floor), recall
monotonicity in iterations, determinism, and edge shapes.
"""

from __future__ import annotations

import numpy as np
import pytest

from semantic_ann_in_data_lake_spark.operators.nndescent import (
    nndescent_knn_graph,
    nndescent_recall_vs_exact,
)


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    from semantic_ann_in_data_lake_spark.sources.readers import read_table

    return read_table(spark, sf_dir, "embeddings")


@pytest.fixture(scope="module")
def blobs(spark):
    """Clustered corpus the descent can actually descend on: 40
    Gaussian blobs of 10 points in d=16, blob std 0.05 vs unit-scale
    centers — within-blob distances are far below cross-blob ones, so
    the exact top-5 of every point lies inside its own blob."""
    rng = np.random.default_rng(7)
    centers = rng.uniform(-1.0, 1.0, size=(40, 16))
    rows = []
    vid = 0
    for c in centers:
        for _ in range(10):
            v = c + rng.normal(0.0, 0.05, size=16)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")


def _exact_top5(spark, df):
    from semantic_ann_in_data_lake_spark.operators.knn import knn_join

    return knn_join(df, df, k=5, strategy="broadcast")


def _recall(graph, exact) -> float:
    row = nndescent_recall_vs_exact(graph, exact).collect()[0]
    return row["n_found"] / row["n_exact"]


def test_nndescent_converges_on_blobs(spark, blobs):
    """On clustered data 5 rounds reach >0.9 recall@5 (measured 0.958;
    vs 0.20 at the same depth on the uniform-random gate corpus) — the
    neighbor-of-neighbor mechanism, not candidate volume, drives it:
    total candidates scored stay a few ×(k+rk)² per node, far below
    the 399 others per node a brute-force pass would touch."""
    exact = _exact_top5(spark, blobs).persist()
    g5 = nndescent_knn_graph(blobs, k=5, iters=5, seed=42)
    assert _recall(g5, exact) > 0.9


@pytest.mark.slow  # >20s; default run budget (VERDICT r11 item 1)
def test_nndescent_refine_recall_and_contract(spark, blobs):
    """The reduced-space descent + raw re-rank tier
    (embedproj.knn_nndescent_refine): on clustered d=16 data projected
    to m=8, 5 rounds at 3x degree reach the same >0.9 recall@5 band as
    the raw-space descent — the shortlist oversampling buys back what
    the projection loses — with TRUE raw distances (contract checked
    via the shared invariant projection) and knn_join routing parity."""
    from semantic_ann_in_data_lake_spark.operators import checks
    from semantic_ann_in_data_lake_spark.operators.embedproj import (
        knn_nndescent_refine,
        pca_fit,
    )
    from semantic_ann_in_data_lake_spark.operators.knn import knn_join

    exact = _exact_top5(spark, blobs).persist()
    g = knn_nndescent_refine(
        blobs, k=5, m=8, refine_factor=3, iters=5, seed=42
    )
    assert _recall(g, exact) > 0.9
    assert (
        checks.knn_invariant_violations(g, blobs, metric="l2_sq").count()
        == 0
    )
    via_join = knn_join(
        blobs, blobs, k=5, strategy="nndescent_refine",
        refine_factor=3, iters=5, seed=42,
    )
    # routing parity modulo the m default (knn_join uses m=32 > d=16,
    # a full-rank rotation — recall band holds either way)
    assert (
        checks.knn_invariant_violations(
            via_join, blobs, metric="l2_sq"
        ).count()
        == 0
    )
    # prefit model reuse returns identical rows
    model = pca_fit(blobs, m=8)
    g2 = knn_nndescent_refine(
        blobs, k=5, m=8, refine_factor=3, iters=5, seed=42, model=model
    )
    assert sorted(map(tuple, g.collect())) == sorted(
        map(tuple, g2.collect())
    )
    with pytest.raises(ValueError, match="self kNN graph"):
        knn_join(blobs.limit(10), blobs, k=5, strategy="nndescent_refine")
    with pytest.raises(ValueError, match="compress"):
        knn_join(
            blobs, blobs, k=5, strategy="nndescent_refine", compress="int8"
        )


def test_nndescent_recall_monotone_in_iters(spark, blobs):
    """Each round keeps the top-k of a SUPERSET containing the previous
    list, so recall never decreases with more rounds."""
    exact = _exact_top5(spark, blobs).persist()
    recalls = [
        _recall(nndescent_knn_graph(blobs, k=5, iters=t, seed=42), exact)
        for t in (0, 1, 3)
    ]
    assert recalls == sorted(recalls)
    assert recalls[-1] > recalls[0]  # the descent actually moved


def test_nndescent_contract_shape_and_determinism(spark, emb):
    """k rows per node, ranks 1..k, no self edges; identical output on
    a re-run (hash-bucket init + deterministic tie-breaks — no RNG)."""
    g1 = nndescent_knn_graph(emb, k=5, iters=2, seed=42)
    rows = g1.collect()
    per = {}
    for r in rows:
        per.setdefault(r.query_id, []).append(r)
        assert r.query_id != r.cand_id
    for qid, lst in per.items():
        assert sorted(x.rank for x in lst) == [1, 2, 3, 4, 5]
        by_rank = sorted(lst, key=lambda x: x.rank)
        ds = [x.distance for x in by_rank]
        assert ds == sorted(ds)
    g2 = nndescent_knn_graph(emb, k=5, iters=2, seed=42)
    assert sorted(map(tuple, rows)) == sorted(map(tuple, g2.collect()))


def test_nndescent_invariant_projection_empty(spark, emb):
    """The driver-facing contract gate, asserted directly: exact
    distances, consecutive monotone ranks, no self pairs."""
    from semantic_ann_in_data_lake_spark.operators import checks

    g = nndescent_knn_graph(emb, k=5, iters=2, seed=42)
    assert checks.knn_invariant_violations(g, emb, metric="l2_sq").count() == 0


def test_nndescent_iters_zero_is_bucket_init_topk(spark, emb):
    """iters=0 returns the scored init graph: ≤k neighbors per node
    (bucket cliques can be smaller than k+1), valid ranks, no selfs."""
    g = nndescent_knn_graph(emb, k=5, iters=0, seed=42)
    rows = g.collect()
    per = {}
    for r in rows:
        assert r.query_id != r.cand_id
        per.setdefault(r.query_id, []).append(r.rank)
    assert per, "init graph must be non-empty"
    for ranks in per.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= 5


def test_nndescent_covers_double_singleton_nodes(spark):
    """A node that lands alone in BOTH md5 bucketings (ADVICE r9) must
    still appear in the graph via the min-id fallback seed. ids 48..55
    with k=1 make id 53 a double singleton (found by replaying
    _md5_bucket in python); pre-fix it vanished from the output."""
    rng = np.random.default_rng(3)
    rows = [
        (i, [float(x) for x in rng.normal(size=8)]) for i in range(48, 56)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    for iters in (0, 2):
        g = nndescent_knn_graph(df, k=1, iters=iters, seed=42)
        covered = {r.query_id for r in g.collect()}
        assert covered == set(range(48, 56)), (iters, covered)


def test_knn_join_nndescent_strategy_routes_and_guards(spark, emb):
    """knn_join(strategy='nndescent') returns the same contract as the
    direct operator; non-self-join and cosine calls are rejected."""
    from semantic_ann_in_data_lake_spark.operators.knn import knn_join

    via_join = knn_join(emb, emb, k=5, strategy="nndescent")
    direct = nndescent_knn_graph(emb, k=5)
    assert sorted(map(tuple, via_join.collect())) == sorted(
        map(tuple, direct.collect())
    )
    # the descent knobs reach the operator through the unified
    # entrypoint (ADVICE r9: they were silently dropped)
    via_knobs = knn_join(
        emb, emb, k=5, strategy="nndescent", iters=1, seed=7, reverse_cap=8
    )
    direct_knobs = nndescent_knn_graph(emb, k=5, iters=1, seed=7, reverse_cap=8)
    assert sorted(map(tuple, via_knobs.collect())) == sorted(
        map(tuple, direct_knobs.collect())
    )
    assert sorted(map(tuple, via_knobs.collect())) != sorted(
        map(tuple, direct.collect())
    )
    other = emb.limit(10)
    with pytest.raises(ValueError, match="self kNN graph"):
        knn_join(other, emb, k=5, strategy="nndescent")
    with pytest.raises(ValueError, match="l2_sq"):
        knn_join(emb, emb, k=5, strategy="nndescent", metric="cosine")
    with pytest.raises(ValueError, match="compress"):
        knn_join(emb, emb, k=5, strategy="nndescent", compress="int8")


def test_nndescent_early_stop_matches_converged_fixed_iters(spark, blobs):
    """With min_update_frac, the loop stops once a round changes few
    edges: on the blob corpus a generous iteration CEILING with a tight
    tolerance must (a) return a valid graph with recall matching a
    converged fixed-T run, and (b) be deterministic across re-runs."""
    exact = _exact_top5(spark, blobs).persist()
    g_fixed = nndescent_knn_graph(blobs, k=5, iters=8, seed=42)
    g_early = nndescent_knn_graph(
        blobs, k=5, iters=8, seed=42, min_update_frac=0.01
    )
    r_fixed = _recall(g_fixed, exact)
    r_early = _recall(g_early, exact)
    assert r_early > 0.9 and r_fixed - r_early < 0.05
    g_early2 = nndescent_knn_graph(
        blobs, k=5, iters=8, seed=42, min_update_frac=0.01
    )
    assert sorted(map(tuple, g_early.collect())) == sorted(
        map(tuple, g_early2.collect())
    )


@pytest.mark.slow  # >20s; default run budget (VERDICT r11 item 1)
def test_pairscore_kernel_bit_identical_to_join_fold(spark, sf_dir, blobs, monkeypatch):
    """The pairscore kernel (vectorized rows, sequential lanes)
    produces BIT-identical graphs to the declarative join + l2_sq fold
    path (the admission gate patched to decline) — on the fixture
    corpus and the clustered blobs, including edge rows (NULL vector,
    odd dims)."""
    from semantic_ann_in_data_lake_spark.operators import pairscore
    from semantic_ann_in_data_lake_spark.sources.readers import read_table

    fixture = read_table(spark, sf_dir, "embeddings")
    edge = spark.createDataFrame(
        [
            (1, [0.1, 0.25, -3.5]),
            (2, [0.100000001, 0.25, -3.5]),
            (3, None),
            (4, [7.0, -2.0, 0.5]),
            (5, [0.0, 0.0, 0.0]),
            (6, [1e-9, -1e-9, 1e9]),
            (7, [2.5, 2.5, 2.5]),
        ],
        "vec_id bigint, embedding array<double>",
    )
    for docs, k, iters in ((fixture, 5, 2), (blobs, 4, 2), (edge, 2, 2)):
        got = sorted(
            map(tuple, nndescent_knn_graph(docs, k=k, iters=iters).collect())
        )
        with monkeypatch.context() as mp:
            mp.setattr(pairscore, "admit_matrices", lambda *a: None)
            want = sorted(
                map(
                    tuple,
                    nndescent_knn_graph(docs, k=k, iters=iters).collect(),
                )
            )
        assert got == want


def test_pairscore_kernel_declines_ungated_frames(spark):
    """The pairscore kernel's engagement gates: non-integral ids, NULL
    vectors, ragged dims, and duplicate ids each return None (callers
    keep the declarative join path)."""
    from semantic_ann_in_data_lake_spark.operators.pairscore import (
        exact_l2_pair_scorer,
    )

    ok = spark.createDataFrame(
        [(1, [0.1, 0.2]), (2, [0.3, 0.4])],
        "vec_id bigint, embedding array<double>",
    )
    assert exact_l2_pair_scorer(ok, ok, "vec_id", "embedding") is not None

    strid = spark.createDataFrame(
        [("a", [0.1, 0.2])], "vec_id string, embedding array<double>"
    )
    nullvec = spark.createDataFrame(
        [(1, [0.1, 0.2]), (2, None)],
        "vec_id bigint, embedding array<double>",
    )
    ragged = spark.createDataFrame(
        [(1, [0.1, 0.2]), (2, [0.3])],
        "vec_id bigint, embedding array<double>",
    )
    dup = spark.createDataFrame(
        [(1, [0.1, 0.2]), (1, [0.3, 0.4])],
        "vec_id bigint, embedding array<double>",
    )
    for bad in (strid, nullvec, ragged, dup):
        assert exact_l2_pair_scorer(bad, bad, "vec_id", "embedding") is None
