"""PageRank centrality (operators/graphrank.py).

Cross-engine equality of the full 5-round build over the symmetrized
kNN graph is covered by the oracle gate (`pagerank_knn_graph` replays
every iteration in DuckDB); these tests pin what the gate graph cannot
exercise: the dangling-node redistribution path (vs a pure-Python
model), mass conservation, and the curation-signal direction (central
nodes outrank peripheral ones on a hub graph).
"""

from __future__ import annotations

import pytest

from semantic_ann_in_data_lake_spark.operators.graphrank import (
    pagerank,
    symmetrize,
)


def _python_pagerank(edges, damping=0.85, iters=5, dp=9):
    """Direct model of the documented contract: exact-decimal contrib
    sums (contributions rounded at 12 dp), uniform dangling
    redistribution, per-round rounding at ``dp``."""
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    n = len(nodes)
    out = {}
    for s, _ in edges:
        out[s] = out.get(s, 0) + 1
    r = {v: round(1.0 / n, dp) for v in nodes}
    for _ in range(iters):
        contrib = {v: 0.0 for v in nodes}
        for s, d in sorted(edges):
            contrib[d] += round(r[s] / out[s], 12)
        dm = sum(r[v] for v in nodes if v not in out)
        base = (1.0 - damping) / n
        r = {
            v: round(base + damping * (contrib[v] + dm / n), dp)
            for v in nodes
        }
    return r


def test_reliable_checkpoint_posture_is_bit_identical(spark, tmp_path):
    """iterate.reliable_checkpoints swaps every per-round lineage
    truncation for a parquet round-trip (executor-loss-safe on a real
    cluster); outputs must be bit-identical to the default local
    posture across the three iterative families (VERDICT r9 task #4)."""
    from semantic_ann_in_data_lake_spark.operators.dedup import (
        dedup_clusters,
    )
    from semantic_ann_in_data_lake_spark.operators.iterate import (
        reliable_checkpoints,
    )
    from semantic_ann_in_data_lake_spark.operators.nndescent import (
        nndescent_knn_graph,
    )

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5), (5, 1), (6, 1)],
        "query_id bigint, cand_id bigint",
    )
    und = symmetrize(edges)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (7, 8)], "id_a bigint, id_b bigint"
    )
    import numpy as np

    rng = np.random.default_rng(11)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=8)]) for i in range(30)],
        "vec_id bigint, embedding array<double>",
    )

    local = {
        "pr": sorted(map(tuple, pagerank(und, iters=4).collect())),
        "cc": sorted(map(tuple, dedup_clusters(pairs).collect())),
        "nnd": sorted(
            map(tuple, nndescent_knn_graph(emb, k=3, iters=2).collect())
        ),
    }
    with reliable_checkpoints(str(tmp_path / "ck")):
        rel = {
            "pr": sorted(map(tuple, pagerank(und, iters=4).collect())),
            "cc": sorted(map(tuple, dedup_clusters(pairs).collect())),
            "nnd": sorted(
                map(tuple, nndescent_knn_graph(emb, k=3, iters=2).collect())
            ),
        }
    assert rel == local
    # the posture actually engaged: round-state parquet dirs exist
    import glob

    assert glob.glob(str(tmp_path / "ck" / "ckpt-*")), "no reliable ckpts"
    # and the posture is correctly restored after the context
    from semantic_ann_in_data_lake_spark.operators import iterate

    assert iterate._state()["mode"] == "local"
    # posture is PER-THREAD (cache.py convention): a reliable context
    # on this thread must not leak into another thread's loops
    import threading

    seen = {}

    def _probe():
        seen["mode"] = iterate._state()["mode"]

    with reliable_checkpoints(str(tmp_path / "ck2")):
        t = threading.Thread(target=_probe)
        t.start()
        t.join()
        assert iterate._state()["mode"] == "reliable"
    assert seen["mode"] == "local"


def test_pagerank_matches_python_model_with_dangling(spark):
    """Star + chain + a DANGLING sink: node 9 has only in-edges, so its
    mass must redistribute uniformly each round — the path the
    symmetrized-kNN gate graph never drives."""
    edges = [
        (1, 2), (1, 3), (1, 4),
        (2, 1), (3, 1), (4, 1),
        (4, 5), (5, 6), (6, 4),
        (3, 9),  # 9 is dangling: no out-edges
    ]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {
        row["node"]: row["pr"]
        for row in pagerank(df, damping=0.85, iters=5).collect()
    }
    want = _python_pagerank(edges)
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=2e-9), v


def test_pagerank_mass_conserved_without_dangling(spark):
    """On a graph where every node has out-edges, total rank stays 1
    (up to n rounding steps of 1e-9)."""
    edges = [(1, 2), (2, 3), (3, 1), (3, 2), (1, 3)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    total = sum(r["pr"] for r in pagerank(df, iters=5).collect())
    assert total == pytest.approx(1.0, abs=1e-8)


def test_pagerank_hub_outranks_periphery(spark):
    """The curation-signal direction: a node reciprocally linked by
    everyone (dense-region representative) scores above leaf nodes."""
    edges = []
    for leaf in range(2, 10):
        edges += [(1, leaf), (leaf, 1)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    pr = {r["node"]: r["pr"] for r in pagerank(df, iters=5).collect()}
    assert all(pr[1] > pr[leaf] for leaf in range(2, 10))


def test_symmetrize_dedupes_and_covers_both_directions(spark):
    knn = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3)], "query_id bigint, cand_id bigint"
    )
    got = {(r["src"], r["dst"]) for r in symmetrize(knn).collect()}
    assert got == {(1, 2), (2, 1), (2, 3), (3, 2)}


def test_triangle_stats_hand_case(spark):
    """K4 minus one edge: nodes 1-2-3-4 fully connected except (1,4).
    Triangles: (1,2,3) and (2,3,4). Degrees: 1→2, 2→3, 3→3, 4→2.
    Clustering: 1 and 4 are 1.0 (their 2 neighbors are linked),
    2 and 3 are 2·2/(3·2)=0.666667."""
    from semantic_ann_in_data_lake_spark.operators.graphrank import (
        symmetrize,
        triangle_stats,
    )

    directed = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4)],
        "query_id bigint, cand_id bigint",
    )
    got = {
        r["node"]: (r["degree"], r["triangles"], r["clustering"])
        for r in triangle_stats(symmetrize(directed)).collect()
    }
    assert got == {
        1: (2, 1, 1.0),
        2: (3, 2, 0.666667),
        3: (3, 2, 0.666667),
        4: (2, 1, 1.0),
    }


def test_duplicate_edges_do_not_skew_degree_based_stats(spark):
    """ADVICE r9: triangle/jaccard/assortativity deduped the canonical
    pair set but computed degrees from the RAW edge list — a duplicated
    input edge inflated degree while counts stayed deduped. All three
    must now be invariant to input edge multiplicity."""
    from semantic_ann_in_data_lake_spark.operators.graphrank import (
        degree_assortativity,
        neighborhood_jaccard,
        symmetrize,
        triangle_stats,
    )

    base = [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4)]
    clean = symmetrize(
        spark.createDataFrame(base, "query_id bigint, cand_id bigint")
    )
    dirty = symmetrize(
        spark.createDataFrame(
            base + base[:3] + base[:1], "query_id bigint, cand_id bigint"
        )
    ).unionByName(
        # symmetrize dedupes, so re-inject raw duplicates downstream of
        # it to hit the operators' own guard
        spark.createDataFrame(
            [(1, 2), (2, 1), (3, 4)], "src bigint, dst bigint"
        )
    )
    for op in (triangle_stats, neighborhood_jaccard, degree_assortativity):
        want = sorted(map(tuple, op(clean).collect()))
        got = sorted(map(tuple, op(dirty).collect()))
        assert got == want, op.__name__


def test_triangle_free_graph_zero_clustering(spark):
    from semantic_ann_in_data_lake_spark.operators.graphrank import (
        symmetrize,
        triangle_stats,
    )

    star = spark.createDataFrame(
        [(1, n) for n in (2, 3, 4, 5)], "query_id bigint, cand_id bigint"
    )
    rows = triangle_stats(symmetrize(star)).collect()
    assert all(r["triangles"] == 0 and r["clustering"] == 0.0 for r in rows)


def test_lpa_two_cliques_two_communities(spark):
    """Two 4-cliques joined by a single bridge edge: labels must
    converge to one community per clique (the bridge minority label
    never outvotes the clique majority)."""
    from semantic_ann_in_data_lake_spark.operators.graphrank import (
        lpa_communities,
        symmetrize,
    )

    edges = []
    for block in ((1, 2, 3, 4), (11, 12, 13, 14)):
        for i, a in enumerate(block):
            for b in block[i + 1:]:
                edges.append((a, b))
    edges.append((4, 11))  # bridge
    df = spark.createDataFrame(edges, "query_id bigint, cand_id bigint")
    lab = {
        r["node"]: r["community"]
        for r in lpa_communities(symmetrize(df), iters=4).collect()
    }
    first = {lab[v] for v in (1, 2, 3, 4)}
    second = {lab[v] for v in (11, 12, 13, 14)}
    assert len(first) == 1 and len(second) == 1 and first != second


def test_lpa_recovers_blob_communities(spark):
    """kNN graph of 10 tight Gaussian blobs: LPA communities align
    with blob membership (majority-community purity ≥ 0.85; measured
    0.90 — one blob fragments on the sparse k=3 graph, the rest are
    recovered exactly; deterministic, so the number is stable)."""
    import numpy as np

    from semantic_ann_in_data_lake_spark.operators.graphrank import (
        lpa_communities,
        symmetrize,
    )
    from semantic_ann_in_data_lake_spark.operators.knn import knn_join

    rng = np.random.default_rng(11)
    centers = rng.uniform(-1.0, 1.0, size=(10, 8))
    rows, vid = [], 0
    truth = {}
    for bi, c in enumerate(centers):
        for _ in range(8):
            rows.append((vid, [float(x) for x in c + rng.normal(0, 0.03, 8)]))
            truth[vid] = bi
            vid += 1
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    edges = symmetrize(knn_join(df, df, k=3, strategy="broadcast"))
    lab = {
        r["node"]: r["community"]
        for r in lpa_communities(edges, iters=4).collect()
    }
    from collections import Counter

    pure = 0
    for bi in range(10):
        members = [lab[v] for v, b in truth.items() if b == bi]
        pure += Counter(members).most_common(1)[0][1]
    assert pure / len(truth) >= 0.85


def test_community_dedup_keeps_min_per_community(spark):
    from semantic_ann_in_data_lake_spark.operators.graphrank import (
        community_dedup,
    )

    labels = spark.createDataFrame(
        [(5, 1), (3, 1), (9, 1), (7, 2), (8, 2), (4, 4)],
        "node bigint, community bigint",
    )
    rows = {r["node"]: r["kept"] for r in community_dedup(labels).collect()}
    assert rows == {3: True, 5: False, 9: False, 7: True, 8: False, 4: True}


def _python_kcore(edges, k):
    """Fixpoint model: peel all sub-k nodes simultaneously until
    stable; returns {node: degree-in-core}."""
    es = {(s, d) for s, d in edges} | {(d, s) for s, d in edges}
    while True:
        deg = {}
        for s, _ in es:
            deg[s] = deg.get(s, 0) + 1
        drop = {v for v, dg in deg.items() if dg < k}
        if not drop:
            return deg
        es = {(s, d) for s, d in es if s not in drop and d not in drop}
        if not es:
            return {}


def test_kcore_fixpoint_matches_python_model(spark):
    """Two overlapping triangles + a pendant chain: the 2-core is the
    triangles, the chain peels over multiple rounds."""
    from semantic_ann_in_data_lake_spark.operators.graphrank import (
        kcore,
        symmetrize,
    )

    directed = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 3),
                (5, 6), (6, 7), (7, 8)]
    df = spark.createDataFrame(directed, "query_id bigint, cand_id bigint")
    got = {
        r["node"]: r["degree"]
        for r in kcore(symmetrize(df), k=2, rounds=None).collect()
    }
    assert got == _python_kcore(directed, 2)
    assert set(got) == {1, 2, 3, 4, 5}  # chain 6-7-8 peeled


def test_kcore_empty_when_no_core(spark):
    from semantic_ann_in_data_lake_spark.operators.graphrank import (
        kcore,
        symmetrize,
    )

    chain = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "query_id bigint, cand_id bigint"
    )
    assert kcore(symmetrize(chain), k=2, rounds=None).count() == 0


def test_kcore_fixed_rounds_is_a_prefix_of_the_fixpoint_trajectory(spark):
    """rounds=1 equals exactly one synchronous peel of the model."""
    from semantic_ann_in_data_lake_spark.operators.graphrank import (
        kcore,
        symmetrize,
    )

    directed = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 3),
                (5, 6), (6, 7), (7, 8)]
    df = spark.createDataFrame(directed, "query_id bigint, cand_id bigint")
    got1 = {
        r["node"]: r["degree"]
        for r in kcore(symmetrize(df), k=2, rounds=1).collect()
    }
    # one peel drops only node 8 (degree 1); 7 survives this round
    es = {(s, d) for s, d in directed} | {(d, s) for s, d in directed}
    es = {(s, d) for s, d in es if s != 8 and d != 8}
    deg = {}
    for s, _ in es:
        deg[s] = deg.get(s, 0) + 1
    assert got1 == deg


def _python_hits(edges, iters=5, dp=9):
    """Direct model of the documented contract: authorities from
    current hubs then hubs from new authorities, L1-normalized with a
    1e-12 floor, rounded at ``dp`` per half-step."""
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    n = len(nodes)
    a = {v: round(1.0 / n, dp) for v in nodes}
    h = dict(a)
    for _ in range(iters):
        raw = {v: 0.0 for v in nodes}
        for s, d in sorted(edges):
            raw[d] += h[s]
        tot = sum(raw[v] for v in nodes)
        a = {v: round(raw[v] / max(tot, 1e-12), dp) for v in nodes}
        raw = {v: 0.0 for v in nodes}
        for s, d in sorted(edges):
            raw[s] += a[d]
        tot = sum(raw[v] for v in nodes)
        h = {v: round(raw[v] / max(tot, 1e-12), dp) for v in nodes}
    return a, h


def test_hits_matches_python_model(spark):
    """Directed hand graph with a clear authority (4: three in-edges)
    and a clear hub (1: three out-edges to authorities)."""
    from semantic_ann_in_data_lake_spark.operators.graphrank import hits

    edges = [(1, 4), (2, 4), (3, 4), (1, 5), (2, 5), (1, 6), (6, 2)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {
        r["node"]: (r["authority"], r["hub"])
        for r in hits(df, iters=5).collect()
    }
    a, h = _python_hits(edges)
    assert set(got) == set(a)
    for v in a:
        assert got[v][0] == pytest.approx(a[v], abs=2e-9), ("authority", v)
        assert got[v][1] == pytest.approx(h[v], abs=2e-9), ("hub", v)
    # direction sanity: 4 is the top authority, 1 the top hub
    assert max(a, key=a.get) == 4
    assert max(h, key=h.get) == 1


def test_hits_pure_sink_has_zero_hub(spark):
    from semantic_ann_in_data_lake_spark.operators.graphrank import hits

    df = spark.createDataFrame(
        [(1, 3), (2, 3)], "src bigint, dst bigint"
    )
    got = {r["node"]: r for r in hits(df, iters=3).collect()}
    assert got[3]["hub"] == 0.0       # no out-edges
    assert got[1]["authority"] == 0.0  # no in-edges
    assert got[3]["authority"] > 0.5   # the only authority


def _python_pagerank_weighted(edges_w, damping=0.85, iters=5, dp=9):
    """Weighted model: contributions round(pr·w/strength, 12);
    zero-strength nodes are dangling."""
    nodes = sorted({s for s, _, _ in edges_w} | {d for _, d, _ in edges_w})
    n = len(nodes)
    stren = {}
    for s, _, w in edges_w:
        stren[s] = stren.get(s, 0.0) + w
    stren = {v: s for v, s in stren.items() if s > 0}
    r = {v: round(1.0 / n, dp) for v in nodes}
    for _ in range(iters):
        contrib = {v: 0.0 for v in nodes}
        for s, d, w in sorted(edges_w):
            if s in stren:
                contrib[d] += round(r[s] * w / stren[s], 12)
        dm = sum(r[v] for v in nodes if v not in stren)
        base = (1.0 - damping) / n
        r = {
            v: round(base + damping * (contrib[v] + dm / n), dp)
            for v in nodes
        }
    return r


def test_weighted_pagerank_matches_python_model(spark):
    """Asymmetric weights + a zero-weight-only source (node 9 has one
    out-edge of weight 0 → zero strength → dangling path)."""
    from semantic_ann_in_data_lake_spark.operators.graphrank import pagerank

    edges = [
        (1, 2, 0.9), (1, 3, 0.1), (2, 1, 0.5), (3, 1, 0.5),
        (2, 3, 0.25), (9, 1, 0.0),
    ]
    df = spark.createDataFrame(edges, "src bigint, dst bigint, w double")
    got = {
        r["node"]: r["pr"]
        for r in pagerank(df, iters=5, weight_col="w").collect()
    }
    want = _python_pagerank_weighted(edges)
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=2e-9), v


def test_weighted_pagerank_prefers_heavy_edges(spark):
    """1 splits rank 0.9/0.1 between 2 and 3: node 2 must outrank
    node 3; with uniform weights they tie."""
    from semantic_ann_in_data_lake_spark.operators.graphrank import pagerank

    def build(w12, w13):
        return spark.createDataFrame(
            [(1, 2, w12), (1, 3, w13), (2, 1, 1.0), (3, 1, 1.0)],
            "src bigint, dst bigint, w double",
        )

    pr = {
        r["node"]: r["pr"]
        for r in pagerank(build(0.9, 0.1), iters=5, weight_col="w").collect()
    }
    assert pr[2] > pr[3]
    pr_u = {
        r["node"]: r["pr"]
        for r in pagerank(build(0.5, 0.5), iters=5, weight_col="w").collect()
    }
    assert pr_u[2] == pr_u[3]


def _python_trustrank(edges, seeds, damping=0.85, iters=5, dp=9):
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges} | set(seeds))
    tv = {
        v: round(1.0 / len(seeds), dp) if v in seeds else 0.0 for v in nodes
    }
    out = {}
    for s, _ in edges:
        out[s] = out.get(s, 0) + 1
    r = dict(tv)
    for _ in range(iters):
        contrib = {v: 0.0 for v in nodes}
        for s, d in sorted(edges):
            contrib[d] += round(r[s] / out[s], 12)
        dm = sum(r[v] for v in nodes if v not in out)
        r = {
            v: round(
                (1.0 - damping) * tv[v]
                + damping * (contrib[v] + dm * tv[v]),
                dp,
            )
            for v in nodes
        }
    return r


def test_trustrank_matches_python_model_with_dangling(spark):
    """Chain out of the seed + a dangling sink: dangling mass must
    return to the SEEDS, not spread uniformly."""
    from semantic_ann_in_data_lake_spark.operators.graphrank import trustrank

    edges = [(1, 2), (2, 3), (3, 4), (2, 1), (3, 2), (5, 1)]
    # 4 is dangling (no out-edges); seed = {1}
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    seeds = spark.createDataFrame([(1,)], "node bigint")
    got = {
        r["node"]: r["trust"]
        for r in trustrank(df, seeds, iters=5).collect()
    }
    want = _python_trustrank(edges, {1})
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=2e-9), v


def test_trustrank_concentrates_near_seed_and_zeroes_unreachable(spark):
    """On a bidirectional chain seeded at one end: trust mass
    concentrates in the seed's neighborhood (hops 0-1 hold more than
    hops 2-4 combined — pairwise hop monotonicity does NOT hold at
    small T, rank oscillates with hop parity on a path), and nodes in
    a disconnected component get exactly 0."""
    from semantic_ann_in_data_lake_spark.operators.graphrank import trustrank

    chain = []
    for a, b in ((1, 2), (2, 3), (3, 4), (4, 5)):
        chain += [(a, b), (b, a)]
    chain += [(8, 9), (9, 8)]  # disconnected component
    df = spark.createDataFrame(chain, "src bigint, dst bigint")
    seeds = spark.createDataFrame([(1,)], "node bigint")
    t = {
        r["node"]: r["trust"]
        for r in trustrank(df, seeds, iters=5).collect()
    }
    assert t[1] + t[2] > t[3] + t[4] + t[5]
    assert min(t[1], t[2], t[3], t[4], t[5]) > 0.0
    assert t[8] == 0.0 and t[9] == 0.0


def test_bfs_layers_hand_graph(spark):
    """Chain 1-2-3-4-5 (undirected) + disconnected 8-9, seed {1}:
    hops = position; unreachable = UNREACHED; rounds caps the radius."""
    from semantic_ann_in_data_lake_spark.operators.graphrank import (
        UNREACHED,
        bfs_layers,
        symmetrize,
    )

    chain = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (8, 9)],
        "query_id bigint, cand_id bigint",
    )
    seeds = spark.createDataFrame([(1,)], "node bigint")
    edges = symmetrize(chain)
    full = {
        r["node"]: r["hops"] for r in bfs_layers(edges, seeds, 4).collect()
    }
    assert full == {1: 0, 2: 1, 3: 2, 4: 3, 5: 4, 8: UNREACHED, 9: UNREACHED}
    capped = {
        r["node"]: r["hops"] for r in bfs_layers(edges, seeds, 2).collect()
    }
    assert capped[3] == 2 and capped[4] == UNREACHED and capped[5] == UNREACHED


def test_bfs_layers_multi_source_takes_min(spark):
    from semantic_ann_in_data_lake_spark.operators.graphrank import (
        bfs_layers,
        symmetrize,
    )

    chain = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "query_id bigint, cand_id bigint"
    )
    seeds = spark.createDataFrame([(1,), (5,)], "node bigint")
    got = {
        r["node"]: r["hops"]
        for r in bfs_layers(symmetrize(chain), seeds, 4).collect()
    }
    assert got == {1: 0, 2: 1, 3: 2, 4: 1, 5: 0}


def test_neighborhood_jaccard_hand_case(spark):
    """K4 minus edge (1,4): edge (2,3) has common={1,4}, degrees 3,3 →
    2/(3+3-2-2)=1.0; edge (1,2) has common={3}, degrees 2,3 →
    1/(2+3-1-2)=0.5; pendant pair scores 0."""
    from semantic_ann_in_data_lake_spark.operators.graphrank import (
        neighborhood_jaccard,
        symmetrize,
    )

    g = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4), (7, 8)],
        "query_id bigint, cand_id bigint",
    )
    got = {
        (r["a"], r["b"]): (r["common"], r["jaccard"])
        for r in neighborhood_jaccard(symmetrize(g)).collect()
    }
    assert got[(2, 3)] == (2, 1.0)
    assert got[(1, 2)] == (1, 0.5)
    assert got[(1, 3)] == (1, 0.5)
    assert got[(2, 4)] == (1, 0.5)
    assert got[(3, 4)] == (1, 0.5)
    assert got[(7, 8)] == (0, 0.0)


def test_assortativity_hand_cases(spark):
    """Star graph: perfectly disassortative (-1); regular ring:
    degenerate variance → 0 by convention; value matches numpy's
    corrcoef on the directed edge list."""
    import numpy as np

    from semantic_ann_in_data_lake_spark.operators.graphrank import (
        degree_assortativity,
        symmetrize,
    )

    star = spark.createDataFrame(
        [(1, n) for n in (2, 3, 4, 5)], "query_id bigint, cand_id bigint"
    )
    row = degree_assortativity(symmetrize(star)).collect()[0]
    assert row["n_dir_edges"] == 8 and row["assortativity"] == -1.0

    ring = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "query_id bigint, cand_id bigint"
    )
    assert (
        degree_assortativity(symmetrize(ring)).collect()[0]["assortativity"]
        == 0.0
    )

    mixed = [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5)]
    df = spark.createDataFrame(mixed, "query_id bigint, cand_id bigint")
    got = degree_assortativity(symmetrize(df)).collect()[0]["assortativity"]
    und = {(s, d) for s, d in mixed} | {(d, s) for s, d in mixed}
    deg = {}
    for s, _ in und:
        deg[s] = deg.get(s, 0) + 1
    xs = [deg[s] for s, d in sorted(und)]
    ys = [deg[d] for s, d in sorted(und)]
    want = round(float(np.corrcoef(xs, ys)[0, 1]), 6)
    assert got == pytest.approx(want, abs=1e-6)


def test_graph_datacard_hand_case(spark):
    """K4-minus-edge + pendant pair: 6 nodes, 6 undirected edges,
    2 triangles; means derived by hand from the triangle_stats case."""
    from semantic_ann_in_data_lake_spark.operators.graphrank import (
        graph_datacard,
        symmetrize,
    )

    g = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4), (7, 8)],
        "query_id bigint, cand_id bigint",
    )
    row = graph_datacard(symmetrize(g)).collect()[0]
    assert row["n_nodes"] == 6
    assert row["n_edges"] == 6
    assert row["n_triangles"] == 2
    assert row["mean_degree"] == 2.0  # 12 directed / 6 nodes
    # clusterings: 1.0, 0.666667, 0.666667, 1.0, 0, 0 → mean
    assert row["mean_clustering"] == round((1.0 + 0.666667 * 2 + 1.0) / 6, 6)


def test_prototype_prune_drops_cluster_centers(spark):
    """Blob corpus with the true centers as prototypes: kept fraction
    is 7/10 per cluster, the points NEAREST each center are the ones
    dropped, and every input row appears exactly once."""
    import numpy as np

    from semantic_ann_in_data_lake_spark.operators.prototypes import (
        prototype_prune,
    )

    rng = np.random.default_rng(3)
    centers = rng.uniform(-1.0, 1.0, size=(4, 8))
    rows, vid = [], 0
    for c in centers:
        for _ in range(10):
            rows.append((vid, [float(x) for x in c + rng.normal(0, 0.05, 8)]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    cents = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centers)],
        "cid bigint, cv array<double>",
    )
    out = prototype_prune(emb, cents, keep_num=7, keep_den=10).collect()
    assert len(out) == 40 and len({r["vec_id"] for r in out}) == 40
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r["cluster"], []).append(r)
    for rows_c in by_cluster.values():
        kept = [r for r in rows_c if r["kept"]]
        dropped = [r for r in rows_c if not r["kept"]]
        assert len(kept) == (len(rows_c) * 7) // 10
        # every dropped row is nearer its prototype than every kept row
        assert max(r["dist"] for r in dropped) <= min(
            r["dist"] for r in kept
        )


def test_doulion_estimate_tracks_exact_on_blobs(spark):
    """Triangle-rich corpus (30 blobs of 8, k=4 graph): the p=1/2
    estimate lands within 50% of the exact count (a loose band — the
    estimator's variance at this size — that still catches a broken
    correction factor, which would be off by 8x), sampled edges are
    roughly half, and the output is deterministic."""
    import numpy as np

    from semantic_ann_in_data_lake_spark.operators.graphrank import (
        symmetrize,
        triangle_count_doulion,
        triangle_stats,
    )
    from semantic_ann_in_data_lake_spark.operators.knn import knn_join

    rng = np.random.default_rng(5)
    centers = rng.uniform(-1.0, 1.0, size=(30, 8))
    rows, vid = [], 0
    for c in centers:
        for _ in range(8):
            rows.append((vid, [float(x) for x in c + rng.normal(0, 0.04, 8)]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    edges = symmetrize(knn_join(df, df, k=4, strategy="broadcast")).persist()
    exact = (
        triangle_stats(edges)
        .agg({"triangles": "sum"})
        .collect()[0][0]
        // 3
    )
    est = triangle_count_doulion(edges, p_mille=500, seed=42).collect()[0]
    assert abs(est["tri_estimate"] - exact) <= 0.5 * exact
    assert 0.3 < est["n_edges_sampled"] / est["n_edges"] < 0.7
    est2 = triangle_count_doulion(edges, p_mille=500, seed=42).collect()[0]
    assert tuple(est) == tuple(est2)


def test_hyperanf_matches_python_model_exactly(spark):
    """The whole mechanism is deterministic, so the Spark result must
    equal a pure-Python HLL-propagation model EXACTLY (same md5
    registers, same max propagation, same estimator) — on a graph with
    a non-trivial distance profile (two chains joined at one end) —
    and N(t) estimates are non-decreasing in t (balls only grow)."""
    import hashlib

    from semantic_ann_in_data_lake_spark.operators.graphrank import (
        hyperanf,
        symmetrize,
    )

    directed = [(1, 2), (2, 3), (3, 4), (1, 5), (5, 6), (6, 7)]
    und = {(s, d) for s, d in directed} | {(d, s) for s, d in directed}
    nodes = sorted({v for e in und for v in e})
    m, alpha, rounds, seed = 16, 0.673, 4, 42

    regs = {}
    for v in nodes:
        h = int(hashlib.md5(f"{seed}:{v}".encode()).hexdigest()[:8], 16)
        r = [0] * m
        r[h % m] = 29 - len(bin(h >> 4)[2:]) if (h >> 4) > 0 else 28
        regs[v] = r

    def est(rg):
        total = 0.0
        for v in nodes:
            z = sum(1.0 / (1 << x) for x in rg[v])
            total += round(alpha * m * m / z + 0.0, 6)
        return round(total, 2)

    want = [(0, est(regs))]
    for t in range(1, rounds + 1):
        new = {}
        for v in nodes:
            acc = list(regs[v])
            for s, d in und:
                if d == v:
                    acc = [max(a, b) for a, b in zip(acc, regs[s])]
            new[v] = acc
        regs = new
        want.append((t, est(regs)))

    df = spark.createDataFrame(list(und), "src bigint, dst bigint")
    got = sorted(
        (r["t"], r["n_est"])
        for r in hyperanf(df, rounds=rounds, seed=seed).collect()
    )
    assert got == sorted(want)
    ests = [v for _, v in got]
    assert ests == sorted(ests)  # balls only grow


# name → (edges, seed ids, the datacard's (n_edges, n_triangles))
_EDGE_CORPORA = {
    "empty": ([], [1], (0, 0)),
    "mutual": ([(1, 2), (2, 1)], [1], (1, 0)),
    "null_endpoint": (
        [(1, 2), (2, 1), (2, None), (None, 1)], [1, None], (1, 0)
    ),
    "duplicated": (
        [(1, 2), (2, 1), (2, 3), (3, 2), (1, 3), (3, 1), (1, 2), (2, 3)],
        [1],
        (3, 1),
    ),
}


@pytest.mark.parametrize("corpus", sorted(_EDGE_CORPORA))
def test_graph_ops_edge_corpora(spark, corpus):
    """Every graph operator on the edge corpora the gate graph never
    has. An edge with a NULL endpoint is absent and a NULL seed is
    dropped: no operator emits a NULL node, and no rank leaks through
    one. PageRank and TrustRank mass sums to 1 wherever the graph has
    nodes; every node-keyed operator emits the same node set (the
    seeded ones add their seed); counts over the empty graph read 0,
    while its means, over 0 nodes, stay NULL."""
    from semantic_ann_in_data_lake_spark.cache import cache_scope
    from semantic_ann_in_data_lake_spark.operators import graphrank as g

    rows, seed_ids, (n_edges, n_triangles) = _EDGE_CORPORA[corpus]
    nodes = {v for s, d in rows if None not in (s, d) for v in (s, d)}
    edges = spark.createDataFrame(rows, "src bigint, dst bigint")
    seeds = spark.createDataFrame([(v,) for v in seed_ids], "node bigint")

    def node_set(df):
        return {r["node"] for r in df.collect()}

    with cache_scope():
        pr = {r["node"]: r["pr"] for r in g.pagerank(edges, iters=2).collect()}
        trust = {
            r["node"]: r["trust"]
            for r in g.trustrank(edges, seeds, iters=2).collect()
        }
        keyed = {
            "pagerank": set(pr),
            "hits": node_set(g.hits(edges, iters=2)),
            "lpa": node_set(g.lpa_communities(edges, iters=2)),
            "kcore": node_set(g.kcore(edges, k=1, rounds=None)),
            "triangle_stats": node_set(g.triangle_stats(edges)),
            "jaccard": {
                v
                for r in g.neighborhood_jaccard(edges).collect()
                for v in (r["a"], r["b"])
            },
        }
        seeded = {
            "trustrank": set(trust),
            "bfs": node_set(g.bfs_layers(edges, seeds, 2)),
        }
        card = g.graph_datacard(edges).collect()[0]
        anf = sorted(tuple(r) for r in g.hyperanf(edges, rounds=2).collect())
        doulion = g.triangle_count_doulion(edges).collect()[0]
        assort = g.degree_assortativity(edges).collect()[0]

    for name, got in keyed.items():
        assert got == nodes, name
    for name, got in seeded.items():
        assert got == nodes | {1}, name
    if nodes:
        assert sum(pr.values()) == pytest.approx(1.0, abs=1e-6)
    assert sum(trust.values()) == pytest.approx(1.0, abs=1e-6)
    assert card["n_nodes"] == len(nodes)
    assert (card["n_edges"], card["n_triangles"]) == (n_edges, n_triangles)
    assert assort["n_dir_edges"] == 2 * n_edges
    assert doulion["n_edges"] == n_edges
    if not nodes:
        assert card["mean_degree"] is None
        assert card["mean_clustering"] is None
        assert anf == [(0, 0.0), (1, 0.0), (2, 0.0)]
        assert tuple(doulion) == (0, 0, 0, 0)
