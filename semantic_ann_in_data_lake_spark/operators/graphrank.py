"""PageRank-style centrality over data-derived graphs — the
graph-analytics primitive of corpus curation (Page et al. 1999; used in
pretraining pipelines to weight documents by centrality/representativity
of their neighborhood graph, and classically to rank crawl URLs).

Here the graph is usually the SYMMETRIZED kNN graph of an embedding
corpus (`operators/nndescent.py` or `operators/knn.py` edges, both
directions, deduped): a node whose neighborhood is reciprocated by many
well-connected nodes sits in a dense semantic region (high rank →
representative/duplicative content), while low-rank nodes are outliers
— both tails are actionable for selection and pruning.

Execution shape (100-TB posture):
- One iteration = one groupBy on dst (partial-aggregating shuffle of
  (dst, contrib) pairs — never the vectors) + one broadcast of the
  1-row dangling-mass frame. T iterations = T such rounds; state is
  the (node, rank) frame, lineage-truncated per round
  (`operators/iterate.py`, the shared iterative-operator convention —
  the rank frame is referenced twice per round, so the logical tree
  would otherwise double each iteration; wrap calls in
  ``iterate.reliable_checkpoints(dir)`` for executor-loss-safe round
  state on preemptible clusters).
- Out-degrees are computed ONCE and joined in; skew is bounded
  upstream (a kNN graph has out-degree exactly k; in-degree hubs are
  bounded by the reverse cap if the graph came from nndescent).

Determinism contract (what makes a 5-round float fixpoint
hash-gateable cross-engine): per-edge contributions ``rank/outdeg``
are rounded to 12 dp and cast to DECIMAL(38,12) — scale matching the
round dp, so the cast is an exact grid-snap in BOTH engines (the
`q_ann` centroid-oracle pattern: engines disagree on double→decimal
tail rounding, never on which 1e-12 grid point a 12-dp-rounded double
is nearest) — then summed EXACTLY (parallel double summation is
order-nondeterministic; DECIMAL sums are not), and the combined value
is rounded to ``round_dp`` decimals each round. rank_t is therefore a
pure decimal function of rank_{t-1} that DuckDB replays bit-
identically (`plans/q_ann.py::pagerank_knn_graph`).

Dangling nodes (no out-edges) follow the textbook treatment: their
mass redistributes uniformly. The symmetrized-kNN gate graph has none
by construction; the hand-graph pytest exercises the path against a
pure-Python model.

Edge frames: every operator reads its input through `_edge_frame`,
which drops edges with a NULL endpoint (a NULL id is no node: the
node-keyed joins cannot match it, so keeping it would leak rank mass)
and persists the projection. Outside a `cache.cache_scope` that
persisted frame stays cached for the session, so callers should wrap
the operator call, and the actions on its result, in
``cache_scope()``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from semantic_ann_in_data_lake_spark.cache import scoped_persist
from semantic_ann_in_data_lake_spark.operators.iterate import (
    iter_checkpoint,
)


def _edge_frame(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    names: tuple[str, str] = ("src", "dst"),
    dedup: bool = False,
    weight_col: str | None = None,
) -> DataFrame:
    """The one edge projection of this module: ``edges`` with its
    endpoint columns renamed to ``names`` (plus ``w``, a double, when
    ``weight_col`` is given), edges with a NULL endpoint dropped,
    ``distinct()`` when ``dedup``, persisted.

    Why persisted: every operator references its edge frame several
    times — iterative ones once per round, the analytics ones 3-5
    times across join branches — and Catalyst does not CSE across join
    branches, so without a persist the caller's whole edge-producing
    subtree (typically an exact-kNN join) re-executes at every
    reference (measured 34.9 → ~9 s on `pagerank_weighted_knn`). A
    persist changes evaluation count, not values.

    Lifetime: the frame registers with the innermost
    `cache.cache_scope` of this thread and is released when that scope
    exits; outside a scope it stays cached for the session, so callers
    should wrap the call in ``cache_scope()``."""
    a, b = names
    cols = [F.col(src_col).alias(a), F.col(dst_col).alias(b)]
    if weight_col is not None:
        cols.append(F.col(weight_col).cast("double").alias("w"))
    e = edges.select(*cols).where(F.col(a).isNotNull() & F.col(b).isNotNull())
    return scoped_persist(e.distinct() if dedup else e)


def _nodes(e: DataFrame, seeds: DataFrame | None = None) -> DataFrame:
    """Distinct ``node`` set: both endpoints of ``e``, plus ``seeds``
    (a ``node`` frame) when given."""
    src = e.select(F.col("src").alias("node"))
    nodes = src.unionByName(e.select(F.col("dst").alias("node")))
    if seeds is not None:
        nodes = nodes.unionByName(seeds)
    return nodes.distinct()


def _seeds(seeds: DataFrame, seed_col: str) -> DataFrame:
    """Distinct non-NULL seed ids as a ``node`` frame."""
    s = seeds.select(F.col(seed_col).alias("node"))
    return s.where(F.col("node").isNotNull()).distinct()


def _degree(e: DataFrame, key: str = "src", name: str = "deg") -> DataFrame:
    """``(node, <name>)``: edge count per ``key`` endpoint."""
    return e.groupBy(F.col(key).alias("node")).agg(
        F.count(F.lit(1)).alias(name)
    )


def _triangles(canon: DataFrame) -> DataFrame:
    """Every triangle of a canonical (a < b) edge set exactly once, as
    ``(a, b, c)`` with a < b < c: E(a,b) ⋈ E(b,c) ⋈ E(a,c), each join
    an equi-shuffle on a node key."""
    bc = canon.select(F.col("a").alias("b"), F.col("b").alias("c"))
    ac = canon.select(F.col("a").alias("a2"), F.col("b").alias("c2"))
    return (
        canon.join(bc, "b")
        .join(ac, (F.col("a") == F.col("a2")) & (F.col("c") == F.col("c2")))
        .select("a", "b", "c")
    )


def _rank_rounds(
    e: DataFrame,
    start: DataFrame,
    init: Column,
    teleport: Column,
    dangling_share: Column,
    damping: float,
    iters: int,
    round_dp: int,
) -> DataFrame:
    """The one rank-propagation loop of `pagerank` and `trustrank`:
    rank starts at ``init`` on every ``start`` row, then each of
    ``iters`` rounds sets, per ``start`` node,
    ``pr = round(teleport + d·(coalesce(__c, 0) + dangling_share),
    round_dp)`` — ``__c`` the exact DECIMAL sum of the node's in-edge
    contributions ``round(pr/deg, 12)`` (``pr·w/strength`` when ``e``
    carries a weight ``w``), ``__dm`` the exact rank mass of the nodes
    without out-edges. ``teleport`` and ``dangling_share`` may read
    any ``start`` column. Returns ``(node, pr)``."""
    if "w" in e.columns:
        # exact decimal strength; NULL (not 0) when a node only has
        # zero-weight out-edges, so it rides the dangling path instead
        # of dividing by zero
        outdeg = (
            e.groupBy(F.col("src").alias("node"))
            .agg(
                F.sum(F.col("w").cast("decimal(38,12)"))
                .cast("double")
                .alias("deg")
            )
            .withColumn("deg", F.when(F.col("deg") > 0, F.col("deg")))
        )
        per_edge = F.col("pr") * F.col("w") / F.col("deg")
    else:
        outdeg = _degree(e)
        per_edge = F.col("pr") / F.col("deg")
    outdeg = outdeg.transform(iter_checkpoint)
    dec = f"decimal(38,{round_dp})"
    r = start.select("node", init.alias("pr")).transform(iter_checkpoint)
    for _ in range(iters):
        rd = r.join(outdeg, "node", "left")
        # exact decimal accumulation: parallel double sums are
        # order-nondeterministic; DECIMAL sums are not
        contrib = (
            rd.where(F.col("deg").isNotNull())
            .join(e, rd["node"] == e["src"])
            .groupBy(F.col("dst").alias("node"))
            .agg(
                F.sum(
                    F.round(per_edge, 12).cast("decimal(38,12)")
                ).alias("__c")
            )
        )
        # pr is round_dp-dp exact by construction, so the scale-matched
        # cast is a no-op grid-snap
        dangling = rd.where(F.col("deg").isNull()).agg(
            F.coalesce(
                F.sum(F.col("pr").cast(dec)), F.lit(0).cast(dec)
            ).alias("__dm")
        )
        r = (
            start.join(contrib, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                F.round(
                    teleport
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("__c").cast("double"), F.lit(0.0))
                        + dangling_share
                    ),
                    round_dp,
                ).alias("pr"),
            )
            .transform(iter_checkpoint)
        )
    return r


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iters: int = 5,
    src_col: str = "src",
    dst_col: str = "dst",
    round_dp: int = 9,
    weight_col: str | None = None,
) -> DataFrame:
    """Iterated PageRank over ``edges``: returns ``(node, pr)`` with
    ``pr`` rounded to ``round_dp`` per round (see module docstring for
    why that makes the number cross-engine exact). Nodes are the union
    of both endpoint sets; initial rank 1/n; ``iters`` fixed rounds
    (the curation use wants a deterministic, replayable score, not an
    ε-converged fixpoint).

    ``weight_col`` selects WEIGHTED PageRank: a node's rank splits
    over its out-edges proportionally to edge weight (similarity-
    weighted centrality — a near-identical neighbor should pull more
    rank than a barely-in-top-k one). Weights must be non-negative,
    12-dp-exact doubles (callers derive them as ``round(f(dist), 12)``
    so the decimal grid-snap is exact); out-STRENGTH (exact decimal
    sum of out-weights) replaces out-degree, per-edge contributions
    become ``round(pr · w / strength, 12)``, and zero-strength nodes
    follow the dangling path."""
    if iters < 0:
        raise ValueError("iters >= 0 required")
    e = _edge_frame(edges, src_col, dst_col, weight_col=weight_col)
    nodes = _nodes(e).transform(iter_checkpoint)
    n = nodes.count()
    if n == 0:
        return nodes.select("node", F.lit(0.0).alias("pr"))
    return _rank_rounds(
        e,
        nodes,
        init=F.round(F.lit(1.0 / n), round_dp),
        teleport=F.lit((1.0 - damping) / n),
        dangling_share=F.col("__dm").cast("double") / F.lit(float(n)),
        damping=damping,
        iters=iters,
        round_dp=round_dp,
    )


def symmetrize(knn: DataFrame, src_col: str = "query_id", dst_col: str = "cand_id") -> DataFrame:
    """Undirected edge set of a directed kNN graph: both directions,
    deduped — the standard mutual-neighborhood graph for centrality
    and community operators."""
    a = knn.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    b = knn.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst"))
    return a.unionByName(b).distinct()


def triangle_stats(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    round_dp: int = 6,
) -> DataFrame:
    """Per-node triangle count and local clustering coefficient over an
    UNDIRECTED edge set (both directions present, `symmetrize` output):
    ``(node, degree, triangles, clustering)`` — the embedding-manifold
    diagnostic (high clustering = locally consistent neighborhoods /
    dense semantic regions; near-zero = the "neighbors" are an artifact
    of dimensionality, a real signal on uniform-random corpora).

    Shape: canonicalize to a < b once, then the standard two-join
    triangle enumeration E(a,b)⋈E(b,c)⋈E(a,c) with a < b < c — each
    triangle found exactly once, each join an equi-shuffle on a node
    key. Per-node counts come from exploding the 3 corners of each
    triangle (integer-exact); clustering = 2·T / (deg·(deg−1)), one
    IEEE division rounded at ``round_dp`` (identical cross-engine).

    Skew note (100-TB posture): join fan-out is Σ deg(v)² over the
    middle corner. kNN graphs bound OUT-degree by k but not in-degree;
    cap hub degrees upstream (the nndescent reverse cap, or a
    deterministic per-node edge cap) before triangle-counting a corpus
    with celebrity nodes — the same discipline every distributed
    triangle counter (e.g. Cohen's MapReduce construction) documents.
    """
    # dedup the directed edge set up front: triangle counts are over
    # distinct edges, so degrees must be too — a duplicated input edge
    # would otherwise inflate degree and skew clustering
    e = _edge_frame(edges, src_col, dst_col, ("a", "b"), dedup=True)
    deg = _degree(e, "a", "degree")
    per_node = (
        _triangles(e.where(F.col("a") < F.col("b")))
        .select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    return (
        deg.join(per_node, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"),
            F.when(
                F.col("degree") >= 2,
                F.round(
                    F.lit(2.0)
                    * F.coalesce("triangles", F.lit(0)).cast("double")
                    / (
                        F.col("degree").cast("double")
                        * (F.col("degree") - F.lit(1)).cast("double")
                    ),
                    round_dp,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering"),
        )
    )


def lpa_communities(
    edges: DataFrame,
    iters: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) over an
    undirected edge set: ``(node, community)`` after ``iters`` rounds —
    the lightweight community detector for semantic-cluster discovery
    on kNN graphs (near-dup families, topic clumps), O(|E|) per round
    with no float arithmetic at all.

    Deterministic variant (classic LPA breaks ties randomly, which
    cannot be replayed): every node starts as its own label; each round
    every node adopts the most frequent label among its NEIGHBORS, ties
    broken by smallest label; isolated nodes keep their label. Integer
    ops only, so the DuckDB oracle replays every round exactly
    (`plans/q_ann.py::lpa_communities_knn`).

    Each round = one join (edges ⋈ labels on src), one (dst, label)
    count aggregate, one argmax window — all key-partitioned shuffles;
    the label frame is lineage-truncated per round."""
    if iters < 0:
        raise ValueError("iters >= 0 required")
    e = _edge_frame(edges, src_col, dst_col)
    lab = (
        _nodes(e)
        .select("node", F.col("node").alias("community"))
        .transform(iter_checkpoint)
    )
    for _ in range(iters):
        counts = (
            e.join(lab.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"), "community")
            .agg(F.count(F.lit(1)).alias("__n"))
        )
        w = Window.partitionBy("node").orderBy(
            F.col("__n").desc(), F.col("community").asc()
        )
        pick = (
            counts.withColumn("__r", F.row_number().over(w))
            .where(F.col("__r") == 1)
            .select("node", F.col("community").alias("__new"))
        )
        lab = (
            lab.join(pick, "node", "left")
            .select(
                "node",
                F.coalesce("__new", "community").alias("community"),
            )
            .transform(iter_checkpoint)
        )
    return lab


def community_dedup(
    labels: DataFrame,
    node_col: str = "node",
    community_col: str = "community",
) -> DataFrame:
    """Graph-cluster dedup: one canonical representative per community
    — ``(node, community, kept)`` with ``kept`` true for the smallest
    node id of each community (the deterministic keep rule every dedup
    operator in this engine uses). SemDeDup's graph-sibling: where
    SemDeDup drops near-dups inside k-means cells, this drops them
    inside LPA communities of the kNN graph, so transitive near-dup
    chains (A≈B≈C with A̸≈C) collapse to ONE survivor instead of two.

    Full-coverage output (every input node, flagged) — the audit-
    friendly shape `operators/semdedup.py` established; filter on
    ``kept`` for the survivor view. One window over the community key.
    """
    w = Window.partitionBy(community_col)
    return labels.select(
        F.col(node_col).alias("node"),
        F.col(community_col).alias("community"),
        (F.col(node_col) == F.min(node_col).over(w)).alias("kept"),
    )


def kcore(
    edges: DataFrame,
    k: int,
    rounds: int | None = None,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """k-core decomposition by synchronous peeling (Seidman 1983;
    Batagelj–Zaveršnik is the sequential version — peeling is the one
    that distributes): repeatedly drop ALL nodes of current degree < k
    until none remain (``rounds=None``, with a driver-side convergence
    count per round) or for a FIXED number of peels (the oracle-gated
    shape — a data-independent plan both engines replay). Returns the
    surviving ``(node, degree)`` — degree measured within the core.

    The graph-cleaning primitive: on a kNN graph the k-core keeps the
    mutually-embedded dense regions and peels chains/outliers whose
    neighborhoods are not reciprocated — a structural (metric-free)
    complement to distance-threshold outlier removal.

    Each peel is one degree aggregate + one two-sided semi join of the
    edge list (node-keyed shuffles, O(|E|) payload); the edge frame is
    lineage-truncated per round. Synchronous peeling removes every
    sub-k node of the ROUND simultaneously, so no tie-break is needed
    anywhere — the fixpoint is unique (the k-core is) and the
    trajectory is deterministic."""
    if k < 1:
        raise ValueError("k >= 1 required")
    e = _edge_frame(edges, src_col, dst_col)
    t = 0
    while True:
        deg = _degree(e, name="degree")
        keep = deg.where(F.col("degree") >= k).select("node")
        if rounds is None:
            # fixpoint mode: stop when nothing was peeled this round
            n_all = deg.count()
            n_keep = keep.count()
            if n_keep == n_all:
                break
        e = (
            e.join(keep.withColumnRenamed("node", "src"), "src")
            .join(keep.withColumnRenamed("node", "dst"), "dst")
            .select("src", "dst")
            .transform(iter_checkpoint)
        )
        t += 1
        if rounds is not None and t >= rounds:
            break
        if rounds is None and t > 10_000:  # unreachable backstop
            raise RuntimeError("kcore failed to converge")
    return _degree(e, name="degree")


def hits(
    edges: DataFrame,
    iters: int = 5,
    src_col: str = "src",
    dst_col: str = "dst",
    round_dp: int = 9,
) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999) over a DIRECTED edge
    set — on a kNN graph the natural asymmetric signal: authority(v)
    grows with how many nodes' top-k lists contain v (density /
    attractor score, invisible to the symmetrized operators), hub(u)
    with how authoritative u's own neighbors are. Returns ``(node,
    authority, hub)`` after ``iters`` rounds, both scores L1-normalized
    and rounded per round.

    Update order is Kleinberg's original: authorities from CURRENT
    hubs, then hubs from the NEW authorities, once per round.

    Determinism contract (same discipline as `pagerank`): scores are
    ``round_dp``-dp exact after every normalization, so the
    scale-matched DECIMAL(38,round_dp) cast is a no-op grid-snap, sums
    are exact decimals, and the single IEEE division per node per
    round (value/total) is identical cross-engine — the oracle replays
    all rounds (`plans/q_ann.py::hits_knn_graph`). Each round is two
    node-keyed partial-agg shuffles + two 1-row total broadcasts; the
    state frame is lineage-truncated per round."""
    if iters < 0:
        raise ValueError("iters >= 0 required")
    e = _edge_frame(edges, src_col, dst_col)
    nodes = _nodes(e).transform(iter_checkpoint)
    n = nodes.count()
    if n == 0:
        return nodes.select(
            "node",
            F.lit(0.0).alias("authority"),
            F.lit(0.0).alias("hub"),
        )
    init = F.round(F.lit(1.0 / n), round_dp)
    r = nodes.select(
        "node", init.alias("authority"), init.alias("hub")
    ).transform(iter_checkpoint)
    dec = f"decimal(38,{round_dp})"

    def half_step(state: DataFrame, val_col: str, join_on: str, group_as: str):
        """One normalized propagation: sum state[val_col] over edges
        joined on ``join_on`` (src|dst), grouped by the other end."""
        other = "dst" if join_on == "src" else "src"
        raw = (
            e.join(
                state.select(
                    F.col("node").alias(join_on), F.col(val_col).alias("__v")
                ),
                join_on,
            )
            .groupBy(F.col(other).alias("node"))
            .agg(F.sum(F.col("__v").cast(dec)).alias("__s"))
        )
        tot = raw.agg(
            F.coalesce(F.sum("__s"), F.lit(0).cast(dec)).alias("__t")
        )
        return (
            nodes.join(raw, "node", "left")
            .crossJoin(F.broadcast(tot))
            .select(
                "node",
                F.round(
                    F.coalesce(F.col("__s").cast("double"), F.lit(0.0))
                    / F.greatest(F.col("__t").cast("double"), F.lit(1e-12)),
                    round_dp,
                ).alias(group_as),
            )
        )

    for _ in range(iters):
        a = half_step(r, "hub", "src", "authority")
        h = half_step(a, "authority", "dst", "hub")
        r = (
            a.join(h, "node")
            .select("node", "authority", "hub")
            .transform(iter_checkpoint)
        )
    return r


def trustrank(
    edges: DataFrame,
    seeds: DataFrame,
    damping: float = 0.85,
    iters: int = 5,
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "node",
    round_dp: int = 9,
) -> DataFrame:
    """TrustRank (Gyöngyi, Garcia-Molina & Pedersen 2004): PageRank
    with teleport restricted to a trusted SEED set — trust flows
    outward from the seeds through the graph, decaying with distance.
    THE seed-propagation primitive of corpus curation: score every
    document/vector by its kNN-graph proximity to a hand-verified gold
    set (quality propagation), or invert the seeds to propagate from
    known-bad examples (spam/contamination neighborhoods).

    Returns ``(node, trust)``; nodes unreachable from the seeds get
    exactly 0. Mechanics and determinism discipline are `pagerank`'s
    (decimal grid-snap contributions, per-round rounding) with two
    deltas, both textbook: the initial distribution IS the seed
    distribution (round(1/|S|, dp) on seeds, 0 elsewhere), and both
    the teleport term and the dangling mass redistribute to the SEEDS
    instead of uniformly — r'(v) = (1−d)·t(v) + d·(Σ contrib + dm·t(v)).
    """
    if iters < 0:
        raise ValueError("iters >= 0 required")
    e = _edge_frame(edges, src_col, dst_col)
    s = _seeds(seeds, seed_col)
    n_seeds = s.count()
    if n_seeds == 0:
        raise ValueError("trustrank requires a non-empty seed set")
    tv = (
        _nodes(e, s)
        .join(s.withColumn("__is", F.lit(True)), "node", "left")
        .select(
            "node",
            F.when(
                F.col("__is"),
                F.round(F.lit(1.0 / n_seeds), round_dp),
            )
            .otherwise(F.lit(0.0))
            .alias("__t"),
        )
        .transform(iter_checkpoint)
    )
    r = _rank_rounds(
        e,
        tv,
        init=F.col("__t"),
        teleport=F.lit(1.0 - damping) * F.col("__t"),
        dangling_share=F.col("__dm").cast("double") * F.col("__t"),
        damping=damping,
        iters=iters,
        round_dp=round_dp,
    )
    return r.select("node", F.col("pr").alias("trust"))


#: unreached sentinel for bfs_layers — larger than any reachable hop
#: count (rounds are bounded), small enough for exact INT arithmetic
UNREACHED = 2_147_483_647


def bfs_layers(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int,
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "node",
) -> DataFrame:
    """Multi-source BFS hop distance: ``(node, hops)`` — 0 on the
    seeds, the minimum edge count from any seed otherwise, computed by
    ``rounds`` synchronous frontier relaxations (distance > rounds ⇒
    :data:`UNREACHED`). Follows edges src→dst; pass a symmetrized set
    for undirected distance.

    The graded companion to the binary connected-components leakage
    check: "how many near-dup hops is each training doc from the eval
    set" — hop 1 is a near-dup of a test item, hop 2 a near-dup of a
    near-dup, etc. — so a pipeline can quarantine by radius instead of
    whole components, and TrustRank's decay gets an exact-integer
    cross-check.

    Integer-only (min-aggregate relaxation, no tie-breaks — min is
    total), so the DuckDB oracle replays every round exactly. One
    (dst, cand-dist) partial-agg shuffle per round; the distance frame
    is lineage-truncated per round. ``rounds`` is explicit because hop
    radius IS the semantic knob (quarantine radius), not a convergence
    detail; callers wanting the fixpoint pass rounds ≥ the graph
    diameter."""
    if rounds < 0:
        raise ValueError("rounds >= 0 required")
    e = _edge_frame(edges, src_col, dst_col)
    s = _seeds(seeds, seed_col)
    dist = (
        _nodes(e, s)
        .join(s.withColumn("__s", F.lit(True)), "node", "left")
        .select(
            "node",
            F.when(F.col("__s"), F.lit(0))
            .otherwise(F.lit(UNREACHED))
            .cast("int")
            .alias("hops"),
        )
        .transform(iter_checkpoint)
    )
    for _ in range(rounds):
        cand = (
            e.join(
                dist.where(F.col("hops") < UNREACHED).withColumnRenamed(
                    "node", "src"
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("node"))
            .agg((F.min("hops") + F.lit(1)).cast("int").alias("__c"))
        )
        dist = (
            dist.join(cand, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("hops"), F.coalesce("__c", F.lit(UNREACHED))
                ).alias("hops"),
            )
            .transform(iter_checkpoint)
        )
    return dist


def neighborhood_jaccard(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    round_dp: int = 6,
) -> DataFrame:
    """Neighborhood-overlap link scores for every edge of an UNDIRECTED
    graph (`symmetrize` output): ``(a, b, common, jaccard)`` per
    canonical edge a < b, where ``common`` counts shared neighbors
    (excluding the endpoints themselves) and ``jaccard`` =
    common / (deg(a) + deg(b) − common − 2) — the −2 removes a and b
    from each other's neighborhoods so a pendant pair scores 0, not a
    self-fulfilling overlap.

    The common-neighbors family of link prediction (Liben-Nowell &
    Kleinberg 2003) as a CONFIRMATION signal on kNN edges: a candidate
    near-dup pair whose neighborhoods barely overlap is usually a
    hub artifact; a pair embedded in the same neighborhood is a real
    semantic duplicate. Integer counts + one rounded IEEE division —
    the whole relation is cross-engine hash-exact (no log/exp, which
    are NOT ulp-identical across libms — the reason this operator
    ships Jaccard and not Adamic-Adar).

    Shape: one co-neighbor equi-join (the NN-descent candidate step)
    counted per canonical pair, plus a degree broadcast-join; fan-out
    is Σ deg(v)² over pivot nodes — same hub-cap discipline as
    `triangle_stats`."""
    # distinct first: common counts are deduped by construction, so
    # degrees (and the co-neighbor pivot) must see each edge once too
    e = _edge_frame(edges, src_col, dst_col, ("a", "b"), dedup=True)
    canon = e.where(F.col("a") < F.col("b"))
    deg = _degree(e, "a")
    # common neighbors of (a, b): pivot c adjacent to both
    adj = e.select(F.col("a").alias("c"), F.col("b").alias("n"))
    pairs_via_c = (
        adj.alias("x")
        .join(
            adj.alias("y"),
            (F.col("x.c") == F.col("y.c")) & (F.col("x.n") < F.col("y.n")),
        )
        .select(
            F.col("x.n").alias("a"), F.col("y.n").alias("b"),
            F.col("x.c").alias("c"),
        )
    )
    common = (
        canon.join(pairs_via_c, ["a", "b"])
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("__da"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("__db"))
    out = (
        canon.join(common, ["a", "b"], "left")
        .join(da, "a")
        .join(db, "b")
        .select(
            "a",
            "b",
            F.coalesce("common", F.lit(0)).cast("long").alias("common"),
            F.round(
                F.coalesce("common", F.lit(0)).cast("double")
                / F.greatest(
                    (
                        F.col("__da")
                        + F.col("__db")
                        - F.coalesce("common", F.lit(0))
                        - F.lit(2)
                    ).cast("double"),
                    F.lit(1.0),
                ),
                round_dp,
            ).alias("jaccard"),
        )
    )
    return out


def degree_assortativity(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    round_dp: int = 6,
) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002) of an UNDIRECTED
    edge set (`symmetrize` output, each undirected edge present in both
    directions — which is exactly the double-counting the coefficient
    is defined over): one row ``(n_dir_edges, assortativity)`` — the
    Pearson correlation of endpoint degrees across edges. Positive =
    hubs link to hubs (core-periphery corpora), negative = hubs link to
    leaves (star-like, typical of kNN graphs around density peaks) — a
    one-number graph-health summary for curation dashboards.

    Exactness: every moment (Σx, Σx², Σxy over directed edges) is an
    INTEGER summed in DECIMAL(38,0) — no float accumulation at all;
    the final expression is a handful of IEEE doubles ops plus sqrt
    (correctly-rounded per IEEE-754 in both engines, unlike log/exp),
    rounded once — so the single output row is cross-engine
    hash-exact. Degenerate variance (regular graphs) returns 0.0 by
    convention."""
    # distinct first: a duplicated input edge would inflate both the
    # per-edge moment sums and the endpoint degrees
    e = _edge_frame(edges, src_col, dst_col, ("a", "b"), dedup=True)
    deg = _degree(e, "a")
    j = (
        e.join(deg.select(F.col("node").alias("a"), F.col("deg").alias("da")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("deg").alias("db")), "b")
    )
    d0 = "decimal(38,0)"
    m = j.agg(
        F.count(F.lit(1)).cast(d0).alias("n"),
        F.sum(F.col("da").cast(d0)).alias("sx"),
        F.sum(F.col("db").cast(d0)).alias("sy"),
        F.sum((F.col("da") * F.col("db")).cast(d0)).alias("sxy"),
        F.sum((F.col("da") * F.col("da")).cast(d0)).alias("sxx"),
        F.sum((F.col("db") * F.col("db")).cast(d0)).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    va = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vb = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return m.select(
        F.col("n").cast("long").alias("n_dir_edges"),
        F.when(
            (va > 0) & (vb > 0),
            F.round(num / (F.sqrt(va) * F.sqrt(vb)), round_dp),
        )
        .otherwise(F.lit(0.0))
        .alias("assortativity"),
    )


def graph_datacard(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """One-row structural datacard of an UNDIRECTED edge set
    (`symmetrize` output): ``(n_nodes, n_edges, n_triangles,
    mean_degree, mean_clustering, assortativity)`` — the graph sibling
    of the corpus datacard: what a curation dashboard pins next to a
    crawl snapshot to see at a glance whether the embedding manifold
    is clumpy (high clustering), hub-ridden (negative assortativity),
    or degenerate.

    Composition of the gated primitives, with the same exactness
    discipline: triangle/degree counts are integers; mean degree and
    mean clustering average ROUNDED values through DECIMAL sums (the
    per-node clustering is 6-dp exact by `triangle_stats`' contract,
    so DECIMAL(38,6) accumulates it without information loss);
    assortativity comes from `degree_assortativity`. Single row,
    hash-exact cross-engine."""
    # one upstream evaluation for both triangle_stats and
    # degree_assortativity, which each dedup their own copy
    e = _edge_frame(edges, src_col, dst_col)
    ts = triangle_stats(e)
    agg = ts.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.sum(F.col("degree").cast("decimal(38,0)")).alias("__sdeg"),
        F.sum(F.col("triangles").cast("decimal(38,0)")).alias("__stri"),
        F.sum(F.col("clustering").cast("decimal(38,6)")).alias("__sclu"),
    )
    a = degree_assortativity(e)

    def count_over(col: str, per: int) -> Column:
        # a sum over no rows is NULL; the count it stands for is 0
        total = F.coalesce(F.col(col).cast("long"), F.lit(0))
        return (total / F.lit(per)).cast("long")

    return agg.crossJoin(F.broadcast(a)).select(
        "n_nodes",
        count_over("__sdeg", 2).alias("n_edges"),
        count_over("__stri", 3).alias("n_triangles"),
        F.round(
            F.col("__sdeg").cast("double")
            / F.col("n_nodes").cast("double"),
            6,
        ).alias("mean_degree"),
        F.round(
            F.col("__sclu").cast("double")
            / F.col("n_nodes").cast("double"),
            6,
        ).alias("mean_clustering"),
        "assortativity",
    )


def triangle_count_doulion(
    edges: DataFrame,
    p_mille: int = 500,
    seed: int = 42,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """DOULION approximate total-triangle count (Tsourakakis, Kang,
    Miller & Faloutsos 2009): sparsify the graph by keeping each edge
    with probability p, count triangles in the sparsified graph, scale
    by 1/p³ — the published scale path for graphs whose exact
    enumeration (Σ deg² join fan-out) is too hot; variance falls as
    triangles concentrate, and the sparsified count costs p²-p³ of the
    exact join work.

    One row: ``(n_edges, n_edges_sampled, tri_sampled, tri_estimate)``.

    Engine discipline: "probability p" is a DETERMINISTIC
    content-addressed coin — keep canonical edge (a,b) iff
    ``md5hex32(seed:a:b) % 1000 < p_mille`` — so the sample, the
    count, and the estimate are pure functions of the edge set that
    DuckDB replays exactly (no RNG, no variance across runs; variance
    ACROSS SEEDS is the estimator's, pinned in pytest against the
    exact count). With the default p = 500/1000 the 1/p³ correction
    is exactly 8, keeping the estimate integer — pick p_mille values
    whose cube divides 1000³ to stay on integers."""
    if not (0 < p_mille <= 1000):
        raise ValueError("p_mille in (0, 1000] required")
    e = _edge_frame(edges, src_col, dst_col, ("a", "b"), dedup=True)
    canon = e.where(F.col("a") < F.col("b"))
    coin = F.pmod(
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(f"{seed}:"),
                        F.col("a").cast("string"),
                        F.lit(":"),
                        F.col("b").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long"),
        F.lit(1000),
    )
    sampled = canon.where(coin < F.lit(p_mille)).transform(iter_checkpoint)
    tri = _triangles(sampled).agg(
        F.count(F.lit(1)).cast("long").alias("tri_sampled")
    )
    counts = canon.agg(
        F.count(F.lit(1)).cast("long").alias("n_edges")
    ).crossJoin(
        sampled.agg(F.count(F.lit(1)).cast("long").alias("n_edges_sampled"))
    )
    scale = round((1000 / p_mille) ** 3)
    return counts.crossJoin(F.broadcast(tri)).select(
        "n_edges",
        "n_edges_sampled",
        "tri_sampled",
        (F.col("tri_sampled") * F.lit(int(scale))).cast("long").alias(
            "tri_estimate"
        ),
    )


def hyperanf(
    edges: DataFrame,
    rounds: int = 4,
    seed: int = 42,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """HyperANF neighborhood function (Boldi, Rosa & Vigna, WWW 2011):
    estimate N(t) = Σ_v |ball(v, t)| for t = 0..rounds by giving every
    node an HLL-ish sketch of its ball and propagating REGISTER-WISE
    MAX along edges each round — the tool that measured the Facebook
    graph's four degrees of separation, and here the distance-
    distribution profile of the kNN graph (how fast semantic
    neighborhoods saturate). Returns ``(t, n_est)`` per round.

    Spark shape: registers live RELATIONALLY as (node, pos, val) rows
    — m=16 rows per node — so one round is one edge join + one
    (node, pos) max-aggregate: pure integer ops, no arrays, no UDFs,
    and the sketch-union-is-max property that makes HyperANF work is
    literally a groupBy(max).

    Engine discipline: register init is md5-derived (idx = h % 16,
    val = 29 − len(bin(h >> 4)) — the h >> 4 = 0 corner folds to 28, one
    short of the true ρ, a deterministic convention shared by the
    oracle and the pytest model); the per-node estimate
    α₁₆·m²/Σ 2^(−val) uses 1.0/(1<<val) — powers of two are EXACT
    doubles, so the 16-term sum is order-independent — and per-node
    estimates round to 6 dp before the DECIMAL total. No ln-based
    small-range correction (ln is not ulp-portable; the gate pins the
    MECHANISM — accuracy bands belong to pytest, where the pure-Python
    model matches EXACTLY, not approximately)."""
    if rounds < 0:
        raise ValueError("rounds >= 0 required")
    m, alpha = 16, 0.673
    e = _edge_frame(edges, src_col, dst_col)
    nodes = _nodes(e)
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{seed}:"), F.col("node").cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    init = nodes.select(
        "node",
        F.pmod(h, F.lit(m)).cast("int").alias("__hpos"),
        (F.lit(29) - F.length(F.bin(F.shiftright(h, 4)))).cast("int").alias(
            "__hval"
        ),
    )
    # dense m rows per node: the hashed register carries ρ, the rest 0
    pos = nodes.sparkSession.range(m).select(F.col("id").cast("int").alias("pos"))
    state = (
        init.crossJoin(F.broadcast(pos))
        .select(
            "node",
            "pos",
            F.when(F.col("pos") == F.col("__hpos"), F.col("__hval"))
            .otherwise(F.lit(0))
            .cast("int")
            .alias("val"),
        )
        .transform(iter_checkpoint)
    )

    def estimate(st: DataFrame, t: int) -> DataFrame:
        per_node = st.groupBy("node").agg(
            F.sum(
                F.lit(1.0)
                # per-row shift: F.shiftleft only takes a literal count
                / F.expr("shiftleft(cast(1 as bigint), val)")
            ).alias("__z")
        )
        dec = "decimal(38,6)"
        return per_node.agg(
            # coalesce: N(t) of an empty graph is 0, not NULL
            F.coalesce(
                F.sum(
                    F.round(
                        F.lit(alpha) * F.lit(float(m * m)) / F.col("__z"), 6
                    ).cast(dec)
                ),
                F.lit(0).cast(dec),
            ).alias("__s")
        ).select(
            F.lit(t).cast("int").alias("t"),
            F.round(F.col("__s").cast("double"), 2).alias("n_est"),
        )

    out = estimate(state, 0)
    for t in range(1, rounds + 1):
        nbr = (
            e.join(state.withColumnRenamed("node", "src"), "src")
            .select(F.col("dst").alias("node"), "pos", "val")
            .unionByName(state)
        )
        state = (
            nbr.groupBy("node", "pos")
            .agg(F.max("val").cast("int").alias("val"))
            .transform(iter_checkpoint)
        )
        out = out.unionByName(estimate(state, t))
    return out
