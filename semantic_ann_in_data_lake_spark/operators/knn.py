"""kNN similarity join — the reference's core operator (J6/V7-V9).

The reference does exact flat-L2 kNN with FAISS
(``SemLink/join_discoverer.py:273-299``) and approximate kNN with an
HNSW index (``DeepJoin/annIndex.py:6-40``). Spark has no mutable ANN
index object; instead one logical operator —
``knn_join(queries, candidates, k)`` — dispatches on ``strategy`` to
thirteen physical strategies (SURVEY §4.2), and ``strategy="auto"``
picks broadcast, pq, ivf or graph from measured sizes:

- exact: ``exact`` (crossJoin + declarative L2 fold + ranking window,
  or the bit-identical pairscore superset kernel when the matrices
  are admitted — the DuckDB oracle checks it hash-for-hash) and
  ``broadcast`` (the candidate matrix rides a broadcast variable and a
  BLAS top-k runs per query partition — the FAISS ``IndexFlatL2``
  role; its Gram-form sum order can differ from the fold by ~1 ulp, so
  a distance on a rounding boundary could round differently);
- partitioned approximate: ``lsh`` (p-stable bucket LSH with
  per-bucket BLAS rescoring) and ``ivf`` (coarse k-means cells,
  nprobe-cell query probes, exact per-cell scoring);
- compressed (``operators/pq.py``): ``pq`` (broadcast ADC over
  product-quantization codes), ``ivf_pq`` (ADC inside IVF cells) and
  their exact re-rank forms ``pq_refine`` and ``ivf_pq_refine``;
- projected (``operators/embedproj.py``): ``pca_refine``,
  ``opq_refine`` and ``nndescent_refine``;
- graph: ``nndescent`` (self kNN graph, ``operators/nndescent.py``)
  and ``graph`` (beam search over a candidate graph,
  ``operators/graphsearch.py`` — the hnswlib ``knn_query`` role).

Every numpy kNN kernel — broadcast, LSH buckets, IVF cells (and so the
standing index), PQ/ADC and IVF-PQ cells, and the exact superset and
near-dup kernels in ``operators/pairscore.py`` and
``operators/dedup.py`` — shares one scoring core kept in this module:
:func:`_prep` (the input projection, which drops NULL ids and NULL
vectors), :func:`_vectors` (the one float64 batch reader),
:func:`_by_id` (the candidate id order that breaks ties),
:func:`_mask_self` (every candidate whose id equals the query id),
:func:`_topk_rows` (the rounded, tie-broken top-k selection over a
distance key) and :func:`_spread` (the query-side repartition).

Every tier that re-scores (query, candidate) pairs on the raw vectors
— the five refine tiers, NN-descent's declarative path, graph search —
verifies through :func:`_rescore_pairs`, and every declarative
per-query top-k is :func:`_ranked_topk`.

The IVF and PQ tiers share one quantizer core kept in this module:
:func:`_sq_l2` (Gram-form squared L2), :func:`_id_sorted_sample`,
:func:`_lloyd` and :func:`_nearest`.
The standing index (``operators/ivf_index.py``) searches through the
IVF tier's query path, :func:`_ivf_scored`, and every declarative
nearest-centroid assignment (the index's build, refresh and violation
check, ``operators/prototypes.py``, the IVF recall gates) goes through
:func:`_nearest_cells_declarative`.

Distances are SQUARED L2 internally, exactly like FAISS ``IndexFlatL2``
(the reference thresholds ``dist**0.5 <= tau``,
``join_discoverer.py:318``); ties in top-k rank break by candidate id
ascending (FAISS breaks by insertion index — SURVEY §7.4.5), and
distances are rounded to ``round_dp`` *before* ranking so the ordering
is reproducible cross-engine.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from semantic_ann_in_data_lake_spark.functions.vectors import l2_sq

DEFAULT_ROUND_DP = 6

#: per-worker-process cache of the dequantized int8 broadcast index,
#: keyed by broadcast file path (stable across tasks in a reused python
#: worker) — see _knn_broadcast's topk closure. At most one entry.
_DEQUANT_CACHE: dict = {}


def _broadcast_byte_budget() -> int:
    """Hard cap on the broadcast candidate-matrix size (bytes).

    Tunable per deployment via ``SPARK_GRAFT_KNN_BCAST_BUDGET_MB``; the
    512 MiB default leaves a multi-GiB executor comfortable (the
    broadcast lives once per executor, plus one dequantized float64
    rebuild per python worker process for int8 payloads)."""
    import os

    return int(os.environ.get("SPARK_GRAFT_KNN_BCAST_BUDGET_MB", "512")) << 20


def _pair_budget() -> float:
    """Compute ceiling on brute-force scored pairs (|Q|·|C|, or the
    equivalent pair work of a quadratic kernel). Tunable via
    ``SPARK_GRAFT_KNN_PAIR_BUDGET``; the 1e10 default is minutes of
    BLAS on one box, amortized across executors."""
    import os

    return float(os.environ.get("SPARK_GRAFT_KNN_PAIR_BUDGET", "1e10"))


def _estimate_rows(df: DataFrame) -> int | None:
    """Row count from parquet footers when ``df`` is an unfiltered
    file scan — zero Spark jobs (footer metadata only); None when the
    plan is anything richer (a filter would make footer counts an
    OVER-estimate, which could wrongly pick the ivf tier — fine — or
    keep broadcast on a smaller-than-estimated side — also fine — but
    we stay conservative and fall back to count())."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        if plan.getClass().getSimpleName() not in (
            "LogicalRelation",
            "LogicalRelationWithTable",
        ):
            return None
        files = df.inputFiles()
        if not files or not all(f.endswith(".parquet") for f in files):
            return None
        import pyarrow.parquet as pq

        total = 0
        for f in files:
            total += pq.ParquetFile(
                f.removeprefix("file://").removeprefix("file:")
            ).metadata.num_rows
        return total
    except Exception:
        return None


def _row_count(df: DataFrame) -> int:
    """Rows in ``df``: the parquet-footer estimate when it is free, else
    one ``count()``."""
    n = _estimate_rows(df)
    return df.count() if n is None else n


def _vec_dim(df: DataFrame, vec_col: str) -> int:
    """Length of the first vector in ``df`` (one ``head(1)`` job); 0 when
    the frame is empty or that vector is NULL."""
    first = df.select(vec_col).head(1)
    return len(first[0][0]) if first and first[0][0] is not None else 0


def _over_budget(
    n_rows: int, row_bytes: int, n_pairs: float = 0, byte_share: float = 1.0
) -> str | None:
    """The size check behind every broadcast decision: ``None`` when
    ``n_rows`` rows of ``row_bytes`` each fit ``byte_share`` of the
    broadcast byte budget and ``n_pairs`` scored pairs fit the pair
    budget, else the reason, naming the budget and the measured sizes."""
    reasons = []
    byte_budget = int(_broadcast_byte_budget() * byte_share)
    if n_rows * row_bytes > byte_budget:
        reasons.append(
            f"{n_rows} rows x {row_bytes} B = {n_rows * row_bytes} B exceed "
            f"the {byte_budget} B broadcast budget "
            "(SPARK_GRAFT_KNN_BCAST_BUDGET_MB)"
        )
    pair_budget = _pair_budget()
    if n_pairs > pair_budget:
        reasons.append(
            f"{n_pairs:.3g} pairs exceed the {pair_budget:.3g} pair budget "
            "(SPARK_GRAFT_KNN_PAIR_BUDGET)"
        )
    return "; ".join(reasons) or None


#: strategies that score squared L2 only
_L2_ONLY = frozenset({
    "pq", "pq_refine", "ivf_pq", "ivf_pq_refine", "opq_refine",
    "pca_refine", "nndescent", "nndescent_refine", "graph",
})
#: strategies that build a self kNN graph over one corpus
_SELF_ONLY = frozenset({"nndescent", "nndescent_refine"})


def _check_metric(metric: str) -> None:
    """Reject a metric no tier computes: a typo would otherwise fall
    through to whichever branch a tier takes for "not l2_sq"."""
    if metric not in ("l2_sq", "cosine"):
        raise ValueError(f"unknown metric {metric!r}; use 'l2_sq' or 'cosine'")


def _prep(df: DataFrame, id_col: str, vec_col: str, side: str) -> DataFrame:
    """The one input projection of every kNN tier: ``({side}_id,
    {side}_vec array<double>)``, without the rows whose id or vector is
    NULL — such a row has no distance to rank."""
    sid, svec = f"{side}_id", f"{side}_vec"
    return df.select(
        F.col(id_col).alias(sid),
        F.col(vec_col).cast("array<double>").alias(svec),
    ).where(F.col(sid).isNotNull() & F.col(svec).isNotNull())


def _integral_ids(*frames: DataFrame) -> bool:
    """Whether the id column (the first column of a ``_prep``-ed frame)
    of every frame is integral. Reads the schema only: no Spark job."""
    from pyspark.sql.types import IntegralType

    return all(isinstance(df.schema[0].dataType, IntegralType) for df in frames)


def _require_integral_ids(*frames: DataFrame) -> None:
    """The numpy tiers score ids as int64: reject any other id type
    before a probe or a worker meets it."""
    if not _integral_ids(*frames):
        raise ValueError(
            "this kNN path scores ids as int64 and needs integral query "
            "and candidate ids; knn_join(strategy='exact') answers other "
            "id types"
        )


def _empty_topk(spark) -> DataFrame:
    """The standard ``knn_join`` result with no rows."""
    return spark.createDataFrame(
        [], "query_id long, cand_id long, distance double, rank int"
    )


def derive_nlist(
    candidates: DataFrame | None = None,
    floor: int = 16,
    cap: int = 4096,
    known_n: int | None = None,
) -> int:
    """Scale-aware IVF cell count: nlist ≈ √n keeps the per-cell
    candidate population ≈ √n, so probe work |Q|·nprobe·(n/nlist)
    grows as n^1.5 overall but each cell stays worker-sized as the
    corpus grows 100× — a fixed nlist instead re-approaches |Q|·|C|
    per cell (the sf1 7.4× outlier in SCALING_sf1.json).
    ``known_n`` (a count the caller already paid for — the auto
    dispatcher, the PQ degrade path) skips the probe entirely; else
    :func:`_row_count`. Capped so the centroid broadcast stays small.
    The floor/cap/√n policy lives ONLY here — every tier derives
    through this helper."""
    if candidates is None and known_n is None:
        raise ValueError("derive_nlist needs candidates or known_n")
    n = _row_count(candidates) if known_n is None else known_n
    return int(min(cap, max(floor, round(n ** 0.5))))


def knn_join(
    queries: DataFrame,
    candidates: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    metric: str = "l2_sq",
    strategy: str = "exact",
    exclude_self: bool = True,
    round_dp: int = DEFAULT_ROUND_DP,
    compress: str | None = None,
    ivf_fit: str = "sample",
    max_bucket_size: int | None = None,
    nlist: int | None = None,
    nprobe: int = 4,
    refine_factor: int = 4,
    iters: int = 3,
    seed: int = 42,
    reverse_cap: int | None = None,
    min_update_frac: float | None = None,
    beam: int = 8,
    hops: int = 3,
    graph: DataFrame | None = None,
) -> DataFrame:
    """Top-k nearest candidates per query.

    Returns ``(query_id, cand_id, distance, rank)`` with ``rank`` in
    1..k ordered by (distance asc, cand_id asc) for ``l2_sq`` and
    (similarity desc, cand_id asc) for ``cosine`` (where ``distance``
    holds the similarity). Rows whose id or vector is NULL take no
    part. A duplicated query id is ranked once per query row by
    ``strategy="broadcast"`` (and the ``auto`` rung that runs it), and
    once per id by the tiers that rank in Spark.

    ``strategy="nndescent"`` routes self-join graph builds to the
    index-free graph-ANN tier (`operators/nndescent.py`), same return
    contract; ``iters``/``seed``/``reverse_cap``/``min_update_frac``
    are its descent knobs (ignored by every other strategy) and
    ``compress`` is rejected — descent scores raw vectors only.

    ``strategy="graph"`` answers OUT-OF-CORPUS queries (a different
    frame than ``candidates``) by bounded-hop beam search over the
    candidates' NN-descent graph (`operators/graphsearch.py` — the
    hnswlib ``knn_query`` analogue); ``beam``/``hops`` are its search
    knobs and ``graph=`` accepts a prebuilt/persisted edge list so the
    build amortizes across query batches. ``strategy="auto"`` with a
    ``graph=`` supplied (and a distinct query frame, l2_sq, no
    compress) dispatches straight here — a persisted index beats every
    build-from-scratch rung and needs no size probes.

    ``compress="int8"`` (broadcast and ivf strategies): ship the
    candidate matrix as the symmetric-int8 index
    (:func:`quantize_embeddings`) — 8× smaller broadcast (broadcast
    strategy) or 8× smaller cell shuffle + cache-resident cells (ivf).
    Workers dequantize (qvec·scale) and score as usual; distances are
    then approximate (quantization error ~scale/2 per lane), so results
    are near- but not hash-exact. Any other explicit strategy raises
    ``ValueError`` when given ``compress``, as does a ``metric`` other
    than ``l2_sq``/``cosine``.
    """
    _check_metric(metric)
    if compress is not None and strategy not in ("auto", "broadcast", "ivf"):
        raise ValueError(
            f"strategy={strategy!r} never uses compress; only 'broadcast', "
            "'ivf' and 'auto' take it"
        )
    if metric != "l2_sq" and strategy in _L2_ONLY:
        raise ValueError(f"strategy={strategy!r} supports metric='l2_sq' only")
    if strategy in _SELF_ONLY and queries is not candidates:
        raise ValueError(
            f"strategy={strategy!r} builds a self kNN graph: pass the same "
            "DataFrame object as queries and candidates"
        )
    if strategy in _SELF_ONLY and not exclude_self:
        raise ValueError(f"strategy={strategy!r} always excludes self pairs")
    if strategy == "graph" and queries is candidates:
        raise ValueError(
            "strategy='graph' answers OUT-OF-CORPUS queries; for a "
            "self kNN graph use strategy='nndescent'"
        )
    known_n_cand = known_n_query = None
    if (
        strategy == "auto"
        and graph is not None
        and queries is not candidates
        and metric == "l2_sq"
        and compress is None
    ):
        # the caller handed a prebuilt/persisted candidate graph for an
        # out-of-corpus query batch: beam search over it beats every
        # build-from-scratch rung (O(entry_sample + hops·beam·k) scored
        # pairs per query, no corpus broadcast, no re-index) — and it
        # needs none of the row-count/dim probes below, so dispatch
        # before paying them
        strategy = "graph"
    if strategy == "auto" and not _integral_ids(
        _prep(queries, id_col, vec_col, "query"),
        _prep(candidates, id_col, vec_col, "cand"),
    ):
        # every rung below scores ids as int64; only exact answers
        # string (or other non-integral) ids
        strategy = "exact"
    if strategy == "auto":
        # SURVEY §4.2's optional dispatch: broadcast the candidate index
        # when it fits comfortably in executor memory, else fall back to
        # the partitioned IVF path (both-sides-huge). Cost of the probe:
        # one _row_count per side plus one head() for dim.
        #
        # TWO ceilings, not one: memory (the candidate matrix must fit
        # an executor) AND compute (brute-force scoring is |Q|·|C| —
        # 4M dim-8 vectors fit a 256 MiB broadcast yet cost 1.6e13 pair
        # ops; the sf1 curve measured the quadratic tier at ~n²
        # wall-clock, SCALING_sf1.json). Past the pair budget auto
        # prefers the sub-quadratic IVF path even when memory would
        # allow broadcast. Auto's rungs get half the broadcast budget:
        # it broadcasts without being asked to, so it keeps headroom.
        n_cand = _row_count(candidates)
        n_query = n_cand if queries is candidates else _row_count(queries)
        dim = _vec_dim(candidates, vec_col)
        n_pairs = n_query * n_cand
        if _over_budget(n_cand, dim * 8, n_pairs, byte_share=0.5) is None:
            # pass the probe results down so _knn_broadcast does not
            # re-measure them
            return _knn_broadcast(
                queries, candidates, id_col, vec_col, k, metric,
                exclude_self, round_dp, compress,
                known_n_cand=n_cand, known_dim=dim,
            )
        # middle rung of the ladder: compute fits but the float64
        # matrix doesn't — the PQ index is 8·dim/m× smaller (32× at
        # defaults), so the same pair budget often still broadcasts.
        # ADC distances are approximate; past BOTH budgets → IVF.
        # call-time import: pq imports from this module at its top
        from semantic_ann_in_data_lake_spark.operators.pq import derive_m

        pq_row_bytes = derive_m(dim) + 16  # m codes + id/overhead
        fits_pq = _over_budget(n_cand, pq_row_bytes, n_pairs, byte_share=0.5) is None
        strategy = "pq" if metric == "l2_sq" and fits_pq else "ivf"
        # pass the dispatcher's measurements down so neither knn_pq's
        # budget guard nor derive_nlist re-counts the lineage
        known_n_cand, known_n_query = n_cand, n_query
    if strategy == "exact":
        return _knn_exact(
            queries, candidates, id_col, vec_col, k, metric, exclude_self, round_dp
        )
    if strategy == "broadcast":
        return _knn_broadcast(
            queries, candidates, id_col, vec_col, k, metric, exclude_self,
            round_dp, compress,
        )
    if strategy == "lsh":
        if metric == "cosine":
            # cosine top-k == L2 top-k on unit vectors (L2² = 2 - 2cos);
            # normalization happens inside the LSH numpy stage (no extra
            # plan nodes, no interpreted HOF norm), then the similarity
            # is recovered as 1 - L2²/2.
            res = _knn_lsh(
                queries, candidates, id_col, vec_col, k, exclude_self,
                round_dp, normalize=True, max_bucket_size=max_bucket_size,
            )
            return res.select(
                "query_id",
                "cand_id",
                F.round(F.lit(1.0) - F.col("distance") / 2, round_dp).alias(
                    "distance"
                ),
                "rank",
            )
        return _knn_lsh(
            queries, candidates, id_col, vec_col, k, exclude_self, round_dp,
            max_bucket_size=max_bucket_size,
        )
    if strategy == "ivf":
        return _knn_ivf(
            queries, candidates, id_col, vec_col, k, metric, exclude_self, round_dp,
            nlist=nlist, nprobe=nprobe, fit=ivf_fit, compress=compress,
            known_n_cand=known_n_cand,
        )
    if strategy == "pq":
        # product-quantization / ADC tier (operators/pq.py): m uint8
        # codes per vector in the broadcast instead of dim float64 —
        # the memory end-game past int8 (ADC estimates squared L2).
        from semantic_ann_in_data_lake_spark.operators.pq import knn_pq

        return knn_pq(
            queries, candidates, id_col, vec_col, k=k,
            exclude_self=exclude_self, round_dp=round_dp,
            known_n_cand=known_n_cand, known_n_query=known_n_query,
        )
    if strategy == "pq_refine":
        # broadcast-ADC shortlist + exact re-rank (the refine stage of
        # the IVF-PQ variant applied to the broadcast tier)
        from semantic_ann_in_data_lake_spark.operators.pq import (
            knn_pq_refine,
        )

        return knn_pq_refine(
            queries, candidates, id_col, vec_col, k=k,
            refine_factor=refine_factor,
            exclude_self=exclude_self, round_dp=round_dp,
        )
    if strategy in ("ivf_pq", "ivf_pq_refine"):
        # both-sides-huge compressed tier (operators/pq.py): IVF cell
        # shuffle carrying m uint8 codes; "_refine" re-scores an ADC
        # shortlist of k·refine_factor exactly on the raw vectors
        # (FAISS IndexRefineFlat shape) — exact distances, better
        # recall, still sub-quadratic.
        from semantic_ann_in_data_lake_spark.operators.pq import (
            knn_ivf_pq,
            knn_ivf_pq_refine,
        )

        fn = knn_ivf_pq_refine if strategy == "ivf_pq_refine" else knn_ivf_pq
        extra = (
            {"refine_factor": refine_factor}
            if strategy == "ivf_pq_refine"
            else {}
        )
        return fn(
            queries, candidates, id_col, vec_col, k=k,
            nlist=nlist, nprobe=nprobe,
            exclude_self=exclude_self, round_dp=round_dp, **extra,
        )
    if strategy == "opq_refine":
        # OPQ shape (operators/embedproj.py): energy-interleaved
        # full-rank rotation, IVF-PQ shortlist on rotated vectors,
        # exact re-rank on raw. Exact distances.
        from semantic_ann_in_data_lake_spark.operators.embedproj import (
            knn_opq_refine,
        )

        return knn_opq_refine(
            queries, candidates, id_col, vec_col, k=k,
            refine_factor=refine_factor, nlist=nlist, nprobe=nprobe,
            exclude_self=exclude_self, round_dp=round_dp,
        )
    if strategy == "pca_refine":
        # rotate→compress→refine (operators/embedproj.py): IVF
        # shortlist in the top-m principal subspace (m-dim fold cost),
        # exact re-rank on raw vectors — FAISS PCAMatrix +
        # IndexRefineFlat shape. Exact distances.
        from semantic_ann_in_data_lake_spark.operators.embedproj import (
            knn_pca_refine,
        )

        return knn_pca_refine(
            queries, candidates, id_col, vec_col, k=k,
            refine_factor=refine_factor, nlist=nlist, nprobe=nprobe,
            exclude_self=exclude_self, round_dp=round_dp,
        )
    if strategy == "nndescent_refine":
        # graph-ANN in the top-m principal subspace, exact re-rank on
        # raw (operators/embedproj.py) — self-join, plain nndescent's
        # guards plus the refine knob
        from semantic_ann_in_data_lake_spark.operators.embedproj import (
            knn_nndescent_refine,
        )

        return knn_nndescent_refine(
            candidates, id_col=id_col, vec_col=vec_col, k=k,
            refine_factor=refine_factor, iters=iters, seed=seed,
            reverse_cap=reverse_cap, round_dp=round_dp,
            min_update_frac=min_update_frac,
        )
    if strategy == "nndescent":
        # graph-ANN tier (operators/nndescent.py): index-free iterated
        # co-neighbor refinement — a SELF-join construction (the graph
        # is over one corpus), exact distances.
        from semantic_ann_in_data_lake_spark.operators.nndescent import (
            nndescent_knn_graph,
        )

        return nndescent_knn_graph(
            candidates, k=k, iters=iters, seed=seed, id_col=id_col,
            vec_col=vec_col, reverse_cap=reverse_cap,
            round_dp=round_dp, min_update_frac=min_update_frac,
        )
    if strategy == "graph":
        # graph-index QUERY tier (operators/graphsearch.py): build the
        # NN-descent graph over the candidates, answer the (DIFFERENT)
        # query frame by bounded-hop beam search — the hnswlib
        # knn_query analogue (`DeepJoin/annIndex.py:21-40`). Pass a
        # prebuilt/persisted edge list via ``graph=`` to amortize the
        # build across query batches. Self-join calls should use
        # strategy='nndescent': the graph IS the self answer.
        from semantic_ann_in_data_lake_spark.operators.graphsearch import (
            graph_search,
        )
        from semantic_ann_in_data_lake_spark.operators.nndescent import (
            nndescent_knn_graph,
        )

        g = graph
        if g is None:
            g = nndescent_knn_graph(
                candidates, k=k, iters=iters, seed=seed, id_col=id_col,
                vec_col=vec_col, reverse_cap=reverse_cap,
                round_dp=round_dp, min_update_frac=min_update_frac,
            )
        return graph_search(
            queries, candidates, g, k=k, beam=beam, hops=hops,
            id_col=id_col, vec_col=vec_col, seed=seed, round_dp=round_dp,
        )
    raise ValueError(f"unknown strategy {strategy!r}")


def _ranked_topk(scored: DataFrame, k: int, metric: str) -> DataFrame:
    """The one per-query top-k: ``scored`` ``(query_id, cand_id,
    distance)`` rows ranked by (distance asc, cand_id asc) for ``l2_sq``
    and (distance desc, cand_id asc) for ``cosine``; returns the first
    ``k`` as ``(query_id, cand_id, distance, rank)``."""
    order = (
        [F.col("distance").asc(), F.col("cand_id").asc()]
        if metric == "l2_sq"
        else [F.col("distance").desc(), F.col("cand_id").asc()]
    )
    w = Window.partitionBy("query_id").orderBy(*order)
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "cand_id", "distance", "rank")
    )


def _rescore_pairs(
    pairs: DataFrame,
    queries: DataFrame,
    candidates: DataFrame,
    id_col: str,
    vec_col: str,
    round_dp: int,
) -> DataFrame:
    """The one exact re-score of ``(query_id, cand_id)`` pairs: fetch
    both raw vectors by two inner joins (a pair whose id is absent on
    either side drops out) and return ``(query_id, cand_id,
    distance)`` with ``distance = round(l2_sq, round_dp)`` — the
    verify step of every shortlist-then-refine tier, NN-descent's
    candidate scoring and graph search's hops. The declarative twin of
    ``pairscore.exact_l2_pair_scorer``."""
    return (
        pairs.select("query_id", "cand_id")
        .join(_prep(queries, id_col, vec_col, "query"), "query_id")
        .join(_prep(candidates, id_col, vec_col, "cand"), "cand_id")
        .select(
            "query_id",
            "cand_id",
            F.round(l2_sq("query_vec", "cand_vec"), round_dp).alias("distance"),
        )
    )


def _knn_exact(
    queries, candidates, id_col, vec_col, k, metric, exclude_self, round_dp
) -> DataFrame:
    # When the vector matrices are admitted for broadcast, the |Q|·|C|
    # crossJoin + interpreted fold is replaced by the pairscore superset
    # kernel: bit-identical unrounded distances, emitted only for a
    # provable superset of the rounded top-k. The same JVM round +
    # window then picks the final rows, so the output is identical.
    # When the admission gate declines, the declarative path below is
    # the reference. l2_sq only; cosine keeps its declarative shape.
    if metric == "l2_sq":
        from semantic_ann_in_data_lake_spark.operators.pairscore import (
            exact_l2_topk_superset,
        )

        sup = exact_l2_topk_superset(
            queries, candidates, id_col, vec_col, k, exclude_self, round_dp
        )
        if sup is not None:
            scored = sup.select(
                "query_id",
                "cand_id",
                F.round(F.col("d"), round_dp).alias("distance"),
            )
            return _ranked_topk(scored, k, metric)

    q = _prep(queries, id_col, vec_col, "query")
    c = _prep(candidates, id_col, vec_col, "cand")
    if metric == "cosine":
        # norms are per-ROW quantities: compute them once per side
        # before the join instead of re-folding both arrays per PAIR
        # (3× fewer array folds; same expression tree → bit-identical
        # values, oracle-safe). The norm fold matches functions.vectors.norm.
        from semantic_ann_in_data_lake_spark.functions.vectors import norm

        q = q.withColumn("query_norm", norm("query_vec"))
        c = c.withColumn("cand_norm", norm("cand_vec"))
    pairs = q.crossJoin(F.broadcast(c))
    if exclude_self:
        pairs = pairs.where(F.col("query_id") != F.col("cand_id"))
    if metric == "l2_sq":
        dist = l2_sq("query_vec", "cand_vec")
    else:
        from semantic_ann_in_data_lake_spark.functions.vectors import dot

        dist = dot("query_vec", "cand_vec") / (
            (F.col("query_norm") * F.col("cand_norm")) + F.lit(1e-12)
        )
    scored = pairs.select(
        "query_id", "cand_id", F.round(dist, round_dp).alias("distance")
    )
    return _ranked_topk(scored, k, metric)


def _topk_mask(key, k, round_dp):
    """Boolean mask of a per-row SUPERSET of the rounded top-k of
    ``key`` (smaller is better; +inf marks excluded cells).

    Any cell in the final top-k by ``round(key, round_dp)`` satisfies
    round(key) ≤ round(kth), hence key < kth + one rounding quantum,
    where kth is the row's k-th smallest unrounded key. The margin is
    that quantum plus 1% slack for the float error of the rounding.
    Ties at the boundary only ADD cells; the caller's exact round +
    tie-break decides. ``isfinite`` keeps excluded cells out when a
    row has ≤ k finite keys (kth is then +inf)."""
    import numpy as np

    kk = min(k, key.shape[1])
    kth = np.partition(key, kk - 1, axis=1)[:, kk - 1]
    margin = 1.01 / 10**round_dp
    with np.errstate(invalid="ignore"):
        return (key <= kth[:, None] + margin) & np.isfinite(key)


def _mask_self(key, qids, cids):
    """Set to +inf, in place, every cell of ``key`` whose candidate id
    equals its query id: the one self-pair rule of the numpy kernels.
    Every copy of a duplicated id is masked."""
    import numpy as np

    key[qids[:, None] == cids[None, :]] = np.inf


def _topk_rows(qids, key, cids, k, round_dp, exclude_self, with_rank=False):
    """The one numpy top-k selection: per row of ``key`` (smaller is
    better, +inf marks excluded cells; masked in place when
    ``exclude_self``) the ``k`` best cells by (round(key, round_dp),
    candidate order), as a frame ``(query_id, cand_id, distance[,
    rank])`` with ``distance`` the rounded key.

    ``cids`` MUST be in id order (:func:`_by_id`): cells then ascend in
    candidate id within a row, so a stable sort on the rounded key
    reproduces the declarative (distance, cand_id) tie-break. Only the
    top-k superset (:func:`_topk_mask`) is rounded and sorted; rounding
    the full matrix costs more than the matmul."""
    import numpy as np
    import pandas as pd

    if exclude_self:
        _mask_self(key, qids, cids)
    r, c = np.nonzero(_topk_mask(key, k, round_dp))
    kv = np.round(key[r, c], round_dp)
    # np.nonzero is row-major, so lexsort's stability keeps cells of an
    # equal rounded key in candidate order
    order = np.lexsort((kv, r))
    r, c, kv = r[order], c[order], kv[order]
    rank = np.arange(len(r)) - np.searchsorted(r, r) + 1
    keep = rank <= k
    out = pd.DataFrame(
        {"query_id": qids[r[keep]], "cand_id": cids[c[keep]], "distance": kv[keep]}
    )
    if with_rank:
        out["rank"] = rank[keep]
    return out


def _np_topk_rows(qids, qmat, cids, cmat, k, metric, exclude_self, round_dp,
                  with_rank=False):
    """BLAS distances (squared L2 clamped at 0, or cosine similarity)
    from every query to every candidate, then :func:`_topk_rows`. The
    key is the negated similarity for cosine, and np.round is symmetric,
    so negating the rounded key gives the rounded similarity."""
    import numpy as np

    if metric == "l2_sq":
        return _topk_rows(
            qids, np.maximum(_sq_l2(qmat, cmat), 0.0), cids, k, round_dp,
            exclude_self, with_rank,
        )
    qn = np.sqrt((qmat * qmat).sum(axis=1))
    cn = np.sqrt((cmat * cmat).sum(axis=1))
    sim = (qmat @ cmat.T) / (qn[:, None] * cn[None, :] + 1e-12)
    out = _topk_rows(
        qids, -sim, cids, k, round_dp, exclude_self, with_rank
    )
    out["distance"] = -out["distance"]
    return out


def _by_id(ids, *arrays):
    """``ids`` and the arrays aligned with them, sorted by id, stably:
    the candidate order every numpy top-k breaks its ties by."""
    import numpy as np

    order = np.argsort(ids, kind="stable")
    return (ids[order],) + tuple(a[order] for a in arrays)


def _spread(df: DataFrame) -> DataFrame:
    """``df`` repartitioned to the default parallelism when it has fewer
    partitions: a single-file source arrives as ONE partition, which
    would run a whole numpy kernel on one task (narrow rows, one extra
    shuffle — negligible next to the scoring)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(target) if df.rdd.getNumPartitions() < target else df


def _knn_broadcast(
    queries, candidates, id_col, vec_col, k, metric, exclude_self, round_dp,
    compress=None, known_n_cand=None, known_dim=None,
) -> DataFrame:
    """Strategy (b): the candidate matrix rides a broadcast variable; each
    query partition computes a BLAS distance matrix + argpartition top-k.

    Mirrors the role of the reference's in-process FAISS index
    (``join_discoverer.py:276-287``) with exact semantics up to BLAS
    summation order (see the module docstring's rounding-boundary
    caveat; ``compress="int8"`` trades near-exactness for an 8× smaller
    broadcast — see :func:`knn_join`).

    Memory guard: the candidate matrix must fit in driver AND executor
    memory, so a matrix over the broadcast byte budget
    (``SPARK_GRAFT_KNN_BCAST_BUDGET_MB``, default 512) degrades to the
    probe-all IVF path (same exact semantics, partitioned shuffle
    instead of a broadcast) with a warning.
    """
    import numpy as np

    q = _prep(queries, id_col, vec_col, "query")
    c = _prep(candidates, id_col, vec_col, "cand")
    _require_integral_ids(q, c)
    spark = queries.sparkSession
    dim = _vec_dim(candidates, vec_col) if known_dim is None else known_dim
    n_cand = _row_count(candidates) if known_n_cand is None else known_n_cand
    row_bytes = dim * (1 if compress == "int8" else 8) + 16
    reason = _over_budget(n_cand, row_bytes)
    if reason is not None:
        import warnings

        # probe-all sends every query to all nlist cells, so nlist stays
        # near the floor (4 cells per budget's worth of bytes) instead
        # of derive_nlist's √n
        overshoot = n_cand * row_bytes / max(_broadcast_byte_budget(), 1)
        nlist = int(min(4096, max(16, 4 * overshoot)))
        warnings.warn(
            f"knn_join(strategy='broadcast'): {reason}; degrading to the "
            f"exact probe-all IVF path (nlist={nlist}).",
            stacklevel=3,
        )
        return _knn_ivf(
            queries, candidates, id_col, vec_col, k, metric, exclude_self,
            round_dp, nlist=nlist, nprobe=nlist, fit="sample",
            compress=compress,
        )
    if compress == "int8":
        qrows = quantize_embeddings(c, "cand_id", "cand_vec").toPandas()
        # The payload crosses the wire as int8 (+1 double/row, 8×
        # narrower); workers rebuild float64 once per PROCESS via
        # _DEQUANT_CACHE (keyed by broadcast path), not once per task —
        # measured on sf0.1 embeddings: repeat int8 broadcast query
        # 6.1 s cold → 1.5 s with reused workers + cached rebuild.
        cand_ids, qmat_i8, scales = _by_id(
            qrows["vec_id"].to_numpy(dtype=np.int64),
            np.asarray(list(qrows["qvec"]), dtype=np.int8),
            qrows["scale"].to_numpy(dtype=np.float64),
        )
        payload = (qmat_i8, scales)
    elif compress is None:
        cand_rows = c.toPandas()
        cand_ids, payload = _by_id(
            cand_rows["cand_id"].to_numpy(dtype=np.int64), _vectors(cand_rows)
        )
    else:
        raise ValueError(f"unknown compress {compress!r}")
    bc = spark.sparkContext.broadcast((cand_ids, payload, compress))
    q = _spread(q)
    out_schema = "query_id long, cand_id long, distance double, rank int"

    def topk(batches: Iterator) -> Iterator:
        import pandas as pd

        ids, data, comp = bc.value
        if comp == "int8":
            # Dequantize ONCE PER WORKER PROCESS, not per task: python
            # workers are reused across tasks (spark.python.worker.reuse)
            # and the broadcast file path is a stable per-broadcast key,
            # so the rebuilt float64 matrix is cached module-side. The
            # cache holds a single entry — a worker scores one index at
            # a time; a new broadcast evicts the previous rebuild.
            # No id(bc) fallback: id() values are recycled after GC, so
            # a reused worker could serve a stale matrix belonging to a
            # DIFFERENT broadcast index — if there is no stable _path,
            # skip the cache and dequantize per task instead.
            key = getattr(bc, "_path", None)
            mat = _DEQUANT_CACHE.get(key)
            if mat is None:
                # row views of the int8 matrix: the reader copies once
                qi8, sc = data
                mat = _vectors(pd.DataFrame({"scale": sc, "qvec": list(qi8)}))
                if key is not None:
                    _DEQUANT_CACHE.clear()
                    _DEQUANT_CACHE[key] = mat
        else:
            mat = data
        for pdf in batches:
            if len(pdf) == 0:
                continue
            yield _np_topk_rows(
                pdf["query_id"].to_numpy(dtype=np.int64),
                _vectors(pdf, "query_vec"), ids, mat, k, metric,
                exclude_self, round_dp, with_rank=True,
            )

    return q.mapInPandas(topk, schema=out_schema)


def _knn_lsh(
    queries, candidates, id_col, vec_col, k, exclude_self, round_dp,
    num_hash_tables: int = 4, bucket_length: float = 1.0, seed: int = 42,
    normalize: bool = False, max_bucket_size: int | None = None,
) -> DataFrame:
    """Strategy (c): random-projection bucket LSH (scalar-quantized
    p-stable LSH — the same hash family as Spark ML's
    ``BucketedRandomProjectionLSH``), re-expressed as explicit
    DataFrame stages so scoring stays BLAS-side.

    HNSW's (M, ef_construction) knobs (``annIndex.py:12-18``) map onto
    (num_hash_tables, bucket_length). Per table t: bucket =
    floor(v·g_t / bucket_length) with g_t seeded gaussian. Each side is
    bucketed in ONE vectorized pass; each (table, bucket) cogroup
    computes exact BLAS distances + a local top-k; cross-table
    duplicate pairs (identical exact distance) collapse in a
    dropDuplicates over ≤ num_hash_tables·k rows/query before the
    global merge. Neighbors that collide in no table are unfindable —
    recall < 1 by design, judged by the P/R/NDCG harness.

    vs Spark ML's ``approxSimilarityJoin`` (radius-cut + per-pair UDF
    distance + key-distinct on the full collision set): measured 9.6 s
    → ~2 s at sf0.1, and no finite-radius blind spot. Scale notes: the
    collision shuffle carries only (id, vec, table, bucket); hot
    buckets (many near-identical vectors) are the skew risk — shrink
    bucket_length or add tables, exactly the classic LSH tuning.
    Measured on sf0.1 64-dim embeddings (k=10, recall vs exact):
    (2, 0.5)→0.33, (4, 0.5)→0.55, (4, 1.0)→0.80 [default],
    (4, 2.0)→0.96 — wider buckets buy recall at the price of bigger
    cogroups, so prefer more tables at cluster scale.
    """
    import numpy as np
    import pandas as pd

    spark = queries.sparkSession
    c = _prep(candidates, id_col, vec_col, "cand")
    q = _prep(queries, id_col, vec_col, "query")
    _require_integral_ids(q, c)
    first = c.select("cand_vec").head(1)
    if not first:
        return _empty_topk(spark)
    dim = len(first[0][0])
    rng = np.random.RandomState(seed)
    proj = rng.standard_normal((num_hash_tables, dim))
    bc = spark.sparkContext.broadcast(proj)

    def bucketize(side: str):
        def run(batches):
            P = bc.value
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                # the corpus is never collected here, so each batch is
                # checked against the dimension the projections were
                # drawn for (the first candidate's)
                vecs = _vectors(pdf, dim=P.shape[1])
                if normalize:  # cosine-via-unit-L2: see knn_join
                    norms = np.linalg.norm(vecs, axis=1, keepdims=True)
                    norms[norms == 0.0] = 1.0
                    vecs = vecs / norms
                    pdf = pdf.copy()
                    pdf[pdf.columns[1]] = pd.Series(
                        list(vecs), index=pdf.index
                    )
                B = np.floor((vecs @ P.T) / bucket_length).astype(np.int64)
                out = []
                for t in range(P.shape[0]):
                    part = pdf.copy()
                    part["table"] = t
                    part["bucket"] = B[:, t]
                    out.append(part)
                yield pd.concat(out, ignore_index=True)

        return run

    c_b = c.mapInPandas(
        bucketize("cand"),
        schema="cand_id long, cand_vec array<double>, table int, bucket long",
    )
    if max_bucket_size is not None:
        # Explicit hot-bucket bound: one (table, bucket) cogroup holds a
        # whole bucket in one pandas frame, so a 10k-identical-vector
        # bucket is an OOM/straggler risk AQE cannot split (the blowup
        # is inside one applyInPandas group, not across tasks). Keep a
        # deterministic cand_id-ordered prefix per bucket: the bucket is
        # hot because near-identical vectors collide there, so the
        # retained prefix still saturates every query's k slots at
        # near-identical distances (recall loss bounded; judged by the
        # recall harness like every approx knob).
        from pyspark.sql.window import Window as _W

        wb = _W.partitionBy("table", "bucket").orderBy(F.col("cand_id").asc())
        c_b = (
            c_b.withColumn("__bn", F.row_number().over(wb))
            .where(F.col("__bn") <= max_bucket_size)
            .drop("__bn")
        )
    q_b = q.mapInPandas(
        bucketize("query"),
        schema="query_id long, query_vec array<double>, table int, bucket long",
    )

    def score_bucket(qpdf: pd.DataFrame, cpdf: pd.DataFrame) -> pd.DataFrame:
        if len(qpdf) == 0 or len(cpdf) == 0:
            return pd.DataFrame(columns=["query_id", "cand_id", "distance"])
        cids, cmat = _by_id(
            cpdf["cand_id"].to_numpy(dtype=np.int64), _vectors(cpdf, "cand_vec")
        )
        return _np_topk_rows(
            qpdf["query_id"].to_numpy(dtype=np.int64),
            _vectors(qpdf, "query_vec"), cids, cmat, k, "l2_sq",
            exclude_self, round_dp,
        )

    scored = (
        q_b.groupBy("table", "bucket")
        .cogroup(c_b.groupBy("table", "bucket"))
        .applyInPandas(score_bucket, schema="query_id long, cand_id long, distance double")
        # a pair colliding in several tables repeats with an IDENTICAL
        # exact distance — collapse before ranking so it occupies one slot
        .dropDuplicates(["query_id", "cand_id"])
    )
    return _ranked_topk(scored, k, "l2_sq")


class _EmptySample(ValueError):
    """The candidate frame has no rows to fit a quantizer on."""


def _sq_l2(x, c):
    """Squared L2 from every row of ``x`` to every row of ``c`` in the
    Gram form |x|²-2x·cᵀ+|c|²: BLAS-backed, and it allocates only the
    (n, k) result where the broadcast difference allocates n·k·d.
    Every IVF/PQ kernel scores through this one copy, so a fit, an
    encode and its replay see the same bits. Evaluated in place on
    the product (a - b == a + (-b) in IEEE, so the bits equal the
    plain expression's): one (n, k) allocation instead of four, which
    measured ~0.4 s less per PQ codebook fit beside a live Spark
    session."""
    d = x @ c.T
    d *= -2.0
    d += (x * x).sum(axis=1)[:, None]
    d += (c * c).sum(axis=1)[None, :]
    return d


def _id_sorted_sample(c: DataFrame, limit: int):
    """The first ``limit`` rows of a prepped ``(cand_id, cand_vec)``
    frame as a float64 matrix, sorted by id: ``limit()`` returns rows in
    partition-completion order, so the sort keeps every seeded fit
    reproducible across sessions. Raises :class:`_EmptySample` when
    the frame has no rows."""
    import numpy as np

    sample = c.select("cand_id", "cand_vec").limit(limit).toPandas()
    if sample.empty:
        raise _EmptySample("no candidate rows to fit a quantizer on")
    return _vectors(sample.sort_values("cand_id", kind="mergesort"))


def _lloyd(mat, init, iters: int):
    """``iters`` Lloyd iterations from the centroids ``init``. Each
    cell's members are summed one after another in row order, so the
    fit is a pure function of the (id-sorted) sample; an empty cell
    keeps its centroid."""
    import numpy as np

    cents = init.copy()
    for _ in range(iters):
        assign = _sq_l2(mat, cents).argmin(axis=1)
        sums = np.zeros_like(cents)
        np.add.at(sums, assign, mat)
        counts = np.bincount(assign, minlength=len(cents))
        nz = counts > 0
        cents[nz] = sums[nz] / counts[nz, None]
    return cents


def _nearest(x, cents, n: int):
    """Indices of each row's ``n`` nearest centroids, nearest first,
    ties to the lower index."""
    import numpy as np

    return np.argsort(_sq_l2(x, cents), axis=1, kind="stable")[:, :n]


def _vectors(pdf, col: str | None = None, dim: int | None = None):
    """The one reader of a batch's vectors as a float64 matrix: column
    ``col``, else the second column, or ``qvec``·``scale`` for the int8
    index (:func:`quantize_embeddings`). Vectors of unequal length, or
    of another length than ``dim`` when it is given (a batch may hold
    one length, and another batch a different one), raise
    ``ValueError``: only the declarative exact tier scores them."""
    import numpy as np

    int8 = col is None and "qvec" in pdf.columns
    if int8:
        col = "qvec"
    vals = pdf.iloc[:, 1] if col is None else pdf[col]
    try:
        mat = np.asarray(list(vals), dtype=np.float64)
        ragged = dim is not None and mat.shape[1] != dim
    except ValueError:  # numpy's "inhomogeneous shape"
        ragged = True
    if ragged:
        raise ValueError(
            "vectors of unequal length: the numpy kNN tiers score one "
            "dimension; knn_join(strategy='exact') scores ragged vectors"
        )
    if int8:
        mat *= pdf["scale"].to_numpy(dtype=np.float64)[:, None]
    return mat


def _assign_cells(df: DataFrame, cents, n_cells: int) -> DataFrame:
    """``df`` plus a ``cells array<int>`` column holding each row's
    ``n_cells`` nearest centroids (:func:`_nearest` over
    :func:`_vectors`); the centroids ride one broadcast."""
    from pyspark.sql.types import ArrayType, IntegerType, StructField, StructType

    bc = df.sparkSession.sparkContext.broadcast(cents)

    def run(batches):
        cm = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out = pdf.copy()
            out["cells"] = [
                row.tolist() for row in _nearest(_vectors(pdf), cm, n_cells)
            ]
            yield out

    schema = StructType(
        df.schema.fields + [StructField("cells", ArrayType(IntegerType()))]
    )
    return df.mapInPandas(run, schema=schema)


def fit_ivf_centroids(
    c: DataFrame, nlist: int = 16, seed: int = 42, fit: str = "sample"
):
    """Fit the nlist IVF centroids over a prepped ``(cand_id,
    cand_vec)`` frame; returns a float64 numpy matrix (small,
    broadcastable). Shared by the per-run IVF strategy and the
    persistent index (operators/ivf_index.py).

    ``fit="kmeans_ml"``: distributed k-means|| — every candidate row
    participates, executors hold only their partitions; preferred at
    100 TB when the sample tier isn't representative (many fine cells,
    drifting data). ``fit="sample"``: driver-side Lloyd over a bounded
    id-sorted sample (:func:`_id_sorted_sample`) — O(sample·d)
    regardless of table size, and reproducible across sessions."""
    import numpy as np

    if fit == "kmeans_ml":
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        train = c.select(
            array_to_vector(F.col("cand_vec").cast("array<double>")).alias("features")
        )
        km = KMeans(
            k=nlist, seed=seed, maxIter=10, initMode="k-means||"
        ).fit(train)
        return np.asarray(
            [ctr for ctr in km.clusterCenters()], dtype=np.float64
        )
    if fit == "sample":
        mat = _id_sorted_sample(c, 100_000)
        rng = np.random.RandomState(seed)
        init = mat[rng.choice(len(mat), size=min(nlist, len(mat)), replace=False)]
        return _lloyd(mat, init, 10)
    raise ValueError(f"unknown ivf fit {fit!r}")


def _knn_ivf(
    queries, candidates, id_col, vec_col, k, metric, exclude_self, round_dp,
    nlist: int | None = None, nprobe: int = 4, seed: int = 42,
    fit: str = "sample", compress: str | None = None, known_n_cand=None,
) -> DataFrame:
    """Strategy (d): IVF-style partitioned search (FAISS IVF-Flat's
    shape, distributed).

    1. KMeans over (a sample of) the candidate vectors → nlist
       centroids (small, broadcastable);
    2. every candidate is assigned to its nearest centroid (one cell);
    3. every query probes its ``nprobe`` nearest cells;
    4. each probed cell is scored with a local top-k
       (:func:`_ivf_scored`), and one window merges the survivors.

    The cogroup is a plain shuffle on cell id, so BOTH sides scale out —
    unlike the broadcast strategy (candidate side must fit memory) —
    and recall degrades gracefully with nprobe/nlist instead of
    falling off a bucket cliff like LSH. Recall < 1 by design: the
    true neighbor may live in an unprobed cell.
    """
    spark = queries.sparkSession
    if compress not in (None, "int8"):
        raise ValueError(f"unknown compress {compress!r}")
    c = _prep(candidates, id_col, vec_col, "cand")
    q = _prep(queries, id_col, vec_col, "query")
    _require_integral_ids(q, c)
    if nlist is None:
        # derive cells from the candidate count (the auto ladder passes
        # the count it already paid for) instead of a fixed 16 that
        # stops partitioning the corpus at scale
        nlist = derive_nlist(candidates, known_n=known_n_cand)
    try:
        centroids = fit_ivf_centroids(c, nlist=nlist, seed=seed, fit=fit)
    except _EmptySample:
        return _empty_topk(spark)
    if compress == "int8":
        # The candidate side crosses the cell shuffle as the int8 index
        # (8× narrower than float64); cells dequantize qvec·scale at
        # scoring time. Distances become quantization-approximate —
        # same contract as the broadcast int8 tier.
        c = quantize_embeddings(c, "cand_id", "cand_vec").select(
            F.col("vec_id").alias("cand_id"), "scale", "qvec"
        )
    c_cells = _assign_cells(c, centroids, 1).select(
        *c.columns, F.col("cells")[0].alias("cell")
    )
    scored = _ivf_scored(
        q, c_cells, centroids, nprobe, k, metric, exclude_self, round_dp
    )
    return _ranked_topk(scored, k, metric)


def _ivf_scored(
    q, c_cells, centroids, nprobe, k, metric, exclude_self, round_dp
) -> DataFrame:
    """The IVF query path shared by :func:`_knn_ivf` and the standing
    index (``operators/ivf_index.py``): each prepped query probes its
    ``nprobe`` nearest ``centroids`` (:func:`_assign_cells`), and every
    probed cell of ``c_cells`` (``cand_id``, its vectors, ``cell``) is
    scored by BLAS with a local top-k. Returns UNRANKED ``(query_id,
    cand_id, distance)`` rows, at most ``nprobe·k`` per query."""
    import numpy as np

    q_cells = _assign_cells(q, centroids, nprobe).select(
        "query_id", "query_vec", F.explode("cells").alias("cell")
    )

    # Per-cell BLAS scoring with a LOCAL top-k, then the caller's global
    # merge over ≤ nprobe·k survivors per query — the classic IVF merge.
    # Joining probes to cells and ranking every (query, candidate) pair
    # in one global window would instead push |Q|·nprobe·(n/nlist) pairs
    # through the ranking shuffle (measured 13 s vs ~2 s at sf0.1); here
    # the shuffle after scoring carries only nprobe·k rows/query.
    # Each cogroup holds one cell (~n/nlist candidates + its probing
    # queries) — nlist grows with n, keeping cells worker-sized.
    # A query's global top-k over probed cells is contained in the union
    # of its per-cell top-ks, so the merge is lossless.
    import pandas as pd

    def score_cell(qpdf: pd.DataFrame, cpdf: pd.DataFrame) -> pd.DataFrame:
        if len(qpdf) == 0 or len(cpdf) == 0:
            return pd.DataFrame(columns=["query_id", "cand_id", "distance"])
        cids, cmat = _by_id(
            cpdf["cand_id"].to_numpy(dtype=np.int64), _vectors(cpdf)
        )
        # a standing index re-ingests: an id stored twice in one cell is
        # scored once, so it does not fill two local top-k slots
        first = np.r_[True, cids[1:] != cids[:-1]]
        cids, cmat = cids[first], cmat[first]
        return _np_topk_rows(
            qpdf["query_id"].to_numpy(dtype=np.int64),
            _vectors(qpdf, "query_vec"), cids, cmat, k, metric,
            exclude_self, round_dp,
        )

    return (
        q_cells.groupBy("cell")
        .cogroup(c_cells.groupBy("cell"))
        .applyInPandas(score_cell, schema="query_id long, cand_id long, distance double")
    )


def _nearest_cells_declarative(
    vecs: DataFrame,
    centroids: DataFrame,
    vec_col: str,
    n_cells: int = 1,
    round_dp: int = DEFAULT_ROUND_DP,
) -> DataFrame:
    """The declarative nearest-centroid rule: ``vecs`` (keyed by
    ``vec_id``) against the broadcast ``(cell, centroid)`` table,
    ``round(l2_sq, round_dp)`` per pair, lowest cell id on ties — the
    form the DuckDB oracles and the index's violation check replay.
    Returns ``vecs``' columns plus ``cell``, ``distance`` and
    ``cell_rank`` (1 = nearest) for each vector's ``n_cells`` nearest
    cells."""
    w = Window.partitionBy("vec_id").orderBy(
        F.col("distance").asc(), F.col("cell").asc()
    )
    return (
        vecs.crossJoin(F.broadcast(centroids))
        .withColumn("distance", F.round(l2_sq(vec_col, "centroid"), round_dp))
        .withColumn("cell_rank", F.row_number().over(w))
        .where(F.col("cell_rank") <= n_cells)
        .drop("centroid")
    )


def threshold_join(knn: DataFrame, tau: float) -> DataFrame:
    """P7: declare a pair joinable iff sqrt(squared-L2) ≤ τ — exactly the
    reference's ``distance**0.5 <= dist_threshold``
    (``join_discoverer.py:318``).
    """
    return knn.where(F.sqrt(F.col("distance")) <= F.lit(tau))


def build_vector_index(
    emb: DataFrame, path: str, id_col: str = "vec_id", vec_col: str = "embedding"
) -> None:
    """S8 analog: persist the (id, vector) table as the engine's 'index'
    artifact. Spark has no incremental index file (SURVEY §4.3) — the
    artifact is columnar Parquet; strategies rebuild (lsh/ivf fit) or
    broadcast (exact/broadcast) from it at load."""
    emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<float>").alias("embedding"),
    ).write.mode("overwrite").parquet(path)


def load_vector_index(spark, path: str) -> DataFrame:
    """Load a persisted vector index artifact (validates schema)."""
    df = spark.read.parquet(path)
    assert {"vec_id", "embedding"} <= set(df.columns), df.columns
    return df


def quantize_embeddings(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric int8 index compression: (vec_id, scale, qvec) with
    scale = max(|v|)/127 and qvec[i] = sign(v_i)·floor(|v_i|/scale+0.5)
    in [-127, 127] (round-half-away — engine-portable, no banker's
    rounding). 8× memory cut vs float64 is what keeps a billion-vector
    index broadcastable / cache-resident; rebuild ≈ qvec·scale.

    Shape: posexplode elements → one groupBy computing the max-abs AND
    the ordered element list → quantize via a transform over the BOUND
    agg output (cheap column refs only — quantizing an inline
    max-abs expression per element would re-scan the vector per
    element, the Catalyst HOF trap documented in operators.dedup).
    """
    ex = emb.select(
        F.col(id_col).alias("vec_id"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("__pos", "__x"),
    )
    agg = ex.groupBy("vec_id").agg(
        F.max(F.abs(F.col("__x"))).alias("__mx"),
        F.array_sort(F.collect_list(F.struct("__pos", "__x"))).alias("__vs"),
    )
    scale = F.col("__mx") / F.lit(127.0)
    qvec = F.transform(
        F.col("__vs"),
        lambda s: F.when(F.col("__mx") == 0, F.lit(0))
        .otherwise(F.signum(s["__x"]) * F.floor(F.abs(s["__x"]) / scale + F.lit(0.5)))
        .cast("int"),
    )
    return agg.select("vec_id", scale.alias("scale"), qvec.alias("qvec"))
