"""Product-quantization ANN tier (FAISS PQ/ADC's shape, distributed).

Extends the kNN strategy ladder (exact → broadcast → LSH → IVF,
``operators/knn.py``) with the memory end-game: PQ splits each vector
into ``m`` subvectors, k-means-quantizes each subspace to ``ksub``
codewords, and stores each vector as ``m`` small codes — at the m=16/ksub=256
default, a dim-64 float64 embedding becomes 16 bytes instead of 512
(32×; measured recall@10 ≈ 0.76 on the uniform-random test embeddings,
the adversarial case for PQ — m=32 trades to 16×/0.89). Query-side scoring is ADC (asymmetric distance computation):
one (m × ksub) lookup table of exact subsquared-distances per query,
then each candidate's approximate distance is m table lookups — no
decode, no per-pair float math.

Scale design:

- Codebooks are tiny (m·ksub·dsub doubles) and train on a bounded,
  id-sorted, seeded sample — same reproducibility discipline as the
  IVF ``fit="sample"`` tier (``knn._id_sorted_sample``).
- Encoding is one Arrow-batched ``mapInPandas`` pass (vectorized
  argmin per subspace); encoded candidates are what an index build
  persists (cf. SURVEY §4.3's parquet index redesign).
- The broadcast carries ids + uint8 codes: the 512 MiB broadcast
  budget that holds 8M float64 dim-8 vectors holds 128M PQ-coded ones.
  Both-sides-huge deployments route cells through the IVF shuffle and
  apply PQ within cells — the codes column drops in wherever the
  float column went.
- Approximation contract: distances are ADC estimates (codebook
  reconstruction error); like the LSH/IVF tiers this ships rows-only
  at the oracle gate plus recall-vs-exact unit tests, per the repo's
  correctness model for genuinely approximate operators.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from semantic_ann_in_data_lake_spark.operators.knn import (
    DEFAULT_ROUND_DP,
    _assign_cells,
    _by_id,
    _empty_topk,
    _EmptySample,
    _id_sorted_sample,
    _lloyd,
    _nearest,
    _over_budget,
    _prep,
    _ranked_topk,
    _require_integral_ids,
    _rescore_pairs,
    _row_count,
    _spread,
    _sq_l2,
    _topk_rows,
    _vec_dim,
    _vectors,
    derive_nlist,
)


def derive_m(dim: int, cap: int = 96) -> int:
    """Dim-adaptive subquantizer count: ~4 dims per subspace (the
    FAISS-convention resolution), capped at ``cap``, reduced to the
    nearest divisor of ``dim``. The d=768 crossover bench
    (D768_BENCH.json, round 11) measured recall@10 collapsing to
    0.23-0.33 under the old fixed m=16 there (48-dim subspaces are far
    too coarse at real embedding widths), while at the gate corpus's
    d=64 this derives the SAME m=16 the oracle gates replay — so
    every ``m=None`` default below is gate-neutral."""
    m = max(1, min(cap, dim // 4 or 1))
    while dim % m:
        m -= 1
    return m


def train_pq_codebooks(
    candidates: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int | None = None,
    ksub: int = 256,
    sample_limit: int = 100_000,
    seed: int = 42,
    iters: int = 10,
):
    """Per-subspace codebooks as a numpy array (m, ksub, dsub).

    Driver-side Lloyd iterations over a bounded, id-sorted sample
    (seeded) — deterministic across sessions and partitionings. The
    vector dim must divide evenly into ``m`` subspaces.
    """
    mat = _id_sorted_sample(
        _prep(candidates, id_col, vec_col, "cand"), sample_limit
    )
    return _books_from_mat(mat, m, ksub, seed, iters)


def _books_from_mat(mat, m: int | None, ksub: int, seed: int, iters: int = 10):
    """Codebooks from an in-memory sample matrix (shared by
    train_pq_codebooks and fit_ivf_pq, which reuses ONE collected
    sample for both the coarse quantizer and the codebooks)."""
    import numpy as np

    dim = mat.shape[1]
    if m is None:
        m = derive_m(dim)
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible into {m} subspaces")
    dsub = dim // m
    rng = np.random.RandomState(seed)
    books = np.empty((m, ksub, dsub), dtype=np.float64)
    for j in range(m):
        sub = mat[:, j * dsub:(j + 1) * dsub]
        k_eff = min(ksub, len(sub))
        cents = _lloyd(
            sub, sub[rng.choice(len(sub), size=k_eff, replace=False)], iters
        )
        if k_eff < ksub:  # degenerate tiny input: pad by repetition
            cents = np.concatenate(
                [cents, np.repeat(cents[:1], ksub - k_eff, axis=0)]
            )
        books[j] = cents
    return books


def _pq_codes(x, books):
    """Each row's nearest codeword index per subspace: (n, m) int64."""
    import numpy as np

    m, _, dsub = books.shape
    codes = np.empty((len(x), m), dtype=np.int64)
    for j in range(m):
        sub = x[:, j * dsub:(j + 1) * dsub]
        codes[:, j] = _sq_l2(sub, books[j]).argmin(axis=1)
    return codes


def _pq_reconstruct(codes, books):
    """The codeword concatenation each code row stands for: (n, m·dsub)."""
    import numpy as np

    m, _, dsub = books.shape
    dec = np.empty((len(codes), m * dsub), dtype=np.float64)
    for j in range(m):
        dec[:, j * dsub:(j + 1) * dsub] = books[j][codes[:, j]]
    return dec


def _adc_topk_rows(
    qids, qmat, cids, code_cols, books, k, exclude_self, round_dp
):
    """ADC top-k: a ``(query_id, cand_id, distance)`` frame, the k best
    per query by distance rounded to ``round_dp`` (``knn._topk_rows``).
    ``cids`` MUST be in id order; ``code_cols[j]`` is subspace j's code
    column offset by ``j·ksub`` into the flat lookup table.

    The lookup tables for the whole batch are built at once (per
    subspace one BLAS pass, (nq, m·ksub)); distances are then gathered
    in 256-query blocks, accumulating one subspace at a time, so peak
    memory is ONE (block, n_cand) array — the fused fancy gather
    ``lut[block, flat_codes]`` materializes (block, n_cand, m), m×
    larger, which OOMs the python worker at broadcast-tier candidate
    counts before the broadcast budget ever binds."""
    import numpy as np
    import pandas as pd

    mm, kk, dsub = books.shape
    lut = np.empty((len(qmat), mm * kk), dtype=np.float64)
    for j in range(mm):
        lut[:, j * kk:(j + 1) * kk] = _sq_l2(
            qmat[:, j * dsub:(j + 1) * dsub], books[j]
        )
    out = []
    for lo in range(0, len(qmat), 256):
        blk = lut[lo:lo + 256]
        dist = blk[:, code_cols[0]]
        for col in code_cols[1:]:
            dist += blk[:, col]
        out.append(
            _topk_rows(qids[lo:lo + 256], dist, cids, k, round_dp, exclude_self)
        )
    return pd.concat(out, ignore_index=True)


def pq_encode(
    candidates: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, codes array<int>) — each vector's per-subspace nearest
    codeword indices. One vectorized Arrow pass; this is the persisted
    form of a PQ index."""
    import numpy as np

    spark = candidates.sparkSession
    bc = spark.sparkContext.broadcast(np.asarray(codebooks))

    def encode(batches: Iterator):
        import pandas as pd

        books = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes = _pq_codes(_vectors(pdf), books)
            yield pd.DataFrame(
                {"vec_id": pdf["cand_id"], "codes": list(codes)}
            )

    return _prep(candidates, id_col, vec_col, "cand").mapInPandas(
        encode, schema="vec_id long, codes array<int>"
    )


def knn_pq(
    queries: DataFrame,
    candidates: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    m: int | None = None,
    ksub: int = 256,
    exclude_self: bool = True,
    round_dp: int = DEFAULT_ROUND_DP,
    seed: int = 42,
    known_n_cand: int | None = None,
    known_n_query: int | None = None,
) -> DataFrame:
    """Top-k by ADC-approximate squared L2 over the PQ-coded candidate
    index (broadcast tier).

    Returns ``(query_id, cand_id, distance, rank)`` like every other
    strategy; ``distance`` is the ADC estimate rounded to ``round_dp``
    with (distance, cand_id) rank tie-breaks, so results are
    deterministic even though approximate.
    """
    import numpy as np

    spark = queries.sparkSession
    q = _prep(queries, id_col, vec_col, "query")
    c = _prep(candidates, id_col, vec_col, "cand")
    _require_integral_ids(q, c)
    if m is None:
        dim = _vec_dim(c, "cand_vec")
        m = derive_m(dim) if dim else 16
    # the coded index is collected to the driver and broadcast (m codes
    # + id ≈ m+16 bytes a row), and ADC shrinks memory, not compute:
    # the scorer still evaluates every (query, candidate) pair. Past
    # either budget the cell-sharded IVF-PQ tier runs instead.
    n_cand = _row_count(candidates) if known_n_cand is None else known_n_cand
    if known_n_query is not None:
        n_query = known_n_query
    elif queries is candidates:
        n_query = n_cand
    else:
        n_query = _row_count(queries)
    reason = _over_budget(n_cand, m + 16, n_query * n_cand)
    if reason is not None:
        import warnings

        warnings.warn(
            f"knn_pq: {reason}; degrading to knn_ivf_pq (cell-sharded).",
            stacklevel=2,
        )
        return knn_ivf_pq(
            queries, candidates, id_col, vec_col, k=k,
            nlist=derive_nlist(known_n=n_cand), nprobe=8, m=m,
            ksub=ksub, exclude_self=exclude_self, round_dp=round_dp,
            seed=seed,
        )
    try:
        books = train_pq_codebooks(
            candidates, id_col, vec_col, m=m, ksub=ksub, seed=seed
        )
    except _EmptySample:
        return _empty_topk(spark)
    coded = pq_encode(candidates, books, id_col, vec_col).toPandas()
    cand_ids, codes = _by_id(
        coded["vec_id"].to_numpy(dtype=np.int64),
        np.asarray(list(coded["codes"]), dtype=np.int64),
    )
    bc = spark.sparkContext.broadcast((cand_ids, codes, np.asarray(books)))

    def topk(batches: Iterator):
        cids, cds, bks = bc.value
        # offset each subspace's codes into the flat lookup table once
        # per worker, not once per batch
        kk = bks.shape[1]
        code_cols = [cds[:, j] + j * kk for j in range(bks.shape[0])]
        for pdf in batches:
            if len(pdf) == 0:
                continue
            yield _adc_topk_rows(
                pdf["query_id"].to_numpy(dtype=np.int64),
                _vectors(pdf, "query_vec"), cids, code_cols, bks, k,
                exclude_self, round_dp,
            )

    scored = _spread(q).mapInPandas(
        topk, schema="query_id long, cand_id long, distance double"
    )
    # each worker keeps its local top-k; the declarative window ranks
    # them for the standard contract
    return _ranked_topk(scored, k, "l2_sq")


def fit_ivf_pq(
    c: DataFrame, nlist: int = 16, m: int | None = None, ksub: int = 256,
    seed: int = 42,
):
    """Coarse centroids + RESIDUAL codebooks for the IVF-PQ tier, from
    ONE collected bounded id-sorted seeded sample (a second
    limit().toPandas() would double the driver collection).
    Deterministic, so the ADC contract check can replay the identical
    quantization.

    Residual codebooks (FAISS IVF-PQ): quantize x − centroid(cell),
    not x. Residuals are centered and much smaller in norm than raw
    vectors, so the same ksub codewords spend their resolution on the
    within-cell geometry — ||q−x|| = ||q′−x′|| exactly when both
    subtract the same centroid, so ADC on residuals estimates the
    true distance with strictly less quantization error."""
    import numpy as np

    mat = _id_sorted_sample(c, 100_000)
    rng = np.random.RandomState(seed)
    init = mat[rng.choice(len(mat), size=min(nlist, len(mat)), replace=False)]
    cents = _lloyd(mat, init, 10)
    residuals = mat - cents[_nearest(mat, cents, 1)[:, 0]]
    return cents, _books_from_mat(residuals, m, ksub, seed)


def ivf_pq_encode(
    candidates: DataFrame, cents, books,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """(cand_id, codes, cell) under a FIXED quantizer: each vector's
    nearest cell and the PQ codes of its residual to that cell's
    centroid. The one IVF-PQ encoder — :func:`knn_ivf_pq` builds its
    cells with it and the contract check replays it."""
    import numpy as np

    spark = candidates.sparkSession
    c = _prep(candidates, id_col, vec_col, "cand")
    bc = spark.sparkContext.broadcast((np.asarray(cents), np.asarray(books)))

    def run(batches: Iterator):
        import pandas as pd

        cents_, books_ = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vecs = _vectors(pdf)
            cell = _nearest(vecs, cents_, 1)[:, 0].astype("int32")
            codes = _pq_codes(vecs - cents_[cell], books_)
            yield pd.DataFrame(
                {
                    "cand_id": pdf["cand_id"].to_numpy(dtype=np.int64),
                    "codes": list(codes),
                    "cell": cell,
                }
            )

    return c.mapInPandas(
        run, schema="cand_id long, codes array<int>, cell int"
    )


def ivf_pq_decode(coded: DataFrame, cents, books) -> DataFrame:
    """Reconstruction under the IVF-PQ quantizer: ``centroid(cell) +
    residual_decode(codes)`` — the vector whose exact L2² to the raw
    query IS the reported residual-frame ADC distance
    (‖(q−c)−r‖ = ‖q−(c+r)‖), making the tier invariant-checkable."""
    import numpy as np

    spark = coded.sparkSession
    bc = spark.sparkContext.broadcast((np.asarray(cents), np.asarray(books)))

    def run(batches: Iterator):
        import pandas as pd

        cents_, books_ = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cs = np.asarray(list(pdf["codes"]), dtype=np.int64)
            dec = _pq_reconstruct(cs, books_)
            dec += cents_[pdf["cell"].to_numpy(dtype=np.int64)]
            yield pd.DataFrame(
                {
                    "vec_id": pdf["cand_id"].to_numpy(dtype=np.int64),
                    "embedding": [row.tolist() for row in dec],
                }
            )

    return coded.mapInPandas(
        run, schema="vec_id long, embedding array<double>"
    )


def knn_ivf_pq(
    queries: DataFrame,
    candidates: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nlist: int | None = None,
    nprobe: int = 4,
    m: int | None = None,
    ksub: int = 256,
    exclude_self: bool = True,
    round_dp: int = DEFAULT_ROUND_DP,
    seed: int = 42,
) -> DataFrame:
    """IVF-PQ: the both-sides-huge tier COMBINED with the compressed
    index — candidates cross the cell shuffle as m uint8 codes instead
    of dim float64 (the "codes column drops in wherever the float
    column went" promise of the PQ docstring, kept).

    Coarse quantizer: nlist centroids from the same bounded id-sorted
    seeded sample as the IVF tier; queries probe nprobe cells; per-cell
    scoring is ADC over the cell's codes with a per-query,
    per-probed-cell lookup table; the merge carries ≤ nprobe·k rows per
    query. Codebooks quantize RESIDUALS (x − centroid) — the FAISS
    IVF-PQ formulation; one shared residual codebook serves every cell.
    """
    import numpy as np
    import pandas as pd

    spark = queries.sparkSession
    q = _prep(queries, id_col, vec_col, "query")
    c = _prep(candidates, id_col, vec_col, "cand")
    _require_integral_ids(q, c)
    if nlist is None:
        # mirror knn_join's explicit-IVF default: cells scale ≈ √n so
        # per-cell ADC work stays bounded as the corpus grows
        nlist = derive_nlist(candidates)
    try:
        cents, books = fit_ivf_pq(c, nlist=nlist, m=m, ksub=ksub, seed=seed)
    except _EmptySample:
        return _empty_topk(spark)
    c_cells = ivf_pq_encode(candidates, cents, books, id_col, vec_col)
    q_cells = _assign_cells(q, cents, nprobe).select(
        "query_id", "query_vec", F.explode("cells").alias("cell")
    )
    bc = spark.sparkContext.broadcast((cents, books))

    def score_cell(key, qpdf, cpdf):
        if len(qpdf) == 0 or len(cpdf) == 0:
            return pd.DataFrame(columns=["query_id", "cand_id", "distance"])
        cents_, books_ = bc.value
        cids, codes = _by_id(
            cpdf["cand_id"].to_numpy(dtype=np.int64),
            np.asarray(list(cpdf["codes"]), dtype=np.int64),
        )
        kk = books_.shape[1]
        code_cols = [codes[:, j] + j * kk for j in range(books_.shape[0])]
        # the query also moves to THIS cell's residual frame — the
        # cogroup key is the cell id
        qmat = _vectors(qpdf, "query_vec")
        qmat -= cents_[int(key[0])][None, :]
        return _adc_topk_rows(
            qpdf["query_id"].to_numpy(dtype=np.int64), qmat, cids,
            code_cols, books_, k, exclude_self, round_dp,
        )

    scored = (
        q_cells.groupBy("cell")
        .cogroup(c_cells.groupBy("cell"))
        .applyInPandas(
            score_cell, schema="query_id long, cand_id long, distance double"
        )
    )
    return _ranked_topk(scored, k, "l2_sq")


def knn_pq_refine(
    queries: DataFrame,
    candidates: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    refine_factor: int = 4,
    m: int | None = None,
    ksub: int = 256,
    exclude_self: bool = True,
    round_dp: int = DEFAULT_ROUND_DP,
    seed: int = 42,
) -> DataFrame:
    """Broadcast-PQ with an exact re-rank — the refine stage of
    :func:`knn_ivf_pq_refine` applied to the broadcast/ADC tier: the
    compressed index shortlists ``k·refine_factor`` per query, the
    shortlist is re-scored on raw vectors, exact top-k out. Same two
    properties as the IVF variant (true L2² distances → symmetric
    invariant gate; recall monotone ≥ ADC-only). Inherits knn_pq's
    byte AND pair budget guards — an oversized call degrades through
    knn_pq to the cell-sharded tier before the refine join runs."""
    if refine_factor < 1:
        raise ValueError(f"refine_factor must be >= 1, got {refine_factor}")
    shortlist = knn_pq(
        queries, candidates, id_col, vec_col, k=k * refine_factor,
        m=m, ksub=ksub, exclude_self=exclude_self, round_dp=round_dp,
        seed=seed,
    )
    rescored = _rescore_pairs(
        shortlist, queries, candidates, id_col, vec_col, round_dp
    )
    return _ranked_topk(rescored, k, "l2_sq")


def knn_ivf_pq_refine(
    queries: DataFrame,
    candidates: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    refine_factor: int = 4,
    nlist: int | None = None,
    nprobe: int = 4,
    m: int | None = None,
    ksub: int = 256,
    exclude_self: bool = True,
    round_dp: int = DEFAULT_ROUND_DP,
    seed: int = 42,
) -> DataFrame:
    """IVF-PQ with an exact re-rank (refine) stage — the standard
    production ANN shape (FAISS ``IndexRefineFlat``): the compressed
    index shortlists ``k·refine_factor`` candidates per query by ADC,
    then the shortlist alone is re-scored against the RAW vectors and
    the exact top-k is returned.

    Two properties fall out:

    - **distances are exact** — unlike the plain PQ/IVF-PQ tiers, the
      returned ``distance`` is the true L2² between raw vectors, so
      the symmetric invariant projection
      (``checks.knn_invariant_violations`` with no ``cand_emb``)
      gates this tier exactly like the LSH/IVF ones;
    - **recall is monotone in refine_factor** — the final top-k can
      only improve on ADC top-k, since every exact-top-k member the
      shortlist captures survives the exact re-rank by definition.

    Scale design: the shortlist is n_query·k·refine_factor rows of
    (query_id, cand_id), re-scored by the shared ``knn._rescore_pairs``
    (two equi-joins fetch the raw vectors — the candidate-side join is
    the only one touching the full corpus, and it ships exactly the
    shortlisted vectors — then the declarative fold) and re-ranked by
    the shared ``knn._ranked_topk`` WindowGroupLimit top-k. Nothing
    here is quadratic; the refine stage costs
    O(n_query·k·refine_factor·dim) on top of the IVF-PQ probe.
    """
    if refine_factor < 1:
        raise ValueError(f"refine_factor must be >= 1, got {refine_factor}")
    shortlist = knn_ivf_pq(
        queries, candidates, id_col, vec_col, k=k * refine_factor,
        nlist=nlist, nprobe=nprobe, m=m, ksub=ksub,
        exclude_self=exclude_self, round_dp=round_dp, seed=seed,
    )
    rescored = _rescore_pairs(
        shortlist, queries, candidates, id_col, vec_col, round_dp
    )
    return _ranked_topk(rescored, k, "l2_sq")


def build_pq_index(
    candidates: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int | None = None,
    ksub: int = 256,
    seed: int = 42,
) -> None:
    """Persist a PQ index as TWO parquet artifacts under ``path``:
    ``codes/`` (vec_id, codes) — the data-sized but 32×-narrower part —
    and ``codebooks/`` (subspace, codeword, center) — the tiny
    trainable part. The write-once/reuse-many form of the S8 index
    story (``knn.py::build_vector_index``) for the compressed tier: a
    nightly encode job writes it; every downstream search loads codes
    without touching raw vectors."""
    import numpy as np

    spark = candidates.sparkSession
    books = train_pq_codebooks(
        candidates, id_col, vec_col, m=m, ksub=ksub, seed=seed
    )
    pq_encode(candidates, books, id_col, vec_col).write.mode(
        "overwrite"
    ).parquet(f"{path}/codes")
    rows = [
        (int(j), int(c), [float(x) for x in books[j, c]])
        for j in range(books.shape[0])
        for c in range(books.shape[1])
    ]
    spark.createDataFrame(
        rows, "subspace int, codeword int, center array<double>"
    ).write.mode("overwrite").parquet(f"{path}/codebooks")


def load_pq_index(spark, path: str):
    """Load a persisted PQ index → (codes DataFrame, codebooks ndarray).
    Validates shapes; the codebooks frame is tiny (m·ksub rows)."""
    import numpy as np

    codes = spark.read.parquet(f"{path}/codes")
    assert {"vec_id", "codes"} <= set(codes.columns), codes.columns
    bk = spark.read.parquet(f"{path}/codebooks").collect()
    m = max(r["subspace"] for r in bk) + 1
    ksub = max(r["codeword"] for r in bk) + 1
    dsub = len(bk[0]["center"])
    books = np.empty((m, ksub, dsub), dtype=np.float64)
    for r in bk:
        books[r["subspace"], r["codeword"]] = r["center"]
    return codes, books


def pq_decode(
    codes: DataFrame, codebooks, id_col: str = "vec_id"
) -> DataFrame:
    """Reconstruct the quantized vectors from their codes:
    ``(vec_id, embedding)`` with ``embedding[j·dsub:(j+1)·dsub] =
    codebooks[j][codes[j]]``. The decode makes the ADC contract
    CHECKABLE: an ADC distance is BY DEFINITION the exact L2² between
    the raw query and this reconstruction, so
    ``checks.knn_invariant_violations(res, emb, cand_emb=decoded)``
    turns the approximate tier into an invariant-gated one. One
    Arrow-batched pass, codebooks broadcast."""
    import numpy as np

    spark = codes.sparkSession
    bc = spark.sparkContext.broadcast(np.asarray(codebooks))

    def run(batches: Iterator):
        import pandas as pd

        bks = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cs = np.asarray(list(pdf["codes"]), dtype=np.int64)
            dec = _pq_reconstruct(cs, bks)
            yield pd.DataFrame(
                {
                    "vec_id": pdf[id_col].to_numpy(dtype=np.int64),
                    "embedding": [row.tolist() for row in dec],
                }
            )

    return codes.mapInPandas(
        run, schema="vec_id long, embedding array<double>"
    )
