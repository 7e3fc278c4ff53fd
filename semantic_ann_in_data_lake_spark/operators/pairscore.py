"""Exact pair-scoring kernels: the vectorized twins of the declarative
``pairs ⋈ vectors ⋈ vectors`` + ``functions.vectors.l2_sq`` fold.

The NN-descent rounds and the exact kNN tier score (query, candidate)
pairs against the raw vectors. The declarative formulation pays shuffle
joins (or a |Q|·|C| crossJoin) plus an INTERPRETED higher-order fold
per pair (``aggregate(zip_with(...))`` is not codegen'd). These kernels
broadcast the (id → vector) matrices and compute the UNROUNDED L2² in
numpy.

The twins: :func:`exact_l2_pair_scorer` is NN-descent's gated kernel,
and ``knn._rescore_pairs`` — the one declarative re-score, which also
verifies the refine tiers' shortlists and graph search's hops — is its
declarative twin; :func:`exact_l2_topk_superset` stands in for the
exact tier's crossJoin. Both twins round in the JVM and rank through
``knn._ranked_topk``.

Bit-identity argument (what lets the hash-gated callers keep their
oracle hashes): the kernels are vectorized over ROWS but SEQUENTIAL
over LANES —

    acc = 0.0
    for i in 0..d-1:  acc = acc + (a_i - b_i) * (a_i - b_i)

per row this performs the identical left-to-right chain of IEEE-754
double subtract/multiply/add the JVM fold performs (``(((0+t_0)+t_1)+
...)``) on the identical doubles (both sides cast the stored floats to
double first), so every emitted distance is the same 64-bit pattern
the fold emits. Rounding stays a JVM expression on the returned
column. No reordered/blocked summation anywhere — this is NOT a BLAS
matmul, precisely so no re-score step is needed.

The kernels read, mask and spread through the numpy scoring core in
``operators/knn.py``: ``knn._vectors`` builds every float64 matrix,
``knn._mask_self`` drops self pairs, ``knn._topk_mask`` picks the
superset and ``knn._spread`` spreads the query side over the cores.

Join-semantics parity: :func:`admit_matrices` is the one admission
gate for every broadcast vector-matrix kernel. It admits only frames
with unique non-null integral ids, no NULL/NaN vectors and one uniform
dimension that fit the broadcast byte budget; pairs whose id is absent
from a frame are dropped exactly like the inner joins they replace.
Anything else returns ``None`` and the caller runs its declarative
twin, which stays the reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from semantic_ann_in_data_lake_spark.operators.knn import (
    _integral_ids,
    _mask_self,
    _over_budget,
    _row_count,
    _spread,
    _topk_mask,
    _vec_dim,
    _vectors,
)


def _collect(vframe: DataFrame, id_col: str, vec_col: str):
    """(ids int64[n], mat float64[n, d]) or None on empty input, NULL
    ids, NULL/NaN/ragged vectors or duplicate ids."""
    import numpy as np

    rows = vframe.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    ).toPandas()
    if (
        len(rows) == 0
        or rows["__id"].isna().any()
        or rows["__v"].isna().any()
        or rows["__v"].map(len).nunique() != 1
    ):
        return None
    ids = rows["__id"].to_numpy(dtype=np.int64)
    mat = _vectors(rows)
    if (
        len(ids) != len(np.unique(ids))
        or mat.shape[1] == 0
        or np.isnan(mat).any()
    ):
        return None
    return ids, mat


def admit_matrices(
    qframe: DataFrame, cframe: DataFrame, id_col: str, vec_col: str
):
    """The broadcast admission gate: ``(qids, qmat, cids, cmat)`` for
    the two vector frames, or ``None`` when a kernel must not engage.

    Checks, cheapest first: the id column type (schema only, no Spark
    job); the estimated matrix bytes (row estimate × dim × 8 + 16 per
    row, both sides) against the kNN broadcast byte budget; then the
    collected rows (see :func:`_collect`) and matching dims. When
    ``qframe is cframe`` the matrix is collected once and both halves
    of the result are the same objects."""
    same = qframe is cframe
    sides = [qframe] if same else [qframe, cframe]
    if not _integral_ids(*(side.select(id_col) for side in sides)):
        return None
    dim = _vec_dim(qframe, vec_col)
    if dim == 0:
        return None
    n_rows = sum(_row_count(side) for side in sides)
    if _over_budget(n_rows, dim * 8 + 16) is not None:
        return None
    q = _collect(qframe, id_col, vec_col)
    if q is None:
        return None
    c = q if same else _collect(cframe, id_col, vec_col)
    if c is None or q[1].shape[1] != c[1].shape[1]:
        return None
    return q[0], q[1], c[0], c[1]


def exact_l2_topk_superset(
    qframe: DataFrame,
    cframe: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    exclude_self: bool,
    round_dp: int,
    qcol: str = "query_id",
    ccol: str = "cand_id",
) -> DataFrame | None:
    """Exact-tier kNN prefilter: emit, per query, a PROVABLE SUPERSET
    of the (round(d, round_dp), cand_id)-ranked top-k with the
    bit-identical unrounded d — the caller's JVM round + window then
    picks the final rows.

    Replaces the |Q|·|C| crossJoin + interpreted fold of the exact
    strategy. Distances use the same sequential-lane add chain as the
    fold (module doc), so they are bit-identical; the selection is the
    shared top-k superset mask (``knn._topk_mask``), whose margin is
    derived from ``round_dp``. Returns None when the admission gate
    declines (caller keeps the crossJoin path)."""
    import numpy as np

    m = admit_matrices(qframe, cframe, id_col, vec_col)
    if m is None:
        return None
    spark = qframe.sparkSession
    bc = spark.sparkContext.broadcast(m)

    qid = _spread(qframe.select(F.col(id_col).alias(qcol)))

    def kern(batches):
        import pandas as pd

        qids, qmat, cids, cmat = bc.value
        pos = {int(i): p for p, i in enumerate(qids)}
        n, d = cmat.shape
        # block query rows so the (B, n) distance scratch stays ~32 MB
        blk = max(1, int((32 << 20) // max(n * 8, 1)))
        for pdf in batches:
            if len(pdf) == 0:
                continue
            qi_all = np.asarray(
                [pos.get(i, -1) for i in pdf[qcol]], dtype=np.int64
            )
            ids_all = pdf[qcol].to_numpy()
            ok = qi_all >= 0  # inner-join semantics for absent ids
            qi_all, ids_all = qi_all[ok], ids_all[ok]
            for lo in range(0, len(qi_all), blk):
                qi = qi_all[lo : lo + blk]
                ids_blk = ids_all[lo : lo + blk].astype(np.int64)
                a = qmat[qi]
                # sequential over lanes == the l2_sq fold's add chain
                acc = np.zeros((len(qi), n), dtype=np.float64)
                for i in range(d):
                    diff = a[:, i][:, None] - cmat[:, i][None, :]
                    acc += diff * diff
                if exclude_self:
                    # a masked cell is never selected, so acc keeps the
                    # distances of every cell emitted below
                    _mask_self(acc, ids_blk, cids)
                r, cj = np.nonzero(_topk_mask(acc, k, round_dp))
                yield pd.DataFrame(
                    {
                        qcol: ids_blk[r],
                        ccol: cids[cj],
                        "d": acc[r, cj],
                    }
                )

    return qid.mapInPandas(
        kern, schema=f"{qcol} long, {ccol} long, d double"
    )


def exact_l2_pair_scorer(
    qframe: DataFrame,
    cframe: DataFrame,
    id_col: str,
    vec_col: str,
):
    """Build ``score(pairs, qcol, ccol) -> DataFrame[qcol, ccol,
    d double]`` over broadcast vector matrices, or return ``None``
    when the gates decline (caller keeps the declarative join path).

    ``qframe``/``cframe`` may be the same object (self-join tiers) —
    the matrix is then collected once. ``d`` is the unrounded L2²,
    bit-identical to ``l2_sq`` (see module doc); callers apply their
    own JVM ``round`` to it.
    """
    import numpy as np

    m = admit_matrices(qframe, cframe, id_col, vec_col)
    if m is None:
        return None
    bc = qframe.sparkSession.sparkContext.broadcast(m)

    def score(
        pairs: DataFrame, qcol: str = "query_id", ccol: str = "cand_id"
    ) -> DataFrame:
        def kern(batches):
            import pandas as pd

            qids, qmat, cids, cmat = bc.value
            qpos = {int(i): p for p, i in enumerate(qids)}
            cpos = qpos if qids is cids else {
                int(i): p for p, i in enumerate(cids)
            }
            d = qmat.shape[1]
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                qi = np.asarray(
                    [qpos.get(i, -1) for i in pdf[qcol]], dtype=np.int64
                )
                ci = np.asarray(
                    [cpos.get(i, -1) for i in pdf[ccol]], dtype=np.int64
                )
                keep = (qi >= 0) & (ci >= 0)  # inner-join semantics
                if not keep.all():
                    pdf = pdf[keep]
                    qi, ci = qi[keep], ci[keep]
                if len(pdf) == 0:
                    continue
                a, b = qmat[qi], cmat[ci]
                # sequential over lanes == the l2_sq fold's add chain
                acc = np.zeros(len(pdf), dtype=np.float64)
                for i in range(d):
                    diff = a[:, i] - b[:, i]
                    acc += diff * diff
                yield pd.DataFrame(
                    {
                        qcol: pdf[qcol].to_numpy(),
                        ccol: pdf[ccol].to_numpy(),
                        "d": acc,
                    }
                )

        return pairs.select(qcol, ccol).mapInPandas(
            kern, schema=f"{qcol} long, {ccol} long, d double"
        )

    return score
