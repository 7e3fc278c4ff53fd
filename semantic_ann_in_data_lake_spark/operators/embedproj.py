"""Embedding projection preprocessing: distributed PCA and a
hash-derived Johnson-Lindenstrauss sign projection — the
dimensionality-reduction front end of a production ANN stack.

Extension beyond the reference surface (the reference feeds raw
MiniLM vectors straight into FAISS/hnswlib, ``DeepJoin/annIndex.py``),
but the canonical public shape for ANN at scale: FAISS deployments
put a ``PCAMatrix`` / OPQ rotation in front of the index, and
JL sign projections (Achlioptas 2003) are the standard data-oblivious
alternative when a training pass is unwanted.

Cross-engine / determinism discipline:

- The covariance pass quantizes inputs to 6-dp integer micro-units
  (the repo's z-score idiom, ``plans/q_ann.py`` outlier oracle) so
  every moment is an exact integer/DECIMAL sum — bit-identical across
  partitionings and engines; the covariance itself is then one fixed
  tree of double ops over those exact sums, rounded to 9 dp. The
  (i, j, n, cov) relation is directly hash-gateable against DuckDB.
- The eigendecomposition runs on the driver over the tiny d×d matrix
  (d² floats — 64-dim embeddings mean a 32 KiB problem regardless of
  corpus size) with a deterministic sign convention. The ROTATION is
  not hash-gated (LAPACK output is not a cross-engine contract);
  instead its invariant projections are: a full-rank rotation must
  preserve centered L2 norms row-by-row, a reduced projection must be
  non-expansive. Violations are empty iff the contract holds — the
  ``operators/checks.py`` pattern.
- The JL projection derives its ±1 matrix from md5 over
  ``"{seed}:{i}:{j}"`` (ascii parity of the first hex digit), which
  Python's hashlib, Spark's ``md5()`` and DuckDB's ``md5()`` all agree
  on — so the PROJECTED VECTORS themselves are hash-gateable.

Scale design:

- Covariance: one row-local nested-``transform`` explode generates the
  d(d+1)/2 upper-triangle terms per row (no self-join), and the keyed
  aggregation has d(d+1)/2 distinct keys — map-side partial combine
  makes the shuffle |partitions|·d² partial sums, never |rows|·d².
- ``pca_fit``'s single ``collect()`` is the d(d+1)/2-row moment table
  (bounded by the embedding dimension, not the corpus).
- Transforms are single JVM ``transform`` lambdas over the rotation
  matrix shipped as a 1-row broadcast of nested arrays — zero Python
  in the hot path, and O(1) plan nodes at any dimension (literal
  arrays would put m·d Catalyst nodes on the analysis/codegen path;
  see ``_model_frame``).
- ``knn_pca_refine`` = IVF shortlist in the reduced space + exact
  re-rank on raw vectors (``knn._rescore_pairs`` then
  ``knn._ranked_topk``, the refine stage every refine tier shares):
  the standard rotate→compress→refine production ladder, never
  quadratic.
"""

from __future__ import annotations

import hashlib
import math
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from semantic_ann_in_data_lake_spark.functions.vectors import dot
from semantic_ann_in_data_lake_spark.operators.knn import (
    _empty_topk, _ranked_topk, _rescore_pairs, knn_join,
)

#: micro-unit quantization of the covariance inputs (see module doc).
COV_QUANT_DP = 6
#: relative tolerance for the rotation invariants: double matmul noise
#: for d≤1024 is ~1e-12 relative; 1e-7 keeps the check honest without
#: gating on BLAS summation order.
ROTATION_TOL = 1e-7


def _dim(df: DataFrame, vec_col: str) -> int:
    first = df.select(vec_col).head(1)
    if not first or first[0][0] is None:
        raise ValueError(f"cannot infer dimension of empty {vec_col!r}")
    return len(first[0][0])


def embedding_cov_moments(
    df: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Exact upper-triangle second-moment table of the 6-dp-quantized
    embeddings: ``(i, j, n, sx, sy, sxy)`` for ``0 <= i <= j < d``
    where ``x6 = round(x·1e6)`` per lane and the sums are integer/
    DECIMAL (partition-order-independent by construction).

    One row-local explode of the d(d+1)/2 pair terms, one keyed
    aggregate with map-side combine (d(d+1)/2 keys). ``sx``/``sy`` at
    key (i, j) are the lane-i / lane-j micro-sums — every row
    contributes to every key, so the means fall out of the same pass.
    Int64 envelope: |x| ≤ ~3e3 keeps x6·x6 under 9e18 per term; the
    DECIMAL(38,0) accumulation then holds to ~1e20 rows.
    """
    q = df.select(
        F.transform(
            F.col(vec_col).cast("array<double>"),
            lambda x: F.round(x * F.lit(float(10**COV_QUANT_DP))).cast("bigint"),
        ).alias("q6")
    )

    # Quantization stays a JVM expression (exact HALF_UP round, one
    # eval per lane), but the
    # d(d+1)/2 pair terms are accumulated as int64 BLOCK MATMULS in an
    # Arrow-batched kernel instead of exploding 4M struct rows per 2k
    # docs through an interpreted HOF + decimal hash aggregate
    # (measured 5.9 s → sub-second at sf0.1; every covariance consumer
    # — the gated relation, PCA/OPQ fits, the whitening checks —
    # inherits it). Exactness: all sums are INTEGER, so any grouping
    # order gives the same totals; each block is sized so every QᵀQ
    # entry fits int64 under the same |x| ≤ ~3e3 per-term envelope the
    # former formulation documented, partials ship as int64 rows per
    # (block, i, j), and the final tiny DECIMAL(38,0) merge is the one
    # keyed aggregate (d(d+1)/2 keys), bit-identical to the explode
    # formulation (A/B-pinned in tests, hash-gated).
    def partials(batches):
        import numpy as np
        import pandas as pd

        def dense_group(qm: "np.ndarray"):
            """Int64 fast path over a rectangular no-null group."""
            d = qm.shape[1]
            iu, ju = np.triu_indices(d)
            maxq = int(np.abs(qm).max()) or 1
            # per-block row cap: blk·maxq² ≤ 2^62 keeps every QᵀQ
            # entry exact in int64 (≥ 1 whenever a single product
            # fits, the operator's documented envelope)
            blk = max(1, int((1 << 62) // (maxq * maxq)))
            for lo in range(0, len(qm), blk):
                s = qm[lo : lo + blk]
                g = s.T @ s  # (d, d) int64, exact by block sizing
                cs = s.sum(axis=0)  # |blk·maxq| ≤ 2^62/maxq: exact
                nb = np.int64(len(s))
                yield pd.DataFrame(
                    {
                        "i": iu,
                        "j": ju,
                        "n": nb,
                        "sx": cs[iu],
                        "sy": cs[ju],
                        "sxy": g[iu, ju],
                    }
                )

        def masked_group(vals: list):
            """Null-lane group: exact integer sums with the explode
            formulation's null semantics — n counts every row of the
            group at every key, sx/sy skip null lanes, sxy skips pairs
            where either lane is null, and a key with ZERO valid
            contributions ships a NULL partial (so the final SUM stays
            NULL when every batch is empty-valid, exactly like
            SUM(xi) over all-null input)."""
            d = len(vals[0])
            iu, ju = np.triu_indices(d)
            qf = np.asarray(
                [[np.nan if x is None else float(x) for x in r] for r in vals],
                dtype=np.float64,
            )
            mask = ~np.isnan(qf)
            x = np.where(mask, qf, 0.0).astype(np.int64)
            maxq = int(np.abs(x).max()) or 1
            blk = max(1, int((1 << 62) // (maxq * maxq)))
            for lo in range(0, len(x), blk):
                s, m = x[lo : lo + blk], mask[lo : lo + blk]
                g = s.T @ s  # invalid lanes are 0 ⇒ both-valid sum
                cs = s.sum(axis=0)
                nvx = m.sum(axis=0)  # valid count per lane
                nv = m.astype(np.int64).T @ m.astype(np.int64)
                sx = [int(cs[i]) if nvx[i] else None for i in iu]
                sy = [int(cs[j]) if nvx[j] else None for j in ju]
                sxy = [
                    int(g[i, j]) if nv[i, j] else None
                    for i, j in zip(iu, ju)
                ]
                yield pd.DataFrame(
                    {
                        "i": iu,
                        "j": ju,
                        "n": np.int64(len(s)),
                        "sx": pd.array(sx, dtype="Int64"),
                        "sy": pd.array(sy, dtype="Int64"),
                        "sxy": pd.array(sxy, dtype="Int64"),
                    }
                )

        for pdf in batches:
            rows = [r for r in pdf["q6"] if r is not None]
            if not rows:
                continue
            # group rows by dimension: the explode formulation emitted
            # keys (i ≤ j < len(row)) PER ROW, so a ragged batch is a
            # union of per-dim-group rectangular kernels with the same
            # per-(i,j) counts — the common all-same-d case is one
            # group and takes the unchanged fast path
            by_dim: dict[int, list] = {}
            for r in rows:
                by_dim.setdefault(len(r), []).append(r)
            out = []
            for d, vals in sorted(by_dim.items()):
                if d == 0:
                    # explode-formulation degenerate keys for an EMPTY
                    # q6 array: sequence(0, -1) is the descending
                    # [0, -1], yielding keys (0,0), (0,-1), (-1,-1)
                    # with null value lanes — replicated so an empty-
                    # vector corpus stays bit-identical to the old
                    # shape instead of crashing the kernel
                    out.append(
                        pd.DataFrame(
                            {
                                "i": [0, 0, -1],
                                "j": [0, -1, -1],
                                "n": np.int64(len(vals)),
                                "sx": pd.array(
                                    [None] * 3, dtype="Int64"
                                ),
                                "sy": pd.array(
                                    [None] * 3, dtype="Int64"
                                ),
                                "sxy": pd.array(
                                    [None] * 3, dtype="Int64"
                                ),
                            }
                        )
                    )
                    continue
                # null lanes surface as None (object lanes) or NaN
                # (float lanes) depending on Arrow's conversion; the
                # int64 cast rejects both, routing to the masked path
                try:
                    dense = np.asarray(vals, dtype=np.int64)
                except (TypeError, ValueError):
                    dense = None
                gen = (
                    dense_group(dense)
                    if dense is not None
                    else masked_group(vals)
                )
                out.extend(gen)
            if out:
                yield pd.concat(out, ignore_index=True)

    part = q.mapInPandas(
        partials, schema="i int, j int, n long, sx long, sy long, sxy long"
    )
    return part.groupBy("i", "j").agg(
        F.sum("n").alias("n"),
        F.sum(F.col("sx").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("sy").cast("decimal(38,0)")).alias("sy"),
        F.sum(F.col("sxy").cast("decimal(38,0)")).alias("sxy"),
    )


def _cov_expr(round_dp: int) -> Column:
    """cov = E[xy] − E[x]E[y] as ONE fixed tree of double ops over the
    exact moment sums — mirrored verbatim by :func:`covariance_sql`."""
    scale = float(10**COV_QUANT_DP)
    n = F.col("n")
    mx = F.col("sx").cast("double") / F.lit(scale) / n
    my = F.col("sy").cast("double") / F.lit(scale) / n
    exy = F.col("sxy").cast("double") / F.lit(scale * scale) / n
    return F.round(exy - mx * my, round_dp)


def embedding_covariance(
    df: DataFrame, vec_col: str = "embedding", round_dp: int = 9
) -> DataFrame:
    """Upper-triangle covariance relation ``(i, j, n, cov)`` of the
    quantized embeddings — the hash-gateable face of the PCA fit."""
    return (
        embedding_cov_moments(df, vec_col)
        .select(
            F.col("i").cast("int").alias("i"),
            F.col("j").cast("int").alias("j"),
            F.col("n").cast("bigint").alias("n"),
            _cov_expr(round_dp).alias("cov"),
        )
    )


def covariance_sql(table: str = "embeddings", vec: str = "embedding",
                   round_dp: int = 9) -> str:
    """DuckDB twin of :func:`embedding_covariance` (same quantization,
    same exact sums, same double tree)."""
    s = 10**COV_QUANT_DP
    return f"""
    WITH q AS (
      SELECT list_transform({vec},
               x -> CAST(round(x::DOUBLE * {s}.0) AS BIGINT)) AS q6
      FROM {table}),
    p AS (
      SELECT gi.i AS i, gj.j AS j, q6[gi.i + 1] AS xi, q6[gj.j + 1] AS xj
      FROM q
      CROSS JOIN (SELECT unnest(range(0, len_q)) AS i
                  FROM (SELECT max(len(q6)) AS len_q FROM q)) gi
      CROSS JOIN (SELECT unnest(range(0, len_q)) AS j
                  FROM (SELECT max(len(q6)) AS len_q FROM q)) gj
      WHERE gi.i <= gj.j AND gj.j < len(q6)),
    a AS (
      SELECT i, j, count(*) AS n,
             sum(xi)::DECIMAL(38,0) AS sx, sum(xj)::DECIMAL(38,0) AS sy,
             sum(xi * xj)::DECIMAL(38,0) AS sxy
      FROM p GROUP BY 1, 2)
    SELECT i::INT AS i, j::INT AS j, n::BIGINT AS n,
           round(sxy::DOUBLE / {s}.0 / {s}.0 / n
                 - (sx::DOUBLE / {s}.0 / n) * (sy::DOUBLE / {s}.0 / n),
                 {round_dp}) AS cov
    FROM a
    """


@dataclass(frozen=True)
class PCAModel:
    """Driver-side PCA rotation: ``components[r]`` is the r-th
    principal axis (rows of R, descending eigenvalue), ``mean`` the
    per-lane mean of the quantized fit corpus."""

    mean: tuple[float, ...]
    components: tuple[tuple[float, ...], ...]  # m × d
    explained_var: tuple[float, ...]  # m, descending
    n: int

    @property
    def dim(self) -> int:
        return len(self.mean)

    @property
    def m(self) -> int:
        return len(self.components)


def merge_cov_moments(a: DataFrame, b: DataFrame) -> DataFrame:
    """EXACT merge of two :func:`embedding_cov_moments` relations:
    the moment sums are integer/DECIMAL, and decimal addition is
    associative and commutative, so
    ``merge(moments(A), moments(B)) == moments(A ∪ B)`` bit-for-bit —
    the property that makes the PCA fit embarrassingly incremental
    (accumulate per ingest batch, refit whenever; see
    ``streaming/pca_stream.py``). The full-outer join is defensive
    (both sides normally carry the same d(d+1)/2 keys — the fit
    assumes one uniform dimension)."""
    z = F.lit(0).cast("decimal(38,0)")
    return (
        a.select("i", "j", "n", "sx", "sy", "sxy")
        .join(
            b.select(
                "i", "j",
                F.col("n").alias("__n2"), F.col("sx").alias("__sx2"),
                F.col("sy").alias("__sy2"), F.col("sxy").alias("__sxy2"),
            ),
            ["i", "j"],
            "full",
        )
        .select(
            "i",
            "j",
            (
                F.coalesce(F.col("n"), F.lit(0))
                + F.coalesce(F.col("__n2"), F.lit(0))
            ).alias("n"),
            (F.coalesce(F.col("sx"), z) + F.coalesce(F.col("__sx2"), z)).alias("sx"),
            (F.coalesce(F.col("sy"), z) + F.coalesce(F.col("__sy2"), z)).alias("sy"),
            (F.coalesce(F.col("sxy"), z) + F.coalesce(F.col("__sxy2"), z)).alias("sxy"),
        )
    )


def pca_fit_from_moments(moments: DataFrame, m: int | None = None) -> PCAModel:
    """Fit from an already-accumulated moments relation (the
    incremental/streaming path) — identical math to :func:`pca_fit`,
    which is just ``pca_fit_from_moments(embedding_cov_moments(df))``."""
    return _fit_from_moment_rows(moments.collect(), m)


def pca_fit(
    df: DataFrame, m: int | None = None, vec_col: str = "embedding"
) -> PCAModel:
    """Fit the PCA rotation from the exact covariance relation.

    The distributed part is :func:`embedding_cov_moments`; the
    ``collect()`` here is d(d+1)/2 rows (dimension-bounded — 2 080 for
    d=64 — never corpus-bounded). ``numpy.linalg.eigh`` runs on the
    driver over the symmetric d×d matrix; eigenvectors are ordered by
    descending eigenvalue (index-ascending tie-break via the stable
    sort) and sign-fixed so each axis's largest-|component| lane is
    positive (first such lane on ties) — the standard convention that
    makes the rotation reproducible across LAPACK builds up to fp
    noise, which the invariant gates absorb.
    """
    return _fit_from_moment_rows(
        embedding_cov_moments(df, vec_col).collect(), m
    )


def _fit_from_moment_rows(rows, m: int | None) -> PCAModel:
    import numpy as np

    if not rows:
        raise ValueError("pca_fit on an empty frame")
    d = max(r["j"] for r in rows) + 1
    if m is None:
        m = d
    if not 1 <= m <= d:
        raise ValueError(f"m must be in [1, {d}], got {m}")
    scale = float(10**COV_QUANT_DP)
    n = rows[0]["n"]
    cov = np.zeros((d, d))
    mean = np.zeros(d)
    for r in rows:
        i, j = r["i"], r["j"]
        mx = float(r["sx"]) / scale / n
        my = float(r["sy"]) / scale / n
        exy = float(r["sxy"]) / scale / scale / n
        cov[i, j] = cov[j, i] = exy - mx * my
        if i == j:
            mean[i] = mx
    w, v = np.linalg.eigh(cov)  # ascending
    order = np.argsort(-w, kind="stable")[:m]
    comps = []
    for idx in order:
        axis = v[:, idx]
        lead = int(np.argmax(np.abs(axis)))
        if axis[lead] < 0:
            axis = -axis
        comps.append(tuple(float(x) for x in axis))
    return PCAModel(
        mean=tuple(float(x) for x in mean),
        components=tuple(comps),
        explained_var=tuple(float(w[idx]) for idx in order),
        n=int(n),
    )


def _model_frame(df: DataFrame, model: PCAModel) -> DataFrame:
    """The rotation shipped as DATA: a 1-row frame carrying the m×d
    component matrix and the mean as nested arrays, crossJoin-broadcast
    into the projection (the repo's sanctioned 1-row scalar broadcast).

    Why not literal arrays in the plan: m·d literal expression NODES
    (4 096 at d=64 full rank, ~1 M at d=1024) put Catalyst analysis
    and whole-stage codegen on the hot path — measured 14.3 s for the
    OPQ bench entry at sf0.1 versus 4.4 s for the literal-free IVF-PQ
    twin, with the executors idle. As data, the matrix costs O(1) plan
    nodes and one broadcast row regardless of dimension."""
    spark = df.sparkSession
    return spark.createDataFrame(
        [([list(c) for c in model.components], list(model.mean))],
        "__R array<array<double>>, __mu array<double>",
    )


def _centered_col(vec_col: str) -> Column:
    return F.zip_with(
        F.col(vec_col).cast("array<double>"),
        F.col("__mu"),
        lambda x, mu: x - mu,
    )


def pca_transform(
    df: DataFrame,
    model: PCAModel,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "proj",
    round_dp: int = 6,
) -> DataFrame:
    """Apply the rotation: ``(id_col, out_col)`` with
    ``out[r] = round(components[r] · (x − mean), round_dp)``.

    One JVM ``transform`` over the broadcast matrix row — no Python,
    no shuffle, plan size independent of m·d (see
    :func:`_model_frame`)."""
    base = df.crossJoin(F.broadcast(_model_frame(df, model))).select(
        F.col(id_col), _centered_col(vec_col).alias("__c"), "__R"
    )
    proj = F.transform(
        "__R", lambda row: F.round(dot("__c", row), round_dp)
    )
    return base.select(F.col(id_col), proj.alias(out_col))


def pca_invariant_violations(
    df: DataFrame,
    model: PCAModel,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tol: float = ROTATION_TOL,
) -> DataFrame:
    """Violations of the rotation contract over ``df`` — empty iff it
    holds (the ``operators/checks.py`` pattern; the oracle is the
    empty relation):

    - full-rank model (m == d): ``‖R(x−mean)‖² == ‖x−mean‖²`` within
      ``tol·(1+‖x−mean‖²)`` — an orthonormal rotation preserves norms,
      so any broken axis surfaces on real data;
    - reduced model (m < d): ``‖y‖² ≤ ‖x−mean‖²·(1+tol)+tol`` — an
      orthonormal-row projection is non-expansive.

    Norms are computed UNROUNDED inside the check (output rounding
    would otherwise need a d-dependent slack). Returns
    ``(vec_id, norm_in, norm_out, violation)``.
    """
    base = df.crossJoin(F.broadcast(_model_frame(df, model))).select(
        F.col(id_col).alias("vec_id"),
        _centered_col(vec_col).alias("__c"),
        "__R",
    )
    y_sq = F.aggregate(
        F.transform("__R", lambda row: dot("__c", row)),
        F.lit(0.0),
        lambda acc, t: acc + t * t,
    )
    c_sq = dot("__c", "__c")
    scored = base.select(
        "vec_id", c_sq.alias("__nin"), y_sq.alias("__nout")
    )
    if model.m == model.dim:
        bad = F.abs(F.col("__nout") - F.col("__nin")) > F.lit(tol) * (
            F.lit(1.0) + F.col("__nin")
        )
        tag = F.lit("norm_not_preserved")
    else:
        bad = F.col("__nout") > F.col("__nin") * (1.0 + tol) + tol
        tag = F.lit("expansion")
    return scored.where(bad).select(
        "vec_id",
        F.round("__nin", 6).alias("norm_in"),
        F.round("__nout", 6).alias("norm_out"),
        tag.alias("violation"),
    )


# --- Johnson-Lindenstrauss sign projection -------------------------------

def jl_sign(seed: int, i: int, j: int) -> int:
    """±1 from the ascii parity of the first hex digit of
    ``md5("{seed}:{i}:{j}")`` — the exact derivation Spark's and
    DuckDB's ``md5()`` reproduce (both emit lowercase hex)."""
    h = hashlib.md5(f"{seed}:{i}:{j}".encode()).hexdigest()
    return (ord(h[0]) % 2) * 2 - 1


def jl_transform(
    df: DataFrame,
    m: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "proj",
    round_dp: int = 6,
) -> DataFrame:
    """Data-oblivious JL sign projection (Achlioptas 2003, dense ±1
    variant): ``out[j] = round((Σ_i x_i·s(i,j)) / √m, round_dp)`` with
    ``s`` from :func:`jl_sign`. Deterministic end to end, so the
    projected vectors themselves are hash-gateable cross-engine
    (:func:`jl_sql` is the DuckDB twin). Pure JVM folds over literal
    ±1 arrays; no fit pass, no shuffle."""
    d = _dim(df, vec_col)
    inv = float(math.sqrt(m))
    # the sign matrix ships as DATA (1-row broadcast), not as m·d
    # literal plan nodes — see _model_frame for the rationale
    sdf = df.sparkSession.createDataFrame(
        [([[float(jl_sign(seed, i, j)) for i in range(d)]
           for j in range(m)],)],
        "__S array<array<double>>",
    )
    base = df.crossJoin(F.broadcast(sdf))
    proj = F.transform(
        "__S",
        lambda row: F.round(
            dot(F.col(vec_col).cast("array<double>"), row) / F.lit(inv),
            round_dp,
        ),
    )
    return base.select(F.col(id_col), proj.alias(out_col))


def jl_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec: str = "embedding",
    m: int = 16,
    seed: int = 42,
    round_dp: int = 6,
    as_string: bool = False,
) -> str:
    """DuckDB twin of :func:`jl_transform` — recomputes the sign matrix
    from md5 IN SQL (the oracle does not trust the driver's literals).
    ``as_string`` serializes the projection '%.6f'-formatted and
    '|'-joined (the repo's array-for-the-hash-gate idiom)."""
    inv = repr(math.sqrt(m))
    lst = f"""list_transform(range(0, {m}), j ->
             round(list_sum(list_transform(range(1, len({vec}) + 1), i ->
               ({vec}[i]::DOUBLE) *
               ((ascii(substr(md5('{seed}:' || (i - 1)::VARCHAR
                              || ':' || j::VARCHAR), 1, 1)) % 2) * 2 - 1)))
               / {inv}, {round_dp}))"""
    if as_string:
        lst = (
            "array_to_string(list_transform(" + lst +
            ", x -> printf('%.6f', x)), '|')"
        )
    return f"SELECT {id_col}, {lst} AS proj FROM {table}"


def _refine_model(
    df: DataFrame, vec_col: str, m: int | None = None
) -> PCAModel | None:
    """The refine tiers' PCA fit over ``df``: ``m`` clamped to the
    corpus dimension (:func:`_dim` — a corpus under ``m`` dimensions
    gets a full-rank rotation; ``None`` fits full rank), or ``None``
    when ``df`` has no rows, where the tier returns the empty top-k."""
    if df.isEmpty():
        return None
    if m is not None:
        m = min(m, _dim(df, vec_col))
    return pca_fit(df, m=m, vec_col=vec_col)


def knn_pca_refine(
    queries: DataFrame,
    candidates: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    m: int = 32,
    refine_factor: int = 4,
    nlist: int | None = None,
    nprobe: int = 4,
    exclude_self: bool = True,
    round_dp: int = 6,
    model: PCAModel | None = None,
) -> DataFrame:
    """The rotate→compress→refine production ANN ladder (FAISS
    ``PCAMatrix`` + IVF + ``IndexRefineFlat``): project both sides onto
    the top-m principal axes, shortlist ``k·refine_factor`` per query
    with the sub-quadratic IVF tier IN THE REDUCED SPACE (m-dim fold
    cost instead of d-dim), then re-score the shortlist exactly on the
    RAW vectors and return the standard ranked top-k.

    Distances are therefore TRUE L2² — the symmetric invariant
    projection (``checks.knn_invariant_violations``) gates this tier
    exactly like the LSH/IVF/refine ones. Recall floors stay in pytest.
    Cost: one covariance pass (unless ``model`` is supplied), two
    projection maps, the m-dim IVF probe, and an O(n·k·refine_factor·d)
    re-rank — nothing quadratic. A corpus under ``m`` dimensions gets
    a full-rank rotation, and an empty one the empty top-k.
    """
    from semantic_ann_in_data_lake_spark.cache import scoped_persist

    if refine_factor < 1:
        raise ValueError(f"refine_factor must be >= 1, got {refine_factor}")
    if model is None:
        model = _refine_model(candidates, vec_col, m)
        if model is None:
            return _empty_topk(candidates.sparkSession)
    # persist the projections: the IVF probe references its input more
    # than once (cell assignment + scoring), and recomputing the
    # rotation per reference doubles the map work for nothing
    pq_q = scoped_persist(pca_transform(queries, model, id_col, vec_col))
    pq_c = (
        pq_q
        if candidates is queries
        else scoped_persist(
            pca_transform(candidates, model, id_col, vec_col)
        )
    )
    shortlist = knn_join(
        pq_q,
        pq_c,
        id_col=id_col,
        vec_col="proj",
        k=k * refine_factor,
        strategy="ivf",
        nlist=nlist,
        nprobe=nprobe,
        exclude_self=exclude_self,
        round_dp=round_dp,
    )
    rescored = _rescore_pairs(
        shortlist, queries, candidates, id_col, vec_col, round_dp
    )
    return _ranked_topk(rescored, k, "l2_sq")


def knn_nndescent_refine(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    m: int = 32,
    refine_factor: int = 4,
    iters: int = 3,
    seed: int = 42,
    reverse_cap: int | None = None,
    round_dp: int = 6,
    min_update_frac: float | None = None,
    model: PCAModel | None = None,
) -> DataFrame:
    """Graph-ANN in the compressed space, exact ranks on the raw
    vectors — the build-on-compressed / rank-on-raw pattern the disk-
    resident graph indexes (e.g. DiskANN, Subramanya et al. 2019)
    popularized, composed from this engine's public pieces: project
    onto the top-``m`` principal axes (one covariance pass unless
    ``model`` is supplied), run NN-descent AT ``k·refine_factor``
    DEGREE in the m-dim subspace — every descent round's distance fold
    costs m lanes instead of d, the dominant term of the build — then
    re-score the shortlist exactly on raw vectors and return the
    standard ranked top-k. Distances are TRUE L2², so
    `checks.knn_invariant_violations` gates this tier like every
    refine tier (`plans/q_ann.py::knn_nndescent_refine_l2`); recall
    floors stay in pytest.

    A SELF-join construction (the graph is over one corpus), like
    plain NN-descent. Cost: fit + two projection maps +
    O(n·((k·rf)+rk)²·T) m-dim candidate scorings + the
    n·k·refine_factor exact d-dim re-rank — linear in n at fixed
    degree, nothing quadratic."""
    from semantic_ann_in_data_lake_spark.cache import scoped_persist
    from semantic_ann_in_data_lake_spark.operators.nndescent import (
        nndescent_knn_graph,
    )

    if refine_factor < 1:
        raise ValueError(f"refine_factor must be >= 1, got {refine_factor}")
    if model is None:
        model = _refine_model(emb, vec_col, m)
        if model is None:
            return _empty_topk(emb.sparkSession)
    red = scoped_persist(pca_transform(emb, model, id_col, vec_col))
    shortlist = nndescent_knn_graph(
        red,
        k=k * refine_factor,
        iters=iters,
        seed=seed,
        id_col=id_col,
        vec_col="proj",
        reverse_cap=reverse_cap,
        round_dp=round_dp,
        min_update_frac=min_update_frac,
    )
    rescored = _rescore_pairs(shortlist, emb, emb, id_col, vec_col, round_dp)
    return _ranked_topk(rescored, k, "l2_sq")


def opq_axis_interleave(model: PCAModel, m_pq: int) -> PCAModel:
    """Reorder a FULL-RANK rotation's axes round-robin across ``m_pq``
    contiguous groups — the cheap public stand-in for OPQ's balanced
    rotation (FAISS practitioners' "PCA then spread the energy"): a
    product quantizer splits the vector into m_pq contiguous
    subvectors, and raw PCA order would dump all the variance into the
    first subquantizer; interleaving gives every subquantizer one axis
    from each variance band. A permutation of orthonormal rows is
    still orthonormal, so every rotation invariant
    (:func:`pca_invariant_violations`) holds verbatim.
    """
    if model.m != model.dim:
        raise ValueError("opq_axis_interleave needs a full-rank model")
    d = model.dim
    if not 1 <= m_pq <= d or d % m_pq:
        raise ValueError(f"m_pq must divide dim ({d}), got {m_pq}")
    sub = d // m_pq
    # group g takes ranks g, g+m_pq, g+2·m_pq, … (variance bands spread
    # round-robin); axes within a group stay in descending-variance order
    order = [g + r * m_pq for g in range(m_pq) for r in range(sub)]
    return PCAModel(
        mean=model.mean,
        components=tuple(model.components[i] for i in order),
        explained_var=tuple(model.explained_var[i] for i in order),
        n=model.n,
    )


def knn_opq_refine(
    queries: DataFrame,
    candidates: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    m_pq: int = 16,
    ksub: int = 256,
    refine_factor: int = 4,
    nlist: int | None = None,
    nprobe: int = 4,
    exclude_self: bool = True,
    round_dp: int = 6,
    model: PCAModel | None = None,
) -> DataFrame:
    """OPQ-shaped ANN tier (Ge et al. 2013 / FAISS ``OPQMatrix`` +
    IVFPQ + refine): rotate with the energy-interleaved FULL-RANK PCA
    basis (L2-preserving, so rotated-space distances ARE the true
    distances), run the compressed IVF-PQ shortlist on the rotated
    vectors — where the subquantizers see decorrelated, variance-
    balanced coordinates — then re-score the shortlist exactly on the
    RAW vectors. Returned distances are TRUE L2², so the symmetric
    invariant projection gates this tier like every refine tier.

    Cost on top of :func:`knn_pca_refine`: none structurally — one
    covariance pass (unless ``model`` is given), two projection maps,
    the IVF-PQ probe, the n·k·refine_factor exact re-rank.
    """
    from semantic_ann_in_data_lake_spark.cache import scoped_persist
    from semantic_ann_in_data_lake_spark.operators.pq import knn_ivf_pq

    if refine_factor < 1:
        raise ValueError(f"refine_factor must be >= 1, got {refine_factor}")
    if model is None:
        model = _refine_model(candidates, vec_col)
        if model is None:
            return _empty_topk(candidates.sparkSession)
    # as _refine_model clamps m: a dimension 16 does not divide gets the
    # largest subquantizer count that divides both
    m_pq = math.gcd(m_pq, model.dim)
    rot = opq_axis_interleave(model, m_pq)
    # persist the full-rank rotation: the IVF-PQ probe walks its input
    # several times (codebook fit sample, cell assignment, ADC scan)
    rq = scoped_persist(pca_transform(queries, rot, id_col, vec_col))
    rc = (
        rq
        if candidates is queries
        else scoped_persist(pca_transform(candidates, rot, id_col, vec_col))
    )
    shortlist = knn_ivf_pq(
        rq, rc, id_col, "proj", k=k * refine_factor,
        nlist=nlist, nprobe=nprobe, m=m_pq, ksub=ksub,
        exclude_self=exclude_self, round_dp=round_dp,
    )
    rescored = _rescore_pairs(
        shortlist, queries, candidates, id_col, vec_col, round_dp
    )
    return _ranked_topk(rescored, k, "l2_sq")


def pca_whiten_model(model: PCAModel, eps: float = 1e-9) -> PCAModel:
    """Whitening transform from a PCA fit: rows scaled by 1/√λ, so
    the whitened corpus has identity covariance — the standard
    retrieval-embedding post-processing (whitening removes the
    anisotropy that makes raw sentence-embedding cosine scores
    saturate; see the public whitening-BERT line of work and FAISS's
    PCAMatrix(eigen_power=-0.5)).

    The result is NOT a rotation (rows are orthogonal but not unit
    norm), so :func:`pca_invariant_violations` does not apply; its
    contract is :func:`whitening_violations` — the whitened corpus's
    own covariance must be the identity, which holds EXACTLY (to fp +
    quantization noise) when the fit corpus is the transformed corpus:
    cov(Λ^{-1/2}·R·(x−μ)) = Λ^{-1/2}·R·C·Rᵀ·Λ^{-1/2} = I.

    ``explained_var`` keeps the ORIGINAL eigenvalues (the whitened
    ones are 1 by construction; callers need λ to know what was
    floored). Axes with λ ≤ eps are floored at eps — on degenerate
    directions the identity property then holds only for the
    un-floored axes (`whitening_violations` checks those).
    """
    comps = tuple(
        tuple(c / math.sqrt(max(lam, eps)) for c in axis)
        for axis, lam in zip(model.components, model.explained_var)
    )
    return PCAModel(
        mean=model.mean,
        components=comps,
        explained_var=model.explained_var,
        n=model.n,
    )


def whitening_violations(
    df: DataFrame,
    model: PCAModel | None = None,
    m: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tol: float = 1e-3,
    eps: float = 1e-9,
) -> DataFrame:
    """Contract of the whitening transform, as a violations projection
    (empty iff it holds): the covariance of the whitened corpus equals
    the identity — diagonal 1, off-diagonal 0 — within ``tol`` on
    every un-floored axis pair.

    This is a REAL distributed property check: it re-runs the exact
    covariance pass (:func:`embedding_covariance`) over the
    transformed vectors, so a wrong eigenvalue, a broken axis scale,
    or a stale mean all surface as non-identity entries. ``tol``
    absorbs the 6-dp quantization of the covariance pass's inputs
    (≤ ~1e-5 per entry at unit scale) and the fit's own quantized
    inputs; 1e-3 keeps an order-of-magnitude margin without masking a
    single swapped or mis-scaled axis (those show up at O(1)).

    Returns ``(i, j, cov, expected, violation)``.
    """
    if model is None:
        model = pca_fit(df, m=m, vec_col=vec_col)
    w = pca_whiten_model(model, eps=eps)
    keep = sum(1 for lam in model.explained_var if lam > eps)
    white = pca_transform(df, w, id_col, vec_col)
    cov = embedding_covariance(white, vec_col="proj")
    expected = F.when(F.col("i") == F.col("j"), F.lit(1.0)).otherwise(
        F.lit(0.0)
    )
    return (
        cov.where((F.col("i") < keep) & (F.col("j") < keep))
        .select(
            "i",
            "j",
            "cov",
            expected.alias("expected"),
            F.when(
                F.abs(F.col("cov") - expected) > tol, F.lit("not_identity")
            ).alias("violation"),
        )
        .where(F.col("violation").isNotNull())
    )
