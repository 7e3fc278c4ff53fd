"""DeepJoin training-artifact seam (reference V6 consumption).

The reference fine-tunes a sentence-transformer on positive column-text
pairs with MultipleNegativesRankingLoss and saves the model
(``DeepJoin/train.py:38-66``, hyperparams ``DeepJoin/config.py:17-25``);
every later stage (encode → index → query → metrics) consumes the saved
artifact. SURVEY §2.6 rules the gradient loop itself out-of-engine
("single-node training step … NOT a query operator"), but the
*lifecycle contract* — ``pairs → split → fit → model artifact →
encoder`` — is engine-visible: something must produce an artifact that
:class:`~semantic_ann_in_data_lake_spark.annotate.embedder.CallableEmbedder`
can consume, or the DeepJoin pipeline cannot be driven end to end.

This module supplies that seam with a DETERMINISTIC closed-form fit, so
the full lifecycle is cross-engine hash-checkable (the driver's DuckDB
oracle replays pairs → split → fit → encode → kNN → micro-metrics):

- Base features: the deterministic :func:`hash_embedding_expr` vector
  of each text (dim D, exact 1e-5 grid — both engines agree bitwise).
- Fit: a diagonal metric-learning step. For each dimension ``i`` the
  mean squared difference over POSITIVE training pairs measures how
  much that feature disagrees on texts that should embed together; the
  learned weight ``w_i = round(1 / (lam + msd_i), 6)`` up-weights
  dimensions stable across positives — the closed-form diagonal
  analogue of pulling positives together (the contrastive objective's
  attract term; the repel term is implicit in the fixed hash basis,
  which scatters unrelated texts uniformly). Squared diffs are rounded
  to 12 dp and summed as DECIMAL(38,12), the repo's cross-engine
  float-fixpoint discipline, so the fit is bit-identical on any
  cluster layout AND in the DuckDB oracle.
- Artifact: :class:`PairEncoderModel` — dim + weights + lam, JSON
  round-trippable (``save``/``load``), convertible to
    * a pure JVM column expression (:func:`encode_with_model`) for the
      distributed hot path, and
    * a plain ``list[str] -> list[list[float]]`` callable
      (:meth:`PairEncoderModel.as_callable`) for the
      ``CallableEmbedder`` / ``embed_texts`` mapInPandas path (V5) —
      the two produce identical vectors (pinned by contract test).

Scale shape: the fit is ONE wide aggregate over the pairs relation
(map-side-combinable decimal sums, D columns) + a D-row collect; the
artifact is D floats broadcast by closure. A real gradient model drops
into the same seam via ``CallableEmbedder`` without touching any
downstream stage. TorchDistributor-style training stays out-of-engine
per SURVEY §2.6.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from semantic_ann_in_data_lake_spark.annotate.embedder import (
    HashEmbedder,
    hash_embedding_expr,
    hash_embedding_sql,
)
from semantic_ann_in_data_lake_spark.operators.knn import _spread

#: default ridge term — keeps weights finite when a dimension is
#: constant across all training pairs (msd = 0)
DEFAULT_LAM = 0.05

#: decimal scale for the pair-sum discipline (matches the iterative
#: operators' 12-dp DECIMAL(38,12) grid-snap convention)
_SUM_DP = 12
#: weight / encoded-component rounding (matches knn distance rounding)
_W_DP = 6

_Q6 = None  # lazy Decimal quantum (decimal import deferred for workers)


def _round_like_spark(x: float) -> float:
    """Spark's F.round(x, 6) exactly: Java rounds the SHORTEST decimal
    repr (Double.toString) HALF_UP, while Python's built-in round uses
    the exact binary expansion half-even — they diverge on products
    that are decimal ties at the 7th place (e.g. 1.518792 · -0.6875 =
    -1.0441695). Decimal(repr(x)) is the same shortest repr, so
    quantizing it HALF_UP reproduces Spark bit-for-bit (the
    streaming/ewma_stream.py discipline)."""
    global _Q6
    from decimal import ROUND_HALF_UP, Decimal

    if _Q6 is None:
        _Q6 = Decimal(f"1e-{_W_DP}")
    return float(Decimal(repr(x)).quantize(_Q6, rounding=ROUND_HALF_UP))


@dataclass(frozen=True)
class PairEncoderModel:
    """The saved training artifact: a diagonal reweighting of the
    deterministic hash-feature basis. Immutable and tiny (D floats) —
    ships to executors by closure, round-trips through JSON."""

    dim: int
    weights: tuple[float, ...]
    lam: float = DEFAULT_LAM

    def __post_init__(self):
        if len(self.weights) != self.dim:
            raise ValueError(
                f"weights length {len(self.weights)} != dim {self.dim}"
            )

    # -- persistence (the reference's model.save(MODEL_OUTPUT_PATH)) --
    def save(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {"dim": self.dim, "weights": list(self.weights),
                 "lam": self.lam},
                f,
            )

    @classmethod
    def load(cls, path: str) -> "PairEncoderModel":
        with open(path) as f:
            d = json.load(f)
        return cls(dim=d["dim"], weights=tuple(d["weights"]), lam=d["lam"])

    # -- consumption: the CallableEmbedder-compatible callable (V5) --
    def as_callable(self):
        """``list[str] -> list[list[float]]`` — identical output to
        :func:`encode_with_model` (contract-tested), for the
        ``CallableEmbedder`` / ``embed_texts`` mapInPandas path."""
        base = HashEmbedder(self.dim)
        w = self.weights

        def encode(texts: list[str]) -> list[list[float]]:
            return [
                [_round_like_spark(w[i] * v) for i, v in enumerate(vec)]
                for vec in base(texts)
            ]

        return encode


def fit_pair_encoder(
    pairs: DataFrame,
    text_a: str = "text_a",
    text_b: str = "text_b",
    dim: int = 16,
    lam: float = DEFAULT_LAM,
) -> PairEncoderModel:
    """Closed-form deterministic fit over positive text pairs (see
    module doc). ONE wide aggregate (decimal sums per dimension,
    map-side combinable) + a single-row collect; None-sided pairs are
    skipped like the reference's ``make_examples`` does
    (``DeepJoin/train.py:14-24``)."""
    clean = pairs.where(
        F.col(text_a).isNotNull() & F.col(text_b).isNotNull()
    )
    # The fit's only heavy term is the 2·dim md5-based portable hashes
    # per pair (md5 + hex + conv string round-trips per row in the
    # JVM). The hash is an INTEGER (md5-hex prefix), so a vectorized
    # Python twin (hashing.portable_hash64_py) computes the identical
    # longs in a mapInPandas kernel, and the ENTIRE float/decimal chain
    # (pmod → double grid → diff → square → 12-dp round →
    # DECIMAL(38,12) sum) stays the same JVM expressions over those
    # longs — bit-identical weights by construction. The DuckDB
    # replay (fit_weights_sql) is the reference. Text columns are cast
    # to string first, as the JVM concat in portable_hash64 does.
    seeds = [f"{i}:".encode() for i in range(dim)]

    def hash_rows(batches):
        import pandas as pd

        from semantic_ann_in_data_lake_spark.functions.hashing import (
            portable_hash64_py,
        )

        for pdf in batches:
            out = {}
            for side, col in (("a", text_a), ("b", text_b)):
                enc = [t.encode("utf-8") for t in pdf[col]]
                for i in range(dim):
                    s = seeds[i]
                    out[f"h{side}{i}"] = [
                        portable_hash64_py(s + t) for t in enc
                    ]
            yield pd.DataFrame(out)

    schema = ", ".join(f"ha{i} long, hb{i} long" for i in range(dim))
    src = clean.select(
        *(F.col(c).cast("string").alias(c) for c in (text_a, text_b))
    )
    # the pairs frame usually arrives AQE-coalesced to a handful of
    # partitions (fine for its joins, 8x under-parallel for 2·dim
    # hashes/row): spread the hash work across the executors —
    # aggregation below is order-independent (decimal sums + count)
    hashed = _spread(src).mapInPandas(hash_rows, schema=schema)

    def lane(h):
        # identical float chain to hash_embedding_expr's component
        return (
            F.pmod(F.col(h), F.lit(200001)).cast("double")
            / F.lit(100000.0)
            - F.lit(1.0)
        )

    aggs = []
    for i in range(dim):
        d = lane(f"ha{i}") - lane(f"hb{i}")
        sq = F.round(d * d, _SUM_DP).cast("decimal(38,12)")
        aggs.append(F.sum(sq).alias(f"s{i}"))
    aggs.append(F.count(F.lit(1)).alias("n"))
    row = hashed.agg(*aggs).collect()[0]
    n = row["n"]
    if n == 0:
        raise ValueError("fit_pair_encoder: no non-null training pairs")
    weights = tuple(
        _round_like_spark(1.0 / (lam + float(row[f"s{i}"]) / n))
        for i in range(dim)
    )
    return PairEncoderModel(dim=dim, weights=weights, lam=lam)


def encode_with_model(
    text: Column | str, model: PairEncoderModel
) -> Column:
    """Encode a text column under the fitted model as a pure JVM
    column expression — ``round(w_i · hash_i(text), 6)`` per lane.
    Whole-stage-codegen'd; the distributed hot path."""
    c = F.col(text) if isinstance(text, str) else text
    base = hash_embedding_expr(c, model.dim)
    return F.array(
        *[
            F.round(base[i] * F.lit(model.weights[i]), _W_DP)
            for i in range(model.dim)
        ]
    )


# ------------------------- DuckDB oracle twins -------------------------


def fit_weights_sql(
    pairs_rel: str,
    text_a: str = "text_a",
    text_b: str = "text_b",
    dim: int = 16,
    lam: float = DEFAULT_LAM,
) -> str:
    """SQL producing one row ``(w_1 … w_dim)`` — the DuckDB replay of
    :func:`fit_pair_encoder` over relation ``pairs_rel`` (same 12-dp
    DECIMAL(38,12) pair-sum discipline, same 6-dp weight snap)."""
    va = hash_embedding_sql(text_a, dim)
    vb = hash_embedding_sql(text_b, dim)
    comps = ", ".join(
        f"round(1.0 / ({lam} + sum(round((va[{i + 1}] - vb[{i + 1}]) "
        f"* (va[{i + 1}] - vb[{i + 1}]), {_SUM_DP})::DECIMAL(38,12))::DOUBLE"
        f" / count(*)), {_W_DP}) AS w_{i}"
        for i in range(dim)
    )
    return (
        f"SELECT {comps} FROM (SELECT {va} AS va, {vb} AS vb "
        f"FROM {pairs_rel} WHERE {text_a} IS NOT NULL "
        f"AND {text_b} IS NOT NULL)"
    )


def encode_sql(
    text_expr: str, weights_rel: str, dim: int = 16
) -> str:
    """SQL list expression encoding ``text_expr`` under the weights row
    of ``weights_rel`` (one-row relation from :func:`fit_weights_sql`,
    cross-joined by the caller) — the twin of :func:`encode_with_model`."""
    base = hash_embedding_sql(text_expr, dim)
    comps = ", ".join(
        f"round(({base})[{i + 1}] * {weights_rel}.w_{i}, {_W_DP})"
        for i in range(dim)
    )
    return f"[{comps}]"
