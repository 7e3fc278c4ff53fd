"""Distributed Bloom-filter join pruning (runtime row-level filtering).

At 100 TB the dominant cost of a selective fact⋈dim join is not the
join itself but SHUFFLING fact rows that can never match: a dim filter
that keeps 1% of keys still forces the full fact table through the
exchange before the join discards 99% of it. The classic fix — what
Spark's own runtime row-level filtering (`spark.sql.optimizer.runtime.
bloomFilter.enabled`) and every warehouse's "join filter pushdown" do —
is to build a Bloom filter over the dim join keys and drop fact rows at
SCAN time, before the shuffle.

This module is that pattern as an explicit, tunable operator:

- ``bloom_build``: the filter as a tiny DataFrame of ``(word_idx,
  word)`` 64-bit words — ``num_bits/64`` rows regardless of dim size.
  Build cost is one scan of the (deduplicated) key column plus a
  groupBy whose shuffle is at most the filter size per input partition
  (map-side partial ``bit_or``), the same mergeable-summary property as
  the count-min sketch in ``operators/sketches.py``.
- ``bloom_probe``: ``num_hashes`` BROADCAST hash joins of the fact
  side against the word table, all inside the fact's scan stage — no
  fact shuffle, no Python. A fact row survives only if every probed
  bit is set. Absent word → inner join drops the row (an absent word
  is an all-zero word); NULL keys are filtered explicitly up front,
  matching inner-equi-join semantics.
- ``bloom_prune_join``: probe, then the real join. Bloom false
  positives are eliminated by the exact join, so the composition is
  RESULT-IDENTICAL to ``fact.join(dim, on)`` — which is what lets the
  DuckDB oracle gate it with the plain-join SQL, while the physical
  plan pays the shuffle only for surviving rows.

Guarantees: no false negatives ever (both sides hash with the same
``xxhash64`` seeds, so every true key has all its bits set — pinned by
a property test); false-positive rate ≈ (1−e^{−kn/m})^k, ~0.05% at the
default 16 bits/key with k=5.

Sizing: ``num_bits`` should be ~8–20× the expected DISTINCT key count
(16× default via ``bloom_bits_for``). The word table at 1<<24 bits is
256 K rows ≈ 3 MB — broadcastable at any realistic dim cardinality the
pattern applies to; when the dim is too big for a useful Bloom filter,
the pruning premise is gone and a plain shuffle join is the right plan
anyway.

Extension beyond the reference surface: the reference joins eagerly in
pandas (e.g. stats⋈semantics merges, ``SemLink/extract_schema.py``) at
single-node scale where scan pruning is meaningless; this operator
exists purely for the distributed regime.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from semantic_ann_in_data_lake_spark.operators.knn import _row_count

#: xxhash64 seeds for the k probe functions — fixed so build and probe
#: always agree (the no-false-negative invariant depends on it).
_SEED_BASE = 0xB100F


def bloom_bits_for(expected_keys: int, bits_per_key: int = 16) -> int:
    """Power-of-two bit count ≥ bits_per_key × expected_keys (≥ 1024)."""
    raw = max(1024, expected_keys * bits_per_key)
    return 1 << math.ceil(math.log2(raw))


def bloom_build(
    dim: DataFrame, key: str, num_bits: int, num_hashes: int = 5
) -> DataFrame:
    """Bloom filter over ``dim[key]`` as a ``(word_idx, word)`` table.

    One pass: each key row emits its ``num_hashes`` bit positions
    (exploded inside codegen), positions fold into 64-bit words via a
    partial-aggregating ``bit_or`` — the only shuffle is word-table
    sized. Output rows: at most ``num_bits / 64``.
    """
    if num_bits < 64 or num_bits & (num_bits - 1):
        raise ValueError("num_bits must be a power of two ≥ 64")
    if not 1 <= num_hashes <= 16:
        raise ValueError("num_hashes must be in [1, 16]")
    seeds = F.array(*[F.lit(_SEED_BASE + i) for i in range(num_hashes)])
    return (
        dim.select(F.col(key).alias("__k"))
        .where(F.col("__k").isNotNull())
        .select(F.explode(seeds).alias("__seed"), "__k")
        .select(
            F.pmod(F.xxhash64(F.col("__k"), F.col("__seed")), F.lit(num_bits)).alias(
                "__pos"
            )
        )
        .select(
            F.expr("__pos div 64").cast("int").alias("word_idx"),
            F.expr("shiftleft(1L, cast(__pos % 64 as int))").alias("__mask"),
        )
        .groupBy("word_idx")
        .agg(F.expr("bit_or(__mask)").alias("word"))
    )


def bloom_probe(
    fact: DataFrame,
    key: str,
    bloom: DataFrame,
    num_bits: int,
    num_hashes: int = 5,
) -> DataFrame:
    """Keep only fact rows whose key MIGHT be in the filter.

    ``num_hashes`` broadcast joins on ``word_idx`` — each a map-side
    hash lookup in the fact scan stage; a row is dropped at the FIRST
    missing/zero bit, so the common case (non-matching row) pays one
    lookup. No shuffle of ``fact``, no Python boundary.

    NULL keys are filtered explicitly (inner-equi-join semantics):
    relying on xxhash64(NULL)'s fixed bit positions being unset would
    only be probabilistic — a dense filter can have them all set.
    """
    out = fact.where(F.col(key).isNotNull())
    # reserved-prefix internals so a fact table with its own "word" /
    # "word_idx" column never collides with the filter table's columns
    probe_side = bloom.select(
        F.col("word_idx").alias("__widx"), F.col("word").alias("__bword")
    )
    for i in range(num_hashes):
        pos = F.pmod(F.xxhash64(F.col(key), F.lit(_SEED_BASE + i)), F.lit(num_bits))
        out = (
            out.withColumn("__pos", pos)
            .withColumn("__widx", F.expr("__pos div 64").cast("int"))
            .join(F.broadcast(probe_side), "__widx")
            .where(F.expr("(__bword >> cast(__pos % 64 as int)) & 1 = 1"))
            .drop("__pos", "__widx", "__bword")
        )
    return out


def bloom_prune_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str,
    num_bits: int | None = None,
    num_hashes: int = 5,
    expected_keys: int | None = None,
) -> DataFrame:
    """``fact ⋈ dim`` with a Bloom pre-filter on the fact scan.

    Result-identical to ``fact.join(dim, on)`` (the exact join removes
    Bloom false positives); the plan shuffles only surviving fact rows.
    The built filter is cached via the broadcast in each probe join —
    one build job regardless of ``num_hashes``.

    Sizing: explicit ``num_bits`` wins; else ``expected_keys`` (a
    caller-known cardinality); else the dim's size is measured — from
    parquet footers when it's a bare scan (zero Spark jobs), else one
    ``count()`` on the dim, which is small by the operator's premise
    (an oversized dim defeats Bloom pruning regardless of sizing).
    """
    ftype = dict(fact.dtypes).get(on)
    dtype = dict(dim.dtypes).get(on)
    if ftype != dtype:
        # xxhash64 hashes the RAW typed value while the exact join
        # would coerce — a type mismatch silently sets no matching
        # probe bit and every true match is pruned; fail loudly
        raise ValueError(
            f"join key dtype mismatch: fact[{on}]={ftype} vs "
            f"dim[{on}]={dtype} — cast one side before bloom_prune_join"
        )
    if num_bits is None and expected_keys is None:
        expected_keys = max(1, _row_count(dim))
    bits = num_bits if num_bits is not None else bloom_bits_for(expected_keys)
    bloom = bloom_build(dim, on, bits, num_hashes)
    pruned = bloom_probe(fact, on, bloom, bits, num_hashes)
    return pruned.join(dim, on)
