"""Engine-portable and fast hash expressions.

Two tiers:

- ``portable_hash64`` — md5-derived 60-bit integer hash, bit-identical in
  Spark and DuckDB (used by every operator that must pass the DuckDB
  correctness oracle: MinHash signatures, SimHash, fingerprints, exact
  dedup keys).
- ``fast_hash64`` — Spark's native ``xxhash64`` (whole-stage-codegen'd,
  no md5 string round-trip). This is the scale path: on a 1000-executor
  run you want xxhash64, and the oracle-parity tier exists only so
  correctness can be machine-checked cross-engine.

Role in the reference: the reference keys caches and dedup sets by raw
strings in Python dicts/sets (e.g. seen-sentence sets,
``DeepJoin/search_query.py:28-31``; embedding cache keyed by column id,
``SemLink/join_discoverer.py:214-247``). Hashing replaces those
driver-memory sets with distributed group-bys.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# 15 hex chars = 60 bits: always fits in a signed 64-bit integer, in both
# Spark (conv→string→cast long) and DuckDB ('0x…'::BIGINT).
_HEX_CHARS = 15


def portable_hash64(col: Column | str, seed: str = "") -> Column:
    """md5-based 60-bit hash of a string column; identical in DuckDB via
    ``('0x' || substr(md5(seed || s), 1, 15))::BIGINT``.
    """
    c = F.col(col) if isinstance(col, str) else col
    payload = F.concat(F.lit(seed), c) if seed else c
    return F.conv(F.substring(F.md5(payload), 1, _HEX_CHARS), 16, 10).cast("long")


def portable_hash64_py(payload: bytes) -> int:
    """Python twin of :func:`portable_hash64` — exact (the hash is an
    integer md5-hex prefix; no floats involved). Callers concatenate
    the seed bytes themselves: ``portable_hash64_py(b"3:" + text)``."""
    import hashlib

    return int(hashlib.md5(payload).hexdigest()[:_HEX_CHARS], 16)


def portable_hash_expr(sql_expr: str, seed: str = "") -> str:
    """The DuckDB-SQL twin of :func:`portable_hash64` (returns SQL text)."""
    payload = f"'{seed}' || ({sql_expr})" if seed else f"({sql_expr})"
    return f"('0x' || substr(md5({payload}), 1, {_HEX_CHARS}))::BIGINT"


def fast_hash64(col: Column | str, seed: int = 42) -> Column:
    """Native xxhash64 — the production hot path (not oracle-portable)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.xxhash64(c, F.lit(seed))
