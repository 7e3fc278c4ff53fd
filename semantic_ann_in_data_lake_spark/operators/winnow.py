"""Winnowing document fingerprints + fingerprint-overlap detection.

Public method: Schleimer, Wilkerson & Aiken, *Winnowing: Local
Algorithms for Document Fingerprinting* (SIGMOD 2003) — the MOSS
algorithm. Hash every character k-gram of the normalized text, slide
a window of ``w`` consecutive hashes, and keep each window's minimum
(rightmost one on ties). The selected set is a ~2/(w+1)-density
fingerprint with the winnowing GUARANTEE: any verbatim match of at
least ``w + k − 1`` characters between two documents shares at least
one fingerprint — the exact-substring complement to MinHash (which
sees bags of shingles, not positions, and only guarantees detection
probabilistically).

Extension beyond the reference surface (its identity check is a
whole-string md5, ``textstats.fingerprints``): winnowing is the
standard published recipe for plagiarism/near-verbatim reuse
detection and paragraph-level duplication mining in pre-training
corpora.

Scale design:

- **Fingerprinting is ZERO shuffle.** k-gram hashing, window minima,
  and per-document dedup (``array_distinct`` BEFORE the explode) are
  row-local array expressions inside whole-stage codegen; the
  operator emits ~2·L/(w+1) rows per document straight off the scan.
- **Engine-portable integer packing.** Each k-gram key packs
  (40-bit Karp-Rabin polynomial hash over char codes, 20-bit reversed
  position) into one BIGINT:
  ``key = h·2²⁰ + (2²⁰−1−pos)``, so a plain integer ``min`` over a
  window implements "min hash, rightmost position on ties" in one
  comparison — bit-identical in DuckDB. Positions are capped at 2²⁰
  characters (docs longer than ~1 M chars should be chunked first —
  ``chunking.chunk_documents``).
- **Overlap join is inverted-index-shaped** (same discipline as the
  JOSIE/PPJoin tiers): one groupBy on fingerprint hash to measure
  document frequency, a ``max_df`` cap that drops ubiquitous
  fingerprints (boilerplate n-grams — the fan-out bound), then an
  equi-join on hash and a pair-count aggregation. No all-pairs path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from semantic_ann_in_data_lake_spark.functions.text import (
    normalize_sentence,
    normalize_sentence_sql,
)

#: fingerprint hash width (bits) after packing; 40 bits keeps k-gram
#: collisions negligible (~1e-5 at 1e5 grams/doc) with 20 bits left
#: for the position inside a signed 63-bit space.
_HASH_BITS = 40
_POS_BITS = 20
_POS_CAP = (1 << _POS_BITS) - 1
_HASH_MOD = 1 << _HASH_BITS
_POS_MOD = 1 << _POS_BITS

#: Karp-Rabin base and its powers mod 2^40 (B^0..B^15) — extend the
#: list to raise the max supported k
_POLY_B = 131
_POLY_POWS = [pow(_POLY_B, j, _HASH_MOD) for j in range(16)]


def winnow_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
) -> DataFrame:
    """Winnowing fingerprints: one row per selected (position, hash).

    Returns ``(doc_id, pos, fp)`` — ``pos`` is the 1-based character
    offset of the fingerprinted k-gram in the NORMALIZED text, ``fp``
    the 40-bit k-gram hash. Documents shorter than ``k`` (normalized)
    emit nothing; documents with fewer than ``w`` k-grams emit the
    single global minimum (the degenerate window).
    """
    norm = normalize_sentence(text_col)
    if k > len(_POLY_POWS):
        raise ValueError(f"k must be <= {len(_POLY_POWS)}")

    # The gram hashing + window
    # minima are pure INTEGER math over char codes, so the per-row
    # work moves from interpreted higher-order lambdas (the k-term
    # polynomial re-evaluated through element_at per gram) to
    # vectorized numpy on Arrow batches — bit-identical keys by
    # construction (same 40-bit Karp-Rabin terms, same packed
    # rightmost-min tie-break, same int64 envelope; A/B-pinned in
    # tests and hash-gated). Normalization stays a JVM expression so
    # lower/trim semantics are untouched; codes are Unicode CODE
    # POINTS (utf-32 decode), exactly what the split('')+ascii() HOF
    # twin and the DuckDB ord() oracle hash — a utf-16 decode would
    # split astral characters (emoji) into surrogate pairs and diverge
    # from both (verified: Spark ascii() and DuckDB ord() agree on
    # U+1F600 = 128512). Measured 3.1 s → 0.9 s at sf0.1 for the
    # fingerprint pass.
    import numpy as np

    pows = np.asarray(_POLY_POWS[:k], dtype=np.int64)

    def fp_rows(batches):
        import pandas as pd

        swv = np.lib.stride_tricks.sliding_window_view
        for pdf in batches:
            doc_ids: list[int] = []
            poss: list[np.ndarray] = []
            fps: list[np.ndarray] = []
            for did, s in zip(pdf["doc_id"], pdf["__norm__"]):
                if s is None:
                    continue
                codes = np.frombuffer(
                    s.encode("utf-32-le"), dtype=np.uint32
                ).astype(np.int64)
                nk = len(codes) - (k - 1)
                if nk < 1:
                    continue
                if nk >= _POS_MOD:
                    raise ValueError(
                        "winnow: document exceeds 2^20 normalized chars"
                        " — chunk it first (chunking.chunk_documents)"
                    )
                grams = swv(codes, k)  # (nk, k) view, no copy
                h = (
                    (grams * pows[None, :]) % _HASH_MOD
                ).sum(axis=1) % _HASH_MOD
                keys = h * _POS_MOD + (
                    _POS_CAP - np.arange(1, nk + 1, dtype=np.int64)
                )
                mins = (
                    swv(keys, w).min(axis=1)
                    if nk >= w
                    else keys.min(keepdims=True)
                )
                sel = np.unique(mins)
                doc_ids.extend([did] * len(sel))
                poss.append(_POS_CAP - sel % _POS_MOD)
                fps.append(sel >> _POS_BITS)
            if not doc_ids:
                continue
            yield pd.DataFrame(
                {
                    "doc_id": np.asarray(doc_ids, dtype=np.int64),
                    "pos": np.concatenate(poss).astype(np.int32),
                    "fp": np.concatenate(fps),
                }
            )

    return docs.select(F.col(id_col).alias("doc_id"), norm.alias("__norm__")).mapInPandas(
        fp_rows, schema="doc_id long, pos int, fp long"
    )


def _winnow_fingerprints_hof(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
) -> DataFrame:
    """The former pure-expression formulation, kept as the A/B twin the
    kernel's exactness test pins against (and as the reference for the
    packed-key algebra the SQL twin mirrors)."""
    norm = normalize_sentence(text_col)
    n_keys = F.greatest(F.length("__norm__") - F.lit(k - 1), F.lit(0))
    # Karp-Rabin polynomial gram hash over char CODES — the classic
    # winnowing construction: h_i = (sum_j code[i+j]*B^j) mod 2^40.
    # Pure integer math, exact in both engines (ascii() == ord(), CJK
    # included), no per-gram string allocation, and several times
    # cheaper than an md5 round-trip inside the (interpreted) HOF
    # lambda. Each term reduces mod M before the sum: code <= 0x10FFFF
    # < 2^21 and B^j mod M < 2^40, so terms stay under 2^61 and the
    # k-term sum far from BIGINT overflow in either engine.
    if k > len(_POLY_POWS):
        raise ValueError(f"k must be <= {len(_POLY_POWS)}")
    poly = " + ".join(
        f"(cast(element_at(__codes__, i + {j}) as bigint)"
        f" * {p}L % {_HASH_MOD})"
        for j, p in enumerate(_POLY_POWS[:k])
    )
    # sequence(1, 0) is the DESCENDING [1, 0] in Spark (the
    # word_shingles_from gotcha) — __nk__ < 1 short-circuits to empty
    keys_sql = (
        f"transform(sequence(1, __nk__), "
        f"i -> (({poly}) % {_HASH_MOD}) * {_POS_MOD}"
        f" + ({_POS_CAP} - i))"
    )
    # positions past 2^20 would wrap the packed key and silently break
    # the rightmost-min tie-break — fail loudly instead (the SQL twin
    # carries the same guard); chunk oversized docs first
    # (chunking.chunk_documents)
    overflow_guard = (
        f"when __nk__ >= {_POS_MOD} then "
        f"raise_error('winnow: document exceeds 2^20 normalized chars"
        f" — chunk it first (chunking.chunk_documents)') "
    )
    # LET-binding via a one-element array lambda: the window sweep
    # references the keys array O(L) times, and across a projection
    # boundary Catalyst's CollapseProject would inline the whole keys
    # expression into every reference — re-deriving all L gram hashes
    # PER WINDOW, O(L²·k) per document (measured: a 6 s sf0.1 pass
    # became minutes). Binding keys to a lambda variable evaluates it
    # exactly once per row, inside one projection.
    sel = F.expr(
        f"case {overflow_guard}"
        f"when __nk__ < 1 then array() else "
        f"element_at(transform(array({keys_sql}), ks -> "
        f"array_distinct(transform("
        f"sequence(1, greatest(size(ks) - {w - 1}, 1)), "
        f"j -> array_min(slice(ks, j, {w}))))), 1) end"
    )
    staged = (
        docs.select(F.col(id_col).alias("doc_id"), norm.alias("__norm__"))
        .select(
            "doc_id",
            n_keys.alias("__nk__"),
            F.expr(
                "transform(split(__norm__, ''), c -> ascii(c))"
            ).alias("__codes__"),
        )
        .select("doc_id", F.explode(sel).alias("__key__"))
    )
    return staged.select(
        "doc_id",
        (F.lit(_POS_CAP) - F.col("__key__") % F.lit(_POS_MOD))
        .cast("int")
        .alias("pos"),
        F.shiftright("__key__", _POS_BITS).alias("fp"),
    )


def winnow_overlap_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
    min_shared: int = 2,
    max_df: int = 1000,
    max_df_frac: float | None = None,
    df_floor: int = 16,
) -> DataFrame:
    """Document pairs sharing ≥ ``min_shared`` winnowing fingerprints.

    Returns ``(doc_id_a, doc_id_b, n_shared)`` with ``a < b``.
    Fingerprints above the df cap are dropped before the join
    (corpus-wide boilerplate — they carry no pairing signal and the
    cap bounds per-hash fan-out at cap²). ``max_df_frac`` makes the
    cap CORPUS-RELATIVE: threshold = max(df_floor, ⌈frac·n_docs⌉) —
    an absolute cap stops biting below n ≈ cap/template-share and the
    boilerplate join fan-out reappears at exactly the scales where it
    hurts (measured: the absolute-64 posture was 2× SLOWER at sf0.1
    than at 10× the data, where the cap finally bit).
    """
    from semantic_ann_in_data_lake_spark.cache import scoped_persist

    # persisted: the distinct-fp frame feeds three consumers (df-cap
    # measurement + both join sides) — one shuffle, not three
    fp = scoped_persist(
        winnow_fingerprints(
            docs, id_col=id_col, text_col=text_col, k=k, w=w
        ).select("doc_id", "fp").distinct()
    )
    dfreq = fp.groupBy("fp").agg(F.count(F.lit(1)).alias("__df"))
    if max_df_frac is not None:
        # lazy 1-row corpus count broadcast into the threshold — the
        # cap scales with the corpus, no driver action
        n = docs.agg(F.count(F.lit(1)).alias("__n"))
        cap = F.greatest(
            F.lit(int(df_floor)),
            F.ceil(F.lit(float(max_df_frac)) * F.col("__n")).cast("long"),
        )
        df_ok = (
            dfreq.crossJoin(F.broadcast(n))
            .filter((F.col("__df") >= 2) & (F.col("__df") <= cap))
            .select("fp")
        )
    else:
        df_ok = dfreq.filter(
            (F.col("__df") >= 2) & (F.col("__df") <= max_df)
        ).select("fp")
    fp = fp.join(df_ok, "fp")
    a = fp.select(F.col("doc_id").alias("doc_id_a"), "fp")
    b = fp.select(F.col("doc_id").alias("doc_id_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("doc_id_a") < F.col("doc_id_b"))
        .groupBy("doc_id_a", "doc_id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


# --- DuckDB-SQL twins ----------------------------------------------------

def winnow_fingerprints_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
) -> str:
    """DuckDB twin of :func:`winnow_fingerprints` (identical
    Karp-Rabin and packing arithmetic; used to build oracle_sql
    strings)."""
    norm = normalize_sentence_sql(text_col)
    poly = " + ".join(
        f"(list_extract(codes, i + {j}) * {p} % {_HASH_MOD})"
        for j, p in enumerate(_POLY_POWS[:k])
    )
    return f"""
    WITH nrm AS (SELECT {id_col} AS doc_id, {norm} AS n FROM {table}),
    cds AS (SELECT doc_id, length(n) AS ln,
              CASE WHEN length(n) = 0 THEN []::BIGINT[]
                   ELSE list_transform(range(1, length(n) + 1),
                                       i -> ord(substr(n, i, 1))::BIGINT)
                   END AS codes
            FROM nrm),
    ks AS (SELECT doc_id,
             CASE WHEN ln - {k - 1} >= {_POS_MOD}
                  THEN error('winnow: document exceeds 2^20 normalized chars — chunk it first')
                  ELSE list_transform(range(1, greatest(ln - {k - 1}, 0) + 1),
                    i -> ((({poly})) % {_HASH_MOD}) * {_POS_MOD}
                         + ({_POS_CAP} - i)) END AS keys
           FROM cds),
    sel AS (SELECT doc_id,
              list_distinct(list_transform(
                range(1, greatest(len(keys) - {w - 1}, 1) + 1),
                j -> list_min(list_slice(keys, j, j + {w - 1})))) AS fps
            FROM ks WHERE len(keys) > 0),
    e AS (SELECT doc_id, unnest(fps) AS key FROM sel)
    SELECT doc_id,
           ({_POS_CAP} - (key % {_POS_MOD}))::INT AS pos,
           (key // {_POS_MOD})::BIGINT AS fp
    FROM e
    """
