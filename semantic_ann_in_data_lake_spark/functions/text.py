"""Text normalization, tokenization and shingling expressions.

Reference parity:

- ``normalize_sentence`` mirrors ``DeepJoin/search_query.py:16-17``
  (strip + lower + whitespace collapse).
- ``words`` / shingles are the building blocks for the dedup extension
  ops (MinHash / SimHash / n-gram Jaccard) that the reference's
  retrieval-quality harness motivates but does not itself implement.

Everything is a built-in column expression — shingling a 100 TB corpus
must stay inside whole-stage codegen; no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def normalize_sentence(col: Column | str) -> Column:
    """lower(trim(collapse whitespace)) — `search_query.py:16-17` parity."""
    return F.lower(F.trim(F.regexp_replace(_c(col), r"\s+", " ")))


def words(col: Column | str) -> Column:
    """Whitespace tokenization of a normalized string → ARRAY<STRING>.

    Applied to already-normalized text; empty string yields empty
    array. NULL-safe: NULL text also yields the EMPTY array (not
    NULL) — a crawl row with a missing body is a zero-token document,
    and a NULL array would otherwise propagate NULL token counts into
    prefix sums, rewrites, and funnel flags (every consumer of this
    function inherits the 0-token contract instead). The coalesce
    folds the NULL case into the existing empty guard, keeping the
    normalize expression at exactly TWO references per row (the
    re-evaluation floor `test_chunking_no_tokenize_reevaluation`
    pins).
    """
    c = F.coalesce(normalize_sentence(col), F.lit(""))
    return F.when(F.length(c) == 0, F.array().cast("array<string>")).otherwise(
        F.split(c, " ")
    )


def word_shingles_from(w: Column, n: int = 3) -> Column:
    """Word n-gram shingles from a MATERIALIZED words-array column.

    ``w`` must be a bound column reference (not an expression tree):
    expressions inside a higher-order lambda body are re-evaluated per
    array element, so an inline ``words(text)`` here would re-split the
    whole text at every shingle position — O(len²) per document
    (measured ~100× at sf0.1). Operators project the words array first
    and pass the column.
    """
    n_pos = F.size(w) - F.lit(n - 1)
    joined = F.when(
        # guard, not greatest(..,0): Spark's sequence(1, 0) is the
        # DESCENDING sequence [1, 0], and slice(w, 0, n) then throws
        # (found by hypothesis on sub-n-word inputs)
        n_pos < 1,
        F.array().cast("array<string>"),
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), n_pos),
            lambda i: F.array_join(F.slice(w, i, n), " "),
        )
    )
    return F.array_sort(F.array_distinct(joined))


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Inline convenience form (small inputs / oracle parity only —
    see the perf note on :func:`word_shingles_from`)."""
    return word_shingles_from(words(col), n)


def char_shingles(col: Column | str, n: int = 5) -> Column:
    """Character n-gram shingles of normalized text (distinct, sorted)."""
    c = normalize_sentence(col)
    n_pos = F.length(c) - F.lit(n - 1)
    grams = F.when(
        n_pos < 1, F.array().cast("array<string>")  # see word_shingles_from
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), n_pos),
            lambda i: F.substring(c, i, n),
        )
    )
    return F.array_sort(F.array_distinct(grams))


# --- DuckDB twins --------------------------------------------------------

def normalize_sentence_sql(expr: str) -> str:
    return f"lower(trim(regexp_replace({expr}, '\\s+', ' ', 'g')))"


def words_sql(expr: str) -> str:
    n = normalize_sentence_sql(expr)
    return (
        f"(case when {n} is null or length({n}) = 0 then []::VARCHAR[]"
        f" else string_split({n}, ' ') end)"
    )


def word_shingles_from_sql(wcol: str, n: int = 3) -> str:
    """Shingles from a CTE-staged words column (same O(len²) caveat as
    the Spark side: inline words_sql here re-splits per position)."""
    return (
        f"list_sort(list_distinct(list_transform("
        f"range(1, greatest(len({wcol}) - {n - 1}, 0) + 1), "
        f"i -> array_to_string(list_slice({wcol}, i, i + {n - 1}), ' '))))"
    )


def word_shingles_sql(expr: str, n: int = 3) -> str:
    return word_shingles_from_sql(words_sql(expr), n)


def token_truncate(
    df,
    text_col: str = "text",
    id_cols: tuple[str, ...] = ("doc_id",),
    max_tokens: int = 32,
    tokenizer=None,
):
    """V3: token-budget truncation (`SemLink/join_discoverer.py:34-62`).

    Two tiers behind one signature:

    - ``tokenizer=None`` (default): whitespace tokens, pure JVM column
      expressions — the oracle-gated tier. The reference counts tiktoken
      cl100k BPE tokens; tiktoken is not in this environment, so the
      whitespace budget is the documented divergence.
    - ``tokenizer=factory``: the exact-BPE seam. ``factory()`` must
      return an object with ``encode(str) -> list[int]`` and
      ``decode(list[int]) -> str`` (tiktoken's interface). It is
      invoked lazily ONCE PER PYTHON WORKER inside an Arrow-batched
      pandas iterator (mapInPandas) — plug ``lambda:
      tiktoken.get_encoding("cl100k_base")`` in an environment that has
      it and this tier becomes reference-exact with zero Spark-side
      changes.

    Output: id_cols + (n_tokens, n_tokens_kept, truncated).
    """
    out_schema = ", ".join(
        [f"{c} {dict(df.dtypes)[c]}" for c in id_cols]
        + ["n_tokens int", "n_tokens_kept int", "truncated string"]
    )
    if tokenizer is None:
        toks = words(text_col)
        return df.select(
            *id_cols,
            F.size(toks).alias("n_tokens"),
            F.least(F.size(toks), F.lit(max_tokens)).alias("n_tokens_kept"),
            F.array_join(F.slice(toks, 1, max_tokens), " ").alias("truncated"),
        )

    def run(batches):
        import pandas as pd

        enc = tokenizer()  # once per task (worker reuse amortizes it)
        for pdf in batches:
            # NULL text propagates NULL stats — the same semantics as
            # the whitespace tier above (words→NULL), so swapping the
            # exact-BPE tier in really is zero Spark-side changes;
            # `t or ''` would silently rewrite NULL rows to (0, 0, '')
            ids = pdf[text_col].map(
                lambda t: enc.encode(t) if isinstance(t, str) else None
            )
            kept = ids.map(lambda x: None if x is None else x[:max_tokens])
            yield pd.DataFrame(
                {
                    **{c: pdf[c] for c in id_cols},
                    "n_tokens": ids.map(
                        lambda x: None if x is None else len(x)
                    ),
                    "n_tokens_kept": kept.map(
                        lambda x: None if x is None else len(x)
                    ),
                    "truncated": kept.map(
                        lambda x: None if x is None else enc.decode(x)
                    ),
                }
            )

    return df.select(*id_cols, text_col).mapInPandas(run, schema=out_schema)
