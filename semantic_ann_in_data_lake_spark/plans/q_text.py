"""Text analysis: token stats, quality, TF-IDF/BM25, PII, packing, BPE.

Split from the single-file registry (round 4); the hub
`plans.registry` imports this module for its registration side
effects and re-exports every query function.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from semantic_ann_in_data_lake_spark.plans.registry import register, _t

from semantic_ann_in_data_lake_spark.functions.hashing import portable_hash_expr
from semantic_ann_in_data_lake_spark.functions.text import (
    normalize_sentence_sql, word_shingles_from_sql, words_sql,
)
from semantic_ann_in_data_lake_spark.operators import textstats
from semantic_ann_in_data_lake_spark.plans.qshared import _TOKS, _W_CTE


# ---------------------------------------------------------------------------
# Text analysis suite
# ---------------------------------------------------------------------------

_STOP_IN = ", ".join(f"'{w}'" for w in textstats.STOPWORDS)


@register(
    "doc_token_stats",
    f"""
    WITH t AS (
      SELECT doc_id, length(text)::INT AS n_chars,
             {_TOKS} AS toks, {normalize_sentence_sql('text')} AS norm
      FROM documents
    ), m AS (
      SELECT doc_id, n_chars,
             len(toks)::INT AS n_tokens,
             len(list_distinct(toks))::INT AS n_distinct_tokens,
             greatest(len(toks), 1) AS safe_tok,
             greatest(length(norm), 1) AS safe_chr,
             len(list_filter(toks, tk -> tk IN ({_STOP_IN}))) AS stop_hits,
             length(norm) AS norm_len,
             length(norm) - length(regexp_replace(norm, '[.,!?;:]', '', 'g')) AS punct_chars,
             length(norm) - length(regexp_replace(norm, '[0-9]', '', 'g')) AS digit_chars
      FROM t
    )
    SELECT doc_id, n_chars, n_tokens, n_distinct_tokens,
           CASE WHEN n_tokens = 0 THEN 0.0 ELSE
             round((norm_len - n_tokens + 1)::DOUBLE / safe_tok + 1e-9, 4)
           END AS avg_token_len,
           round(stop_hits::DOUBLE / safe_tok + 1e-9, 4) AS stopword_ratio,
           round(punct_chars::DOUBLE / safe_chr + 1e-9, 4) AS punct_ratio,
           round(digit_chars::DOUBLE / safe_chr + 1e-9, 4) AS digit_ratio,
           round(n_distinct_tokens::DOUBLE / safe_tok + 1e-9, 4) AS type_token_ratio,
           round(0.4 * least(n_tokens::DOUBLE / 100.0, 1.0)
                 + 0.3 * round(n_distinct_tokens::DOUBLE / safe_tok + 1e-9, 4)
                 + 0.3 * round(stop_hits::DOUBLE / safe_tok + 1e-9, 4) + 1e-9, 4) AS quality_score
    FROM m
    """,
)
def doc_token_stats(spark, sf_dir):
    return textstats.token_stats(_t(spark, sf_dir, "documents"))


def _lang_id_sql() -> str:
    score_cols = ", ".join(
        f"len(list_filter(toks, tk -> tk IN ({', '.join(chr(39) + w + chr(39) for w in ws)}))) AS s_{lang}"
        for lang, ws in textstats.LANG_MARKERS.items()
    )
    langs = list(textstats.LANG_MARKERS)
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    pred = "CASE " + " ".join(
        f"WHEN s_{lang} > 0 AND s_{lang} = {best} THEN '{lang}'" for lang in langs
    ) + " ELSE 'und' END"
    return f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    s AS (SELECT doc_id, greatest(len(toks), 1) AS n_tokens, {score_cols} FROM t)
    SELECT doc_id, {pred} AS lang_pred,
           round({best}::DOUBLE / n_tokens + 1e-9, 4) AS lang_score
    FROM s
    """


@register("lang_id", _lang_id_sql())
def lang_id(spark, sf_dir):
    return textstats.lang_id(_t(spark, sf_dir, "documents"))


@register(
    "doc_fingerprints",
    f"""
    WITH wn AS (SELECT doc_id, {normalize_sentence_sql('text')} AS norm,
                       {_TOKS} AS w FROM documents),
    s AS (SELECT doc_id, norm,
                 {word_shingles_from_sql('w', 3)} AS sh FROM wn)
    SELECT doc_id, md5(norm) AS fp_md5,
           list_min(list_transform(sh, s -> {portable_hash_expr('s', seed='fp:')}))
               AS fp_minshingle
    FROM s
    """,
)
def doc_fingerprints(spark, sf_dir):
    return textstats.fingerprints(_t(spark, sf_dir, "documents"))


@register(
    "token_truncate_docs",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents)
    SELECT doc_id,
           len(toks)::INT AS n_tokens,
           least(len(toks), 32)::INT AS n_tokens_kept,
           array_to_string(list_slice(toks, 1, 32), ' ') AS truncated
    FROM t
    """,
)
def token_truncate_docs(spark, sf_dir):
    """V3: token-budget truncation via :func:`functions.text.token_truncate`
    (whitespace tier; the exact-BPE tokenizer seam on the same function
    is unit-tested with a fake tokenizer — `join_discoverer.py:34-62`)."""
    from semantic_ann_in_data_lake_spark.functions.text import token_truncate

    return token_truncate(
        _t(spark, sf_dir, "documents"), "text", ("doc_id",), max_tokens=32
    )




@register(
    "chunk_docs",
    f"""
    WITH {_W_CTE},
    c AS (SELECT doc_id, w, unnest(range(0, len(w), 8)) AS cid
          FROM w WHERE len(w) > 0)
    SELECT doc_id, (cid / 8)::INT AS chunk_id, cid::INT AS start_pos,
           len(list_slice(w, cid + 1, cid + 16))::INT AS n_tokens,
           array_to_string(list_slice(w, cid + 1, cid + 16), ' ') AS chunk_text
    FROM c
    """,
)
def chunk_docs(spark, sf_dir):
    """Sliding-window token chunking (window 16, stride 8): the
    pre-training corpus prep step. Chunks start at every stride while
    tokens remain; trailing chunks may be partial."""
    from semantic_ann_in_data_lake_spark.operators.chunking import chunk_documents

    return chunk_documents(_t(spark, sf_dir, "documents"), window=16, stride=8)


@register(
    "tfidf_top_terms",
    f"""
    WITH t AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
    n AS (SELECT count(*) AS n_docs FROM documents),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    scored AS (
      SELECT doc_id, term, tf, df,
             round(tf * ln((n_docs + 1.0) / (df + 1.0)) + 1e-9, 4) AS score
      FROM tf JOIN dfreq USING (term) CROSS JOIN n
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rnk
      FROM scored
    )
    SELECT doc_id, term, tf, df, score, rnk::INT AS rank
    FROM ranked WHERE rnk <= 5
    """,
)
def tfidf_top_terms(spark, sf_dir):
    """Corpus TF-IDF: per-doc top-5 terms (two-level agg + broadcast
    corpus size + ranking window); ln bit-parity guarded by the
    textstats round-bias discipline."""
    return textstats.tfidf_top_terms(_t(spark, sf_dir, "documents"), k=5)


@register(
    "bm25_top_terms",
    f"""
    WITH t AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
    dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY 1),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    corpus AS (SELECT (SELECT count(*) FROM documents) AS n_docs,
                      (SELECT avg(dl) FROM dl) AS avgdl),
    scored AS (
      SELECT doc_id, term, tf, df, dl,
             round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                   * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
                   + 1e-9, 4) AS score
      FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN corpus
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rnk
      FROM scored
    )
    SELECT doc_id, term, tf, df, dl, score, rnk::INT AS rank
    FROM ranked WHERE rnk <= 5
    """,
)
def bm25_top_terms(spark, sf_dir):
    """Okapi BM25 per-doc top-5 terms (k1=1.2, b=0.75): tf-idf breadth
    plus doc-length normalization — the standard retrieval scorer over
    a corpus, all portable arithmetic."""
    return textstats.bm25_top_terms(_t(spark, sf_dir, "documents"), k=5)


@register(
    "doc_repetition_stats",
    f"""
    WITH {_W_CTE},
    s AS (
      SELECT doc_id, len(w)::INT AS n_tokens,
             greatest(len(w) - 2, 0)::INT AS n_ngrams,
             len({word_shingles_from_sql('w', 3)})::INT AS n_distinct_ngrams
      FROM w
    )
    SELECT doc_id, n_tokens, n_ngrams, n_distinct_ngrams,
           round((CASE WHEN n_ngrams = 0 THEN 0.0
                  ELSE (n_ngrams - n_distinct_ngrams)::DOUBLE / n_ngrams END)
                 + 1e-9, 4) AS dup_ngram_fraction
    FROM s
    """,
)
def doc_repetition_stats(spark, sf_dir):
    """Gopher-style duplicate-n-gram repetition filter over documents —
    row-local column expressions, no shuffle (textstats.repetition_stats)."""
    return textstats.repetition_stats(_t(spark, sf_dir, "documents"))


def _pii_augmented(spark, sf_dir):
    """Deterministic PII-ish fixture: splice synthetic emails/URLs/phones
    into document text keyed on doc_id (same construction in the oracle
    CTE) — the raw corpus has none, so the scrub gate would otherwise
    count only zeros."""
    d = _t(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    aug = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit(" contact user"), sid, F.lit("@example.com")),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 3 == 1,
            F.concat(F.lit(" see https://site.example/p/"), sid, F.lit("?u=a@b.co")),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit(" call 555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
    )
    return d.select("doc_id", aug.alias("text"))


_PII_AUG_SQL = """
    aug AS (
      SELECT doc_id,
             text
             || CASE WHEN doc_id % 3 = 0
                THEN ' contact user' || doc_id::VARCHAR || '@example.com'
                ELSE '' END
             || CASE WHEN doc_id % 3 = 1
                THEN ' see https://site.example/p/' || doc_id::VARCHAR || '?u=a@b.co'
                ELSE '' END
             || CASE WHEN doc_id % 5 = 0
                THEN ' call 555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
                ELSE '' END
             AS text
      FROM documents
    )
"""


@register(
    "pii_scrub_docs",
    f"""
    WITH {_PII_AUG_SQL}
    SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(text,
             '{textstats.PII_PATTERNS["email"]}', '[EMAIL]', 'g'),
             '{textstats.PII_PATTERNS["url"]}', '[URL]', 'g'),
             '{textstats.PII_PATTERNS["phone"]}', '[PHONE]', 'g') AS clean_text,
           len(regexp_extract_all(text, '{textstats.PII_PATTERNS["email"]}'))::INT AS n_emails,
           len(regexp_extract_all(text, '{textstats.PII_PATTERNS["url"]}'))::INT AS n_urls,
           len(regexp_extract_all(text, '{textstats.PII_PATTERNS["phone"]}'))::INT AS n_phones
    FROM aug
    """,
)
def pii_scrub_docs(spark, sf_dir):
    """PII scrub pass (emails → [EMAIL], URLs → [URL], phones → [PHONE])
    with per-doc match counts, over the deterministic PII fixture.
    Email-before-URL replacement order is part of the pinned semantics
    (an email inside a URL query string is masked by the email pass
    first; the URL pass then swallows the placeholder)."""
    return textstats.pii_scrub(_pii_augmented(spark, sf_dir))


@register(
    "quality_filter_docs",
    f"""
    WITH {_W_CTE},
    s AS (
      SELECT doc_id, len(w) AS n_tokens,
             greatest(len(w) - 2, 0) AS n_ngrams,
             len({word_shingles_from_sql('w', 3)}) AS n_distinct_ngrams,
             len(list_filter(w, tk -> tk IN ({_STOP_IN}))) AS stop_hits
      FROM w
    )
    SELECT doc_id FROM s
    WHERE n_tokens BETWEEN 20 AND 200
      AND round(stop_hits::DOUBLE / greatest(n_tokens, 1) + 1e-9, 4) >= 0.05
      AND round((CASE WHEN n_ngrams = 0 THEN 0.0
                 ELSE (n_ngrams - n_distinct_ngrams)::DOUBLE / n_ngrams END)
                + 1e-9, 4) <= 0.2
    """,
)
def quality_filter_docs(spark, sf_dir):
    """Composed quality gate (the Gopher-rule pipeline): token-count
    band AND stopword-ratio floor AND duplicate-n-gram ceiling — the
    standard keep/drop decision a pretraining ingest applies per
    document.

    Shape: posexplode the words ONCE, build
    shingles with lead() windows, and compute all four stats in one
    doc-keyed aggregate — the minhash_signatures shape. The former
    "one row-local projection" composed the words expression into TEN
    inlined references after projection collapse (the shingle lambda
    re-split the document per position — the word_shingles_from O(len²)
    trap, measured 5.3 s at sf0.1); the explode path tokenizes exactly
    once per row and the window's doc_id partitioning is reused by the
    aggregate — one narrow shuffle (measured 1.0 s, identical rows)."""
    from pyspark.sql.window import Window

    from semantic_ann_in_data_lake_spark.functions.text import words
    from semantic_ann_in_data_lake_spark.operators.textstats import (
        STOPWORDS,
    )

    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        F.col("doc_id"), F.posexplode(words("text")).alias("__pos", "__wd")
    )
    win = Window.partitionBy("doc_id").orderBy("__pos")
    lead1, lead2 = F.lead("__wd", 1).over(win), F.lead("__wd", 2).over(win)
    sh = tok.select(
        "doc_id",
        "__wd",
        # guard on the LAST lead: tail positions emit no truncated
        # shingle (same contract as minhash_signatures)
        F.when(
            lead2.isNotNull(), F.concat_ws(" ", F.col("__wd"), lead1, lead2)
        ).alias("__sh"),
    )
    stats = sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.count("__sh").alias("n_ngrams"),  # count skips null tails
        F.count_distinct("__sh").alias("n_distinct_ngrams"),
        F.sum(
            F.when(F.col("__wd").isin(*STOPWORDS), 1).otherwise(0)
        ).alias("stop_hits"),
    )
    return stats.where(
        textstats.gopher_ok_from_stats(
            F.col("n_tokens"),
            F.col("n_ngrams"),
            F.col("n_distinct_ngrams"),
            F.col("stop_hits"),
        )
    ).select("doc_id")


@register(
    "pack_sequences_docs",
    f"""
    WITH t AS (
      SELECT doc_id, len({_TOKS})::BIGINT AS n_tokens FROM documents
    ),
    c AS (
      SELECT doc_id, n_tokens,
             (sum(n_tokens) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - n_tokens)::BIGINT AS cum_before
      FROM t
    )
    SELECT doc_id, n_tokens, cum_before,
           (cum_before // 256)::BIGINT AS bin_id,
           (cum_before % 256)::BIGINT AS bin_offset
    FROM c
    """,
)
def pack_sequences_docs(spark, sf_dir):
    """Sequence packing for training batches: contiguous id-order
    assignment of every doc to a 256-token-budget bin. The Spark side
    computes the global running token count as a DISTRIBUTED prefix sum
    (range partition → per-partition window → schema-sized totals →
    broadcast offsets — operators/packing.py); the oracle is the plain
    single-stream window, proving the distributed decomposition exact."""
    from semantic_ann_in_data_lake_spark.operators.packing import pack_sequences

    return pack_sequences(_t(spark, sf_dir, "documents"), budget=256)


_BUDGET_SELECT_B = 8_000  # total tokens in the assembled mix

# (doc_id, source, n_tokens, quality_score) per document — verbatim the
# doc_token_stats expressions (hash-gated equal cross-engine); the
# shared front half of the mixture-curation oracles
_DOC_QUALITY_CTES = f"""t AS (
      SELECT doc_id, source, {_TOKS} AS toks FROM documents
    ), m AS (
      SELECT doc_id, source,
             len(toks)::INT AS n_tokens,
             greatest(len(toks), 1) AS safe_tok,
             len(list_distinct(toks)) AS n_distinct,
             len(list_filter(toks, tk -> tk IN ({_STOP_IN}))) AS stop_hits
      FROM t
    ), s AS (
      SELECT doc_id, source, n_tokens,
             round(0.4 * least(n_tokens::DOUBLE / 100.0, 1.0)
                   + 0.3 * round(n_distinct::DOUBLE / safe_tok + 1e-9, 4)
                   + 0.3 * round(stop_hits::DOUBLE / safe_tok + 1e-9, 4)
                   + 1e-9, 4) AS quality_score
      FROM m
    )"""


def _budget_select_oracle(budget: int = _BUDGET_SELECT_B) -> str:
    # alloc: verbatim the temperature_mix_allocation discipline (sqrt
    # weight, DECIMAL accumulation, 6-dp share, floor to tokens)
    return f"""
    WITH {_DOC_QUALITY_CTES}, per_source AS (
      SELECT source, sum(n_tokens)::BIGINT AS src_tokens FROM s GROUP BY source
    ), w AS (
      SELECT source, round(sqrt(src_tokens::DOUBLE), 6)::DECIMAL(18,6) AS wgt
      FROM per_source
    ), tot AS (SELECT sum(wgt) AS total FROM w),
    alloc AS (
      SELECT w.source,
             floor(round(w.wgt::DOUBLE / tot.total::DOUBLE, 6)::DECIMAL(18,6)
                   * {budget})::BIGINT AS alloc_tokens
      FROM w, tot
    ), run AS (
      SELECT s.*,
             ((sum(n_tokens) OVER (PARTITION BY source
                 ORDER BY quality_score DESC, doc_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
              - n_tokens)::BIGINT AS cum_before
      FROM s
    )
    SELECT run.doc_id, run.source, run.quality_score, run.n_tokens,
           run.cum_before
    FROM run JOIN alloc USING (source)
    WHERE run.cum_before < alloc.alloc_tokens
    """


@register("budget_select_docs", _budget_select_oracle())
def budget_select_docs(spark, sf_dir):
    """Mixture ASSEMBLY: turn the temperature allocation (tokens per
    source, α = 0.5 — same discipline as ``temperature_mix_allocation``)
    into the actual document set of an 8,000-token training mix: within
    each source, admit documents best-quality-first while the running
    token total is under the source's quota (the straddling doc is
    kept). The running total is the skew-safe grouped distributed
    prefix sum (``operators/packing.py::grouped_running_total``) — a
    dominant source never funnels through one task; the oracle is the
    plain per-source window, proving the decomposition exact. The
    n_sources-row quota table broadcasts onto the selection; ``source``
    rides through ``token_stats`` instead of re-joining the stats onto
    the corpus (which would shuffle the full table against itself)."""
    from semantic_ann_in_data_lake_spark.operators.packing import (
        select_to_token_budget,
    )

    docs = _t(spark, sf_dir, "documents")
    d = textstats.token_stats(docs, extra_cols=("source",)).select(
        "doc_id", "source", "n_tokens", "quality_score"
    )
    per_source = d.groupBy("source").agg(
        F.sum("n_tokens").cast("long").alias("src_tokens")
    )
    w = per_source.withColumn(
        "wgt",
        F.round(F.sqrt(F.col("src_tokens").cast("double")), 6).cast(
            "decimal(18,6)"
        ),
    )
    tot = w.agg(F.sum("wgt").alias("total"))
    quotas = (
        w.crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.floor(
                F.round(
                    F.col("wgt").cast("double") / F.col("total").cast("double"),
                    6,
                ).cast("decimal(18,6)")
                * _BUDGET_SELECT_B
            )
            .cast("long")
            .alias("alloc_tokens"),
        )
    )
    sel = select_to_token_budget(
        d,
        quotas,
        group_col="source",
        order_cols=[F.col("quality_score").desc(), F.col("doc_id").asc()],
        weight_col="n_tokens",
    )
    return sel.select(
        "doc_id", "source", "quality_score", "n_tokens",
        F.col("cum_before").cast("long").alias("cum_before"),
    )


@register(
    "quality_quartiles_by_source",
    f"""
    WITH {_DOC_QUALITY_CTES}, r AS (
      SELECT s.*,
             row_number() OVER (PARTITION BY source
                ORDER BY quality_score ASC, doc_id ASC) AS rnk,
             count(*) OVER (PARTITION BY source) AS n
      FROM s
    )
    SELECT source,
           (((rnk - 1) * 4) // n + 1)::BIGINT AS quartile,
           count(*)::BIGINT AS n_docs,
           sum(n_tokens)::BIGINT AS token_sum,
           min(quality_score) AS min_q,
           max(quality_score) AS max_q
    FROM r GROUP BY source, quartile
    """,
)
def quality_quartiles_by_source(spark, sf_dir):
    """Per-source quality-quartile profile — the curation view a
    mixture owner reads before setting budgets: how many docs/tokens
    each source holds per quality band, and the band edges. Quartile
    assignment is the explicit integer formula ((rank−1)·4) div n + 1
    (NOT each engine's NTILE, whose remainder placement differs), with
    rank by (quality asc, doc_id asc). The per-source rank is the
    grouped distributed prefix sum counting rows
    (``grouped_running_total`` with weight 1) — no per-source window
    touches the data path, so a dominant source stays parallel; the
    group sizes broadcast (n_sources rows). Oracle: the plain window
    form, proving the distributed rank exact."""
    from semantic_ann_in_data_lake_spark.operators.packing import (
        grouped_running_total,
    )

    docs = _t(spark, sf_dir, "documents")
    d = textstats.token_stats(docs, extra_cols=("source",)).select(
        "doc_id", "source", "n_tokens", "quality_score"
    )
    ranked = grouped_running_total(
        d.withColumn("__one", F.lit(1).cast("long")),
        "source",
        [F.col("quality_score").asc(), F.col("doc_id").asc()],
        "__one",
        out_col="rnk",
    )
    sizes = d.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    q = (
        ranked.join(F.broadcast(sizes), "source")
        # `div`: LONG integer division end to end (a double `/` then
        # cast truncates the same way here but rounds above 2^53)
        .withColumn("quartile", F.expr("((rnk - 1) * 4) div n + 1"))
    )
    return (
        q.groupBy("source", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("token_sum"),
            F.min("quality_score").alias("min_q"),
            F.max("quality_score").alias("max_q"),
        )
    )


@register(
    "bpe_contract_docs",
    """
    SELECT count(*)::BIGINT AS n_docs, 0::BIGINT AS n_violations
    FROM documents
    """,
)
def bpe_contract_docs(spark, sf_dir):
    """Exact-token tier contract: train the in-repo byte-level BPE on
    the corpus (functions/bpe.py — distributed word-frequency pass,
    bounded driver merge loop), encode every document on the workers,
    and verify per doc that (a) decode(encode(text)) == text and
    (b) whitespace-words ≤ bpe-tokens ≤ utf8-bytes. Emits (n_docs,
    n_violations); the oracle pins n_violations = 0 over the same
    corpus — the BPE algebra itself is not SQL-expressible, its
    invariants are."""
    from semantic_ann_in_data_lake_spark.functions.bpe import (
        BpeTokenizer,
        train_bpe_from_df,
    )

    docs = _t(spark, sf_dir, "documents")
    merges = train_bpe_from_df(docs, num_merges=200)

    def check(batches):
        import pandas as pd

        tok = BpeTokenizer(merges)
        for pdf in batches:
            bad = 0
            for t in pdf["text"].fillna(""):
                ids = tok.encode(t)
                if tok.decode(ids) != t:
                    bad += 1
                elif not (len(t.split()) <= len(ids) <= len(t.encode())):
                    bad += 1
            yield pd.DataFrame({"n": [len(pdf)], "bad": [bad]})

    agg = docs.select("text").mapInPandas(check, schema="n long, bad long")
    return agg.agg(
        F.sum("n").alias("n_docs"), F.sum("bad").alias("n_violations")
    )


def _quality_model_oracle() -> str:
    from semantic_ann_in_data_lake_spark.annotate.scoring import (
        default_weights,
        score_oracle_sql,
    )

    proj = score_oracle_sql("text", default_weights(16), bias=0.0)
    return f"SELECT doc_id, {proj} FROM documents"


@register("quality_model_scores", _quality_model_oracle())
def quality_model_scores(spark, sf_dir):
    """Learned-quality-model stage (annotate/scoring.py): sigmoid over
    the hash-embedding feature map with a fixed weight head — the
    broadcast-weights batch-scoring plumbing of a real classifier,
    fully JVM-side and hash-checked against the DuckDB twin (logit at
    6 dp exact; score at 4 dp — exp is the one libm step without a
    cross-engine correctly-rounded guarantee)."""
    from semantic_ann_in_data_lake_spark.annotate.scoring import score_documents

    return score_documents(_t(spark, sf_dir, "documents"))


def _dup_span_oracle(n: int = 5) -> str:
    grams = (
        f"list_transform(range(1, greatest(len(w) - {n - 1}, 0) + 1), "
        f"i -> array_to_string(list_slice(w, i, i + {n - 1}), ' '))"
    )
    return f"""
    WITH {_W_CTE},
    g AS (
      SELECT doc_id, {portable_hash_expr('gram')} AS gh
      FROM (SELECT doc_id, unnest({grams}) AS gram FROM w)
    ),
    shared AS (
      SELECT gh FROM (SELECT DISTINCT gh, doc_id FROM g)
      GROUP BY gh HAVING count(*) > 1
    ),
    agg AS (
      SELECT g.doc_id, count(*)::BIGINT AS n_grams,
             sum(CASE WHEN s.gh IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_dup_grams
      FROM g LEFT JOIN shared s ON g.gh = s.gh
      GROUP BY g.doc_id
    )
    SELECT d.doc_id,
           coalesce(a.n_grams, 0)::BIGINT AS n_grams,
           coalesce(a.n_dup_grams, 0)::BIGINT AS n_dup_grams,
           round(CASE WHEN coalesce(a.n_grams, 0) = 0 THEN 0.0
                      ELSE a.n_dup_grams::DOUBLE / a.n_grams END + 1e-9,
                 4) AS dup_fraction
    FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
    """


def _span_pass_ctes(n: int, s: str, src: str) -> str:
    """One excision pass as a DuckDB CTE chain (suffix ``s``) over a
    relation ``src`` providing (doc_id, w) — chained by the one- and
    two-pass oracles."""
    gram = f"array_to_string(list_slice(w, i, i + {n - 1}), ' ')"
    return f"""
    occ{s} AS (
      SELECT doc_id, i AS pos, {portable_hash_expr(gram)} AS gh
      FROM (SELECT doc_id, w,
                   unnest(range(1, greatest(len(w) - {n - 1}, 0) + 1)) AS i
            FROM {src})
    ),
    canon{s} AS (
      SELECT gh, min(struct_pack(d := doc_id, p := pos)) AS cc
      FROM occ{s} GROUP BY gh
    ),
    dup{s} AS (
      SELECT o.doc_id, o.pos
      FROM occ{s} o JOIN canon{s} c ON o.gh = c.gh
      WHERE o.doc_id <> c.cc.d OR o.pos <> c.cc.p
    ),
    cov{s} AS (
      SELECT DISTINCT doc_id, tpos FROM (
        SELECT doc_id, unnest(range(pos, pos + {n})) AS tpos FROM dup{s}
      )
    ),
    toks{s} AS (
      SELECT doc_id, i AS tpos, w[i] AS tok
      FROM (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS i
            FROM {src})
    ),
    kept{s} AS (
      SELECT t.doc_id, t.tpos, t.tok FROM toks{s} t
      ANTI JOIN cov{s} c ON t.doc_id = c.doc_id AND t.tpos = c.tpos
    ),
    agg{s} AS (
      SELECT doc_id, count(*) AS n_kept,
             string_agg(tok, ' ' ORDER BY tpos) AS text_dedup
      FROM kept{s} GROUP BY doc_id
    ),
    out{s} AS (
      SELECT {src}.doc_id, len({src}.w)::BIGINT AS n_tokens,
             (len({src}.w) - coalesce(a.n_kept, 0))::BIGINT AS n_removed,
             coalesce(a.text_dedup, '') AS text_dedup
      FROM {src} LEFT JOIN agg{s} a USING (doc_id)
    )"""


def _dedup_span_rewrite_oracle(n: int = 5) -> str:
    return f"""
    WITH {_W_CTE},
    {_span_pass_ctes(n, '1', 'w')}
    SELECT doc_id, n_tokens, n_removed, text_dedup FROM out1
    """


def _dedup_span_rewrite2_oracle(n: int = 5) -> str:
    # pass 2 re-tokenizes pass 1's rewrite (words_sql is idempotent on
    # the single-space token form) and reports the ORIGINAL token
    # count with the TOTAL removed across both passes
    return f"""
    WITH {_W_CTE},
    {_span_pass_ctes(n, '1', 'w')},
    w2 AS (SELECT doc_id, {words_sql('text_dedup')} AS w FROM out1),
    {_span_pass_ctes(n, '2', 'w2')}
    SELECT o1.doc_id,
           o1.n_tokens,
           (o1.n_tokens - (o2.n_tokens - o2.n_removed))::BIGINT
             AS n_removed,
           o2.text_dedup
    FROM out1 o1 JOIN out2 o2 USING (doc_id)
    """


@register("dedup_span_rewrite", _dedup_span_rewrite_oracle())
def dedup_span_rewrite(spark, sf_dir):
    """Cross-document duplicated-span REMOVAL (operators/spans.py::
    duplicated_span_rewrite) — the exact-substring dedup rewrite (Lee
    et al. 2022) at 5-gram granularity: every token span ≥ 5 words
    occurring more than once in the corpus survives only at its
    canonical (smallest (doc_id, pos)) occurrence; every document is
    returned rewritten. The measurement twin is `dup_span_fraction`;
    the boilerplate-segment variant is `segment_dedup_rewrite`. All
    shuffles carry BIGINT gram hashes or (doc_id, position) pairs —
    no suffix array, no driver state, nothing quadratic."""
    from semantic_ann_in_data_lake_spark.operators.spans import (
        duplicated_span_rewrite,
    )

    return duplicated_span_rewrite(_t(spark, sf_dir, "documents"), n=5)


@register("dedup_span_rewrite2", _dedup_span_rewrite2_oracle())
def dedup_span_rewrite2(spark, sf_dir):
    """Iterated (two-pass) duplicated-span removal
    (operators/spans.py::duplicated_span_rewrite_multi): excision can
    make previously-distant tokens adjacent, and the newly-formed
    sequence can itself be a duplicated span the single pass does not
    see by documented design — the second pass closes it. The oracle
    chains the full pass CTE twice (the second over the first's
    rewrite), so the composition arithmetic (original token count,
    TOTAL removed across passes) is hash-checked; the adversarial
    case where pass 2 genuinely removes tokens is unit-pinned
    (natural corpora, including the fixtures, fixpoint after one
    pass)."""
    from semantic_ann_in_data_lake_spark.operators.spans import (
        duplicated_span_rewrite_multi,
    )

    return duplicated_span_rewrite_multi(
        _t(spark, sf_dir, "documents"), n=5, passes=2
    )


@register("dup_span_fraction", _dup_span_oracle())
def dup_span_fraction(spark, sf_dir):
    """Exact duplicated-span detection (operators/spans.py): the
    fraction of each document's positional 5-gram spans that occur
    verbatim in at least one other document — the per-document
    boilerplate signal exact-substring training-data dedup is built
    on. Grams are 64-bit-hashed before the explode leaves the scan, so
    the corpus-wide shuffle carries (BIGINT, doc_id) only."""
    from semantic_ann_in_data_lake_spark.operators.spans import (
        duplicated_span_stats,
    )

    return duplicated_span_stats(_t(spark, sf_dir, "documents"), n=5)


@register(
    "bigram_lm_scores",
    f"""
    WITH {_W_CTE},
    bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(w)),
                    i -> w[i] || ' ' || w[i + 1])) AS bg
      FROM w
    ),
    bgw AS (SELECT doc_id, bg, string_split(bg, ' ')[1] AS w1 FROM bg),
    uni AS (SELECT unnest(w) AS tok FROM w),
    c1 AS (SELECT tok, count(*) AS c1 FROM uni GROUP BY tok),
    c2 AS (SELECT bg, count(*) AS c2 FROM bgw GROUP BY bg),
    v AS (SELECT count(DISTINCT tok) AS vsize FROM uni),
    scored AS (
      SELECT b.doc_id,
             count(*)::BIGINT AS n_bigrams,
             sum(round(log10((c2.c2 + 1)::DOUBLE / (c1.c1 + v.vsize))
                       + 1e-9, 6)::DECIMAL(18,6)) AS logp_sum
      FROM bgw b JOIN c2 ON b.bg = c2.bg JOIN c1 ON b.w1 = c1.tok CROSS JOIN v
      GROUP BY b.doc_id
    )
    SELECT w.doc_id,
           coalesce(s.n_bigrams, 0)::BIGINT AS n_bigrams,
           round(CASE WHEN s.n_bigrams IS NULL THEN 0.0
                      ELSE s.logp_sum::DOUBLE / s.n_bigrams END + 1e-9,
                 4) AS lm_score
    FROM w LEFT JOIN scored s ON w.doc_id = s.doc_id
    """,
)
def bigram_lm_scores(spark, sf_dir):
    """KenLM-style perplexity-proxy quality signal (operators/lm.py):
    mean add-one-smoothed bigram log-probability under the corpus's
    own bigram statistics. Per-document totals accumulate in
    DECIMAL(18,6) after a 6-dp round of each bigram's log10, so the
    parallel sum is bit-identical across partitionings and engines."""
    from semantic_ann_in_data_lake_spark.operators.lm import bigram_lm_scores

    return bigram_lm_scores(_t(spark, sf_dir, "documents"))


@register(
    "lang_source_matrix",
    """
    SELECT lang,
           sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)::BIGINT AS src0,
           sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END)::BIGINT AS src1,
           sum(CASE WHEN source = 'src2' THEN 1 ELSE 0 END)::BIGINT AS src2,
           sum(CASE WHEN source NOT IN ('src0','src1','src2')
                    THEN 1 ELSE 0 END)::BIGINT AS other,
           count(*) AS total
    FROM documents GROUP BY lang
    """,
)
def lang_source_matrix(spark, sf_dir):
    """Corpus composition matrix (language × source counts) — the
    mixing report a training-data pipeline publishes per snapshot.
    Fixed source columns + an 'other' bucket keep the schema stable
    when new sources appear (a dynamic pivot would change schema
    under the consumer); one partial-aggregating groupBy."""
    d = _t(spark, sf_dir, "documents")
    cols = [
        F.sum(F.when(F.col("source") == s, 1).otherwise(0))
        .cast("long")
        .alias(s)
        for s in ("src0", "src1", "src2")
    ]
    other = (
        F.sum(
            F.when(~F.col("source").isin("src0", "src1", "src2"), 1).otherwise(0)
        )
        .cast("long")
        .alias("other")
    )
    return d.groupBy("lang").agg(
        *cols, other, F.count(F.lit(1)).alias("total")
    )


def _segment_dedup_oracle(seg: int = 5, min_docs: int = 2) -> str:
    from semantic_ann_in_data_lake_spark.functions.hashing import (
        portable_hash_expr,
    )

    return f"""
    WITH t AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
      FROM documents
    ),
    seg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, ((len(w) + {seg - 1}) // {seg}) + 1),
                    i -> struct_pack(pos := i,
                                     s := array_to_string(
                                       list_slice(w, (i-1)*{seg}+1, (i-1)*{seg}+{seg}), ' ')))) AS u
      FROM t
    ),
    g AS (SELECT doc_id, u.pos AS pos, u.s AS s, {portable_hash_expr('u.s')} AS gh FROM seg),
    shared AS (
      SELECT gh FROM (SELECT DISTINCT gh, doc_id FROM g)
      GROUP BY gh HAVING count(*) >= {min_docs}
    ),
    agg AS (
      SELECT g.doc_id,
             count(*)::BIGINT AS n_segments,
             sum(CASE WHEN sh.gh IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_removed,
             string_agg(CASE WHEN sh.gh IS NULL THEN g.s END, ' ' ORDER BY g.pos) AS text_clean
      FROM g LEFT JOIN shared sh ON g.gh = sh.gh
      GROUP BY g.doc_id
    )
    SELECT d.doc_id,
           coalesce(a.n_segments, 0)::BIGINT AS n_segments,
           coalesce(a.n_removed, 0)::BIGINT AS n_removed,
           coalesce(a.text_clean, '') AS text_clean
    FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
    """


@register("segment_dedup_rewrite", _segment_dedup_oracle())
def segment_dedup_rewrite(spark, sf_dir):
    """Corpus-wide boilerplate REMOVAL (operators/boilerplate.py): the
    CCNet/RefinedWeb rewrite step — segments shared by >= 2 distinct
    documents are deleted from every document and the survivors are
    re-joined in position order. The rewrite twin of
    `dup_span_fraction` (which only measures); shuffles carry
    (BIGINT hash, doc_id), the shared-segment table is bounded by the
    threshold, reassembly is one per-doc groupBy."""
    from semantic_ann_in_data_lake_spark.operators.boilerplate import (
        remove_shared_segments,
    )

    return remove_shared_segments(
        _t(spark, sf_dir, "documents"), seg_words=5, min_docs=2
    )


def _ngram_topk_oracle(n: int = 3, k: int = 20) -> str:
    grams = (
        f"list_transform(range(1, greatest(len(w) - {n - 1}, 0) + 1), "
        f"i -> array_to_string(list_slice(w, i, i + {n - 1}), ' '))"
    )
    return f"""
    WITH w AS (SELECT doc_id, lang, {_TOKS} AS w FROM documents),
    g AS (SELECT lang, unnest({grams}) AS gram FROM w),
    c AS (SELECT lang, gram, count(*)::BIGINT AS n FROM g GROUP BY 1, 2)
    SELECT lang, gram, n, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY lang
                                   ORDER BY n DESC, gram ASC) AS rank
      FROM c
    ) WHERE rank <= {k}
    """


@register("ngram_topk_corpus", _ngram_topk_oracle())
def ngram_topk_corpus(spark, sf_dir):
    """Corpus-level n-gram statistics: top-20 word trigrams per
    language — the frequency table tokenizer training, contamination
    screening and boilerplate discovery all start from. Positional
    trigrams generate inside codegen (operators/spans.py); ONE
    two-level aggregation (partial map-side combine on (lang, gram))
    then a per-lang ranking window — never a global window."""
    from pyspark.sql.window import Window as _Win

    from semantic_ann_in_data_lake_spark.functions.text import words
    from semantic_ann_in_data_lake_spark.operators.spans import (
        positional_ngrams,
    )

    d = _t(spark, sf_dir, "documents")
    # materialize the words array BEFORE the per-position slices —
    # passing the split expression itself into positional_ngrams would
    # re-tokenize the text once per position (see word_shingles_from)
    g = d.select("lang", words("text").alias("__w")).select(
        "lang",
        F.explode(positional_ngrams(F.col("__w"), 3)).alias("gram"),
    )
    c = g.groupBy("lang", "gram").agg(F.count(F.lit(1)).alias("n"))
    w = _Win.partitionBy("lang").orderBy(F.col("n").desc(), F.col("gram").asc())
    return (
        c.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 20)
        .select("lang", "gram", "n", "rank")
    )


@register(
    "shard_manifest_docs",
    f"""
    WITH s AS (
      SELECT ({portable_hash_expr('doc_id::VARCHAR', seed='shard:')} % 16)::INT
               AS shard_id,
             len({_TOKS}) AS n_tokens
      FROM documents)
    SELECT shard_id, count(*) AS n_docs,
           sum(n_tokens)::BIGINT AS token_sum
    FROM s GROUP BY shard_id
    """,
)
def shard_manifest_docs(spark, sf_dir):
    """Training-shard export planning (operators/layout.py): documents
    deal into 16 content-addressed shards (hash of doc_id — idempotent
    across re-runs and retries, salt-redealable per epoch), manifested
    as per-shard doc and token counts — the sidecar a training loader
    reads to plan epochs. One groupBy over n_shards groups;
    write_shards materializes the same assignment one-file-per-shard,
    directory-pruned."""
    from semantic_ann_in_data_lake_spark.functions.text import words
    from semantic_ann_in_data_lake_spark.operators.layout import (
        assign_shards, shard_manifest,
    )

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.size(words("text")).alias("n_tokens")
    )
    return shard_manifest(
        assign_shards(d, "doc_id", 16, portable=True), "n_tokens"
    )


@register(
    "corpus_datacard",
    f"""
    WITH base AS (
      SELECT doc_id, lang, source, text, {_TOKS} AS w FROM documents),
    s AS (
      SELECT doc_id, lang, source,
             len(w) AS nt, length(text) AS nc,
             {portable_hash_expr('text')} AS h,
             len(w) BETWEEN 20 AND 200
               AND round(len(list_filter(w, tk -> tk IN ({_STOP_IN})))::DOUBLE
                         / greatest(len(w), 1) + 1e-9, 4) >= 0.05
               AND round((CASE WHEN greatest(len(w) - 2, 0) = 0 THEN 0.0
                          ELSE (greatest(len(w) - 2, 0)
                                - len({word_shingles_from_sql('w', 3)}))::DOUBLE
                               / greatest(len(w) - 2, 0) END) + 1e-9, 4) <= 0.2
               AS ok
      FROM base),
    tot AS (
      SELECT count(*) AS n, sum(nt) AS toks, sum(nc) AS chars,
             count(DISTINCT h) AS uniq,
             sum(CASE WHEN ok THEN 1 ELSE 0 END) AS good
      FROM s)
    SELECT 'corpus' AS section, 'all' AS key, 'n_docs' AS metric,
           n::DOUBLE AS value FROM tot
    UNION ALL
    SELECT 'corpus', 'all', 'n_tokens', toks::DOUBLE FROM tot
    UNION ALL
    SELECT 'corpus', 'all', 'n_chars', chars::DOUBLE FROM tot
    UNION ALL
    SELECT 'dedup', 'all', 'exact_dup_frac',
           round(1.0 - uniq::DOUBLE / n, 6) FROM tot
    UNION ALL
    SELECT 'quality', 'all', 'gopher_pass_rate',
           round(good::DOUBLE / n, 6) FROM tot
    UNION ALL
    SELECT 'lang', lang, 'doc_share',
           round(count(*)::DOUBLE / (SELECT n FROM tot), 6)
    FROM s GROUP BY lang
    UNION ALL
    SELECT 'source', source, 'token_share',
           round(sum(nt)::DOUBLE / (SELECT toks FROM tot), 6)
    FROM s GROUP BY source
    """,
)
def corpus_datacard(spark, sf_dir):
    """The corpus data card: one composed report a training-data owner
    reads before a run — corpus totals (docs/tokens/chars), exact-dup
    fraction, Gopher-gate pass rate, language doc shares, per-source
    token shares — as (section, key, metric, value) rows. Three scans
    total: ONE wide conditional aggregation (totals + dedup + quality
    in the same pass) and two share group-bys; every ratio from exact
    integer counts, 6-dp rounded."""
    from pyspark.sql.window import Window as _Win

    from semantic_ann_in_data_lake_spark.functions.hashing import (
        portable_hash64,
    )
    from semantic_ann_in_data_lake_spark.functions.text import (
        word_shingles_from, words,
    )
    from semantic_ann_in_data_lake_spark.operators.textstats import (
        STOPWORDS, _count_in, _r4,
    )

    d = _t(spark, sf_dir, "documents")
    s = d.select(
        "doc_id", "lang", "source",
        F.size(words("text")).alias("nt"),
        F.length("text").alias("nc"),
        portable_hash64(F.col("text")).alias("h"),
        words("text").alias("__w"),
    ).select(
        "doc_id", "lang", "source", "nt", "nc", "h",
        textstats.gopher_ok_from_stats(
            F.col("nt"),
            F.greatest(F.col("nt") - 2, F.lit(0)),
            F.size(word_shingles_from(F.col("__w"), 3)),
            _count_in(F.col("__w"), STOPWORDS),
        ).alias("ok"),
    )
    tot = s.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("nt").alias("toks"),
        F.sum("nc").alias("chars"),
        F.countDistinct("h").alias("uniq"),
        F.sum(F.when(F.col("ok"), 1).otherwise(0)).alias("good"),
    )
    card = tot.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("corpus").alias("section"), F.lit("all").alias("key"),
                    F.lit("n_docs").alias("metric"),
                    F.col("n").cast("double").alias("value"),
                ),
                F.struct(
                    F.lit("corpus").alias("section"), F.lit("all").alias("key"),
                    F.lit("n_tokens").alias("metric"),
                    F.col("toks").cast("double").alias("value"),
                ),
                F.struct(
                    F.lit("corpus").alias("section"), F.lit("all").alias("key"),
                    F.lit("n_chars").alias("metric"),
                    F.col("chars").cast("double").alias("value"),
                ),
                F.struct(
                    F.lit("dedup").alias("section"), F.lit("all").alias("key"),
                    F.lit("exact_dup_frac").alias("metric"),
                    F.round(
                        F.lit(1.0) - F.col("uniq").cast("double") / F.col("n"), 6
                    ).alias("value"),
                ),
                F.struct(
                    F.lit("quality").alias("section"), F.lit("all").alias("key"),
                    F.lit("gopher_pass_rate").alias("metric"),
                    F.round(
                        F.col("good").cast("double") / F.col("n"), 6
                    ).alias("value"),
                ),
            )
        ).alias("r")
    ).select("r.*")
    wall = _Win.partitionBy()
    lang = (
        s.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            F.lit("lang").alias("section"),
            F.col("lang").alias("key"),
            F.lit("doc_share").alias("metric"),
            F.round(
                F.col("c").cast("double") / F.sum("c").over(wall), 6
            ).alias("value"),
        )
    )
    src = (
        s.groupBy("source")
        .agg(F.sum("nt").alias("t"))
        .select(
            F.lit("source").alias("section"),
            F.col("source").alias("key"),
            F.lit("token_share").alias("metric"),
            F.round(
                F.col("t").cast("double") / F.sum("t").over(wall), 6
            ).alias("value"),
        )
    )
    return card.unionByName(lang).unionByName(src)


@register(
    "length_bucket_batches_docs",
    f"""
    WITH t AS (SELECT doc_id, len({_TOKS})::BIGINT AS n_tokens
               FROM documents),
    b AS (SELECT doc_id, n_tokens,
                 least(greatest(
                   (1::BIGINT << ceil(log2(greatest(n_tokens, 1)))::INT),
                   16), 1024) AS bucket
          FROM t)
    SELECT bucket, count(*) AS n_docs, sum(n_tokens)::BIGINT AS token_sum,
           (count(*) * bucket)::BIGINT AS padded_sum,
           round(1.0 - sum(n_tokens)::DOUBLE / (count(*) * bucket), 6)
             AS padding_waste
    FROM b GROUP BY bucket
    """,
)
def length_bucket_batches_docs(spark, sf_dir):
    """Inference-serving layout (operators/packing.py::
    length_bucket_batches): power-of-two length buckets with their
    padding economics — the data a serving owner sizes batch buckets
    from (padding_waste = fraction of batch compute spent on pad
    tokens). Row-local bucketing + one groupBy over ≤log2 spread
    groups; integer-exact."""
    from semantic_ann_in_data_lake_spark.operators.packing import (
        length_bucket_batches,
    )

    return length_bucket_batches(
        _t(spark, sf_dir, "documents"), min_bucket=16, max_bucket=1024
    )


_DSIR_B = 1024
_DSIR_M = 1 << 20
_DSIR_HASH = portable_hash_expr("gram", seed="dsir:")
_DSIR_GHASH = portable_hash_expr("doc_id::VARCHAR", seed="dsir:g:")


@register(
    "dsir_select_docs",
    f"""
    WITH w AS (SELECT doc_id, lang, {_TOKS} AS w FROM documents),
    g AS (SELECT doc_id, lang,
            w || list_transform(range(1, len(w)),
                 i -> list_extract(w, i) || ' ' || list_extract(w, i + 1))
              AS grams
          FROM w),
    e AS (SELECT doc_id, (lang = 'en') AS is_t, unnest(grams) AS gram
          FROM g),
    b AS (SELECT doc_id, is_t, ({_DSIR_HASH}) % {_DSIR_B} AS b FROM e),
    c AS (SELECT b, count(*)::BIGINT AS cq,
                 sum(CASE WHEN is_t THEN 1 ELSE 0 END)::BIGINT AS cp
          FROM b GROUP BY 1),
    t AS (SELECT sum(cq) AS tq, sum(cp) AS tp FROM c),
    r AS (SELECT b,
                 round((ln((cp + 1.0) / (tp + {_DSIR_B}.0))
                        - ln((cq + 1.0) / (tq + {_DSIR_B}.0))
                        + 1e-9) * 1000000, 0)::BIGINT AS rm
          FROM c CROSS JOIN t),
    d AS (SELECT b.doc_id, count(*)::INT AS n_grams,
                 sum(rm)::BIGINT AS wm
          FROM b JOIN r USING (b) GROUP BY 1),
    base AS (SELECT g.doc_id, coalesce(d.n_grams, 0)::INT AS n_grams,
                    coalesce(d.wm, 0)::BIGINT AS wm
             FROM g LEFT JOIN d ON g.doc_id = d.doc_id),
    keyed AS (SELECT doc_id, n_grams, wm,
              wm + round((-ln(-ln(((({_DSIR_GHASH}) % {_DSIR_M}) + 0.5)
                                   / {_DSIR_M}.0))
                          + 1e-9) * 1000000, 0)::BIGINT AS km
              FROM base),
    topk AS (SELECT doc_id FROM keyed ORDER BY km DESC, doc_id LIMIT 100)
    SELECT doc_id, n_grams,
           round(wm / 1000000.0 + 1e-9, 4) AS log_weight,
           round(km / 1000000.0 + 1e-9, 4) AS sel_key,
           (doc_id IN (SELECT doc_id FROM topk)) AS selected
    FROM keyed
    """,
)
def dsir_select_docs(spark, sf_dir):
    """DSIR data selection (operators/dsir.py::dsir_select): hashed
    unigram+bigram bucket features (B=1024, engine-portable hash),
    add-1-smoothed target-vs-raw log-ratio table fit on the corpus
    itself (target = lang='en'), per-doc log importance weight as an
    exact integer micro-unit sum, Gumbel-top-100 sampled selection
    keyed by a content-addressed hash draw. The scoring pass is
    row-local (the fitted ≤B-row ratio table is inlined as a literal
    lookup array); the only corpus shuffle is the B-bucket count
    aggregation, collapsed map-side by partial agg."""
    from semantic_ann_in_data_lake_spark.operators.dsir import dsir_select

    return dsir_select(
        _t(spark, sf_dir, "documents"), F.col("lang") == "en", k=100
    )


def _winnow_sql() -> str:
    from semantic_ann_in_data_lake_spark.operators.winnow import (
        winnow_fingerprints_sql,
    )

    return winnow_fingerprints_sql("documents", k=8, w=4)


@register("winnow_fingerprints_docs", _winnow_sql())
def winnow_fingerprints_docs(spark, sf_dir):
    """Winnowing fingerprints (operators/winnow.py, Schleimer et al.
    2003 / MOSS): 8-char-gram hashes, window-4 rightmost-min
    selection, packed (40-bit hash, 20-bit reversed pos) BIGINT keys
    so the window min IS the tie-broken argmin. Entirely row-local —
    fingerprints stream off the scan with zero shuffle."""
    from semantic_ann_in_data_lake_spark.operators.winnow import (
        winnow_fingerprints,
    )

    return winnow_fingerprints(_t(spark, sf_dir, "documents"), k=8, w=4)


@register(
    "winnow_overlap_pairs",
    f"""
    WITH fpraw AS ({_winnow_sql()}),
    fp AS (SELECT DISTINCT doc_id, fp FROM fpraw),
    cap AS (SELECT greatest(16, ceil(0.005 * count(*))::BIGINT) AS thr
            FROM documents),
    dfok AS (SELECT fp FROM (SELECT fp, count(*) AS df FROM fp GROUP BY 1)
             CROSS JOIN cap WHERE df >= 2 AND df <= thr),
    fpk AS (SELECT doc_id, fp FROM fp JOIN dfok USING (fp))
    SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
           count(*) AS n_shared
    FROM fpk a JOIN fpk b USING (fp)
    WHERE a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING count(*) >= 4
    """,
)
def winnow_overlap_pairs(spark, sf_dir):
    """Near-verbatim reuse pairs: documents sharing ≥4 winnowing
    fingerprints (guarantee: any verbatim match ≥ w+k−1 = 11 chars
    shares ≥1 fingerprint — the exact-substring complement to
    MinHash). Inverted-index join on fingerprint hash; the
    CORPUS-RELATIVE df cap (max(16, ⌈0.5% of docs⌉)) is the
    load-bearing bound on this template-heavy corpus: fingerprints in
    more docs than that are boilerplate carrying no pairing signal,
    and dropping them bounds per-hash fan-out at cap² AT EVERY SCALE
    (an absolute cap stopped biting below ~13k docs — measured 9.48M
    pairs uncapped vs ~290 capped at sf0.1; same output-bound
    discipline as the Jaccard/edit join shapes)."""
    from semantic_ann_in_data_lake_spark.operators.winnow import (
        winnow_overlap_pairs as op,
    )

    return op(
        _t(spark, sf_dir, "documents"),
        k=8, w=4, min_shared=4, max_df_frac=0.005,
    )


@register(
    "char_entropy_docs",
    f"""
    WITH n AS (SELECT doc_id, {normalize_sentence_sql('text')} AS nrm
               FROM documents),
    c AS (SELECT doc_id, length(nrm) AS n_chars,
             CASE WHEN length(nrm) = 0 THEN []::VARCHAR[]
                  ELSE list_transform(range(1, length(nrm) + 1),
                                      i -> substr(nrm, i, 1)) END AS ch
          FROM n),
    a AS (SELECT doc_id, n_chars, ch,
                 list_sort(list_distinct(ch)) AS alpha
          FROM c),
    e AS (SELECT doc_id, n_chars,
                 len(alpha) AS n_dist,
                 list_sum(list_transform(alpha, g ->
                   round((-(len(list_filter(ch, x -> x = g))::DOUBLE
                            / n_chars)
                          * log2(len(list_filter(ch, x -> x = g))::DOUBLE
                                 / n_chars)
                          + 1e-9) * 1000000, 0)::BIGINT)) AS em
          FROM a)
    SELECT doc_id, n_chars::INT AS n_chars, n_dist::INT AS n_distinct_chars,
           round(coalesce(em, 0) / 1000000.0 + 1e-9, 4) AS char_entropy,
           CASE WHEN n_dist < 2 THEN 0.0
                ELSE round(coalesce(em, 0) / 1000000.0 / log2(n_dist::DOUBLE)
                           + 1e-9, 4) END AS entropy_ratio
    FROM e
    """,
)
def char_entropy_docs(spark, sf_dir):
    """Character-entropy quality signal (operators/textstats.py::
    char_entropy): bits/char + normalized uniformity ratio per doc —
    the compression-proxy gate for gibberish/key-mash/binary-ish text.
    Row-local, integer micro-unit fold in sorted-alphabet order
    (exact, engine-portable); zero shuffle."""
    return textstats.char_entropy(_t(spark, sf_dir, "documents"))


def _funnel_lang_sql() -> str:
    score_cols = ", ".join(
        f"len(list_filter(w, tk -> tk IN ({', '.join(chr(39) + m + chr(39) for m in ws)}))) AS s_{lang}"
        for lang, ws in textstats.LANG_MARKERS.items()
    )
    langs = list(textstats.LANG_MARKERS)
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    pred = "CASE " + " ".join(
        f"WHEN s_{lang} > 0 AND s_{lang} = {best} THEN '{lang}'"
        for lang in langs
    ) + " ELSE 'und' END"
    return score_cols, pred


_FUNNEL_SCORES, _FUNNEL_PRED = _funnel_lang_sql()


@register(
    "curation_funnel_docs",
    f"""
    WITH n AS (SELECT doc_id, {normalize_sentence_sql('text')} AS nrm
               FROM documents),
    wds AS (SELECT doc_id, nrm,
              CASE WHEN length(nrm) = 0 THEN []::VARCHAR[]
                   ELSE string_split(nrm, ' ') END AS w
            FROM n),
    f AS (SELECT doc_id, nrm, md5(nrm) AS h, len(w) AS nt,
            len(list_filter(w, tk -> tk IN ({_STOP_IN}))) AS stop_hits,
            greatest(len(w) - 2, 0) AS ng,
            len({word_shingles_from_sql('w', 3)}) AS ndg,
            {_FUNNEL_SCORES}
          FROM wds),
    ech AS (SELECT doc_id,
              CASE WHEN length(nrm) = 0 THEN []::VARCHAR[]
                   ELSE list_transform(range(1, length(nrm) + 1),
                                       i -> substr(nrm, i, 1)) END AS ch,
              length(nrm) AS nc
            FROM n),
    ent AS (SELECT doc_id,
              len(list_sort(list_distinct(ch))) AS nd,
              coalesce(list_sum(list_transform(list_sort(list_distinct(ch)),
                g -> round((-(len(list_filter(ch, x -> x = g))::DOUBLE / nc)
                            * log2(len(list_filter(ch, x -> x = g))::DOUBLE
                                   / nc)
                            + 1e-9) * 1000000, 0)::BIGINT)), 0) AS em
            FROM ech),
    flags AS (SELECT f.doc_id, h, nt,
        (nt BETWEEN 20 AND 200
         AND round(stop_hits::DOUBLE / greatest(nt, 1) + 1e-9, 4) >= 0.05
         AND round((CASE WHEN ng = 0 THEN 0.0
                    ELSE (ng - ndg)::DOUBLE / ng END) + 1e-9, 4) <= 0.2)
          AS q,
        (({_FUNNEL_PRED}) = 'en') AS en,
        (nd >= 2 AND round(em / 1000000.0 / log2(nd::DOUBLE) + 1e-9, 4)
           BETWEEN 0.86 AND 0.92) AS ef
      FROM f JOIN ent ON f.doc_id = ent.doc_id),
    keep AS (SELECT h, min(doc_id) AS keeper FROM flags
             WHERE q AND en GROUP BY 1),
    fl2 AS (SELECT flags.*, (flags.doc_id = keep.keeper) AS isk
            FROM flags LEFT JOIN keep ON flags.h = keep.h),
    agg AS (SELECT
        count(*)::BIGINT AS d1, coalesce(sum(nt), 0)::BIGINT AS t1,
        count(*) FILTER (WHERE en)::BIGINT AS d2,
        coalesce(sum(nt) FILTER (WHERE en), 0)::BIGINT AS t2,
        count(*) FILTER (WHERE en AND q)::BIGINT AS d3,
        coalesce(sum(nt) FILTER (WHERE en AND q), 0)::BIGINT AS t3,
        count(*) FILTER (WHERE q AND en AND isk)::BIGINT AS d4,
        coalesce(sum(nt) FILTER (WHERE q AND en AND isk), 0)::BIGINT AS t4,
        count(*) FILTER (WHERE q AND en AND isk AND ef)::BIGINT AS d5,
        coalesce(sum(nt) FILTER (WHERE q AND en AND isk AND ef), 0)::BIGINT
          AS t5
      FROM fl2)
    SELECT 1 AS stage_rank, 'ingest' AS stage, d1 AS n_docs, t1 AS n_tokens FROM agg
    UNION ALL SELECT 2, 'lang_en', d2, t2 FROM agg
    UNION ALL SELECT 3, 'quality', d3, t3 FROM agg
    UNION ALL SELECT 4, 'exact_dedup', d4, t4 FROM agg
    UNION ALL SELECT 5, 'entropy_band', d5, t5 FROM agg
    """,
)
def curation_funnel_docs(spark, sf_dir):
    """The flagship curation funnel: the five-stage keep/drop pipeline
    a pretraining ingest applies — language filter → Gopher-style
    quality gate → exact dedup (keep-min per normalized-text hash,
    computed among survivors) → char-entropy band — reported as
    per-stage survivor counts and token totals. ONE corpus scan (all
    row-local flags in a single persisted projection) + one narrow
    dedup groupBy + a 1-row conditional aggregate unpivoted to 5 rows:
    the funnel costs barely more than any single stage. Implementation
    lives in operators/funnel.py::curation_funnel (shared with the
    streaming quality monitor)."""
    from semantic_ann_in_data_lake_spark.operators.funnel import (
        curation_funnel,
    )

    return curation_funnel(_t(spark, sf_dir, "documents"))


@register(
    "bm25_search_docs",
    f"""
    WITH d AS (SELECT doc_id, {_TOKS} AS w FROM documents),
    dlen AS (SELECT doc_id, len(w) AS dl FROM d),
    dterms AS (SELECT doc_id, unnest(w) AS term FROM d),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM dterms GROUP BY 1, 2),
    na AS (SELECT count(*) AS n, avg(dl::DOUBLE) AS avgdl FROM dlen),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    q AS (SELECT doc_id AS query_id,
                 unnest(list_distinct(w)) AS term
          FROM d WHERE doc_id < 5),
    j AS (SELECT q.query_id, tf.doc_id, tf.tf, dfreq.df, dlen.dl,
                 na.n, na.avgdl
          FROM q JOIN tf USING (term)
                 JOIN dfreq USING (term)
                 JOIN dlen ON tf.doc_id = dlen.doc_id
                 CROSS JOIN na),
    t AS (SELECT query_id, doc_id,
            round((ln(1.0 + (n - df + 0.5) / (df + 0.5))
                   * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl::DOUBLE / avgdl)))
                   + 1e-9) * 1000000, 0)::BIGINT AS tm
          FROM j),
    s AS (SELECT query_id, doc_id, sum(tm)::BIGINT AS sm
          FROM t GROUP BY 1, 2),
    r AS (SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY sm DESC, doc_id ASC) AS rnk
          FROM s)
    SELECT query_id, doc_id,
           round(sm / 1000000.0 + 1e-9, 4) AS score,
           rnk::INT AS rank
    FROM r WHERE rnk <= 5
    """,
)
def bm25_search_docs(spark, sf_dir):
    """BM25 query retrieval (operators/textstats.py::bm25_search,
    Okapi BM25 with k1=1.2, b=0.75): the first 5 documents serve as
    free-text queries against the corpus; inverted-index term join,
    corpus idf + length normalization, per-term micro-unit exact sums,
    top-5 per query. The lexical retrieval leg beside the embedding
    kNN tiers (fused downstream via ranks.rrf_fuse)."""
    docs = _t(spark, sf_dir, "documents")
    queries = docs.where(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("query_id"),
        F.col("text").alias("query_text"),
    )
    return textstats.bm25_search(docs, queries, k=5)


def _chunk_lang_scores() -> tuple[str, str]:
    score_cols = ", ".join(
        f"len(list_filter(cw, tk -> tk IN ({', '.join(chr(39) + m + chr(39) for m in ws)}))) AS s_{lang}"
        for lang, ws in textstats.LANG_MARKERS.items()
    )
    langs = list(textstats.LANG_MARKERS)
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    pred = "CASE " + " ".join(
        f"WHEN s_{lang} > 0 AND s_{lang} = {best} THEN '{lang}'"
        for lang in langs
    ) + " ELSE 'und' END"
    return score_cols, pred


_CL_SCORES, _CL_PRED = _chunk_lang_scores()


@register(
    "mixed_language_docs",
    f"""
    WITH {_W_CTE},
    c AS (SELECT doc_id, unnest(range(0, len(w), 16)) AS cid, w
          FROM w WHERE len(w) > 0),
    ch AS (SELECT doc_id, cid,
             list_slice(w, cid + 1, cid + 16) AS cw
           FROM c),
    s AS (SELECT doc_id, cid, {_CL_SCORES} FROM ch),
    p AS (SELECT doc_id, ({_CL_PRED}) AS lang_pred FROM s),
    cnt AS (SELECT doc_id, lang_pred, count(*) AS n
            FROM p GROUP BY 1, 2),
    tot AS (SELECT doc_id, sum(n) AS nt FROM cnt GROUP BY 1),
    r AS (SELECT cnt.doc_id, lang_pred, n, nt,
            row_number() OVER (PARTITION BY cnt.doc_id
                               ORDER BY n DESC, lang_pred ASC) AS rnk
          FROM cnt JOIN tot ON cnt.doc_id = tot.doc_id)
    SELECT doc_id, nt::INT AS n_chunks, lang_pred AS dominant_lang,
           round(n::DOUBLE / nt + 1e-9, 4) AS dominant_share,
           (round(n::DOUBLE / nt + 1e-9, 4) < 0.8) AS is_mixed
    FROM r WHERE rnk = 1
    """,
)
def mixed_language_docs(spark, sf_dir):
    """Code-switching detection: chunk each doc into non-overlapping
    16-token windows (operators/chunking.py), language-ID each chunk
    with the marker heuristic (textstats.lang_id on the chunk frame),
    and report each doc's dominant language and its chunk share —
    ``is_mixed`` flags docs whose dominant language covers < 80% of
    chunks (the multilingual-corpus curation signal that a single
    whole-doc language label hides). One chunk explode + two keyed
    aggregations + a per-doc ranking window; the chunk language
    scoring is row-local."""
    from semantic_ann_in_data_lake_spark.operators.chunking import (
        chunk_documents,
    )
    from pyspark.sql.window import Window as _Win

    docs = _t(spark, sf_dir, "documents")
    # the parent doc id rides through lang_id as a passthrough column
    # (extra_cols) — arithmetic key packing (doc_id*100k+chunk_id)
    # silently aliases chunks of different docs once chunk_id ≥ 100k
    # or the product overflows long range
    chunks = chunk_documents(docs, window=16, stride=16).withColumnRenamed(
        "doc_id", "parent_doc"
    )
    scored = textstats.lang_id(
        chunks,
        id_col="chunk_id",
        text_col="chunk_text",
        extra_cols=("parent_doc",),
    ).select(F.col("parent_doc").alias("doc"), "lang_pred")
    cnt = scored.groupBy("doc", "lang_pred").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = cnt.groupBy("doc").agg(F.sum("n").alias("nt"))
    w = _Win.partitionBy("doc").orderBy(
        F.col("n").desc(), F.col("lang_pred").asc()
    )
    share = F.round(
        F.col("n").cast("double") / F.col("nt") + F.lit(1e-9), 4
    )
    return (
        cnt.join(tot, "doc")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select(
            F.col("doc").alias("doc_id"),
            F.col("nt").cast("int").alias("n_chunks"),
            F.col("lang_pred").alias("dominant_lang"),
            share.alias("dominant_share"),
            (share < 0.8).alias("is_mixed"),
        )
    )


@register(
    "ngram_diversity_by_source",
    f"""
    WITH t AS (SELECT source, {_TOKS} AS w FROM documents),
    u AS (SELECT source, unnest(w) AS g FROM t),
    b AS (SELECT source,
                 unnest(list_transform(range(1, len(w)),
                   i -> list_extract(w, i) || ' ' || list_extract(w, i + 1)))
                   AS g
          FROM t),
    d1 AS (SELECT source, count(*) AS n1, count(DISTINCT g) AS u1
           FROM u GROUP BY 1),
    d2 AS (SELECT source, count(*) AS n2, count(DISTINCT g) AS u2
           FROM b GROUP BY 1)
    SELECT d1.source,
           n1::BIGINT AS n_unigrams,
           round(u1::DOUBLE / greatest(n1, 1) + 1e-9, 6) AS distinct_1,
           n2::BIGINT AS n_bigrams,
           round(u2::DOUBLE / greatest(n2, 1) + 1e-9, 6) AS distinct_2
    FROM d1 JOIN d2 ON d1.source = d2.source
    """,
)
def ngram_diversity_by_source(spark, sf_dir):
    """Distinct-n diversity per source (Li et al. 2016, *A
    Diversity-Promoting Objective Function for Neural Conversation
    Models*): distinct unigram / bigram ratios — the standard
    repetitiveness health check a corpus curator tracks per slice
    (collapsing distinct-2 flags template/boilerplate sources). Two
    exploded keyed aggregations (partial-agg collapsed), exact
    integer counts."""
    from semantic_ann_in_data_lake_spark.functions.text import words

    docs = _t(spark, sf_dir, "documents")
    t = docs.select("source", words("text").alias("__w"))
    uni = t.select("source", F.explode("__w").alias("g"))
    n_bg = F.size("__w") - 1
    bg = t.select(
        "source",
        F.explode(
            F.when(n_bg < 1, F.array().cast("array<string>")).otherwise(
                F.transform(
                    F.sequence(F.lit(1), n_bg),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at("__w", i),
                        F.element_at("__w", i + 1),
                    ),
                )
            )
        ).alias("g"),
    )
    d1 = uni.groupBy("source").agg(
        F.count(F.lit(1)).alias("n1"),
        F.countDistinct("g").alias("u1"),
    )
    d2 = bg.groupBy("source").agg(
        F.count(F.lit(1)).alias("n2"),
        F.countDistinct("g").alias("u2"),
    )
    r6 = lambda a, b: F.round(  # noqa: E731
        a.cast("double") / F.greatest(b, F.lit(1)) + F.lit(1e-9), 6
    )
    return (
        d1.join(d2, "source")
        .select(
            "source",
            F.col("n1").cast("long").alias("n_unigrams"),
            r6(F.col("u1"), F.col("n1")).alias("distinct_1"),
            F.col("n2").cast("long").alias("n_bigrams"),
            r6(F.col("u2"), F.col("n2")).alias("distinct_2"),
        )
    )


@register(
    "zipf_slope_by_source",
    f"""
    WITH t AS (SELECT source, unnest({_TOKS}) AS g FROM documents),
    f AS (SELECT source, g, count(*) AS c FROM t GROUP BY 1, 2),
    r AS (SELECT source, c,
            row_number() OVER (PARTITION BY source
                               ORDER BY c DESC, g ASC) AS rnk
          FROM f),
    xy AS (SELECT source,
             round((ln(rnk) + 1e-9) * 10000, 0)::BIGINT AS x,
             round((ln(c) + 1e-9) * 10000, 0)::BIGINT AS y
           FROM r),
    s AS (SELECT source, count(*)::BIGINT AS n,
                 sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
                 sum(x * y)::BIGINT AS sxy, sum(x * x)::BIGINT AS sxx
          FROM xy GROUP BY 1)
    SELECT source, n::INT AS n_terms,
           round((n * sxy - sx * sy)::DOUBLE
                 / (n * sxx - sx * sx)::DOUBLE + 1e-9, 4) AS zipf_slope
    FROM s WHERE n >= 2
    """,
)
def zipf_slope_by_source(spark, sf_dir):
    """Zipf rank-frequency slope per source: least-squares fit of
    ln(freq) on ln(rank) over each source's term frequency table —
    natural text sits near −1 (Zipf 1949); strong departures flag
    machine-generated or template-heavy slices. The regression sums
    run on 4-dp fixed-point integers (exact, partition-order-
    independent, engine-portable); rank is a window PARTITIONED BY
    SOURCE over the vocab-sized frequency table (keyed, never
    global)."""
    from pyspark.sql.window import Window as _Win

    from semantic_ann_in_data_lake_spark.functions.text import words

    docs = _t(spark, sf_dir, "documents")
    f = (
        docs.select("source", F.explode(words("text")).alias("g"))
        .groupBy("source", "g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = _Win.partitionBy("source").orderBy(
        F.col("c").desc(), F.col("g").asc()
    )
    fx = lambda col: F.round(  # noqa: E731
        (F.log(col.cast("double")) + F.lit(1e-9)) * F.lit(10_000), 0
    ).cast("long")
    xy = f.withColumn("rnk", F.row_number().over(w)).select(
        "source", fx(F.col("rnk")).alias("x"), fx(F.col("c")).alias("y")
    )
    s = xy.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    return s.filter(F.col("n") >= 2).select(
        "source",
        F.col("n").cast("int").alias("n_terms"),
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
                "double"
            )
            / (
                F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
            ).cast("double")
            + F.lit(1e-9),
            4,
        ).alias("zipf_slope"),
    )


# ---------------------------------------------------------------------------
# Domain-aware curation (round 8): URL synthesis + registrable-domain
# extraction + blocklist + per-domain caps (operators/domains.py)
# ---------------------------------------------------------------------------

_URL_CTE = """
    u AS (
      SELECT doc_id,
             'https://'
             || (['www','blog','docs','shop']
                  [(ascii(substr(md5(doc_id::VARCHAR), 1, 1)) % 4) + 1])
             || '.' || source || '.'
             || (['com','org','net','io','co.uk']
                  [(ascii(substr(md5(source), 1, 1)) % 5) + 1])
             || '/p/' || doc_id::VARCHAR || '?ref=' || lang AS url
      FROM documents
    ),
    h AS (
      SELECT doc_id, url,
             regexp_extract(url, '^[a-z]+://([^/?#]+)', 1) AS host
      FROM u
    ),
    dom AS (
      SELECT doc_id, url, host,
        CASE WHEN (host LIKE '%.co.uk' OR host LIKE '%.com.au'
                   OR host LIKE '%.co.jp' OR host LIKE '%.com.br'
                   OR host LIKE '%.co.in')
                  AND len(string_split(host, '.')) >= 3
             THEN array_to_string(list_slice(string_split(host, '.'),
                    len(string_split(host, '.')) - 2,
                    len(string_split(host, '.'))), '.')
             ELSE array_to_string(list_slice(string_split(host, '.'),
                    greatest(len(string_split(host, '.')) - 1, 1),
                    len(string_split(host, '.'))), '.')
        END AS domain
      FROM h
    )
"""

#: Registrable domains dropped by the gated curation query — one plain
#: TLD and one multi-label suffix so the blocklist exercises both
#: registrable-domain paths. (The synthesized source→domain map is
#: deterministic, so these literals exist at every sf.)
_BLOCKED_DOMAINS = ["src7.net", "src18.co.uk"]
_BLOCKED_IN = ", ".join(f"'{d}'" for d in _BLOCKED_DOMAINS)


@register(
    "domain_extract_docs",
    f"""
    WITH {_URL_CTE}
    SELECT doc_id, url, host, domain FROM dom
    """,
)
def domain_extract_docs(spark, sf_dir):
    """URL → host → registrable domain per document, all row-local JVM
    expressions (parse_url + split/slice; operators/domains.py). The
    url column is synthesized deterministically from source/doc_id/lang
    (the testdata has no url column); the oracle replicates the
    synthesis, the parse, and the eTLD+1 rule — including the
    multi-label public-suffix path (src*.co.uk)."""
    from semantic_ann_in_data_lake_spark.operators import domains as D

    docs = _t(spark, sf_dir, "documents")
    u = D.synthesize_url(docs)
    return u.select(
        "doc_id",
        "url",
        D.url_host("url").alias("host"),
        D.registrable_domain(D.url_host("url")).alias("domain"),
    )


@register(
    "domain_curation_docs",
    f"""
    WITH {_URL_CTE},
    counts AS (SELECT domain, count(*) AS n_docs FROM dom GROUP BY 1),
    kept AS (
      SELECT domain, count(*) AS n_kept FROM (
        SELECT domain,
               row_number() OVER (PARTITION BY domain
                                  ORDER BY doc_id) AS rn
        FROM dom WHERE domain NOT IN ({_BLOCKED_IN})
      ) WHERE rn <= 15 GROUP BY 1
    )
    SELECT c.domain, c.n_docs::BIGINT AS n_docs,
           (c.domain IN ({_BLOCKED_IN})) AS blocked,
           coalesce(k.n_kept, 0)::BIGINT AS n_kept
    FROM counts c LEFT JOIN kept k USING (domain)
    """,
)
def domain_curation_docs(spark, sf_dir):
    """Per-domain corpus balance report: blocklist filter (broadcast
    anti join) then a 15-docs-per-domain cap (cap_per_key window with
    WindowGroupLimit), reported as (domain, n_docs, blocked, n_kept) —
    the standard no-single-domain-dominates lever of web-corpus
    curation pipelines. ONE extraction scan feeds both the raw counts
    and the capped counts."""
    from semantic_ann_in_data_lake_spark.cache import scoped_persist
    from semantic_ann_in_data_lake_spark.operators import domains as D

    docs = _t(spark, sf_dir, "documents")
    dom = scoped_persist(
        D.synthesize_url(docs).select(
            "doc_id",
            D.registrable_domain(D.url_host("url")).alias("domain"),
        )
    )
    counts = dom.groupBy("domain").agg(F.count(F.lit(1)).alias("n_docs"))
    kept = (
        D.cap_per_domain(
            D.domain_blocklist_filter(dom, _BLOCKED_DOMAINS), n=15
        )
        .groupBy("domain")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return counts.join(kept, "domain", "left").select(
        "domain",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("domain").isin(_BLOCKED_DOMAINS).alias("blocked"),
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
    )


@register(
    "vocab_growth_docs",
    f"""
    WITH mx AS (SELECT max(doc_id) AS mx FROM documents),
    d AS (
      SELECT doc_id, len({_TOKS}) AS ntok,
             greatest(1, (4 * doc_id + mx - 1) // mx) AS ck
      FROM documents, mx
    ),
    fs AS (
      SELECT tok, min(doc_id) AS first_id
      FROM (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents)
      GROUP BY tok
    ),
    tv AS (
      SELECT greatest(1, (4 * first_id + mx - 1) // mx) AS ck,
             count(*) AS v
      FROM fs, mx GROUP BY 1
    ),
    da AS (
      SELECT ck, count(*) AS nd, sum(ntok) AS nt, max(doc_id) AS mxd
      FROM d GROUP BY ck
    ),
    j AS (
      SELECT coalesce(da.ck, tv.ck) AS ck,
             coalesce(nd, 0) AS nd, coalesce(nt, 0) AS nt,
             mxd, coalesce(v, 0) AS v
      FROM da FULL JOIN tv ON da.ck = tv.ck
    )
    SELECT ck::INT AS checkpoint,
           max(mxd) OVER w::BIGINT AS max_doc_id,
           sum(nd) OVER w::BIGINT AS n_docs,
           sum(nt) OVER w::BIGINT AS n_tokens,
           sum(v) OVER w::BIGINT AS vocab_size
    FROM j WINDOW w AS (ORDER BY ck ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW)
    """,
)
def vocab_growth_docs(spark, sf_dir):
    """Vocabulary growth curve (Heaps' law datacard): cumulative
    (n_docs, n_tokens, distinct-token vocabulary) at four id-quarter
    checkpoints of the corpus — the sublinearity of vocab_size in
    n_tokens is the one-glance health check that a crawl slice is
    natural text, not key-value junk (near-linear growth) or a
    degenerate template (flat growth).

    Scale shape: 'cumulative distinct' is NOT computed as a running
    window over rows — each token's FIRST-occurrence doc id is one
    min-aggregate, bucketing is row-local integer math against a 1-row
    broadcast max, and the cumulative rollup is a window over ≤4
    AGGREGATED rows. One explode + two groupBys end to end."""
    from pyspark.sql.window import Window

    from semantic_ann_in_data_lake_spark.functions.text import words

    docs = _t(spark, sf_dir, "documents")
    mx = F.broadcast(docs.agg(F.max("doc_id").alias("mx")))
    ck = F.greatest(
        F.lit(1), F.expr("(4 * doc_id + mx - 1) div mx")
    )
    per_doc = docs.crossJoin(mx).select(
        "doc_id",
        F.size(words("text")).alias("ntok"),
        ck.alias("ck"),
    )
    da = per_doc.groupBy("ck").agg(
        F.count(F.lit(1)).alias("nd"),
        F.sum("ntok").alias("nt"),
        F.max("doc_id").alias("mxd"),
    )
    first_seen = (
        docs.select("doc_id", F.explode(words("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.min("doc_id").alias("first_id"))
    )
    tv = (
        first_seen.crossJoin(mx)
        .select(
            F.greatest(
                F.lit(1), F.expr("(4 * first_id + mx - 1) div mx")
            ).alias("ck")
        )
        .groupBy("ck")
        .agg(F.count(F.lit(1)).alias("v"))
    )
    j = (
        da.join(tv, "ck", "full")
        .select(
            "ck",
            F.coalesce("nd", F.lit(0)).alias("nd"),
            F.coalesce("nt", F.lit(0)).alias("nt"),
            "mxd",
            F.coalesce("v", F.lit(0)).alias("v"),
        )
    )
    w = Window.orderBy("ck").rowsBetween(Window.unboundedPreceding, 0)
    return j.select(
        F.col("ck").cast("int").alias("checkpoint"),
        F.max("mxd").over(w).cast("long").alias("max_doc_id"),
        F.sum("nd").over(w).cast("long").alias("n_docs"),
        F.sum("nt").over(w).cast("long").alias("n_tokens"),
        F.sum("v").over(w).cast("long").alias("vocab_size"),
    )


@register(
    "hll_distinct_docs",
    """
    WITH r AS (
      SELECT source,
             (('0x' || substr(md5('hll:' || text), 1, 15))::BIGINT) % 64
               AS pos,
             max(55 - length(bin(
               ('0x' || substr(md5('hll:' || text), 1, 15))::BIGINT >> 6
             )))::INT AS val
      FROM documents WHERE text IS NOT NULL
      GROUP BY 1, 2
    ),
    e AS (
      SELECT source,
             round(0.709 * 4096
                   / (sum(1.0 / (1::BIGINT << val)) + (64 - count(*))),
                   2) AS n_est
      FROM r GROUP BY 1
    ),
    x AS (
      SELECT source, count(DISTINCT text)::BIGINT AS n_exact
      FROM documents WHERE text IS NOT NULL GROUP BY 1
    )
    SELECT e.source, e.n_est, x.n_exact FROM e JOIN x USING (source)
    """,
)
def hll_distinct_docs(spark, sf_dir):
    """HyperLogLog distinct-document estimate per source
    (operators/sketches.py::hll_registers/hll_estimate): 64 registers
    per group REGARDLESS of cardinality — the fixed-size cardinality
    summary a 100-TB datacard needs where countDistinct is a full
    key-space shuffle. The exact twin rides alongside so the gate (and
    the dashboard) shows estimate AND truth; the oracle replays the
    md5 register arithmetic and the exact-double power-of-two sum
    bit-identically. Mergeability (shard ∪ shard ≡ whole) is pinned in
    pytest."""
    from semantic_ann_in_data_lake_spark.operators.sketches import (
        hll_estimate,
        hll_registers,
    )

    docs = _t(spark, sf_dir, "documents")
    est = hll_estimate(
        hll_registers(docs, "text", group_cols=("source",)), ("source",)
    )
    exact = (
        docs.where(F.col("text").isNotNull())
        .groupBy("source")
        .agg(F.countDistinct("text").cast("long").alias("n_exact"))
    )
    return est.join(exact, "source")


#: mini Public Suffix List for the PSL gate — covers every synthesized
#: TLD plus a wildcard and its exception so all three rule kinds fire
_GATE_PSL = "com\nuk\nco.uk\norg\nnet\nio\ngithub.io\n*.ck\n!www.ck\n"

#: literal hosts exercising the wildcard/exception/default paths the
#: synthesized corpus can't reach (kept lowercase: synthesized hosts
#: are lowercase and the oracle skips the case fold the unit test pins)
_PSL_EXTRA_HOSTS = (
    "a.b.test.ck", "test.ck", "ck", "www.ck", "www.www.ck",
    "github.io", "x.user.github.io", "co.uk", "example.xyzzy", "xyzzy",
)


def _psl_rules_values() -> str:
    """DuckDB VALUES rows generated from the SAME parse as the Spark
    side (`domains.parse_psl` → key/rule_labels/pub_labels/is_exc), so
    the two rule tables cannot drift."""
    from semantic_ann_in_data_lake_spark.operators.domains import parse_psl

    rows = []
    for key, kind in parse_psl(_GATE_PSL):
        k = key.count(".") + 1
        if kind == "wildcard":
            rows.append(f"('{key}', {k + 1}, {k + 1}, false)")
        elif kind == "exception":
            rows.append(f"('{key}', {k}, {k - 1}, true)")
        else:
            rows.append(f"('{key}', {k}, {k}, false)")
    return ", ".join(rows)


_PSL_EXTRA_VALUES = ", ".join(f"('{h}')" for h in _PSL_EXTRA_HOSTS)


@register(
    "psl_registrable_domains",
    f"""
    WITH {{url_cte}},
    hosts AS (
      SELECT host FROM h
      UNION ALL
      SELECT host FROM (VALUES {_PSL_EXTRA_VALUES}) t(host)
    ),
    r(key, rule_labels, pub_labels, is_exc) AS (
      VALUES {_psl_rules_values()}
    ),
    suf AS (
      SELECT host, len(string_split(host, '.')) AS k,
             array_to_string(list_slice(string_split(host, '.'),
               len(string_split(host, '.')) - i + 1,
               len(string_split(host, '.'))), '.') AS suffix
      FROM (SELECT host, unnest(range(1,
              len(string_split(host, '.')) + 1)) AS i FROM hosts)
    ),
    m AS (
      SELECT s.host,
             max(struct_pack(e := is_exc::INT, r := rule_labels,
                             p := pub_labels)) AS best
      FROM suf s JOIN r ON s.suffix = r.key AND s.k >= r.rule_labels
      GROUP BY 1
    ),
    res AS (
      SELECT hosts.host,
             CASE WHEN len(string_split(hosts.host, '.'))
                       >= coalesce(struct_extract(m.best, 'p'), 1) + 1
                  THEN array_to_string(list_slice(
                         string_split(hosts.host, '.'),
                         len(string_split(hosts.host, '.'))
                           - coalesce(struct_extract(m.best, 'p'), 1),
                         len(string_split(hosts.host, '.'))), '.')
             END AS domain
      FROM hosts LEFT JOIN m USING (host)
    )
    SELECT domain, count(*)::BIGINT AS n_hosts
    FROM res GROUP BY 1
    """.replace("{url_cte}", _URL_CTE),
)
def psl_registrable_domains(spark, sf_dir):
    """Full-PSL registrable-domain extraction, hash-gated
    (operators/domains.py::registrable_domain_psl): the synthesized
    corpus hosts plus literal hosts that exercise the wildcard
    (``*.ck``), exception (``!www.ck``), and implicit-``*`` default
    paths, grouped per resolved domain (NULL group = hosts that ARE
    public suffixes). The oracle replays the publicsuffix.org
    algorithm — suffix explode, broadcast rule match, exceptions-then-
    longest prevail — with a rules table generated from the SAME
    parse_psl call as the Spark side."""
    from semantic_ann_in_data_lake_spark.operators import domains as D

    docs = _t(spark, sf_dir, "documents")
    hosts = (
        D.synthesize_url(docs)
        .select(D.url_host("url").alias("host"))
        .unionByName(
            spark.createDataFrame(
                [(h,) for h in _PSL_EXTRA_HOSTS], "host string"
            )
        )
    )
    out = D.registrable_domain_psl(
        hosts, "host", rules=D.psl_rules_df(spark, _GATE_PSL)
    )
    return out.groupBy("domain").agg(
        F.count(F.lit(1)).cast("long").alias("n_hosts")
    )


def _script_mix_oracle() -> str:
    from semantic_ann_in_data_lake_spark.operators.textstats import (
        SCRIPT_BANDS,
        _WS_CODES,
    )

    ws = ", ".join(str(w) for w in _WS_CODES)

    def band(bands):
        return " OR ".join(
            f"(c BETWEEN {lo} AND {hi})" for lo, hi in bands
        )

    fr = {
        k: f"len(list_filter(cps, c -> {band(b)}))"
        for k, b in SCRIPT_BANDS.items()
    }
    known = " + ".join(fr.values())
    cols = ",\n           ".join(
        f"round({fr[k]}::DOUBLE / greatest(len(cps), 1) + 1e-9, 4)"
        f" AS {k}_frac"
        for k in SCRIPT_BANDS
    )
    return f"""
    WITH c AS (
      SELECT doc_id,
             list_filter(
               list_transform(
                 range(1, length(coalesce(text, '')) + 1),
                 i -> ord(substr(coalesce(text, ''), i, 1))),
               cp -> NOT list_contains([{ws}], cp)) AS cps
      FROM documents
    )
    SELECT doc_id,
           len(cps)::BIGINT AS n_chars,
           {cols},
           round((len(cps) - ({known}))::DOUBLE
                 / greatest(len(cps), 1) + 1e-9, 4) AS other_frac
    FROM c
    """


@register("script_mix_docs", _script_mix_oracle())
def script_mix_docs(spark, sf_dir):
    """Unicode script-mix detection (operators/textstats.py::
    script_mix): per-document fractions of non-whitespace code points
    in the Latin / Cyrillic / CJK / digit bands plus the remainder —
    the corpus-balance signal that catches mislabeled languages and
    mixed-script spam before they skew a language shard. One
    row-local LET-bound projection over the native code-point split;
    the oracle recomputes every band with ord(substr) ranges. The
    multi-script behavior itself (Cyrillic/CJK fixtures are ASCII-only
    here) is unit-pinned on crafted strings."""
    from semantic_ann_in_data_lake_spark.operators.textstats import (
        script_mix,
    )

    return script_mix(_t(spark, sf_dir, "documents"))


def _messy_url_cte() -> str:
    def bit(n: int) -> str:
        return f"ascii(substr(md5('m{n}:' || doc_id::VARCHAR), 1, 1)) % 2"

    return f"""
    mu AS (
      SELECT doc_id,
        (CASE WHEN {bit(1)} = 1 THEN 'HTTPS' ELSE 'https' END)
        || '://'
        || (CASE WHEN {bit(2)} = 1 THEN 'www.' ELSE '' END)
        || source || '.'
        || (['com','org','net','io','co.uk']
             [(ascii(substr(md5(source), 1, 1)) % 5) + 1])
        || '/p/' || (doc_id % 10)::VARCHAR
        || (CASE WHEN {bit(3)} = 1 THEN '/' ELSE '' END)
        || (CASE WHEN {bit(4)} = 1 THEN '?b=2&utm_source=feed&a=1'
                 ELSE '?a=1&b=2' END)
        || (CASE WHEN {bit(1)} = 1 THEN '#sec' ELSE '' END)
        AS url
      FROM documents
    )
"""


from semantic_ann_in_data_lake_spark.operators.domains import (  # noqa: E402
    canonicalize_url_sql as _curl_sql,
)

_MESSY_URL_CTE = _messy_url_cte()


@register(
    "url_canonicalize_docs",
    f"""
    WITH {_MESSY_URL_CTE}
    SELECT doc_id, url, {_curl_sql('url')} AS canonical_url
    FROM mu
    """,
)
def url_canonicalize_docs(spark, sf_dir):
    """URL canonicalization (operators/domains.py::canonicalize_url):
    lowercased scheme/host, www strip, fragment drop, trailing-slash
    drop, tracking-param removal, surviving params SORTED — the
    keep-one-key-per-page normalizer URL-level crawl dedup needs. The
    messy input urls are synthesized deterministically (md5-seeded
    scheme case / www / slash / tracking-junk / param order /
    fragment variants); the oracle replicates the synthesis AND the
    canonical rule with regexp part extraction, so every branch of
    the normalizer is hash-checked row by row."""
    from semantic_ann_in_data_lake_spark.operators import domains as D

    mu = D.synthesize_messy_urls(_t(spark, sf_dir, "documents"))
    return mu.select(
        "doc_id", "url", D.canonicalize_url("url").alias("canonical_url")
    )


@register(
    "url_dedup_docs",
    f"""
    WITH {_MESSY_URL_CTE},
    c AS (SELECT doc_id, {_curl_sql('url')} AS canonical_url FROM mu)
    SELECT canonical_url, min(doc_id) AS canonical_id,
           count(*) AS n_copies
    FROM c WHERE canonical_url IS NOT NULL GROUP BY 1
    """,
)
def url_dedup_docs(spark, sf_dir):
    """URL-level dedup groups (operators/domains.py::url_dedup): one
    row per canonical URL with the minimum-id keeper and the copy
    count — the page-identity dedup lever beside content dedup (the
    synthesis guarantees real collision groups: every variant of
    (source, doc_id % 10) collapses to one canonical). One row-local
    canonicalization + one hash-groupBy; NULL canonicals quarantined,
    never merged."""
    from semantic_ann_in_data_lake_spark.operators import domains as D

    mu = D.synthesize_messy_urls(_t(spark, sf_dir, "documents"))
    return D.url_dedup(mu)


@register(
    "pack_sequences_bpe_docs",
    """
    SELECT count(*)::BIGINT AS n_docs, 0::BIGINT AS n_violations
    FROM documents
    """,
)
def pack_sequences_bpe_docs(spark, sf_dir):
    """Sequence packing under EXACT-BPE token accounting — the
    tokenizer seam (operators/packing.py::token_counts) exercised end
    to end: train the in-repo byte-BPE on the corpus, pack to a
    512-token budget in BPE units, then verify per row that (a) the
    packed n_tokens equals an independent re-encode of the document,
    (b) bin_id/bin_offset are exactly (cum_before div/mod budget) with
    bin_offset < budget, and (c) the final cumulative total conserves
    the corpus token sum. Emits (n_docs, n_violations); the oracle
    pins n_violations = 0 (the BPE algebra is not SQL-expressible —
    its packing invariants are; same model as `bpe_contract_docs`).
    The whitespace-tier prefix-sum machinery is separately hash-gated
    by `pack_sequences_docs`."""
    from semantic_ann_in_data_lake_spark.cache import scoped_persist
    from semantic_ann_in_data_lake_spark.functions.bpe import (
        BpeTokenizer,
        train_bpe_from_df,
    )
    from semantic_ann_in_data_lake_spark.operators.packing import (
        pack_sequences,
        token_counts,
    )

    budget = 512
    docs = _t(spark, sf_dir, "documents")
    merges = train_bpe_from_df(docs, num_merges=200)
    tok = lambda: BpeTokenizer(merges)  # noqa: E731
    packed = scoped_persist(
        pack_sequences(docs, budget=budget, tokenizer=tok)
    )
    recount = token_counts(docs, tokenizer=tok).withColumnRenamed(
        "n_tokens", "n_expected"
    )
    row_bad = (
        packed.join(recount, "doc_id")
        .withColumn(
            "__bad",
            (F.col("n_tokens") != F.col("n_expected"))
            | (
                F.col("bin_id")
                != F.expr(f"cum_before div {budget}L")
            )
            | (F.col("bin_offset") != F.col("cum_before") % budget)
            | (F.col("bin_offset") >= budget)
            | (F.col("bin_offset") < 0),
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("__bad").cast("long")).alias("bad_rows"),
        )
    )
    conserve = packed.agg(
        (
            F.max(F.col("cum_before") + F.col("n_tokens"))
            != F.sum("n_tokens")
        )
        .cast("long")
        .alias("bad_total")
    )
    return row_bad.crossJoin(F.broadcast(conserve)).select(
        "n_docs",
        (F.col("bad_rows") + F.col("bad_total")).alias("n_violations"),
    )


_SWEEP_THRESHOLDS = [0.30, 0.35, 0.40, 0.45, 0.50, 0.55, 0.60, 0.65, 0.70]


def _sweep_oracle() -> str:
    from semantic_ann_in_data_lake_spark.annotate.scoring import (
        default_weights,
        score_oracle_sql,
    )

    score_proj = score_oracle_sql("text", default_weights(16), bias=0.0)
    tlist = ", ".join(repr(t) for t in _SWEEP_THRESHOLDS)
    return f"""
    WITH s AS (SELECT doc_id, {score_proj} FROM documents),
    n AS (SELECT doc_id, {normalize_sentence_sql('text')} AS nrm
          FROM documents),
    wds AS (SELECT doc_id,
              CASE WHEN length(nrm) = 0 THEN []::VARCHAR[]
                   ELSE string_split(nrm, ' ') END AS w
            FROM n),
    f AS (SELECT doc_id, len(w) AS nt,
            len(list_filter(w, tk -> tk IN ({_STOP_IN}))) AS stop_hits,
            greatest(len(w) - 2, 0) AS ng,
            len({word_shingles_from_sql('w', 3)}) AS ndg
          FROM wds),
    q AS (SELECT doc_id, nt,
            (nt BETWEEN 20 AND 200
             AND round(stop_hits::DOUBLE / greatest(nt, 1) + 1e-9, 4)
                   >= 0.05
             AND round((CASE WHEN ng = 0 THEN 0.0
                        ELSE (ng - ndg)::DOUBLE / ng END) + 1e-9, 4)
                   <= 0.2) AS qf
          FROM f),
    t AS (SELECT unnest([{tlist}]) AS threshold),
    j AS (SELECT t.threshold, s.score, q.nt, q.qf
          FROM s JOIN q USING (doc_id) CROSS JOIN t)
    SELECT threshold,
           count(*) FILTER (WHERE score >= threshold)::BIGINT AS survivors,
           coalesce(sum(nt) FILTER (WHERE score >= threshold), 0)::BIGINT
             AS token_yield,
           CASE WHEN count(*) FILTER (WHERE score >= threshold) = 0
                THEN 0.0
                ELSE round(
                  (count(*) FILTER (WHERE qf AND score >= threshold))::DOUBLE
                  / count(*) FILTER (WHERE score >= threshold) + 1e-9, 4)
           END AS est_precision
    FROM j GROUP BY 1
    """


@register("quality_threshold_sweep", _sweep_oracle())
def quality_threshold_sweep(spark, sf_dir):
    """Quality-classifier operating-point sweep: for each score
    threshold, (survivors, token yield, estimated precision) — the
    table a curation owner reads to pick the keep/drop cut. Scores
    come from the gated classifier head (annotate/scoring.py); the
    precision estimate uses the funnel's rule-based quality flag as
    the pseudo-label (operators/funnel.py::funnel_flags — shared core,
    so the two gates can never drift). ONE scan each for scores and
    flags, one broadcast of the 9-row threshold list, one grouped agg
    — no per-threshold corpus rescans."""
    from semantic_ann_in_data_lake_spark.annotate.scoring import (
        score_documents,
    )
    from semantic_ann_in_data_lake_spark.operators.funnel import (
        funnel_flags,
    )

    docs = _t(spark, sf_dir, "documents")
    scores = score_documents(docs).select("doc_id", "score")
    flags = funnel_flags(docs).select(
        "doc_id", F.col("__nt").alias("nt"), F.col("__q").alias("qf")
    )
    thresholds = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(t) for t in _SWEEP_THRESHOLDS])
        ).alias("threshold")
    )
    j = scores.join(flags, "doc_id").crossJoin(F.broadcast(thresholds))
    hit = F.col("score") >= F.col("threshold")
    survivors = F.sum(hit.cast("long"))
    return j.groupBy("threshold").agg(
        survivors.alias("survivors"),
        F.coalesce(
            F.sum(F.when(hit, F.col("nt"))), F.lit(0)
        ).cast("long").alias("token_yield"),
        F.when(survivors == 0, F.lit(0.0))
        .otherwise(
            F.round(
                F.sum((hit & F.col("qf")).cast("long")).cast("double")
                / survivors
                + F.lit(1e-9),
                4,
            )
        )
        .alias("est_precision"),
    )


def _gopher_rules_oracle() -> str:
    stops = ", ".join(f"'{s}'" for s in textstats.GOPHER_STOP_KINDS)
    return f"""
    WITH {_W_CTE},
    ln AS (
      SELECT doc_id,
             list_filter(string_split(coalesce(text, ''), chr(10)),
                         x -> length(trim(x)) > 0) AS lines,
             len(regexp_extract_all(coalesce(text, ''),
                                    '[#]|\\.\\.\\.|…')) AS n_sym
      FROM documents
    ),
    m AS (
      SELECT w.doc_id,
             len(w.w) AS n_words,
             greatest(len(w.w), 1) AS safe_w,
             list_sum(list_transform(w.w, x -> length(x))) AS total_chars,
             greatest(len(lines), 1) AS n_lines,
             len(list_filter(lines,
               x -> regexp_matches(trim(x),
                                   '^([-*•]|[0-9]+[.)])\\s'))) AS bullet,
             len(list_filter(lines,
               x -> regexp_matches(rtrim(x), '(\\.\\.\\.|…)$'))) AS ell,
             len(list_filter(w.w, x -> regexp_matches(x, '[a-z]')))
               AS alpha_words,
             len(list_intersect(list_distinct(w.w), [{stops}]))
               AS n_stop_kinds,
             n_sym
      FROM w JOIN ln ON w.doc_id = ln.doc_id
    ),
    r AS (
      SELECT doc_id, n_words,
        round(coalesce(total_chars, 0)::DOUBLE / safe_w + 1e-9, 4)
          AS mean_word_len,
        round(n_sym::DOUBLE / safe_w + 1e-9, 4) AS symbol_ratio,
        round(bullet::DOUBLE / n_lines + 1e-9, 4) AS bullet_frac,
        round(ell::DOUBLE / n_lines + 1e-9, 4) AS ellipsis_frac,
        round(alpha_words::DOUBLE / safe_w + 1e-9, 4) AS alpha_frac,
        n_stop_kinds
      FROM m
    )
    SELECT doc_id, n_words::BIGINT AS n_words, mean_word_len,
           symbol_ratio, bullet_frac, ellipsis_frac, alpha_frac,
           n_stop_kinds::INT AS n_stop_kinds,
           (mean_word_len BETWEEN 3.0 AND 10.0
            AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9
            AND ellipsis_frac <= 0.3 AND alpha_frac >= 0.8
            AND n_stop_kinds >= 2) AS keep
    FROM r
    """


@register("gopher_rules_docs", _gopher_rules_oracle())
def gopher_rules_docs(spark, sf_dir):
    """The published Gopher document-quality rule set (Rae et al. 2021
    appendix A) as per-document measurements + keep flag — the rules
    `quality_filter_docs`/`gopher_ok_from_stats` do not already cover:
    mean word length band, symbol-to-word ratio, bullet-line and
    ellipsis-line ceilings, alphabetic-word floor, and the ≥2-of-8
    required-stopword presence (operators/textstats.py::gopher_rules).
    Entirely row-local, zero shuffle; line rules are exercised on
    crafted fixtures in unit tests (the synthetic corpus has no
    newlines, so they gate vacuously-true here by construction)."""
    return textstats.gopher_rules(_t(spark, sf_dir, "documents"))


@register(
    "nb_quality_classifier_docs",
    f"""
    WITH w AS (SELECT doc_id, {_TOKS} AS w,
                      coalesce(source = 'src0', false) AS ref
               FROM documents),
    dt AS (SELECT doc_id, ref, unnest(w) AS tok FROM w),
    cls AS (SELECT tok,
                   count(*) FILTER (WHERE ref) AS c_ref,
                   count(*) FILTER (WHERE NOT ref) AS c_rest
            FROM dt GROUP BY tok),
    tot AS (SELECT sum(c_ref) AS n_ref, sum(c_rest) AS n_rest,
                   count(*) AS vsize
            FROM cls),
    wt AS (SELECT tok,
                  round(log10((c_ref + 1.0) / (n_ref + 1.0 * vsize))
                        - log10((c_rest + 1.0) / (n_rest + 1.0 * vsize))
                        + 1e-9, 6)::DECIMAL(18,6) AS w6
           FROM cls CROSS JOIN tot),
    sc AS (SELECT dt.doc_id, count(*)::BIGINT AS n_tokens,
                  sum(wt.w6) AS w_sum
           FROM dt JOIN wt USING (tok) GROUP BY dt.doc_id)
    SELECT w.doc_id,
           coalesce(sc.n_tokens, 0)::BIGINT AS n_tokens,
           round(CASE WHEN sc.n_tokens IS NULL THEN 0.0
                      ELSE sc.w_sum::DOUBLE / sc.n_tokens END + 1e-9,
                 4) + 0.0 AS nb_score
    FROM w LEFT JOIN sc USING (doc_id)
    """,
)
def nb_quality_classifier_docs(spark, sf_dir):
    """Naive-Bayes quality classifier trained IN-ENGINE
    (operators/lm.py::nb_log_odds_scores): per-token log-odds between
    a reference corpus slice (here ``source = 'src0'`` — the
    wiki-vs-crawl shape GPT-3/CCNet/fastText quality filters train
    on; swap the label for curated-reference membership in
    production) and the rest, applied back to every document as a
    mean-per-token score. Closed-form NB weights make train+apply two
    aggregations — no gradient loop, no external model. Token weights
    round to 6 dp then accumulate in DECIMAL(18,6), so the
    per-document mean is bit-identical across partitionings and
    engines."""
    from semantic_ann_in_data_lake_spark.operators.lm import (
        nb_log_odds_scores,
    )

    docs = _t(spark, sf_dir, "documents")
    labeled = docs.withColumn("__is_ref", F.col("source") == F.lit("src0"))
    return nb_log_odds_scores(labeled, "__is_ref")


@register(
    "curriculum_order_docs",
    """
    WITH b AS (
      SELECT doc_id AS id, n_chars AS score,
             ntile(4) OVER (ORDER BY n_chars ASC, doc_id ASC) AS bucket
      FROM documents
    )
    SELECT id, score, bucket,
           ((row_number() OVER (
               PARTITION BY bucket
               ORDER BY md5('42:' || id::VARCHAR) ASC, id ASC) - 1) * 4
            + (bucket - 1))::BIGINT AS order_idx
    FROM b
    """,
)
def curriculum_order_docs(spark, sf_dir):
    """Easy-first curriculum training order over the documents table
    (`operators/curriculum.py::curriculum_order`): 4 equal-population
    difficulty strata by n_chars, md5-shuffled within each stratum,
    round-robin interleaved into one global order_idx — any contiguous
    training window sees every stratum at corpus proportion. Integer/
    window arithmetic on a total order with id tie-breaks, hash-exact
    cross-engine."""
    from semantic_ann_in_data_lake_spark.operators.curriculum import (
        curriculum_order,
    )

    docs = _t(spark, sf_dir, "documents")
    return curriculum_order(
        docs, "n_chars", id_col="doc_id", n_buckets=4, seed=42
    )


@register(
    "curriculum_by_quality_docs",
    f"""
    WITH w AS (SELECT doc_id, {_TOKS} AS w,
                      coalesce(source = 'src0', false) AS ref
               FROM documents),
    dt AS (SELECT doc_id, ref, unnest(w) AS tok FROM w),
    cls AS (SELECT tok,
                   count(*) FILTER (WHERE ref) AS c_ref,
                   count(*) FILTER (WHERE NOT ref) AS c_rest
            FROM dt GROUP BY tok),
    tot AS (SELECT sum(c_ref) AS n_ref, sum(c_rest) AS n_rest,
                   count(*) AS vsize
            FROM cls),
    wt AS (SELECT tok,
                  round(log10((c_ref + 1.0) / (n_ref + 1.0 * vsize))
                        - log10((c_rest + 1.0) / (n_rest + 1.0 * vsize))
                        + 1e-9, 6)::DECIMAL(18,6) AS w6
           FROM cls CROSS JOIN tot),
    sc AS (SELECT dt.doc_id, count(*)::BIGINT AS n_tokens,
                  sum(wt.w6) AS w_sum
           FROM dt JOIN wt USING (tok) GROUP BY dt.doc_id),
    scores AS (
      SELECT w.doc_id AS id,
             round(CASE WHEN sc.n_tokens IS NULL THEN 0.0
                        ELSE sc.w_sum::DOUBLE / sc.n_tokens END + 1e-9,
                   4) + 0.0 AS score
      FROM w LEFT JOIN sc USING (doc_id)
    ),
    b AS (
      SELECT id, score,
             ntile(4) OVER (ORDER BY score ASC, id ASC) AS bucket
      FROM scores
    )
    SELECT id, score, bucket,
           ((row_number() OVER (
               PARTITION BY bucket
               ORDER BY md5('42:' || id::VARCHAR) ASC, id ASC) - 1) * 4
            + (bucket - 1))::BIGINT AS order_idx
    FROM b
    """,
)
def curriculum_by_quality_docs(spark, sf_dir):
    """End-to-end QUALITY curriculum: the in-engine NB classifier's
    per-document score (train + apply, `nb_quality_classifier_docs`)
    feeds `curriculum_order` — low-quality-first strata, seeded
    shuffle within, round-robin interleave. The oracle replays the
    whole chain (NB weights, 4-dp scores, ntile, interleave), so the
    hash certifies the composition, not just the pieces. Anti-
    curriculum (quality-first) is the ``descending`` flag."""
    from semantic_ann_in_data_lake_spark.operators.curriculum import (
        curriculum_order,
    )
    from semantic_ann_in_data_lake_spark.operators.lm import (
        nb_log_odds_scores,
    )

    docs = _t(spark, sf_dir, "documents")
    labeled = docs.withColumn("__is_ref", F.col("source") == F.lit("src0"))
    scores = nb_log_odds_scores(labeled, "__is_ref")
    return curriculum_order(
        scores, "nb_score", id_col="doc_id", n_buckets=4, seed=42
    )


@register(
    "nb_calibration_docs",
    f"""
    WITH w AS (SELECT doc_id, {_TOKS} AS w,
                      coalesce(source = 'src0', false) AS ref
               FROM documents),
    dt AS (SELECT doc_id, ref, unnest(w) AS tok FROM w),
    cls AS (SELECT tok,
                   count(*) FILTER (WHERE ref) AS c_ref,
                   count(*) FILTER (WHERE NOT ref) AS c_rest
            FROM dt GROUP BY tok),
    tot AS (SELECT sum(c_ref) AS n_ref, sum(c_rest) AS n_rest,
                   count(*) AS vsize
            FROM cls),
    wt AS (SELECT tok,
                  round(log10((c_ref + 1.0) / (n_ref + 1.0 * vsize))
                        - log10((c_rest + 1.0) / (n_rest + 1.0 * vsize))
                        + 1e-9, 6)::DECIMAL(18,6) AS w6
           FROM cls CROSS JOIN tot),
    sc AS (SELECT dt.doc_id, count(*)::BIGINT AS n_tokens,
                  sum(wt.w6) AS w_sum
           FROM dt JOIN wt USING (tok) GROUP BY dt.doc_id),
    scores AS (
      SELECT w.doc_id, w.ref,
             round(CASE WHEN sc.n_tokens IS NULL THEN 0.0
                        ELSE sc.w_sum::DOUBLE / sc.n_tokens END + 1e-9,
                   4) + 0.0 AS score
      FROM w LEFT JOIN sc USING (doc_id)
    ),
    b AS (
      SELECT doc_id, ref, score,
             ntile(10) OVER (ORDER BY score ASC, doc_id ASC) AS decile
      FROM scores
    )
    SELECT decile::INT AS decile,
           count(*)::BIGINT AS n_docs,
           sum(ref::INT)::BIGINT AS n_ref,
           round(sum(ref::INT)::DOUBLE / count(*) + 1e-9, 4) + 0.0
             AS ref_rate,
           min(score) AS score_min,
           max(score) AS score_max,
           round(sum(score::DECIMAL(18,4))::DOUBLE / count(*) + 1e-9, 4)
             + 0.0 AS score_mean
    FROM b GROUP BY 1
    """,
)
def nb_calibration_docs(spark, sf_dir):
    """Calibration/reliability table for the in-engine NB quality
    classifier: exact score DECILES (the aggregate-derived
    `exact_ntile_buckets`, no single-task window) × actual
    reference-label rate per decile — the monotonicity of ref_rate in
    decile is the one-glance check that the classifier orders
    documents usefully before anyone trusts its threshold sweep. The
    oracle replays the NB training, the 4-dp scores, the ntile, and
    the per-decile aggregates; decimal score sums keep the means
    hash-exact."""
    from semantic_ann_in_data_lake_spark.operators.curriculum import (
        exact_ntile_buckets,
    )
    from semantic_ann_in_data_lake_spark.operators.lm import (
        nb_log_odds_scores,
    )

    docs = _t(spark, sf_dir, "documents")
    labeled = docs.withColumn("__is_ref", F.col("source") == F.lit("src0"))
    scores = nb_log_odds_scores(labeled, "__is_ref")
    deciles = exact_ntile_buckets(
        scores, "nb_score", id_col="doc_id", n_buckets=10
    )
    lab = docs.select(
        "doc_id",
        F.coalesce(F.col("source") == F.lit("src0"), F.lit(False))
        .cast("int")
        .alias("__ref"),
    )
    j = deciles.join(lab, deciles["id"] == lab["doc_id"])
    return j.groupBy(F.col("bucket").alias("decile")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("__ref").cast("long").alias("n_ref"),
        (
            F.round(
                F.sum("__ref").cast("double") / F.count(F.lit(1))
                + F.lit(1e-9),
                4,
            )
            + F.lit(0.0)
        ).alias("ref_rate"),
        F.min("score").alias("score_min"),
        F.max("score").alias("score_max"),
        (
            F.round(
                F.sum(F.col("score").cast("decimal(18,4)")).cast("double")
                / F.count(F.lit(1))
                + F.lit(1e-9),
                4,
            )
            + F.lit(0.0)
        ).alias("score_mean"),
    )


@register(
    "curation_rank_fusion_docs",
    f"""
    WITH w AS (SELECT doc_id, {_TOKS} AS w,
                      coalesce(source = 'src0', false) AS ref,
                      n_chars
               FROM documents),
    dt AS (SELECT doc_id, ref, unnest(w) AS tok FROM w),
    cls AS (SELECT tok,
                   count(*) FILTER (WHERE ref) AS c_ref,
                   count(*) FILTER (WHERE NOT ref) AS c_rest
            FROM dt GROUP BY tok),
    tot AS (SELECT sum(c_ref) AS n_ref, sum(c_rest) AS n_rest,
                   count(*) AS vsize
            FROM cls),
    wt AS (SELECT tok,
                  round(log10((c_ref + 1.0) / (n_ref + 1.0 * vsize))
                        - log10((c_rest + 1.0) / (n_rest + 1.0 * vsize))
                        + 1e-9, 6)::DECIMAL(18,6) AS w6
           FROM cls CROSS JOIN tot),
    sc AS (SELECT dt.doc_id, count(*)::BIGINT AS n_tokens,
                  sum(wt.w6) AS w_sum
           FROM dt JOIN wt USING (tok) GROUP BY dt.doc_id),
    sig AS (
      SELECT w.doc_id,
             round(CASE WHEN sc.n_tokens IS NULL THEN 0.0
                        ELSE sc.w_sum::DOUBLE / sc.n_tokens END + 1e-9,
                   4) + 0.0 AS nb_score,
             len(w.w)::BIGINT AS n_words,
             w.n_chars
      FROM w LEFT JOIN sc USING (doc_id)
    ),
    ranked AS (
      SELECT doc_id, nb_score, n_words, n_chars,
             row_number() OVER (ORDER BY nb_score DESC, doc_id ASC) AS r_quality,
             row_number() OVER (ORDER BY n_words DESC, doc_id ASC) AS r_words,
             row_number() OVER (ORDER BY n_chars DESC, doc_id ASC) AS r_chars
      FROM sig
    )
    SELECT doc_id, r_quality::BIGINT AS r_quality,
           r_words::BIGINT AS r_words, r_chars::BIGINT AS r_chars,
           round(1.0 / (60 + r_quality) + 1.0 / (60 + r_words)
                 + 1.0 / (60 + r_chars), 6) AS rrf_score
    FROM ranked
    """,
)
def curation_rank_fusion_docs(spark, sf_dir):
    """Multi-signal curation ranking by reciprocal-rank fusion (the
    `hybrid_search_rrf` mechanism applied to CURATION): three
    independent per-document signals — the in-engine NB quality score,
    word count, char count — each ranked (desc, id ties), fused with
    the standard k=60 RRF. The production pattern for combining
    quality classifiers without calibrating their scales; plug
    perplexity/centrality/dup-fraction signals into the same shape.
    Oracle replays the NB chain + all three rankings + the fusion."""
    from pyspark.sql.window import Window

    from semantic_ann_in_data_lake_spark.functions.text import words
    from semantic_ann_in_data_lake_spark.operators.lm import (
        nb_log_odds_scores,
    )

    docs = _t(spark, sf_dir, "documents")
    labeled = docs.withColumn("__is_ref", F.col("source") == F.lit("src0"))
    nb = nb_log_odds_scores(labeled, "__is_ref").select("doc_id", "nb_score")
    sig = (
        docs.select(
            "doc_id",
            F.size(words("text")).cast("long").alias("n_words"),
            "n_chars",
        )
        .join(nb, "doc_id")
    )

    def rank(col):
        return F.row_number().over(
            Window.orderBy(F.col(col).desc(), F.col("doc_id").asc())
        )

    ranked = sig.select(
        "doc_id",
        rank("nb_score").cast("long").alias("r_quality"),
        rank("n_words").cast("long").alias("r_words"),
        rank("n_chars").cast("long").alias("r_chars"),
    )
    return ranked.select(
        "doc_id",
        "r_quality",
        "r_words",
        "r_chars",
        F.round(
            F.lit(1.0) / (F.lit(60) + F.col("r_quality"))
            + F.lit(1.0) / (F.lit(60) + F.col("r_words"))
            + F.lit(1.0) / (F.lit(60) + F.col("r_chars")),
            6,
        ).alias("rrf_score"),
    )
