"""Text analysis operators: token stats, quality scoring, language ID,
fingerprinting.

Extensions beyond the reference's surface (its text handling stops at
normalization + serialization, ``search_query.py:16-17``,
``repositoryLoader.py:139-180``) — these are the per-document analyses
a training-data pipeline runs at ingest. All are row-local column
expressions (no shuffle, no UDF): at 100 TB they run entirely inside
whole-stage codegen on the scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from semantic_ann_in_data_lake_spark.functions.hashing import portable_hash64
from semantic_ann_in_data_lake_spark.functions.text import (
    normalize_sentence,
    word_shingles,
    words,
)

#: tiny built-in stopword list (English) for ratio features
STOPWORDS = ["the", "a", "an", "of", "and", "to", "in", "is", "it", "for"]

#: marker words per language for the n-gram/stopword language heuristic;
#: checked in this order, ties break toward the earlier entry.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "is", "in", "that"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu"],
    "es": ["el", "la", "de", "los", "las", "es", "que", "un"],
    "fr": ["le", "la", "les", "et", "est", "des", "une", "que"],
    "zh": ["的", "是", "了", "在", "我", "有"],
}


def _count_in(toks: Column, vocab: list[str]) -> Column:
    return F.size(F.filter(toks, lambda t: t.isin(*vocab)))


#: nudge rounded ratios off exact decimal midpoints: Spark rounds the
#: shortest-repr decimal of a double, DuckDB the binary value, so a
#: derived value whose shortest repr is exactly "0.xxxx5" rounds
#: differently (0.50245 → 0.5025 vs 0.5024). The bias is identical on
#: both sides, so results stay engine-portable.
ROUND_BIAS = 1e-9


def _r4(c: Column) -> Column:
    return F.round(c + F.lit(ROUND_BIAS), 4)


def token_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    extra_cols: tuple[str, ...] = (),
    tokenizer=None,
) -> DataFrame:
    """Per-doc token statistics + a composite quality score.

    Quality = 0.4·min(n_tokens/100, 1) + 0.3·type_token_ratio +
    0.3·stopword_ratio, all ratios exact int/int divisions (rounded
    4 dp) so the score is engine-portable. ``extra_cols`` pass through
    unchanged (e.g. ``source`` for downstream per-source selection) —
    carrying them here beats re-joining the stats onto the corpus,
    which would shuffle the full table against itself.

    ``tokenizer``: the :func:`..operators.packing.token_counts` seam —
    when given, the ``n_tokens`` COLUMN is replaced with the exact
    token count (BPE/tiktoken units, what a model-budget consumer
    bills against). The lexical ratios (TTR, stopword, avg length)
    stay whitespace-structural by definition — they describe word
    usage, not subword billing.
    """
    if tokenizer is not None:
        from semantic_ann_in_data_lake_spark.operators.packing import (
            token_counts,
        )

        base = token_stats(
            docs, id_col, text_col, extra_cols=extra_cols, tokenizer=None
        ).drop("n_tokens")
        exact = token_counts(
            docs, id_col=id_col, text_col=text_col, tokenizer=tokenizer
        ).withColumnRenamed(id_col, "doc_id")
        return base.join(exact, "doc_id")
    toks = words(text_col)
    d = docs.select(
        F.col(id_col).alias("doc_id"),
        *[F.col(c) for c in extra_cols],
        F.length(F.col(text_col)).alias("n_chars"),
        toks.alias("__toks__"),
        normalize_sentence(text_col).alias("__norm__"),
    )
    n_tokens = F.size("__toks__")
    n_distinct = F.size(F.array_distinct("__toks__"))
    stop_hits = _count_in(F.col("__toks__"), STOPWORDS)
    punct_chars = F.length("__norm__") - F.length(
        F.regexp_replace(F.col("__norm__"), r"[.,!?;:]", "")
    )
    digit_chars = F.length("__norm__") - F.length(
        F.regexp_replace(F.col("__norm__"), r"[0-9]", "")
    )
    safe_tok = F.greatest(n_tokens, F.lit(1))
    safe_chr = F.greatest(F.length("__norm__"), F.lit(1))
    ttr = _r4(n_distinct.cast("double") / safe_tok)
    stop_ratio = _r4(stop_hits.cast("double") / safe_tok)
    quality = _r4(
        F.lit(0.4) * F.least(n_tokens.cast("double") / 100.0, F.lit(1.0))
        + F.lit(0.3) * ttr
        + F.lit(0.3) * stop_ratio
    )
    return d.select(
        "doc_id",
        *extra_cols,
        "n_chars",
        n_tokens.alias("n_tokens"),
        n_distinct.alias("n_distinct_tokens"),
        # 0.0 for token-less docs: the chars-minus-spaces identity
        # (norm_len - n + 1)/n degenerates to 1/1 = "one-char token"
        # for a document with NO tokens
        F.when(n_tokens == 0, F.lit(0.0))
        .otherwise(
            _r4(
                (F.length("__norm__") - n_tokens + 1).cast("double") / safe_tok
            )
        )
        .alias("avg_token_len"),
        stop_ratio.alias("stopword_ratio"),
        _r4(punct_chars.cast("double") / safe_chr).alias("punct_ratio"),
        _r4(digit_chars.cast("double") / safe_chr).alias("digit_ratio"),
        ttr.alias("type_token_ratio"),
        quality.alias("quality_score"),
    )


def lang_id(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Marker-word language heuristic → (doc_id, lang_pred, lang_score).

    Scores = marker-token hit counts per language; argmax with
    deterministic tie-break in LANG_MARKERS order; all-zero → 'und'.
    ``extra_cols`` pass through unchanged (same contract as
    :func:`token_stats`) — callers that chunk a document carry the
    parent doc id here instead of arithmetic key packing, which
    overflows/aliases for ≥100k chunks.
    """
    toks = words(text_col)
    d = docs.select(
        F.col(id_col).alias("doc_id"),
        *[F.col(c) for c in extra_cols],
        toks.alias("__toks__"),
    )
    scores = {
        lang: _count_in(F.col("__toks__"), markers)
        for lang, markers in LANG_MARKERS.items()
    }
    langs = list(LANG_MARKERS)
    best: Column = F.lit(0)
    for lang in langs:
        best = F.greatest(best, scores[lang])
    pred = F.lit("und")
    for lang in reversed(langs):
        pred = F.when((scores[lang] > 0) & (scores[lang] == best), F.lit(lang)).otherwise(pred)
    n_tokens = F.greatest(F.size("__toks__"), F.lit(1))
    return d.select(
        "doc_id",
        *extra_cols,
        pred.alias("lang_pred"),
        _r4(best.cast("double") / n_tokens).alias("lang_score"),
    )


def fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
) -> DataFrame:
    """Document fingerprints: md5 of normalized text (exact identity up
    to whitespace/case) + min shingle hash (winnowing-style content
    fingerprint, stable under local edits)."""
    from semantic_ann_in_data_lake_spark.functions.text import (
        word_shingles_from,
        words,
    )

    staged = docs.select(
        F.col(id_col).alias("doc_id"),
        F.md5(normalize_sentence(text_col)).alias("fp_md5"),
        words(text_col).alias("__w"),
    ).select(
        "doc_id", "fp_md5", word_shingles_from(F.col("__w"), shingle_n).alias("__sh")
    )
    return staged.select(
        "doc_id",
        "fp_md5",
        F.array_min(
            F.transform(F.col("__sh"), lambda s: portable_hash64(s, seed="fp:"))
        ).alias("fp_minshingle"),
    )


def _skew_safe_term_join(tf: DataFrame, dfreq: DataFrame,
                         hot_df_floor: int = 1000,
                         max_hot: int = 4096) -> DataFrame:
    """``tf ⋈ dfreq`` on ``term``, resilient to stopword skew.

    A shuffle join on raw ``term`` sends every (doc, "the") row to one
    reducer — the skew that made tfidf 13.9× at sf1. Split the
    vocabulary at its head instead: the ``max_hot`` heaviest terms
    with df > ``hot_df_floor`` (stopwords) join via a
    bounded broadcast — their tf rows never shuffle at all — and the
    cold tail is anti-joined against the same broadcast, then joined
    on a now-unskewed shuffle. Output rows are identical to the plain
    join (same columns, same values; union order is immaterial to
    every downstream agg/window), so the oracle hash is unchanged:
    hot tf rows match exactly their dfreq row in the hot branch and
    are absent from the cold branch; cold rows vice versa (hot dfreq
    rows find no cold partner).

    Fully LAZY — the hot head is a broadcast subquery
    (orderBy + limit, deterministic under the (df desc, term asc)
    total order), not a driver collect, so building the plan costs
    zero jobs and plan-only consumers (explain tests, the gate's plan
    walk) never execute the corpus aggregation. The repeated tf/dfreq
    subtrees across the two branches dedupe physically via Spark's
    ReuseExchange (same canonical aggregate exchange)."""
    hot = F.broadcast(
        dfreq.where(F.col("df") > hot_df_floor)
        .orderBy(F.col("df").desc(), F.col("term").asc())
        .limit(max_hot)
    )
    hot_join = tf.join(hot, "term")
    # anti-join on `hot` itself (left_anti keys on "term"; column
    # pruning narrows the build side to term-only regardless, so the
    # two broadcasts stay canonically distinct and the TopK head runs
    # twice — bounded distributed TakeOrdered over the vocabulary,
    # cheap). What matters is that the EXPENSIVE lineage underneath —
    # the tokenize→tf→dfreq aggregation exchange — is shared: the
    # physical plan shows ReusedExchange on the dfreq shuffle feeding
    # both heads and the cold join.
    cold_join = tf.join(hot, "term", "left_anti").join(dfreq, "term")
    return hot_join.unionByName(cold_join)


def tfidf_top_terms(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """Per-document top-k TF-IDF terms: (doc_id, term, tf, df, score,
    rank) with score = round4(tf · ln((N+1)/(df+1)) + bias) and rank by
    (score desc, term asc).

    Two-level corpus aggregation: term frequencies per (doc, term),
    document frequencies per term (a groupBy over the ALREADY-distinct
    (doc, term) pairs — no countDistinct shuffle), the corpus size as a
    broadcast one-row cross join, and a per-doc ranking window. Scale
    notes: both groupBys partial-aggregate map-side; the tf ⋈ df join
    goes through :func:`_skew_safe_term_join`, which broadcasts the
    stopword head of the vocabulary so the skewed rows never shuffle.
    """
    from pyspark.sql.window import Window

    tok = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(words(text_col)).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        _skew_safe_term_join(tf, dfreq)
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            _r4(
                F.col("tf")
                * F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0)))
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("doc_id", "term", "tf", "df", "score", "rank")
    )


def bm25_top_terms(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Per-document top-k BM25 terms (Okapi BM25 with the standard
    ``ln(1 + (N-df+0.5)/(df+0.5))`` idf):

        score = idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))

    Same distributed shape as :func:`tfidf_top_terms` plus the
    doc-length table (one extra per-doc aggregate reusing the token
    explode) and the corpus avgdl in the broadcast one-row join.
    Rounded via the textstats bias discipline before ranking.
    """
    from pyspark.sql.window import Window

    tok = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(words(text_col)).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    corpus = docs.agg(F.count(F.lit(1)).alias("n_docs")).crossJoin(
        F.broadcast(dl.agg(F.avg("dl").alias("avgdl")))
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    denom = F.col("tf") + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl")
    )
    scored = (
        _skew_safe_term_join(tf, dfreq)
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            "dl",
            _r4(idf * F.col("tf") * F.lit(k1 + 1.0) / denom).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("doc_id", "term", "tf", "df", "dl", "score", "rank")
    )


def repetition_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Within-document repetition filter: duplicate word-n-gram fraction.

    The Gopher-style quality rule (Rae et al. 2021, public): documents
    whose n-grams repeat heavily are boilerplate/spam candidates.
    Output: (doc_id, n_tokens, n_ngrams, n_distinct_ngrams,
    dup_ngram_fraction) where dup_ngram_fraction =
    (n_ngrams − n_distinct_ngrams) / n_ngrams (0 when no n-grams).

    Extension beyond the reference surface (its text handling stops at
    normalization, ``search_query.py:16-17``) — a per-document,
    row-local column expression: no explode, no shuffle, no UDF. At
    100 TB this runs entirely inside whole-stage codegen on the scan;
    the per-row cost is O(doc length), the distinct count reuses the
    shingle transform on a MATERIALIZED words array (the HOF
    re-evaluation trap — see word_shingles_from — is avoided by staging
    the projection).
    """
    from semantic_ann_in_data_lake_spark.functions.text import (
        word_shingles_from,
        words,
    )

    staged = docs.select(
        F.col(id_col).alias("doc_id"), words(text_col).alias("__w")
    ).select(
        "doc_id",
        F.size("__w").alias("n_tokens"),
        F.greatest(F.size("__w") - F.lit(n - 1), F.lit(0)).alias("n_ngrams"),
        F.size(word_shingles_from(F.col("__w"), n)).alias("n_distinct_ngrams"),
    )
    frac = F.when(F.col("n_ngrams") == 0, F.lit(0.0)).otherwise(
        (F.col("n_ngrams") - F.col("n_distinct_ngrams")).cast("double")
        / F.col("n_ngrams")
    )
    return staged.select(
        "doc_id",
        "n_tokens",
        "n_ngrams",
        "n_distinct_ngrams",
        _r4(frac).alias("dup_ngram_fraction"),
    )


#: PII-ish patterns shared by the scrubber and its oracle twin — kept to
#: the regex subset Java (Spark) and RE2 (DuckDB) treat identically.
PII_PATTERNS: dict[str, str] = {
    "email": r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}",
    "url": r"https?://[^\s]+",
    "phone": r"555-[0-9]{4}",
}


def pii_scrub(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Redact PII-ish spans (emails, URLs, phone-like numbers) and count
    them: (doc_id, clean_text, n_emails, n_urls, n_phones).

    Standard training-data-pipeline scrub pass (extension beyond the
    reference surface). Replacement order matters — emails first (an
    email inside a URL query string would otherwise be masked by the
    URL pass), then URLs, then phones. Pure regexp column expressions:
    row-local, no shuffle, whole-stage codegen at 100 TB.
    """
    t = F.col(text_col)
    counts = {
        k: F.size(F.regexp_extract_all(t, F.lit(p), F.lit(0)))
        for k, p in PII_PATTERNS.items()
    }
    clean = F.regexp_replace(t, PII_PATTERNS["email"], "[EMAIL]")
    clean = F.regexp_replace(clean, PII_PATTERNS["url"], "[URL]")
    clean = F.regexp_replace(clean, PII_PATTERNS["phone"], "[PHONE]")
    return docs.select(
        F.col(id_col).alias("doc_id"),
        clean.alias("clean_text"),
        counts["email"].alias("n_emails"),
        counts["url"].alias("n_urls"),
        counts["phone"].alias("n_phones"),
    )


def gopher_ok_from_stats(
    n_tokens: Column,
    n_ngrams: Column,
    n_distinct_ngrams: Column,
    stop_hits: Column,
) -> Column:
    """The composed Gopher keep-decision over pre-staged per-doc
    scalars: token-count band AND stopword-ratio floor AND duplicate-
    3-gram ceiling. Shared by the quality gate and the corpus datacard
    so the thresholds live in exactly one place (callers stage the
    scalars from ONE words array first — inlining the array ops here
    would re-evaluate them per predicate, the Catalyst HOF trap)."""
    stop_ratio = _r4(
        stop_hits.cast("double") / F.greatest(n_tokens, F.lit(1))
    )
    dup_frac = _r4(
        F.when(n_ngrams == 0, F.lit(0.0)).otherwise(
            (n_ngrams - n_distinct_ngrams).cast("double") / n_ngrams
        )
    )
    return n_tokens.between(20, 200) & (stop_ratio >= 0.05) & (dup_frac <= 0.2)


def char_entropy(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document Shannon entropy of the character distribution — the
    compression-ratio quality proxy (gibberish and key-mash text sits
    far from natural-language entropy; binary-ish payloads max it out).

    Output: ``(doc_id, n_chars, n_distinct_chars, char_entropy,
    entropy_ratio)`` — entropy in bits/char over the NORMALIZED text,
    ``entropy_ratio`` = entropy / log2(distinct) ∈ [0, 1] (1 =
    uniform usage; 0 when fewer than 2 distinct chars). Entirely
    row-local (no explode, no shuffle, no UDF): per-char-class terms
    are 6-dp micro-unit integers summed in sorted-distinct order, so
    the fold is exact integer math — engine-portable by construction.
    Per-row cost O(len · distinct_chars); distinct is alphabet-bounded
    (≤ a few hundred for natural text).
    """
    from semantic_ann_in_data_lake_spark.functions.text import (
        normalize_sentence,
    )

    staged = docs.select(
        F.col(id_col).alias("doc_id"),
        normalize_sentence(text_col).alias("__n"),
    ).select(
        "doc_id",
        F.length("__n").alias("n_chars"),
        F.when(F.length("__n") == 0, F.array().cast("array<string>"))
        .otherwise(
            F.transform(
                F.sequence(F.lit(1), F.length("__n")),
                lambda i: F.substring(F.col("__n"), i, 1),
            )
        )
        .alias("__chars__"),
    )
    staged = staged.withColumn(
        "__alpha__", F.array_sort(F.array_distinct("__chars__"))
    )
    p = lambda c: F.size(  # noqa: E731
        F.filter("__chars__", lambda x: x == c)
    ).cast("double") / F.col("n_chars").cast("double")
    term_micro = lambda c: F.round(  # noqa: E731
        (-p(c) * F.log2(p(c)) + F.lit(ROUND_BIAS)) * F.lit(1_000_000), 0
    ).cast("long")
    ent_micro = F.aggregate(
        F.transform("__alpha__", term_micro),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    n_dist = F.size("__alpha__")
    ent = F.col("__em") / F.lit(1_000_000.0)
    return (
        staged.withColumn("__em", ent_micro)
        .select(
            "doc_id",
            "n_chars",
            n_dist.cast("int").alias("n_distinct_chars"),
            F.round(ent + F.lit(ROUND_BIAS), 4).alias("char_entropy"),
            F.when(n_dist < 2, F.lit(0.0))
            .otherwise(
                F.round(
                    ent / F.log2(n_dist.cast("double")) + F.lit(ROUND_BIAS),
                    4,
                )
            )
            .alias("entropy_ratio"),
        )
    )


def bm25_search(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
) -> DataFrame:
    """BM25 query retrieval (Robertson–Spärck Jones / Okapi BM25): rank
    documents against free-text queries with corpus idf and document
    length normalization — the standard lexical retrieval leg beside
    the embedding kNN tiers (fuse with ``ranks.rrf_fuse``).

    score(q, d) = Σ_{t ∈ q ∩ d} idf_t · tf_td·(k1+1) /
                  (tf_td + k1·(1 − b + b·len_d/avgdl)),
    idf_t = ln(1 + (N − df_t + 0.5)/(df_t + 0.5)) (always ≥ 0).
    Query terms are DISTINCT (unit query weights). Returns
    ``(query_id, doc_id, score, rank)``, top-``k`` per query, rank
    ties broken by ascending doc_id; scores are 4-dp doubles built
    from exact per-term micro-unit sums (the repo-wide engine-parity
    discipline).

    Scale: the doc side is the classic inverted index — one exploded
    (doc, term, tf) groupBy; idf and avgdl are a ≤|vocab|-row and a
    1-row aggregate; the query⋈term join is keyed by term with the
    query side typically tiny (broadcast). Top-k is a per-query
    ranking window (keyed, never global).
    """
    from semantic_ann_in_data_lake_spark.functions.text import words

    from pyspark.sql.window import Window as _Win

    d = docs.select(
        F.col(id_col).alias("doc_id"), words(text_col).alias("__w")
    )
    dlen = d.select("doc_id", F.size("__w").alias("__dl"))
    dterms = (
        d.select("doc_id", F.explode("__w").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    n_and_avg = dlen.agg(
        F.count(F.lit(1)).alias("__n"),
        F.avg(F.col("__dl").cast("double")).alias("__avgdl"),
    )
    dfreq = dterms.groupBy("term").agg(
        F.count(F.lit(1)).alias("__df")
    )
    qterms = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.explode(
            F.array_distinct(words(query_text_col))
        ).alias("term"),
    )
    j = (
        qterms.join(dterms, "term")
        .join(dfreq, "term")
        .join(dlen, "doc_id")
        .crossJoin(F.broadcast(n_and_avg))
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("__n") - F.col("__df") + F.lit(0.5))
        / (F.col("__df") + F.lit(0.5))
    )
    norm = F.lit(1.0 - b) + F.lit(b) * (
        F.col("__dl").cast("double") / F.col("__avgdl")
    )
    contrib = (
        idf
        * (F.col("tf") * F.lit(k1 + 1.0))
        / (F.col("tf") + F.lit(k1) * norm)
    )
    term_micro = F.round(
        (contrib + F.lit(ROUND_BIAS)) * F.lit(1_000_000), 0
    ).cast("long")
    scored = (
        j.select("query_id", "doc_id", term_micro.alias("__tm"))
        .groupBy("query_id", "doc_id")
        .agg(F.sum("__tm").alias("__sm"))
    )
    w = _Win.partitionBy("query_id").orderBy(
        F.col("__sm").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "doc_id",
            F.round(
                F.col("__sm") / F.lit(1_000_000.0) + F.lit(ROUND_BIAS), 4
            ).alias("score"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


#: Gopher rule constants (Rae et al. 2021, appendix A quality rules —
#: public paper). The eight "must contain >=2" stopwords are the
#: paper's list, NOT this package's STOPWORDS set.
GOPHER_STOP_KINDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document measurements + keep flag for the published Gopher
    document-quality rules not already covered by
    :func:`gopher_ok_from_stats` (word-count band / stopword ratio /
    duplicate n-grams):

    - mean word length in [3, 10];
    - symbol-to-word ratio ('#' or ellipsis) <= 0.1;
    - <= 90% of lines start with a bullet, <= 30% end with an
      ellipsis (lines split on the RAW text's newlines);
    - >= 80% of words contain at least one alphabetic character;
    - >= 2 distinct members of the paper's stopword list present.

    Everything is one row-local projection (words array staged once,
    line array staged once) — zero shuffle, whole-stage codegen on the
    scan; ratios are exact int/int divisions rounded 4 dp, so the
    output is engine-portable and hash-gatable.
    """
    from semantic_ann_in_data_lake_spark.functions.text import words

    raw = F.coalesce(F.col(text_col), F.lit(""))
    d = docs.select(
        F.col(id_col).alias("doc_id"),
        # words over the COALESCED text: NULL documents must measure as
        # empty (n_words 0, keep false), not propagate NULL flags
        words(raw).alias("__w"),
        F.split(raw, "\n").alias("__ln"),
        # symbol OCCURRENCES ('#' or an ellipsis), counted on the raw
        # text before it leaves this projection
        F.regexp_count(raw, F.lit(r"[#]|\.\.\.|…")).alias("__n_sym"),
    )
    n_words = F.size("__w")
    safe_w = F.greatest(n_words, F.lit(1))
    total_chars = F.aggregate(
        F.transform("__w", F.length),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    mean_len = _r4(total_chars.cast("double") / safe_w)
    symbol_ratio = _r4(F.col("__n_sym").cast("double") / safe_w)
    lines = F.filter("__ln", lambda x: F.length(F.trim(x)) > 0)
    n_lines = F.greatest(F.size(lines), F.lit(1))
    bullet = F.size(
        F.filter(
            lines,
            lambda x: F.trim(x).rlike(r"^([-*•]|\d+[.)])\s"),
        )
    )
    ell = F.size(
        F.filter(lines, lambda x: F.rtrim(x).rlike(r"(\.\.\.|…)$"))
    )
    bullet_frac = _r4(bullet.cast("double") / n_lines)
    ellipsis_frac = _r4(ell.cast("double") / n_lines)
    alpha_words = F.size(F.filter("__w", lambda x: x.rlike("[a-z]")))
    alpha_frac = _r4(alpha_words.cast("double") / safe_w)
    n_stop_kinds = F.size(
        F.array_intersect(
            F.array_distinct("__w"),
            F.array(*[F.lit(s) for s in GOPHER_STOP_KINDS]),
        )
    )
    keep = (
        mean_len.between(3.0, 10.0)
        & (symbol_ratio <= 0.1)
        & (bullet_frac <= 0.9)
        & (ellipsis_frac <= 0.3)
        & (alpha_frac >= 0.8)
        & (n_stop_kinds >= 2)
    )
    return d.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        mean_len.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        bullet_frac.alias("bullet_frac"),
        ellipsis_frac.alias("ellipsis_frac"),
        alpha_frac.alias("alpha_frac"),
        n_stop_kinds.cast("int").alias("n_stop_kinds"),
        keep.alias("keep"),
    )


#: Unicode code-point bands for script-mix detection. Band
#: approximations of the script property (a full Unicode script table
#: is overkill for the corpus-balance signal): Latin = ASCII letters +
#: Latin-1 letters + Extended-A; Cyrillic = the base block; CJK =
#: kana + unified ideographs.
SCRIPT_BANDS: dict[str, tuple[tuple[int, int], ...]] = {
    "latin": ((0x41, 0x5A), (0x61, 0x7A), (0xC0, 0x17F)),
    "cyrillic": ((0x0400, 0x04FF),),
    "cjk": ((0x3040, 0x30FF), (0x4E00, 0x9FFF)),
    "digit": ((0x30, 0x39),),
}

_WS_CODES = (0x20, 0x09, 0x0A, 0x0D, 0x0B, 0x0C)


def script_mix(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document script composition — the crawl-quality signal that
    catches mislabeled languages and mixed-script spam (a document
    tagged ``en`` that is 60% Cyrillic, a CJK page inside a Latin
    shard): fractions of NON-WHITESPACE code points falling in each
    :data:`SCRIPT_BANDS` band, plus an ``other`` remainder, summing to
    1 at 4 dp (± rounding).

    Returns ``(doc_id, n_chars, latin_frac, cyrillic_frac, cjk_frac,
    digit_frac, other_frac)`` for every document (empty/NULL → zeros).

    Scale design: one row-local projection, zero shuffle. Code points
    come from the code-point-correct native ``split(text, '')``
    (Spark 4; measured ~7× cheaper than per-position substring) and
    the whole computation is LET-bound in a one-element-array lambda
    scope so CollapseProject cannot re-derive the char array per band
    (the PERF.md Catalyst trap); per-band tests are plain integer
    range compares — the cheapest possible interpreted-HOF body.
    """
    raw = F.coalesce(F.col(text_col), F.lit(""))
    codes = F.when(
        F.length(raw) == 0, F.array().cast("array<int>")
    ).otherwise(F.transform(F.split(raw, ""), lambda ch: F.ascii(ch)))

    def in_bands(c: Column, bands: tuple[tuple[int, int], ...]) -> Column:
        cond = F.lit(False)
        for lo, hi in bands:
            cond = cond | c.between(lo, hi)
        return cond

    def band_pred(bands: tuple[tuple[int, int], ...]):
        # closure factory, NOT a default arg: pyspark inspects lambda
        # arity, and a second parameter makes it pass the array INDEX
        # into it
        return lambda c: in_bands(c, bands)

    def body(cs: Column) -> Column:
        nonws = F.filter(
            cs, lambda c: ~c.isin(*[F.lit(w) for w in _WS_CODES])
        )
        counts = {
            name: F.size(F.filter(nonws, band_pred(bands)))
            for name, bands in SCRIPT_BANDS.items()
        }
        n = F.size(nonws)
        return F.struct(
            n.alias("n"),
            *[v.alias(k) for k, v in counts.items()],
        )

    d = docs.select(
        F.col(id_col).alias("doc_id"),
        F.element_at(F.transform(F.array(codes), body), 1).alias("__s"),
    )
    n = F.col("__s.n")
    safe = F.greatest(n, F.lit(1)).cast("double")

    def frac(c: Column) -> Column:
        return _r4(c.cast("double") / safe)

    known = sum(
        (F.col(f"__s.{k}") for k in SCRIPT_BANDS), F.lit(0)
    )
    return d.select(
        "doc_id",
        n.cast("long").alias("n_chars"),
        frac(F.col("__s.latin")).alias("latin_frac"),
        frac(F.col("__s.cyrillic")).alias("cyrillic_frac"),
        frac(F.col("__s.cjk")).alias("cjk_frac"),
        frac(F.col("__s.digit")).alias("digit_frac"),
        frac(n - known).alias("other_frac"),
    )
