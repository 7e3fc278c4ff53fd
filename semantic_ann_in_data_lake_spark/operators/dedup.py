"""Deduplication operators for large-scale training-data pipelines.

The reference dedups only exact artifacts (row dedup ``P4``, seen-sets
``repositoryLoader.py:88-97``, ``search_query.py:28-31``); a 100 TB
LLM-data pipeline needs the full near-dup family. All operators are
pure DataFrame programs:

- exact dedup: hash-groupBy on the text digest;
- MinHash + LSH: shingle → k-min-hash signature → band → bucket join →
  exact-Jaccard verification (the classic sub-quadratic pipeline);
- SimHash: per-bit majority vote over token hashes, near-dups by
  Hamming distance on the 64/32-bit code;
- n-gram Jaccard: exact pairwise verification (bounded inputs only);
- embedding cosine: near-dups in vector space.

Every operator takes ``hash_portable``: True uses the md5-based hash
that the DuckDB oracle can replicate bit-for-bit; False uses native
``xxhash64`` (the production path — ~10× cheaper, same algorithm
shape). Shingle arrays are distinct+sorted, so set sizes are
engine-portable.

Scale notes: signatures/simhash are per-row column expressions (no
shuffle); the only shuffles are the LSH band self-join (keyed by band
hash — bounded buckets, AQE handles skewed hot buckets) and the final
pair dedup. Never an all-pairs cross join except in the explicitly
bounded ``ngram_jaccard_pairs``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from semantic_ann_in_data_lake_spark.operators.iterate import (
    iter_checkpoint,
)
from pyspark.sql.window import Window

from semantic_ann_in_data_lake_spark.cache import scoped_persist
from semantic_ann_in_data_lake_spark.functions.hashing import (
    fast_hash64,
    portable_hash64,
)
from semantic_ann_in_data_lake_spark.functions.text import word_shingles, words


def _shingle_hash(s: Column, seed: int, portable: bool) -> Column:
    if portable:
        return portable_hash64(s, seed=f"{seed}:")
    return F.xxhash64(s, F.lit(seed))


def exact_duplicates(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup via content digest: one row per distinct text with
    the canonical (minimum) id and the copy count. NULL-safe: a
    missing body digests as the empty document (coalesce to ''), so
    NULL-text and empty-text rows land in ONE duplicate group instead
    of a separate NULL-keyed one."""
    return (
        docs.select(
            F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias("text_hash"),
            F.col(id_col),
        )
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def _shingle_stream(
    docs: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """Positional word-``n``-gram stream ``(doc_id, __sh)`` (with
    duplicates): ``posexplode`` the words ONCE, build each shingle with
    ``lead()`` windows — pure codegen string concat, tokenization
    evaluated exactly once per row. The shared front end of
    :func:`minhash_signatures` and :func:`ngram_jaccard_pairs`; see
    the former's docstring for why the HOF-array formulation loses."""
    w = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(words(text_col)).alias("__pos", "__wd"),
    )
    if n > 1:
        win = Window.partitionBy("doc_id").orderBy("__pos")
        leads = [F.lead("__wd", j).over(win) for j in range(1, n)]
        # concat_ws silently skips nulls → guard on the LAST lead so
        # tail positions (< n words left) emit no truncated shingle
        return w.select(
            "doc_id",
            F.when(
                leads[-1].isNotNull(), F.concat_ws(" ", F.col("__wd"), *leads)
            ).alias("__sh"),
        ).where(F.col("__sh").isNotNull())
    return w.select("doc_id", F.col("__wd").alias("__sh"))


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_n: int = 3,
    hash_portable: bool = True,
) -> DataFrame:
    """(id, shingles, minhash[num_hashes]).

    Shape: ``posexplode`` the words ONCE, build each n-gram shingle
    with ``lead()`` windows (pure codegen string concat — no
    higher-order array functions anywhere), then one groupBy computes
    the sorted-distinct shingle set AND all ``num_hashes`` minima.

    Why not ``array_min(transform(shingles, hᵢ))`` over a shingles
    array expression: Catalyst collapses the words/shingles staging
    projections into every reference, so the HOF lambda re-splits the
    document per shingle position — O(len²) per doc, measured 13 s vs
    ~3 s at sf0.1 (5k docs). The explode path evaluates tokenization
    exactly once per row, and the window's hash-partitioning on doc_id
    is reused by the groupBy — ONE narrow (doc_id, shingle) shuffle
    total, linear and skew-free at cluster scale."""
    sh = _shingle_stream(docs, id_col, text_col, shingle_n)
    agg = sh.groupBy("doc_id").agg(
        # sorted distinct set == array_sort(array_distinct(...)) of the
        # positional shingle stream (oracle-parity: DuckDB side is
        # list_sort(list_distinct(...)))
        F.array_sort(F.collect_set("__sh")).alias("shingles"),
        *[
            F.min(_shingle_hash(F.col("__sh"), i, hash_portable)).alias(f"__h{i}")
            for i in range(num_hashes)
        ],
    )
    sig = F.array(*[F.col(f"__h{i}") for i in range(num_hashes)])
    return agg.select("doc_id", "shingles", sig.alias("minhash"))


def band_keys(sigs: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """Explode a minhash signature into its LSH band keys:
    (doc_id, band, band_key) — one row per band, band_key = the band's
    signature slice serialized. Shared by the batch self-join and the
    streaming incremental near-dup sink."""
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "|",
                    *[
                        F.col("minhash")[b * rows_per_band + r].cast("string")
                        for r in range(rows_per_band)
                    ],
                ).alias("band_key"),
            )
            for b in range(bands)
        ]
    )
    return sigs.select("doc_id", F.explode(band_structs).alias("bk")).select(
        "doc_id", "bk.band", "bk.band_key"
    )


def lsh_candidate_pairs(
    sigs: DataFrame,
    bands: int,
    rows_per_band: int,
    hash_portable: bool = True,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Band the signature and self-join on (band_index, band_hash).

    Emits distinct (id_a < id_b) candidate pairs. The join key is the
    hashed band content, so the shuffle is by bucket — sub-quadratic as
    long as buckets stay bounded.

    ``max_bucket_size`` is the explicit hot-bucket bound (AQE skew-join
    splitting redistributes a hot bucket's tasks but cannot shrink the
    O(B²) pair blowup itself): a bucket of B near-identical documents
    emits B² join rows — one 10k-duplicate bucket is 10⁸ rows through
    one key. Buckets over the cap degrade to STAR pairing — every
    member pairs with the bucket's min doc_id — emitting B−1 rows while
    preserving exactly what dedup needs from a bucket: connectivity (the
    cluster assembles through the representative; verification still
    exact-checks every emitted pair). Recall note: a non-duplicate pair
    that collided ONLY inside an over-cap bucket and fails verification
    against the representative is lost; true duplicate sets — the reason
    a bucket is hot — stay connected. Default None = exact all-pairs
    (the oracle-gated tier).
    """
    banded = band_keys(sigs, bands, rows_per_band)
    if max_bucket_size is not None:
        # bucket size + representative via an UNORDERED window over the
        # bucket key: ONE shuffle computes both and keeps the frame
        # partitioned by (band, band_key) for the pair self-join right
        # after (measured vs the previous groupBy-stats + join shape:
        # that spent an extra aggregate exchange plus a join of the
        # full banded frame — ~2× slower at sf0.1)
        w_bucket = Window.partitionBy("band", "band_key")
        banded = banded.withColumn(
            "__bsz", F.count(F.lit(1)).over(w_bucket)
        ).withColumn("__rep", F.min("doc_id").over(w_bucket))
        small = banded.where(F.col("__bsz") <= max_bucket_size).select(
            "doc_id", "band", "band_key"
        )
        star = (
            banded.where(
                (F.col("__bsz") > max_bucket_size)
                & (F.col("doc_id") != F.col("__rep"))
            )
            .select(F.col("__rep").alias("id_a"), F.col("doc_id").alias("id_b"))
        )
    else:
        small, star = banded, None
    a = small.alias("a")
    b = small.alias("b")
    pairs = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.band_key") == F.col("b.band_key"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
    if star is not None:
        pairs = pairs.unionByName(star)
    return pairs.distinct()


def jaccard(sh_a: Column, sh_b: Column) -> Column:
    """Exact Jaccard on distinct-element arrays (portable set sizes)."""
    inter = F.size(F.array_intersect(sh_a, sh_b))
    union = F.size(sh_a) + F.size(sh_b) - inter
    return inter.cast("double") / F.greatest(union, F.lit(1))


def jaccard_meets(sh_a: Column, sh_b: Column, threshold: float) -> Column:
    """``J(a, b) >= threshold`` decided on the INTEGER set sizes
    (inter >= tau·union): comparing the 6-dp-ROUNDED ratio drops pairs
    whose true Jaccard exactly equals a non-representable tau (1/3)
    and admits pairs a hair below a representable one — the rounded
    column stays display-only (same fix as setjoin.py)."""
    inter = F.size(F.array_intersect(sh_a, sh_b))
    union = F.size(sh_a) + F.size(sh_b) - inter
    return inter.cast("double") >= F.lit(threshold) * F.greatest(
        union, F.lit(1)
    ).cast("double") - F.lit(1e-9)


def minhash_near_dups(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_n: int = 3,
    bands: int = 8,
    rows_per_band: int = 2,
    threshold: float = 0.01,
    hash_portable: bool = True,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Full MinHash-LSH pipeline: signatures → band buckets → candidate
    pairs → exact-Jaccard verification ≥ threshold.

    Returns (id_a, id_b, jaccard) with jaccard rounded to 6 dp.
    ``max_bucket_size`` bounds hot-bucket pair blowup (see
    :func:`lsh_candidate_pairs`) — set it at corpus scale where
    boilerplate/duplicated documents make giant buckets a certainty.
    """
    sigs = minhash_signatures(
        docs, id_col, text_col, num_hashes, shingle_n, hash_portable
    )
    # Materialize signatures: they feed the band join TWICE and the
    # verification join twice more, and Catalyst does not CSE
    # higher-order array expressions across self-joins — without this,
    # shingling+hashing re-executes at every plan site (measured 100×
    # slowdown at sf0.1). At cluster scale this is a checkpointed
    # signature table (write once, reuse across dedup runs).
    sigs = scoped_persist(sigs)
    cands = lsh_candidate_pairs(
        sigs, bands, rows_per_band, hash_portable, max_bucket_size
    )
    sh = sigs.select("doc_id", "shingles")
    return (
        cands.join(sh.withColumnRenamed("doc_id", "id_a").withColumnRenamed("shingles", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("doc_id", "id_b").withColumnRenamed("shingles", "sh_b"), "id_b")
        .where(jaccard_meets(F.col("sh_a"), F.col("sh_b"), threshold))
        .select(
            "id_a",
            "id_b",
            F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard"),
        )
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.02,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard ≥ threshold (id_a < id_b) via a
    count-based inverted index — no cross product.

    For any threshold > 0 a qualifying pair must share at least one
    shingle, so the exploded shingle index self-joined on the shingle
    enumerates every candidate pair once per SHARED shingle, and the
    per-pair group count IS |A ∩ B| exactly (shingle arrays are
    distinct by construction). Union follows from the set sizes
    (|A| + |B| − |A ∩ B|), so the threshold decision and the reported
    Jaccard are computed from the same integers as the former
    cross-join formulation — bit-identical output, pair-generation
    cost Σ_g df(g)² over shingle document frequencies instead of n²
    array intersections. 3-word shingles are selective on natural
    text (max df 25 on the sf0.1 corpus), which keeps the posting
    join linear-ish; for high-τ joins over less selective token SETS
    use setjoin.py's prefix-filtered variant, which prunes postings
    by rarest-prefix before pairing.
    """
    if threshold <= 0.0:
        raise ValueError(
            "threshold must be > 0: the inverted index enumerates only "
            f"pairs sharing a shingle, got {threshold}"
        )

    # distinct postings + per-doc set size via the shared lead-window
    # shingle stream and ONE doc-keyed aggregate (an Aggregate output
    # column is a projection-collapse barrier: the former
    # word_shingles_from staging got inlined into each of its FOUR
    # references, re-splitting the document per shingle position —
    # measured 10.8 s vs 2.6 s at sf0.1 for identical output). The
    # persist covers both join sides below.
    sets = (
        _shingle_stream(docs, id_col, text_col, shingle_n)
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_set("__sh")).alias("sh"))
    )
    flat = scoped_persist(
        sets.select(
            "doc_id", F.size("sh").alias("__sz"), F.explode("sh").alias("__g")
        )
    )
    a = flat.select(
        "__g", F.col("doc_id").alias("id_a"), F.col("__sz").alias("__sz_a")
    )
    b = flat.select(
        "__g", F.col("doc_id").alias("id_b"), F.col("__sz").alias("__sz_b")
    )
    inter = F.col("__i").cast("double")
    union = F.greatest(
        F.col("__sz_a") + F.col("__sz_b") - F.col("__i"), F.lit(1)
    )
    # threshold compare on the INTEGER counts (same discipline as
    # jaccard_meets): the 6-dp-rounded ratio stays display-only
    return (
        a.join(b, "__g")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "__sz_a", "__sz_b")
        .agg(F.count(F.lit(1)).alias("__i"))
        .where(
            inter >= F.lit(threshold) * union.cast("double") - F.lit(1e-9)
        )
        .select("id_a", "id_b", F.round(inter / union, 6).alias("jaccard"))
    )


def simhash(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    hash_portable: bool = True,
) -> DataFrame:
    """Per-document SimHash code: majority vote of each hash bit over
    all tokens (duplicates count — frequency-weighted by construction).

    Shape: explode tokens once → one codegen'd hash column → one
    groupBy with ``bits`` conditional-sum aggregates (map-side partial
    agg; the shuffle carries only the per-doc partial sums) → pack the
    code from the sums. The HOF alternative — ``bits`` separate
    ``F.aggregate`` folds over a ``transform(words(text), hash)``
    array — re-evaluates tokenize+hash per fold after projection
    collapse and runs interpreted (same Catalyst trap as
    :func:`minhash_signatures`).
    """
    tok = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(words(text_col)).alias("__t"),
    )
    h = tok.select(
        "doc_id",
        (portable_hash64(F.col("__t")) if hash_portable
         else fast_hash64(F.col("__t"))).alias("__h"),
    )
    bit_sums = [
        F.sum(
            F.when(
                F.shiftright(F.col("__h"), b).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1)
        ).alias(f"__b{b}")
        for b in range(bits)
    ]
    agg = h.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_tokens"), *bit_sums
    )
    code = None
    for b in range(bits):
        contrib = (
            F.when(F.col(f"__b{b}") > 0, F.lit(2 ** b).cast("long"))
            .otherwise(F.lit(0).cast("long"))
        )
        code = contrib if code is None else code + contrib
    return agg.select("doc_id", "n_tokens", code.alias("simhash"))


def _pigeonhole_segments(bits: int, n_seg: int) -> list[tuple[int, int]]:
    """(offset, width) per segment, bits split as evenly as possible so
    every segment is non-empty (an empty segment would equi-join ALL
    codes and reintroduce the cartesian)."""
    base, extra = divmod(bits, n_seg)
    segs, off = [], 0
    for i in range(n_seg):
        w = base + (1 if i < extra else 0)
        segs.append((off, w))
        off += w
    return segs


def simhash_near_dups(
    sim: DataFrame, max_hamming: int = 8, bits: int = 32, banded: bool = True
) -> DataFrame:
    """Pairs of docs whose SimHash codes differ in ≤ max_hamming bits.

    ``banded=True`` (the scale path) uses pigeonhole banding: the code's
    ``bits`` are split into ``max_hamming + 1`` non-empty segments — two
    codes within Hamming ``max_hamming`` MUST agree on at least one whole
    segment (pigeonhole), so an equi-join on (segment_id, segment_value)
    has recall 1.0 and the ``bit_count`` verify keeps it exact. Plan:
    explode each code into m+1 segment rows (narrow, codegen bit-ops) →
    shuffle equi-join on the segment key → distinct → verify. No
    cartesian; candidate volume is bounded by per-bucket collisions, not
    n². ``banded=False`` keeps the O(n²) brute-force as the oracle twin
    (tests assert pair-set equality).

    The input codes feed both join sides — persisted here so the
    tokenize→agg producing them runs once, not once per side (Catalyst
    does not CSE across self-join branches).
    """
    if max_hamming + 1 > bits:
        # max_hamming >= bits makes EVERY pair a match (any two codes
        # differ in <= bits positions) — and divmod would yield
        # zero-width segments whose val is 0 for all codes, silently
        # degenerating the equi-join to the full cartesian.
        raise ValueError(
            f"max_hamming={max_hamming} >= bits={bits}: every pair matches; "
            "a near-dup threshold this loose is a cartesian by definition"
        )
    if not banded:
        a = sim.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("ha"))
        b = sim.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("hb"))
        return (
            a.join(b, F.col("id_a") < F.col("id_b"))
            .select(
                "id_a",
                "id_b",
                F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).alias("hamming"),
            )
            .where(F.col("hamming") <= max_hamming)
        )

    sim = scoped_persist(sim.select("doc_id", "simhash"))
    segs = _pigeonhole_segments(bits, max_hamming + 1)
    seg_structs = F.array(
        *[
            F.struct(
                F.lit(i).alias("seg"),
                F.shiftright(F.col("simhash"), off)
                .bitwiseAND(F.lit((1 << w) - 1))
                .alias("val"),
            )
            for i, (off, w) in enumerate(segs)
        ]
    )
    e = sim.select("doc_id", "simhash", F.explode(seg_structs).alias("s")).select(
        "doc_id", "simhash", F.col("s.seg").alias("seg"), F.col("s.val").alias("val")
    )
    a = e.select(
        F.col("doc_id").alias("id_a"), F.col("simhash").alias("ha"), "seg", "val"
    )
    b = e.select(
        F.col("doc_id").alias("id_b"), F.col("simhash").alias("hb"), "seg", "val"
    )
    cand = (
        a.join(b, ["seg", "val"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "ha", "hb")
        .distinct()
    )
    return cand.select(
        "id_a",
        "id_b",
        F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).alias("hamming"),
    ).where(F.col("hamming") <= max_hamming)


def embedding_near_dups(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tau: float = 0.3,
    strategy: str = "exact",
    k: int = 20,
) -> DataFrame:
    """Embedding-cosine near-duplicates: pairs with cosine ≥ τ.

    ``strategy="exact"`` is the O(n²) pairwise oracle baseline (gated
    against DuckDB). Any other strategy ("lsh", "ivf", "broadcast",
    "auto") routes through :func:`operators.knn.knn_join`'s cosine
    top-k — the 100 TB path: candidate generation is the index's
    bucketed/celled join, never all pairs. Approximation caveat (the
    standard ANN-dedup trade): a pair with cosine ≥ τ outside each
    other's top-``k`` is missed — raise ``k`` to trade cost for recall
    (tests measure recall vs the exact tier).
    """
    from semantic_ann_in_data_lake_spark.functions.vectors import cosine_sim

    if strategy == "exact":
        a = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).cast("array<double>").alias("va"))
        b = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).cast("array<double>").alias("vb"))

        def jvm_exact(pairs: DataFrame | None) -> DataFrame:
            """The declarative exact tier; when ``pairs`` is given, the
            same expressions run over that candidate set instead of the
            full cross product — per-pair values are IDENTICAL either
            way, since the scoring expression tree is shared."""
            if pairs is None:
                joined = a.join(b, F.col("id_a") < F.col("id_b"))
            else:
                joined = pairs.join(a, "id_a").join(b, "id_b")
            return joined.select(
                "id_a", "id_b", F.round(cosine_sim("va", "vb"), 6).alias("cosine")
            ).where(F.col("cosine") >= tau)

        # When the corpus matrix is admitted for broadcast, a BLAS pass
        # prefilters the n² pairs to a SUPERSET of the answer —
        # unrounded cosine ≥ τ − 1e-6, a margin covering both the 6-dp
        # rounding shift (≤ 5e-7) and BLAS-vs-sequential-fold summation
        # noise (~1e-12 at d≤4096) — and the JVM expressions above then
        # re-score only the survivors, so every emitted (pair, cosine)
        # is bit-identical to the full cross join. When the admission
        # gate declines, the declarative cross join is the reference.
        import numpy as np

        from semantic_ann_in_data_lake_spark.operators.knn import _spread
        from semantic_ann_in_data_lake_spark.operators.pairscore import (
            admit_matrices,
        )

        m = admit_matrices(emb, emb, id_col, vec_col)
        if m is None:
            return jvm_exact(None)
        ids, mat = m[0], m[1]
        norms = np.sqrt((mat * mat).sum(axis=1))
        spark = emb.sparkSession
        bc = spark.sparkContext.broadcast((ids, mat, norms))
        margin = 1e-6

        q = _spread(emb.select(F.col(id_col).alias("qid")))

        def prefilter(batches):
            import pandas as pd

            cids, cmat, cnorms = bc.value
            pos = {int(i): p for p, i in enumerate(cids)}
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                qidx = np.asarray(
                    [pos[i] for i in pdf["qid"] if i in pos], dtype=np.int64
                )
                if len(qidx) == 0:
                    continue
                qm, qn = cmat[qidx], cnorms[qidx]
                cos = (qm @ cmat.T) / (
                    qn[:, None] * cnorms[None, :] + 1e-12
                )
                keep = (cos >= tau - margin) & (
                    cids[qidx][:, None] < cids[None, :]
                )
                qi, cj = np.nonzero(keep)
                yield pd.DataFrame(
                    {
                        "id_a": cids[qidx][qi],
                        "id_b": cids[cj],
                    }
                )

        cand = q.mapInPandas(prefilter, schema="id_a long, id_b long")
        return jvm_exact(cand)

    from semantic_ann_in_data_lake_spark.operators.knn import knn_join

    vecs = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))
    knn = knn_join(vecs, vecs, k=k, metric="cosine", strategy=strategy)
    return (
        knn.where(F.col("distance") >= tau)
        .select(
            F.least("query_id", "cand_id").alias("id_a"),
            F.greatest("query_id", "cand_id").alias("id_b"),
            F.col("distance").alias("cosine"),
        )
        .distinct()
    )


def dedup_clusters(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Connected components over near-dup pairs → (doc_id, cluster_id)
    with ``cluster_id`` = the minimum doc_id reachable from doc_id
    (the canonical representative every dedup pipeline keeps).

    Iterative min-label propagation: each round every node takes the
    min of its own label and its neighbors' labels; labels only
    decrease, so the fixpoint is exact in ≤ graph-diameter rounds
    (near-dup clusters are shallow — typically 2-4). Each round is one
    shuffle join + one groupBy; intermediate labels are persisted and
    the loop stops on a monotone convergence check (sum of labels
    stops decreasing). The driver holds only the iteration counter —
    both the edge list and labels stay distributed, so the operator
    scales to billion-edge graphs (this is label propagation, the same
    scheme GraphX/GraphFrames connected components uses).

    ``pairs``: (id_a, id_b) undirected near-dup edges (e.g. from
    :func:`..dedup.minhash_near_dups`).
    """
    edges = scoped_persist(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
    )
    # Each round's labels are checkpointed (operators/iterate.py):
    # persisting alone keeps the BLOCKS but the logical plan still
    # nests every prior round — by round 20 the unrolled tree holds
    # >1,300 scan nodes (observed via scripts/plan_report.py), and the
    # driver pays optimizer time over it on every downstream use, with
    # a full recompute cascade if blocks evict. Checkpointing truncates
    # the lineage so the returned plan is one shallow read per round.
    # On preemptible clusters wrap the call in
    # iterate.reliable_checkpoints(dir) for parquet-backed round state
    # — default localCheckpoint blocks are executor-local and
    # non-replicated.
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("lbl"))
        .transform(iter_checkpoint)
    )
    total = labels.agg(F.sum("lbl")).collect()[0][0]
    converged = False
    for _ in range(max_iter):
        neigh = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("lbl").alias("nlbl"))
        )
        new_labels = (
            labels.join(neigh, labels.id == neigh.src, "left")
            .select(
                "id",
                F.least(F.col("lbl"), F.coalesce(F.col("nlbl"), F.col("lbl"))).alias(
                    "lbl"
                ),
            )
            .transform(iter_checkpoint)
        )
        new_total = new_labels.agg(F.sum("lbl")).collect()[0][0]
        labels = new_labels
        if new_total == total:
            converged = True
            break
        total = new_total
    edges.unpersist()
    if not converged:
        # propagation reaches fixpoint in ≤ diameter rounds; a graph
        # deeper than max_iter (e.g. a long gradual-drift chain) would
        # otherwise return labels that SILENTLY split one component
        # into several — downstream leakage-safe splits would then
        # place two near-dup docs on opposite sides of a train/test
        # boundary, the exact failure the operator exists to prevent
        import warnings

        warnings.warn(
            f"dedup_clusters: no fixpoint after max_iter={max_iter} "
            "rounds — component labels may be split; raise max_iter "
            "(rounds needed = graph diameter, typically 2-4 for "
            "near-dup clusters)",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.select(F.col("id").alias("doc_id"), F.col("lbl").alias("cluster_id"))


def lsh_cross_pairs(
    sigs_ref: DataFrame, sigs_new: DataFrame, bands: int, rows_per_band: int
) -> DataFrame:
    """Cross-corpus LSH candidates: (ref doc, new doc) pairs colliding
    in any band — the batch form of dedup-against-an-existing-corpus
    (ingest a new shard, drop what the lake already holds). Same banded
    bucket join as the self-join path, no id ordering constraint (the
    sides are distinct corpora); the streaming twin is
    ``incremental_neardup_foreach_batch``'s band-sink join."""
    a = band_keys(sigs_ref, bands, rows_per_band).withColumnRenamed(
        "doc_id", "id_a"
    )
    b = band_keys(sigs_new, bands, rows_per_band).withColumnRenamed(
        "doc_id", "id_b"
    )
    return (
        a.join(b, ["band", "band_key"])
        .select("id_a", "id_b")
        .distinct()
    )


def cross_corpus_near_dups(
    docs_ref: DataFrame,
    docs_new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_n: int = 3,
    bands: int = 8,
    rows_per_band: int = 2,
    threshold: float = 0.01,
    hash_portable: bool = True,
) -> DataFrame:
    """New-corpus docs near-duplicating reference-corpus docs:
    (id_a=ref, id_b=new, jaccard ≥ threshold), exact-verified like the
    self-join pipeline."""
    sigs_ref = scoped_persist(
        minhash_signatures(docs_ref, id_col, text_col, num_hashes, shingle_n,
                           hash_portable)
    )
    sigs_new = scoped_persist(
        minhash_signatures(docs_new, id_col, text_col, num_hashes, shingle_n,
                           hash_portable)
    )
    cands = lsh_cross_pairs(sigs_ref, sigs_new, bands, rows_per_band)
    sh_a = sigs_ref.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a"))
    sh_b = sigs_new.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b"))
    return (
        cands.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .where(jaccard_meets(F.col("sh_a"), F.col("sh_b"), threshold))
        .select(
            "id_a",
            "id_b",
            F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard"),
        )
    )
