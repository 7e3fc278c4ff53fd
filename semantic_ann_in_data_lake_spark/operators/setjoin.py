"""Exact set-similarity self-join with prefix filtering (AllPairs /
PPJoin family): all document pairs whose token-set Jaccard ≥ τ,
WITHOUT the all-pairs cross product.

Extension beyond the reference surface (its near-dup tooling is
embedding-side); complements the repo's MinHash-LSH tier: LSH is
approximate (recall < 1 by construction), this operator is EXACT —
prefix filtering only prunes pairs that provably cannot reach τ.

The classic result (Chaudhuri et al. SSJoin / Bayardo et al. AllPairs):
order each set's tokens by ascending global document frequency; if
|A ∩ B| ≥ ⌈τ/(1+τ)·(|A|+|B|)⌉ (required for Jaccard ≥ τ), then A and B
must share at least one token among each one's first
p = |S| − ⌈τ·|S|⌉ + 1 tokens. So the candidate set is the equi-join of
the PREFIX inverted index only — rare-first ordering makes those
postings lists short.

Scale design (100 TB):

- document frequency = one groupBy on token; prefix rank = one window
  partitioned BY DOCUMENT (well-distributed key, never global).
- candidate generation joins the prefix index with itself on token:
  shuffle keyed by token, posting lists bounded because prefixes hold
  each set's RAREST tokens.
- verification joins the bounded candidate pairs back to the full
  (sorted-array) token sets and computes exact overlap JVM-side
  (``array_intersect``) — cost linear in candidates, and candidates
  are a superset of the answer only by the filter's slack.
- Everything is DataFrame algebra; the oracle is the brute-force
  all-pairs twin, so the prefix filter's EXACTNESS is hash-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from semantic_ann_in_data_lake_spark.cache import scoped_persist
from semantic_ann_in_data_lake_spark.functions.text import words
from semantic_ann_in_data_lake_spark.operators.knn import _over_budget, _spread


def jaccard_prefix_join(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """All pairs (id_a < id_b) with token-set Jaccard ≥ threshold,
    via prefix-filtered candidate generation + exact verification.

    Returns ``(id_a, id_b, jaccard)`` with jaccard rounded to 6 dp.
    Empty token sets never pair (Jaccard undefined → excluded), and
    identical sets pair at 1.0.
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")

    toks = scoped_persist(
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.array_sort(F.array_distinct(words(text_col))).alias("toks"),
        )
        .withColumn("sz", F.size("toks"))
        .where(F.col("sz") > 0)
    )

    # The prefix filter is powerless exactly
    # when the vocabulary is far smaller than the corpus (every token
    # is hot, every posting list is ~n — the sf0.1 fixture is 31
    # tokens over 5000 docs, where the prefix path cost 159 s for an
    # answer that is 71% of all pairs, i.e. output-bound). In that
    # regime the token sets pack into a few 64-bit words, and the
    # EXACT intersection size is a vectorized popcount — the integers
    # (i, u) then feed the same JVM divide/round/threshold expressions
    # as the prefix path, so output is bit-identical (A/B-verified and
    # hash-gated). Selective-vocabulary corpora never enter this path.
    fast = _bitmask_exact_jaccard(toks, threshold)
    if fast is not None:
        return fast

    flat = toks.select("doc_id", "sz", F.explode("toks").alias("tok"))
    df_freq = flat.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))

    # rare-first order within each document; rank window partitions by
    # doc_id (never a global window)
    w_doc = Window.partitionBy("doc_id").orderBy(
        F.col("df").asc(), F.col("tok").asc()
    )
    # prefix length p = sz - ceil(tau*sz) + 1. The ceil runs on a
    # DOUBLE product: sz*tau can land one ulp ABOVE the exact integer
    # (25*0.28 = 7.000000000000001 → ceil 8, exact 7), which would
    # SHORTEN the prefix and silently drop qualifying pairs. The 1e-9
    # bias errs toward a LONGER prefix — more candidates, never fewer;
    # the exact verify below keeps the output identical.
    prefix = (
        flat.join(df_freq, "tok")
        .withColumn("r", F.row_number().over(w_doc))
        .where(
            F.col("r")
            <= F.col("sz")
            - F.ceil(F.col("sz") * F.lit(threshold) - F.lit(1e-9))
            + 1
        )
        .select("tok", "doc_id", "sz")
    )

    a = prefix.select(
        F.col("tok"), F.col("doc_id").alias("id_a"), F.col("sz").alias("sz_a")
    )
    b = prefix.select(
        F.col("tok"), F.col("doc_id").alias("id_b"), F.col("sz").alias("sz_b")
    )
    # size filter: Jaccard >= tau requires tau*|A| <= |B| <= |A|/tau.
    # Same float-boundary hazard as the prefix ceil (|A|=7, |B|=25,
    # tau=0.28: 25*0.28 > 7 in doubles though exactly equal) — relax by
    # 1e-9 so borderline pairs stay candidates; exact verify decides.
    cands = (
        a.join(b, "tok")
        .where(F.col("id_a") < F.col("id_b"))
        .where(F.col("sz_b") * F.lit(threshold) - F.lit(1e-9) <= F.col("sz_a"))
        .where(F.col("sz_a") * F.lit(threshold) - F.lit(1e-9) <= F.col("sz_b"))
        .select("id_a", "id_b")
        .distinct()
    )

    ta = toks.select(F.col("doc_id").alias("id_a"), F.col("toks").alias("toks_a"))
    tb = toks.select(F.col("doc_id").alias("id_b"), F.col("toks").alias("toks_b"))
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    union = F.size("toks_a") + F.size("toks_b") - inter
    # threshold compare on the INTEGER counts (inter >= tau·union −
    # 1e-9): comparing the 6-dp-ROUNDED ratio would drop a pair whose
    # true Jaccard exactly equals a non-representable tau (1/3) and
    # admit one a hair below a representable tau (0.4999995 -> 0.5);
    # the 1e-9 bias (the same discipline as the prefix/size filters)
    # forgives the OTHER direction — double(0.28) sits a hair ABOVE
    # the real 7/25, and the unbiased product would exclude an
    # exactly-qualifying pair. The rounded column is display only.
    return (
        cands.join(ta, "id_a")
        .join(tb, "id_b")
        .withColumn("__inter", inter)
        .withColumn("__union", union)
        .where(
            F.col("__inter").cast("double")
            >= F.lit(threshold) * F.col("__union").cast("double") - F.lit(1e-9)
        )
        .withColumn("jaccard", F.round(F.col("__inter") / F.col("__union"), 6))
        .select("id_a", "id_b", "jaccard")
    )


#: vocabulary ceiling for the bitmask tier: above this the mask width
#: (⌈V/64⌉ words) makes per-pair popcounts no cheaper than prefix
#: postings, and a large vocabulary is precisely where prefix filtering
#: works.
_BITMASK_VOCAB_CAP = 2048


def _bitmask_exact_jaccard(toks: DataFrame, threshold: float):
    """Small-vocabulary exact tier of :func:`jaccard_prefix_join`:
    token sets as packed bitmasks, pairwise |A ∩ B| by vectorized
    popcount, the SAME JVM expressions producing the output values.

    Returns None (caller falls through to the prefix path) unless the
    vocabulary fits ``_BITMASK_VOCAB_CAP``, the mask matrix fits the
    broadcast byte budget, and the n²·words pair work fits the pair
    budget (``knn._over_budget``, the check the kNN broadcast tiers
    use)."""
    import numpy as np

    # bounded probe: at most cap+1 distinct tokens decide "vocabulary
    # exceeds the cap" without collecting a large corpus's vocabulary
    # on the driver; within the cap it IS the full vocabulary
    vocab_rows = (
        toks.select(F.explode("toks").alias("tok"))
        .distinct()
        .limit(_BITMASK_VOCAB_CAP + 1)
        .collect()
    )
    v = len(vocab_rows)
    if v == 0 or v > _BITMASK_VOCAB_CAP:
        return None
    n = toks.count()
    w = (v + 63) // 64
    if _over_budget(n, w * 8 + 16, n * n * w) is not None:
        return None
    bit = {r["tok"]: i for i, r in enumerate(sorted(vocab_rows))}
    spark = toks.sparkSession
    bc_bit = spark.sparkContext.broadcast(bit)

    def to_masks(batches):
        import pandas as pd

        lut = bc_bit.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            masks = np.zeros((len(pdf), w), dtype=np.uint64)
            for r, ts in enumerate(pdf["toks"]):
                for t in ts:
                    b = lut[t]
                    masks[r, b >> 6] |= np.uint64(1) << np.uint64(b & 63)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "sz": pdf["sz"],
                    # int64 view: Arrow has no uint64-from-pandas fast
                    # path; the bit pattern is what matters
                    "words": list(masks.view(np.int64)),
                }
            )

    packed = (
        toks.mapInPandas(
            to_masks, schema="doc_id long, sz int, words array<long>"
        )
        .toPandas()
    )
    ids = packed["doc_id"].to_numpy(dtype=np.int64)
    sizes = packed["sz"].to_numpy(dtype=np.int64)
    masks = np.asarray(list(packed["words"]), dtype=np.int64).view(np.uint64)
    masks = masks.reshape(len(ids), w)
    order = np.argsort(ids)
    ids, sizes, masks = ids[order], sizes[order], masks[order]
    bc = spark.sparkContext.broadcast((ids, sizes, masks))
    # byte-wise popcount table (numpy < 2 has no bitwise_count);
    # uint8 so the gathered table stays 1 byte/lookup
    popcnt8 = np.array(
        [bin(x).count("1") for x in range(256)], dtype=np.uint8
    )

    q = _spread(toks.select(F.col("doc_id").alias("qid")))

    def pair_counts(batches):
        import pandas as pd

        cids, csz, cmasks = bc.value
        pos = {int(i): p for p, i in enumerate(cids)}
        # block rows so the popcount scratch (B·n·w·8 uint8 lookups)
        # stays ~32 MB per task instead of scaling with the pair
        # budget: at n near the 1e10-pair budget a fixed
        # blk=256 would materialize a multi-GB int64 scratch
        blk = max(1, int((32 << 20) // max(len(cids) * w * 8, 1)))
        for pdf in batches:
            if len(pdf) == 0:
                continue
            qidx = np.asarray(
                sorted(pos[i] for i in pdf["qid"] if i in pos),
                dtype=np.int64,
            )
            for lo in range(0, len(qidx), blk):
                sel = qidx[lo : lo + blk]
                inter_and = (
                    cmasks[sel][:, None, :] & cmasks[None, :, :]
                )  # (B, n, w) uint64
                # uint8 table keeps the gathered popcounts 1 byte per
                # lookup (8x less scratch than an int64 gather); the
                # per-word sums are ≤ 64·w so the int64-accumulated
                # sum is exact regardless
                i_cnt = popcnt8[
                    inter_and.view(np.uint8)
                ].reshape(len(sel), len(cids), w * 8).sum(
                    axis=2, dtype=np.int64
                )
                u_cnt = csz[sel][:, None] + csz[None, :] - i_cnt
                # the EXACT final predicate — same doubles the JVM
                # filter evaluates (small ints are exact in float64)
                keep = (
                    (cids[sel][:, None] < cids[None, :])
                    & (
                        i_cnt.astype(np.float64)
                        >= threshold * u_cnt.astype(np.float64) - 1e-9
                    )
                )
                qi, cj = np.nonzero(keep)
                yield pd.DataFrame(
                    {
                        "id_a": cids[sel][qi],
                        "id_b": cids[cj],
                        "__inter": i_cnt[qi, cj],
                        "__union": u_cnt[qi, cj],
                    }
                )

    counted = q.mapInPandas(
        pair_counts,
        schema="id_a long, id_b long, __inter long, __union long",
    )
    # value-producing arithmetic stays in the JVM: identical divide +
    # 6-dp round over identical integers ⇒ identical doubles
    return counted.select(
        "id_a",
        "id_b",
        F.round(F.col("__inter") / F.col("__union"), 6).alias("jaccard"),
    )


def containment_prefix_join(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    shingle_n: int = 3,
) -> DataFrame:
    """Exact DIRECTIONAL containment join (Broder 1997, *On the
    resemblance and containment of documents*): all ordered pairs
    (a, b), a ≠ b, with C(A→B) = |S(A) ∩ S(B)| / |S(A)| ≥ τ over
    word-``shingle_n``-gram sets — "document a is (near-)verbatim
    contained in document b", the quote/subset complement of the
    symmetric Jaccard join above.

    Returns ``(id_contained, id_container, containment)`` (6 dp).
    Empty shingle sets never pair.

    Shape: count-based inverted index. C ≥ τ
    with τ > 0 requires sharing ≥ 1 shingle, so the shingle postings
    self-joined on the shingle enumerate every candidate ordered pair
    once per SHARED shingle and the per-pair group count IS |A ∩ B|
    exactly (shingle sets are distinct by construction) — the former
    rare-prefix candidate stage already probed the container side's
    FULL posting lists, so counting on the full join is at most ~1/τ×
    more posting pairs while deleting the candidate `distinct`, the
    two verification joins, and the per-pair ``array_intersect``
    (measured 12.6 s → 2.6 s at sf0.1, identical rows). The integer
    (i, |A|) columns feed the same threshold/round expressions as the
    former verify step — bit-identical output. Posting-list fan-out is
    bounded by shingle selectivity exactly as before (Σ df(g)² here vs
    Σ prefix_df(g)·df(g) before; both explode together on degenerate
    vocabularies, where the bitmask tier of :func:`jaccard_prefix_join`
    is the precedent for a dedicated path if one is ever needed).
    """
    from semantic_ann_in_data_lake_spark.operators.dedup import (
        _shingle_stream,
    )

    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    # distinct postings + per-doc set size via the shared lead-window
    # shingle stream (one Aggregate = projection-collapse barrier; see
    # dedup._shingle_stream)
    sets = (
        _shingle_stream(docs, id_col, text_col, shingle_n)
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_set("__sh")).alias("sh"))
    )
    flat = scoped_persist(
        sets.select(
            "doc_id", F.size("sh").alias("sz"), F.explode("sh").alias("g")
        )
    )
    a = flat.select(
        "g", F.col("doc_id").alias("id_a"), F.col("sz").alias("sz_a")
    )
    b = flat.select("g", F.col("doc_id").alias("id_b"))
    return (
        a.join(b, "g")
        .where(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b", "sz_a")
        .agg(F.count(F.lit(1)).alias("__inter"))
        .where(
            F.col("__inter").cast("double")
            >= F.lit(threshold) * F.col("sz_a").cast("double") - F.lit(1e-9)
        )
        .select(
            F.col("id_a").alias("id_contained"),
            F.col("id_b").alias("id_container"),
            F.round(
                F.col("__inter").cast("double") / F.col("sz_a"), 6
            ).alias("containment"),
        )
    )
