"""Deduplication + decontamination suite (MinHash/SimHash/LSH).

Split from the single-file registry (round 4); the hub
`plans.registry` imports this module for its registration side
effects and re-exports every query function.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from semantic_ann_in_data_lake_spark.cache import scoped_persist
from semantic_ann_in_data_lake_spark.plans.registry import register, _t

from semantic_ann_in_data_lake_spark.functions.hashing import portable_hash_expr
from semantic_ann_in_data_lake_spark.functions.text import (
    word_shingles_from_sql,
    word_shingles_sql,
)
from semantic_ann_in_data_lake_spark.operators import dedup
from semantic_ann_in_data_lake_spark.plans.qshared import _SH_CTE, _TOKS, _W_CTE


@register(
    "dedup_exact",
    """
    SELECT md5(coalesce(text, '')) AS text_hash,
           min(doc_id) AS canonical_id,
           count(*) AS n_copies
    FROM documents GROUP BY 1
    """,
)
def dedup_exact(spark, sf_dir):
    return dedup.exact_duplicates(_t(spark, sf_dir, "documents"))


def _minhash_sig_sql(n_hashes: int = 16) -> str:
    sig = ", ".join(
        f"list_min(list_transform(sh, s -> {portable_hash_expr('s', seed=f'{i}:')}))"
        for i in range(n_hashes)
    )
    return f"""
    WITH {_W_CTE}, {_SH_CTE}
    SELECT doc_id,
           array_to_string(sh, '|') AS shingles,
           array_to_string(list_transform([{sig}], x -> x::VARCHAR), '|')
               AS minhash
    FROM s WHERE len(sh) > 0
    """


@register("minhash_signatures", _minhash_sig_sql(16))
def minhash_signatures(spark, sf_dir):
    # Arrays serialized for the driver's row-hash canonicalizer; the
    # operator (dedup.minhash_signatures) keeps the typed arrays.
    sigs = dedup.minhash_signatures(_t(spark, sf_dir, "documents"))
    return sigs.select(
        "doc_id",
        F.array_join("shingles", "|").alias("shingles"),
        F.array_join(F.transform("minhash", lambda x: x.cast("string")), "|")
        .alias("minhash"),
    )


def _minhash_lsh_sql(bands: int = 8, r: int = 2, threshold: float = 0.01) -> str:
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        f"minhash[{b * r + 1}]::VARCHAR || '|' || minhash[{b * r + 2}]::VARCHAR AS band_key, sh "
        f"FROM sigs"
        for b in range(bands)
    )
    return f"""
    WITH {_W_CTE}, {_SH_CTE},
    sigs AS (
      SELECT doc_id, sh,
             {_minhash_sig_inner(16)} AS minhash
      FROM s WHERE len(sh) > 0
    ),
    banded AS ({band_selects}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    verified AS (
      SELECT c.id_a, c.id_b,
             len(list_intersect(sa.sh, sb.sh))::BIGINT AS i,
             greatest(len(sa.sh) + len(sb.sh)
                      - len(list_intersect(sa.sh, sb.sh)), 1)::BIGINT AS u
      FROM cand c
      JOIN sigs sa ON sa.doc_id = c.id_a
      JOIN sigs sb ON sb.doc_id = c.id_b
    )
    SELECT id_a, id_b, round(i::DOUBLE / u, 6) AS jaccard
    FROM verified WHERE i::DOUBLE >= {threshold} * u::DOUBLE - 1e-9
    """


def _minhash_sig_inner(n_hashes: int) -> str:
    sig = ", ".join(
        f"list_min(list_transform(sh, s -> {portable_hash_expr('s', seed=f'{i}:')}))"
        for i in range(n_hashes)
    )
    return f"[{sig}]"


@register("minhash_lsh_pairs", _minhash_lsh_sql(8, 2, 0.01))
def minhash_lsh_pairs(spark, sf_dir):
    return dedup.minhash_near_dups(
        _t(spark, sf_dir, "documents"),
        num_hashes=16, bands=8, rows_per_band=2, threshold=0.01,
    )


@register(
    "ngram_jaccard_pairs",
    f"""
    WITH {_W_CTE}, {_SH_CTE},
    nz AS (SELECT * FROM s WHERE len(sh) > 0),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             len(list_intersect(a.sh, b.sh))::BIGINT AS i,
             greatest(len(a.sh) + len(b.sh)
                      - len(list_intersect(a.sh, b.sh)), 1)::BIGINT AS u
      FROM nz a JOIN nz b ON a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, round(i::DOUBLE / u, 6) AS jaccard
    FROM pairs WHERE i::DOUBLE >= 0.02 * u::DOUBLE - 1e-9
    """,
)
def ngram_jaccard_pairs(spark, sf_dir):
    return dedup.ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), threshold=0.02)


def _simhash_sql(bits: int = 32) -> str:
    code_terms = " + ".join(
        f"(CASE WHEN list_sum(list_transform(hs, "
        f"h -> CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END)) > 0 "
        f"THEN {2 ** b}::BIGINT ELSE 0::BIGINT END)"
        for b in range(bits)
    )
    return f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    h AS (
      SELECT doc_id, len(toks) AS n_tokens,
             list_transform(toks, tk -> {portable_hash_expr('tk')}) AS hs
      FROM t WHERE len(toks) > 0
    )
    SELECT doc_id, n_tokens, {code_terms} AS simhash FROM h
    """


@register("simhash_codes", _simhash_sql(32))
def simhash_codes(spark, sf_dir):
    return dedup.simhash(_t(spark, sf_dir, "documents"), bits=32)


@register(
    "simhash_near_dup_pairs",
    f"""
    WITH codes AS ({_simhash_sql(32).strip()})
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.simhash, b.simhash))::INT AS hamming
    FROM codes a JOIN codes b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
    """,
)
def simhash_near_dup_pairs(spark, sf_dir):
    """SimHash near-duplicates: Hamming ≤ 2 on 32-bit codes (shared-
    vocab corpus: median pairwise Hamming is 10, ≤2 isolates the
    truly-similar tail)."""
    sim = dedup.simhash(_t(spark, sf_dir, "documents"), bits=32)
    pairs = dedup.simhash_near_dups(sim, max_hamming=2)
    return pairs.select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


@register(
    "dedup_cluster_assign",
    f"""
    WITH RECURSIVE pairs AS (SELECT id_a, id_b FROM ({_minhash_lsh_sql(8, 2, 0.01)}) t),
    edges AS (SELECT id_a AS s, id_b AS d FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    nodes AS (SELECT DISTINCT s AS id FROM edges),
    reach(id, lbl) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT e.s, r.lbl FROM edges e JOIN reach r ON r.id = e.d
    )
    SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id
    """,
)
def dedup_cluster_assign(spark, sf_dir):
    """Connected components over MinHash-LSH near-dup pairs →
    (doc_id, cluster_id = min reachable doc_id): the canonical-doc
    assignment a dedup pipeline keeps. Spark side is distributed
    min-label propagation; the oracle is a DuckDB recursive CTE over
    the SAME pair set — full value-hash gate on an iterative graph
    algorithm."""
    pairs = dedup.minhash_near_dups(
        _t(spark, sf_dir, "documents"),
        num_hashes=16, bands=8, rows_per_band=2, threshold=0.01,
    )
    return dedup.dedup_clusters(pairs)


@register(
    "dedup_keep_canonical",
    f"""
    WITH RECURSIVE pairs AS (SELECT id_a, id_b FROM ({_minhash_lsh_sql(8, 2, 0.01)}) t),
    edges AS (SELECT id_a AS s, id_b AS d FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    nodes AS (SELECT DISTINCT s AS id FROM edges),
    reach(id, lbl) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT e.s, r.lbl FROM edges e JOIN reach r ON r.id = e.d
    ),
    assign AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id)
    SELECT doc_id FROM documents
    WHERE doc_id NOT IN (SELECT id FROM assign WHERE id <> cluster_id)
    """,
)
def dedup_keep_canonical(spark, sf_dir):
    """The end-to-end corpus-dedup deliverable: MinHash-LSH near-dup
    pairs → connected components → drop every non-canonical cluster
    member → the kept doc_id set (singletons pass through untouched via
    a LEFT ANTI join against the dropped set). This is the composition
    a pretraining ingest actually ships; every stage is the gated
    operator it reuses."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_near_dups(
        docs, num_hashes=16, bands=8, rows_per_band=2, threshold=0.01
    )
    clusters = dedup.dedup_clusters(pairs)
    dropped = clusters.where(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    return docs.select("doc_id").join(dropped, "doc_id", "left_anti")



@register(
    "decontaminate_docs",
    f"""
    WITH w AS (SELECT doc_id, {_TOKS} AS w FROM documents),
    g AS (SELECT doc_id, unnest({word_shingles_from_sql('w', 4)}) AS gram
          FROM w),
    bench AS (SELECT doc_id FROM documents WHERE doc_id % 37 = 0),
    bg AS (SELECT DISTINCT gram FROM g JOIN bench USING (doc_id))
    SELECT g.doc_id, count(DISTINCT g.gram)::BIGINT AS n_overlap
    FROM g JOIN bg USING (gram)
    WHERE g.doc_id NOT IN (SELECT doc_id FROM bench)
    GROUP BY g.doc_id
    """,
)
def decontaminate_docs(spark, sf_dir):
    """Benchmark decontamination: corpus docs leaking word 4-grams from
    a (deterministic) benchmark subset — (doc_id, n_overlap). The
    benchmark gram set broadcasts; the corpus side streams through one
    explode + count-distinct. On this synthetic corpus the hits are
    exactly the planted near-duplicates plus a handful of chance
    4-gram collisions — the discrimination a real decontam pass needs."""
    from semantic_ann_in_data_lake_spark.operators.decontam import (
        contaminated_docs,
    )

    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 37 == 0)
    return contaminated_docs(docs, bench, n=4, min_overlap=1)


def _minhash_lsh_cross_sql(bands: int = 8, r: int = 2, threshold: float = 0.01) -> str:
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        f"minhash[{b * r + 1}]::VARCHAR || '|' || minhash[{b * r + 2}]::VARCHAR AS band_key, sh "
        f"FROM sigs"
        for b in range(bands)
    )
    return f"""
    WITH {_W_CTE}, {_SH_CTE},
    sigs AS (
      SELECT doc_id, sh,
             {_minhash_sig_inner(16)} AS minhash
      FROM s WHERE len(sh) > 0
    ),
    banded AS ({band_selects}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.band_key = b.band_key
      WHERE a.doc_id % 3 = 0 AND b.doc_id % 3 <> 0
    ),
    verified AS (
      SELECT c.id_a, c.id_b,
             len(list_intersect(sa.sh, sb.sh))::BIGINT AS i,
             greatest(len(sa.sh) + len(sb.sh)
                      - len(list_intersect(sa.sh, sb.sh)), 1)::BIGINT AS u
      FROM cand c
      JOIN sigs sa ON sa.doc_id = c.id_a
      JOIN sigs sb ON sb.doc_id = c.id_b
    )
    SELECT id_a, id_b, round(i::DOUBLE / u, 6) AS jaccard
    FROM verified WHERE i::DOUBLE >= {threshold} * u::DOUBLE - 1e-9
    """


@register("cross_corpus_near_dups", _minhash_lsh_cross_sql(8, 2, 0.01))
def cross_corpus_near_dups_q(spark, sf_dir):
    """Dedup-against-the-lake: new-shard docs (doc_id % 3 != 0)
    near-duplicating reference docs (doc_id % 3 == 0) via the
    cross-corpus banded join (operators/dedup.py::cross_corpus_near_dups)
    — the ingest-time batch twin of the streaming band-sink dedup. Same
    MinHash/verification algebra as the self-join gate, no id-ordering
    constraint."""
    from semantic_ann_in_data_lake_spark.operators.dedup import (
        cross_corpus_near_dups,
    )

    docs = _t(spark, sf_dir, "documents")
    ref = docs.where(F.col("doc_id") % 3 == 0)
    new = docs.where(F.col("doc_id") % 3 != 0)
    return cross_corpus_near_dups(ref, new)


@register(
    "lsh_recall_report",
    f"""
    WITH {_W_CTE}, {_SH_CTE},
    sigs AS (
      SELECT doc_id, sh, {_minhash_sig_inner(16)} AS minhash
      FROM s WHERE len(sh) > 0
    ),
    exact AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
      WHERE round(len(list_intersect(a.sh, b.sh))::DOUBLE
                  / greatest(len(a.sh) + len(b.sh)
                             - len(list_intersect(a.sh, b.sh)), 1), 6) >= 0.02
    ),
    banded AS ({" UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        f"minhash[{b * 2 + 1}]::VARCHAR || '|' || minhash[{b * 2 + 2}]::VARCHAR"
        f" AS band_key FROM sigs" for b in range(8))}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    hit AS (SELECT * FROM exact INTERSECT SELECT * FROM cand)
    SELECT (SELECT count(*) FROM exact)::BIGINT AS n_exact,
           (SELECT count(*) FROM cand)::BIGINT AS n_candidates,
           (SELECT count(*) FROM hit)::BIGINT AS n_found,
           (1000 * (SELECT count(*) FROM hit)
              // greatest((SELECT count(*) FROM exact), 1))::BIGINT
             AS recall_x1000
    """,
)
def lsh_recall_report(spark, sf_dir):
    """Official measurement of the LSH approximation: exact ≥0.02
    Jaccard pairs vs banded candidates, their intersection, and recall
    in integer permille — every number SQL-expressible (the oracle
    replicates banding), so the approximation ERROR itself is
    hash-gated, not just asserted by tests. The exact side is the
    bounded O(n²) baseline — this is a gate/audit query, not a
    production path."""
    from semantic_ann_in_data_lake_spark.operators import dedup as D

    docs = _t(spark, sf_dir, "documents")
    sigs = scoped_persist(D.minhash_signatures(docs))
    exact = scoped_persist(
        D.ngram_jaccard_pairs(docs, threshold=0.02).select("id_a", "id_b")
    )
    cand = scoped_persist(D.lsh_candidate_pairs(sigs, bands=8, rows_per_band=2))
    hit = exact.join(cand, ["id_a", "id_b"])
    # one lazy plan: three 1-row aggregates cross-joined (semi_anti_parts
    # pattern) — the driver runs a single action, no operator-side collect
    na = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    nc = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    nf = hit.agg(F.count(F.lit(1)).alias("n_found"))
    return (
        na.crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(nf))
        .select(
            "n_exact",
            "n_candidates",
            "n_found",
            F.floor(
                (F.lit(1000) * F.col("n_found"))
                / F.greatest(F.col("n_exact"), F.lit(1))
            ).cast("long").alias("recall_x1000"),
        )
    )


@register(
    "jaccard_prefix_join",
    f"""
    WITH t AS (
      SELECT doc_id, list_sort(list_distinct({_TOKS})) AS toks FROM documents
    ),
    nz AS (SELECT * FROM t WHERE len(toks) > 0),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             len(list_intersect(a.toks, b.toks))::BIGINT AS i,
             (len(a.toks) + len(b.toks)
              - len(list_intersect(a.toks, b.toks)))::BIGINT AS u
      FROM nz a JOIN nz b ON a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, round(i::DOUBLE / u, 6) AS jaccard
    FROM pairs WHERE i::DOUBLE >= 0.5 * u::DOUBLE - 1e-9
    """,
)
def jaccard_prefix_join(spark, sf_dir):
    """EXACT token-set similarity self-join at τ=0.5 via AllPairs/
    PPJoin prefix filtering (operators/setjoin.py) — the oracle is the
    brute-force all-pairs twin, so the gate hash-checks that prefix
    pruning loses nothing. The Spark plan never forms the cross
    product: candidates come from the rare-token prefix inverted
    index only."""
    from semantic_ann_in_data_lake_spark.operators.setjoin import (
        jaccard_prefix_join as _jpj,
    )

    return _jpj(_t(spark, sf_dir, "documents"), threshold=0.5)


_ED_HASH = portable_hash_expr("p_name", seed="ed:")


@register(
    "fuzzy_join_part_names",
    f"""
    WITH base AS (
      SELECT p_partkey, p_name FROM part WHERE p_partkey < 500
    ),
    noisy AS (
      SELECT p_partkey + 1000000 AS cid,
             substring(p_name, 1, pos - 1) || substring(p_name, pos + 1) AS cname
      FROM (
        SELECT p_partkey, p_name,
               ((({_ED_HASH}) % length(p_name) + length(p_name))
                % length(p_name) + 1)::INT AS pos
        FROM base
      )
    )
    SELECT b.p_partkey AS id_l, n.cid AS id_r,
           levenshtein(b.p_name, n.cname)::INT AS dist
    FROM base b JOIN noisy n
      ON levenshtein(b.p_name, n.cname) <= 2
    """,
)
def fuzzy_join_part_names(spark, sf_dir):
    """EXACT edit-distance join at d≤2 (operators/editjoin.py,
    PassJoin segment blocking): part names against deterministically
    char-dropped variants — the entity-resolution shape for noisy
    ingest. The oracle is the brute-force levenshtein cross join, so
    the gate hash-checks that pigeonhole blocking loses nothing."""
    from semantic_ann_in_data_lake_spark.functions.hashing import (
        portable_hash64,
    )
    from semantic_ann_in_data_lake_spark.operators.editjoin import (
        edit_distance_join,
    )

    base = (
        _t(spark, sf_dir, "part")
        .where(F.col("p_partkey") < 500)
        .select("p_partkey", "p_name")
    )
    pos = (
        F.pmod(portable_hash64(F.col("p_name"), seed="ed:"), F.length("p_name"))
        + 1
    ).cast("int")
    noisy = base.withColumn("__pos", pos).select(
        (F.col("p_partkey") + 1_000_000).alias("cid"),
        F.expr(
            "substring(p_name, 1, __pos - 1) || substring(p_name, __pos + 1)"
        ).alias("cname"),
    )
    out = edit_distance_join(
        base, noisy, "p_partkey", "p_name", "cid", "cname", max_dist=2
    )
    return out.select("id_l", "id_r", F.col("dist").cast("int").alias("dist"))


@register(
    "dedup_then_jaccard_join",
    f"""
    WITH reps AS (
      SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text
    ),
    t AS (
      SELECT doc_id, list_sort(list_distinct({_TOKS})) AS toks FROM reps
    ),
    nz AS (SELECT * FROM t WHERE len(toks) > 0),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             len(list_intersect(a.toks, b.toks))::BIGINT AS i,
             (len(a.toks) + len(b.toks)
              - len(list_intersect(a.toks, b.toks)))::BIGINT AS u
      FROM nz a JOIN nz b ON a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, round(i::DOUBLE / u, 6) AS jaccard
    FROM pairs WHERE i::DOUBLE >= 0.9 * u::DOUBLE - 1e-9
    """,
)
def dedup_then_jaccard_join(spark, sf_dir):
    """The PRODUCTION posture for exact similarity self-joins on
    duplicate-heavy corpora (see PERF.md): collapse exact-duplicate
    texts to min-id representatives FIRST, then prefix-join the
    representatives at high τ — the all-pairs-within-a-duplicate-group
    quadratic never materializes. Composition of dedup_exact's groupBy
    and jaccard_prefix_join, hash-gated end to end."""
    from semantic_ann_in_data_lake_spark.operators.setjoin import (
        jaccard_prefix_join,
    )

    d = _t(spark, sf_dir, "documents")
    reps = d.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    return jaccard_prefix_join(reps.select("doc_id", "text"), threshold=0.9)


@register(
    "dedup_keep_longest",
    f"""
    WITH RECURSIVE pairs AS (SELECT id_a, id_b FROM ({_minhash_lsh_sql(8, 2, 0.01)}) t),
    edges AS (SELECT id_a AS s, id_b AS d FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    nodes AS (SELECT DISTINCT s AS id FROM edges),
    reach(id, lbl) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT e.s, r.lbl FROM edges e JOIN reach r ON r.id = e.d
    ),
    assign AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
    ranked AS (
      SELECT a.id, a.cluster_id,
             row_number() OVER (
               PARTITION BY a.cluster_id
               ORDER BY d.n_chars DESC, a.id ASC) AS rn
      FROM assign a JOIN documents d ON d.doc_id = a.id
    )
    SELECT doc_id FROM documents
    WHERE doc_id NOT IN (SELECT id FROM ranked WHERE rn > 1)
    """,
)
def dedup_keep_longest(spark, sf_dir):
    """Quality-aware dedup canonicalization: within each near-dup
    cluster keep the LONGEST member (ties → lowest id) instead of the
    lowest id — the policy real ingest pipelines prefer, since
    duplicates often differ by truncation. Same LSH pairs + connected
    components as `dedup_keep_canonical`; the winner pick is one
    ranking window partitioned by cluster_id (clusters are small by
    construction), singletons pass through via LEFT ANTI."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_near_dups(
        docs, num_hashes=16, bands=8, rows_per_band=2, threshold=0.01
    )
    clusters = dedup.dedup_clusters(pairs)
    from pyspark.sql.window import Window as _Win

    ranked = clusters.join(
        docs.select(F.col("doc_id"), "n_chars"), "doc_id"
    ).withColumn(
        "rn",
        F.row_number().over(
            _Win.partitionBy("cluster_id").orderBy(
                F.col("n_chars").desc(), F.col("doc_id").asc()
            )
        ),
    )
    dropped = ranked.where(F.col("rn") > 1).select("doc_id")
    return docs.select("doc_id").join(dropped, "doc_id", "left_anti")


@register(
    "leakage_safe_split_docs",
    f"""
    WITH RECURSIVE pairs AS (SELECT id_a, id_b FROM ({_minhash_lsh_sql(8, 2, 0.01)}) t),
    edges AS (SELECT id_a AS s, id_b AS d FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    nodes AS (SELECT DISTINCT s AS id FROM edges),
    reach(id, lbl) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT e.s, r.lbl FROM edges e JOIN reach r ON r.id = e.d
    ),
    assign AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
    eff AS (
      SELECT d.doc_id, coalesce(a.cluster_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN assign a ON d.doc_id = a.id),
    b AS (
      SELECT doc_id, cluster_id,
             {portable_hash_expr('cluster_id::VARCHAR', seed='split:')} % 10
               AS bucket
      FROM eff)
    SELECT doc_id, cluster_id,
           CASE WHEN bucket < 8 THEN 'train'
                WHEN bucket < 9 THEN 'valid'
                ELSE 'test' END AS split
    FROM b
    """,
)
def leakage_safe_split_docs(spark, sf_dir):
    """Leakage-safe corpus split (operators/pairs.py::
    leakage_safe_split): 80/10/10 by hashed NEAR-DUP CLUSTER, so two
    copies of the same boilerplate can never straddle train and test
    (Lee et al. 2022's eval-contamination failure). Clusters from the
    gated MinHash-LSH connected components; singletons split by their
    own id. Deterministic, seed-redealable; oracle replays the full
    cluster + hash pipeline."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    pairs = dedup.minhash_near_dups(
        _t(spark, sf_dir, "documents"),
        num_hashes=16, bands=8, rows_per_band=2, threshold=0.01,
    )
    clusters = dedup.dedup_clusters(pairs)
    from semantic_ann_in_data_lake_spark.operators.pairs import (
        leakage_safe_split,
    )

    return leakage_safe_split(docs, clusters)


_SEMDEDUP_CHECK_EMPTY_SQL = """
    SELECT 0::BIGINT AS vec_id, 0::BIGINT AS other_id,
           0.0 AS reported, 0.0 AS expected, '' AS violation
    WHERE FALSE
"""


@register("semdedup_check", _SEMDEDUP_CHECK_EMPTY_SQL)
def semdedup_check(spark, sf_dir):
    """Contract gate for cluster-scoped semantic dedup
    (operators/semdedup.py, Abbas et al. 2023): empty iff the keep
    set is a valid SemDeDup solution — full coverage, no kept pair
    above τ inside a sweep group, and every dropped vector names a
    kept witness in its cluster whose recomputed cosine clears τ.
    Exercises the full operator (seeded k-means fit, cosine argmax
    assignment, greedy ascending-centroid-cos sweep) end-to-end."""
    from semantic_ann_in_data_lake_spark.cache import scoped_persist
    from semantic_ann_in_data_lake_spark.operators import checks
    from semantic_ann_in_data_lake_spark.operators.semdedup import semdedup

    emb = _t(spark, sf_dir, "embeddings")
    # the checker fans the result into six invariant branches —
    # persist so the k-means fit + sweep lineage runs once, not 6×
    return checks.semdedup_invariant_violations(
        scoped_persist(semdedup(emb, tau=0.9)), emb, tau=0.9
    )


@register(
    "containment_pairs_docs",
    f"""
    WITH t AS (SELECT doc_id,
                 {word_shingles_sql('text', 3)} AS sh
               FROM documents),
    s AS (SELECT doc_id, sh, len(sh) AS sz FROM t WHERE len(sh) > 0)
    SELECT a.doc_id AS id_contained, b.doc_id AS id_container,
           round(len(list_intersect(a.sh, b.sh))::DOUBLE / a.sz, 6)
             AS containment
    FROM s a JOIN s b ON a.doc_id <> b.doc_id
    WHERE b.sz >= 0.8 * a.sz - 1e-9
      AND len(list_intersect(a.sh, b.sh))::DOUBLE >= 0.8 * a.sz - 1e-9
    """,
)
def containment_pairs_docs(spark, sf_dir):
    """Directional near-verbatim containment (operators/setjoin.py::
    containment_prefix_join, Broder 1997): ordered pairs where ≥80%
    of the contained doc's word-3-shingles appear in the container —
    quote/subset detection, the asymmetric complement of the Jaccard
    join. Prefix-filtered candidate generation (contained side joins
    only through its rarest shingles) + exact verification; the
    oracle is the brute-force all-pairs twin, so the filter's
    EXACTNESS is hash-checked."""
    from semantic_ann_in_data_lake_spark.operators.setjoin import (
        containment_prefix_join,
    )

    return containment_prefix_join(
        _t(spark, sf_dir, "documents"), threshold=0.8, shingle_n=3
    )
