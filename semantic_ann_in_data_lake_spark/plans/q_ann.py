"""kNN, embeddings, ANN contract checks, discovery pipelines (J6, V1-V9).

Split from the single-file registry (round 4); the hub
`plans.registry` imports this module for its registration side
effects and re-exports every query function.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from semantic_ann_in_data_lake_spark.cache import scoped_persist
from semantic_ann_in_data_lake_spark.plans.registry import register, _t

from semantic_ann_in_data_lake_spark.functions.vectors import (
    cosine_sim_sql, l2_sq_sql,
)
from semantic_ann_in_data_lake_spark.operators.evaluation import (
    symmetric_truth,
)
from semantic_ann_in_data_lake_spark.operators.knn import (
    _nearest_cells_declarative, _ranked_topk, _rescore_pairs, knn_join,
    threshold_join,
)
from semantic_ann_in_data_lake_spark.annotate.embedder import (
    hash_embedding_expr, hash_embedding_sql,
)
from semantic_ann_in_data_lake_spark.annotate.annotator import (
    annotate_tables, snake_case_sql,
)
from semantic_ann_in_data_lake_spark.functions.serialize import embed_prompt
from semantic_ann_in_data_lake_spark.operators import dedup, profiler
from semantic_ann_in_data_lake_spark.plans import pipeline
from semantic_ann_in_data_lake_spark.plans.q_profile import _PROFILE_TYPES, _profile_oracle


# ---------------------------------------------------------------------------
# kNN similarity join (reference J6/V7-V9) + threshold + full evaluation
# ---------------------------------------------------------------------------

_KNN_L2_SQL = f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
             round({l2_sq_sql('q.v', 'c.v')}, 6) AS distance
      FROM e q, e c WHERE q.vec_id <> c.vec_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY distance ASC, cand_id ASC) AS rnk
      FROM pairs
    )
    SELECT query_id, cand_id, distance, rnk::INT AS rank
    FROM ranked WHERE rnk <= {{k}}
"""


@register("knn_exact_l2", _KNN_L2_SQL.format(k=5))
def knn_exact_l2(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return knn_join(emb, emb, k=5, strategy="exact")


@register("knn_broadcast_l2", _KNN_L2_SQL.format(k=5))
def knn_broadcast_l2(spark, sf_dir):
    """Strategy (b) must agree bit-for-bit with strategy (a) on exact
    metrics — same oracle as knn_exact_l2 proves it."""
    emb = _t(spark, sf_dir, "embeddings")
    return knn_join(emb, emb, k=5, strategy="broadcast")


@register(
    "knn_topk_cosine",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
             round({cosine_sim_sql('q.v', 'c.v')}, 6) AS distance
      FROM e q, e c WHERE q.vec_id <> c.vec_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY distance DESC, cand_id ASC) AS rnk
      FROM pairs
    )
    SELECT query_id, cand_id, distance, rnk::INT AS rank
    FROM ranked WHERE rnk <= 10
    """,
)
def knn_topk_cosine(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return knn_join(emb, emb, k=10, metric="cosine", strategy="exact")


_TAU = 1.3


@register(
    "ann_threshold_join",
    _KNN_L2_SQL.format(k=25) + f" AND sqrt(distance) <= {_TAU}",
)
def ann_threshold_join(spark, sf_dir):
    """P7: joinable pairs = kNN(k=25) where sqrt(L2²) ≤ τ
    (`join_discoverer.py:303-325`)."""
    emb = _t(spark, sf_dir, "embeddings")
    return threshold_join(knn_join(emb, emb, k=25, strategy="exact"), _TAU)


_EVAL_SQL = f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
    pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
             round({l2_sq_sql('q.v', 'c.v')}, 6) AS distance
      FROM e q, e c WHERE q.vec_id <> c.vec_id
    ),
    knn AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY distance ASC, cand_id ASC) AS rnk
        FROM pairs) WHERE rnk <= {{k}}
    ),
    joinable AS (SELECT * FROM knn WHERE sqrt(distance) <= {{tau}}),
    disc AS (
      SELECT DISTINCT least(query_id::VARCHAR, cand_id::VARCHAR) AS lo,
                      greatest(query_id::VARCHAR, cand_id::VARCHAR) AS hi
      FROM joinable
    ),
    truth AS (
      SELECT DISTINCT least(a.vec_id::VARCHAR, b.vec_id::VARCHAR) AS lo,
                      greatest(a.vec_id::VARCHAR, b.vec_id::VARCHAR) AS hi
      FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    ),
    conf AS (
      SELECT
        count(*) FILTER (WHERE d.lo IS NOT NULL AND t.lo IS NOT NULL) AS tp,
        count(*) FILTER (WHERE d.lo IS NOT NULL AND t.lo IS NULL) AS fp,
        count(*) FILTER (WHERE d.lo IS NULL AND t.lo IS NOT NULL) AS fn
      FROM disc d FULL OUTER JOIN truth t USING (lo, hi)
    ),
    sym AS (
      SELECT a.vec_id AS tq, b.vec_id AS tc
      FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id
    ),
    scored AS (
      SELECT k.query_id, k.rnk,
             CASE WHEN s.tq IS NOT NULL THEN 1 ELSE 0 END AS rel
      FROM knn k LEFT JOIN sym s ON k.query_id = s.tq AND k.cand_id = s.tc
    ),
    dcg AS (
      SELECT query_id, sum(rel / log2(rnk + 1)) AS dcg
      FROM scored GROUP BY query_id
    ),
    nrel AS (SELECT tq AS query_id, count(*) AS n_rel FROM sym GROUP BY tq),
    ndcg AS (
      SELECT round(avg(CASE WHEN coalesce(n.n_rel, 0) > 0 THEN
        d.dcg / list_sum(list_transform(
          range(1, least({{k}}, n.n_rel) + 1), i -> 1.0 / log2(i + 1)))
        ELSE 0.0 END), 4) AS ndcg_at_k
      FROM dcg d LEFT JOIN nrel n USING (query_id)
    )
    SELECT {{k}} AS k, round(({{tau}})::DOUBLE, 2) AS tau, tp, fp, fn,
           round(tp / (tp + fp + 1e-8), 4) AS precision,
           round(tp / (tp + fn + 1e-8), 4) AS recall,
           round(2 * (tp / (tp + fp + 1e-8)) * (tp / (tp + fn + 1e-8))
                 / ((tp / (tp + fp + 1e-8)) + (tp / (tp + fn + 1e-8)) + 1e-8),
                 4) AS f1,
           ndcg_at_k
    FROM conf, ndcg
"""


@register("semlink_eval", _EVAL_SQL.format(k=10, tau=_TAU))
def semlink_eval(spark, sf_dir):
    """Flagship: the full discover+evaluate pipeline (reference §3.3)."""
    return pipeline.evaluate_discovery(spark, sf_dir, k=10, tau=_TAU, strategy="exact")


_GRID_KS_SQL = ", ".join(str(k) for k in pipeline.GRID_KS)


_GRID_TAUS_SQL = ", ".join(str(t) for t in pipeline.GRID_TAUS)


_GRID_EVAL_SQL = f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
    pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
             round({l2_sq_sql('q.v', 'c.v')}, 6) AS distance
      FROM e q, e c WHERE q.vec_id <> c.vec_id
    ),
    knn AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY distance ASC, cand_id ASC) AS rnk
        FROM pairs) WHERE rnk <= {max(pipeline.GRID_KS)}
    ),
    grid AS (
      SELECT kk.k, tt.tau
      FROM (SELECT unnest([{_GRID_KS_SQL}]) AS k) kk
      CROSS JOIN (SELECT unnest([{_GRID_TAUS_SQL}]) AS tau) tt
    ),
    canon AS (
      SELECT least(query_id::VARCHAR, cand_id::VARCHAR) AS lo,
             greatest(query_id::VARCHAR, cand_id::VARCHAR) AS hi,
             min(rnk) AS min_rnk, min(distance) AS dist
      FROM knn GROUP BY 1, 2
    ),
    truth AS (
      SELECT DISTINCT least(a.vec_id::VARCHAR, b.vec_id::VARCHAR) AS lo,
                      greatest(a.vec_id::VARCHAR, b.vec_id::VARCHAR) AS hi,
                      1 AS is_true
      FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    ),
    flags AS (
      SELECT c.min_rnk, c.dist, t.is_true
      FROM canon c FULL OUTER JOIN truth t USING (lo, hi)
    ),
    conf AS (
      SELECT g.k, g.tau,
        count(*) FILTER (WHERE coalesce(f.min_rnk <= g.k AND sqrt(f.dist) <= g.tau, FALSE)
                         AND f.is_true IS NOT NULL) AS tp,
        count(*) FILTER (WHERE coalesce(f.min_rnk <= g.k AND sqrt(f.dist) <= g.tau, FALSE)
                         AND f.is_true IS NULL) AS fp,
        count(*) FILTER (WHERE NOT coalesce(f.min_rnk <= g.k AND sqrt(f.dist) <= g.tau, FALSE)
                         AND f.is_true IS NOT NULL) AS fn
      FROM flags f CROSS JOIN grid g GROUP BY 1, 2
    ),
    sym AS (
      SELECT a.vec_id AS tq, b.vec_id AS tc
      FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id
    ),
    scored AS (
      SELECT k.query_id, k.rnk,
             CASE WHEN s.tq IS NOT NULL THEN 1 ELSE 0 END AS rel
      FROM knn k LEFT JOIN sym s ON k.query_id = s.tq AND k.cand_id = s.tc
    ),
    klist AS (SELECT unnest([{_GRID_KS_SQL}]) AS k),
    dcgk AS (
      SELECT klist.k, s.query_id, sum(s.rel / log2(s.rnk + 1)) AS dcg
      FROM scored s CROSS JOIN klist WHERE s.rnk <= klist.k GROUP BY 1, 2
    ),
    nrel AS (SELECT tq AS query_id, count(*) AS n_rel FROM sym GROUP BY tq),
    ndcgk AS (
      SELECT d.k, round(avg(CASE WHEN coalesce(n.n_rel, 0) > 0 THEN
        d.dcg / list_sum(list_transform(
          range(1, least(d.k, n.n_rel) + 1), i -> 1.0 / log2(i + 1)))
        ELSE 0.0 END), 4) AS ndcg_at_k
      FROM dcgk d LEFT JOIN nrel n USING (query_id) GROUP BY d.k
    )
    SELECT c.k, round(c.tau, 2) AS tau, tp, fp, fn,
           round(tp / (tp + fp + 1e-8), 4) AS precision,
           round(tp / (tp + fn + 1e-8), 4) AS recall,
           round(2 * (tp / (tp + fp + 1e-8)) * (tp / (tp + fn + 1e-8))
                 / ((tp / (tp + fp + 1e-8)) + (tp / (tp + fn + 1e-8)) + 1e-8),
                 4) AS f1,
           ndcg_at_k
    FROM conf c JOIN ndcgk USING (k)
"""


@register("grid_eval_discovery", _GRID_EVAL_SQL)
def grid_eval_discovery(spark, sf_dir):
    """The reference's headline entry loop (`join_discoverer.py:485-517`,
    grid `SemLink/config.py:26-27`): 12 (k, τ) cells → one row each —
    kNN computed ONCE at k_max, every cell a conditional slice."""
    return pipeline.grid_evaluate_discovery(spark, sf_dir, strategy="exact")


@register(
    "embedding_dup_pairs",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round({cosine_sim_sql('a.v', 'b.v')}, 6) AS cosine
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE round({cosine_sim_sql('a.v', 'b.v')}, 6) >= 0.3
    """,
)
def embedding_dup_pairs(spark, sf_dir):
    return dedup.embedding_near_dups(_t(spark, sf_dir, "embeddings"), tau=0.3)


@register(
    "hash_embeddings",
    f"""
    SELECT doc_id,
           array_to_string(
             list_transform({hash_embedding_sql('text', 8)},
                            x -> round((x + 1.0) * 100000.0)::BIGINT::VARCHAR),
             '|') AS embedding
    FROM documents
    """,
)
def hash_embeddings(spark, sf_dir):
    """V4 deterministic tier: feature-hash embedding as a pure column
    expression — the no-model stand-in that makes the embed→index→
    search pipeline oracle-checkable end to end.

    Gated output stringifies the vector via the exact integer
    round-trip (component = k/1e5 - 1, so round((x+1)*1e5) recovers k
    bit-exactly in both engines) — double→VARCHAR formatting differs
    across engines, integer formatting does not; and the driver's
    canonicalizer cannot hash list cells."""
    d = _t(spark, sf_dir, "documents")
    emb = d.select("doc_id", hash_embedding_expr("text", 8).alias("embedding"))
    return emb.select(
        "doc_id",
        F.array_join(
            F.transform(
                "embedding",
                lambda x: F.round((x + F.lit(1.0)) * F.lit(100000.0))
                .cast("long")
                .cast("string"),
            ),
            "|",
        ).alias("embedding"),
    )


@register(
    "catalog_join_pipeline",
    f"""
    WITH prof AS ({_profile_oracle('customer')}),
    ann AS (
      SELECT 'customer' AS a_table, column_name AS a_column,
             {snake_case_sql('column_name')} AS annotated_name
      FROM (SELECT unnest([{', '.join(f"'{c}'" for c, _ in _PROFILE_TYPES['customer'])}]) AS column_name)
    )
    SELECT p.table_name, p.column_name, p.col_type, p.num_values,
           coalesce(a.annotated_name, p.column_name) AS semantic_name,
           'Table customer with 5 columns.' AS table_description
    FROM prof p LEFT JOIN ann a
      ON p.table_name = 'customer' AND p.column_name = a.a_column
    """,
)
def catalog_join_pipeline(spark, sf_dir):
    """J4/J5: merge LLM-ish annotations onto profile stats — the
    catalog⋈annotations left join + per-column map lookup
    (`data_loader.py:181-206`, with the first-column-only `break` bug
    at `:175` fixed, not ported)."""
    cust = _t(spark, sf_dir, "customer")
    prof = profiler.profile(cust, "customer")
    catalog = spark.createDataFrame(
        [("customer", cust.columns, "")],
        "table_name string, columns array<string>, sample_markdown string",
    )
    ann = annotate_tables(catalog).select(
        F.col("table_name").alias("a_table"),
        F.col("table_description"),
        F.explode("columns").alias("a_column", "annotated_name"),
    )
    return prof.join(
        F.broadcast(ann),
        (prof.table_name == ann.a_table) & (prof.column_name == ann.a_column),
        "left",
    ).select(
        "table_name",
        "column_name",
        "col_type",
        "num_values",
        F.coalesce(F.col("annotated_name"), F.col("column_name")).alias("semantic_name"),
        F.coalesce(F.col("table_description"), F.lit("")).alias("table_description"),
    )


@register(
    "embed_prompt_customer",
    f"""
    WITH prof AS ({_profile_oracle('customer')}),
    samples AS (
      {' UNION ALL '.join(
        f"SELECT '{c}' AS s_column, "
        f"(SELECT list_slice(list_sort(list(DISTINCT {c}::VARCHAR)), 1, 5) "
        f" FROM customer WHERE {c} IS NOT NULL) AS values_sample"
        for c, _ in _PROFILE_TYPES['customer']
      )}
    )
    SELECT p.table_name, p.column_name,
           'Column: ' || p.column_name || chr(10) ||
           'Table: ' || p.table_name || chr(10) ||
           'Type: ' || p.col_type || chr(10) ||
           'Values count: ' || p.num_values::VARCHAR || chr(10) ||
           'Examples: ' || array_to_string(s.values_sample, ', ') AS prompt
    FROM prof p JOIN samples s ON p.column_name = s.s_column
    """,
)
def embed_prompt_customer(spark, sf_dir):
    """V2: the SemLink embed-prompt builder over real profiles
    (`join_discoverer.py:64-127`)."""
    cust = _t(spark, sf_dir, "customer")
    prof = profiler.profile(cust, "customer")
    samples = profiler.distinct_sample(cust, "customer", cust.columns, 5)
    joined = prof.join(samples, ["table_name", "column_name"])
    return joined.select(
        "table_name",
        "column_name",
        embed_prompt(
            F.col("table_name"),
            F.col("column_name"),
            F.col("col_type"),
            F.col("num_values"),
            F.col("values_sample"),
        ).alias("prompt"),
    )


_DOC_SEARCH_SQL = f"""
    WITH emb AS (
      SELECT doc_id, {hash_embedding_sql('text', 8)} AS v FROM documents
    ),
    pairs AS (
      SELECT q.doc_id AS query_id, c.doc_id AS cand_id,
             round({cosine_sim_sql('q.v', 'c.v')}, 6) AS distance
      FROM emb q, emb c WHERE q.doc_id <> c.doc_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY distance DESC, cand_id ASC) AS rnk
      FROM pairs
    )
    SELECT query_id, cand_id, distance, rnk::INT AS rank
    FROM ranked WHERE rnk <= 3
"""


@register("semantic_search_docs", _DOC_SEARCH_SQL)
def semantic_search_docs(spark, sf_dir):
    """End-to-end embed→index→search on raw documents: deterministic
    hash embeddings + cosine top-3 — the full SemLink lifecycle with
    no model dependency, oracle-checked."""
    d = _t(spark, sf_dir, "documents")
    emb = d.select(
        F.col("doc_id").alias("vec_id"),
        hash_embedding_expr("text", 8).alias("embedding"),
    )
    emb = scoped_persist(emb)  # materialize: Catalyst would otherwise inline the
    # 8-way md5 embedding expression on BOTH sides of the kNN join and
    # re-evaluate it per PAIR (measured 280s of a 363s sf0.1 run)
    return knn_join(emb, emb, k=3, metric="cosine", strategy="exact")


# --- approximate tier: invariant-projection registrations ----------------
# An ANN result set can't be equality-gated (which pairs surface depends
# on bucketing/probing), but its CONTRACT can (annIndex.py:21-40:
# approximate neighbors, exact distances): each approximate tier is
# therefore registered under its own name as the VIOLATIONS of that
# contract — distances must equal an independent exact recomputation,
# ranks consecutive and monotone, no self pairs, near-dup pairs
# genuinely over τ. The oracle is the empty relation, so the driver's
# rows+schema+hash gate becomes a distributed property check. The raw
# neighbor rows stay on the operator surface (knn_join / bench / the
# pytest recall floors) — exposing them to the driver was the permanent
# `no_oracle` red of rounds 2-5.

_KNN_CHECK_EMPTY_SQL = """
    SELECT 0::BIGINT AS query_id, 0::BIGINT AS cand_id,
           0.0 AS reported, 0.0 AS expected, '' AS violation
    WHERE FALSE
"""


@register("knn_lsh_l2", _KNN_CHECK_EMPTY_SQL)
def knn_lsh_l2(spark, sf_dir):
    """Approximate kNN via BucketedRandomProjectionLSH, exposed as its
    contract projection: empty iff every LSH-returned neighbor carries
    the exact L2² distance and a consistent rank. Candidate recall is
    gated separately (`lsh_recall_report`); raw rows via
    ``knn_join(strategy="lsh")`` and bench `knn_lsh_k10`."""
    from semantic_ann_in_data_lake_spark.operators import checks

    emb = _t(spark, sf_dir, "embeddings")
    return checks.knn_invariant_violations(
        knn_join(emb, emb, k=5, strategy="lsh"), emb, metric="l2_sq"
    )


@register("knn_ivf_l2", _KNN_CHECK_EMPTY_SQL)
def knn_ivf_l2(spark, sf_dir):
    """Strategy (d) IVF-partitioned approximate kNN, exposed as its
    contract projection: empty iff every IVF-returned neighbor carries
    the exact L2² distance and a consistent rank. Candidate recall is
    gated by `ivf_recall_report`; raw rows via
    ``knn_join(strategy="ivf")`` and bench `knn_ivf_k10`."""
    from semantic_ann_in_data_lake_spark.operators import checks

    emb = _t(spark, sf_dir, "embeddings")
    return checks.knn_invariant_violations(
        knn_join(emb, emb, k=5, strategy="ivf"), emb, metric="l2_sq"
    )


@register(
    "embedding_near_dups_ann",
    """
    SELECT 0::BIGINT AS id_a, 0::BIGINT AS id_b,
           0.0 AS reported, 0.0 AS expected, '' AS violation
    WHERE FALSE
    """,
)
def embedding_near_dups_ann(spark, sf_dir):
    """The 100 TB tier of embedding near-dup detection (candidate pairs
    from the LSH-bucketed cosine kNN instead of the O(n²) self-join),
    exposed as its contract projection: empty iff every ANN-emitted
    pair is canonical, genuinely clears τ=0.3, and carries the exact
    cosine — precision 1.0, hash-checked. Recall ~0.8 vs the exact tier
    at default knobs is pinned by
    test_embedding_near_dups_ann_recall; raw pairs via
    ``dedup.embedding_near_dups(strategy="lsh")``."""
    from semantic_ann_in_data_lake_spark.operators import checks

    emb = _t(spark, sf_dir, "embeddings")
    pairs = dedup.embedding_near_dups(emb, tau=0.3, strategy="lsh", k=20)
    return checks.near_dup_invariant_violations(pairs, emb, tau=0.3)


@register("knn_ivf_kmeans_l2", _KNN_CHECK_EMPTY_SQL)
def knn_ivf_kmeans_l2(spark, sf_dir):
    """Strategy (d) with distributed centroid training (Spark ML
    k-means||) instead of the driver-side sample fit, exposed as its
    contract projection: empty iff every returned neighbor carries the
    exact L2² distance and a consistent rank. Recall pinned by tests;
    raw rows via ``knn_join(strategy="ivf", ivf_fit="kmeans_ml")``."""
    from semantic_ann_in_data_lake_spark.operators import checks

    emb = _t(spark, sf_dir, "embeddings")
    return checks.knn_invariant_violations(
        knn_join(emb, emb, k=5, strategy="ivf", ivf_fit="kmeans_ml"),
        emb,
        metric="l2_sq",
    )


_DEEPJOIN_EVAL_SQL = f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
    pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
             round({l2_sq_sql('q.v', 'c.v')}, 6) AS distance
      FROM e q, e c WHERE q.vec_id <> c.vec_id
    ),
    knn AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY distance ASC, cand_id ASC) AS rnk
        FROM pairs) WHERE rnk <= 5
    ),
    sym AS (
      SELECT a.vec_id AS tq, b.vec_id AS tc
      FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id
    ),
    per_q AS (
      SELECT k.query_id,
             count(*) FILTER (WHERE s.tc IS NOT NULL) AS tp,
             count(*) FILTER (WHERE s.tc IS NULL) AS fp
      FROM knn k LEFT JOIN sym s ON k.query_id = s.tq AND k.cand_id = s.tc
      GROUP BY k.query_id
    ),
    nrel AS (SELECT tq AS query_id, count(*) AS n_rel FROM sym GROUP BY tq),
    acc AS (
      SELECT sum(p.tp) AS tp, sum(p.fp) AS fp,
             sum(greatest(coalesce(n.n_rel, 0) - p.tp, 0)) AS fn
      FROM per_q p LEFT JOIN nrel n USING (query_id)
    )
    SELECT 5 AS k, tp::BIGINT AS tp, fp::BIGINT AS fp, fn::BIGINT AS fn,
           round(tp / (tp + fp + 1e-8), 4) AS micro_precision,
           round(tp / (tp + fn + 1e-8), 4) AS micro_recall,
           round(2 * (tp / (tp + fp + 1e-8)) * (tp / (tp + fn + 1e-8))
                 / ((tp / (tp + fp + 1e-8)) + (tp / (tp + fn + 1e-8)) + 1e-8),
                 4) AS micro_f1
    FROM acc
"""


def _micro_at_k(knn, sym):
    """DeepJoin micro P/R/F1 accumulator (`search_query.py:69-117`):
    per-query TP/FP vs that query's own relevant set (``sym``:
    (tq, tc) symmetric truth pairs), summed then combined. Returns a
    one-row frame (tp, fp, fn, micro_precision, micro_recall,
    micro_f1) — shared by `deepjoin_eval` and `deepjoin_train_eval`."""
    per_q = (
        knn.join(
            sym,
            (knn.query_id == sym.tq) & (knn.cand_id == sym.tc),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.sum(F.when(F.col("tc").isNotNull(), 1).otherwise(0)).alias("tp"),
            F.sum(F.when(F.col("tc").isNull(), 1).otherwise(0)).alias("fp"),
        )
    )
    nrel = sym.groupBy("tq").agg(F.count(F.lit(1)).alias("n_rel"))
    acc = (
        per_q.join(nrel, per_q.query_id == nrel.tq, "left")
        .na.fill({"n_rel": 0})
        .agg(
            F.sum("tp").alias("tp"),
            F.sum("fp").alias("fp"),
            F.sum(F.greatest(F.col("n_rel") - F.col("tp"), F.lit(0))).alias("fn"),
        )
    )
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    eps = F.lit(1e-8)
    prec = tp / (tp + fp + eps)
    rec = tp / (tp + fn + eps)
    return acc.select(
        tp.cast("long").alias("tp"),
        fp.cast("long").alias("fp"),
        fn.cast("long").alias("fn"),
        F.round(prec, 4).alias("micro_precision"),
        F.round(rec, 4).alias("micro_recall"),
        F.round(2 * prec * rec / (prec + rec + eps), 4).alias("micro_f1"),
    )


@register("deepjoin_eval", _DEEPJOIN_EVAL_SQL)
def deepjoin_eval(spark, sf_dir):
    """DeepJoin-style MICRO metrics (`search_query.py:69-117`): per-query
    TP/FP against each query's own relevant set, accumulated then
    combined — distinct from the SemLink canonical-pair variant
    (`semlink_eval`), which scores unordered pair sets globally."""
    emb = _t(spark, sf_dir, "embeddings")
    knn = knn_join(emb, emb, k=5, strategy="exact")
    truth = pipeline.label_truth_pairs(emb)
    sym = symmetric_truth(truth, "id_a", "id_b").select(
        F.col("t_query").cast("long").alias("tq"),
        F.col("t_cand").cast("long").alias("tc"),
    )
    return _micro_at_k(knn, sym).select(F.lit(5).alias("k"), "*")


_PAIRFIT_DIM = 16

def _deepjoin_train_eval_sql() -> str:
    from semantic_ann_in_data_lake_spark.annotate import pairfit

    fit = pairfit.fit_weights_sql("tr", dim=_PAIRFIT_DIM)
    enc = pairfit.encode_sql("d.text", "w", dim=_PAIRFIT_DIM)
    w_cols = ", ".join(f"w.w_{i}" for i in range(_PAIRFIT_DIM))
    return f"""
    WITH docs AS (SELECT doc_id, text, source FROM documents),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             a.text AS text_a, b.text AS text_b,
             CASE WHEN ('0x' || substr(md5('split42' || a.doc_id::VARCHAR
                    || '|' || b.doc_id::VARCHAR), 1, 15))::BIGINT
                  % 1000 < 800
                  THEN 'train' ELSE 'test' END AS split
      FROM docs a JOIN docs b
        ON a.source = b.source AND a.doc_id < b.doc_id
    ),
    tr AS (SELECT text_a, text_b FROM pairs WHERE split = 'train'),
    w AS MATERIALIZED ({fit}),
    enc AS MATERIALIZED (
      SELECT d.doc_id, {enc} AS v FROM docs d CROSS JOIN w
    ),
    dist AS (
      SELECT q.doc_id AS query_id, c.doc_id AS cand_id,
             round({l2_sq_sql('q.v', 'c.v')}, 6) AS distance
      FROM enc q, enc c WHERE q.doc_id <> c.doc_id
    ),
    knn AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY distance ASC, cand_id ASC) AS rnk
        FROM dist) WHERE rnk <= 5
    ),
    sym AS (
      SELECT a.doc_id AS tq, b.doc_id AS tc
      FROM docs a JOIN docs b
        ON a.source = b.source AND a.doc_id <> b.doc_id
    ),
    per_q AS (
      SELECT k.query_id,
             count(*) FILTER (WHERE s.tc IS NOT NULL) AS tp,
             count(*) FILTER (WHERE s.tc IS NULL) AS fp
      FROM knn k LEFT JOIN sym s ON k.query_id = s.tq AND k.cand_id = s.tc
      GROUP BY k.query_id
    ),
    nrel AS (SELECT tq AS query_id, count(*) AS n_rel FROM sym GROUP BY tq),
    acc AS (
      SELECT sum(p.tp) AS tp, sum(p.fp) AS fp,
             sum(greatest(coalesce(n.n_rel, 0) - p.tp, 0)) AS fn
      FROM per_q p LEFT JOIN nrel n USING (query_id)
    ),
    counts AS (
      SELECT count(*) FILTER (WHERE split = 'train') AS n_train,
             count(*) FILTER (WHERE split = 'test') AS n_test
      FROM pairs
    )
    SELECT 5 AS k, {_PAIRFIT_DIM} AS dim,
           counts.n_train::BIGINT AS n_train,
           counts.n_test::BIGINT AS n_test,
           {w_cols},
           tp::BIGINT AS tp, fp::BIGINT AS fp, fn::BIGINT AS fn,
           round(tp / (tp + fp + 1e-8), 4) AS micro_precision,
           round(tp / (tp + fn + 1e-8), 4) AS micro_recall,
           round(2 * (tp / (tp + fp + 1e-8)) * (tp / (tp + fn + 1e-8))
                 / ((tp / (tp + fp + 1e-8)) + (tp / (tp + fn + 1e-8))
                    + 1e-8), 4) AS micro_f1
    FROM acc CROSS JOIN counts CROSS JOIN w
    """


@register("deepjoin_train_eval", _deepjoin_train_eval_sql())
def deepjoin_train_eval(spark, sf_dir):
    """The FULL DeepJoin lifecycle as one gated pipeline (reference
    `DeepJoin/train.py:38-66` + `search_query.py:69-117`): positive
    pairs (J7, docs sharing a source) → deterministic content-hash
    80/20 split (W6) → **fit** (`annotate/pairfit.fit_pair_encoder` —
    the closed-form deterministic stand-in for the reference's
    sentence-transformer fine-tune, V6's consumption seam) → encode the
    corpus under the learned model → exact kNN → micro P/R/F1 against
    same-source truth. Output is one row carrying the learned weights
    (w_0…w_15, the fit itself is value-gated), the split sizes, and
    the retrieval metrics — the DuckDB oracle replays every stage.

    Scale shape: pairs are family-grouped (Σ|g|², never |n|²); the fit
    is one map-side-combinable wide aggregate + a 1-row collect; the
    model is D floats shipped by closure; encode is pure codegen'd
    column math; the kNN tier ladder takes over past the exact gate
    size."""
    from semantic_ann_in_data_lake_spark.annotate import pairfit
    from semantic_ann_in_data_lake_spark.operators import pairs as pairs_ops

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    p = pairs_ops.positive_pairs(docs, "source", "doc_id")
    ta = docs.select(F.col("doc_id").alias("id_a"), F.col("text").alias("text_a"))
    tb = docs.select(F.col("doc_id").alias("id_b"), F.col("text").alias("text_b"))
    sp = pairs_ops.train_test_split(
        p.join(ta, "id_a").join(tb, "id_b"), ["id_a", "id_b"], 0.8,
        seed="split42",
    )
    sp = scoped_persist(sp)  # two driver actions (counts + fit) share one pass
    counts = {
        r["split"]: r["n"]
        for r in sp.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    model = pairfit.fit_pair_encoder(
        sp.where(F.col("split") == "train"), dim=_PAIRFIT_DIM
    )
    enc = docs.select(
        F.col("doc_id").alias("vec_id"),
        pairfit.encode_with_model("text", model).alias("embedding"),
    )
    knn = knn_join(enc, enc, k=5, strategy="exact")
    d2 = docs.select(F.col("doc_id").alias("tc"), F.col("source").alias("s2"))
    sym = (
        docs.join(d2, (F.col("source") == F.col("s2")) & (F.col("doc_id") != F.col("tc")))
        .select(F.col("doc_id").alias("tq"), "tc")
    )
    lit_cols = [
        F.lit(5).alias("k"),
        F.lit(_PAIRFIT_DIM).alias("dim"),
        F.lit(int(counts.get("train", 0))).cast("long").alias("n_train"),
        F.lit(int(counts.get("test", 0))).cast("long").alias("n_test"),
    ] + [
        F.lit(model.weights[i]).alias(f"w_{i}") for i in range(_PAIRFIT_DIM)
    ]
    return _micro_at_k(knn, sym).select(*lit_cols, "*")


@register(
    "quantize_embeddings_int8",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    m AS (SELECT vec_id, v,
                 list_max(list_transform(v, x -> abs(x))) AS mx
          FROM e)
    SELECT vec_id, mx / 127.0 AS scale,
           array_to_string(
             list_transform(v, x -> (CASE WHEN mx = 0 THEN 0
               ELSE (sign(x) * floor(abs(x) / (mx / 127.0) + 0.5))::INT
             END)::VARCHAR), '|') AS qvec
    FROM m
    """,
)
def quantize_embeddings_int8(spark, sf_dir):
    """Int8 symmetric quantization of the vector index (8× smaller
    broadcast); scale doubles and all 64 lanes value-hash-gated.
    qvec serialized to a '|'-joined string for the driver's pandas
    canonicalizer (lists are unsortable/unhashable there); the
    operator (knn.quantize_embeddings) keeps the typed array."""
    from semantic_ann_in_data_lake_spark.operators.knn import quantize_embeddings

    q = quantize_embeddings(_t(spark, sf_dir, "embeddings"))
    return q.select(
        "vec_id",
        "scale",
        F.array_join(
            F.transform("qvec", lambda x: x.cast("string")), "|"
        ).alias("qvec"),
    )




def _lake_discovery_sql(tables: dict[str, list[str]], dim: int = 16, k: int = 3) -> str:
    from semantic_ann_in_data_lake_spark.annotate.embedder import hash_embedding_sql
    from semantic_ann_in_data_lake_spark.functions.vectors import l2_sq_sql

    col_rows = []
    for t, cols in tables.items():
        for c in cols:
            col_rows.append(
                f"SELECT '{t}.{c}' AS col_key, '{t}' AS table_name, "
                f"'{t}.{c} n=' || (SELECT count(*) FROM {t})::VARCHAR "
                f"|| ' distinct=' || (SELECT count(DISTINCT {c}) FROM {t})::VARCHAR "
                f"|| ' nulls=' || (SELECT sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) "
                f"FROM {t})::VARCHAR AS \"desc\""
            )
    cat = " UNION ALL ".join(col_rows)
    return f"""
    WITH cat AS ({cat}),
    emb AS (SELECT col_key, table_name, {hash_embedding_sql('"desc"', dim)} AS e
            FROM cat),
    pairs AS (
      SELECT a.col_key AS query_col, b.col_key AS cand_col,
             round({l2_sq_sql('a.e', 'b.e')}, 6) AS distance
      FROM emb a JOIN emb b ON a.table_name <> b.table_name
    )
    SELECT query_col, cand_col, distance, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_col
                                   ORDER BY distance, cand_col) AS rank
      FROM pairs
    ) WHERE rank <= {k}
    """


_DISCOVERY_TABLES = {
    "region": ["r_regionkey", "r_name"],
    "nation": ["n_nationkey", "n_name", "n_regionkey"],
    "supplier": ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
    "customer": ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
}


@register("lake_join_discovery", _lake_discovery_sql(_DISCOVERY_TABLES))
def lake_join_discovery(spark, sf_dir):
    """The reference's headline scenario over the ACTUAL lake: profile
    every column of four tables (one wide agg per table), serialize each
    column description, hash-embed it, and rank top-3 cross-table
    candidate join columns per column by embedding L2. Fully hash-gated
    end to end — profiling counts, serialization bytes, embedding
    components, distances, and ranking all reproduce in the oracle."""
    from semantic_ann_in_data_lake_spark.operators.discovery import (
        discover_joinable_columns,
    )

    return discover_joinable_columns(spark, sf_dir, list(_DISCOVERY_TABLES))


@register("knn_ivf_probeall_l2", _KNN_L2_SQL.format(k=5))
def knn_ivf_probeall_l2(spark, sf_dir):
    """IVF machinery EXACTNESS witness: with nprobe == nlist every cell
    is probed, the per-cell local top-k union provably contains the
    global top-k, and the merge must reproduce the exact answer — so
    this shares knn_exact_l2's oracle verbatim. Complements the
    distance distcheck (which pins per-pair arithmetic but not merge
    completeness); together they bound what the approximate tiers can
    get wrong to cell selection only."""
    emb = _t(spark, sf_dir, "embeddings")
    return knn_join(emb, emb, k=5, strategy="ivf", nlist=16, nprobe=16)


@register(
    "centroid_per_source",
    """
    WITH e AS (
      SELECT d.source AS key, g.i AS pos, em.embedding[g.i + 1] AS val
      FROM embeddings em
      JOIN documents d ON em.vec_id = d.doc_id
      CROSS JOIN (SELECT unnest(range(0, 256)) AS i) g
      WHERE g.i < len(em.embedding)
    ),
    a AS (
      SELECT key, pos, sum(val::DOUBLE::DECIMAL(28,10)) AS s, count(*) AS n
      FROM e GROUP BY 1, 2
    ),
    c AS (SELECT key, pos, round(s::DOUBLE / n, 6) AS c, n FROM a)
    SELECT key, max(n)::BIGINT AS n_vectors,
           array_to_string(list(printf('%.6f', c) ORDER BY pos), '|') AS centroid
    FROM c GROUP BY key
    """,
)
def centroid_per_source(spark, sf_dir):
    """Per-domain embedding centroids (functions.vectors.
    centroid_per_key): mean-pool every source's vectors with
    DECIMAL-exact per-dimension sums — the routing-table / domain-
    signature builder (and an IVF seed refresh). Shuffle payload is
    |keys|·dim partial sums; the oracle re-derives the same pooling
    with a single-stream window-free plan."""
    from semantic_ann_in_data_lake_spark.functions.vectors import (
        centroid_per_key,
    )

    emb = _t(spark, sf_dir, "embeddings")
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "source"
    )
    joined = emb.join(F.broadcast(docs), "vec_id").select(
        F.col("source"), F.col("embedding")
    )
    cents = centroid_per_key(joined, "source", "embedding")
    # Serialize the centroid array ('%.6f'-formatted, '|'-joined) for
    # the driver's pandas canonicalizer; centroid_per_key itself keeps
    # the typed array<double> API.
    return cents.select(
        "key",
        "n_vectors",
        F.array_join(
            F.transform("centroid", lambda x: F.format_string("%.6f", x)), "|"
        ).alias("centroid"),
    )




@register("knn_auto_l2", _KNN_L2_SQL.format(k=5))
def knn_auto_l2(spark, sf_dir):
    """strategy='auto' HASH-GATED: at gate scale the dispatcher's
    footer probe routes to the exact broadcast tier, so the auto
    path's OUTPUT — not just its tier choice (pinned separately by
    the boundary unit tests) — must match the brute-force oracle
    verbatim. Guards the whole decision seam: estimate → budget
    checks → tier handoff → result contract."""
    emb = _t(spark, sf_dir, "embeddings")
    return knn_join(emb, emb, k=5, strategy="auto")


def _hybrid_rrf_oracle() -> str:
    from semantic_ann_in_data_lake_spark.functions.text import words_sql

    toks = f"list_sort(list_distinct({words_sql('text')}))"
    return f"""
    WITH base AS (
      SELECT doc_id, {toks} AS toks, {hash_embedding_sql('text', 8)} AS v
      FROM documents
    ),
    q AS (SELECT doc_id AS query_id, toks AS qt, v AS qv FROM base WHERE doc_id < 5),
    c AS (SELECT doc_id AS cand_id, toks AS ct, v AS cv FROM base WHERE doc_id >= 5),
    pairs AS (
      SELECT query_id, cand_id,
             round(len(list_intersect(qt, ct))::DOUBLE
                   / (len(qt) + len(ct) - len(list_intersect(qt, ct))), 6) AS jac,
             round({cosine_sim_sql('qv', 'cv')}, 6) AS cos
      FROM q, c
    ),
    lex AS (
      SELECT query_id, cand_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY jac DESC, cand_id ASC) AS rank_a
      FROM pairs
    ),
    sem AS (
      SELECT query_id, cand_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, cand_id ASC) AS rank_b
      FROM pairs
    ),
    fused AS (
      SELECT l.query_id, l.cand_id, l.rank_a, s.rank_b,
             round(1.0 / (60 + l.rank_a) + 1.0 / (60 + s.rank_b), 6) AS rrf_score
      FROM lex l JOIN sem s
        ON s.query_id = l.query_id AND s.cand_id = l.cand_id
    )
    SELECT query_id, cand_id, rank_a, rank_b, rrf_score, rank
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY rrf_score DESC, cand_id ASC) AS rank
      FROM fused
    ) WHERE rank <= 5
    """


@register("hybrid_search_rrf", _hybrid_rrf_oracle())
def hybrid_search_rrf(spark, sf_dir):
    """Hybrid retrieval (operators/ranks.py::rrf_fuse): token-Jaccard
    lexical ranking fused with hash-embedding cosine ranking by
    reciprocal-rank fusion (k=60), top-5 per query. The exact-SQL
    oracle tier ranks all candidates per query; the 100-TB plan swaps
    each leg for its bounded sibling already in the repo (prefix-
    filtered set join for lexical, ANN tiers for semantic) and fuses
    their top-N lists — rrf_fuse's cost is list-size, not corpus-size,
    either way."""
    from semantic_ann_in_data_lake_spark.functions.text import words
    from semantic_ann_in_data_lake_spark.functions.vectors import cosine_sim
    from semantic_ann_in_data_lake_spark.operators.ranks import rrf_fuse
    from pyspark.sql.window import Window as _Win

    base = scoped_persist(
        _t(spark, sf_dir, "documents").select(
            "doc_id",
            F.array_sort(F.array_distinct(words("text"))).alias("toks"),
            hash_embedding_expr("text", 8).alias("v"),
        )
    )
    q = base.where(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("query_id"),
        F.col("toks").alias("qt"),
        F.col("v").alias("qv"),
    )
    c = base.where(F.col("doc_id") >= 5).select(
        F.col("doc_id").alias("cand_id"),
        F.col("toks").alias("ct"),
        F.col("v").alias("cv"),
    )
    inter = F.size(F.array_intersect("qt", "ct"))
    pairs = scoped_persist(
        F.broadcast(q)
        .crossJoin(c)
        .select(
            "query_id",
            "cand_id",
            F.round(
                inter / (F.size("qt") + F.size("ct") - inter), 6
            ).alias("jac"),
            F.round(cosine_sim("qv", "cv"), 6).alias("cos"),
        )
    )
    lex = pairs.select(
        "query_id",
        "cand_id",
        F.row_number()
        .over(
            _Win.partitionBy("query_id").orderBy(
                F.col("jac").desc(), F.col("cand_id").asc()
            )
        )
        .alias("rank"),
    )
    sem = pairs.select(
        "query_id",
        "cand_id",
        F.row_number()
        .over(
            _Win.partitionBy("query_id").orderBy(
                F.col("cos").desc(), F.col("cand_id").asc()
            )
        )
        .alias("rank"),
    )
    return rrf_fuse(lex, sem, topk=5)


_BITEXT_K = 4
_BITEXT_TAU = 1.0


@register(
    "bitext_mine_en_de",
    f"""
    WITH s AS (SELECT doc_id, {hash_embedding_sql('text', 8)} AS v
               FROM documents WHERE lang = 'en'),
         t AS (SELECT doc_id, {hash_embedding_sql('text', 8)} AS v
               FROM documents WHERE lang = 'de'),
    p AS (SELECT s.doc_id AS sid, t.doc_id AS tid,
                 CAST(round(round({cosine_sim_sql('s.v', 't.v')}, 6) * 1e6)
                      AS BIGINT) AS sim6
          FROM s CROSS JOIN t),
    f AS (SELECT sid, tid, sim6,
                 row_number() OVER (PARTITION BY sid
                                    ORDER BY sim6 DESC, tid) AS rn
          FROM p),
    b AS (SELECT tid, sim6,
                 row_number() OVER (PARTITION BY tid
                                    ORDER BY sim6 DESC, sid) AS rn
          FROM p),
    fs AS (SELECT sid, sum(sim6) AS ssum, count(*) AS scnt
           FROM f WHERE rn <= {_BITEXT_K} GROUP BY sid),
    bs AS (SELECT tid, sum(sim6) AS tsum, count(*) AS tcnt
           FROM b WHERE rn <= {_BITEXT_K} GROUP BY tid),
    m AS (SELECT f.sid, f.tid, f.sim6,
                 round(f.sim6 / ((fs.ssum::DOUBLE / fs.scnt
                                  + bs.tsum::DOUBLE / bs.tcnt) / 2),
                       6) AS margin
          FROM f JOIN fs USING (sid) JOIN bs USING (tid)
          WHERE f.rn <= {_BITEXT_K}
            AND (fs.ssum::DOUBLE / fs.scnt
                 + bs.tsum::DOUBLE / bs.tcnt) / 2 > 0),
    r AS (SELECT sid, tid, sim6, margin,
                 row_number() OVER (PARTITION BY sid
                                    ORDER BY margin DESC, tid) AS rn
          FROM m)
    SELECT sid AS src_id, tid AS tgt_id,
           sim6 / 1000000.0 AS sim, margin
    FROM r WHERE rn = 1 AND margin >= {_BITEXT_TAU}
    """,
)
def bitext_mine_en_de(spark, sf_dir):
    """Parallel-corpus mining (operators/bitext.py): en→de document
    alignment by hash-embedding cosine with the Artetxe–Schwenk ratio
    margin — a pair survives only if it beats the average of both its
    own top-k neighborhoods. Integer micro-sim accumulation keeps the
    margin bit-identical across engines and partitionings. Exact
    strategy IS the oracle; production swaps strategy='auto' and pays
    two ANN passes + k-bounded bookkeeping."""
    from semantic_ann_in_data_lake_spark.operators.bitext import mine_bitext

    d = _t(spark, sf_dir, "documents")
    emb = lambda lang: d.where(F.col("lang") == lang).select(  # noqa: E731
        "doc_id", hash_embedding_expr("text", 8).alias("embedding")
    )
    return mine_bitext(
        emb("en"), emb("de"), k=_BITEXT_K, margin_tau=_BITEXT_TAU,
        strategy="exact",
    )


@register(
    "embedding_outliers_per_source",
    f"""
    WITH e AS (
      SELECT d.source AS key, em.vec_id, em.embedding
      FROM embeddings em JOIN documents d ON em.vec_id = d.doc_id),
    x AS (
      SELECT key, g.i AS pos, embedding[g.i + 1] AS val
      FROM e CROSS JOIN (SELECT unnest(range(0, 256)) AS i) g
      WHERE g.i < len(embedding)),
    a AS (SELECT key, pos, sum(val::DOUBLE::DECIMAL(28,10)) AS s,
                 count(*) AS n
          FROM x GROUP BY 1, 2),
    ct AS (SELECT key, list(round(s::DOUBLE / n, 6) ORDER BY pos) AS centroid
           FROM a GROUP BY key),
    dd AS (SELECT e.key, e.vec_id,
                  round(sqrt({l2_sq_sql('e.embedding', 'ct.centroid')}), 6)
                    AS dist
           FROM e JOIN ct USING (key)),
    d6 AS (SELECT key, vec_id, dist,
                  CAST(round(dist * 1e6) AS BIGINT) AS d6 FROM dd),
    st AS (SELECT key, sum(d6)::BIGINT AS s,
                  sum(d6 * d6)::DECIMAL(38,0) AS q, count(*) AS n
           FROM d6 GROUP BY key),
    zz AS (SELECT d6.key, vec_id AS id, dist,
                  round((d6 - s::DOUBLE / n)
                        / sqrt(greatest(q::DOUBLE / n
                               - (s::DOUBLE / n) * (s::DOUBLE / n), 1e-12)),
                        4) AS z
           FROM d6 JOIN st USING (key))
    SELECT key, id, dist, z FROM zz WHERE z >= 2.0
    """,
)
def embedding_outliers_per_source(spark, sf_dir):
    """Embedding-quality audit (functions/vectors.py::
    centroid_outliers): vectors whose distance to their source's
    centroid is a z >= 2 outlier — the pre-index screen for corrupted
    embeddings and mislabeled sources. Integer micro-distance moment
    sums (squared sum in DECIMAL) make the z-score bit-identical
    cross-engine; centroids, moments, and the final tag are all
    broadcast-sized joins around |keys|-row aggregates."""
    from semantic_ann_in_data_lake_spark.functions.vectors import (
        centroid_outliers,
    )

    emb = _t(spark, sf_dir, "embeddings")
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "source"
    )
    joined = emb.join(F.broadcast(docs), "vec_id")
    return centroid_outliers(joined, "source", "embedding", "vec_id", z_tau=2.0)


@register(
    "hard_negatives_embeddings",
    f"""
    WITH e AS (SELECT vec_id, label, embedding AS v FROM embeddings),
    p AS (SELECT q.vec_id AS qa, q.label AS la, c.vec_id AS qb,
                 c.label AS lb,
                 round({cosine_sim_sql('q.v', 'c.v')}, 6) AS sim
          FROM e q CROSS JOIN e c WHERE q.vec_id <> c.vec_id),
    k AS (SELECT qa, qb, la, lb, sim,
                 row_number() OVER (PARTITION BY qa
                                    ORDER BY sim DESC, qb) AS rn
          FROM p),
    neg AS (SELECT qa, qb, sim,
                   row_number() OVER (PARTITION BY qa
                                      ORDER BY sim DESC, qb) AS neg_rank
            FROM k WHERE rn <= 13 AND la <> lb)
    SELECT qa AS anchor_id, qb AS neg_id, sim AS distance, neg_rank
    FROM neg WHERE neg_rank <= 3
    """,
)
def hard_negatives_embeddings(spark, sf_dir):
    """Hard-negative mining for contrastive training
    (operators/negatives.py): each vector's 3 nearest OTHER-LABEL
    neighbors — the near-miss examples a contrastive loss learns most
    from (ANCE posture). Positives = same-label pairs; ANN horizon
    k_neg+slack=13 absorbs positives removed by the anti-join. Exact
    tier is the oracle; production swaps the knn strategy ladder."""
    from semantic_ann_in_data_lake_spark.operators.negatives import (
        hard_negative_mine,
    )

    emb = _t(spark, sf_dir, "embeddings")
    positives = (
        emb.alias("a")
        .join(emb.alias("b"), F.expr("a.label = b.label AND a.vec_id < b.vec_id"))
        .select(F.col("a.vec_id").alias("a_id"), F.col("b.vec_id").alias("b_id"))
    )
    return hard_negative_mine(
        emb, positives, "vec_id", "embedding", k_neg=3, slack=10,
        metric="cosine", strategy="exact",
    )


@register(
    "ivf_index_build_refresh_check",
    """
    SELECT 0::BIGINT AS vec_id, 0::INT AS stored_cell, 0::INT AS want_cell
    WHERE FALSE
    """,
)
def ivf_index_build_refresh_check(spark, sf_dir):
    """Persistent IVF index lifecycle (operators/ivf_index.py): build
    over the first 80% of vectors, refresh-append the remaining 20%
    under the STORED centroids (no refit, no touch of existing cells),
    then emit every stored assignment that is not the argmin cell —
    empty iff the incremental path equals a from-scratch assignment.
    The checks.py posture: a distributed property as a WHERE FALSE
    oracle."""
    import os

    from semantic_ann_in_data_lake_spark.operators.ivf_index import (
        build_ivf_index, index_assignment_violations, refresh_ivf_index,
    )

    emb = _t(spark, sf_dir, "embeddings")
    path = os.path.join(
        "/tmp/sals_gate/ivf_index",
        os.path.basename(os.path.normpath(sf_dir)),
    )
    base = emb.where(F.crc32(F.col("vec_id").cast("string")) % 5 != 0)
    delta = emb.where(F.crc32(F.col("vec_id").cast("string")) % 5 == 0)
    build_ivf_index(base, path, nlist=8)
    refresh_ivf_index(spark, path, delta)
    return index_assignment_violations(spark, path)


@register("ivf_index_search_distcheck", _KNN_CHECK_EMPTY_SQL)
def ivf_index_search_distcheck(spark, sf_dir):
    """Contract gate for the PERSISTED index's search path
    (operators/ivf_index.py::search_ivf_index): empty iff every
    neighbor served from the on-disk cells carries the exact L2²
    distance and a consistent rank — the reference's own ANN contract
    (annIndex.py:21-40: approximate neighbors, exact distances)
    holding across build → refresh → reload."""
    import os

    from semantic_ann_in_data_lake_spark.operators import checks
    from semantic_ann_in_data_lake_spark.operators.ivf_index import (
        search_ivf_index,
    )

    from semantic_ann_in_data_lake_spark.operators.ivf_index import (
        build_ivf_index,
    )

    emb = _t(spark, sf_dir, "embeddings")
    # own subdir, rebuilt every run: reusing another query's artifact
    # (or a previous session's, via an exists-check) would verify a
    # STALE index against fresh vectors — vacuous if the stale ids
    # drop out of the invariant join, spuriously red otherwise
    path = os.path.join(
        "/tmp/sals_gate/ivf_index",
        os.path.basename(os.path.normpath(sf_dir)),
        "search",
    )
    build_ivf_index(emb, path, nlist=8)
    res = search_ivf_index(spark, path, emb, k=5, nprobe=4)
    return checks.knn_invariant_violations(res, emb, metric="l2_sq")


@register("knn_pq_l2", _KNN_CHECK_EMPTY_SQL)
def knn_pq_l2(spark, sf_dir):
    """Product-quantization/ADC kNN tier (operators/pq.py), exposed as
    its contract projection: an ADC distance is BY DEFINITION the exact
    L2² between the raw query and the RECONSTRUCTED candidate, so
    decoding the codes (pq.pq_decode) turns the approximate tier into
    an invariant-gated one — empty iff every reported distance matches
    the decode-side recompute and ranks are consistent. Codebooks and
    codes re-derive deterministically (seeded, id-sorted sample), so
    the check replays the exact same quantization. Recall@10 ≥ 0.7 vs
    exact is pinned by test_knn_pq_recall_and_contract; raw rows via
    ``knn_join(strategy="pq")`` and bench `knn_pq_k10`."""
    from semantic_ann_in_data_lake_spark.operators import checks
    from semantic_ann_in_data_lake_spark.operators.pq import (
        knn_pq, pq_decode, pq_encode, train_pq_codebooks,
    )

    emb = _t(spark, sf_dir, "embeddings")
    res = knn_pq(emb, emb, k=5)
    books = train_pq_codebooks(emb)
    decoded = pq_decode(pq_encode(emb, books), books)
    return checks.knn_invariant_violations(
        res, emb, metric="l2_sq", cand_emb=decoded
    )


@register("knn_ivf_pq_l2", _KNN_CHECK_EMPTY_SQL)
def knn_ivf_pq_l2(spark, sf_dir):
    """IVF-PQ combined tier (operators/pq.py knn_ivf_pq — the
    both-sides-huge cell shuffle carrying m uint8 codes per vector),
    exposed as its contract projection: a residual-frame ADC distance
    is the exact L2² between the raw query and centroid(cell) +
    decoded residual (‖(q−c)−r‖ = ‖q−(c+r)‖), so replaying the
    deterministic quantizer (pq.fit_ivf_pq / ivf_pq_encode /
    ivf_pq_decode) and recomputing decode-side turns the approximation
    into an invariant — empty iff every reported distance matches and
    ranks are consistent. Recall/determinism test-pinned; raw rows via
    ``pq.knn_ivf_pq`` and bench `knn_ivf_pq_k10`."""
    from semantic_ann_in_data_lake_spark.operators import checks
    from semantic_ann_in_data_lake_spark.operators.knn import _prep
    from semantic_ann_in_data_lake_spark.operators.pq import (
        fit_ivf_pq, ivf_pq_decode, ivf_pq_encode, knn_ivf_pq,
    )

    emb = _t(spark, sf_dir, "embeddings")
    res = knn_ivf_pq(emb, emb, k=5, nlist=16, nprobe=8)
    cents, books = fit_ivf_pq(
        _prep(emb, "vec_id", "embedding", "cand"), nlist=16
    )
    decoded = ivf_pq_decode(ivf_pq_encode(emb, cents, books), cents, books)
    return checks.knn_invariant_violations(
        res, emb, metric="l2_sq", cand_emb=decoded
    )


@register("knn_pq_refine_l2", _KNN_CHECK_EMPTY_SQL)
def knn_pq_refine_l2(spark, sf_dir):
    """Broadcast-PQ + exact re-rank tier (operators/pq.py
    knn_pq_refine — the refine stage applied to the broadcast/ADC
    shortlist), exposed as its contract projection: true L2²
    distances, so the symmetric invariant projection gates it with no
    decode replay — empty iff every returned distance equals the
    exact recompute from raw vectors and ranks are consecutive,
    monotone, tie-broken by cand_id. Raw rows via
    ``knn_join(strategy="pq_refine")``."""
    from semantic_ann_in_data_lake_spark.operators import checks

    emb = _t(spark, sf_dir, "embeddings")
    res = knn_join(
        emb, emb, k=5, strategy="pq_refine", refine_factor=3
    )
    return checks.knn_invariant_violations(res, emb, metric="l2_sq")


@register("knn_ivf_pq_refine_l2", _KNN_CHECK_EMPTY_SQL)
def knn_ivf_pq_refine_l2(spark, sf_dir):
    """IVF-PQ + exact re-rank tier (operators/pq.py
    knn_ivf_pq_refine — the FAISS IndexRefineFlat shape: ADC shortlist
    of k·refine_factor, re-scored on RAW vectors), exposed as its
    contract projection. Because the refine stage returns true L2²
    distances, the SYMMETRIC invariant projection applies — no decode
    replay needed, exactly like the LSH/IVF gates: empty iff every
    returned distance equals the exact recompute from raw vectors and
    ranks are consecutive, monotone, tie-broken by cand_id. The
    shortlist-vs-final recall uplift is hash-gated by
    `pq_recall_report`; raw rows via
    ``knn_join(strategy="ivf_pq_refine")`` and bench
    `knn_ivf_pq_refine_k10`."""
    from semantic_ann_in_data_lake_spark.operators import checks

    emb = _t(spark, sf_dir, "embeddings")
    res = knn_join(
        emb, emb, k=5, strategy="ivf_pq_refine", nlist=16, nprobe=8,
        refine_factor=3,
    )
    return checks.knn_invariant_violations(res, emb, metric="l2_sq")


# ---------------------------------------------------------------------------
# Recall meta-gates for the IVF and PQ ladders (mirrors
# lsh_recall_report's design): the approximation ERROR itself is a
# hash-gated number, not a pytest assertion. The production fits
# (sample-Lloyd / k-means||) are not SQL-expressible, so the reports run
# the IDENTICAL mechanism over a hash-picked fit both engines can
# compute: centroids/codewords are the corpus vectors with the smallest
# (md5(vec_id), vec_id) — the probe geometry, cell assignment, ADC
# quantization, ranking, and the recall arithmetic are then replicated
# end-to-end in DuckDB. Fit QUALITY of the production quantizers stays
# pinned by the pytest recall floors; these rows pin the mechanism's
# recall as an official number (reference intent:
# SemLink/join_discoverer.py:425-451 quality reporting).
# ---------------------------------------------------------------------------


def _md5_first16(frame):
    """The 16 rows of ``frame`` with the smallest (md5(vec_id), vec_id):
    the hash-picked fit or seed set both engines can select."""
    by_hash = frame.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
    return by_hash.limit(16)


_EXACT_TOPK_CTE = f"""
    exact AS (
      SELECT query_id, cand_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY round({l2_sq_sql('q.v', 'c.v')}, 6) ASC,
                          c.vec_id ASC) AS rnk
        FROM e q, e c WHERE q.vec_id <> c.vec_id
      ) WHERE rnk <= 5
    )
"""


@register(
    "ivf_recall_report",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cents AS (
      SELECT vec_id AS cid, v AS cv FROM e
      ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 16
    ),
    ad AS (
      SELECT e.vec_id, cid,
             row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY round({l2_sq_sql('e.v', 'cv')}, 6) ASC, cid ASC
             ) AS rnk
      FROM e, cents
    ),
    assign AS (SELECT vec_id, cid AS cell FROM ad WHERE rnk = 1),
    probes AS (SELECT vec_id AS query_id, cid AS cell FROM ad WHERE rnk <= 4),
    pop AS (SELECT cell, count(*) AS pop FROM assign GROUP BY 1),
    {_EXACT_TOPK_CTE},
    hit AS (
      SELECT exact.query_id, exact.cand_id
      FROM exact
      JOIN assign a ON exact.cand_id = a.vec_id
      JOIN probes p ON p.query_id = exact.query_id AND p.cell = a.cell
    )
    SELECT (SELECT count(*) FROM e)::BIGINT AS n_queries,
           (SELECT count(*) FROM exact)::BIGINT AS n_exact,
           ((SELECT sum(pop.pop) FROM probes JOIN pop USING (cell))
             - (SELECT count(*) FROM e))::BIGINT AS n_candidates,
           (SELECT count(*) FROM hit)::BIGINT AS n_found,
           (1000 * (SELECT count(*) FROM hit)
              // greatest((SELECT count(*) FROM exact), 1))::BIGINT
             AS recall_x1000
    """,
)
def ivf_recall_report(spark, sf_dir):
    """Official CANDIDATE recall of the IVF probe mechanism at
    nlist=16/nprobe=4: the fraction of exact top-5 neighbor pairs whose
    candidate lives in one of the query's probed cells — the quantity
    nprobe trades away. Assignment distances are rounded 6 dp with a
    centroid-id tie-break, so cell membership is cross-engine exact.
    The candidate SET is never materialized (it is Θ(n²·nprobe/nlist)
    rows at fixed nlist — the first committed shape measured 22× for
    10× data): found-pairs come from joining the n·k exact pairs
    against the assignment (a pair is a candidate iff its cand's cell
    is among its query's probed cells, and cells partition candidates,
    so no distinct is needed), and the candidate COUNT is the
    population sum over probed cells minus the n self-pairs. The only
    quadratic piece left is the exact broadcast baseline itself —
    gate/audit query, not a production path. The synthetic embeddings
    are uniform-random (no cluster structure), so the gated number is a
    pessimistic floor for real corpora; the trained-fit path's recall
    is gated by `ivf_lloyd_recall_report`, and production k-means||
    recall floors stay in pytest."""
    emb = _t(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cents = _md5_first16(e).select(
        F.col("vec_id").alias("cell"), F.col("v").alias("centroid")
    )
    return _ivf_candidate_recall(emb, e, cents)


def _ivf_candidate_recall(emb, e, cents, nprobe: int = 4):
    """Shared report arithmetic of the IVF recall gates: probe
    geometry, cell assignment, exact-top-5 hit join, and the
    population-sum candidate count (never materializing the
    Θ(n²·nprobe/nlist) candidate set — see ivf_recall_report).
    ``cents`` is the ``(cell, centroid)`` table."""
    ad = scoped_persist(
        _nearest_cells_declarative(e, cents, "v", nprobe).select(
            "vec_id", "cell", "cell_rank"
        )
    )
    assign = ad.filter(F.col("cell_rank") == 1).select(
        F.col("vec_id").alias("cand_id"), "cell"
    )
    probes = scoped_persist(
        ad.select(F.col("vec_id").alias("query_id"), "cell")
    )
    # candidate COUNT without materializing the Θ(n²·nprobe/nlist)
    # candidate-pair set: population sum over probed cells minus the n
    # self-pairs (every query's own cell is its rank-1 probe)
    pop = assign.groupBy("cell").agg(F.count(F.lit(1)).alias("pop"))
    n_cand = (
        probes.join(F.broadcast(pop), "cell")
        .agg(F.sum("pop").alias("s"))
        .crossJoin(F.broadcast(e.agg(F.count(F.lit(1)).alias("n"))))
        .select((F.col("s") - F.col("n")).alias("n_candidates"))
    )
    exact = scoped_persist(
        knn_join(emb, emb, k=5, strategy="broadcast").select(
            "query_id", "cand_id"
        )
    )
    # a pair is a candidate iff its cand's cell is probed by its query;
    # cells PARTITION candidates, so the join cannot duplicate pairs
    hit = exact.join(
        assign, "cand_id"
    ).join(probes, ["query_id", "cell"])
    nq = e.agg(F.count(F.lit(1)).alias("n_queries"))
    na = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    nc = n_cand
    nf = hit.agg(F.count(F.lit(1)).alias("n_found"))
    return (
        nq.crossJoin(F.broadcast(na))
        .crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(nf))
        .select(
            "n_queries",
            "n_exact",
            "n_candidates",
            "n_found",
            F.floor(
                (F.lit(1000) * F.col("n_found"))
                / F.greatest(F.col("n_exact"), F.lit(1))
            ).cast("long").alias("recall_x1000"),
        )
    )


def _ivf_lloyd_oracle(iters: int = 2, nprobe: int = 4) -> str:
    """DuckDB twin of the Lloyd-fit IVF recall gate: hash-picked init,
    ``iters`` deterministic Lloyd steps (6-dp-rounded assignment with
    centroid-id tie-break; per-dimension means summed as DECIMAL(28,6)
    over 6-dp-rounded inputs, ROUND_BIAS-nudged back to 6-dp doubles —
    bit-identical in both engines), then the ivf_recall_report tail."""
    blocks = []
    prev = "c0"
    for t in range(1, iters + 1):
        blocks.append(f"""
    a{t} AS (
      SELECT vec_id, v, cid FROM (
        SELECT e.vec_id, e.v, p.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY round({l2_sq_sql('e.v', 'p.cv')}, 6) ASC,
                          p.cid ASC) AS rnk
        FROM e, {prev} p
      ) WHERE rnk = 1
    ),
    m{t} AS (
      SELECT cid, i,
             round((sum(round(v[i], 6)::DECIMAL(28,6))::DOUBLE
                    / count(*)) + 1e-9, 6) AS mx
      FROM (SELECT cid, v, unnest(range(1, len(v) + 1)) AS i FROM a{t})
      GROUP BY cid, i
    ),
    c{t} AS (
      SELECT p.cid, coalesce(n.cv, p.cv) AS cv
      FROM {prev} p LEFT JOIN
        (SELECT cid, list(mx ORDER BY i) AS cv FROM m{t} GROUP BY cid) n
        ON p.cid = n.cid
    )""")
        prev = f"c{t}"
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    c0 AS (
      SELECT vec_id AS cid, v AS cv FROM e
      ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 16
    ),{",".join(blocks)},
    ad AS (
      SELECT e.vec_id, cid,
             row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY round({l2_sq_sql('e.v', 'cv')}, 6) ASC, cid ASC
             ) AS rnk
      FROM e, {prev}
    ),
    assign AS (SELECT vec_id, cid AS cell FROM ad WHERE rnk = 1),
    probes AS (SELECT vec_id AS query_id, cid AS cell FROM ad
               WHERE rnk <= {nprobe}),
    pop AS (SELECT cell, count(*) AS pop FROM assign GROUP BY 1),
    {_EXACT_TOPK_CTE},
    hit AS (
      SELECT exact.query_id, exact.cand_id
      FROM exact
      JOIN assign a ON exact.cand_id = a.vec_id
      JOIN probes p ON p.query_id = exact.query_id AND p.cell = a.cell
    )
    SELECT (SELECT count(*) FROM e)::BIGINT AS n_queries,
           (SELECT count(*) FROM exact)::BIGINT AS n_exact,
           ((SELECT sum(pop.pop) FROM probes JOIN pop USING (cell))
             - (SELECT count(*) FROM e))::BIGINT AS n_candidates,
           (SELECT count(*) FROM hit)::BIGINT AS n_found,
           (1000 * (SELECT count(*) FROM hit)
              // greatest((SELECT count(*) FROM exact), 1))::BIGINT
             AS recall_x1000
    """


@register("ivf_lloyd_recall_report", _ivf_lloyd_oracle())
def ivf_lloyd_recall_report(spark, sf_dir):
    """Official candidate recall of the TRAINED IVF fit path — the
    sibling of `ivf_recall_report` (which pins the raw hash-picked
    init): centroids here are 2 deterministic Lloyd iterations from
    that init, i.e. the exact update rule the production fits
    (fit="sample" driver-Lloyd and fit="kmeans_ml" k-means||) apply,
    with cross-engine-exact arithmetic so DuckDB replicates the fit
    end-to-end: assignments use 6-dp-rounded distances with
    centroid-id tie-breaks, per-dimension means sum 6-dp-rounded
    inputs as DECIMAL(28,6) (partition-order-independent), and empty
    cells keep their previous centroid. kmeans_ml ITSELF is not
    oracle-replicable (its float reductions are partition-order
    dependent); its recall floor stays in pytest — this row pins the
    Lloyd mechanism's recall as the official trained-fit number.
    Quadratic only in the exact baseline; candidate counts via
    population sums (shared `_ivf_candidate_recall` tail)."""
    emb = _t(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cents = _md5_first16(e).select(
        F.col("vec_id").alias("cell"), F.col("v").alias("centroid")
    )
    for _ in range(2):
        assign = _nearest_cells_declarative(e, cents, "v")
        means = (
            assign.select("cell", F.posexplode("v").alias("i", "x"))
            .groupBy("cell", "i")
            .agg(
                F.round(
                    (
                        F.sum(
                            F.round(F.col("x"), 6).cast("decimal(28,6)")
                        ).cast("double")
                        / F.count(F.lit(1))
                    )
                    + F.lit(1e-9),
                    6,
                ).alias("mx")
            )
        )
        newc = means.groupBy("cell").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "mx"))),
                lambda s: s["mx"],
            ).alias("centroid")
        )
        cents = (
            cents.select("cell", F.col("centroid").alias("__old"))
            .join(newc, "cell", "left")
            .select("cell", F.coalesce("centroid", "__old").alias("centroid"))
        )
    return _ivf_candidate_recall(emb, e, cents)


@register(
    "pq_recall_report",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cw AS (
      SELECT vec_id AS wid, v AS wv FROM e
      ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 16
    ),
    ss AS (SELECT unnest(range(0, 4)) AS s),
    sub AS (
      SELECT vec_id, s, list_slice(v, s * 16 + 1, s * 16 + 16) AS sv
      FROM e, ss
    ),
    wsub AS (
      SELECT wid, s, list_slice(wv, s * 16 + 1, s * 16 + 16) AS wsv
      FROM cw, ss
    ),
    enc AS (
      SELECT vec_id, s, wid FROM (
        SELECT sub.vec_id, sub.s, wsub.wid,
               row_number() OVER (
                 PARTITION BY sub.vec_id, sub.s
                 ORDER BY round({l2_sq_sql('sv', 'wsv')}, 6) ASC, wid ASC
               ) AS rnk
        FROM sub JOIN wsub ON sub.s = wsub.s
      ) WHERE rnk = 1
    ),
    dec AS (
      SELECT enc.vec_id, flatten(list(wsv ORDER BY enc.s)) AS dv
      FROM enc JOIN wsub ON enc.s = wsub.s AND enc.wid = wsub.wid
      GROUP BY enc.vec_id
    ),
    short AS (
      SELECT query_id, cand_id, rnk FROM (
        SELECT q.vec_id AS query_id, d.vec_id AS cand_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY round({l2_sq_sql('q.v', 'd.dv')}, 6) ASC,
                          d.vec_id ASC) AS rnk
        FROM e q JOIN dec d ON q.vec_id <> d.vec_id
      ) WHERE rnk <= 15
    ),
    approx AS (SELECT query_id, cand_id FROM short WHERE rnk <= 5),
    refined AS (
      SELECT query_id, cand_id FROM (
        SELECT s.query_id, s.cand_id,
               row_number() OVER (
                 PARTITION BY s.query_id
                 ORDER BY round({l2_sq_sql('q.v', 'c.v')}, 6) ASC,
                          s.cand_id ASC) AS rr
        FROM short s
        JOIN e q ON s.query_id = q.vec_id
        JOIN e c ON s.cand_id = c.vec_id
      ) WHERE rr <= 5
    ),
    {_EXACT_TOPK_CTE},
    hit AS (SELECT * FROM exact INTERSECT SELECT * FROM approx),
    hs AS (SELECT * FROM exact
           INTERSECT SELECT query_id, cand_id FROM short),
    hr AS (SELECT * FROM exact INTERSECT SELECT * FROM refined)
    SELECT (SELECT count(*) FROM e)::BIGINT AS n_queries,
           (SELECT count(*) FROM exact)::BIGINT AS n_exact,
           (SELECT count(*) FROM approx)::BIGINT AS n_approx,
           (SELECT count(*) FROM hit)::BIGINT AS n_found,
           (1000 * (SELECT count(*) FROM hit)
              // greatest((SELECT count(*) FROM exact), 1))::BIGINT
             AS recall_x1000,
           (SELECT count(*) FROM hs)::BIGINT AS n_short_found,
           (SELECT count(*) FROM hr)::BIGINT AS n_refined_found,
           (1000 * (SELECT count(*) FROM hr)
              // greatest((SELECT count(*) FROM exact), 1))::BIGINT
             AS refined_x1000
    """,
)
def pq_recall_report(spark, sf_dir):
    """Official top-k recall of the PQ/ADC quantization at m=4 (16-dim
    subspaces) and ksub=16: candidates are replaced by their nearest
    codeword per subspace (6-dp rounded assignment, codeword-id
    tie-break), queries rank the RECONSTRUCTED candidates exactly
    (ADC decomposes: Σ_s ‖q_s − cw_s‖² = ‖q − concat(cw_s)‖²), and the
    report counts how many exact top-5 pairs the quantized ranking
    retains. Round 9 extends it with the REFINE tier's arithmetic
    (knn_ivf_pq_refine): the ADC top-15 shortlist re-ranked exactly on
    raw vectors — (n_short_found, n_refined_found, refined_x1000)
    show shortlist recall vs final recall next to the ADC-only
    recall_x1000, pinning the re-rank uplift as an official number
    (n_refined_found == n_short_found by the monotonicity argument in
    knn_ivf_pq_refine's docstring — the gate proves it, not assumes
    it). The decode-side scoring reuses the gated broadcast kNN tier;
    quadratic by design — gate/audit query. Uniform-random 64-dim
    embeddings quantize worst-case (no subspace structure), so the
    gated number is a pessimistic floor; the production k-means
    codebooks' recall floors stay in pytest."""
    from pyspark.sql.window import Window as _Win

    from semantic_ann_in_data_lake_spark.functions.vectors import l2_sq

    emb = _t(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cw = _md5_first16(e).select(
        F.col("vec_id").alias("wid"), F.col("v").alias("wv")
    )
    ss = F.explode(F.sequence(F.lit(0), F.lit(3))).alias("s")
    sub = e.select("vec_id", "v", ss).select(
        "vec_id",
        "s",
        F.slice(F.col("v"), F.col("s") * 16 + 1, 16).alias("sv"),
    )
    wsub = cw.select("wid", "wv", ss).select(
        "wid",
        "s",
        F.slice(F.col("wv"), F.col("s") * 16 + 1, 16).alias("wsv"),
    )
    enc = (
        sub.join(F.broadcast(wsub), "s")
        .withColumn("d", F.round(l2_sq("sv", "wsv"), 6))
        .withColumn(
            "rnk",
            F.row_number().over(
                _Win.partitionBy("vec_id", "s").orderBy(
                    F.col("d").asc(), F.col("wid").asc()
                )
            ),
        )
        .filter(F.col("rnk") == 1)
        .select("vec_id", "s", "wid")
    )
    dec = (
        enc.join(F.broadcast(wsub), ["s", "wid"])
        .groupBy("vec_id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("s", "wsv"))
                    ),
                    lambda st: st["wsv"],
                )
            ).alias("embedding")
        )
    )
    # ONE quadratic ADC pass serves both numbers: the top-15 shortlist
    # IS the refine stage's input and its first 5 rows are the
    # ADC-only answer
    short = scoped_persist(
        knn_join(emb, dec, k=15, strategy="broadcast").select(
            "query_id", "cand_id", "rank"
        )
    )
    approx = short.where(F.col("rank") <= 5).select("query_id", "cand_id")
    exact = scoped_persist(
        knn_join(emb, emb, k=5, strategy="broadcast").select(
            "query_id", "cand_id"
        )
    )
    # exact re-rank of the shortlist (the refine tier's own re-score
    # and top-k, n·15 pairs — not quadratic)
    refined = _ranked_topk(
        _rescore_pairs(short, e, e, "vec_id", "v", 6), 5, "l2_sq"
    ).select("query_id", "cand_id")
    hit = exact.join(approx, ["query_id", "cand_id"])
    hit_s = exact.join(
        short.select("query_id", "cand_id"), ["query_id", "cand_id"]
    )
    hit_r = exact.join(refined, ["query_id", "cand_id"])
    nq = e.agg(F.count(F.lit(1)).alias("n_queries"))
    na = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    nx = approx.agg(F.count(F.lit(1)).alias("n_approx"))
    nf = hit.agg(F.count(F.lit(1)).alias("n_found"))
    ns = hit_s.agg(F.count(F.lit(1)).alias("n_short_found"))
    nr = hit_r.agg(F.count(F.lit(1)).alias("n_refined_found"))
    return (
        nq.crossJoin(F.broadcast(na))
        .crossJoin(F.broadcast(nx))
        .crossJoin(F.broadcast(nf))
        .crossJoin(F.broadcast(ns))
        .crossJoin(F.broadcast(nr))
        .select(
            "n_queries",
            "n_exact",
            "n_approx",
            "n_found",
            F.floor(
                (F.lit(1000) * F.col("n_found"))
                / F.greatest(F.col("n_exact"), F.lit(1))
            ).cast("long").alias("recall_x1000"),
            "n_short_found",
            "n_refined_found",
            F.floor(
                (F.lit(1000) * F.col("n_refined_found"))
                / F.greatest(F.col("n_exact"), F.lit(1))
            ).cast("long").alias("refined_x1000"),
        )
    )


_KCENTER_CHECK_EMPTY_SQL = """
    SELECT 0::INT AS center_rank, 0::BIGINT AS vec_id,
           0.0 AS reported, 0.0 AS expected, '' AS violation
    WHERE FALSE
"""


@register("kcenter_check", _KCENTER_CHECK_EMPTY_SQL)
def kcenter_check(spark, sf_dir):
    """Contract gate for greedy k-center coreset selection
    (operators/coreset.py, Gonzalez 1985 / Sener & Savarese 2018):
    empty iff the emitted 16 centers are the true farthest-first
    traversal of the embedding corpus — every center's radius equals
    its recomputed min distance to earlier centers, no corpus vector
    beats any round's argmax, and radii are non-increasing. The
    diversity-selection leg beside DSIR (distribution matching) and
    SemDeDup (redundancy removal)."""
    from semantic_ann_in_data_lake_spark.operators.coreset import (
        kcenter_coreset,
        kcenter_invariant_violations,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return kcenter_invariant_violations(kcenter_coreset(emb, k=16), emb)


# ---------------------------------------------------------------------------
# Embedding projection preprocessing (operators/embedproj.py): PCA +
# JL rotation front end for the ANN ladder (FAISS PCAMatrix / OPQ
# shape; Achlioptas 2003 sign projections)
# ---------------------------------------------------------------------------

from semantic_ann_in_data_lake_spark.operators.embedproj import (  # noqa: E402
    covariance_sql as _embedproj_covariance_sql,
    jl_sql as _embedproj_jl_sql,
)



@register("embedding_covariance", _embedproj_covariance_sql())
def embedding_covariance(spark, sf_dir):
    """Exact upper-triangle covariance relation of the 6-dp-quantized
    embedding corpus — the distributed, hash-gateable half of the PCA
    fit (`operators/embedproj.py`): one row-local explode of the
    d(d+1)/2 pair terms, one keyed DECIMAL aggregate with map-side
    combine (shuffle = |partitions|·d² partial sums, never rows·d²).
    The driver-side eigh consumes exactly this relation, so gating it
    gates the fit's entire distributed surface."""
    from semantic_ann_in_data_lake_spark.operators import embedproj

    return embedproj.embedding_covariance(_t(spark, sf_dir, "embeddings"))


@register("jl_project_emb", _embedproj_jl_sql(as_string=True))
def jl_project_emb(spark, sf_dir):
    """Johnson-Lindenstrauss ±1 sign projection of the embedding corpus
    to 16 dims (Achlioptas 2003) — the data-oblivious alternative to
    the PCA rotation. The sign matrix derives from md5 ascii parity,
    which Python, Spark and DuckDB agree on, so the PROJECTED VECTORS
    are hash-gated directly (the oracle recomputes the signs in SQL —
    it does not trust the driver's literals). Pure JVM folds; no fit
    pass, no shuffle. The projection is '%.6f'/'|'-serialized for the
    driver's pandas canonicalizer (the typed array<double> stays on the
    operator API)."""
    from semantic_ann_in_data_lake_spark.operators import embedproj

    out = embedproj.jl_transform(_t(spark, sf_dir, "embeddings"))
    return out.select(
        "vec_id",
        F.array_join(
            F.transform("proj", lambda x: F.format_string("%.6f", x)), "|"
        ).alias("proj"),
    )


_PCA_CHECK_EMPTY_SQL = """
    SELECT 0::BIGINT AS vec_id, 0.0 AS norm_in, 0.0 AS norm_out,
           '' AS violation, '' AS mode
    WHERE FALSE
"""


@register("pca_rotation_check", _PCA_CHECK_EMPTY_SQL)
def pca_rotation_check(spark, sf_dir):
    """Contract gate for the PCA rotation (`operators/embedproj.py`):
    empty iff the full-rank rotation preserves every centered norm
    (orthonormality surfaced on real data) AND the top-16 projection is
    non-expansive, row by row. The eigendecomposition itself is a
    driver-side d×d problem whose distributed input is hash-gated by
    `embedding_covariance`; this check closes the loop on the rotation
    it produces. Explained-variance ordering and numpy parity stay in
    pytest."""
    from semantic_ann_in_data_lake_spark.operators import embedproj

    emb = _t(spark, sf_dir, "embeddings")
    full = embedproj.pca_fit(emb)
    reduced = embedproj.PCAModel(
        mean=full.mean,
        components=full.components[:16],
        explained_var=full.explained_var[:16],
        n=full.n,
    )
    a = embedproj.pca_invariant_violations(emb, full).withColumn(
        "mode", F.lit("full_rank")
    )
    b = embedproj.pca_invariant_violations(emb, reduced).withColumn(
        "mode", F.lit("top16")
    )
    return a.unionByName(b)


@register("knn_pca_refine_l2", _KNN_CHECK_EMPTY_SQL)
def knn_pca_refine_l2(spark, sf_dir):
    """The rotate→compress→refine ANN ladder (PCA top-32 subspace →
    IVF shortlist → exact re-rank on raw vectors), exposed as its
    contract projection: empty iff every returned neighbor carries the
    TRUE L2² distance and a consistent rank — the same symmetric
    invariant the LSH/IVF/refine tiers gate through. Recall floors and
    the m-sweep stay in pytest; raw rows via
    ``knn_join(strategy="pca_refine")`` and bench `knn_pca_refine_k10`."""
    from semantic_ann_in_data_lake_spark.operators import checks

    emb = _t(spark, sf_dir, "embeddings")
    return checks.knn_invariant_violations(
        knn_join(emb, emb, k=5, strategy="pca_refine"), emb, metric="l2_sq"
    )


@register("knn_opq_refine_l2", _KNN_CHECK_EMPTY_SQL)
def knn_opq_refine_l2(spark, sf_dir):
    """OPQ-shaped ANN tier (Ge et al. 2013 / FAISS OPQMatrix+IVFPQ+
    refine): energy-interleaved full-rank PCA rotation (L2-preserving),
    compressed IVF-PQ shortlist over the ROTATED vectors, exact re-rank
    on raw — exposed as its contract projection: empty iff every
    returned neighbor carries the TRUE L2² distance and a consistent
    rank. On correlated real-world spectra the balanced rotation is
    what makes m-way PQ codebooks efficient; on the near-isotropic
    synthetic fixture recall parity with plain ivf_pq_refine is pinned
    in pytest (there is no correlation structure to exploit — the gate
    here guards the CONTRACT, not an uplift)."""
    from semantic_ann_in_data_lake_spark.operators import checks

    emb = _t(spark, sf_dir, "embeddings")
    return checks.knn_invariant_violations(
        knn_join(emb, emb, k=5, strategy="opq_refine"), emb, metric="l2_sq"
    )


_WHITEN_CHECK_EMPTY_SQL = """
    SELECT 0::INT AS i, 0::INT AS j, 0.0 AS cov, 0.0 AS expected,
           '' AS violation
    WHERE FALSE
"""


@register("pca_whitening_check", _WHITEN_CHECK_EMPTY_SQL)
def pca_whitening_check(spark, sf_dir):
    """Contract gate for PCA whitening (`operators/embedproj.py::
    pca_whiten_model` — the standard retrieval-embedding
    post-processing; FAISS PCAMatrix(eigen_power=-0.5)): the whitened
    corpus's own covariance, recomputed by the exact distributed
    covariance pass, must be the IDENTITY — a wrong eigenvalue,
    mis-scaled axis, or stale mean all surface as non-identity
    entries. Checked at full rank AND at m=16 (whitening must compose
    with truncation); numpy parity stays in pytest."""
    from semantic_ann_in_data_lake_spark.operators import embedproj

    emb = _t(spark, sf_dir, "embeddings")
    full = embedproj.pca_fit(emb)
    reduced = embedproj.PCAModel(
        mean=full.mean,
        components=full.components[:16],
        explained_var=full.explained_var[:16],
        n=full.n,
    )
    return embedproj.whitening_violations(emb, model=full).unionByName(
        embedproj.whitening_violations(emb, model=reduced)
    )


# ---------------------------------------------------------------------------
# NN-descent (round 9): the graph-based ANN family (Dong et al. 2011).
# Unlike the LSH/IVF/PQ tiers the FULL mechanism is SQL-expressible —
# init buckets are md5-hex arithmetic, every round is a join + window
# over rounded distances — so the recall report's oracle replicates the
# entire T-round build end-to-end in DuckDB (MATERIALIZED CTEs: DuckDB
# would otherwise re-inline each round into the next and the oracle
# goes quadratic in wall-clock, measured 73s -> 0.6s at sf0.01).
# ---------------------------------------------------------------------------

_NND_K, _NND_ITERS, _NND_SEED = 5, 3, 42
_NND_RK = 3 * _NND_K


def _nndescent_oracle_sql(k: int, iters: int, seed: int, rk: int) -> str:
    """DuckDB replication of `operators/nndescent.nndescent_knn_graph`
    + the recall arithmetic of `nndescent_recall_vs_exact`. One CTE
    block per descent round, generated by the same loop shape as the
    Spark build so the two can't drift apart silently."""

    def bucket(name: str, s: int) -> str:
        return (
            f"{name} AS (SELECT vec_id, (('0x'||substr(md5('{s}:'||vec_id::VARCHAR),1,8))::BIGINT"
            f" % (SELECT nb FROM nn)) AS b FROM e)"
        )

    def scored(pairs: str, out: str) -> str:
        return (
            f"{out} AS MATERIALIZED (SELECT p.query_id, p.cand_id,"
            f" round({l2_sq_sql('q.v', 'c.v')}, 6) AS d"
            f" FROM {pairs} p JOIN e q ON q.vec_id = p.query_id"
            f" JOIN e c ON c.vec_id = p.cand_id)"
        )

    def topk(s: str, out: str) -> str:
        return (
            f"{out} AS MATERIALIZED (SELECT query_id, cand_id, d FROM ("
            f"SELECT s.*, row_number() OVER (PARTITION BY query_id"
            f" ORDER BY d ASC, cand_id ASC) AS rnk FROM {s} s) WHERE rnk <= {k})"
        )

    ctes = [
        "e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        f"nn AS (SELECT greatest(1, (count(*) + {k}) // {k + 1}) AS nb FROM e)",
        bucket("b0", seed),
        bucket("b1", seed + 1),
        (
            "p0raw AS (SELECT a.vec_id AS query_id, b.vec_id AS cand_id"
            " FROM b0 a JOIN b0 b ON a.b = b.b AND a.vec_id <> b.vec_id"
            " UNION SELECT a.vec_id, b.vec_id"
            " FROM b1 a JOIN b1 b ON a.b = b.b AND a.vec_id <> b.vec_id)"
        ),
        # orphan fallback: nodes singleton in BOTH bucketings pair with
        # the globally smallest id (second-smallest if they ARE it) —
        # mirrors nndescent.py's coverage rule, a no-op when buckets
        # cover every node
        (
            "p0 AS (SELECT query_id, cand_id FROM p0raw"
            " UNION SELECT e.vec_id AS query_id,"
            " CASE WHEN e.vec_id = (SELECT min(vec_id) FROM e)"
            " THEN (SELECT vec_id FROM e ORDER BY vec_id LIMIT 1 OFFSET 1)"
            " ELSE (SELECT min(vec_id) FROM e) END AS cand_id"
            " FROM e WHERE (SELECT count(*) FROM e) >= 2"
            " AND e.vec_id NOT IN (SELECT query_id FROM p0raw))"
        ),
        scored("p0", "s0"),
        topk("s0", "g0"),
    ]
    for t in range(1, iters + 1):
        g = f"g{t - 1}"
        ctes += [
            (
                f"r{t} AS (SELECT query_id, cand_id FROM ("
                f"SELECT g.cand_id AS query_id, g.query_id AS cand_id,"
                f" row_number() OVER (PARTITION BY g.cand_id"
                f" ORDER BY g.d ASC, g.query_id ASC) AS rnk FROM {g} g)"
                f" WHERE rnk <= {rk})"
            ),
            (
                f"u{t} AS MATERIALIZED (SELECT query_id, cand_id FROM {g}"
                f" UNION SELECT query_id, cand_id FROM r{t})"
            ),
            (
                f"p{t} AS (SELECT a.cand_id AS query_id, b.cand_id AS cand_id"
                f" FROM u{t} a JOIN u{t} b"
                f" ON a.query_id = b.query_id AND a.cand_id <> b.cand_id"
                f" UNION SELECT query_id, cand_id FROM u{t})"
            ),
            scored(f"p{t}", f"s{t}"),
            topk(f"s{t}", f"g{t}"),
        ]
    ctes += [
        f"""exact AS MATERIALIZED (SELECT query_id, cand_id FROM (
          SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY round({l2_sq_sql('q.v', 'c.v')}, 6) ASC,
                            c.vec_id ASC) AS rnk
          FROM e q, e c WHERE q.vec_id <> c.vec_id) WHERE rnk <= {k})""",
        (
            f"hit AS (SELECT ex.query_id FROM exact ex"
            f" JOIN g{iters} g ON ex.query_id = g.query_id"
            f" AND ex.cand_id = g.cand_id)"
        ),
    ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
    SELECT (SELECT count(DISTINCT query_id) FROM exact)::BIGINT AS n_queries,
           (SELECT count(*) FROM exact)::BIGINT AS n_exact,
           (SELECT count(*) FROM hit)::BIGINT AS n_found,
           (1000 * (SELECT count(*) FROM hit)
              // greatest((SELECT count(*) FROM exact), 1))::BIGINT
             AS recall_x1000
    """
    )


@register("knn_nndescent_refine_l2", _KNN_CHECK_EMPTY_SQL)
def knn_nndescent_refine_l2(spark, sf_dir):
    """Graph-ANN in the top-32 principal subspace with exact re-rank
    on raw vectors (`operators/embedproj.py::knn_nndescent_refine` —
    the build-on-compressed / rank-on-raw pattern of the disk-resident
    graph indexes), exposed as its contract projection: empty iff
    every returned neighbor carries the TRUE L2² distance and a
    consistent rank. Recall floors (≥ the raw-space descent on
    clustered data at matched degree) stay in pytest; raw rows via
    ``knn_join(strategy="nndescent_refine")``."""
    from semantic_ann_in_data_lake_spark.operators import checks

    emb = _t(spark, sf_dir, "embeddings")
    return checks.knn_invariant_violations(
        knn_join(emb, emb, k=5, strategy="nndescent_refine"),
        emb,
        metric="l2_sq",
    )


@register("knn_nndescent_l2", _KNN_CHECK_EMPTY_SQL)
def knn_nndescent_l2(spark, sf_dir):
    """Graph-based approximate kNN via NN-descent (`operators/
    nndescent.py`), exposed as its contract projection: empty iff every
    edge of the T-round refined graph carries the exact L2² distance
    and a consecutive, monotone rank — the same approximate-neighbors/
    exact-distances contract the reference's HNSW layer promises
    (`DeepJoin/annIndex.py:21-40`). Mechanism recall is hash-gated by
    `nndescent_recall_report`; convergence on clustered data is pinned
    in pytest (blob fixture)."""
    from semantic_ann_in_data_lake_spark.operators import checks
    from semantic_ann_in_data_lake_spark.operators.nndescent import (
        nndescent_knn_graph,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return checks.knn_invariant_violations(
        nndescent_knn_graph(
            emb, k=_NND_K, iters=_NND_ITERS, seed=_NND_SEED, reverse_cap=_NND_RK
        ),
        emb,
        metric="l2_sq",
    )


@register(
    "nndescent_recall_report",
    _nndescent_oracle_sql(_NND_K, _NND_ITERS, _NND_SEED, _NND_RK),
)
def nndescent_recall_report(spark, sf_dir):
    """Official recall of the T=3 NN-descent build vs the exact top-5
    graph, as one integer row — the DuckDB oracle replays the ENTIRE
    mechanism (bucket init, 3 descent rounds, top-k selection on
    rounded distances), so a hash match certifies every round's edge
    set, not just the summary. The synthetic embeddings are
    uniform-random (no cluster structure for neighbor-of-neighbor
    locality to exploit), so the gated number is the algorithm's
    pessimistic floor — the same caveat `ivf_recall_report` documents;
    convergence on clustered corpora (recall > 0.9 in 5 rounds on
    Gaussian blobs) is pinned by pytest."""
    from semantic_ann_in_data_lake_spark.operators.nndescent import (
        nndescent_knn_graph,
        nndescent_recall_vs_exact,
    )

    emb = _t(spark, sf_dir, "embeddings")
    graph = nndescent_knn_graph(
        emb, k=_NND_K, iters=_NND_ITERS, seed=_NND_SEED, reverse_cap=_NND_RK
    )
    exact = knn_join(emb, emb, k=_NND_K, strategy="broadcast")
    return nndescent_recall_vs_exact(graph, exact)


# ---------------------------------------------------------------------------
# Graph-index QUERY path (round 11): beam search over a persisted kNN
# graph for OUT-OF-CORPUS vectors — the distributed analogue of the
# reference's hnswlib knn_query (`DeepJoin/annIndex.py:21-40`), the one
# reference capability with no prior direct analog. Corpus/query split
# is vec_id % 5 (deterministic, oracle-replayable); the recall gate
# searches the EXACT top-k graph so DuckDB can replay the whole
# mechanism (entries → T unrolled beam hops → top-k) without nesting
# the NN-descent build replay; search over the REAL NN-descent graph
# is covered by the invariant gate + blob-fixture pytest.
# ---------------------------------------------------------------------------

_GS_K, _GS_BEAM, _GS_HOPS, _GS_ENTRY_K, _GS_N_ENTRY, _GS_SEED = 5, 8, 2, 4, 20, 42


def _graph_search_oracle_sql(
    k: int, beam: int, hops: int, entry_k: int, n_entry: int, seed: int
) -> str:
    """DuckDB replay of `operators/graphsearch.graph_search` over the
    exact top-k corpus graph: hash-order entry sample, entry_k seeds
    per query, `hops` unrolled beam rounds, final top-k, recall vs the
    exact query→corpus top-k. Same 6-dp rounded-distance / id
    tie-break discipline as every ANN gate."""
    def scored(src: str, out: str, qrel: str = "qs") -> str:
        return (
            f"{out} AS (SELECT n.query_id, n.cand_id,"
            f" round({l2_sq_sql('q.v', 'c.v')}, 6) AS d"
            f" FROM {src} n JOIN {qrel} q ON q.vec_id = n.query_id"
            f" JOIN corp c ON c.vec_id = n.cand_id)"
        )

    ctes = [
        "e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        "corp AS MATERIALIZED (SELECT * FROM e WHERE vec_id % 5 <> 0)",
        "qs AS MATERIALIZED (SELECT * FROM e WHERE vec_id % 5 = 0)",
        f"""g AS MATERIALIZED (SELECT query_id, cand_id FROM (
          SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
                 row_number() OVER (PARTITION BY a.vec_id
                   ORDER BY round({l2_sq_sql('a.v', 'b.v')}, 6) ASC,
                            b.vec_id ASC) AS rnk
          FROM corp a, corp b WHERE a.vec_id <> b.vec_id) WHERE rnk <= {k})""",
        (
            "und AS MATERIALIZED (SELECT query_id AS src, cand_id AS dst FROM g"
            " UNION SELECT cand_id AS src, query_id AS dst FROM g)"
        ),
        (
            f"smp AS (SELECT vec_id AS cand_id FROM corp ORDER BY"
            f" ('0x' || substr(md5('gs{seed}:' || vec_id::VARCHAR), 1, 15))::BIGINT"
            f" ASC, vec_id ASC LIMIT {n_entry})"
        ),
        "seed0 AS (SELECT q.vec_id AS query_id, s.cand_id FROM qs q CROSS JOIN smp s)",
        scored("seed0", "sc0"),
        (
            f"v0 AS MATERIALIZED (SELECT query_id, cand_id, d FROM ("
            f"SELECT *, row_number() OVER (PARTITION BY query_id"
            f" ORDER BY d ASC, cand_id ASC) AS rnk FROM sc0) WHERE rnk <= {entry_k})"
        ),
    ]
    for t in range(1, hops + 1):
        v = f"v{t - 1}"
        ctes += [
            (
                f"b{t} AS (SELECT query_id, cand_id FROM ("
                f"SELECT *, row_number() OVER (PARTITION BY query_id"
                f" ORDER BY d ASC, cand_id ASC) AS rnk FROM {v}) WHERE rnk <= {beam})"
            ),
            (
                f"n{t} AS (SELECT DISTINCT b.query_id, u.dst AS cand_id"
                f" FROM b{t} b JOIN und u ON b.cand_id = u.src"
                f" WHERE NOT EXISTS (SELECT 1 FROM {v} x"
                f" WHERE x.query_id = b.query_id AND x.cand_id = u.dst))"
            ),
            scored(f"n{t}", f"s{t}"),
            (
                f"v{t} AS MATERIALIZED (SELECT * FROM {v}"
                f" UNION ALL SELECT * FROM s{t})"
            ),
        ]
    ctes += [
        (
            f"res AS (SELECT query_id, cand_id FROM ("
            f"SELECT *, row_number() OVER (PARTITION BY query_id"
            f" ORDER BY d ASC, cand_id ASC) AS rnk FROM v{hops}) WHERE rnk <= {k})"
        ),
        f"""exactq AS MATERIALIZED (SELECT query_id, cand_id FROM (
          SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY round({l2_sq_sql('q.v', 'c.v')}, 6) ASC,
                            c.vec_id ASC) AS rnk
          FROM qs q, corp c) WHERE rnk <= {k})""",
        (
            "hit AS (SELECT ex.query_id FROM exactq ex"
            " JOIN res r ON ex.query_id = r.query_id AND ex.cand_id = r.cand_id)"
        ),
    ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
    SELECT (SELECT count(DISTINCT query_id) FROM exactq)::BIGINT AS n_queries,
           (SELECT count(*) FROM exactq)::BIGINT AS n_exact,
           (SELECT count(*) FROM hit)::BIGINT AS n_found,
           (1000 * (SELECT count(*) FROM hit)
              // greatest((SELECT count(*) FROM exactq), 1))::BIGINT
             AS recall_x1000
    """
    )


def _gs_split(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return (
        emb.where(F.col("vec_id") % 5 == 0),
        emb.where(F.col("vec_id") % 5 != 0),
    )


@register("knn_graph_search_l2", _KNN_CHECK_EMPTY_SQL)
def knn_graph_search_l2(spark, sf_dir):
    """Out-of-corpus graph-index query (`operators/graphsearch.py` —
    the hnswlib knn_query analogue, `DeepJoin/annIndex.py:21-40`) over
    the REAL NN-descent graph, exposed as its contract projection:
    empty iff every returned neighbor carries the exact L2² distance
    to its query and a consecutive monotone rank. Mechanism recall is
    hash-gated by `graph_search_recall_report`; blob-fixture recall
    and beam/hop monotonicity are pinned in pytest."""
    from semantic_ann_in_data_lake_spark.operators import checks
    from semantic_ann_in_data_lake_spark.operators.graphsearch import graph_search
    from semantic_ann_in_data_lake_spark.operators.nndescent import (
        nndescent_knn_graph,
    )

    qs, corp = _gs_split(spark, sf_dir)
    graph = nndescent_knn_graph(
        corp, k=_NND_K, iters=_NND_ITERS, seed=_NND_SEED, reverse_cap=_NND_RK
    )
    res = graph_search(
        qs, corp, graph, k=_GS_K, beam=_GS_BEAM, hops=_GS_HOPS,
        entry_k=_GS_ENTRY_K, n_entry=_GS_N_ENTRY, seed=_GS_SEED,
    )
    return checks.knn_invariant_violations(
        res, qs, metric="l2_sq", cand_emb=corp
    )


@register(
    "graph_search_recall_report",
    _graph_search_oracle_sql(
        _GS_K, _GS_BEAM, _GS_HOPS, _GS_ENTRY_K, _GS_N_ENTRY, _GS_SEED
    ),
)
def graph_search_recall_report(spark, sf_dir):
    """Official recall of the bounded-hop beam search vs the exact
    query→corpus top-5, as one integer row — the DuckDB oracle replays
    the ENTIRE search (hash-order entry sample, per-query seeds, T=2
    unrolled beam hops, final top-k), so a hash match certifies every
    hop's visited set. The searched graph here is the EXACT corpus
    graph (SQL-replicable, like the pagerank gate); search over the
    NN-descent-built graph is gated by `knn_graph_search_l2` +
    pytest."""
    from semantic_ann_in_data_lake_spark.operators.graphsearch import graph_search
    from semantic_ann_in_data_lake_spark.operators.nndescent import (
        nndescent_recall_vs_exact,
    )

    qs, corp = _gs_split(spark, sf_dir)
    exact_graph = knn_join(corp, corp, k=_GS_K, strategy="broadcast")
    res = graph_search(
        qs, corp, exact_graph, k=_GS_K, beam=_GS_BEAM, hops=_GS_HOPS,
        entry_k=_GS_ENTRY_K, n_entry=_GS_N_ENTRY, seed=_GS_SEED,
    )
    exact = knn_join(
        qs, corp, k=_GS_K, strategy="broadcast", exclude_self=False
    )
    return nndescent_recall_vs_exact(res, exact)


# ---------------------------------------------------------------------------
# Graph centrality over the mutual-kNN graph: PageRank as a
# curation signal (dense-region/representativity scoring). The gate
# graph is the EXACT top-5 kNN graph symmetrized (SQL-replicable), so
# the oracle replays the whole pipeline: graph build, out-degrees, and
# T=5 decimal-exact power-iteration rounds.
# ---------------------------------------------------------------------------

_PR_DAMPING, _PR_ITERS, _PR_DP = 0.85, 5, 9


def _sym_knn_edges(spark, sf_dir):
    """The gate graph of the graph entries: the exact top-5 kNN graph
    of the corpus embeddings, symmetrized (`_SYM_KNN_EDGES_CTES` is
    its DuckDB twin)."""
    from semantic_ann_in_data_lake_spark.operators.graphrank import (
        symmetrize,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return symmetrize(knn_join(emb, emb, k=5, strategy="broadcast"))


def _pagerank_oracle_sql(damping: float, iters: int, dp: int, k: int = 5) -> str:
    """DuckDB replication of `operators/graphrank.pagerank` over the
    symmetrized exact top-k graph. Arithmetic discipline mirrors the
    operator line-for-line: every float op is ::DOUBLE (DuckDB bare
    numeric literals are DECIMAL — decimal subtraction of 1 - 0.85 is
    exact 0.15, IEEE gives 0.15000000000000002, a real 1-ulp trap),
    contributions are round(·,12)::DECIMAL(38,12) grid-snaps summed
    exactly, each round re-rounds to {dp} dp."""
    ctes = [
        "e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        f"""exact AS MATERIALIZED (SELECT query_id, cand_id FROM (
          SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY round({l2_sq_sql('q.v', 'c.v')}, 6) ASC,
                            c.vec_id ASC) AS rnk
          FROM e q, e c WHERE q.vec_id <> c.vec_id) WHERE rnk <= {k})""",
        (
            "edges AS MATERIALIZED (SELECT query_id AS src, cand_id AS dst FROM exact"
            " UNION SELECT cand_id AS src, query_id AS dst FROM exact)"
        ),
        (
            "nodes AS MATERIALIZED (SELECT src AS node FROM edges"
            " UNION SELECT dst AS node FROM edges)"
        ),
        "nn AS (SELECT count(*) AS n FROM nodes)",
        (
            "outdeg AS MATERIALIZED (SELECT src AS node, count(*) AS deg"
            " FROM edges GROUP BY 1)"
        ),
        (
            f"r0 AS MATERIALIZED (SELECT node,"
            f" round(1.0::DOUBLE / (SELECT n FROM nn)::DOUBLE, {dp}) AS pr"
            f" FROM nodes)"
        ),
    ]
    for t in range(1, iters + 1):
        g = f"r{t - 1}"
        ctes += [
            (
                f"c{t} AS (SELECT ed.dst AS node,"
                f" sum(round(r.pr / od.deg, 12)::DECIMAL(38,12)) AS c"
                f" FROM edges ed JOIN {g} r ON r.node = ed.src"
                f" JOIN outdeg od ON od.node = ed.src GROUP BY 1)"
            ),
            (
                f"d{t} AS (SELECT coalesce(sum(r.pr::DECIMAL(38,{dp})),"
                f" 0::DECIMAL(38,{dp})) AS dm"
                f" FROM {g} r LEFT JOIN outdeg od ON od.node = r.node"
                f" WHERE od.node IS NULL)"
            ),
            (
                f"r{t} AS MATERIALIZED (SELECT n.node,"
                f" round((1.0::DOUBLE - {damping}::DOUBLE) / (SELECT n FROM nn)::DOUBLE"
                f" + {damping}::DOUBLE * (coalesce(c.c::DOUBLE, 0.0::DOUBLE)"
                f" + (SELECT dm FROM d{t})::DOUBLE / (SELECT n FROM nn)::DOUBLE),"
                f" {dp}) AS pr"
                f" FROM nodes n LEFT JOIN c{t} c ON c.node = n.node)"
            ),
        ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\n    SELECT node AS vec_id, pr FROM r{iters}"
    )


@register(
    "pagerank_knn_graph",
    _pagerank_oracle_sql(_PR_DAMPING, _PR_ITERS, _PR_DP),
)
def pagerank_knn_graph(spark, sf_dir):
    """PageRank centrality of every corpus vector on the symmetrized
    exact top-5 kNN graph (`operators/graphrank.py`) — the density/
    representativity score curation pipelines threshold on (central =
    redundant dense region, peripheral = outlier). T=5 rounds, d=0.85;
    the DuckDB oracle replays graph build + every decimal-exact
    iteration, so a hash match certifies all 5 fixpoint steps. The
    dangling-node path has no traffic here (a symmetrized kNN graph
    has out-degree ≥ k everywhere); it is pinned against a pure-Python
    model in pytest (`tests/test_graphrank.py`)."""
    from semantic_ann_in_data_lake_spark.operators.graphrank import pagerank

    edges = _sym_knn_edges(spark, sf_dir)
    return pagerank(
        edges, damping=_PR_DAMPING, iters=_PR_ITERS, round_dp=_PR_DP
    ).select(F.col("node").alias("vec_id"), "pr")


_SYM_KNN_EDGES_CTES = f"""e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    exact AS MATERIALIZED (SELECT query_id, cand_id FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY round({l2_sq_sql('q.v', 'c.v')}, 6) ASC,
                        c.vec_id ASC) AS rnk
      FROM e q, e c WHERE q.vec_id <> c.vec_id) WHERE rnk <= 5),
    edges AS MATERIALIZED (SELECT query_id AS src, cand_id AS dst FROM exact
      UNION SELECT cand_id AS src, query_id AS dst FROM exact)"""


@register(
    "knn_graph_triangles",
    f"""
    WITH {_SYM_KNN_EDGES_CTES},
    canon AS MATERIALIZED (SELECT src AS a, dst AS b FROM edges WHERE src < dst),
    deg AS (SELECT src AS node, count(*) AS degree FROM edges GROUP BY 1),
    tri AS MATERIALIZED (
      SELECT ab.a, ab.b, bc.b AS c
      FROM canon ab
      JOIN canon bc ON bc.a = ab.b
      JOIN canon ac ON ac.a = ab.a AND ac.b = bc.b),
    corners AS (SELECT a AS node FROM tri
      UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri),
    pn AS (SELECT node, count(*) AS triangles FROM corners GROUP BY 1)
    SELECT d.node AS vec_id, d.degree,
           coalesce(pn.triangles, 0)::BIGINT AS triangles,
           CASE WHEN d.degree >= 2 THEN
             round(2.0::DOUBLE * coalesce(pn.triangles, 0)::DOUBLE
               / (d.degree::DOUBLE * (d.degree - 1)::DOUBLE), 6)
           ELSE 0.0 END AS clustering
    FROM deg d LEFT JOIN pn ON pn.node = d.node
    """,
)
def knn_graph_triangles(spark, sf_dir):
    """Per-node triangle count + local clustering coefficient of the
    symmetrized exact top-5 kNN graph (`operators/graphrank.py::
    triangle_stats`) — the manifold diagnostic: uniform-random
    embeddings produce near-zero clustering (these "neighbors" share
    little), clustered corpora produce high clustering. The oracle
    replays canonicalization, the 2-join triangle enumeration and the
    corner explode; integer counts + one rounded IEEE division keep the
    row hash exact."""
    from semantic_ann_in_data_lake_spark.operators.graphrank import (
        triangle_stats,
    )

    edges = _sym_knn_edges(spark, sf_dir)
    return triangle_stats(edges).select(
        F.col("node").alias("vec_id"), "degree", "triangles", "clustering"
    )


_LPA_ITERS = 4


def _lpa_oracle_sql(iters: int) -> str:
    ctes = [
        _SYM_KNN_EDGES_CTES,
        "l0 AS MATERIALIZED (SELECT DISTINCT node, node AS community FROM ("
        "SELECT src AS node FROM edges UNION SELECT dst FROM edges))",
    ]
    for t in range(1, iters + 1):
        g = f"l{t - 1}"
        ctes += [
            (
                f"cnt{t} AS (SELECT ed.dst AS node, l.community, count(*) AS n"
                f" FROM edges ed JOIN {g} l ON l.node = ed.src GROUP BY 1, 2)"
            ),
            (
                f"pick{t} AS (SELECT node, community FROM ("
                f"SELECT node, community, row_number() OVER (PARTITION BY node"
                f" ORDER BY n DESC, community ASC) AS r FROM cnt{t}) WHERE r = 1)"
            ),
            (
                f"l{t} AS MATERIALIZED (SELECT n.node,"
                f" coalesce(p.community, n.community) AS community"
                f" FROM {g} n LEFT JOIN pick{t} p ON p.node = n.node)"
            ),
        ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\n    SELECT node AS vec_id, community FROM l{iters}"
    )


@register("lpa_communities_knn", _lpa_oracle_sql(_LPA_ITERS))
def lpa_communities_knn(spark, sf_dir):
    """Deterministic synchronous label propagation on the symmetrized
    exact top-5 kNN graph (`operators/graphrank.py::lpa_communities`,
    T=4) — community structure of the embedding corpus (semantic
    clusters / near-dup families). Integer-only arithmetic, so the
    oracle replays every round exactly; blob-structured community
    recovery is pinned in pytest."""
    from semantic_ann_in_data_lake_spark.operators.graphrank import (
        lpa_communities,
    )

    edges = _sym_knn_edges(spark, sf_dir)
    return lpa_communities(edges, iters=_LPA_ITERS).select(
        F.col("node").alias("vec_id"), "community"
    )


@register(
    "community_dedup_knn",
    _lpa_oracle_sql(_LPA_ITERS).replace(
        f"\n    SELECT node AS vec_id, community FROM l{_LPA_ITERS}",
        f"""
    SELECT node AS vec_id, community,
           (node = min(node) OVER (PARTITION BY community)) AS kept
    FROM l{_LPA_ITERS}""",
    ),
)
def community_dedup_knn(spark, sf_dir):
    """Graph-cluster dedup over the LPA communities of the symmetrized
    exact top-5 kNN graph (`operators/graphrank.py::community_dedup`):
    every vector flagged keep/drop, one smallest-id survivor per
    community — the transitive-closure variant of embedding near-dup
    removal (chains collapse to one survivor). Oracle = the LPA replay
    plus one window; integer-only, hash-exact."""
    from semantic_ann_in_data_lake_spark.operators.graphrank import (
        community_dedup,
        lpa_communities,
    )

    edges = _sym_knn_edges(spark, sf_dir)
    labels = lpa_communities(edges, iters=_LPA_ITERS)
    return community_dedup(labels).select(
        F.col("node").alias("vec_id"), "community", "kept"
    )


def _kcore_oracle_sql(k: int, rounds: int) -> str:
    ctes = [_SYM_KNN_EDGES_CTES]
    prev = "edges"
    for t in range(1, rounds + 1):
        ctes += [
            (
                f"d{t} AS (SELECT src AS node, count(*) AS degree"
                f" FROM {prev} GROUP BY 1)"
            ),
            f"k{t} AS (SELECT node FROM d{t} WHERE degree >= {k})",
            (
                f"e{t} AS MATERIALIZED (SELECT e.src, e.dst FROM {prev} e"
                f" JOIN k{t} a ON a.node = e.src"
                f" JOIN k{t} b ON b.node = e.dst)"
            ),
        ]
        prev = f"e{t}"
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\n    SELECT src AS vec_id, count(*) AS degree FROM {prev} GROUP BY 1"
    )


@register("kcore_knn_graph", _kcore_oracle_sql(6, 2))
def kcore_knn_graph(spark, sf_dir):
    """Two synchronous peels toward the 6-core of the symmetrized exact
    top-5 kNN graph (`operators/graphrank.py::kcore`, fixed-rounds
    shape): surviving (vec_id, degree) after round 2 — a nontrivial
    intermediate state (uniform-random kNN graphs have NO 6-core: 500 →
    ~300 → ~70 → 0, so the trajectory, not the fixpoint, is the
    checkable object; the oracle replays both peels exactly).
    Fixpoint-mode semantics (unique k-core, convergence detection) are
    pinned in pytest against a pure-Python model and on clique-
    structured graphs where the core is non-empty."""
    from semantic_ann_in_data_lake_spark.operators.graphrank import kcore

    edges = _sym_knn_edges(spark, sf_dir)
    return kcore(edges, k=6, rounds=2).select(
        F.col("node").alias("vec_id"), "degree"
    )


_HITS_ITERS, _HITS_DP = 5, 9


def _hits_oracle_sql(iters: int, dp: int) -> str:
    """DuckDB replication of `operators/graphrank.hits` over the
    DIRECTED exact top-5 kNN graph: per round, authorities from current
    hubs then hubs from the new authorities, each L1-normalized via
    exact decimal sums and one IEEE division, re-rounded at {dp} dp."""
    ctes = [
        "e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        f"""exact AS MATERIALIZED (SELECT query_id, cand_id FROM (
          SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY round({l2_sq_sql('q.v', 'c.v')}, 6) ASC,
                            c.vec_id ASC) AS rnk
          FROM e q, e c WHERE q.vec_id <> c.vec_id) WHERE rnk <= 5)""",
        "edges AS MATERIALIZED (SELECT query_id AS src, cand_id AS dst FROM exact)",
        "nodes AS MATERIALIZED (SELECT DISTINCT node FROM ("
        "SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges))",
        "nn AS (SELECT count(*) AS n FROM nodes)",
        (
            f"r0 AS MATERIALIZED (SELECT node,"
            f" round(1.0::DOUBLE / (SELECT n FROM nn)::DOUBLE, {dp}) AS authority,"
            f" round(1.0::DOUBLE / (SELECT n FROM nn)::DOUBLE, {dp}) AS hub"
            f" FROM nodes)"
        ),
    ]

    def half(t: int, out: str, state: str, val: str, join_on: str):
        other = "dst" if join_on == "src" else "src"
        ctes.extend(
            [
                (
                    f"{out}raw{t} AS (SELECT ed.{other} AS node,"
                    f" sum(s.{val}::DECIMAL(38,{dp})) AS s"
                    f" FROM edges ed JOIN {state} s ON s.node = ed.{join_on}"
                    f" GROUP BY 1)"
                ),
                (
                    f"{out}tot{t} AS (SELECT coalesce(sum(s),"
                    f" 0::DECIMAL(38,{dp})) AS t FROM {out}raw{t})"
                ),
                (
                    f"{out}{t} AS MATERIALIZED (SELECT n.node,"
                    f" round(coalesce(r.s::DOUBLE, 0.0::DOUBLE)"
                    f" / greatest((SELECT t FROM {out}tot{t})::DOUBLE, 1e-12),"
                    f" {dp}) AS val"
                    f" FROM nodes n LEFT JOIN {out}raw{t} r ON r.node = n.node)"
                ),
            ]
        )

    for t in range(1, iters + 1):
        half(t, "a", f"r{t - 1}", "hub", "src")
        half(t, "h", f"a{t}", "val", "dst")
        ctes.append(
            f"r{t} AS MATERIALIZED (SELECT a{t}.node, a{t}.val AS authority,"
            f" h{t}.val AS hub FROM a{t} JOIN h{t} ON h{t}.node = a{t}.node)"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\n    SELECT node AS vec_id, authority, hub FROM r{iters}"
    )


@register("hits_knn_graph", _hits_oracle_sql(_HITS_ITERS, _HITS_DP))
def hits_knn_graph(spark, sf_dir):
    """HITS hubs/authorities on the DIRECTED exact top-5 kNN graph
    (`operators/graphrank.py::hits`, T=5) — authority(v) measures how
    often v appears in other vectors' top-k lists weighted by those
    voters' own hub quality: the asymmetric density/attractor signal
    the symmetrized centralities cannot see. The oracle replays all 5
    rounds (decimal-exact sums, one IEEE division per node per half-
    step); hand-graph python-model parity in pytest."""
    from semantic_ann_in_data_lake_spark.operators.graphrank import hits

    emb = _t(spark, sf_dir, "embeddings")
    knn = knn_join(emb, emb, k=5, strategy="broadcast")
    edges = knn.select(
        F.col("query_id").alias("src"), F.col("cand_id").alias("dst")
    )
    return hits(edges, iters=_HITS_ITERS, round_dp=_HITS_DP).select(
        F.col("node").alias("vec_id"), "authority", "hub"
    )


def _pagerank_weighted_oracle_sql(damping: float, iters: int, dp: int) -> str:
    """Weighted variant of `_pagerank_oracle_sql`: edge weight
    w = round(1/(1+d), 12) from the exact graph's rounded distances,
    out-STRENGTH (exact decimal sum of out-weights, NULL-guarded like
    the operator's zero-strength dangling rule) replaces out-degree,
    contributions are round(pr·w/s, 12) grid-snaps."""
    ctes = [
        "e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        f"""exact AS MATERIALIZED (SELECT query_id, cand_id, d FROM (
          SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                 round({l2_sq_sql('q.v', 'c.v')}, 6) AS d,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY round({l2_sq_sql('q.v', 'c.v')}, 6) ASC,
                            c.vec_id ASC) AS rnk
          FROM e q, e c WHERE q.vec_id <> c.vec_id) WHERE rnk <= 5)""",
        (
            "edges AS MATERIALIZED (SELECT src, dst,"
            " round(1.0::DOUBLE / (1.0::DOUBLE + d), 12) AS w FROM ("
            "SELECT query_id AS src, cand_id AS dst, d FROM exact"
            " UNION SELECT cand_id AS src, query_id AS dst, d FROM exact))"
        ),
        (
            "nodes AS MATERIALIZED (SELECT src AS node FROM edges"
            " UNION SELECT dst AS node FROM edges)"
        ),
        "nn AS (SELECT count(*) AS n FROM nodes)",
        (
            "stren AS MATERIALIZED (SELECT node, s FROM ("
            "SELECT src AS node, sum(w::DECIMAL(38,12))::DOUBLE AS s"
            " FROM edges GROUP BY 1) WHERE s > 0)"
        ),
        (
            f"r0 AS MATERIALIZED (SELECT node,"
            f" round(1.0::DOUBLE / (SELECT n FROM nn)::DOUBLE, {dp}) AS pr"
            f" FROM nodes)"
        ),
    ]
    for t in range(1, iters + 1):
        g = f"r{t - 1}"
        ctes += [
            (
                f"c{t} AS (SELECT ed.dst AS node,"
                f" sum(round(r.pr * ed.w / st.s, 12)::DECIMAL(38,12)) AS c"
                f" FROM edges ed JOIN {g} r ON r.node = ed.src"
                f" JOIN stren st ON st.node = ed.src GROUP BY 1)"
            ),
            (
                f"d{t} AS (SELECT coalesce(sum(r.pr::DECIMAL(38,{dp})),"
                f" 0::DECIMAL(38,{dp})) AS dm"
                f" FROM {g} r LEFT JOIN stren st ON st.node = r.node"
                f" WHERE st.node IS NULL)"
            ),
            (
                f"r{t} AS MATERIALIZED (SELECT n.node,"
                f" round((1.0::DOUBLE - {damping}::DOUBLE) / (SELECT n FROM nn)::DOUBLE"
                f" + {damping}::DOUBLE * (coalesce(c.c::DOUBLE, 0.0::DOUBLE)"
                f" + (SELECT dm FROM d{t})::DOUBLE / (SELECT n FROM nn)::DOUBLE),"
                f" {dp}) AS pr"
                f" FROM nodes n LEFT JOIN c{t} c ON c.node = n.node)"
            ),
        ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\n    SELECT node AS vec_id, pr FROM r{iters}"
    )


@register(
    "pagerank_weighted_knn",
    _pagerank_weighted_oracle_sql(_PR_DAMPING, _PR_ITERS, _PR_DP),
)
def pagerank_weighted_knn(spark, sf_dir):
    """Similarity-WEIGHTED PageRank on the symmetrized exact top-5
    graph: rank splits over out-edges proportionally to
    w = round(1/(1+L2²), 12), so a near-identical neighbor pulls more
    centrality than a barely-in-top-k one — the similarity-aware
    refinement of `pagerank_knn_graph`. Out-strength is an exact
    decimal sum; the oracle replays all 5 rounds; weighted-vs-
    unweighted divergence and a python weighted model are pinned in
    pytest."""
    from semantic_ann_in_data_lake_spark.operators.graphrank import pagerank

    emb = _t(spark, sf_dir, "embeddings")
    knn = knn_join(emb, emb, k=5, strategy="broadcast")
    a = knn.select(
        F.col("query_id").alias("src"),
        F.col("cand_id").alias("dst"),
        F.col("distance").alias("d"),
    )
    b = knn.select(
        F.col("cand_id").alias("src"),
        F.col("query_id").alias("dst"),
        F.col("distance").alias("d"),
    )
    edges = (
        a.unionByName(b)
        .distinct()
        .select(
            "src",
            "dst",
            F.round(
                F.lit(1.0) / (F.lit(1.0) + F.col("d")), 12
            ).alias("w"),
        )
    )
    return pagerank(
        edges,
        damping=_PR_DAMPING,
        iters=_PR_ITERS,
        round_dp=_PR_DP,
        weight_col="w",
    ).select(F.col("node").alias("vec_id"), "pr")


def _trustrank_oracle_sql(damping: float, iters: int, dp: int) -> str:
    """DuckDB replication of `operators/graphrank.trustrank` over the
    symmetrized exact top-5 graph with the md5-hash-picked 16-seed set
    (the `ivf_recall_report` fit-selection pattern): teleport and
    dangling mass flow to seeds only; same decimal grid-snap rounds."""
    ctes = [
        _SYM_KNN_EDGES_CTES,
        (
            "seeds AS MATERIALIZED (SELECT vec_id AS node FROM e"
            " ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 16)"
        ),
        (
            "nodes AS MATERIALIZED (SELECT src AS node FROM edges"
            " UNION SELECT dst AS node FROM edges"
            " UNION SELECT node FROM seeds)"
        ),
        "ns AS (SELECT count(*) AS n FROM seeds)",
        (
            f"tv AS MATERIALIZED (SELECT n.node,"
            f" CASE WHEN s.node IS NOT NULL THEN"
            f" round(1.0::DOUBLE / (SELECT n FROM ns)::DOUBLE, {dp})"
            f" ELSE 0.0::DOUBLE END AS t"
            f" FROM nodes n LEFT JOIN seeds s ON s.node = n.node)"
        ),
        (
            "outdeg AS MATERIALIZED (SELECT src AS node, count(*) AS deg"
            " FROM edges GROUP BY 1)"
        ),
        "r0 AS MATERIALIZED (SELECT node, t AS pr FROM tv)",
    ]
    for t in range(1, iters + 1):
        g = f"r{t - 1}"
        ctes += [
            (
                f"c{t} AS (SELECT ed.dst AS node,"
                f" sum(round(r.pr / od.deg, 12)::DECIMAL(38,12)) AS c"
                f" FROM edges ed JOIN {g} r ON r.node = ed.src"
                f" JOIN outdeg od ON od.node = ed.src GROUP BY 1)"
            ),
            (
                f"d{t} AS (SELECT coalesce(sum(r.pr::DECIMAL(38,{dp})),"
                f" 0::DECIMAL(38,{dp})) AS dm"
                f" FROM {g} r LEFT JOIN outdeg od ON od.node = r.node"
                f" WHERE od.node IS NULL)"
            ),
            (
                f"r{t} AS MATERIALIZED (SELECT v.node,"
                f" round((1.0::DOUBLE - {damping}::DOUBLE) * v.t"
                f" + {damping}::DOUBLE * (coalesce(c.c::DOUBLE, 0.0::DOUBLE)"
                f" + (SELECT dm FROM d{t})::DOUBLE * v.t), {dp}) AS pr"
                f" FROM tv v LEFT JOIN c{t} c ON c.node = v.node)"
            ),
        ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\n    SELECT node AS vec_id, pr AS trust FROM r{iters}"
    )


@register(
    "trustrank_knn_graph",
    _trustrank_oracle_sql(_PR_DAMPING, _PR_ITERS, _PR_DP),
)
def trustrank_knn_graph(spark, sf_dir):
    """TrustRank seed propagation on the symmetrized exact top-5 kNN
    graph (`operators/graphrank.py::trustrank`): trust teleports only
    to an md5-hash-picked 16-vector seed set (the gold-set stand-in
    both engines can select) and decays outward through the graph —
    the quality-propagation primitive (score everything by graph
    proximity to a verified set; invert seeds for contamination
    neighborhoods). Oracle replays all 5 rounds; python-model parity
    (incl. dangling-to-seeds) and seed-proximity monotonicity in
    pytest."""
    from semantic_ann_in_data_lake_spark.operators.graphrank import trustrank

    emb = _t(spark, sf_dir, "embeddings")
    seeds = _md5_first16(emb).select(F.col("vec_id").alias("node"))
    edges = _sym_knn_edges(spark, sf_dir)
    return trustrank(
        edges, seeds, damping=_PR_DAMPING, iters=_PR_ITERS, round_dp=_PR_DP
    ).select(F.col("node").alias("vec_id"), "trust")


_BFS_ROUNDS = 4


def _bfs_oracle_sql(rounds: int) -> str:
    """DuckDB replication of `operators/graphrank.bfs_layers` from the
    md5-hash-picked 16-seed set over the symmetrized exact top-5 graph:
    min-relaxation per round, UNREACHED sentinel 2147483647."""
    ctes = [
        _SYM_KNN_EDGES_CTES,
        (
            "seeds AS MATERIALIZED (SELECT vec_id AS node FROM e"
            " ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 16)"
        ),
        (
            "nodes AS MATERIALIZED (SELECT src AS node FROM edges"
            " UNION SELECT dst AS node FROM edges"
            " UNION SELECT node FROM seeds)"
        ),
        (
            "h0 AS MATERIALIZED (SELECT n.node,"
            " CASE WHEN s.node IS NOT NULL THEN 0 ELSE 2147483647 END::INT AS hops"
            " FROM nodes n LEFT JOIN seeds s ON s.node = n.node)"
        ),
    ]
    for t in range(1, rounds + 1):
        g = f"h{t - 1}"
        ctes += [
            (
                f"c{t} AS (SELECT ed.dst AS node,"
                f" (min(d.hops) + 1)::INT AS c"
                f" FROM edges ed JOIN {g} d ON d.node = ed.src"
                f" WHERE d.hops < 2147483647 GROUP BY 1)"
            ),
            (
                f"h{t} AS MATERIALIZED (SELECT d.node,"
                f" least(d.hops, coalesce(c.c, 2147483647))::INT AS hops"
                f" FROM {g} d LEFT JOIN c{t} c ON c.node = d.node)"
            ),
        ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\n    SELECT node AS vec_id, hops FROM h{rounds}"
    )


@register("bfs_layers_knn", _bfs_oracle_sql(_BFS_ROUNDS))
def bfs_layers_knn(spark, sf_dir):
    """Multi-source BFS hop distance from the md5-hash-picked 16-seed
    set over the symmetrized exact top-5 kNN graph (`operators/
    graphrank.py::bfs_layers`, 4 relaxation rounds): the graded
    leakage/proximity audit — hop 1 = near-dup of a seed, hop 2 =
    near-dup of a near-dup; radius-based quarantine instead of
    whole-component removal, and an exact-integer cross-check of
    TrustRank's decay. Integer-only; the oracle replays every round."""
    from semantic_ann_in_data_lake_spark.operators.graphrank import bfs_layers

    emb = _t(spark, sf_dir, "embeddings")
    seeds = _md5_first16(emb).select(F.col("vec_id").alias("node"))
    edges = _sym_knn_edges(spark, sf_dir)
    return bfs_layers(edges, seeds, rounds=_BFS_ROUNDS).select(
        F.col("node").alias("vec_id"), "hops"
    )


@register(
    "edge_jaccard_knn",
    f"""
    WITH {_SYM_KNN_EDGES_CTES},
    canon AS MATERIALIZED (SELECT src AS a, dst AS b FROM edges WHERE src < dst),
    deg AS (SELECT src AS node, count(*) AS deg FROM edges GROUP BY 1),
    pv AS MATERIALIZED (
      SELECT x.dst AS a, y.dst AS b
      FROM edges x JOIN edges y
        ON x.src = y.src AND x.dst < y.dst),
    cm AS (SELECT c.a, c.b, count(*) AS common
           FROM canon c JOIN pv ON pv.a = c.a AND pv.b = c.b
           GROUP BY 1, 2)
    SELECT c.a, c.b,
           coalesce(cm.common, 0)::BIGINT AS common,
           round(coalesce(cm.common, 0)::DOUBLE
             / greatest((da.deg + db.deg - coalesce(cm.common, 0) - 2)::DOUBLE,
                        1.0::DOUBLE), 6) AS jaccard
    FROM canon c
    LEFT JOIN cm ON cm.a = c.a AND cm.b = c.b
    JOIN deg da ON da.node = c.a
    JOIN deg db ON db.node = c.b
    """,
)
def edge_jaccard_knn(spark, sf_dir):
    """Neighborhood-Jaccard link scores for every canonical edge of the
    symmetrized exact top-5 kNN graph (`operators/graphrank.py::
    neighborhood_jaccard`) — the common-neighbors confirmation signal
    for candidate near-dup pairs (hub-artifact edges score ~0, truly
    embedded pairs score high). Integer counts + one rounded IEEE
    division; hash-exact both engines (no log/exp — the reason this is
    Jaccard and not Adamic-Adar)."""
    from semantic_ann_in_data_lake_spark.operators.graphrank import (
        neighborhood_jaccard,
    )

    edges = _sym_knn_edges(spark, sf_dir)
    return neighborhood_jaccard(edges)


@register(
    "assortativity_knn",
    f"""
    WITH {_SYM_KNN_EDGES_CTES},
    deg AS (SELECT src AS node, count(*) AS deg FROM edges GROUP BY 1),
    j AS (SELECT da.deg AS x, db.deg AS y
          FROM edges e JOIN deg da ON da.node = e.src
          JOIN deg db ON db.node = e.dst),
    m AS (SELECT count(*)::DECIMAL(38,0) AS n,
                 sum(x::DECIMAL(38,0)) AS sx, sum(y::DECIMAL(38,0)) AS sy,
                 sum((x * y)::DECIMAL(38,0)) AS sxy,
                 sum((x * x)::DECIMAL(38,0)) AS sxx,
                 sum((y * y)::DECIMAL(38,0)) AS syy
          FROM j)
    SELECT n::BIGINT AS n_dir_edges,
           CASE WHEN (n * sxx - sx * sx)::DOUBLE > 0
                 AND (n * syy - sy * sy)::DOUBLE > 0 THEN
             round((n * sxy - sx * sy)::DOUBLE
               / (sqrt((n * sxx - sx * sx)::DOUBLE)
                  * sqrt((n * syy - sy * sy)::DOUBLE)), 6)
           ELSE 0.0 END AS assortativity
    FROM m
    """,
)
def assortativity_knn(spark, sf_dir):
    """Degree assortativity of the symmetrized exact top-5 kNN graph
    (`operators/graphrank.py::degree_assortativity`): the one-number
    hub-structure summary (negative on kNN graphs whose density peaks
    act as stars). Integer moment sums in DECIMAL(38,0) — zero float
    accumulation — then a few IEEE ops + correctly-rounded sqrt, so
    the single row is hash-exact cross-engine."""
    from semantic_ann_in_data_lake_spark.operators.graphrank import (
        degree_assortativity,
    )

    edges = _sym_knn_edges(spark, sf_dir)
    return degree_assortativity(edges)


@register(
    "graph_datacard_knn",
    f"""
    WITH {_SYM_KNN_EDGES_CTES},
    canon AS MATERIALIZED (SELECT src AS a, dst AS b FROM edges WHERE src < dst),
    deg AS MATERIALIZED (SELECT src AS node, count(*) AS degree FROM edges GROUP BY 1),
    tri AS MATERIALIZED (
      SELECT ab.a, ab.b, bc.b AS c
      FROM canon ab
      JOIN canon bc ON bc.a = ab.b
      JOIN canon ac ON ac.a = ab.a AND ac.b = bc.b),
    corners AS (SELECT a AS node FROM tri
      UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri),
    pn AS (SELECT node, count(*) AS triangles FROM corners GROUP BY 1),
    ts AS (SELECT d.node, d.degree,
                  coalesce(pn.triangles, 0) AS triangles,
                  CASE WHEN d.degree >= 2 THEN
                    round(2.0::DOUBLE * coalesce(pn.triangles, 0)::DOUBLE
                      / (d.degree::DOUBLE * (d.degree - 1)::DOUBLE), 6)
                  ELSE 0.0 END AS clustering
           FROM deg d LEFT JOIN pn ON pn.node = d.node),
    agg AS (SELECT count(*)::BIGINT AS n_nodes,
                   sum(degree::DECIMAL(38,0)) AS sdeg,
                   sum(triangles::DECIMAL(38,0)) AS stri,
                   sum(clustering::DECIMAL(38,6)) AS sclu
            FROM ts),
    jm AS (SELECT da.degree AS x, db.degree AS y
           FROM edges e JOIN deg da ON da.node = e.src
           JOIN deg db ON db.node = e.dst),
    m AS (SELECT count(*)::DECIMAL(38,0) AS n,
                 sum(x::DECIMAL(38,0)) AS sx, sum(y::DECIMAL(38,0)) AS sy,
                 sum((x * y)::DECIMAL(38,0)) AS sxy,
                 sum((x * x)::DECIMAL(38,0)) AS sxx,
                 sum((y * y)::DECIMAL(38,0)) AS syy
          FROM jm)
    SELECT agg.n_nodes,
           (agg.sdeg::BIGINT / 2)::BIGINT AS n_edges,
           (agg.stri::BIGINT / 3)::BIGINT AS n_triangles,
           round(agg.sdeg::DOUBLE / agg.n_nodes::DOUBLE, 6) AS mean_degree,
           round(agg.sclu::DOUBLE / agg.n_nodes::DOUBLE, 6) AS mean_clustering,
           CASE WHEN (m.n * m.sxx - m.sx * m.sx)::DOUBLE > 0
                 AND (m.n * m.syy - m.sy * m.sy)::DOUBLE > 0 THEN
             round((m.n * m.sxy - m.sx * m.sy)::DOUBLE
               / (sqrt((m.n * m.sxx - m.sx * m.sx)::DOUBLE)
                  * sqrt((m.n * m.syy - m.sy * m.sy)::DOUBLE)), 6)
           ELSE 0.0 END AS assortativity
    FROM agg, m
    """,
)
def graph_datacard_knn(spark, sf_dir):
    """One-row structural datacard of the symmetrized exact top-5 kNN
    graph (`operators/graphrank.py::graph_datacard`): node/edge/
    triangle counts, mean degree, mean clustering, assortativity —
    the graph sibling of `corpus_datacard`. All counts integer, means
    through DECIMAL sums of already-rounded values, hash-exact."""
    from semantic_ann_in_data_lake_spark.operators.graphrank import (
        graph_datacard,
    )

    edges = _sym_knn_edges(spark, sf_dir)
    return graph_datacard(edges)


@register(
    "prototype_prune_emb",
    f"""
    WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cents AS (
      SELECT vec_id AS cid, v AS cv FROM e
      ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 16
    ),
    ad AS (
      SELECT e.vec_id, cid, round({l2_sq_sql('e.v', 'cv')}, 6) AS d,
             row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY round({l2_sq_sql('e.v', 'cv')}, 6) ASC, cid ASC
             ) AS rnk
      FROM e, cents
    ),
    assigned AS (SELECT vec_id, cid AS cluster, d AS dist
                 FROM ad WHERE rnk = 1)
    SELECT vec_id, cluster, dist,
           (row_number() OVER (
              PARTITION BY cluster ORDER BY dist DESC, vec_id ASC) * 10
            <= count(*) OVER (PARTITION BY cluster) * 7) AS kept
    FROM assigned
    """,
)
def prototype_prune_emb(spark, sf_dir):
    """SSL-prototype data pruning (`operators/prototypes.py`): assign
    every vector to its nearest of 16 md5-hash-picked prototypes (the
    oracle-replicable fit stand-in, `ivf_recall_report` pattern), keep
    the hardest 7/10 of each cluster via the division-free integer
    rank rule. Production k-means fits plug into the same
    ``centroids`` parameter; blob-corpus semantics (centers dropped,
    outliers kept) pinned in pytest."""
    from semantic_ann_in_data_lake_spark.operators.prototypes import (
        prototype_prune,
    )

    emb = _t(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cents = _md5_first16(e).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    return prototype_prune(emb, cents, keep_num=7, keep_den=10)


@register(
    "triangles_doulion_knn",
    f"""
    WITH {_SYM_KNN_EDGES_CTES},
    canon AS MATERIALIZED (SELECT src AS a, dst AS b FROM edges WHERE src < dst),
    sampled AS MATERIALIZED (
      SELECT a, b FROM canon
      WHERE ('0x'||substr(md5('42:'||a::VARCHAR||':'||b::VARCHAR),1,8))::BIGINT
            % 1000 < 500),
    tri AS (
      SELECT count(*)::BIGINT AS tri_sampled
      FROM sampled ab
      JOIN sampled bc ON bc.a = ab.b
      JOIN sampled ac ON ac.a = ab.a AND ac.b = bc.b)
    SELECT (SELECT count(*) FROM canon)::BIGINT AS n_edges,
           (SELECT count(*) FROM sampled)::BIGINT AS n_edges_sampled,
           tri.tri_sampled,
           (tri.tri_sampled * 8)::BIGINT AS tri_estimate
    FROM tri
    """,
)
def triangles_doulion_knn(spark, sf_dir):
    """DOULION approximate triangle count over the symmetrized exact
    top-5 graph (`operators/graphrank.py::triangle_count_doulion`,
    p=1/2 → exact ×8 correction): the published scale path when exact
    enumeration's Σdeg² fan-out is too hot. The coin is a
    content-addressed md5 threshold, so sample, count and estimate are
    hash-exact in both engines; estimator accuracy vs the exact count
    is pinned in pytest on a triangle-rich corpus."""
    from semantic_ann_in_data_lake_spark.operators.graphrank import (
        triangle_count_doulion,
    )

    edges = _sym_knn_edges(spark, sf_dir)
    return triangle_count_doulion(edges, p_mille=500, seed=42)


_HYPERANF_ROUNDS = 4


def _hyperanf_oracle_sql(rounds: int, seed: int = 42) -> str:
    """DuckDB replication of `operators/graphrank.hyperanf` over the
    symmetrized exact top-5 graph: md5 register init, per-round
    register-wise max propagation, exact power-of-two estimator sums."""
    ctes = [
        _SYM_KNN_EDGES_CTES,
        (
            "nodes AS MATERIALIZED (SELECT src AS node FROM edges"
            " UNION SELECT dst AS node FROM edges)"
        ),
        (
            f"hh AS (SELECT node,"
            f" ('0x'||substr(md5('{seed}:'||node::VARCHAR),1,8))::BIGINT AS h"
            f" FROM nodes)"
        ),
        (
            "ini AS (SELECT node, (h % 16)::INT AS hpos,"
            " (29 - length(bin(h >> 4)))::INT AS hval FROM hh)"
        ),
        "ps AS (SELECT unnest(range(16))::INT AS pos)",
        (
            "s0 AS MATERIALIZED (SELECT i.node, ps.pos,"
            " CASE WHEN ps.pos = i.hpos THEN i.hval ELSE 0 END::INT AS val"
            " FROM ini i CROSS JOIN ps)"
        ),
    ]
    for t in range(1, rounds + 1):
        g = f"s{t - 1}"
        ctes.append(
            f"s{t} AS MATERIALIZED (SELECT node, pos, max(val)::INT AS val FROM ("
            f"SELECT ed.dst AS node, st.pos, st.val"
            f" FROM edges ed JOIN {g} st ON st.node = ed.src"
            f" UNION ALL SELECT node, pos, val FROM {g}"
            f") GROUP BY node, pos)"
        )
    ests = []
    for t in range(rounds + 1):
        ests.append(
            f"SELECT {t}::INT AS t, round(sum(e)::DOUBLE, 2) AS n_est FROM ("
            f"SELECT round(0.673::DOUBLE * 256.0::DOUBLE"
            f" / sum(1.0::DOUBLE / (1::BIGINT << val)), 6)::DECIMAL(38,6) AS e"
            f" FROM s{t} GROUP BY node)"
        )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(ests)


@register("hyperanf_knn", _hyperanf_oracle_sql(_HYPERANF_ROUNDS))
def hyperanf_knn(spark, sf_dir):
    """HyperANF neighborhood function of the symmetrized exact top-5
    kNN graph (`operators/graphrank.py::hyperanf`, m=16, T=4): the
    distance-distribution profile — how fast semantic balls saturate.
    The oracle replays register init, every max-propagation round, and
    the exact power-of-two estimator; a pure-Python HLL model matches
    EXACTLY in pytest (the mechanism is deterministic — accuracy bands
    vs true ball sizes are the model's job, not the gate's)."""
    from semantic_ann_in_data_lake_spark.operators.graphrank import hyperanf

    edges = _sym_knn_edges(spark, sf_dir)
    return hyperanf(edges, rounds=_HYPERANF_ROUNDS)
