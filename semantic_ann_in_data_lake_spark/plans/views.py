"""SQL view layer: every table and derived operator reachable from
``spark.sql`` (SURVEY §3.3: "our API surface is a thin library of
composable operators … plus a SQL registration layer").

``register_views`` exposes the raw lake; ``register_derived_views``
adds the engine's derived relations (catalog profiles, embeddings,
kNN results, dedup signatures) as temp views so an analyst can join
them in plain SQL without touching the Python API.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from semantic_ann_in_data_lake_spark.sources.readers import (
    TESTDATA_TABLES,
    read_table,
)


def register_views(spark: SparkSession, sf_dir: str) -> list[str]:
    """Register every lake table as a temp view; returns view names."""
    names = []
    for t in TESTDATA_TABLES:
        read_table(spark, sf_dir, t).createOrReplaceTempView(t)
        names.append(t)
    return names


def register_derived_views(spark: SparkSession, sf_dir: str) -> list[str]:
    """Register the engine's derived relations as temp views."""
    from semantic_ann_in_data_lake_spark.operators import dedup, profiler
    from semantic_ann_in_data_lake_spark.operators.knn import knn_join

    names = []
    lake = {t: read_table(spark, sf_dir, t) for t in TESTDATA_TABLES if t != "embeddings"}
    profiler.profile_lake(lake).createOrReplaceTempView("catalog_profiles")
    names.append("catalog_profiles")

    emb = read_table(spark, sf_dir, "embeddings")
    knn_join(emb, emb, k=5, strategy="broadcast").createOrReplaceTempView(
        "knn_neighbors"
    )
    names.append("knn_neighbors")

    docs = read_table(spark, sf_dir, "documents")
    dedup.minhash_signatures(docs).createOrReplaceTempView("minhash_signatures")
    names.append("minhash_signatures")

    # quality scores and the token-budget packing assignment as SQL
    # relations — the two a downstream SQL user composes most (JOIN
    # scores for filtering, GROUP BY bin_id for batch assembly)
    from semantic_ann_in_data_lake_spark.annotate.scoring import score_documents
    from semantic_ann_in_data_lake_spark.operators.packing import pack_sequences

    score_documents(docs).createOrReplaceTempView("doc_quality_scores")
    names.append("doc_quality_scores")
    pack_sequences(docs, budget=512).createOrReplaceTempView("doc_pack_bins")
    names.append("doc_pack_bins")
    return names
