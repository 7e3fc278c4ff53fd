"""The one size policy behind every broadcast decision in the kNN tiers.

``knn._row_count`` and ``knn._vec_dim`` are the size probes and
``knn._over_budget`` is the one budget check, so patching
``knn._broadcast_byte_budget`` must move every guard at once.
"""

from __future__ import annotations

import warnings

import pytest
from pyspark.sql import functions as F

from semantic_ann_in_data_lake_spark.operators import knn, pairscore, pq, setjoin


def _vectors(spark, n=6):
    return spark.createDataFrame(
        [(i, [float(i), 0.5]) for i in range(n)],
        "vec_id bigint, embedding array<double>",
    )


def _token_sets(spark):
    return spark.createDataFrame(
        [(1, 2, ["a", "b"]), (2, 2, ["b", "c"]), (3, 1, ["a"])],
        "doc_id bigint, sz int, toks array<string>",
    )


def test_zero_byte_budget_declines_every_broadcast_guard(spark, monkeypatch):
    emb = _vectors(spark)
    toks = _token_sets(spark)
    # under the real budget both kernels engage on these frames, so a
    # None below can only come from the budget
    assert pairscore.admit_matrices(emb, emb, "vec_id", "embedding") is not None
    assert setjoin._bitmask_exact_jaccard(toks, 0.3) is not None

    monkeypatch.setattr(knn, "_broadcast_byte_budget", lambda: 0)

    with monkeypatch.context() as mp:
        mp.setattr(knn, "_knn_broadcast", lambda *a, **kw: "broadcast")
        mp.setattr(knn, "_knn_ivf", lambda *a, **kw: "ivf")
        mp.setattr(pq, "knn_pq", lambda *a, **kw: "pq")
        assert knn.knn_join(emb, emb, k=2, strategy="auto") == "ivf"

    ivf_calls = []
    with monkeypatch.context() as mp:
        mp.setattr(knn, "_knn_ivf", lambda *a, **kw: ivf_calls.append(kw))
        with pytest.warns(UserWarning, match="broadcast budget"):
            knn.knn_join(emb, emb, k=2, strategy="broadcast")
    assert len(ivf_calls) == 1
    assert ivf_calls[0]["nprobe"] == ivf_calls[0]["nlist"]  # probe-all

    ivf_pq_calls = []
    with monkeypatch.context() as mp:
        mp.setattr(pq, "knn_ivf_pq", lambda *a, **kw: ivf_pq_calls.append(kw))
        with pytest.warns(UserWarning, match="broadcast budget"):
            pq.knn_pq(emb, emb, k=2)
    assert len(ivf_pq_calls) == 1

    assert pairscore.admit_matrices(emb, emb, "vec_id", "embedding") is None
    assert setjoin._bitmask_exact_jaccard(toks, 0.3) is None


def test_broadcast_degrade_probes_only_head_and_count(spark, monkeypatch):
    """A frame without a footer estimate costs the explicit broadcast
    guard one head(1) and one count(), nothing more, even when it
    degrades."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    frame = (
        spark.range(40)
        .select(
            F.col("id").alias("vec_id"),
            F.array(F.col("id").cast("double"), F.lit(0.5)).alias("embedding"),
        )
        .where("vec_id % 2 = 0")
    )
    assert knn._estimate_rows(frame) is None

    def jobs_of(group, action):
        sc.setJobGroup(group, group)
        try:
            action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(tracker.getJobIdsForGroup(group))

    def reference():
        frame.select("embedding").head(1)
        frame.count()

    ivf_calls = []
    monkeypatch.setattr(knn, "_broadcast_byte_budget", lambda: 0)
    monkeypatch.setattr(knn, "_knn_ivf", lambda *a, **kw: ivf_calls.append(kw))

    def degrade():
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            knn.knn_join(frame, frame, k=2, strategy="broadcast")

    want = jobs_of("size-policy-reference", reference)
    got = jobs_of("size-policy-broadcast", degrade)
    assert len(ivf_calls) == 1
    assert want > 0 and got == want
