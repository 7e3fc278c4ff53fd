"""Operator unit tests: hand-computed metric cases (reference-identical
arithmetic), strategy equivalence, determinism discipline."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


# --- kNN strategies ------------------------------------------------------


def test_knn_strategies_agree(spark, sf_dir):
    from semantic_ann_in_data_lake_spark.operators.knn import knn_join

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(120)
    exact = knn_join(emb, emb, k=4, strategy="exact").collect()
    bcast = knn_join(emb, emb, k=4, strategy="broadcast").collect()
    assert sorted(map(tuple, exact)) == sorted(map(tuple, bcast))


def test_knn_lsh_is_subset_quality(spark, sf_dir):
    from semantic_ann_in_data_lake_spark.operators.knn import knn_join

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(100)
    lsh = knn_join(emb, emb, k=3, strategy="lsh")
    rows = lsh.collect()
    assert len(rows) > 0
    assert all(r["rank"] <= 3 and r["query_id"] != r["cand_id"] for r in rows)


def test_knn_auto_dispatch_tier_boundaries(spark, sf_dir, monkeypatch):
    """Pin WHICH strategy auto picks at each tier boundary (VERDICT r3
    task 9): candidate matrices at/under the 256 MiB broadcast line go
    broadcast, over it go IVF; when footer counts are unavailable the
    dispatcher must fall back to count() and still route correctly."""
    from semantic_ann_in_data_lake_spark.operators import knn as knn_mod

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(10)
    dim = len(emb.select("embedding").head()[0])
    picked = {}
    monkeypatch.setattr(
        knn_mod, "_knn_broadcast",
        lambda *a, **k: picked.setdefault("strategy", "broadcast"),
    )
    monkeypatch.setattr(
        knn_mod, "_knn_ivf",
        lambda *a, **k: picked.setdefault("strategy", "ivf"),
    )
    from semantic_ann_in_data_lake_spark.operators import pq as pq_mod

    monkeypatch.setattr(
        pq_mod, "knn_pq",
        lambda *a, **k: picked.setdefault("strategy", "pq"),
    )
    boundary_rows = (256 << 20) // (dim * 8)
    pq_boundary_rows = (256 << 20) // 32  # m=16 codes + id/overhead

    # Memory boundary in isolation: park the pair budget out of the way
    # (self-joining boundary_rows vectors exceeds 1e10 pairs by itself).
    monkeypatch.setenv("SPARK_GRAFT_KNN_PAIR_BUDGET", "1e30")
    for est, expect in [
        (boundary_rows, "broadcast"),      # exactly at the line: fits
        (boundary_rows + 1, "pq"),         # float64 over, codes fit: PQ
        (pq_boundary_rows + 1, "ivf"),     # even the codes don't fit
        (1000, "broadcast"),               # comfortably small
    ]:
        picked.clear()
        monkeypatch.setattr(knn_mod, "_estimate_rows", lambda df, e=est: e)
        knn_mod.knn_join(emb, emb, k=3, strategy="auto")
        assert picked["strategy"] == expect, (est, picked)
    monkeypatch.delenv("SPARK_GRAFT_KNN_PAIR_BUDGET")

    # Footer estimate unavailable (filtered scan) → count() fallback;
    # 10 rows is far under the line, so broadcast.
    picked.clear()
    monkeypatch.setattr(knn_mod, "_estimate_rows", lambda df: None)
    knn_mod.knn_join(emb, emb, k=3, strategy="auto")
    assert picked["strategy"] == "broadcast"

    # Compute ceiling: a candidate set that FITS the memory line can
    # still be pair-count-quadratic (|Q|·|C| > pair budget) — auto must
    # prefer IVF there. 400k self-join rows = 1.6e11 pairs > the 1e10
    # default budget, while 400k dim-`dim` vectors stay under 256 MiB.
    n = 400_000
    assert n * dim * 8 <= 256 << 20 and n * n > 1e10
    picked.clear()
    monkeypatch.setattr(knn_mod, "_estimate_rows", lambda df: n)
    knn_mod.knn_join(emb, emb, k=3, strategy="auto")
    assert picked["strategy"] == "ivf"


def test_knn_broadcast_guard_degrades_to_ivf(spark, sf_dir, monkeypatch):
    """An EXPLICIT strategy='broadcast' call whose candidate matrix
    exceeds the byte budget must not OOM the executors: it degrades to
    the probe-all IVF path (exact, partitioned) with a warning."""
    from semantic_ann_in_data_lake_spark.operators import knn as knn_mod
    from semantic_ann_in_data_lake_spark.operators.knn import knn_join

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(80)
    called = {}
    real_ivf = knn_mod._knn_ivf

    def spy_ivf(*a, **kw):
        called["nlist"] = kw.get("nlist")
        called["nprobe"] = kw.get("nprobe")
        return real_ivf(*a, **kw)

    monkeypatch.setattr(knn_mod, "_knn_ivf", spy_ivf)
    monkeypatch.setenv("SPARK_GRAFT_KNN_BCAST_BUDGET_MB", "0")
    with pytest.warns(UserWarning, match="broadcast budget"):
        out = knn_join(emb, emb, k=4, strategy="broadcast").collect()
    # Degraded probe-all IVF is still EXACT: probe every cell.
    assert called["nlist"] == called["nprobe"]
    monkeypatch.delenv("SPARK_GRAFT_KNN_BCAST_BUDGET_MB")
    exact = knn_join(emb, emb, k=4, strategy="exact").collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, exact))


def test_threshold_join_sqrt_semantics(spark, sf_dir):
    from semantic_ann_in_data_lake_spark.operators.knn import knn_join, threshold_join

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(60)
    knn = knn_join(emb, emb, k=5, strategy="exact")
    tau = 1.3
    kept = threshold_join(knn, tau).collect()
    assert all(r["distance"] ** 0.5 <= tau for r in kept)


# --- evaluation harness: hand-computed cases -----------------------------


def test_pair_metrics_hand_case(spark):
    from semantic_ann_in_data_lake_spark.operators.evaluation import pair_metrics_df

    retrieved = spark.createDataFrame(
        [(1, 2), (2, 3)], "query_id long, cand_id long"
    )
    truth = spark.createDataFrame([(2, 1), (3, 4)], "t_query long, t_cand long")
    row = pair_metrics_df(retrieved, truth).collect()[0]
    # tp={1,2}, fp={2,3}, fn={3,4} → p=r=f1=0.5 (ε-guarded, 4dp)
    assert (row["tp"], row["fp"], row["fn"]) == (1, 1, 1)
    assert row["precision"] == 0.5 and row["recall"] == 0.5
    assert row["f1"] == 0.5


def test_ndcg_hand_case(spark):
    from semantic_ann_in_data_lake_spark.operators.evaluation import (
        ndcg_at_k,
        symmetric_truth,
    )

    # one query, hits at ranks 1 and 3 of k=3; truth has 2 relevant
    ranked = spark.createDataFrame(
        [(10, 20, 1), (10, 30, 2), (10, 40, 3)],
        "query_id long, cand_id long, rank int",
    )
    gt = spark.createDataFrame([(10, 20), (10, 40)], "id_a long, id_b long")
    truth = symmetric_truth(gt, "id_a", "id_b")
    got = ndcg_at_k(ranked, truth, 3).collect()[0]["ndcg_at_k"]
    import math

    dcg = 1.0 + 1.0 / math.log2(4)
    idcg = 1.0 + 1.0 / math.log2(3)
    assert got == round(dcg / idcg, 4)


# --- pairs / splits ------------------------------------------------------


def test_positive_pairs_i_lt_j(spark, sf_dir):
    from semantic_ann_in_data_lake_spark.operators.pairs import positive_pairs

    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    p = positive_pairs(s, "s_nationkey", "s_suppkey").collect()
    assert all(r["id_a"] < r["id_b"] for r in p)


def test_train_test_split_deterministic(spark, sf_dir):
    from semantic_ann_in_data_lake_spark.operators.pairs import (
        positive_pairs,
        train_test_split,
    )

    c = spark.read.parquet(f"{sf_dir}/customer.parquet").limit(100)
    p = positive_pairs(c, "c_nationkey", "c_custkey")
    s1 = train_test_split(p, ["id_a", "id_b"]).collect()
    s2 = train_test_split(p, ["id_a", "id_b"]).collect()
    assert sorted(map(tuple, s1)) == sorted(map(tuple, s2))
    frac = sum(1 for r in s1 if r["split"] == "train") / len(s1)
    assert 0.6 < frac < 0.95


def test_pairs_from_ground_truth_left_default(spark):
    from semantic_ann_in_data_lake_spark.operators.pairs import pairs_from_ground_truth

    gt = spark.createDataFrame(
        [("t1", "a", "t2", "b"), ("t1", "a", "t9", "zz")],
        "query_table string, query_column string, candidate_table string, candidate_column string",
    )
    meta = spark.createDataFrame(
        [("t1", "a", "t1.a text"), ("t2", "b", "t2.b text")],
        "table_name string, column_name string, serialized string",
    )
    rows = {(r["candidate_table"]): r for r in pairs_from_ground_truth(gt, meta).collect()}
    assert rows["t2"]["text_a"] == "t1.a text" and rows["t2"]["text_b"] == "t2.b text"
    assert rows["t9"]["text_b"] == "zz"  # miss falls back to raw name


# --- annotation / synonyms / corruption ----------------------------------


def test_rule_annotator_roundtrip(spark):
    from semantic_ann_in_data_lake_spark.annotate.annotator import annotate_tables

    catalog = spark.createDataFrame(
        [("my_table", ["Col A", "col-B", "ok_col"], "| a | b |")],
        "table_name string, columns array<string>, sample_markdown string",
    )
    row = annotate_tables(catalog).collect()[0]
    assert row["ok"] and row["attempts"] == 1
    assert row["columns"]["Col A"] == "col_a"
    assert row["columns"]["col-B"] == "col_b"


def test_annotator_retry_then_fallback(spark):
    from semantic_ann_in_data_lake_spark.annotate.annotator import annotate_tables

    calls = {"n": 0}

    def bad_annotator(table, cols, md):
        calls["n"] += 1
        return "no json here at all"

    catalog = spark.createDataFrame(
        [("t", ["x"], "")],
        "table_name string, columns array<string>, sample_markdown string",
    )
    row = annotate_tables(catalog, annotator=bad_annotator).collect()[0]
    assert not row["ok"] and row["attempts"] == 2  # retry-once contract
    assert row["columns"]["x"] == "x"  # identity fallback


def test_extract_json_block_fenced_and_loose():
    from semantic_ann_in_data_lake_spark.annotate.annotator import extract_json_block

    fenced = 'bla\n```json\n{"a": 1}\n```\ntail'
    assert extract_json_block(fenced) == {"a": 1}
    loose = 'Sure! {"table_name": "t", "x": [1]} hope that helps'
    assert extract_json_block(loose)["table_name"] == "t"
    assert extract_json_block("nothing") is None


def test_synonym_greedy_first_seen():
    from semantic_ann_in_data_lake_spark.annotate.synonyms import (
        canonicalize_terms,
        invert_grouping,
    )

    mapping = canonicalize_terms(["id", "identifier", "name", "title"])
    assert mapping["identifier"] == "id"
    assert mapping["title"] == "name"
    inv = invert_grouping(mapping)
    assert "identifier" in inv["id"]


def test_corruption_deterministic_and_applies(spark):
    from semantic_ann_in_data_lake_spark.annotate.corruption import (
        apply_corruption,
        corrupt_charnoise,
        corrupt_positional,
        corrupt_swap,
    )

    cols = ["alpha", "beta", "gamma"]
    c1a = corrupt_positional(spark, "t", cols).collect()
    c1b = corrupt_positional(spark, "t", cols).collect()
    assert sorted(map(tuple, c1a)) == sorted(map(tuple, c1b))
    assert {r["new_name"] for r in c1a} == {"attribiute_0", "attribiute_1", "attribiute_2"}

    c2 = {r["column_name"]: r["new_name"] for r in corrupt_charnoise(spark, "t", cols).collect()}
    assert all(len(v) in (len(k), len(k) - 1) for k, v in c2.items())

    c3 = {r["column_name"]: r["new_name"] for r in corrupt_swap(spark, "t", cols).collect()}
    assert all(c3[k] != k for k in c3)  # derangement-style rotation

    df = spark.createDataFrame([(1, 2, 3)], "alpha int, beta int, gamma int")
    mapping = corrupt_positional(spark, "t", cols)
    renamed = apply_corruption(df, mapping)
    assert set(renamed.columns) == {"attribiute_0", "attribiute_1", "attribiute_2"}


# --- embedder ------------------------------------------------------------


def test_hash_embedder_matches_expr(spark, sf_dir):
    from semantic_ann_in_data_lake_spark.annotate.embedder import (
        embed_texts,
        hash_embedding_expr,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(20)
    via_udf = {
        r["doc_id"]: r["embedding"]
        for r in embed_texts(docs, dim=8).withColumn(
            "doc_id", F.col("doc_id").cast("long")
        ).collect()
    }
    via_expr = {
        r["doc_id"]: r["embedding"]
        for r in docs.select("doc_id", hash_embedding_expr("text", 8).alias("embedding")).collect()
    }
    assert via_udf == via_expr


@pytest.mark.slow  # >20s; default run budget (VERDICT r11 item 1)
def test_deepjoin_train_lifecycle_end_to_end(spark, sf_dir, tmp_path):
    """The V6 consumption seam, driven exactly as a DeepJoin user
    would (reference train.py -> search_query.py): positive pairs →
    split → fit_pair_encoder → SAVE the artifact → LOAD it → encode
    the corpus through CallableEmbedder/embed_texts (the V5 mapInPandas
    path) → kNN → micro metrics. Pins:

    - save/load round-trips the artifact exactly;
    - the CallableEmbedder (python) path and the encode_with_model
      (JVM column) path produce IDENTICAL vectors;
    - the fitted metric beats the unweighted hash baseline on
      same-source retrieval (training signal is real, not a no-op);
    - weights are deterministic across two fits.
    """
    from semantic_ann_in_data_lake_spark.annotate import pairfit
    from semantic_ann_in_data_lake_spark.annotate.embedder import (
        CallableEmbedder,
        embed_texts,
    )
    from semantic_ann_in_data_lake_spark.operators import pairs as pairs_ops
    from semantic_ann_in_data_lake_spark.operators.knn import knn_join
    from semantic_ann_in_data_lake_spark.plans.q_ann import _micro_at_k

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text", "source")
    )
    p = pairs_ops.positive_pairs(docs, "source", "doc_id")
    ta = docs.select(F.col("doc_id").alias("id_a"), F.col("text").alias("text_a"))
    tb = docs.select(F.col("doc_id").alias("id_b"), F.col("text").alias("text_b"))
    sp = pairs_ops.train_test_split(
        p.join(ta, "id_a").join(tb, "id_b"), ["id_a", "id_b"], 0.8
    )
    train = sp.where(F.col("split") == "train")

    model = pairfit.fit_pair_encoder(train, dim=16)
    assert model.weights == pairfit.fit_pair_encoder(train, dim=16).weights

    # artifact round-trip (the reference's model.save/SentenceTransformer load)
    path = str(tmp_path / "pair_encoder.json")
    model.save(path)
    loaded = pairfit.PairEncoderModel.load(path)
    assert loaded == model

    # V5 consumption path: CallableEmbedder over the loaded artifact
    corpus = docs.limit(60)
    via_callable = {
        int(r["doc_id"]): list(r["embedding"])
        for r in embed_texts(
            corpus, embedder=CallableEmbedder(lambda: loaded.as_callable())
        ).collect()
    }
    via_expr = {
        r["doc_id"]: list(r["embedding"])
        for r in corpus.select(
            "doc_id", pairfit.encode_with_model("text", loaded).alias("e")
        ).withColumnRenamed("e", "embedding").collect()
    }
    assert via_callable == via_expr

    # retrieval: fitted metric must beat the unweighted hash baseline
    from semantic_ann_in_data_lake_spark.annotate.embedder import (
        hash_embedding_expr,
    )

    d2 = docs.select(F.col("doc_id").alias("tc"), F.col("source").alias("s2"))
    sym = docs.join(
        d2, (F.col("source") == F.col("s2")) & (F.col("doc_id") != F.col("tc"))
    ).select(F.col("doc_id").alias("tq"), "tc")

    def f1_of(vec_col):
        enc = docs.select(
            F.col("doc_id").alias("vec_id"), vec_col.alias("embedding")
        )
        knn = knn_join(enc, enc, k=5, strategy="exact")
        return _micro_at_k(knn, sym).collect()[0]["micro_f1"]

    fitted = f1_of(pairfit.encode_with_model("text", model))
    baseline = f1_of(hash_embedding_expr("text", 16))
    assert fitted >= baseline, (fitted, baseline)

    # degenerate inputs
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no non-null"):
        pairfit.fit_pair_encoder(
            spark.createDataFrame([], "text_a string, text_b string")
        )
    with _pytest.raises(ValueError, match="weights length"):
        pairfit.PairEncoderModel(dim=4, weights=(1.0,))


# --- dates ---------------------------------------------------------------


@pytest.mark.parametrize(
    "raw,expected",
    [
        ("1995-03-04", "04 March 1995"),
        ("04/03/1995", "04 March 1995"),
        ("19950304", "04 March 1995"),
        ("1995-Q2", "01 April 1995"),
        ("1995-S2", "01 July 1995"),
        ("1995-03", "01 March 1995"),
        ("March 04, 1995", "04 March 1995"),
        ("not a date", None),
    ],
)
def test_normalize_date_formats(spark, raw, expected):
    from semantic_ann_in_data_lake_spark.functions.dates import normalize_date

    df = spark.createDataFrame([(raw,)], "raw string")
    got = df.select(normalize_date("raw").alias("norm")).collect()[0]["norm"]
    assert got == expected


# --- profiler edge cases -------------------------------------------------


def test_profile_empty_table_defaults(spark):
    from semantic_ann_in_data_lake_spark.operators.profiler import profile

    empty = spark.createDataFrame([], "a string, b int")
    rows = {r["column_name"]: r for r in profile(empty, "empty").collect()}
    assert rows["a"]["min_length"] == 0 and rows["a"]["avg_length"] == 0.0
    assert rows["a"]["row_count"] == 0 and rows["a"]["n_nulls"] == 0


def test_profile_null_accounting(spark):
    from semantic_ann_in_data_lake_spark.operators.profiler import profile

    df = spark.createDataFrame([("x",), (None,), ("yy",)], "a string")
    r = profile(df, "t").collect()[0]
    assert r["n_nulls"] == 1 and r["num_values"] == 2
    assert r["min_length"] == 1 and r["max_length"] == 2


def test_distinct_sample_keeps_all_null_columns(spark):
    """A fully-null column must still emit a row (empty sample): the
    melt drops its values, so group presence alone would silently skip
    it — profile consumers enumerate columns (ADVICE r3)."""
    from semantic_ann_in_data_lake_spark.operators.profiler import (
        distinct_sample,
    )

    df = spark.createDataFrame(
        [("x", None), ("y", None)], "a string, b string"
    )
    rows = {
        r["column_name"]: r
        for r in distinct_sample(df, "t", ["a", "b"], k=5).collect()
    }
    assert sorted(rows) == ["a", "b"]
    assert rows["a"]["values_sample"] == ["x", "y"]
    assert rows["b"]["values_sample"] == []


# --- multimodal plumbing -------------------------------------------------


def test_multimodal_features_and_decode(spark, sf_dir):
    from semantic_ann_in_data_lake_spark.operators.multimodal import (
        decode_image,
        extract_features,
        frame_sample_plan,
        synthesize_media_from_documents,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(10)
    media = synthesize_media_from_documents(docs)
    feats = extract_features(media, dim=6).collect()
    assert len(feats) == 10
    assert all(len(r["feature"]) == 6 for r in feats)
    # determinism across runs
    feats2 = extract_features(media, dim=6).collect()
    assert sorted((r["media_id"], tuple(r["feature"])) for r in feats) == sorted(
        (r["media_id"], tuple(r["feature"])) for r in feats2
    )
    # non-PPM payloads are rejected loudly, not mis-decoded
    with pytest.raises(ValueError):
        decode_image(b"bytes")
    # frame sampling: duration null in image fixture → empty plan, no error
    assert frame_sample_plan(media).count() == 0


def test_ppm_decode_roundtrip_and_malformed():
    """Pure-Python PPM codec: P6 encode→decode round-trip, P3 ≡ P6 on
    the same image, header comments/whitespace tolerated, malformed
    payloads rejected with ValueError."""
    from semantic_ann_in_data_lake_spark.operators.multimodal import (
        _ppm_dims,
        _ppm_pixels,
        decode_image,
        encode_ppm_p6,
    )

    for mid in (0, 1, 7, 12345):
        w, h = _ppm_dims(mid)
        px = _ppm_pixels(mid, w, h)
        img = decode_image(encode_ppm_p6(w, h, px))
        assert (img["width"], img["height"], img["maxval"]) == (w, h, 255)
        assert img["pixels"] == px

    # P3 (ASCII) equivalence, with a comment line in the header
    w, h = 3, 2
    px = bytes(range(3 * w * h))
    p3 = (
        b"P3\n# a comment\n 3  2 \n255\n"
        + " ".join(str(v) for v in px).encode()
    )
    img = decode_image(p3)
    assert (img["width"], img["height"], img["pixels"]) == (w, h, px)
    # comment between header tokens of a P6 payload
    p6c = b"P6\n3 # trailing comment\n2\n255\n" + px
    assert decode_image(p6c)["pixels"] == px

    import pytest as _pytest

    for bad in (
        b"",                                   # empty
        b"P5\n1 1\n255\n\x00",                 # wrong magic (PGM)
        b"P6\n0 2\n255\n",                     # zero width
        b"P6\n2 2\n65535\n" + bytes(12),       # 16-bit maxval unsupported
        b"P6\n2 2\n255\n" + bytes(11),         # truncated raster
        b"P3\n2 2\n255\n1 2 3",                # truncated ASCII raster
        b"P3\n1 1\n255\n300 0 0",              # sample exceeds maxval
        b"P6\nx 2\n255\n",                     # non-numeric header
    ):
        with _pytest.raises(ValueError):
            decode_image(bad)


def test_png_codec_roundtrip_filters_and_malformed():
    """Pure-stdlib PNG codec: encode→decode round-trip with scanline
    filters cycling all five spec types, CRC verification, malformed /
    unsupported payloads rejected with ValueError."""
    import struct
    import zlib

    import pytest as _pytest

    from semantic_ann_in_data_lake_spark.operators.multimodal import (
        _ppm_dims,
        _ppm_pixels,
        decode_png,
        encode_png_rgb8,
    )

    for mid in (0, 1, 7, 12345):
        w, h = _ppm_dims(mid)
        px = _ppm_pixels(mid, w, h)
        img = decode_png(encode_png_rgb8(w, h, px))
        assert (img["width"], img["height"]) == (w, h)
        assert img["pixels"] == px
    # heights ≥ 5 guarantee every filter type appears at least once
    w, h = 4, 7
    px = bytes((i * 37) % 256 for i in range(3 * w * h))
    assert decode_png(encode_png_rgb8(w, h, px))["pixels"] == px

    ok = encode_png_rgb8(3, 3, bytes(range(27)))
    # corrupt one IDAT byte: the chunk CRC must catch it
    idat_at = ok.index(b"IDAT") + 4
    corrupt = (
        ok[:idat_at]
        + bytes([ok[idat_at] ^ 0xFF])
        + ok[idat_at + 1 :]
    )
    with _pytest.raises(ValueError, match="CRC"):
        decode_png(corrupt)
    # 16-bit depth unsupported: rebuild IHDR with depth=16 + valid CRC
    ihdr = struct.pack(">IIBBBBB", 3, 3, 16, 2, 0, 0, 0)
    bad_depth = (
        ok[:8]
        + struct.pack(">I", len(ihdr))
        + b"IHDR"
        + ihdr
        + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF)
        + ok[8 + 12 + 13 :]
    )
    with _pytest.raises(ValueError, match="8-bit"):
        decode_png(bad_depth)
    for bad in (
        b"",                       # empty
        b"\x89PNJ\r\n\x1a\n",      # wrong magic
        ok[:-12],                  # IEND missing
        ok[:8],                    # no chunks at all
    ):
        with _pytest.raises(ValueError):
            decode_png(bad)
    with _pytest.raises(ValueError, match="pixel buffer"):
        encode_png_rgb8(2, 2, bytes(5))


def test_decode_quarantine_rows_not_jobs(spark):
    """decode_quarantine_stats turns a corrupt payload into an
    ok=false row (with the error text) instead of failing the job;
    corrupt_every_nth hits exactly the id-arithmetic members."""
    from pyspark.sql import functions as F

    from semantic_ann_in_data_lake_spark.operators.multimodal import (
        corrupt_every_nth,
        decode_png,
        decode_quarantine_stats,
        synthesize_png_media,
    )

    docs = spark.createDataFrame(
        [(i,) for i in range(12)], "doc_id long"
    )
    media = corrupt_every_nth(synthesize_png_media(docs), every_n=4)
    rows = {
        r["media_id"]: r
        for r in decode_quarantine_stats(media, decode_fn=decode_png)
        .collect()
    }
    assert len(rows) == 12
    for mid, r in rows.items():
        if mid % 4 == 0:
            assert r["ok"] is False and r["err"], mid
            assert r["sum_r"] is None
        else:
            assert r["ok"] is True and r["err"] is None, mid
            assert r["width"] == mid % 13 + 4


def test_wav_codec_roundtrip_and_malformed():
    """Pure-Python RIFF/WAVE PCM16 codec: encode→decode round-trip
    (including the odd-LIST-chunk pad rule the encoder plants on
    purpose), malformed payloads rejected with ValueError."""
    import struct

    import pytest as _pytest

    from semantic_ann_in_data_lake_spark.operators.multimodal import (
        _wav_rate,
        _wav_samples,
        decode_audio,
        encode_wav_pcm16,
    )

    for mid in (0, 1, 7, 95, 12345):
        xs = _wav_samples(mid)
        wav = decode_audio(encode_wav_pcm16(_wav_rate(mid), xs))
        assert wav["sample_rate"] == _wav_rate(mid)
        assert (wav["n_channels"], wav["bits"]) == (1, 16)
        assert wav["samples"] == xs

    # negative samples and the int16 extremes survive the round trip
    edge = [-32768, 32767, 0, -1, 1]
    assert decode_audio(encode_wav_pcm16(44100, edge))["samples"] == edge
    # the encoder's LIST chunk is odd-length: the fixed-offset-44
    # assumption reads garbage, a real chunk walk is required
    payload = encode_wav_pcm16(8000, [5, -5])
    assert payload[36:40] != b"data"
    ok = encode_wav_pcm16(8000, [1, 2, 3])
    trunc = ok[:-1]
    resized = (
        trunc[:4] + struct.pack("<I", len(trunc) - 8) + trunc[8:]
    )  # consistent RIFF size, but the data chunk now overruns
    for bad in (
        b"",                                    # empty
        b"RIFX" + ok[4:],                       # wrong magic
        ok[:4] + struct.pack("<I", 5) + ok[8:],  # size field lies
        ok[:8] + b"AVI " + ok[12:],             # not a WAVE form
        resized,                                # data chunk overrun
        ok.replace(b"fmt ", b"fmX ", 1),        # no fmt chunk
        ok.replace(b"data", b"dat2", 1),        # no data chunk
    ):
        with _pytest.raises(ValueError):
            decode_audio(bad)
    # non-PCM format code rejected: patch audio_format inside fmt
    fmt_at = ok.index(b"fmt ") + 8
    nonpcm = ok[:fmt_at] + struct.pack("<H", 3) + ok[fmt_at + 2 :]
    with _pytest.raises(ValueError):
        decode_audio(nonpcm)


def test_native_audio_decoder_contract(spark, sf_dir):
    """Native-codec seam (VERDICT r10 task 5): the stdlib-wave-backed
    decoder is an INDEPENDENT implementation of the decode_audio
    contract — identical dicts per payload on the synthetic corpus,
    identical audio_decode_stats rows through the injected seam, and
    the same ValueError quarantine on malformed bytes."""
    import pytest as _pytest

    from semantic_ann_in_data_lake_spark.operators.multimodal import (
        _wav_rate,
        _wav_samples,
        audio_decode_stats,
        decode_audio,
        encode_wav_pcm16,
        native_audio_decoder,
        synthesize_wav_media,
    )

    native = native_audio_decoder()
    for mid in (0, 1, 7, 95, 12345):
        payload = encode_wav_pcm16(_wav_rate(mid), _wav_samples(mid))
        assert native(payload) == decode_audio(payload)
    with _pytest.raises(ValueError):
        native(b"not a wav")

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(40)
    media = synthesize_wav_media(docs).persist()
    pure = sorted(map(tuple, audio_decode_stats(media).collect()))
    via_native = sorted(
        map(tuple, audio_decode_stats(media, decode_fn=native).collect())
    )
    assert pure == via_native
    media.unpersist()


def test_native_png_decoder_seam(spark, sf_dir):
    """The PNG seam routes EVERY decode through the injected callable,
    pinned with an instrumented wrapper so the test runs (and the seam
    stays honest) in this PIL-less container; stats through the
    wrapper equal the pure tier."""
    from semantic_ann_in_data_lake_spark.operators import multimodal as MM

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(24)
    media = MM.synthesize_png_media(docs).persist()
    pure = sorted(map(tuple, MM.image_decode_stats(
        media, decode_fn=MM.decode_png).collect()))

    def instrumented(payload: bytes) -> dict:
        out = MM.decode_png(payload)
        out["pixels"] = bytes(out["pixels"])  # prove we own the value
        return out

    injected = sorted(map(tuple, MM.image_decode_stats(
        media, decode_fn=instrumented).collect()))
    assert pure == injected
    media.unpersist()


def test_native_png_decoder_pil_tier(spark, sf_dir):
    """PIL tier of the PNG seam — only where the env ships PIL (this
    container does not; the factory is import-gated by design)."""
    import pytest as _pytest

    from semantic_ann_in_data_lake_spark.operators import multimodal as MM

    try:
        native = MM.native_png_decoder()
    except ImportError:
        _pytest.skip("PIL not in this environment (documented)")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(24)
    media = MM.synthesize_png_media(docs)
    pure = sorted(map(tuple, MM.image_decode_stats(
        media, decode_fn=MM.decode_png).collect()))
    via_pil = sorted(map(tuple, MM.image_decode_stats(
        media, decode_fn=native).collect()))
    assert pure == via_pil


def test_resize_plan_and_images_plumbing(spark, sf_dir):
    """Aspect math: longer side clamps to max_side, aspect preserved
    within integer truncation, never below 1; resize_images carries the
    geometry and applies the (stub/passthrough) transform per row."""
    from semantic_ann_in_data_lake_spark.operators.multimodal import (
        resize_images,
        resize_plan,
        synthesize_media_from_documents,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    media = synthesize_media_from_documents(docs)
    plan = {r["media_id"]: r for r in resize_plan(media, max_side=64).collect()}
    assert plan
    for r in plan.values():
        longer = max(r["width"], r["height"])
        if longer > 64:
            assert r["resized"]
            assert max(r["new_width"], r["new_height"]) == 64
            assert r["new_width"] == max(1, (r["width"] * 64) // longer)
            assert r["new_height"] == max(1, (r["height"] * 64) // longer)
        else:
            assert not r["resized"]
            assert (r["new_width"], r["new_height"]) == (r["width"], r["height"])

    # payload passthrough stub + geometry ride-along; custom transform
    # sees the computed dims
    out = {r["media_id"]: r for r in resize_images(media, max_side=64).collect()}
    src = {r["media_id"]: bytes(r["payload"]) for r in media.collect()}
    assert set(out) == set(src)
    for mid, r in out.items():
        assert bytes(r["payload"]) == src[mid]
        assert (r["new_width"], r["new_height"]) == (
            plan[mid]["new_width"], plan[mid]["new_height"],
        )
    tagged = resize_images(
        media, max_side=64,
        transform_fn=lambda p, w, h: f"{w}x{h}".encode(),
    ).collect()
    assert all(
        bytes(r["payload"]) == f"{r['new_width']}x{r['new_height']}".encode()
        for r in tagged
    )

    import pytest as _pytest

    with _pytest.raises(ValueError):
        resize_plan(media, max_side=0)


def test_audio_window_plan(spark, sf_dir):
    """Framing math: full windows only — count = (dur - window) div hop
    + 1 for dur >= window, 0 otherwise; start = idx * hop; end - start
    = window; tail shorter than a window is dropped."""
    from semantic_ann_in_data_lake_spark.operators.multimodal import (
        audio_window_plan,
        synthesize_audio_from_documents,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    media = synthesize_audio_from_documents(docs)
    durs = {r["media_id"]: r["meta"]["duration_ms"] for r in media.collect()}

    window_ms, hop_ms = 400, 150  # hop deliberately not dividing window
    rows = audio_window_plan(media, window_ms=window_ms, hop_ms=hop_ms).collect()
    by_media: dict = {}
    for r in rows:
        by_media.setdefault(r["media_id"], []).append(r)
    for mid, dur in durs.items():
        got = sorted(by_media.get(mid, []), key=lambda r: r["window_idx"])
        expect_n = (dur - window_ms) // hop_ms + 1 if dur >= window_ms else 0
        assert len(got) == expect_n, (mid, dur)
        for i, r in enumerate(got):
            assert r["window_idx"] == i
            assert r["start_ms"] == i * hop_ms
            assert r["end_ms"] == r["start_ms"] + window_ms
            assert r["end_ms"] <= dur  # full windows only

    # clip shorter than one window yields no rows (no partial frames)
    short = media.where("meta.duration_ms < 400")
    if short.count():
        assert audio_window_plan(short, window_ms=400, hop_ms=150).count() == 0

    import pytest as _pytest

    with _pytest.raises(ValueError):
        audio_window_plan(media, window_ms=0)
    with _pytest.raises(ValueError):
        audio_window_plan(media, hop_ms=0)


# --- sources -------------------------------------------------------------


def test_read_csv_dir_and_checkpoint(spark, tmp_path):
    import os

    from semantic_ann_in_data_lake_spark.sources.readers import read_csv_dir
    from semantic_ann_in_data_lake_spark.sources.writers import checkpoint

    d = tmp_path / "lake"
    d.mkdir()
    (d / "t1.csv").write_text("a,b\n1,x\n2,y\n")
    (d / "t2.csv").write_text("a,b\n3,z\n")
    df = read_csv_dir(spark, str(d))
    rows = df.collect()
    assert len(rows) == 3
    assert {r["table_name"] for r in rows} == {"t1", "t2"}

    calls = {"n": 0}

    def compute():
        calls["n"] += 1
        return spark.range(5)

    p = str(tmp_path / "ckpt")
    a = checkpoint(spark, p, compute)
    b = checkpoint(spark, p, compute)
    assert calls["n"] == 1 and a.count() == b.count() == 5
    assert os.path.exists(os.path.join(p, "_SUCCESS"))


def test_knn_ivf_recall_vs_exact(spark, sf_dir):
    """IVF strategy: valid ranked subset with usable recall@k vs exact."""
    from semantic_ann_in_data_lake_spark.operators.knn import knn_join

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = knn_join(emb, emb, k=5, strategy="exact").collect()
    ivf = knn_join(emb, emb, k=5, strategy="ivf").collect()
    assert all(r["rank"] <= 5 and r["query_id"] != r["cand_id"] for r in ivf)
    truth = {(r["query_id"], r["cand_id"]) for r in exact}
    got = {(r["query_id"], r["cand_id"]) for r in ivf}
    recall = len(got & truth) / len(truth)
    assert recall > 0.3, f"IVF recall collapsed: {recall}"
    # every IVF distance must agree with the exact metric (same rounding)
    exact_d = {(r["query_id"], r["cand_id"]): r["distance"] for r in exact}
    for r in ivf:
        key = (r["query_id"], r["cand_id"])
        if key in exact_d:
            assert r["distance"] == exact_d[key]


def test_knn_auto_dispatches_to_broadcast(spark, sf_dir):
    from semantic_ann_in_data_lake_spark.operators.knn import knn_join

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(80)
    auto = knn_join(emb, emb, k=3, strategy="auto").collect()
    exact = knn_join(emb, emb, k=3, strategy="exact").collect()
    # small candidate side → broadcast → exact-equal results
    assert sorted(map(tuple, auto)) == sorted(map(tuple, exact))


def test_salted_join_equals_plain_join(spark, sf_dir):
    """Salting must be a pure physical rewrite: row-identical output."""
    from pyspark.sql import functions as F

    from semantic_ann_in_data_lake_spark.functions.skew import (
        salted_join,
        two_stage_agg,
    )

    # skewed big side: lineitem keyed by suppkey (hot keys exist)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        F.col("l_suppkey").alias("s_suppkey"), "l_quantity"
    )
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
        "s_suppkey", "s_name"
    )
    plain = li.join(s, "s_suppkey").collect()
    salted = salted_join(li, s, "s_suppkey", n_salts=4).collect()
    assert sorted(map(tuple, plain)) == sorted(map(tuple, salted))

    agg_plain = (
        li.groupBy("s_suppkey").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    agg_salted = two_stage_agg(
        li,
        ["s_suppkey"],
        {"n_part": F.count(F.lit(1))},
        {"n": F.sum("n_part")},
        n_salts=4,
    ).collect()
    assert sorted((r["s_suppkey"], r["n"]) for r in agg_plain) == sorted(
        (r["s_suppkey"], r["n"]) for r in agg_salted
    )


def test_sink_roundtrips(spark, tmp_path):
    """S6/S7 sinks round-trip through their paired readers."""
    from semantic_ann_in_data_lake_spark.sources.readers import read_jsonl
    from semantic_ann_in_data_lake_spark.sources.writers import (
        write_csv,
        write_json_lines,
    )

    df = spark.createDataFrame(
        [(1, "a"), (2, "b,with,commas"), (3, None)], "id long, s string"
    )
    jp = str(tmp_path / "out_jsonl")
    write_json_lines(df, jp)
    back = read_jsonl(spark, jp, schema="id long, s string")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))

    cp = str(tmp_path / "out_csv")
    write_csv(df, cp)
    back_csv = (
        spark.read.option("header", True).schema("id long, s string").csv(cp)
    )
    assert sorted(map(tuple, back_csv.collect())) == sorted(map(tuple, df.collect()))


def test_char_shingles_short_input(spark):
    from pyspark.sql import functions as F

    from semantic_ann_in_data_lake_spark.functions.text import char_shingles

    df = spark.createDataFrame([("ab",), ("",), ("exactly5",)], "t string")
    rows = df.select(char_shingles("t", 5).alias("sh")).collect()
    assert rows[0]["sh"] == [] and rows[1]["sh"] == []
    assert len(rows[2]["sh"]) == 4


def test_frame_sample_plan_with_durations(spark):
    from pyspark.sql import functions as F

    from semantic_ann_in_data_lake_spark.operators.multimodal import (
        frame_sample_plan,
    )

    media = spark.createDataFrame(
        [(1, b"x", ("video", "video/mp4", None, None, 3500)),
         (2, b"y", ("image", "image/png", 64, 64, None))],
        "media_id long, payload binary, "
        "meta struct<modality:string,mime:string,width:int,height:int,duration_ms:int>",
    )
    frames = frame_sample_plan(media, every_ms=1000).collect()
    # video with 3500ms at 1000ms cadence → ts 0,1000,2000,3000; image skipped
    assert sorted(r["frame_ts_ms"] for r in frames) == [0, 1000, 2000, 3000]
    assert {r["media_id"] for r in frames} == {1}


def test_sample_rows_markdown_deterministic(spark, sf_dir):
    from semantic_ann_in_data_lake_spark.operators.profiler import (
        sample_rows_markdown,
    )

    df = spark.read.parquet(f"{sf_dir}/nation.parquet")
    md1 = sample_rows_markdown(df, n=5)
    md2 = sample_rows_markdown(df, n=5)
    assert md1 == md2
    lines = md1.splitlines()
    assert lines[0].startswith("| n_nationkey |")
    assert len(lines) == 2 + 5  # header + separator + 5 rows


def test_vector_index_roundtrip(spark, sf_dir, tmp_path):
    from semantic_ann_in_data_lake_spark.operators.knn import (
        build_vector_index,
        knn_join,
        load_vector_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(50)
    path = str(tmp_path / "vec_index")
    build_vector_index(emb, path)
    loaded = load_vector_index(spark, path)
    assert loaded.count() == 50
    # the reloaded artifact serves queries identically to the original
    a = knn_join(emb, emb, k=3, strategy="exact").collect()
    b = knn_join(loaded, loaded, k=3, strategy="exact").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_profile_approx_distinct_accuracy(spark, sf_dir):
    from pyspark.sql import functions as F

    from semantic_ann_in_data_lake_spark.operators.profiler import (
        profile_approx_distinct,
    )

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    approx = {
        r["column_name"]: r["approx_n_distinct"]
        for r in profile_approx_distinct(o, "orders", rsd=0.05).collect()
    }
    for c in ["o_orderkey", "o_orderstatus", "o_orderpriority"]:
        exact = o.select(F.countDistinct(c)).collect()[0][0]
        assert abs(approx[c] - exact) <= max(0.15 * exact, 2), (c, approx[c], exact)


# --- chunking + dedup clustering ----------------------------------------


def test_chunk_documents_hand_case(spark):
    from semantic_ann_in_data_lake_spark.operators.chunking import chunk_documents

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, ""), (3, "x")], "doc_id long, text string"
    )
    rows = {
        (r.doc_id, r.chunk_id): r
        for r in chunk_documents(docs, window=4, stride=2).collect()
    }
    # doc 1: starts 0,2,4 → "a b c d", "c d e", "e"; doc 2 empty; doc 3 one
    assert set(rows) == {(1, 0), (1, 1), (1, 2), (3, 0)}
    assert rows[(1, 0)].chunk_text == "a b c d" and rows[(1, 0)].n_tokens == 4
    assert rows[(1, 1)].chunk_text == "c d e" and rows[(1, 1)].start_pos == 2
    assert rows[(1, 2)].chunk_text == "e" and rows[(1, 2)].n_tokens == 1
    assert rows[(3, 0)].chunk_text == "x"
    with pytest.raises(ValueError):
        chunk_documents(docs, window=4, stride=5)


def test_dedup_clusters_chain_and_islands(spark):
    from semantic_ann_in_data_lake_spark.operators.dedup import dedup_clusters

    # chain 1-2-3-4-5 (needs >1 propagation round) + island 8-9
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (8, 9)], "id_a long, id_b long"
    )
    got = {r.doc_id: r.cluster_id for r in dedup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 8: 8, 9: 8}

    # a graph deeper than max_iter must WARN (silent split would leak
    # near-dups across a train/test boundary downstream), not return
    # quietly-wrong labels
    import warnings

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        dedup_clusters(pairs, max_iter=1).collect()
    assert any(
        "no fixpoint" in str(w.message) for w in caught
    ), [str(w.message) for w in caught]


def test_quantize_embeddings_zero_vector_and_range(spark):
    from semantic_ann_in_data_lake_spark.operators.knn import quantize_embeddings

    emb = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, -0.5]), (3, [0.1, 0.2])],
        "vec_id long, embedding array<double>",
    )
    got = {r.vec_id: r for r in quantize_embeddings(emb).collect()}
    assert got[1].scale == 0.0 and got[1].qvec == [0, 0]
    assert got[2].qvec == [127, -64]  # -0.5/(1/127) = -63.5 → away from 0
    # 0.1/(0.2/127) = 63.4999... in binary floats → floors to 63 (same
    # arithmetic both engines — the quantizer is bit-portable, not ideal-real)
    assert got[3].qvec == [63, 127] and abs(got[3].scale - 0.2 / 127) < 1e-15


def test_stratified_sample_quota_and_small_groups(spark):
    from semantic_ann_in_data_lake_spark.operators.pairs import stratified_sample

    df = spark.createDataFrame(
        [(i, "a" if i < 10 else "b") for i in range(12)], "id long, grp string"
    )
    out = stratified_sample(df, "grp", 3, "id").collect()
    by_grp = {}
    for r in out:
        by_grp.setdefault(r.grp, []).append(r.sample_rank)
    assert sorted(by_grp["a"]) == [1, 2, 3]
    assert sorted(by_grp["b"]) == [1, 2]  # group smaller than quota


def test_knn_broadcast_int8_compressed_recall(spark, sf_dir):
    from semantic_ann_in_data_lake_spark.operators.knn import knn_join

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(150)
    exact = knn_join(emb, emb, k=5, strategy="broadcast").collect()
    comp = knn_join(emb, emb, k=5, strategy="broadcast", compress="int8").collect()
    a = {(r.query_id, r.cand_id) for r in exact}
    b = {(r.query_id, r.cand_id) for r in comp}
    # int8 error ~scale/2 per lane: near-exact neighbor sets
    assert len(a & b) / len(a) >= 0.9
    # distances close to exact ones on the intersection
    da = {(r.query_id, r.cand_id): r.distance for r in exact}
    db = {(r.query_id, r.cand_id): r.distance for r in comp}
    for p in list(a & b)[:50]:
        assert abs(da[p] - db[p]) < 0.05


def test_grid_eval_matches_single_cell(spark, sf_dir):
    """Each (k, τ) grid row must equal the independently-computed
    single-cell evaluation — pins the shared-kNN slicing logic."""
    from semantic_ann_in_data_lake_spark.plans import pipeline

    grid = pipeline.grid_evaluate_discovery(
        spark, sf_dir, ks=[5, 10], taus=[0.2, 0.4]
    ).collect()
    assert len(grid) == 4
    by_cell = {(r.k, round(r.tau, 2)): r for r in grid}
    for k in (5, 10):
        for tau in (0.2, 0.4):
            single = pipeline.evaluate_discovery(
                spark, sf_dir, k=k, tau=tau, strategy="exact"
            ).collect()[0]
            g = by_cell[(k, tau)]
            assert (g.tp, g.fp, g.fn) == (single.tp, single.fp, single.fn), (k, tau)
            assert g.precision == single.precision
            assert g.recall == single.recall
            assert g.f1 == single.f1
            assert g.ndcg_at_k == single.ndcg_at_k


def test_export_evaluation_artifacts(spark, sf_dir, tmp_path):
    """Artifact sinks mirror the reference's per-cell CSV outputs
    (join_discoverer.py:491-517): distances + joinable per cell,
    evaluation_results for the grid."""
    import os

    from semantic_ann_in_data_lake_spark.plans import pipeline

    out = str(tmp_path / "eval_out")
    results = pipeline.export_evaluation_artifacts(
        spark, sf_dir, out, ks=[5], taus=[0.2, 0.4]
    )
    assert results.count() == 2
    for name in (
        "distances_5_dist_0.2.csv",
        "distances_5_dist_0.4.csv",
        "joinable_columns_5_dist_0.2.csv",
        "joinable_columns_5_dist_0.4.csv",
        "evaluation_results.csv",
    ):
        assert os.path.exists(os.path.join(out, name, "_SUCCESS")), name
    # joinable is the thresholded subset of distances
    dist = spark.read.option("header", True).csv(f"{out}/distances_5_dist_0.2.csv")
    join = spark.read.option("header", True).csv(f"{out}/joinable_columns_5_dist_0.2.csv")
    assert join.count() <= dist.count()


def test_simhash_banded_equals_bruteforce(spark, sf_dir):
    """Pigeonhole banding has recall 1.0 for Hamming <= max_hamming:
    pair sets must match the O(n^2) brute force exactly."""
    from semantic_ann_in_data_lake_spark.operators import dedup
    from semantic_ann_in_data_lake_spark.sources.readers import read_table

    sim = dedup.simhash(read_table(spark, sf_dir, "documents"), bits=32)
    for mh in (2, 6):
        banded = dedup.simhash_near_dups(sim, max_hamming=mh, bits=32, banded=True)
        brute = dedup.simhash_near_dups(sim, max_hamming=mh, banded=False)
        bset = {(r.id_a, r.id_b, r.hamming) for r in banded.collect()}
        xset = {(r.id_a, r.id_b, r.hamming) for r in brute.collect()}
        assert bset == xset, f"max_hamming={mh}: banded != brute"
        assert len(bset) > 0 or mh == 2  # fixture sanity


def test_simhash_near_dups_degenerate_threshold_raises(spark):
    """max_hamming >= bits means every pair matches — the banding would
    silently produce zero-width segments (a full cartesian); must raise."""
    import pytest

    from semantic_ann_in_data_lake_spark.operators import dedup

    sim = spark.createDataFrame([(1, 5), (2, 9)], ["doc_id", "simhash"])
    with pytest.raises(ValueError, match="every pair matches"):
        dedup.simhash_near_dups(sim, max_hamming=32, bits=32)
    with pytest.raises(ValueError, match="every pair matches"):
        dedup.simhash_near_dups(sim, max_hamming=40, bits=32, banded=False)


def test_upsert_latest_version_tie_updates_win(spark):
    """On a version tie between target and updates, the UPDATES row wins
    (MERGE WHEN MATCHED semantics) — deterministically, not by
    partition order; a key column is rejected as tiebreak."""
    import pytest

    from semantic_ann_in_data_lake_spark.operators.pairs import upsert_latest

    target = spark.createDataFrame(
        [(1, 3, "old"), (2, 1, "keep")], ["k", "version", "payload"]
    )
    updates = spark.createDataFrame([(1, 3, "new")], ["k", "version", "payload"])
    out = {r["k"]: r["payload"] for r in upsert_latest(target, updates, ["k"], "version").collect()}
    assert out == {1: "new", 2: "keep"}

    with pytest.raises(ValueError, match="key column"):
        upsert_latest(target, updates, ["k"], "version", tiebreak_col="k")

    # explicit tiebreak still ranks above origin within the same side
    u2 = spark.createDataFrame(
        [(1, 3, "a"), (1, 3, "z")], ["k", "version", "payload"]
    )
    out2 = upsert_latest(target, u2, ["k"], "version", tiebreak_col="payload")
    assert {r["k"]: r["payload"] for r in out2.collect()}[1] == "z"


def test_cache_scope_releases_blocks(spark):
    """scoped_persist inside cache_scope must unpersist on exit; outside
    a scope the caller owns the cache."""
    from semantic_ann_in_data_lake_spark.cache import cache_scope, scoped_persist

    with cache_scope():
        df = scoped_persist(spark.range(10))
        assert df.count() == 10
        assert df.storageLevel.useMemory
    assert not df.storageLevel.useMemory  # released at scope exit

    outside = scoped_persist(spark.range(5))
    assert outside.count() == 5
    assert outside.storageLevel.useMemory
    outside.unpersist()


def test_embedding_near_dups_ann_recall(spark, sf_dir):
    """The ANN scale tier of embedding_near_dups: every emitted pair is
    exact-verified (precision 1.0) and recall vs the O(n^2) baseline
    stays above the measured floor (lsh/ivf ~0.8 on the fixture)."""
    from semantic_ann_in_data_lake_spark.operators import dedup

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = {(r.id_a, r.id_b) for r in dedup.embedding_near_dups(emb, tau=0.3).collect()}
    assert exact
    # broadcast top-k at k=20 recovers the full threshold set here
    bc = {
        (r.id_a, r.id_b)
        for r in dedup.embedding_near_dups(emb, tau=0.3, strategy="broadcast", k=20).collect()
    }
    assert bc == exact
    for strat in ("lsh", "ivf"):
        ann = {
            (r.id_a, r.id_b)
            for r in dedup.embedding_near_dups(emb, tau=0.3, strategy=strat, k=20).collect()
        }
        assert ann <= exact, f"{strat} emitted a non-duplicate pair"
        assert len(ann & exact) / len(exact) >= 0.6, f"{strat} recall too low"


@pytest.mark.slow  # >20s; default run budget (VERDICT r11 item 1)
def test_embedding_near_dups_exact_prefilter_matches_jvm(spark, monkeypatch):
    """The exact tier's BLAS prefilter (round-11 optimization) is a
    pure candidate-generation step: output must equal the declarative
    cross join bit-for-bit, including pairs AT the 6-dp rounding
    boundary of τ, and the over-budget fallback must take the JVM
    path."""
    from semantic_ann_in_data_lake_spark.operators import dedup, knn

    # cos(v1, v2) lands a hair under τ=0.5 after rounding: boundary row
    rows = [
        (1, [1.0, 0.0]),
        (2, [0.5, 0.8660254]),          # ~cos 0.5 vs id 1
        (3, [0.8660254037844387, 0.5]), # cos 30° vs id 1
        (4, [-1.0, 0.0]),
        (5, None),
        (6, [0.0, 0.0]),                # zero vector: eps guard path
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def jvm_only(e, tau):
        # force the fallback by zeroing the broadcast budget
        monkeypatch.setenv("SPARK_GRAFT_KNN_BCAST_BUDGET_MB", "0")
        try:
            return sorted(
                map(tuple, dedup.embedding_near_dups(e, tau=tau).collect())
            )
        finally:
            monkeypatch.delenv("SPARK_GRAFT_KNN_BCAST_BUDGET_MB")

    # the NULL-vector row makes the admission gate decline; without it
    # the prefilter engages on the same boundary rows
    for e in (emb, emb.where(F.col("embedding").isNotNull())):
        for tau in (0.3, 0.5, 0.9):
            fast = sorted(
                map(tuple, dedup.embedding_near_dups(e, tau=tau).collect())
            )
            slow = jvm_only(e, tau)
            assert fast == slow, f"tau={tau}: {fast} != {slow}"


def test_token_truncate_bpe_seam(spark):
    """The exact-BPE seam: a fake tokenizer with tiktoken's interface
    (encode/decode) drives the pandas path; whitespace tier unchanged."""
    from semantic_ann_in_data_lake_spark.functions.text import token_truncate

    class FakeBPE:
        """Char-level 'BPE': every character is one token."""

        def encode(self, s):
            return [ord(ch) for ch in s]

        def decode(self, ids):
            return "".join(chr(i) for i in ids)

    df = spark.createDataFrame(
        [(1, "hello world"), (2, "ab"), (3, "")], "doc_id long, text string"
    )
    out = {
        r.doc_id: r
        for r in token_truncate(
            df, "text", ("doc_id",), max_tokens=5, tokenizer=FakeBPE
        ).collect()
    }
    assert out[1].n_tokens == 11
    assert out[1].n_tokens_kept == 5
    assert out[1].truncated == "hello"
    assert out[2].n_tokens == 2 and out[2].truncated == "ab"
    assert out[3].n_tokens == 0 and out[3].truncated == ""

    ws = {
        r.doc_id: r
        for r in token_truncate(df, "text", ("doc_id",), max_tokens=1).collect()
    }
    assert ws[1].truncated == "hello" and ws[1].n_tokens == 2


# ---------------------------------------------------------------------------
# Round-2 additions: repetition stats, PII scrub, as-of join
# ---------------------------------------------------------------------------


def test_repetition_stats_known_values(spark):
    from semantic_ann_in_data_lake_spark.operators.textstats import repetition_stats

    docs = spark.createDataFrame(
        [
            (1, "a b c a b c a b c"),  # 7 trigrams, 3 distinct -> 4/7
            (2, "one two three four"),  # 2 trigrams, 2 distinct -> 0
            (3, "x y"),  # fewer than n tokens -> 0 ngrams
            (4, ""),  # empty
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in repetition_stats(docs, n=3).collect()}
    assert rows[1]["n_ngrams"] == 7 and rows[1]["n_distinct_ngrams"] == 3
    assert abs(rows[1]["dup_ngram_fraction"] - round(4 / 7, 4)) < 1e-9
    assert rows[2]["dup_ngram_fraction"] == 0.0
    assert rows[3]["n_ngrams"] == 0 and rows[3]["dup_ngram_fraction"] == 0.0
    assert rows[4]["n_tokens"] == 0 and rows[4]["dup_ngram_fraction"] == 0.0


def test_pii_scrub_counts_and_redaction(spark):
    from semantic_ann_in_data_lake_spark.operators.textstats import pii_scrub

    docs = spark.createDataFrame(
        [
            (1, "mail me at jo.doe+x@corp.example.com or call 555-1234"),
            (2, "docs at https://ex.org/a?b=c and http://ex.org plain"),
            (3, "nothing sensitive here"),
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in pii_scrub(docs).collect()}
    assert rows[1]["n_emails"] == 1 and rows[1]["n_phones"] == 1
    assert "[EMAIL]" in rows[1]["clean_text"] and "[PHONE]" in rows[1]["clean_text"]
    assert "@" not in rows[1]["clean_text"]
    assert rows[2]["n_urls"] == 2 and rows[2]["clean_text"].count("[URL]") == 2
    assert rows[3]["clean_text"] == "nothing sensitive here"
    assert (rows[3]["n_emails"], rows[3]["n_urls"], rows[3]["n_phones"]) == (0, 0, 0)


def _ts(s):
    from datetime import datetime

    return datetime.fromisoformat(s)


def test_asof_join_semantics(spark):
    from semantic_ann_in_data_lake_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [
            (100, 1, _ts("2024-01-01 10:00:00")),  # after r2 -> match 12
            (101, 1, _ts("2024-01-01 09:00:00")),  # exactly at r1 -> inclusive
            (102, 1, _ts("2024-01-01 08:00:00")),  # before all -> null
            (103, 2, _ts("2024-01-01 10:00:00")),  # other key -> its own row
            (104, 3, _ts("2024-01-01 10:00:00")),  # key with no right rows
        ],
        ["event_id", "user_id", "ts"],
    )
    right = spark.createDataFrame(
        [
            (11, 1, _ts("2024-01-01 09:00:00")),
            (12, 1, _ts("2024-01-01 09:30:00")),
            (13, 2, _ts("2024-01-01 09:45:00")),
        ],
        ["rid", "user_id", "ts"],
    )
    out = {
        r["event_id"]: r
        for r in asof_join(
            left, right, on="user_id", right_cols=("rid",), right_id="rid"
        ).collect()
    }
    assert out[100]["matched_rid"] == 12
    assert out[101]["matched_rid"] == 11  # ts >= right.ts is inclusive
    assert out[102]["matched_rid"] is None and out[102]["matched_ts"] is None
    assert out[103]["matched_rid"] == 13
    assert out[104]["matched_rid"] is None
    assert set(out) == {100, 101, 102, 103, 104}  # left join keeps all

    inner = asof_join(
        left, right, on="user_id", right_cols=("rid",), right_id="rid", how="inner"
    )
    assert {r["event_id"] for r in inner.collect()} == {100, 101, 103}

    # tolerance: 100 is 30min after r2; a 10-minute budget drops it
    tol = asof_join(
        left,
        right,
        on="user_id",
        right_cols=("rid",),
        right_id="rid",
        tolerance_us=10 * 60 * 1_000_000,
    )
    trows = {r["event_id"]: r for r in tol.collect()}
    assert trows[100]["matched_rid"] is None  # outside tolerance
    assert trows[101]["matched_rid"] == 11  # gap 0 within tolerance


def test_asof_join_equal_ts_tiebreak(spark):
    from semantic_ann_in_data_lake_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 7, _ts("2024-01-01 12:00:00"))], ["event_id", "user_id", "ts"]
    )
    right = spark.createDataFrame(
        [
            (21, 7, _ts("2024-01-01 11:00:00")),
            (22, 7, _ts("2024-01-01 11:00:00")),  # same (key, ts): keep max id
        ],
        ["rid", "user_id", "ts"],
    )
    out = asof_join(
        left, right, on="user_id", right_cols=("rid",), right_id="rid"
    ).collect()
    assert out[0]["matched_rid"] == 22


def test_asof_join_null_payload_not_backfilled(spark):
    """All matched_* fields must come from the SAME right row: a NULL
    payload on the matched row stays NULL (pandas merge_asof / DuckDB
    ASOF semantics) instead of being backfilled from an older right row
    — the bug carrying columns independently would produce."""
    from semantic_ann_in_data_lake_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 7, _ts("2024-01-01 10:00:00"))], ["event_id", "user_id", "ts"]
    )
    right = spark.createDataFrame(
        [
            (21, 7, "older-value", _ts("2024-01-01 09:00:00")),
            (22, 7, None, _ts("2024-01-01 09:30:00")),  # matched row, NULL val
        ],
        ["rid", "user_id", "val", "ts"],
    )
    out = asof_join(
        left, right, on="user_id", right_cols=("rid", "val"), right_id="rid"
    ).collect()[0]
    assert out["matched_rid"] == 22
    assert out["matched_val"] is None  # NOT "older-value"

    # tolerance compounds the old bug: the in-tolerance matched row's
    # NULL field must not leak a value from an OUT-of-tolerance row
    tol = asof_join(
        left,
        right.where(F.col("rid") != 21).unionByName(
            spark.createDataFrame(
                [(20, 7, "stale", _ts("2024-01-01 08:00:00"))],
                ["rid", "user_id", "val", "ts"],
            )
        ),
        on="user_id",
        right_cols=("rid", "val"),
        right_id="rid",
        tolerance_us=45 * 60 * 1_000_000,
    ).collect()[0]
    assert tol["matched_rid"] == 22 and tol["matched_val"] is None


def test_asof_join_right_cols_containing_ts(spark):
    """right_cols may include the right timestamp column itself —
    positional struct field names avoid the collision."""
    from semantic_ann_in_data_lake_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 7, _ts("2024-01-01 10:00:00"))], ["event_id", "user_id", "ts"]
    )
    right = spark.createDataFrame(
        [(21, 7, _ts("2024-01-01 09:00:00"))], ["rid", "user_id", "ts"]
    )
    out = asof_join(
        left, right, on="user_id", right_cols=("ts", "rid"), right_id="rid"
    ).collect()[0]
    assert out["matched_rid"] == 21
    assert out["matched_ts"] == _ts("2024-01-01 09:00:00")


def test_asof_join_single_shuffle_plan(spark):
    """The as-of composition must cost exactly one exchange (the key
    hash partitioning for the window sort) — no join, no row blowup."""
    from semantic_ann_in_data_lake_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 1, _ts("2024-01-01 12:00:00"))], ["event_id", "user_id", "ts"]
    )
    right = spark.createDataFrame(
        [(2, 1, _ts("2024-01-01 11:00:00"))], ["rid", "user_id", "ts"]
    )
    plan = asof_join(
        left, right, on="user_id", right_cols=("rid",), right_id="rid"
    )._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_ivf_kmeans_ml_recall_vs_exact(spark, sf_dir):
    """Distributed-KMeans IVF must run end-to-end and keep useful recall
    against the exact path at the same (nlist, nprobe)."""
    from semantic_ann_in_data_lake_spark.operators.knn import knn_join
    from semantic_ann_in_data_lake_spark.sources.readers import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    exact = knn_join(emb, emb, k=5, strategy="exact")
    approx = knn_join(emb, emb, k=5, strategy="ivf", ivf_fit="kmeans_ml")
    true_pairs = {(r["query_id"], r["cand_id"]) for r in exact.collect()}
    got_pairs = {(r["query_id"], r["cand_id"]) for r in approx.collect()}
    recall = len(true_pairs & got_pairs) / len(true_pairs)
    assert recall >= 0.4, recall  # nprobe=4/nlist=16 -> partial by design
    # every distance reported must be the exact metric for that pair
    assert got_pairs  # non-empty


def test_mix_sample_fractions_and_determinism(spark, sf_dir):
    from pyspark.sql import functions as F

    from semantic_ann_in_data_lake_spark.operators.pairs import mix_sample
    from semantic_ann_in_data_lake_spark.sources.readers import read_table

    docs = read_table(spark, sf_dir, "documents")
    fracs = {"src0": 1.0, "src1": 0.5, "src5": 0.0}
    kept = mix_sample(docs, fracs)
    by_src = {
        r["source"]: r["n"]
        for r in kept.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    n0 = docs.where(F.col("source") == "src0").count()
    n1 = docs.where(F.col("source") == "src1").count()
    assert by_src.get("src0") == n0  # fraction 1.0 keeps everything
    assert 0 < by_src.get("src1", 0) < n1  # 0.5 keeps a strict subset
    assert "src5" not in by_src  # fraction 0.0
    assert set(by_src) <= {"src0", "src1"}  # unlisted sources drop
    # deterministic: same rows on a re-run
    again = {r["doc_id"] for r in mix_sample(docs, fracs).select("doc_id").collect()}
    assert again == {r["doc_id"] for r in kept.select("doc_id").collect()}


def test_write_layout_partitioned_sorted(spark, sf_dir, tmp_path):
    """The layout writer must produce hive dirs per partition value, few
    files per value, and row groups sorted by the sort key (checked via
    per-file min/max disjointness)."""
    import glob

    from semantic_ann_in_data_lake_spark.sources.readers import read_table
    from semantic_ann_in_data_lake_spark.sources.writers import write_layout

    o = read_table(spark, sf_dir, "orders")
    out = str(tmp_path / "orders_layout")
    write_layout(
        o, out, partition_by=["o_orderstatus"], sort_by=["o_orderdate"],
        num_output_tasks=4,
    )
    part_dirs = glob.glob(f"{out}/o_orderstatus=*")
    assert len(part_dirs) >= 2  # one dir per status value
    # few files per value (range routing, not task x value explosion)
    for d in part_dirs:
        files = glob.glob(f"{d}/*.parquet")
        assert 1 <= len(files) <= 4
    # disjoint o_orderdate ranges across the files of one value
    import pyarrow.parquet as pq

    biggest = max(part_dirs, key=lambda d: len(glob.glob(f"{d}/*.parquet")))
    spans = []
    for f in sorted(glob.glob(f"{biggest}/*.parquet")):
        t = pq.read_table(f, columns=["o_orderdate"])["o_orderdate"].to_pylist()
        assert t == sorted(t)  # sorted within file
        spans.append((min(t), max(t)))
    spans.sort()
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2  # ranges do not overlap -> footer stats prune
    # round-trip
    assert spark.read.parquet(out).count() == o.count()


def test_ivf_int8_recall_vs_uncompressed(spark, sf_dir):
    """int8-compressed IVF must keep nearly the uncompressed tier's
    result set at the same (nlist, nprobe) — cell routing and scoring
    survive quantization."""
    from semantic_ann_in_data_lake_spark.operators.knn import knn_join
    from semantic_ann_in_data_lake_spark.sources.readers import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    full = knn_join(emb, emb, k=5, strategy="ivf")
    comp = knn_join(emb, emb, k=5, strategy="ivf", compress="int8")
    p_full = {(r["query_id"], r["cand_id"]) for r in full.collect()}
    p_comp = {(r["query_id"], r["cand_id"]) for r in comp.collect()}
    overlap = len(p_full & p_comp) / len(p_full)
    assert overlap >= 0.9, overlap


def test_approx_percentile_within_tolerance_of_exact(spark, sf_dir):
    """The t-digest scale tier must track the exact percentiles it
    replaces at 100 TB (exact tier is the gated one)."""
    from pyspark.sql import functions as F

    from semantic_ann_in_data_lake_spark.sources.readers import read_table

    li = read_table(spark, sf_dir, "lineitem")
    row = li.agg(
        F.percentile("l_extendedprice", F.lit(0.5)).alias("exact"),
        F.approx_percentile("l_extendedprice", F.lit(0.5), F.lit(10000)).alias("appr"),
    ).collect()[0]
    assert abs(row["appr"] - row["exact"]) / row["exact"] < 0.01


# --- LSH hot-bucket bound ------------------------------------------------


def test_lsh_hot_bucket_cap_star_degradation(spark):
    """Adversarial skew: one bucket of hundreds of IDENTICAL documents.
    Uncapped banding emits O(B²) candidate pairs through a single
    (band, band_key) key — the blowup AQE cannot shrink. With
    max_bucket_size set, over-cap buckets degrade to star pairing:
    O(B) pairs, full cluster connectivity preserved (every member
    reaches the representative), and every emitted pair still passes
    exact-Jaccard verification."""
    from semantic_ann_in_data_lake_spark.operators.dedup import (
        minhash_near_dups,
    )

    n_dup = 400
    rows = [(i, "the same boilerplate text repeated verbatim") for i in range(n_dup)]
    rows += [(1000 + i, f"unique document number {i} with its own words {i*i}")
             for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    capped = minhash_near_dups(
        docs, threshold=0.5, max_bucket_size=50
    ).collect()
    # star topology: every duplicate pairs with the min doc_id (0); far
    # below the C(400,2)=79,800 pairs the uncapped join would emit
    assert len(capped) < 3 * n_dup
    star_partners = {r["id_b"] for r in capped if r["id_a"] == 0}
    assert star_partners == set(range(1, n_dup))
    assert all(r["jaccard"] == 1.0 for r in capped if r["id_a"] == 0)
    # under-cap buckets are untouched: unique docs emit no false pairs
    uniq = {r["id_a"] for r in capped} | {r["id_b"] for r in capped}
    assert not any(i >= 1000 for i in uniq)


def test_knn_lsh_bucket_cap_bounds_cogroup(spark):
    """A bucket of near-identical vectors must not build an unbounded
    pandas cogroup: with max_bucket_size the candidate side of each
    (table, bucket) is a deterministic bounded prefix, and every query
    still gets k neighbors (the hot bucket saturates the k slots)."""
    import random

    from semantic_ann_in_data_lake_spark.operators.knn import knn_join

    rng = random.Random(7)
    rows = [
        (i, [1.0 + rng.uniform(-1e-6, 1e-6) for _ in range(8)])
        for i in range(600)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    res = knn_join(
        emb, emb, k=3, strategy="lsh", max_bucket_size=64
    ).collect()
    per_q = {}
    for r in res:
        per_q.setdefault(r["query_id"], []).append(r)
    # every query found k candidates from the capped buckets
    assert all(len(v) == 3 for v in per_q.values())
    assert all(r["distance"] <= 1e-9 for r in res)


# --- HTTP embedder seam --------------------------------------------------


def test_http_embedder_against_local_server():
    """Drive HttpEmbedder against a loopback HTTP server: batch request
    shape, in-order response parsing, and retry-on-503 behavior — the
    whole client contract, no network beyond localhost."""
    import json
    import threading
    from http.server import BaseHTTPRequestHandler, HTTPServer

    from semantic_ann_in_data_lake_spark.annotate.embedder import HttpEmbedder

    calls = {"n": 0}

    class Handler(BaseHTTPRequestHandler):
        def do_POST(self):
            calls["n"] += 1
            body = json.loads(self.rfile.read(int(self.headers["Content-Length"])))
            if calls["n"] == 1:  # first attempt: transient failure
                self.send_response(503)
                self.end_headers()
                return
            vecs = [
                {"embedding": [float(len(t)), float(i)]}
                for i, t in enumerate(body["input"])
            ]
            out = json.dumps({"data": vecs, "model": body["model"]}).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(out)))
            self.end_headers()
            self.wfile.write(out)

        def log_message(self, *a):  # quiet
            pass

    srv = HTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        emb = HttpEmbedder(
            f"http://127.0.0.1:{srv.server_port}/embed",
            model="m1",
            backoff_s=0.01,
        )
        vecs = emb(["alpha", "longertext"])
        assert vecs == [[5.0, 0.0], [10.0, 1.0]]
        assert calls["n"] == 2  # 503 then success
    finally:
        srv.shutdown()


def test_http_embedder_client_error_no_retry():
    import json
    import threading
    from http.server import BaseHTTPRequestHandler, HTTPServer

    import pytest as _pytest

    from semantic_ann_in_data_lake_spark.annotate.embedder import HttpEmbedder

    calls = {"n": 0}

    class Handler(BaseHTTPRequestHandler):
        def do_POST(self):
            calls["n"] += 1
            self.send_response(400)
            self.end_headers()

        def log_message(self, *a):
            pass

    srv = HTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        emb = HttpEmbedder(f"http://127.0.0.1:{srv.server_port}/e", backoff_s=0.01)
        with _pytest.raises(Exception):
            emb(["x"])
        assert calls["n"] == 1  # 400 is not retried
    finally:
        srv.shutdown()


# --- decontamination & packing -------------------------------------------


def test_decontaminate_filters_leaked_docs(spark, sf_dir):
    from semantic_ann_in_data_lake_spark.operators.decontam import (
        contaminated_docs,
        decontaminate,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.where(F.col("doc_id") % 37 == 0)
    bad = contaminated_docs(docs, bench, n=4)
    bad_ids = {r["doc_id"] for r in bad.collect()}
    clean = decontaminate(docs, bench, n=4)
    clean_ids = {r["doc_id"] for r in clean.select("doc_id").collect()}
    # contaminated rows are gone, benchmark members are kept
    assert bad_ids.isdisjoint(clean_ids)
    assert {r["doc_id"] for r in bench.select("doc_id").collect()} <= clean_ids
    assert clean.count() == docs.count() - len(bad_ids)


def test_pack_sequences_partition_invariant(spark, sf_dir):
    """The distributed prefix sum must produce IDENTICAL global offsets
    whatever the partition count — the decomposition (local cumsum +
    broadcast partition offsets) may not leak partitioning into the
    result."""
    from semantic_ann_in_data_lake_spark.operators.packing import pack_sequences

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = {
        r["doc_id"]: (r["cum_before"], r["bin_id"], r["bin_offset"])
        for r in pack_sequences(docs, budget=128, num_partitions=3).collect()
    }
    b = {
        r["doc_id"]: (r["cum_before"], r["bin_id"], r["bin_offset"])
        for r in pack_sequences(docs, budget=128, num_partitions=7).collect()
    }
    assert a == b
    # packing invariants: offsets stay inside the budget, bins cover the
    # stream contiguously
    assert all(0 <= off < 128 for (_, _, off) in a.values())
    total = sum(
        r["n_tokens"]
        for r in pack_sequences(docs, budget=128).select("n_tokens").collect()
    )
    assert max(c for (c, _, _) in a.values()) < total


def test_grouped_running_total_matches_window_any_partitioning(spark, sf_dir):
    """The grouped distributed prefix sum ≡ the single-task
    Window.partitionBy(group) cumulative sum, for any partition count —
    the skew-safe decomposition may not leak partitioning into the
    totals."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from semantic_ann_in_data_lake_spark.operators.packing import (
        grouped_running_total,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source", F.length("text").cast("long").alias("w")
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = {
        (r["source"], r["doc_id"]): r["run"]
        for r in docs.withColumn("run", F.sum("w").over(w)).collect()
    }
    for nparts in (2, 9):
        got = {
            (r["source"], r["doc_id"]): r["running"]
            for r in grouped_running_total(
                docs, "source", [F.col("doc_id").asc()], "w",
                num_partitions=nparts,
            ).collect()
        }
        assert got == want, nparts

    import pytest

    with pytest.raises(ValueError):
        grouped_running_total(docs, "source", [], "w")


def test_select_to_token_budget_greedy_semantics(spark):
    """Per-group greedy fill: rows admitted in order while cum_before <
    quota; the straddling row is kept; a group short of quota keeps
    everything; groups absent from quotas select nothing."""
    from pyspark.sql import functions as F

    from semantic_ann_in_data_lake_spark.operators.packing import (
        select_to_token_budget,
    )

    rows = [
        # group a: quota 10 -> ranks 1 (5 toks, cum_before 0) and
        # 2 (8 toks, cum_before 5 < 10, straddles) kept; rank 3 dropped
        ("a", 1, 5), ("a", 2, 8), ("a", 3, 1),
        # group b: quota 100 -> everything kept (short of quota)
        ("b", 4, 7), ("b", 5, 9),
        # group c: no quota row -> nothing kept
        ("c", 6, 3),
    ]
    df = spark.createDataFrame(rows, "source string, doc_id long, n_tokens long")
    quotas = spark.createDataFrame(
        [("a", 10), ("b", 100)], "source string, alloc_tokens long"
    )
    got = {
        r["doc_id"]: r["cum_before"]
        for r in select_to_token_budget(
            df, quotas, order_cols=[F.col("doc_id").asc()]
        ).collect()
    }
    assert got == {1: 0, 2: 5, 4: 0, 5: 7}


def test_replay_upsample_semantics(spark):
    """Whole copies always kept; the fractional copy follows the
    deterministic id-hash draw; factor <= 0 drops the row; integer
    factors replay exactly; the fan-out clamps at max_factor; re-runs
    are bit-identical."""
    from pyspark.sql import functions as F

    from semantic_ann_in_data_lake_spark.functions.hashing import (
        portable_hash64,
    )
    from semantic_ann_in_data_lake_spark.operators.packing import (
        replay_upsample,
    )

    rows = [(i, [0.0, 1.0, 2.0, 2.5, -1.0][i % 5]) for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, f double")
    out = replay_upsample(df, F.col("f"), id_col="doc_id", salt="t").collect()
    by_id: dict = {}
    for r in out:
        by_id.setdefault(r["doc_id"], []).append(r["copy_idx"])

    us = {
        r["doc_id"]: r["u"]
        for r in df.select(
            "doc_id",
            (
                (F.pmod(portable_hash64(F.col("doc_id").cast("string"), seed="t:"),
                        F.lit(1000000007)) + 1).cast("double") / 1000000008.0
            ).alias("u"),
        ).collect()
    }
    for i, f in rows:
        copies = sorted(by_id.get(i, []))
        if f <= 0:
            assert copies == []
        elif f == 1.0:
            assert copies == [0]
        elif f == 2.0:
            assert copies == [0, 1]
        elif f == 2.5:
            expect = [0, 1] + ([2] if us[i] < 0.5 else [])
            assert copies == expect, (i, us[i])

    # clamp: a huge factor fans out to max_factor, not beyond
    big = spark.createDataFrame([(1, 1e9)], "doc_id long, f double")
    n = replay_upsample(big, F.col("f"), id_col="doc_id", max_factor=3.0).count()
    assert n == 3

    # determinism across runs / repartitions
    again = replay_upsample(
        df.repartition(7), F.col("f"), id_col="doc_id", salt="t"
    ).collect()
    assert sorted((r["doc_id"], r["copy_idx"]) for r in out) == sorted(
        (r["doc_id"], r["copy_idx"]) for r in again
    )


# --- skew-salted join ----------------------------------------------------


def test_salted_join_equals_plain_join(spark):
    """salted_join must be semantics-identical to the plain equi-join
    under heavy skew, for inner and left joins, including null keys and
    unmatched rows."""
    from semantic_ann_in_data_lake_spark.operators.joins import (
        detect_hot_keys,
        salted_join,
    )

    # one key holds 5,000 of 5,060 rows; a few cold keys; nulls; a left
    # key absent from right and a right key absent from left
    left = spark.createDataFrame(
        [(1, f"l{i}") for i in range(5000)]
        + [(k, f"c{k}") for k in range(2, 50)]
        + [(None, "lnull"), (999, "lonely")],
        "k int, lv string",
    )
    right = spark.createDataFrame(
        [(1, "r1a"), (1, "r1b")] + [(k, f"r{k}") for k in range(2, 40)]
        + [(None, "rnull"), (777, "orphan")],
        "k int, rv string",
    )
    hot = detect_hot_keys(left, "k", threshold=100)
    assert hot == [1]
    for how in ("inner", "left"):
        plain = sorted(
            map(tuple, left.join(right, "k", how).select("k", "lv", "rv").collect()),
            key=repr,
        )
        salted = sorted(
            map(
                tuple,
                salted_join(left, right, "k", salt_factor=8, hot_keys=hot, how=how)
                .select("k", "lv", "rv")
                .collect(),
            ),
            key=repr,
        )
        assert plain == salted, how


def test_salted_join_spreads_hot_key(spark):
    """The hot key's join work must actually spread: after salting, the
    hot side's shuffle key (k, salt) has salt_factor distinct values
    instead of one."""
    from semantic_ann_in_data_lake_spark.operators.joins import salted_join

    left = spark.createDataFrame(
        [(1, i) for i in range(4000)], "k int, lv long"
    )
    right = spark.createDataFrame([(1, "x")], "k int, rv string")
    out = salted_join(left, right, "k", salt_factor=8, hot_keys=[1])
    assert out.count() == 4000


def test_salted_join_spreads_identical_duplicate_rows(spark):
    """The worst skew case salting targets: a hot key whose rows are
    fully IDENTICAL (boilerplate duplicates). A content-only salt hash
    would put all of them in one bucket and defeat the operator — the
    per-row-ordinal mix must scatter them across salt buckets."""
    from pyspark.sql import functions as FF

    from semantic_ann_in_data_lake_spark.operators.joins import salted_join

    left = spark.createDataFrame(
        [(1, "same") for _ in range(4000)], "k int, lv string"
    ).repartition(8)
    right = spark.createDataFrame([(1, "x")], "k int, rv string")
    out = salted_join(left, right, "k", salt_factor=8, hot_keys=[1])
    assert out.count() == 4000
    # Reconstruct the operator's salt on the same input: identical rows
    # must land in (nearly) all salt_factor buckets, not one.
    salts = (
        left.select(
            FF.pmod(
                FF.xxhash64(FF.monotonically_increasing_id(), "k", "lv"),
                FF.lit(8),
            ).alias("s")
        )
        .distinct()
        .count()
    )
    assert salts >= 7


# --- z-order layout ------------------------------------------------------


def test_zorder_layout_prunes_both_columns(spark, sf_dir, tmp_path):
    """The point of Z-ordering: after write_zordered on (o_custkey,
    o_totalprice), parquet file-level min/max stats are tight on BOTH
    columns, so a selective predicate on EITHER skips most files — while
    an o_orderkey-sorted layout prunes on neither."""
    import glob

    import pyarrow.parquet as pq

    from semantic_ann_in_data_lake_spark.operators.layout import write_zordered

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    base, zp = str(tmp_path / "base"), str(tmp_path / "z")
    (
        orders.repartitionByRange(16, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
        .write.mode("overwrite")
        .parquet(base)
    )
    write_zordered(orders, zp, ["o_custkey", "o_totalprice"], bits=8, target_files=16)

    def containing_files(path, col, lo, hi):
        """Files whose [min, max] for col intersects [lo, hi] — the ones
        a stats-pruned scan must read."""
        hit, total = 0, 0
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    cm = md.row_group(rg).column(ci)
                    if cm.path_in_schema == col and cm.statistics is not None:
                        mins.append(cm.statistics.min)
                        maxs.append(cm.statistics.max)
            assert mins, f"no stats for {col} in {f}"
            total += 1
            if min(mins) <= hi and max(maxs) >= lo:
                hit += 1
        return hit, total

    lo_c, hi_c = 10, 12  # narrow custkey band
    prices = [r["o_totalprice"] for r in orders.select("o_totalprice").collect()]
    prices.sort()
    lo_p, hi_p = prices[len(prices) // 2], prices[len(prices) // 2 + len(prices) // 50]

    for col, lo, hi in [("o_custkey", lo_c, hi_c), ("o_totalprice", lo_p, hi_p)]:
        bh, bt = containing_files(base, col, lo, hi)
        zh, zt = containing_files(zp, col, lo, hi)
        assert bt == zt == 16
        # baseline (orderkey-sorted) spreads both columns everywhere
        assert bh == 16, (col, bh)
        # z-layout confines the band to at most half the files (a
        # narrow band still crosses several curve segments — the win is
        # pruning on BOTH dims at once, which a single sort cannot do)
        assert zh <= 8, (col, zh)


def test_band_join_equals_theta_join_and_hash_plans(spark):
    from semantic_ann_in_data_lake_spark.operators.joins import band_join

    left = spark.createDataFrame(
        [(i, float(i * 7 % 100)) for i in range(200)], "lid int, lv double"
    )
    right = spark.createDataFrame(
        [(i, float(i * 13 % 100)) for i in range(200)], "rid int, rv double"
    )
    banded = band_join(left, right, "lv", "rv", eps=2.5)
    theta = left.join(right, F.abs(F.col("lv") - F.col("rv")) <= 2.5)
    a = sorted(map(tuple, banded.select("lid", "rid").collect()))
    b = sorted(map(tuple, theta.select("lid", "rid").collect()))
    assert a == b and len(a) > 0
    # the banded form must plan as a hash equi-join, not a nested loop
    plan = banded._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    theta_plan = theta._jdf.queryExecution().executedPlan().toString()
    # what we avoided: the inequality form plans as an all-pairs join
    assert "NestedLoop" in theta_plan or "CartesianProduct" in theta_plan


# --- byte-level BPE tier -------------------------------------------------


def test_bpe_roundtrip_and_compression(spark, sf_dir):
    from semantic_ann_in_data_lake_spark.functions.bpe import (
        BpeTokenizer,
        train_bpe_from_df,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    merges = train_bpe_from_df(docs, num_merges=200)
    assert len(merges) > 50
    tok = BpeTokenizer(merges)
    texts = [r["text"] for r in docs.select("text").limit(50).collect()]
    for t in texts:
        ids = tok.encode(t)
        assert tok.decode(ids) == t  # lossless
        # subword counts sit between word count and byte count
        assert len(t.split()) <= len(ids) <= len(t.encode())
    # merges must actually compress the corpus text
    total_bytes = sum(len(t.encode()) for t in texts)
    total_ids = sum(len(tok.encode(t)) for t in texts)
    assert total_ids < 0.7 * total_bytes


def test_bpe_training_deterministic(spark, sf_dir):
    from semantic_ann_in_data_lake_spark.functions.bpe import train_bpe

    freqs = {"spark table": 5, "spark row": 3, "table scan": 4}
    assert train_bpe(freqs, 50) == train_bpe(dict(reversed(freqs.items())), 50)


def test_token_truncate_bpe_tier(spark, sf_dir):
    """The exact-token seam with the REAL in-repo tokenizer: truncation
    respects the subword budget and the truncated text is a prefix."""
    from semantic_ann_in_data_lake_spark.functions.bpe import (
        BpeTokenizer,
        train_bpe_from_df,
    )
    from semantic_ann_in_data_lake_spark.functions.text import token_truncate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(60)
    merges = train_bpe_from_df(docs, num_merges=150)
    out = token_truncate(
        docs, max_tokens=16, tokenizer=lambda: BpeTokenizer(merges)
    ).collect()
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    assert len(out) == 60
    for r in out:
        assert r["n_tokens_kept"] <= 16
        assert r["n_tokens_kept"] <= r["n_tokens"]
        assert texts[r["doc_id"]].startswith(r["truncated"])


def test_model_quality_filter_threshold_semantics(spark, sf_dir):
    import math

    from semantic_ann_in_data_lake_spark.annotate.scoring import (
        model_quality_filter,
        score_documents,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    scored = {r["doc_id"]: r["score"] for r in score_documents(docs).collect()}
    kept = {r["doc_id"] for r in model_quality_filter(docs, 0.5).select("doc_id").collect()}
    assert kept == {d for d, s in scored.items() if s >= 0.5}
    assert 0 < len(kept) < len(scored)  # the threshold actually splits


def test_bpe_artifact_roundtrip(tmp_path):
    from semantic_ann_in_data_lake_spark.functions.bpe import (
        BpeTokenizer,
        load_merges,
        save_merges,
        train_bpe,
    )

    merges = train_bpe({"alpha beta": 4, "beta gamma": 3}, 32)
    p = str(tmp_path / "tok" / "merges.json")
    save_merges(merges, p)
    tok_a, tok_b = BpeTokenizer(merges), BpeTokenizer(load_merges(p))
    s = "alpha beta gamma delta"
    assert tok_a.encode(s) == tok_b.encode(s)


def test_http_annotator_end_to_end(spark):
    """annotate_tables driven by HttpAnnotator against a loopback
    completion server whose reply wraps JSON in markdown fences — the
    full live-annotation path: prompt build, transport retry, fence
    extraction, validation."""
    import json as _json
    import threading
    from http.server import BaseHTTPRequestHandler, HTTPServer

    from semantic_ann_in_data_lake_spark.annotate.annotator import (
        HttpAnnotator,
        annotate_tables,
    )

    calls = {"n": 0}

    class Handler(BaseHTTPRequestHandler):
        def do_POST(self):
            calls["n"] += 1
            body = _json.loads(self.rfile.read(int(self.headers["Content-Length"])))
            if calls["n"] == 1:
                self.send_response(503); self.end_headers(); return
            # parse the column list back out of the prompt
            cols = body["prompt"].split("[", 1)[1].split("]", 1)[0].split(", ")
            reply = {
                "text": "Sure!\n```json\n" + _json.dumps({
                    "table_name": "t1",
                    "table_title": "T One",
                    "table_description": "desc",
                    "columns": {c: c.lower().replace(" ", "_") for c in cols},
                }) + "\n```"
            }
            out = _json.dumps(reply).encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(out)))
            self.end_headers()
            self.wfile.write(out)

        def log_message(self, *a):
            pass

    srv = HTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        cat = spark.createDataFrame(
            [("t1", ["Col A", "Col B"], "| a | b |")],
            "table_name string, columns array<string>, sample_markdown string",
        )
        ann = HttpAnnotator(
            f"http://127.0.0.1:{srv.server_port}/v1", backoff_s=0.01
        )
        rows = annotate_tables(cat, annotator=ann).collect()
        assert len(rows) == 1 and rows[0]["ok"]
        assert rows[0]["columns"] == {"Col A": "col_a", "Col B": "col_b"}
        assert calls["n"] == 2  # transport 503 retried
    finally:
        srv.shutdown()


def test_compact_parquet_and_zorder_preserve_rows(spark, sf_dir, tmp_path):
    import glob

    from semantic_ann_in_data_lake_spark.operators.layout import (
        compact_parquet,
        write_zordered,
    )

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    frag = str(tmp_path / "frag")
    orders.repartition(37).write.mode("overwrite").parquet(frag)  # small files
    assert len(glob.glob(f"{frag}/*.parquet")) == 37

    dst = str(tmp_path / "compact")
    compact_parquet(spark, frag, dst, target_files=4, order_col="o_orderkey")
    assert len(glob.glob(f"{dst}/*.parquet")) == 4
    want = sorted(map(tuple, orders.collect()))
    assert sorted(map(tuple, spark.read.parquet(dst).collect())) == want

    zp = str(tmp_path / "zrows")
    write_zordered(orders, zp, ["o_custkey", "o_totalprice"], target_files=4)
    assert sorted(map(tuple, spark.read.parquet(zp).collect())) == want

    # auto-sizing: target_files=None derives ceil(data_bytes / target_mb)
    # from a recursive listing of *.parquet files ONLY (a ContentSummary
    # would also count _SUCCESS/.crc and flake near the 1 MiB edge —
    # ADVICE r6), so the expected count below sums exactly the same
    # file set the operator does
    import os

    auto = str(tmp_path / "auto")
    total = sum(
        os.path.getsize(f) for f in glob.glob(f"{frag}/*.parquet")
    )
    expect = max(1, -(-total // (1 << 20)))
    compact_parquet(spark, frag, auto, target_mb=1)
    assert len(glob.glob(f"{auto}/*.parquet")) == expect
    assert sorted(map(tuple, spark.read.parquet(auto).collect())) == want


def test_cross_corpus_pairs_subset_of_self_join(spark, sf_dir):
    """Every cross-corpus near-dup pair must also be found by the
    self-join pipeline over the union corpus (same banding, same
    verification) — the cross variant is a partition of it."""
    from pyspark.sql import functions as FF

    from semantic_ann_in_data_lake_spark.operators.dedup import (
        cross_corpus_near_dups,
        minhash_near_dups,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ref = docs.where(FF.col("doc_id") % 3 == 0)
    new = docs.where(FF.col("doc_id") % 3 != 0)
    cross = {
        (r["id_a"], r["id_b"])
        for r in cross_corpus_near_dups(ref, new).collect()
    }
    full = minhash_near_dups(docs).collect()
    full_pairs = {(r["id_a"], r["id_b"]) for r in full} | {
        (r["id_b"], r["id_a"]) for r in full
    }
    assert cross and cross <= full_pairs
    # and the cross set is exactly the ref->new slice of the full set
    expect = {
        (a, b) for (a, b) in full_pairs if a % 3 == 0 and b % 3 != 0
    }
    assert cross == expect


# ---------------------------------------------------------------------------
# round 4: spans / ranks / setjoin
# ---------------------------------------------------------------------------


def test_duplicated_span_stats_hand_case(spark):
    """Two docs sharing one verbatim 3-gram span; a third unrelated doc
    and a too-short doc. Exact expected fractions."""
    from semantic_ann_in_data_lake_spark.operators.spans import (
        duplicated_span_stats,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),     # grams: abc gbd -> "alpha beta gamma","beta gamma delta"
            (2, "alpha beta gamma epsilon"),   # shares "alpha beta gamma"
            (3, "zeta eta theta iota"),        # no shared grams
            (4, "solo"),                       # < n words -> 0 grams
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: (r["n_grams"], r["n_dup_grams"], r["dup_fraction"])
        for r in duplicated_span_stats(docs, n=3).collect()
    }
    assert out[1] == (2, 1, 0.5)
    assert out[2] == (2, 1, 0.5)
    assert out[3] == (2, 0, 0.0)
    assert out[4] == (0, 0, 0.0)  # short doc still present


def test_duplicated_span_self_repetition_counts_multiplicity(spark):
    """A doc repeating ITS OWN span shares it with no other doc ->
    not duplicated; but if another doc has it, every occurrence
    counts toward the numerator."""
    from semantic_ann_in_data_lake_spark.operators.spans import (
        duplicated_span_stats,
    )

    docs = spark.createDataFrame(
        [
            (1, "x y z q x y z"),  # "x y z" at positions 1 and 5
            (2, "x y z"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: (r["n_grams"], r["n_dup_grams"]) for r in
        duplicated_span_stats(docs, n=3).collect()
    }
    # doc1 grams: "x y z","y z q","z q x","q x y","x y z" -> 5 grams, 2 dup
    assert out[1] == (5, 2)
    assert out[2] == (1, 1)


def test_null_text_rows_follow_empty_doc_convention(spark):
    """Crawl rows with a MISSING body (NULL text) must behave as
    zero-token documents everywhere, not propagate NULLs: words() is
    NULL-safe, so token counts, prefix sums, rewrites, funnel flags,
    and the exact-dedup digest all treat NULL like '' (round-9
    hardening — the NULL-domain quota bypass was this same bug class
    in the streaming leg)."""
    from semantic_ann_in_data_lake_spark.functions.text import words
    from semantic_ann_in_data_lake_spark.operators import dedup
    from semantic_ann_in_data_lake_spark.operators.funnel import funnel_flags
    from semantic_ann_in_data_lake_spark.operators.packing import (
        pack_sequences,
    )
    from semantic_ann_in_data_lake_spark.operators.spans import (
        duplicated_span_rewrite,
    )

    docs = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   "), (4, "a b c d"), (5, "a b c d")],
        "doc_id long, text string",
    )
    # words: NULL -> [] (not NULL)
    w = {r["doc_id"]: r["w"] for r in docs.select(
        "doc_id", words("text").alias("w")).collect()}
    assert w[1] == [] and w[2] == [] and w[3] == []

    # rewrite: NULL doc reports 0 tokens / 0 removed, like stats does
    rw = {r["doc_id"]: (r["n_tokens"], r["n_removed"], r["text_dedup"])
          for r in duplicated_span_rewrite(docs, n=3).collect()}
    assert rw[1] == (0, 0, "") and rw[2] == (0, 0, "")

    # packing: NULL doc is a 0-token row INSIDE the prefix sum, not a
    # NULL bin assignment
    pk = {r["doc_id"]: (r["n_tokens"], r["cum_before"], r["bin_id"])
          for r in pack_sequences(docs, budget=8).collect()}
    assert pk[1][0] == 0 and pk[1][1] is not None and pk[1][2] is not None

    # funnel: NULL doc carries the empty-content digest and False
    # flags (md5(NULL) would fall out of every keep-count silently)
    ff = {r["doc_id"]: r for r in funnel_flags(docs).collect()}
    assert ff[1]["__h"] == ff[2]["__h"] is not None
    assert ff[1]["__nt"] == 0 and ff[1]["__q"] is False

    # exact dedup: NULL-text and empty-text rows form ONE group under
    # the empty digest
    groups = {r["text_hash"]: r["n_copies"]
              for r in dedup.exact_duplicates(docs).collect()}
    assert None not in groups
    import hashlib

    # raw-content digest: NULL joins '' (docs 1+2); the
    # whitespace-only doc 3 keeps its own raw digest
    assert groups[hashlib.md5(b"").hexdigest()] == 2


def test_duplicated_span_rewrite_hand_cases(spark):
    """Canonical-keep rule, within-doc self-repeat, full-document
    collapse, and short-doc passthrough — exact expected rewrites."""
    from semantic_ann_in_data_lake_spark.operators.spans import (
        duplicated_span_rewrite,
    )

    docs = spark.createDataFrame(
        [
            # doc 1 owns the canonical copy of the 5-token span
            (1, "p q x1 x2 x3 x4 x5 r s"),
            # doc 2 shares it -> span excised, unique tail kept
            (2, "x1 x2 x3 x4 x5 t"),
            # doc 3 repeats ITS OWN 5-gram -> second occurrence excised
            (3, "a b c d e a b c d e"),
            # doc 4 is a verbatim copy of doc 2 -> its shared span is
            # gone (canonical in doc 1) AND its tail gram is unique...
            # only spans >= n are detected, "t" alone survives
            (4, "x1 x2 x3 x4 x5 t"),
            # too short for any 5-gram -> untouched (token-normalized)
            (5, "Solo  Doc"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["text_dedup"])
        for r in duplicated_span_rewrite(docs, n=5).collect()
    }
    assert out[1] == (9, 0, "p q x1 x2 x3 x4 x5 r s")
    assert out[2] == (6, 5, "t")
    assert out[3] == (10, 5, "a b c d e")
    # doc 4: "x1..x5" canonical lives in doc 1; "x2 x3 x4 x5 t" gram is
    # shared with doc 2 (canonical there) -> ALL 6 tokens covered
    assert out[4] == (6, 6, "")
    assert out[5] == (2, 0, "solo doc")


def test_duplicated_span_rewrite_multi_second_pass_acts(spark):
    """Excision adjacency: removing doc 2's shared middle makes
    'p q r' adjacent, which duplicates doc 3 — invisible to the
    single pass, excised by the second. passes=1 must equal the
    single-pass operator exactly."""
    import pytest as _pytest

    from semantic_ann_in_data_lake_spark.operators.spans import (
        duplicated_span_rewrite,
        duplicated_span_rewrite_multi,
    )

    docs = spark.createDataFrame(
        [(1, "x y z"), (2, "p x y z q r"), (3, "p q r")],
        ["doc_id", "text"],
    )
    two = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["text_dedup"])
        for r in duplicated_span_rewrite_multi(docs, n=3, passes=2).collect()
    }
    # pass 1: doc 2 loses 'x y z' (canonical in doc 1) -> 'p q r';
    # pass 2: doc 3's 'p q r' now duplicates doc 2's -> ''
    assert two == {
        1: (3, 0, "x y z"),
        2: (6, 3, "p q r"),
        3: (3, 3, ""),
    }
    one = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["text_dedup"])
        for r in duplicated_span_rewrite(docs, n=3).collect()
    }
    assert one[3] == (3, 0, "p q r")  # single pass can't see it
    eq = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["text_dedup"])
        for r in duplicated_span_rewrite_multi(docs, n=3, passes=1).collect()
    }
    assert eq == one
    with _pytest.raises(ValueError):
        duplicated_span_rewrite_multi(docs, passes=0)


def test_global_row_number_matches_single_partition_window(spark, sf_dir):
    """Distributed prefix-sum rank == the textbook global window rank,
    at two partition counts (partitioning must not leak)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window
    from semantic_ann_in_data_lake_spark.operators.ranks import (
        global_row_number,
    )

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    expected = {
        r["o_orderkey"]: r["rn"]
        for r in orders.withColumn(
            "rn",
            F.row_number().over(
                Window.orderBy("o_totalprice", "o_orderkey")
            ),
        ).collect()
    }
    for np in (3, 7):
        got = {
            r["o_orderkey"]: r["rn"]
            for r in global_row_number(
                orders, ["o_totalprice", "o_orderkey"], num_partitions=np
            ).collect()
        }
        assert got == expected


def test_global_row_number_no_single_partition_exchange(spark, sf_dir):
    """The data path must not contain a SinglePartition exchange — that
    is the whole point of the operator. (The offsets frame is
    partition-count-sized; its tiny window is fine.)"""
    from semantic_ann_in_data_lake_spark.operators.ranks import (
        equidepth_histogram,
    )

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    plan = equidepth_histogram(
        orders, "o_totalprice", "o_orderkey", buckets=8
    )._jdf.queryExecution().executedPlan().toString()
    # the only SinglePartition exchange allowed is over the
    # n_partitions-row totals/offsets frames, which sit below a
    # WindowExec over __pid / a broadcast; the orders scan itself must
    # feed a range partitioning, not a single partition
    assert "rangepartitioning(o_totalprice" in plan.lower()


def test_equidepth_histogram_depths(spark, sf_dir):
    """Bucket sizes differ by at most 1 from n/buckets' floor/ceil and
    bucket ranges are disjoint and ordered."""
    from semantic_ann_in_data_lake_spark.operators.ranks import (
        equidepth_histogram,
    )

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    n = orders.count()
    rows = sorted(
        equidepth_histogram(orders, "o_totalprice", "o_orderkey", buckets=8)
        .collect(),
        key=lambda r: r["bucket"],
    )
    assert [r["bucket"] for r in rows] == list(range(8))
    assert sum(r["n"] for r in rows) == n
    assert all(abs(r["n"] - n / 8) <= 1 for r in rows)
    for lo_r, hi_r in zip(rows, rows[1:]):
        assert lo_r["hi"] <= hi_r["lo"]


@pytest.mark.slow  # >20s; default run budget (VERDICT r11 item 1)
def test_jaccard_prefix_join_equals_bruteforce(spark, sf_dir):
    """Prefix filtering is EXACT: same pairs as the all-pairs join at
    several thresholds (including tau=1.0 — exact-duplicate sets)."""
    from pyspark.sql import functions as F
    from semantic_ann_in_data_lake_spark.functions.text import words
    from semantic_ann_in_data_lake_spark.operators.setjoin import (
        jaccard_prefix_join,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = (
        docs.select(
            "doc_id",
            F.array_sort(F.array_distinct(words("text"))).alias("toks"),
        )
        .where(F.size("toks") > 0)
    )
    a = toks.select(F.col("doc_id").alias("id_a"), F.col("toks").alias("ta"))
    b = toks.select(F.col("doc_id").alias("id_b"), F.col("toks").alias("tb"))
    inter = F.size(F.array_intersect("ta", "tb"))
    union = F.size("ta") + F.size("tb") - inter
    brute = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("j", F.round(inter / union, 6))
    )
    for tau in (0.5, 0.8, 1.0):
        expected = {
            (r["id_a"], r["id_b"], r["j"])
            for r in brute.where(F.col("j") >= tau).collect()
        }
        got = {
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in jaccard_prefix_join(docs, threshold=tau).collect()
        }
        assert got == expected, f"tau={tau}"


def test_jaccard_bitmask_tier_equals_prefix_tier(spark, sf_dir, monkeypatch):
    """The small-vocabulary bitmask tier (round-11 optimization) and
    the prefix-filter tier emit identical rows — same pairs, same 6-dp
    jaccard doubles — on the fixture corpus (small vocab → bitmask
    engages) and on a synthetic large-vocab corpus (bitmask declines,
    prefix path runs; dispatch is by vocabulary size)."""
    import semantic_ann_in_data_lake_spark.operators.setjoin as sj

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for tau in (0.5, 1 / 3):
        fast = sorted(
            map(tuple, sj.jaccard_prefix_join(docs, threshold=tau).collect())
        )
        monkeypatch.setattr(sj, "_BITMASK_VOCAB_CAP", 0)
        slow = sorted(
            map(tuple, sj.jaccard_prefix_join(docs, threshold=tau).collect())
        )
        monkeypatch.undo()
        assert fast == slow, f"tau={tau}"
    # large-vocab corpus: per-doc unique tokens + a shared overlap core
    rows = [
        (i, " ".join([f"tok{i}_{j}" for j in range(6)] + ["common a b"]))
        for i in range(40)
    ]
    big = spark.createDataFrame(rows, ["doc_id", "text"])
    out = sj.jaccard_prefix_join(big, threshold=0.3).collect()
    # J = 3/15 = 0.2 < 0.3 for every pair: prefix path ran and pruned
    assert out == []


def test_jaccard_prefix_join_validates_threshold(spark):
    import pytest as _pytest
    from semantic_ann_in_data_lake_spark.operators.setjoin import (
        jaccard_prefix_join,
    )

    docs = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
    for bad in (0.0, -0.1, 1.5):
        with _pytest.raises(ValueError):
            jaccard_prefix_join(docs, threshold=bad)


def test_jaccard_prefix_join_no_cartesian(spark, sf_dir):
    """The executed plan must not contain a cartesian/nested-loop
    product — candidates come from the token equi-join only."""
    from semantic_ann_in_data_lake_spark.operators.setjoin import (
        jaccard_prefix_join,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = (
        jaccard_prefix_join(docs, threshold=0.5)
        ._jdf.queryExecution().executedPlan().toString().lower()
    )
    assert "cartesianproduct" not in plan
    assert "broadcastnestedloop" not in plan


def test_resample_interpolate_hand_case(spark):
    """User with observations at hours 0 and 3 (value 1.0 -> 4.0):
    hours 1 and 2 are linearly interpolated; flags mark observations;
    the grid starts/ends on observed buckets."""
    import datetime as dt

    from semantic_ann_in_data_lake_spark.operators.timeseries import (
        resample_interpolate,
    )

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, base, 1.0),
        (1, base + dt.timedelta(minutes=10), 1.0),  # same bucket -> mean 1.0
        (1, base + dt.timedelta(hours=3), 4.0),
        (2, base, 7.0),  # single observation -> single-row grid
    ]
    events = spark.createDataFrame(rows, ["user_id", "ts", "value"])
    out = {
        (r["user_id"], r["bucket"].hour): (r["value"], r["is_observed"])
        for r in resample_interpolate(events).collect()
    }
    assert out[(1, 0)] == (1.0, True)
    assert out[(1, 1)] == (2.0, False)
    assert out[(1, 2)] == (3.0, False)
    assert out[(1, 3)] == (4.0, True)
    assert out[(2, 0)] == (7.0, True)
    assert len(out) == 5


def test_bigram_lm_scores_hand_case(spark):
    """Tiny corpus where every probability is computable by hand:
    docs 'a b', 'a b', 'a c', plus a 1-token doc."""
    import math

    from semantic_ann_in_data_lake_spark.operators.lm import bigram_lm_scores

    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "a c"), (4, "solo")],
        ["doc_id", "text"],
    )
    # unigrams: a:3 b:2 c:1 solo:1 -> V=4
    # bigram counts: "a b":2, "a c":1
    # P(b|a) = (2+1)/(3+4) = 3/7 ; P(c|a) = (1+1)/(3+4) = 2/7
    out = {
        r["doc_id"]: (r["n_bigrams"], r["lm_score"])
        for r in bigram_lm_scores(docs).collect()
    }
    lp = lambda p: round(round(math.log10(p) + 1e-9, 6) + 1e-9, 4)
    assert out[1] == (1, lp(3 / 7))
    assert out[2] == (1, lp(3 / 7))
    assert out[3] == (1, lp(2 / 7))
    assert out[4] == (0, 0.0)  # sub-bigram doc still present


def test_bigram_lm_scores_ranks_typical_above_rare(spark):
    """A document made of corpus-frequent bigrams must outscore one
    made of unique bigrams — the filtering property the operator
    exists for."""
    from semantic_ann_in_data_lake_spark.operators.lm import bigram_lm_scores

    common = "the cat sat on the mat"
    docs = spark.createDataFrame(
        [(i, common) for i in range(10)] + [(99, "zyx wvu tsr qpo nml kji")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["lm_score"] for r in bigram_lm_scores(docs).collect()}
    assert out[0] > out[99]


def test_weighted_sample_deterministic_and_biased(spark):
    from semantic_ann_in_data_lake_spark.operators.pairs import weighted_sample

    rows = [(i, 1000 if i < 50 else 1) for i in range(1000)]
    df = spark.createDataFrame(rows, ["doc_id", "wt"])
    got1 = [r["doc_id"] for r in weighted_sample(df, "doc_id", "wt", k=30).collect()]
    got2 = [
        r["doc_id"]
        for r in weighted_sample(df.repartition(13), "doc_id", "wt", k=30).collect()
    ]
    assert got1 == got2  # partitioning-insensitive, order included
    # 50 items carry 1000x weight vs 950 items at weight 1: the heavy
    # group holds ~98% of total weight -> dominates the sample
    heavy = sum(1 for i in got1 if i < 50)
    assert heavy >= 25
    # zero/negative weights are excluded, k validated
    import pytest as _pytest

    with _pytest.raises(ValueError):
        weighted_sample(df, "doc_id", "wt", k=0)


def test_scd2_history_hand_case(spark):
    import datetime as dt

    from semantic_ann_in_data_lake_spark.operators.pairs import scd2_history

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, "A", t0, 1),
        (1, "A", t0 + dt.timedelta(hours=1), 2),
        (1, "B", t0 + dt.timedelta(hours=2), 3),
        (1, "A", t0 + dt.timedelta(hours=3), 4),
        (2, "X", t0, 5),
    ]
    df = spark.createDataFrame(rows, ["user_id", "event_type", "ts", "event_id"])
    out = {
        (r["user_id"], r["version"]): (
            r["state"], r["valid_from"], r["valid_to"], r["n_events"]
        )
        for r in scd2_history(df, "user_id", "event_type", "ts", "event_id").collect()
    }
    h = dt.timedelta(hours=1)
    assert out[(1, 1)] == ("A", t0, t0 + 2 * h, 2)
    assert out[(1, 2)] == ("B", t0 + 2 * h, t0 + 3 * h, 1)
    assert out[(1, 3)] == ("A", t0 + 3 * h, None, 1)  # current row open-ended
    assert out[(2, 1)] == ("X", t0, None, 1)


def test_correlation_matrix_hand_and_numpy(spark, sf_dir):
    import numpy as np

    from semantic_ann_in_data_lake_spark.operators.profiler import (
        correlation_matrix,
    )

    # hand case: y = 2x (corr 1), z = -x (corr -1), c constant (NULL)
    df = spark.createDataFrame(
        [(float(x), 2.0 * x, -float(x), 5.0) for x in range(1, 11)],
        ["x", "y", "z", "c"],
    )
    out = {
        (r["col_x"], r["col_y"]): r["corr"]
        for r in correlation_matrix(df, ["x", "y", "z", "c"]).collect()
    }
    assert out[("x", "y")] == 1.0
    assert out[("x", "z")] == -1.0
    assert out[("x", "c")] is None
    # real data: match numpy to 3 dp (numpy uses float64 throughout;
    # the operator's exact-decimal moments are if anything tighter)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    got = {
        (r["col_x"], r["col_y"]): r["corr"]
        for r in correlation_matrix(li, cols).collect()
    }
    arr = np.array(li.select(cols).collect(), dtype=np.float64)
    cm = np.corrcoef(arr.T)
    for i, cx in enumerate(cols):
        for jj, cy in enumerate(cols):
            if jj > i:
                assert abs(got[(cx, cy)] - cm[i, jj]) < 1e-3


def test_edit_distance_join_equals_bruteforce(spark, sf_dir):
    """Segment blocking is EXACT: same pairs as the levenshtein cross
    join, at d=1 and d=2, on real part names vs noisy variants."""
    from pyspark.sql import functions as F
    from semantic_ann_in_data_lake_spark.operators.editjoin import (
        edit_distance_join,
    )

    parts = (
        spark.read.parquet(f"{sf_dir}/part.parquet")
        .select("p_partkey", "p_name")
        .limit(150)
    )
    # noisy variants: drop one char at a hash-picked position
    from semantic_ann_in_data_lake_spark.functions.hashing import (
        portable_hash64,
    )

    pos = (
        F.pmod(portable_hash64(F.col("p_name"), seed="ed:"), F.length("p_name"))
        + 1
    ).cast("int")
    corr = (
        parts.withColumn("__pos", pos)
        .select(
            (F.col("p_partkey") + 1_000_000).alias("cid"),
            F.expr(
                "concat(substring(p_name, 1, __pos - 1), substring(p_name, __pos + 1))"
            ).alias("cname"),
        )
    )
    for d in (1, 2):
        got = {
            (r["id_l"], r["id_r"], r["dist"])
            for r in edit_distance_join(
                parts, corr, "p_partkey", "p_name", "cid", "cname", max_dist=d
            ).collect()
        }
        brute = {
            (r["p_partkey"], r["cid"], r["d"])
            for r in parts.crossJoin(corr)
            .withColumn("d", F.levenshtein("p_name", "cname"))
            .where(F.col("d") <= d)
            .collect()
        }
        assert got == brute, f"d={d}"
        assert len(got) >= 150  # every original matches its variant


def test_edit_distance_join_hand_cases(spark):
    from semantic_ann_in_data_lake_spark.operators.editjoin import (
        edit_distance_join,
    )

    left = spark.createDataFrame(
        [(1, "kitten"), (2, "abc"), (3, "x"), (4, "")],
        ["lid", "ls"],
    )
    right = spark.createDataFrame(
        [(10, "sitten"), (11, "kitte"), (12, "abcd"), (13, "zzzz"), (14, "xy")],
        ["rid", "rs"],
    )
    got = {
        (r["id_l"], r["id_r"]): r["dist"]
        for r in edit_distance_join(
            left, right, "lid", "ls", "rid", "rs", max_dist=2
        ).collect()
    }
    assert got[(1, 10)] == 1  # substitution
    assert got[(1, 11)] == 1  # deletion
    assert got[(2, 12)] == 1  # insertion
    assert got[(3, 14)] == 1  # short strings cross length tiers
    assert (2, 13) not in got
    assert all(l != 4 for (l, _) in got)  # empty string never pairs
    import pytest as _pytest

    with _pytest.raises(ValueError):
        edit_distance_join(left, right, "lid", "ls", "rid", "rs", max_dist=0)


def test_edit_distance_join_no_cartesian(spark, sf_dir):
    from semantic_ann_in_data_lake_spark.operators.editjoin import (
        edit_distance_join,
    )

    parts = spark.read.parquet(f"{sf_dir}/part.parquet").select(
        "p_partkey", "p_name"
    )
    plan = (
        edit_distance_join(
            parts, parts, "p_partkey", "p_name", "p_partkey", "p_name"
        )
        ._jdf.queryExecution().executedPlan().toString().lower()
    )
    assert "cartesianproduct" not in plan
    assert "broadcastnestedloop" not in plan


def test_winsorized_mean_hand_case(spark):
    from semantic_ann_in_data_lake_spark.operators.ranks import winsorized_mean

    # values 1..100 with one giant outlier at id 101
    rows = [(i, float(i)) for i in range(1, 101)] + [(101, 100000.0)]
    df = spark.createDataFrame(rows, ["id", "v"])
    r = winsorized_mean(df, "v", "id", lower_q=0.1, upper_q=0.9).collect()[0]
    # n=101: lo = value at rank ceil(10.1)=11 -> 11.0; hi at rank 91 -> 91.0
    assert r["n"] == 101
    assert r["lo"] == 11.0
    assert r["hi"] == 91.0
    # the outlier clamps to 91: winsorized mean must sit near the middle
    assert 45.0 < r["winsorized_mean"] < 60.0
    assert r["raw_mean"] > 1000.0  # unclamped mean is outlier-dominated
    import pytest as _pytest

    with _pytest.raises(ValueError):
        winsorized_mean(df, "v", "id", lower_q=0.9, upper_q=0.1)


def test_event_transition_matrix_rows_normalize(spark, sf_dir):
    from collections import defaultdict

    from semantic_ann_in_data_lake_spark.plans.registry import (
        event_transition_matrix,
    )

    rows = event_transition_matrix(spark, sf_dir).collect()
    by_from = defaultdict(float)
    for r in rows:
        assert 0.0 <= r["prob"] <= 1.0
        by_from[r["from_type"]] += r["prob"]
    # each from_type's outgoing probabilities sum to ~1
    for tot in by_from.values():
        assert abs(tot - 1.0) < 0.01


def test_bucketed_join_is_shuffle_free(spark, sf_dir):
    """Two tables bucketed on the join key at the same bucket count
    must sort-merge-join with NO shuffle exchange — the co-located
    join that makes fact-fact joins survive 100 TB."""
    from pyspark.sql import functions as F
    from semantic_ann_in_data_lake_spark.operators.layout import write_bucketed

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_name"
    )
    bo = write_bucketed(orders, "t_orders_b", ["o_custkey"], 8)
    bc = write_bucketed(cust, "t_cust_b", ["c_custkey"], 8)
    joined = bo.hint("merge").join(
        bc, bo["o_custkey"] == bc["c_custkey"]
    ).groupBy("c_name").agg(F.count(F.lit(1)).alias("n"))
    plan = joined._jdf.queryExecution().executedPlan().toString().lower()
    assert "shuffleexchange" not in plan  # neither join nor groupBy shuffles
    # same result as the plain (shuffling) join
    plain = (
        orders.hint("merge")
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .groupBy("c_name")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert sorted(map(tuple, joined.collect())) == sorted(
        map(tuple, plain.collect())
    )
    # groupBy directly on the bucket column is also exchange-free
    agg = bo.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("s"))
    aplan = agg._jdf.queryExecution().executedPlan().toString().lower()
    assert "shuffleexchange" not in aplan
    spark.sql("DROP TABLE IF EXISTS t_orders_b")
    spark.sql("DROP TABLE IF EXISTS t_cust_b")


def test_zscore_outliers_hand_case(spark):
    from semantic_ann_in_data_lake_spark.operators.timeseries import (
        zscore_outliers,
    )

    rows = (
        [(1, i, 10.0) for i in range(20)]
        + [(1, 99, 500.0)]        # blatant outlier for user 1
        + [(2, 200, 5.0), (2, 201, 5.0)]  # zero variance -> excluded
        + [(3, 300, 1.0)]         # n < 2 -> excluded
    )
    df = spark.createDataFrame(rows, ["user_id", "event_id", "value"])
    out = zscore_outliers(df).collect()
    assert [(r["user_id"], r["event_id"]) for r in out] == [(1, 99)]
    assert out[0]["z"] > 4.0


def test_knn_pq_recall_and_contract(spark, sf_dir):
    """PQ/ADC tier: deterministic output contract and recall@10 vs the
    exact tier above the documented floor on the adversarial
    (uniform-random) embeddings."""
    from collections import defaultdict

    from semantic_ann_in_data_lake_spark.operators.knn import knn_join
    from semantic_ann_in_data_lake_spark.sources.readers import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    pq1 = knn_join(emb, emb, k=10, strategy="pq").collect()
    pq2 = knn_join(emb, emb, k=10, strategy="pq").collect()
    assert sorted(map(tuple, pq1)) == sorted(map(tuple, pq2))  # deterministic
    exact = knn_join(emb, emb, k=10, strategy="broadcast").collect()
    g, p = defaultdict(set), defaultdict(set)
    for r in exact:
        g[r["query_id"]].add(r["cand_id"])
    for r in pq1:
        p[r["query_id"]].add(r["cand_id"])
    hits = sum(len(g[q] & p[q]) for q in g)
    tot = sum(len(v) for v in g.values())
    assert hits / tot >= 0.7
    # contract: rank 1..k per query, distances non-negative and sorted
    by_q = defaultdict(list)
    for r in pq1:
        by_q[r["query_id"]].append((r["rank"], r["distance"]))
    for rows in by_q.values():
        rows.sort()
        assert [r for r, _ in rows] == list(range(1, len(rows) + 1))
        ds = [d for _, d in rows]
        assert ds == sorted(ds) and ds[0] >= 0.0


def test_knn_ivf_pq_refine_exact_distances_and_uplift(spark, sf_dir):
    """The refine tier returns TRUE L2² distances (symmetric invariant
    projection empty — no decode replay needed), its recall@5 is >= the
    un-refined IVF-PQ tier's at identical knobs (monotone by
    construction), and refine_factor=1 degenerates to re-scoring the
    plain top-k (same pair set)."""
    from collections import defaultdict

    from semantic_ann_in_data_lake_spark.operators import checks
    from semantic_ann_in_data_lake_spark.operators.knn import knn_join
    from semantic_ann_in_data_lake_spark.operators.pq import knn_ivf_pq
    from semantic_ann_in_data_lake_spark.sources.readers import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    knobs = dict(k=5, nlist=16, nprobe=8)
    refined = knn_join(
        emb, emb, strategy="ivf_pq_refine", refine_factor=3, **knobs
    )
    assert (
        checks.knn_invariant_violations(refined, emb, metric="l2_sq").count()
        == 0
    )

    def pairs(df):
        d = defaultdict(set)
        for r in df.select("query_id", "cand_id").collect():
            d[r["query_id"]].add(r["cand_id"])
        return d

    exact = pairs(knn_join(emb, emb, k=5, strategy="broadcast"))
    plain = pairs(knn_ivf_pq(emb, emb, **knobs))
    ref = pairs(refined)
    tot = sum(len(v) for v in exact.values())
    rec_plain = sum(len(exact[q] & plain[q]) for q in exact) / tot
    rec_ref = sum(len(exact[q] & ref[q]) for q in exact) / tot
    assert rec_ref >= rec_plain
    # refine_factor=1: same candidate set as the plain tier, distances
    # re-scored exactly
    ref1 = pairs(
        knn_join(emb, emb, strategy="ivf_pq_refine", refine_factor=1, **knobs)
    )
    assert ref1 == plain

    # broadcast variant: same contract (exact distances, invariant
    # projection empty), recall >= ADC-only at the same k
    bref = knn_join(
        emb, emb, k=5, strategy="pq_refine", refine_factor=3
    )
    assert (
        checks.knn_invariant_violations(bref, emb, metric="l2_sq").count()
        == 0
    )
    adc = pairs(knn_join(emb, emb, k=5, strategy="pq"))
    refb = pairs(bref)
    assert (
        sum(len(exact[q] & refb[q]) for q in exact)
        >= sum(len(exact[q] & adc[q]) for q in exact)
    )

    import pytest as _pytest

    with _pytest.raises(ValueError):
        knn_join(emb, emb, strategy="ivf_pq_refine", metric="cosine")
    with _pytest.raises(ValueError):
        knn_join(emb, emb, strategy="ivf_pq_refine", refine_factor=0)
    with _pytest.raises(ValueError):
        knn_join(emb, emb, strategy="pq_refine", metric="cosine")


def test_pq_rejects_bad_shapes(spark, sf_dir):
    import pytest as _pytest

    from semantic_ann_in_data_lake_spark.operators.knn import knn_join
    from semantic_ann_in_data_lake_spark.operators.pq import (
        train_pq_codebooks,
    )
    from semantic_ann_in_data_lake_spark.sources.readers import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    with _pytest.raises(ValueError):
        train_pq_codebooks(emb, m=7)  # 64 % 7 != 0
    with _pytest.raises(ValueError):
        knn_join(emb, emb, strategy="pq", metric="cosine")


def test_knn_ivf_pq_recall_and_determinism(spark, sf_dir):
    """IVF-PQ: codes cross the cell shuffle; recall compounds the cell
    miss rate with the ADC error (~0.7 x ~0.76 measured at defaults) —
    floor pinned with margin; reruns bit-identical."""
    from collections import defaultdict

    from semantic_ann_in_data_lake_spark.operators.knn import knn_join
    from semantic_ann_in_data_lake_spark.operators.pq import knn_ivf_pq
    from semantic_ann_in_data_lake_spark.sources.readers import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    a = knn_ivf_pq(emb, emb, k=10, nlist=16, nprobe=8).collect()
    b = knn_ivf_pq(emb, emb, k=10, nlist=16, nprobe=8).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    exact = knn_join(emb, emb, k=10, strategy="broadcast").collect()
    g, p = defaultdict(set), defaultdict(set)
    for r in exact:
        g[r["query_id"]].add(r["cand_id"])
    for r in a:
        p[r["query_id"]].add(r["cand_id"])
    hits = sum(len(g[q] & p[q]) for q in g)
    tot = sum(len(v) for v in g.values())
    assert hits / tot >= 0.5


def test_pq_index_roundtrip(spark, sf_dir, tmp_path):
    """build_pq_index -> load_pq_index reproduces the in-memory
    codebooks and codes exactly (the index is the deterministic
    function of data + seed)."""
    import numpy as np

    from semantic_ann_in_data_lake_spark.operators.pq import (
        build_pq_index,
        load_pq_index,
        pq_encode,
        train_pq_codebooks,
    )
    from semantic_ann_in_data_lake_spark.sources.readers import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "pqidx")
    build_pq_index(emb, path, m=8, ksub=16)
    codes_df, books = load_pq_index(spark, path)
    want_books = train_pq_codebooks(emb, m=8, ksub=16)
    assert books.shape == want_books.shape
    assert np.allclose(books, want_books)
    want_codes = {
        r["vec_id"]: list(r["codes"])
        for r in pq_encode(emb, want_books).collect()
    }
    got_codes = {r["vec_id"]: list(r["codes"]) for r in codes_df.collect()}
    assert got_codes == want_codes


def test_round4_ops_empty_and_degenerate_inputs(spark):
    """Every round-4 operator must return an empty (or total) result
    with the right schema on empty input — not throw."""
    import datetime as dt

    from semantic_ann_in_data_lake_spark.operators.editjoin import (
        edit_distance_join,
    )
    from semantic_ann_in_data_lake_spark.operators.lm import bigram_lm_scores
    from semantic_ann_in_data_lake_spark.operators.pairs import (
        scd2_history,
        weighted_sample,
    )
    from semantic_ann_in_data_lake_spark.operators.ranks import (
        equidepth_histogram,
        global_row_number,
    )
    from semantic_ann_in_data_lake_spark.operators.setjoin import (
        jaccard_prefix_join,
    )
    from semantic_ann_in_data_lake_spark.operators.spans import (
        duplicated_span_stats,
    )
    from semantic_ann_in_data_lake_spark.operators.timeseries import (
        resample_interpolate,
        zscore_outliers,
    )

    docs0 = spark.createDataFrame([], "doc_id long, text string")
    ev0 = spark.createDataFrame(
        [], "user_id long, event_id long, ts timestamp, value double,"
        " event_type string"
    )
    num0 = spark.createDataFrame([], "id long, v double")

    assert duplicated_span_stats(docs0).count() == 0
    assert jaccard_prefix_join(docs0).count() == 0
    assert bigram_lm_scores(docs0).count() == 0
    assert weighted_sample(num0, "id", "v", k=5).count() == 0
    assert scd2_history(ev0, "user_id", "event_type", "ts", "event_id").count() == 0
    assert resample_interpolate(ev0).count() == 0
    assert zscore_outliers(ev0).count() == 0
    assert global_row_number(num0, ["v", "id"]).count() == 0
    assert equidepth_histogram(num0, "v", "id").count() == 0
    assert edit_distance_join(
        docs0, docs0, "doc_id", "text", "doc_id", "text"
    ).count() == 0
    # single-row degenerate: rank=1, histogram 1 bucket row, no pairs
    one = spark.createDataFrame([(1, 5.0)], "id long, v double")
    assert global_row_number(one, ["v", "id"]).collect()[0]["rn"] == 1


def test_jaccard_prefix_join_float_boundary_pair(spark):
    """tau=0.28, |A|=7, |B|=25, A subset of B: Jaccard is EXACTLY 0.28 but
    25*0.28 = 7.000000000000001 in doubles — both the prefix ceil and
    the size filter must not prune the qualifying pair (regression for
    the float-boundary bug)."""
    from semantic_ann_in_data_lake_spark.operators.setjoin import (
        jaccard_prefix_join,
    )

    toks_b = [f"w{i:02d}" for i in range(25)]
    docs = spark.createDataFrame(
        [(1, " ".join(toks_b[:7])), (2, " ".join(toks_b))],
        ["doc_id", "text"],
    )
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_prefix_join(docs, threshold=0.28).collect()
    }
    assert got.get((1, 2)) == 0.28


def test_winsorized_mean_lower_q_zero(spark):
    """lower_q=0 anchors at rank 1 (the minimum) — regression for the
    ceil(0)=0 no-row collapse that clamped everything to the upper
    bound."""
    from semantic_ann_in_data_lake_spark.operators.ranks import winsorized_mean

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(1, 11)], ["id", "v"]
    )
    r = winsorized_mean(df, "v", "id", lower_q=0.0, upper_q=0.9).collect()[0]
    assert r["lo"] == 1.0  # min, not the upper bound
    assert r["hi"] == 9.0
    assert r["winsorized_mean"] < r["hi"]


def test_resample_interpolate_multi_unit_interval(spark):
    """'15 minutes' buckets correctly (regression: date_trunc can't
    express it — buckets were all NULL and the output silently empty);
    bad intervals raise."""
    import datetime as dt

    import pytest as _pytest

    from semantic_ann_in_data_lake_spark.operators.timeseries import (
        resample_interpolate,
    )

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    events = spark.createDataFrame(
        [
            (1, base + dt.timedelta(minutes=5), 1.0),   # bucket 00:00
            (1, base + dt.timedelta(minutes=50), 5.0),  # bucket 00:45
        ],
        ["user_id", "ts", "value"],
    )
    out = {
        r["bucket"].minute: (r["value"], r["is_observed"])
        for r in resample_interpolate(events, interval="15 minutes").collect()
    }
    assert out[0] == (1.0, True)
    assert out[45] == (5.0, True)
    assert out[15][1] is False and 1.0 < out[15][0] < 5.0  # interpolated
    assert len(out) == 4
    for bad in ("hour", "0 hour", "2 fortnights"):
        with _pytest.raises(ValueError):
            resample_interpolate(events, interval=bad)


def test_correlation_matrix_null_rows_listwise(spark):
    """NULLs in either column drop the whole row (listwise-complete
    moments) — regression for mixed-support correlations outside
    [-1, 1]."""
    from semantic_ann_in_data_lake_spark.operators.profiler import (
        correlation_matrix,
    )

    rows = [(float(x), 2.0 * x) for x in range(1, 11)] + [
        (100.0, None),
        (None, 100.0),
    ]
    df = spark.createDataFrame(rows, "x double, y double")
    out = correlation_matrix(df, ["x", "y"]).collect()[0]
    assert out["n"] == 10  # null rows excluded from the count too
    assert out["corr"] == 1.0


def test_zscore_outliers_ignores_null_values(spark):
    """NULL values must not deflate the mean (count matches the summed
    support)."""
    from semantic_ann_in_data_lake_spark.operators.timeseries import (
        zscore_outliers,
    )

    rows = [(1, i, 10.0) for i in range(10)] + [
        (1, 90, None),
        (1, 91, None),
        (1, 99, 500.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_id long, value double")
    out = zscore_outliers(df).collect()
    assert [(r["user_id"], r["event_id"]) for r in out] == [(1, 99)]


def test_knn_pq_degrades_to_ivf_pq_over_budget(spark, sf_dir, monkeypatch):
    """knn_pq collects the coded index to the driver — past the
    broadcast budget it must route to the cell-sharded IVF-PQ path
    instead of attempting the collect."""
    import warnings

    from semantic_ann_in_data_lake_spark.operators import pq as pq_mod
    from semantic_ann_in_data_lake_spark.sources.readers import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    called = {}
    monkeypatch.setattr(
        pq_mod, "knn_ivf_pq", lambda *a, **k: called.setdefault("ivf_pq", k)
    )
    import semantic_ann_in_data_lake_spark.operators.knn as knn_mod

    monkeypatch.setattr(knn_mod, "_estimate_rows", lambda df: 10**9)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        pq_mod.knn_pq(emb, emb, k=5)
    assert "ivf_pq" in called


def test_remove_shared_segments_hand_case(spark):
    from semantic_ann_in_data_lake_spark.operators.boilerplate import (
        remove_shared_segments,
    )

    boiler = "all rights reserved see terms"
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta gamma delta epsi {boiler}"),
            (2, f"{boiler} unique two words here tail"),
            (3, boiler),                       # all segments shared -> ''
            (4, "totally unique text here"),   # untouched (partial seg)
            (5, ""),                           # empty doc -> 0/0/''
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in remove_shared_segments(docs, seg_words=5, min_docs=2).collect()
    }
    assert len(out) == 5
    assert out[1]["n_segments"] == 2 and out[1]["n_removed"] == 1
    assert out[1]["text_clean"] == "alpha beta gamma delta epsi"
    # doc 2's boilerplate sits at position 1; survivors keep order
    assert out[2]["text_clean"] == "unique two words here tail"
    assert out[3]["n_removed"] == out[3]["n_segments"] == 1
    assert out[3]["text_clean"] == ""
    assert out[4]["n_removed"] == 0
    assert out[4]["text_clean"] == "totally unique text here"
    assert out[5]["n_segments"] == 0 and out[5]["text_clean"] == ""


def test_remove_shared_segments_validates_params(spark):
    import pytest as _pytest

    from semantic_ann_in_data_lake_spark.operators.boilerplate import (
        remove_shared_segments,
    )

    docs = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    with _pytest.raises(ValueError):
        remove_shared_segments(docs, seg_words=0)
    with _pytest.raises(ValueError):
        remove_shared_segments(docs, min_docs=1)


def test_value_overlap_discovery_hand_case(spark):
    from semantic_ann_in_data_lake_spark.operators.discovery import (
        value_overlap_discovery,
    )

    rows = (
        # dim.pk = {1,2,3}; fact.fk = {1,2,2,3,9} -> containment
        # fact.fk->dim.pk = 3/4 = 0.75; dim.pk->fact.fk = 3/3 = 1.0
        [("dim", "pk", str(v)) for v in (1, 2, 3)]
        + [("fact", "fk", str(v)) for v in (1, 2, 2, 3, 9)]
        + [("other", "x", v) for v in ("a", "b")]
    )
    df = spark.createDataFrame(rows, ["table_name", "column_name", "value"])
    out = {
        (r["query_table"], r["query_column"], r["cand_table"], r["cand_column"]):
            r for r in value_overlap_discovery(df, threshold=0.5).collect()
    }
    fwd = out[("fact", "fk", "dim", "pk")]
    assert fwd["n_query_distinct"] == 4 and fwd["n_overlap"] == 3
    assert abs(fwd["containment"] - 0.75) < 1e-9
    rev = out[("dim", "pk", "fact", "fk")]
    assert rev["containment"] == 1.0
    assert ("other", "x", "dim", "pk") not in out


def test_value_overlap_discovery_cap_drops_hot_values(spark):
    from semantic_ann_in_data_lake_spark.operators.discovery import (
        value_overlap_discovery,
    )

    # 'hot' appears in 3 columns; with max_value_df=2 it must not
    # generate any candidate pairs, so no pair reaches threshold 0.1
    rows = [(t, "c", "hot") for t in ("t1", "t2", "t3")]
    df = spark.createDataFrame(rows, ["table_name", "column_name", "value"])
    assert value_overlap_discovery(df, threshold=0.1, max_value_df=2).count() == 0
    assert value_overlap_discovery(df, threshold=0.1).count() == 6

    import pytest as _pytest
    with _pytest.raises(ValueError):
        value_overlap_discovery(df, threshold=0.0)
    with _pytest.raises(ValueError):
        value_overlap_discovery(df, max_value_df=1)


def test_hll_merge_equals_whole_and_tracks_cardinality(spark):
    """HLL distinct sketch (operators/sketches.py): (1) sketching 3
    disjoint shards and merging the register tables is EXACTLY the
    sketch of the whole corpus (the mergeability contract that makes
    it a partial aggregate at 100 TB); (2) the raw estimate lands
    within the standard ~1.04/√64 ≈ 13% band (generous 3σ) of the true
    cardinality across two very different scales; (3) NULL keys add
    nothing."""
    from pyspark.sql import functions as F

    from semantic_ann_in_data_lake_spark.operators.sketches import (
        hll_estimate,
        hll_merge,
        hll_registers,
    )

    n = 5000
    df = spark.range(n).select(
        F.concat(F.lit("item-"), F.col("id")).alias("k"),
        (F.col("id") % 3).alias("shard"),
    )
    whole = hll_registers(df, "k")
    shards = [
        hll_registers(df.where(F.col("shard") == s), "k") for s in range(3)
    ]
    merged = hll_merge(*shards)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, whole.collect())
    )
    est = hll_estimate(whole).collect()[0]["n_est"]
    assert abs(est - n) / n < 0.40, est  # 3σ of the m=64 raw estimator

    small = spark.range(40).select(
        F.concat(F.lit("s"), F.col("id")).alias("k")
    )
    est_small = hll_estimate(hll_registers(small, "k")).collect()[0]["n_est"]
    assert 5 <= est_small <= 120, est_small

    with_nulls = df.unionByName(
        spark.range(100).select(
            F.lit(None).cast("string").alias("k"), F.lit(9).alias("shard")
        )
    )
    assert sorted(map(tuple, hll_registers(with_nulls, "k").collect())) == sorted(
        map(tuple, whole.collect())
    )

    # fast tier (xxhash64, 60-bit masked): same contract, same
    # estimator band, different hash — merge-equals-whole still exact
    fwhole = hll_registers(df, "k", portable=False)
    fmerged = hll_merge(
        *[
            hll_registers(df.where(F.col("shard") == s), "k", portable=False)
            for s in range(3)
        ]
    )
    assert sorted(map(tuple, fmerged.collect())) == sorted(
        map(tuple, fwhole.collect())
    )
    fest = hll_estimate(fwhole).collect()[0]["n_est"]
    assert abs(fest - n) / n < 0.40, fest


def test_cms_heavy_hitters_exact_when_wide(spark):
    from semantic_ann_in_data_lake_spark.operators.sketches import (
        cms_heavy_hitters,
    )

    rows = [("a",)] * 50 + [("b",)] * 30 + [("c",)] * 5 + [(None,)]
    df = spark.createDataFrame(rows, ["k"])
    out = cms_heavy_hitters(df, "k", k=2, depth=3, width=4096).collect()
    # wide sketch, 3 keys -> collision-free: estimates exact, top-2
    assert [(r["key"], r["est_count"], r["true_count"]) for r in out] == [
        ("a", 50, 50),
        ("b", 30, 30),
    ]
    assert all(r["overestimate"] == 0 for r in out)


def test_cms_one_sided_error_under_collisions(spark):
    from semantic_ann_in_data_lake_spark.operators.sketches import (
        cms_heavy_hitters, cms_sketch,
    )

    rows = [(str(i % 37),) for i in range(500)]
    df = spark.createDataFrame(rows, ["k"])
    # width 8 << 37 keys: collisions guaranteed; CMS must NEVER
    # underestimate, and the sketch stays <= depth*width cells
    out = cms_heavy_hitters(df, "k", k=37, depth=3, width=8).collect()
    assert len(out) == 37
    assert all(r["overestimate"] >= 0 for r in out)
    assert cms_sketch(df, "k", depth=3, width=8).count() <= 24

    import pytest as _pytest
    with _pytest.raises(ValueError):
        cms_sketch(df, "k", depth=0)
    with _pytest.raises(ValueError):
        cms_sketch(df, "k", width=1)


def test_temperature_mix_allocation_shares(spark):
    from semantic_ann_in_data_lake_spark.plans import registry

    out = registry.REGISTRY["temperature_mix_allocation"][0](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(out) >= 2
    total_share = sum(r["share"] for r in out)
    assert abs(total_share - 1.0) < 1e-3
    for r in out:
        assert 0 < r["share"] < 1
        assert r["alloc_tokens"] == int(r["share"] * 10_000_000 + 1e-6)
    # α=0.5 flattens: the biggest source's share is below its raw
    # token share
    toks = {r["source"]: r["n_tokens"] for r in out}
    big = max(out, key=lambda r: r["n_tokens"])
    assert big["share"] < big["n_tokens"] / sum(toks.values())


def test_rrf_fuse_hand_case(spark):
    from semantic_ann_in_data_lake_spark.operators.ranks import rrf_fuse

    a = spark.createDataFrame(
        [(1, "x", 1), (1, "y", 2), (1, "z", 3)],
        ["query_id", "cand_id", "rank"],
    )
    b = spark.createDataFrame(
        [(1, "y", 1), (1, "x", 2), (1, "w", 3)],
        ["query_id", "cand_id", "rank"],
    )
    out = rrf_fuse(a, b, topk=4).collect()
    by = {r["cand_id"]: r for r in out}
    # x: 1/61 + 1/62; y: 1/62 + 1/61 -> tie, broken by cand id: x first
    assert by["x"]["rrf_score"] == by["y"]["rrf_score"]
    assert by["x"]["rank"] == 1 and by["y"]["rank"] == 2
    # z only in list a (rank 3), w only in list b (rank 3): same
    # one-sided score, tie broken by id
    assert by["z"]["rank_b"] is None and by["w"]["rank_a"] is None
    assert by["w"]["rrf_score"] == by["z"]["rrf_score"]
    assert by["w"]["rank"] == 3 and by["z"]["rank"] == 4


def test_approx_percentile_bounds_catches_bad_sketch(spark, sf_dir):
    from semantic_ann_in_data_lake_spark.operators.checks import (
        approx_percentile_bound_violations,
    )
    from semantic_ann_in_data_lake_spark.sources.readers import read_table

    li = read_table(spark, sf_dir, "lineitem")
    # honest accuracy: no violations
    assert approx_percentile_bound_violations(
        li, "l_extendedprice", accuracy=1000
    ).count() == 0
    # absurdly tight claimed bound (accuracy >> what the sketch was
    # built with cannot hold on a non-degenerate column): the checker
    # must be ABLE to fire — run the same estimates against a claimed
    # n/1e9 bound by checking a low-accuracy sketch under accuracy=1e9
    from pyspark.sql import functions as F
    est_loose = li.agg(
        F.percentile_approx("l_extendedprice", 0.5, 10).alias("e")
    ).collect()[0]["e"]
    exact = li.agg(
        F.expr("percentile(l_extendedprice, 0.5)").alias("e")
    ).collect()[0]["e"]
    assert est_loose != exact  # sketch at accuracy 10 is genuinely off


# ---------------------------------------------------------------------------
# Bloom-filter join pruning (operators/bloomjoin.py)
# ---------------------------------------------------------------------------


def test_bloom_prune_join_equals_plain_join(spark):
    from semantic_ann_in_data_lake_spark.operators.bloomjoin import (
        bloom_prune_join,
    )
    import pyspark.sql.functions as F

    fact = spark.range(0, 20000).select(
        (F.col("id") % 997).alias("k"), F.col("id").alias("v")
    )
    dim = spark.range(0, 100).select(
        (F.col("id") * 13).alias("k"), (F.col("id") + 1).alias("d")
    )
    got = sorted(
        map(tuple, bloom_prune_join(fact, dim, "k", expected_keys=128).collect())
    )
    want = sorted(map(tuple, fact.join(dim, "k").collect()))
    assert got == want and len(got) > 0


def test_bloom_probe_never_false_negative_and_prunes(spark):
    """Every true-matching fact row survives the probe (build and probe
    share hash seeds — structural, but pinned); and on a selective dim
    the probe must actually drop the vast majority of non-matchers."""
    from semantic_ann_in_data_lake_spark.operators.bloomjoin import (
        bloom_bits_for, bloom_build, bloom_probe,
    )
    import pyspark.sql.functions as F

    fact = spark.range(0, 50000).select(
        F.concat(F.lit("u"), (F.col("id") % 5000).cast("string")).alias("k")
    )
    dim = spark.range(0, 50).select(
        F.concat(F.lit("u"), (F.col("id") * 101).cast("string")).alias("k")
    )
    bits = bloom_bits_for(64)
    bloom = bloom_build(dim, "k", bits)
    survivors = bloom_probe(fact, "k", bloom, bits)
    true_rows = fact.join(dim.distinct(), "k").count()
    n_surv = survivors.count()
    assert n_surv >= true_rows  # no false negatives, ever
    # all true keys present in the survivor key set
    missing = (
        fact.join(dim.distinct(), "k")
        .select("k")
        .distinct()
        .join(survivors.select("k").distinct(), "k", "left_anti")
        .count()
    )
    assert missing == 0
    # selectivity: 50/5000 keys match -> survivors should be a small
    # fraction of the fact (fp rate ~0.05% at 16 bits/key, k=5)
    assert n_surv < fact.count() * 0.05


def test_bloom_build_bounded_and_null_safe(spark):
    from semantic_ann_in_data_lake_spark.operators.bloomjoin import (
        bloom_build, bloom_probe,
    )

    dim = spark.createDataFrame(
        [("a",), (None,), ("b",)], ["k"]
    )
    bloom = bloom_build(dim, "k", 1024, num_hashes=4)
    rows = bloom.collect()
    assert len(rows) <= 1024 // 64
    fact = spark.createDataFrame([("a",), (None,), ("zzz",)], ["k"])
    surv = [r["k"] for r in bloom_probe(fact, "k", bloom, 1024, 4).collect()]
    assert "a" in surv and None not in surv  # NULL keys never survive


def test_bloom_build_validates_params(spark):
    import pytest as _pytest

    from semantic_ann_in_data_lake_spark.operators.bloomjoin import bloom_build

    dim = spark.createDataFrame([("a",)], ["k"])
    with _pytest.raises(ValueError):
        bloom_build(dim, "k", 1000)  # not a power of two
    with _pytest.raises(ValueError):
        bloom_build(dim, "k", 1024, num_hashes=0)


# ---------------------------------------------------------------------------
# Margin-based bitext mining (operators/bitext.py)
# ---------------------------------------------------------------------------


def _vecs_df(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "embedding"])


def test_bitext_margin_prefers_standout_over_crowded(spark):
    """x1's unique match survives with margin > 1; x2's best match sits
    in a clique of near-duplicates (its whole neighborhood is equally
    similar), so its margin stays ~1 and the tau filter drops it."""
    from semantic_ann_in_data_lake_spark.operators.bitext import mine_bitext

    src = _vecs_df(spark, [
        ("x1", [1.0, 0.0, 0.0, 0.0]),
        ("x2", [0.0, 1.0, 0.0, 0.0]),
        # src-side clique: makes the backward neighborhoods of x2's
        # candidate targets equally crowded (margin needs crowding on
        # BOTH sides to stay ~1)
        ("x3", [0.0, 1.0, 0.005, 0.0]),
        ("x4", [0.0, 1.0, 0.0, 0.005]),
    ])
    tgt = _vecs_df(spark, [
        ("y1", [0.9, 0.1, 0.0, 0.0]),        # unique standout for x1
        ("y2", [0.0, 1.0, 0.01, 0.0]),       # clique around x2
        ("y3", [0.0, 1.0, 0.0, 0.01]),
        ("y4", [0.0, 1.0, 0.01, 0.01]),
        ("y5", [0.1, 0.0, 1.0, 0.0]),        # background
    ])
    out = {
        r["src_id"]: r
        for r in mine_bitext(src, tgt, k=3, margin_tau=1.05).collect()
    }
    assert "x1" in out and out["x1"]["tgt_id"] == "y1"
    assert out["x1"]["margin"] >= 1.05
    assert "x2" not in out  # crowded neighborhood -> margin ~1


def test_bitext_exact_equals_broadcast_strategy(spark, sf_dir):
    """The production ANN tier (broadcast) must reproduce the oracle
    tier exactly — same top-k, same integer-exact margins."""
    import pyspark.sql.functions as F

    from semantic_ann_in_data_lake_spark.annotate.embedder import (
        hash_embedding_expr,
    )
    from semantic_ann_in_data_lake_spark.operators.bitext import mine_bitext
    from semantic_ann_in_data_lake_spark.sources.readers import read_table

    d = read_table(spark, sf_dir, "documents")

    def emb(lang):
        return d.where(F.col("lang") == lang).select(
            "doc_id", hash_embedding_expr("text", 8).alias("embedding")
        )

    a = sorted(map(tuple, mine_bitext(
        emb("fr"), emb("es"), k=3, margin_tau=1.0, strategy="exact"
    ).collect()))
    b = sorted(map(tuple, mine_bitext(
        emb("fr"), emb("es"), k=3, margin_tau=1.0, strategy="broadcast"
    ).collect()))
    assert a == b and len(a) > 0
    # at most one row per src document, margins all above tau
    sids = [r[0] for r in a]
    assert len(sids) == len(set(sids))
    assert all(r[3] >= 1.0 for r in a)


def test_bitext_validates_k(spark):
    import pytest as _pytest

    from semantic_ann_in_data_lake_spark.operators.bitext import mine_bitext

    df = _vecs_df(spark, [("a", [1.0, 0.0])])
    with _pytest.raises(ValueError):
        mine_bitext(df, df, k=0)


# ---------------------------------------------------------------------------
# PSI drift scoring (operators/drift.py)
# ---------------------------------------------------------------------------


def test_psi_zero_for_identical_and_large_for_shifted(spark):
    import pyspark.sql.functions as F

    from semantic_ann_in_data_lake_spark.operators.drift import psi_drift

    base = spark.range(0, 2000).select((F.col("id") % 100).cast("double").alias("x"))
    same = psi_drift(base, base, "x", lo=0.0, width=10.0, n_bins=10).collect()[0]
    assert same["psi"] == 0.0 and same["base_n"] == same["curr_n"] == 2000
    shifted = spark.range(0, 2000).select(
        ((F.col("id") % 100) + 60).cast("double").alias("x")
    )
    moved = psi_drift(base, shifted, "x", lo=0.0, width=10.0, n_bins=10).collect()[0]
    assert moved["psi"] > 0.25  # "shifted" on the scorecard


def test_psi_bins_clamp_and_merge(spark):
    """Out-of-range values land in edge bins (totals preserved), and
    bin tables are mergeable: counts(a ∪ b) == counts(a) + counts(b)."""
    import pyspark.sql.functions as F

    from semantic_ann_in_data_lake_spark.operators.drift import bin_counts

    a = spark.createDataFrame([(-50.0,), (5.0,), (95.0,), (500.0,), (None,)], ["x"])
    rows = {r["bin"]: r["n"] for r in bin_counts(a, "x", 0.0, 10.0, 10).collect()}
    assert rows[0] == 2 and rows[9] == 2  # clamped edges; NULL dropped
    assert sum(rows.values()) == 4
    b = spark.range(0, 1000).select((F.col("id") % 77).cast("double").alias("x"))
    u = a.unionByName(b)
    cu = {r["bin"]: r["n"] for r in bin_counts(u, "x", 0.0, 10.0, 10).collect()}
    ca = {r["bin"]: r["n"] for r in bin_counts(a, "x", 0.0, 10.0, 10).collect()}
    cb = {r["bin"]: r["n"] for r in bin_counts(b, "x", 0.0, 10.0, 10).collect()}
    merged = {k: ca.get(k, 0) + cb.get(k, 0) for k in set(ca) | set(cb)}
    assert cu == merged


def test_psi_validates_params(spark):
    import pytest as _pytest

    from semantic_ann_in_data_lake_spark.operators.drift import bin_counts

    df = spark.createDataFrame([(1.0,)], ["x"])
    with _pytest.raises(ValueError):
        bin_counts(df, "x", 0.0, 0.0, 10)
    with _pytest.raises(ValueError):
        bin_counts(df, "x", 0.0, 1.0, 1)


def test_profile_partials_merge_equals_direct_profile(spark, sf_dir):
    """merge(partial(slices)) ≡ profile(whole), including all-null and
    empty-slice edges."""
    import pyspark.sql.functions as F

    from semantic_ann_in_data_lake_spark.operators import profiler
    from semantic_ann_in_data_lake_spark.sources.readers import read_table

    d = read_table(spark, sf_dir, "documents")
    slices = [
        d.where(F.crc32(F.col("doc_id").cast("string")) % 3 == i)
        for i in range(3)
    ]
    merged = profiler.merge_profile_partials(
        *[profiler.profile_partial(s, "documents") for s in slices]
    )
    direct = profiler.profile(d, "documents")
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, direct.collect())
    )
    # all-null + empty-slice edges: schema-stable, zero-coalesced
    e = spark.createDataFrame([(None,), (None,)], "x string")
    empty = e.where(F.lit(False))
    out = profiler.merge_profile_partials(
        profiler.profile_partial(e, "t"), profiler.profile_partial(empty, "t")
    ).collect()[0]
    assert (out["row_count"], out["n_nulls"], out["num_values"]) == (2, 2, 0)
    assert (out["min_length"], out["max_length"], out["avg_length"]) == (0, 0, 0.0)


def test_merge_profile_partials_requires_input():
    import pytest as _pytest

    from semantic_ann_in_data_lake_spark.operators.profiler import (
        merge_profile_partials,
    )

    with _pytest.raises(ValueError):
        merge_profile_partials()


# ---------------------------------------------------------------------------
# Truncated EWMA (operators/timeseries.py)
# ---------------------------------------------------------------------------


def test_ewma_matches_recursive_definition(spark):
    from datetime import datetime

    from semantic_ann_in_data_lake_spark.operators.timeseries import (
        ewma_truncated,
    )

    vals = [3.0, 1.0, 4.0, 1.5, 9.25, 2.5, 6.0, 5.375]
    rows = [
        (f"e{i}", datetime(2024, 1, 1, 0, i), "u1", v)
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(rows, ["event_id", "ts", "user_id", "value"])
    out = {
        r["event_id"]: r["ewma"]
        for r in ewma_truncated(df, "user_id", "ts", "value", "event_id",
                                window=32).collect()
    }
    y = 0.0
    for i, v in enumerate(vals):
        y = 0.5 * v + 0.5 * y  # recursive form; window=32 >> len: no truncation
        # operator output is rounded at 6 dp (HALF_UP)
        assert abs(out[f"e{i}"] - y) <= 5.1e-7, (i, out[f"e{i}"], y)


def test_ewma_truncation_and_partition_invariance(spark):
    from semantic_ann_in_data_lake_spark.operators.timeseries import (
        ewma_truncated,
    )
    import pyspark.sql.functions as F
    from datetime import datetime, timedelta

    rows = [
        (f"e{i:03d}", datetime(2024, 1, 1) + timedelta(minutes=i),
         f"u{i % 3}", float((i * 7) % 11))
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, ["event_id", "ts", "user_id", "value"])
    a = sorted(map(tuple, ewma_truncated(df, window=8).collect()))
    b = sorted(map(tuple, ewma_truncated(df.repartition(17), window=8).collect()))
    assert a == b  # bit-identical under any partitioning
    # window=8 truncates: weights beyond 8 steps are dropped entirely
    full = {t[0]: t for t in sorted(
        map(tuple, ewma_truncated(df, window=300).collect()))}
    trunc = {t[0]: t for t in a}
    some_id = "e299"
    assert trunc[some_id] != full[some_id]


def test_ewma_validates_window(spark):
    import pytest as _pytest

    from semantic_ann_in_data_lake_spark.operators.timeseries import (
        ewma_truncated,
    )

    df = spark.createDataFrame(
        [("e1", "2024-01-01", "u", 1.0)],
        ["event_id", "ts", "user_id", "value"],
    )
    with _pytest.raises(ValueError):
        ewma_truncated(df, window=0)


def test_fd_violations_detects_and_passes(spark):
    from semantic_ann_in_data_lake_spark.operators.checks import fd_violations

    df = spark.createDataFrame(
        [
            ("k1", "a", 1), ("k1", "a", 2),          # dep (a) stable -> ok
            ("k2", "a", 1), ("k2", "b", 1),          # violated
            ("k3", None, 1), ("k3", "c", 1),         # NULL variant counts
            ("k4", None, 1), ("k4", None, 2),        # all-NULL stable -> ok
        ],
        ["k", "dep", "other"],
    )
    out = {r["k"]: r["n_variants"]
           for r in fd_violations(df, ["k"], ["dep"]).collect()}
    assert out == {"k2": 2, "k3": 2}
    # multi-column determinant: (k1,a)->other and (k4,NULL)->other vary
    assert fd_violations(df, ["k", "dep"], ["other"]).count() == 2
    import pytest as _pytest

    with _pytest.raises(ValueError):
        fd_violations(df, [], ["dep"])


def test_centroid_outliers_flags_planted_outlier(spark):
    """A clique of near-identical vectors plus one far vector: only the
    far one crosses z>=2; a constant group (zero variance) yields no
    division error and no outliers."""
    from semantic_ann_in_data_lake_spark.functions.vectors import (
        centroid_outliers,
    )

    clique = [(f"v{i}", "a", [1.0 + 0.001 * i, 0.0]) for i in range(10)]
    planted = [("vx", "a", [9.0, 9.0])]
    constant = [(f"c{i}", "b", [2.0, 2.0]) for i in range(5)]
    df = spark.createDataFrame(
        clique + planted + constant, ["vec_id", "key", "embedding"]
    )
    out = centroid_outliers(df, "key", "embedding", "vec_id", z_tau=2.0)
    rows = out.collect()
    assert [r["id"] for r in rows] == ["vx"]
    assert rows[0]["z"] >= 2.0 and rows[0]["key"] == "a"


def test_shard_assignment_deterministic_salted_balanced(spark, tmp_path):
    import glob as _glob

    import pyspark.sql.functions as F

    from semantic_ann_in_data_lake_spark.operators.layout import (
        assign_shards, shard_manifest, write_shards,
    )

    df = spark.range(0, 4000).select(F.col("id").cast("string").alias("doc_id"))
    a = assign_shards(df, "doc_id", 8)
    b = assign_shards(df.repartition(13), "doc_id", 8)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    # salt re-deals without touching the data
    c = assign_shards(df, "doc_id", 8, salt="epoch1")
    moved = a.withColumnRenamed("shard_id", "s1").join(
        c.withColumnRenamed("shard_id", "s2"), "doc_id"
    ).where("s1 != s2").count()
    assert moved > 1000
    # hash balance: no shard off by more than 3x the uniform share
    m = {r["shard_id"]: r["n_docs"] for r in shard_manifest(a).collect()}
    assert len(m) == 8 and max(m.values()) < 3 * (4000 // 8)
    # fast tier is also deterministic
    f1 = assign_shards(df, "doc_id", 8, portable=False)
    f2 = assign_shards(df.repartition(7), "doc_id", 8, portable=False)
    assert sorted(map(tuple, f1.collect())) == sorted(map(tuple, f2.collect()))
    # one directory per shard on disk, directory-pruned layout
    out = str(tmp_path / "shards")
    write_shards(a, out, 8)
    dirs = sorted(_glob.glob(out + "/shard_id=*"))
    assert len(dirs) == 8
    parts = _glob.glob(dirs[0] + "/*.parquet")
    assert len(parts) == 1  # co-located: one file per shard
    back = spark.read.parquet(out)
    assert back.count() == 4000
    import pytest as _pytest

    with _pytest.raises(ValueError):
        assign_shards(df, "doc_id", 0)


def test_psi_empty_inputs_score_zero(spark):
    import pyspark.sql.functions as F

    from semantic_ann_in_data_lake_spark.operators.drift import psi_drift

    empty = spark.createDataFrame([], "x double")
    out = psi_drift(empty, empty, "x", 0.0, 10.0, 10).collect()[0]
    assert (out["base_n"], out["curr_n"], out["psi"]) == (0, 0, 0.0)
    # one-sided empty still scores (everything moved)
    base = spark.range(0, 100).select((F.col("id") % 50).cast("double").alias("x"))
    one = psi_drift(base, empty, "x", 0.0, 10.0, 10).collect()[0]
    assert one["curr_n"] == 0 and one["psi"] is not None


def test_bloom_prune_join_auto_sizes_from_dim(spark):
    """With no sizing hints, the filter sizes itself from the measured
    dim cardinality and the composition stays exact."""
    import pyspark.sql.functions as F

    from semantic_ann_in_data_lake_spark.operators.bloomjoin import (
        bloom_prune_join,
    )

    fact = spark.range(0, 30000).select(
        (F.col("id") % 2001).alias("k"), F.col("id").alias("v")
    )
    dim = spark.range(0, 64).select(
        (F.col("id") * 31).alias("k"), F.col("id").alias("d")
    )
    got = sorted(map(tuple, bloom_prune_join(fact, dim, "k").collect()))
    want = sorted(map(tuple, fact.join(dim, "k").collect()))
    assert got == want and len(got) > 0


def test_write_shards_shuffled_order_reproducible(spark, tmp_path):
    import glob as _glob

    import pyspark.sql.functions as F

    from semantic_ann_in_data_lake_spark.operators.layout import (
        assign_shards, write_shards,
    )

    df = spark.range(0, 1000).select(F.col("id").cast("string").alias("doc_id"))
    a = assign_shards(df, "doc_id", 4)

    def read_order(path):
        # one file per shard: file row order IS the training order
        f = sorted(_glob.glob(path + "/shard_id=0/*.parquet"))[0]
        import pyarrow.parquet as pq

        return pq.read_table(f).column("doc_id").to_pylist()

    p1, p2, p3 = (str(tmp_path / n) for n in ("s1", "s2", "s3"))
    write_shards(a, p1, 4, shuffle_by="doc_id")
    write_shards(a, p2, 4, shuffle_by="doc_id")
    write_shards(a, p3, 4, shuffle_by="doc_id", shuffle_salt="ep1")
    o1, o2, o3 = read_order(p1), read_order(p2), read_order(p3)
    assert o1 == o2                      # same salt -> same order
    assert sorted(o1) == sorted(o3)      # same membership...
    assert o1 != o3                      # ...different epoch order
    assert o1 != sorted(o1)              # actually shuffled


def test_quantiles_from_bins_error_bound_and_merge(spark, sf_dir):
    """Histogram quantiles stay within one bin width of the EXACT
    quantile, and quantiles of merged slice-histograms equal quantiles
    of the whole corpus's histogram."""
    import pyspark.sql.functions as F

    from semantic_ann_in_data_lake_spark.operators.drift import (
        bin_counts, quantiles_from_bins,
    )
    from semantic_ann_in_data_lake_spark.sources.readers import read_table

    o = read_table(spark, sf_dir, "orders")
    width = 5000.0
    b = bin_counts(o, "o_totalprice", 0.0, width, 100)
    got = {r["q"]: r["est"]
           for r in quantiles_from_bins(b, 0.0, width, (0.25, 0.5, 0.9)).collect()}
    exact = o.selectExpr(
        "percentile(o_totalprice, array(0.25, 0.5, 0.9)) AS p"
    ).collect()[0]["p"]
    for q, ex in zip((0.25, 0.5, 0.9), exact):
        assert abs(got[q] - ex) <= width, (q, got[q], ex)
    # mergeability end-to-end: slice histograms -> integer-add merge
    slices = [o.where(F.col("o_orderkey") % 3 == i) for i in range(3)]
    from functools import reduce

    merged = (
        reduce(lambda a, c: a.unionByName(c),
               [bin_counts(s, "o_totalprice", 0.0, width, 100) for s in slices])
        .groupBy("bin").agg(F.sum("n").alias("n"))
    )
    got2 = sorted(map(tuple,
                  quantiles_from_bins(merged, 0.0, width, (0.25, 0.5, 0.9)).collect()))
    got1 = sorted(map(tuple,
                  quantiles_from_bins(b, 0.0, width, (0.25, 0.5, 0.9)).collect()))
    assert got1 == got2
    import pytest as _pytest

    with _pytest.raises(ValueError):
        quantiles_from_bins(b, 0.0, width, ())
    with _pytest.raises(ValueError):
        quantiles_from_bins(b, 0.0, width, (0.0,))


def test_bloom_prune_join_with_colliding_column_names(spark):
    """A fact table carrying its own 'word' / 'word_idx' columns must
    not collide with the filter's internals."""
    import pyspark.sql.functions as F

    from semantic_ann_in_data_lake_spark.operators.bloomjoin import (
        bloom_prune_join,
    )

    fact = spark.range(0, 5000).select(
        (F.col("id") % 100).alias("k"),
        F.lit("the").alias("word"),
        F.lit(7).alias("word_idx"),
    )
    dim = spark.range(0, 10).select((F.col("id") * 11).alias("k"))
    got = sorted(map(tuple, bloom_prune_join(fact, dim, "k").collect()))
    want = sorted(map(tuple, fact.join(dim, "k").collect()))
    assert got == want and len(got) > 0


def test_join_size_estimate_exact_vs_real_join(spark):
    import pyspark.sql.functions as F

    from semantic_ann_in_data_lake_spark.operators.joins import (
        join_size_estimate,
    )

    left = spark.range(0, 1000).select((F.col("id") % 60).alias("k"))
    # hot key 7: 500 extra rows on one side
    left = left.unionByName(
        spark.range(0, 500).select(F.lit(7).cast("long").alias("k"))
    )
    right = spark.range(0, 300).select((F.col("id") % 90).alias("k"))
    est = join_size_estimate(left, right, "k").collect()[0]
    real = left.join(right, "k").count()
    assert int(est["join_rows"]) == real
    assert est["top_key"] == "7"
    # hot-key fanout: (1000/60 rounded + 500) left rows x right rows of key 7
    l7 = left.where("k = 7").count()
    r7 = right.where("k = 7").count()
    assert int(est["max_key_fanout"]) == l7 * r7
    assert est["matched_keys"] == 60
    # disjoint sides -> zero row, zero fanout, NULL top key
    empty = join_size_estimate(
        left, spark.range(0, 5).select((F.col("id") + 1000).alias("k")), "k"
    ).collect()[0]
    assert (empty["matched_keys"], int(empty["join_rows"])) == (0, 0)
    assert empty["top_key"] is None


# ---------------------------------------------------------------------------
# Negative sampling (operators/negatives.py)
# ---------------------------------------------------------------------------


def test_hard_negatives_exclude_positives_and_rank_correctly(spark):
    from semantic_ann_in_data_lake_spark.operators.negatives import (
        hard_negative_mine,
    )

    # anchor a: nearest are p (positive) then n1 then n2
    emb = spark.createDataFrame(
        [
            ("a", [1.0, 0.0]),
            ("p", [0.99, 0.14]),
            ("n1", [0.9, 0.43]),
            ("n2", [0.5, 0.86]),
            ("far", [-1.0, 0.0]),
        ],
        ["vec_id", "embedding"],
    )
    pos = spark.createDataFrame([("a", "p")], ["a_id", "b_id"])
    out = hard_negative_mine(emb, pos, k_neg=2, slack=2).collect()
    mine = {r["neg_rank"]: r["neg_id"] for r in out if r["anchor_id"] == "a"}
    assert mine == {1: "n1", 2: "n2"}  # p excluded, self excluded
    # symmetry: p's negatives exclude a
    p_negs = [r["neg_id"] for r in out if r["anchor_id"] == "p"]
    assert "a" not in p_negs
    import pytest as _pytest

    with _pytest.raises(ValueError):
        hard_negative_mine(emb, pos, k_neg=0)


def test_random_negatives_deterministic_and_disjoint_from_positives(spark):
    import pyspark.sql.functions as F

    from semantic_ann_in_data_lake_spark.operators.negatives import (
        random_negatives,
    )

    ids = spark.range(0, 60).select(F.concat(F.lit("v"), F.col("id")).alias("vec_id"))
    pos = spark.createDataFrame(
        [(f"v{i}", f"v{i+1}") for i in range(0, 40, 2)], ["a", "b"]
    )
    a = sorted(map(tuple, random_negatives(ids, ids, pos, k_neg=4).collect()))
    b = sorted(map(tuple,
        random_negatives(ids.repartition(7), ids, pos, k_neg=4).collect()))
    assert a == b and len(a) == 60 * 4
    pset = {(r["a"], r["b"]) for r in pos.collect()}
    pset |= {(y, x) for x, y in pset}
    assert all((r[0], r[1]) not in pset and r[0] != r[1] for r in a)
    # different seed -> different draw; same membership universe
    c = sorted(map(tuple,
        random_negatives(ids, ids, pos, k_neg=4, seed="s2").collect()))
    assert a != c
    # thinned pool stays valid and deterministic
    d = random_negatives(ids, ids, pos, k_neg=2, pool_fraction=0.5)
    d1 = sorted(map(tuple, d.collect()))
    assert all((r[0], r[1]) not in pset for r in d1)


# ---------------------------------------------------------------------------
# Persistent IVF index (operators/ivf_index.py)
# ---------------------------------------------------------------------------


def test_ivf_index_refresh_equals_rebuild_and_probeall_exact(spark, sf_dir, tmp_path):
    import pyspark.sql.functions as F

    from semantic_ann_in_data_lake_spark.operators.ivf_index import (
        build_ivf_index, index_assignment_violations, refresh_ivf_index,
        search_ivf_index,
    )
    from semantic_ann_in_data_lake_spark.operators.knn import knn_join
    from semantic_ann_in_data_lake_spark.sources.readers import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    p_inc = str(tmp_path / "inc")
    p_full = str(tmp_path / "full")
    base = emb.where(F.col("vec_id") % 4 != 0)
    delta = emb.where(F.col("vec_id") % 4 == 0)
    build_ivf_index(base, p_inc, nlist=8)
    refresh_ivf_index(spark, p_inc, delta)
    # incremental == rebuild with the SAME centroids: rebuild reuses
    # base's fit (same seed + same base sample), so cells must agree
    build_ivf_index(base, p_full, nlist=8)
    refresh_ivf_index(spark, p_full, emb.where(F.col("vec_id") % 4 == 0))
    a = sorted(map(tuple, spark.read.parquet(p_inc + "/cells")
                .select("vec_id", "cell").collect()))
    b = sorted(map(tuple, spark.read.parquet(p_full + "/cells")
                .select("vec_id", "cell").collect()))
    assert a == b and len(a) == emb.count()
    # standing invariant: no mis-assignments after refresh
    assert index_assignment_violations(spark, p_inc).count() == 0
    # probe-all search == exact knn (same ranking convention)
    got = sorted(map(tuple, search_ivf_index(
        spark, p_inc, emb.limit(40), k=5, nprobe=8).collect()))
    want = sorted(map(tuple, knn_join(
        emb.limit(40), emb, k=5, strategy="exact").collect()))
    assert got == want
    # partial probe: bounded recall loss. The fixture's hash embeddings
    # are near-uniform (worst case for IVF — little cluster structure),
    # so half the cells still finds ~0.4 of exact top-5; clustered real
    # embeddings sit far higher. The floor pins "probing works at all"
    # without overfitting the fixture.
    part = set(map(tuple, search_ivf_index(
        spark, p_inc, emb.limit(40), k=5, nprobe=4).collect()))
    overlap = len(part & set(map(tuple, want))) / len(want)
    assert overlap >= 0.3, overlap


def test_ivf_index_detects_planted_misassignment(spark, sf_dir, tmp_path):
    import pyspark.sql.functions as F

    from semantic_ann_in_data_lake_spark.operators.ivf_index import (
        build_ivf_index, index_assignment_violations,
    )
    from semantic_ann_in_data_lake_spark.sources.readers import read_table

    emb = read_table(spark, sf_dir, "embeddings").limit(100)
    path = str(tmp_path / "ix")
    build_ivf_index(emb, path, nlist=4)
    cells = spark.read.parquet(path + "/cells")
    # plant one row in a wrong cell (new id so the good copy survives)
    bad = cells.limit(1).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"),
        "embedding",
        ((F.col("cell") + 1) % 4).alias("cell"),
    )
    bad.write.mode("append").partitionBy("cell").parquet(path + "/cells")
    v = index_assignment_violations(spark, path).collect()
    assert len(v) == 1 and v[0]["vec_id"] >= 10_000_000


def test_ivf_index_search_edge_corpora(spark, sf_dir, tmp_path):
    """Edge inputs of the standing index's search: an empty query
    frame, ids re-ingested into the index, self matches kept, cosine,
    an unknown metric, string ids and a centroid table that is not
    0..n-1."""
    import shutil

    from semantic_ann_in_data_lake_spark.operators.checks import (
        knn_invariant_violations,
    )
    from semantic_ann_in_data_lake_spark.operators.ivf_index import (
        build_ivf_index, refresh_ivf_index, search_ivf_index,
    )
    from semantic_ann_in_data_lake_spark.sources.readers import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") % 25 == 0)
    qids = sorted(r["vec_id"] for r in q.collect())
    path = str(tmp_path / "ix")
    build_ivf_index(emb, path, nlist=8)
    assert search_ivf_index(spark, path, q.limit(0), k=3).count() == 0

    # refreshed twice: each query id is stored three times in its cell
    refresh_ivf_index(spark, path, q)
    refresh_ivf_index(spark, path, q)
    res = search_ivf_index(spark, path, q, k=5, nprobe=2)
    pairs = [(r["query_id"], r["cand_id"]) for r in res.collect()]
    assert len(pairs) == len(set(pairs)) == 5 * len(qids)
    assert knn_invariant_violations(res, emb).count() == 0

    own = search_ivf_index(
        spark, path, q, k=3, nprobe=2, exclude_self=False
    ).where(F.col("rank") == 1)
    assert sorted(map(tuple, own.select("query_id", "cand_id", "distance")
                      .collect())) == [(i, i, 0.0) for i in qids]

    cos = search_ivf_index(spark, path, q, k=3, metric="cosine")
    assert cos.count() == 3 * len(qids)
    assert knn_invariant_violations(cos, emb, metric="cosine").count() == 0

    with pytest.raises(ValueError, match="metric"):
        search_ivf_index(spark, path, q, metric="l2")
    with pytest.raises(ValueError, match="integral"):
        search_ivf_index(
            spark, path, q.withColumn("vec_id", F.col("vec_id").cast("string"))
        )

    bad = str(tmp_path / "bad")
    shutil.copytree(path + "/cells", bad + "/cells")
    spark.read.parquet(path + "/centroids").select(
        (F.col("cell") + 1).alias("cell"), "centroid"
    ).write.parquet(bad + "/centroids")
    with pytest.raises(ValueError, match="0..nlist-1"):
        search_ivf_index(spark, bad, q)


def _job_ids(spark, group, action):
    """Ids of the Spark jobs ``action`` starts, by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_local_session_lists_partition_directories_on_the_driver(
    spark, tmp_path
):
    """A ``local[...]`` session from ``get_spark`` lists a table's
    partition directories on the driver: past Spark's default threshold
    of 32 paths a read would otherwise start a listing job (the standing
    IVF index reads 200+ ``cell=<c>`` directories on every search). The
    explicit schema keeps schema inference's own job out of the count."""
    path = str(tmp_path / "parts")
    spark.range(80, numPartitions=1).select(
        "id", (F.col("id") % 40).alias("part")
    ).write.partitionBy("part").parquet(path)

    def read():
        df = spark.read.schema("id long, part int").parquet(path)
        assert len(df.inputFiles()) == 40

    assert _job_ids(spark, "driver-side-listing", read) == []


def test_ivf_index_reads_centroids_without_a_spark_job(spark, tmp_path):
    """The stored centroid table is read with its known schema, so a
    search, refresh or check starts no schema-inference job for it (a
    plain read of the same table starts one); the rows are the ones the
    schema-inferring read returns."""
    from semantic_ann_in_data_lake_spark.operators.ivf_index import (
        _read_centroids, build_ivf_index,
    )

    emb = spark.createDataFrame(
        [(i, [float(i % 7), float(i // 7)]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    path = str(tmp_path / "ix")
    build_ivf_index(emb, path, nlist=4)
    read = {}
    assert _job_ids(
        spark, "centroid-read",
        lambda: read.setdefault("df", _read_centroids(spark, path)),
    ) == []
    assert _job_ids(
        spark, "centroid-infer",
        lambda: read.setdefault("inferred", spark.read.parquet(path + "/centroids")),
    ) != []
    inferred = read["inferred"]
    assert read["df"].schema == inferred.schema
    assert sorted(read["df"].collect()) == sorted(inferred.collect())
    assert read["df"].count() == 4


def test_ivf_index_writes_one_file_per_touched_cell(spark, sf_dir, tmp_path):
    """Build writes exactly one parquet file per cell; a refresh adds
    exactly one file to each cell its rows land in and none elsewhere.
    The assignment stays valid, and search answers the same rows as
    the same cells written in a single task."""
    import os
    import shutil

    from semantic_ann_in_data_lake_spark.operators.ivf_index import (
        build_ivf_index, index_assignment_violations, refresh_ivf_index,
        search_ivf_index,
    )
    from semantic_ann_in_data_lake_spark.sources.readers import read_table

    def files_per_cell(path):
        root = os.path.join(path, "cells")
        return {
            int(d.split("=", 1)[1]): sum(
                f.endswith(".parquet") for f in os.listdir(os.path.join(root, d))
            )
            for d in os.listdir(root) if d.startswith("cell=")
        }

    emb = read_table(spark, sf_dir, "embeddings")
    delta = emb.where(F.col("vec_id") % 50 == 0)
    path = str(tmp_path / "ix")
    # at scale AQE keeps the assignment's shuffle partitions apart, and
    # each of them would write its own file into every cell
    coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    was = spark.conf.get(coalesce)
    spark.conf.set(coalesce, "false")
    try:
        build_ivf_index(emb.where(F.col("vec_id") % 50 != 0), path, nlist=8)
        built = files_per_cell(path)
        refresh_ivf_index(spark, path, delta)
    finally:
        spark.conf.set(coalesce, was)
    assert set(built.values()) == {1}
    delta_ids = [r["vec_id"] for r in delta.collect()]
    touched = {
        r["cell"] for r in spark.read.parquet(path + "/cells")
        .where(F.col("vec_id").isin(delta_ids)).select("cell").distinct().collect()
    }
    after = files_per_cell(path)
    assert 0 < len(touched) < len(built)
    assert after == {c: n + (c in touched) for c, n in built.items()}
    assert index_assignment_violations(spark, path).count() == 0

    one_task = str(tmp_path / "one_task")
    shutil.copytree(path + "/centroids", one_task + "/centroids")
    spark.read.parquet(path + "/cells").coalesce(1).write.partitionBy(
        "cell"
    ).parquet(one_task + "/cells")
    q = emb.where(F.col("vec_id") % 10 == 0)
    got, want = (
        sorted(map(tuple, search_ivf_index(spark, p, q, k=5, nprobe=2).collect()))
        for p in (path, one_task)
    )
    assert got == want and len(got) == 5 * q.count()


def test_knn_join_string_ids_decline_to_exact(spark, sf_dir):
    """The numpy tiers score ids as int64: on string ids the explicit
    broadcast and ivf strategies raise a ValueError naming the exact
    strategy before any Spark job, and auto answers with exact's
    rows."""
    from semantic_ann_in_data_lake_spark.operators.knn import knn_join
    from semantic_ann_in_data_lake_spark.sources.readers import read_table

    emb = read_table(spark, sf_dir, "embeddings").withColumn(
        "vec_id", F.concat(F.lit("v"), F.col("vec_id").cast("string"))
    )
    for strategy in ("broadcast", "ivf"):
        def call():
            with pytest.raises(ValueError, match="strategy='exact'"):
                knn_join(emb, emb, k=3, strategy=strategy)

        assert _job_ids(spark, f"string-ids-{strategy}", call) == []
    auto, exact = (
        sorted(map(tuple, knn_join(emb, emb, k=3, strategy=s).collect()))
        for s in ("auto", "exact")
    )
    assert auto == exact and len(exact) == 3 * emb.count()


@pytest.mark.parametrize(
    "strategy",
    ["exact", "broadcast", "ivf", "lsh", "pq", "pq_refine", "ivf_pq",
     "ivf_pq_refine", "opq_refine", "pca_refine"],
)
def test_knn_join_rejects_unknown_metric_and_unused_compress(
    spark, sf_dir, strategy
):
    """A mistyped metric raises on every tier instead of silently
    scoring cosine or L2; ``compress`` raises on every explicit tier
    that would drop it."""
    from semantic_ann_in_data_lake_spark.operators.knn import knn_join

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    with pytest.raises(ValueError, match="metric"):
        knn_join(emb, emb, k=3, metric="l2", strategy=strategy)
    if strategy not in ("broadcast", "ivf"):
        with pytest.raises(ValueError, match="compress"):
            knn_join(emb, emb, k=3, strategy=strategy, compress="int8")


def test_table_diff_classifies_and_validates(spark):
    import pyspark.sql.functions as F

    from semantic_ann_in_data_lake_spark.operators.checks import table_diff

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, None, 40)],
        ["k", "v", "w"],
    )
    new = spark.createDataFrame(
        [(2, "b", 20), (3, "c", 99), (4, "d", 40), (5, "e", 50)],
        ["k", "v", "w"],
    )
    got = {r["key"]: r["change"] for r in table_diff(old, new, "k").collect()}
    assert got == {1: "removed", 3: "changed", 4: "changed", 5: "added"}
    # identical snapshots -> empty diff (column order irrelevant)
    assert table_diff(old, old.select("w", "k", "v"), "k").count() == 0
    import pytest as _pytest

    with _pytest.raises(ValueError):
        table_diff(old, new.withColumnRenamed("w", "x"), "k")


def test_leakage_safe_split_never_splits_a_cluster(spark, sf_dir):
    import pyspark.sql.functions as F

    from semantic_ann_in_data_lake_spark.operators import dedup
    from semantic_ann_in_data_lake_spark.operators.pairs import (
        leakage_safe_split,
    )
    from semantic_ann_in_data_lake_spark.sources.readers import read_table

    docs = read_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_near_dups(
        docs, num_hashes=16, bands=8, rows_per_band=2, threshold=0.01
    )
    clusters = dedup.dedup_clusters(pairs)
    out = leakage_safe_split(docs.select("doc_id"), clusters)
    # the invariant: one split per cluster, everywhere
    spans = (
        out.groupBy("cluster_id")
        .agg(F.countDistinct("split").alias("k"))
        .where(F.col("k") > 1)
        .count()
    )
    assert spans == 0
    # every doc assigned; deterministic under repartition; seed re-deals
    assert out.count() == docs.count()
    a = sorted(map(tuple, out.collect()))
    b = sorted(map(tuple, leakage_safe_split(
        docs.select("doc_id").repartition(11), clusters).collect()))
    assert a == b
    c = sorted(map(tuple, leakage_safe_split(
        docs.select("doc_id"), clusters, seed="v2").collect()))
    assert a != c
    # rough proportions: train is the large split
    frac = out.where("split = 'train'").count() / out.count()
    assert 0.6 < frac < 0.95
    import pytest as _pytest

    with _pytest.raises(ValueError):
        leakage_safe_split(docs, clusters, train_buckets=9, valid_buckets=1)


def test_bloom_prune_join_rejects_key_dtype_mismatch(spark):
    import pyspark.sql.functions as F
    import pytest as _pytest

    from semantic_ann_in_data_lake_spark.operators.bloomjoin import (
        bloom_prune_join,
    )

    fact = spark.range(0, 20).select(F.col("id").cast("string").alias("k"))
    dim = spark.range(0, 10).select((F.col("id") * 2).alias("k"))
    with _pytest.raises(ValueError, match="dtype mismatch"):
        bloom_prune_join(fact, dim, "k")


def test_table_diff_catches_null_column_shift(spark):
    from semantic_ann_in_data_lake_spark.operators.checks import table_diff

    old = spark.createDataFrame([(1, None, "x")], "k int, v string, w string")
    new = spark.createDataFrame([(1, "x", None)], "k int, v string, w string")
    got = [(r["key"], r["change"]) for r in table_diff(old, new, "k").collect()]
    assert got == [(1, "changed")]  # flat xxhash64 would report no change


def test_bin_counts_survives_extreme_outlier(spark):
    from semantic_ann_in_data_lake_spark.operators.drift import bin_counts

    df = spark.createDataFrame(
        [(3.0e10,), (-3.0e10,), (5.0,)], "x double"
    )
    rows = {r["bin"]: r["n"] for r in bin_counts(df, "x", 0.0, 10.0, 10).collect()}
    # extreme high clamps into the TOP bin, extreme low into bin 0 — no
    # ANSI cast overflow, no wraparound into the wrong edge
    assert rows == {9: 1, 0: 2}


def test_bitext_drops_non_positive_neighborhoods(spark):
    from semantic_ann_in_data_lake_spark.operators.bitext import mine_bitext

    # tgt vectors all anti-aligned with src: every neighborhood sum is
    # negative; no pair may be emitted (a mis-ranked anti-translation
    # would otherwise beat the tau filter via a negative denominator)
    src = _vecs_df(spark, [("a", [1.0, 0.0]), ("b", [0.9, 0.1])])
    tgt = _vecs_df(spark, [("x", [-1.0, 0.0]), ("y", [-0.9, -0.1])])
    assert mine_bitext(src, tgt, k=2, margin_tau=0.0).count() == 0


def test_pq_adc_contract_and_decode(spark, sf_dir):
    """ADC distances are exact w.r.t. the decoded reconstruction (the
    gate's invariant), and a corrupted distance IS caught."""
    import pyspark.sql.functions as F

    from semantic_ann_in_data_lake_spark.operators import checks
    from semantic_ann_in_data_lake_spark.operators.pq import (
        knn_pq, pq_decode, pq_encode, train_pq_codebooks,
    )
    from semantic_ann_in_data_lake_spark.sources.readers import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    res = knn_pq(emb, emb, k=3)
    books = train_pq_codebooks(emb)
    decoded = pq_decode(pq_encode(emb, books), books)
    ok = checks.knn_invariant_violations(res, emb, cand_emb=decoded)
    assert ok.count() == 0
    # corrupt one reported distance -> exactly that pair flags
    bad = res.withColumn(
        "distance",
        F.when(
            (F.col("rank") == 1)
            & (F.col("query_id") == res.select(F.min("query_id")).collect()[0][0]),
            F.col("distance") + 0.5,
        ).otherwise(F.col("distance")),
    )
    v = checks.knn_invariant_violations(bad, emb, cand_emb=decoded).collect()
    assert len(v) >= 1 and any(r["violation"] == "distance" for r in v)


def test_length_bucket_batches_semantics(spark):
    import pyspark.sql.functions as F

    from semantic_ann_in_data_lake_spark.operators.packing import (
        length_bucket_batches,
    )

    docs = spark.createDataFrame(
        [
            ("a", "one two three"),              # 3 tokens  -> min bucket 16
            ("b", " ".join(["w"] * 16)),         # 16 -> exactly 16
            ("c", " ".join(["w"] * 17)),         # 17 -> 32
            ("d", " ".join(["w"] * 200)),        # 200 -> 256
            ("e", " ".join(["w"] * 5000)),       # 5000 -> clamped to 1024
        ],
        ["doc_id", "text"],
    )
    out = {r["bucket"]: r for r in length_bucket_batches(
        docs, min_bucket=16, max_bucket=1024).collect()}
    assert set(out) == {16, 32, 256, 1024}
    assert out[16]["n_docs"] == 2 and out[32]["n_docs"] == 1
    assert out[1024]["token_sum"] == 5000 and out[1024]["padded_sum"] == 1024
    # waste sanity: tiny docs in a 16-bucket waste most of it
    assert out[16]["padding_waste"] > 0.3
    import pytest as _pytest

    with _pytest.raises(ValueError):
        length_bucket_batches(docs, min_bucket=10)  # not a power of two


def test_jaccard_join_exact_at_nonrepresentable_threshold(spark):
    """A pair whose true Jaccard EQUALS tau=1/3 must survive: the
    threshold compares integer counts, not the 6-dp-rounded ratio."""
    from semantic_ann_in_data_lake_spark.operators.setjoin import (
        jaccard_prefix_join,
    )

    docs = spark.createDataFrame(
        [(1, "a b"), (2, "b c"), (3, "x y z")], ["doc_id", "text"]
    )
    got = [(r["id_a"], r["id_b"]) for r in
           jaccard_prefix_join(docs, threshold=1 / 3).collect()]
    assert (1, 2) in got  # J({a,b},{b,c}) = 1/3 exactly


def test_value_overlap_exact_at_nonrepresentable_threshold(spark):
    from semantic_ann_in_data_lake_spark.operators.discovery import (
        value_overlap_discovery,
    )

    q = spark.createDataFrame(
        [("t1", "c1", v) for v in ["a", "b", "c"]],
        ["table_name", "column_name", "value"],
    )
    c = spark.createDataFrame(
        [("t2", "c2", v) for v in ["c", "z", "w", "u"]],
        ["table_name", "column_name", "value"],
    )
    out = value_overlap_discovery(q.unionByName(c), threshold=1 / 3)
    rows = [(r["query_table"], r["cand_table"]) for r in out.collect()]
    assert ("t1", "t2") in rows  # containment 1/3 exactly meets tau


def test_winsorized_mean_excludes_nulls(spark):
    from semantic_ann_in_data_lake_spark.operators.ranks import (
        winsorized_mean,
    )

    df = spark.createDataFrame(
        [(None, 1), (10.0, 2), (20.0, 3)], "v double, id int"
    )
    out = winsorized_mean(df, "v", "id", 0.05, 0.95).collect()[0]
    # NULL excluded: n=2, bounds (10, 20), raw mean 15 — a NULL ranked
    # first used to collapse lo to 20 and clamp everything to it
    assert out["n"] == 2 and out["lo"] == 10.0 and out["hi"] == 20.0
    assert out["raw_mean"] == 15.0


def test_span_and_bucket_param_validation(spark):
    import pytest as _pytest

    from semantic_ann_in_data_lake_spark.operators.ranks import (
        equidepth_histogram, global_row_number,
    )
    from semantic_ann_in_data_lake_spark.operators.spans import (
        duplicated_span_stats,
    )

    docs = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    with _pytest.raises(ValueError):
        duplicated_span_stats(docs, n=0)
    df = spark.createDataFrame([(1.0, 1)], "v double, id int")
    with _pytest.raises(ValueError):
        equidepth_histogram(df, "v", "id", buckets=0)
    with _pytest.raises(ValueError, match="reserved"):
        global_row_number(df.withColumn("__pid", F.lit(1)), ["v"])


def test_minhash_verify_exact_at_nonrepresentable_threshold(spark):
    """The exact-Jaccard verify behind every LSH pair set decides on
    integer set sizes: a pair at exactly tau=1/3 survives."""
    from semantic_ann_in_data_lake_spark.operators import dedup

    docs = spark.createDataFrame(
        # two 2-shingle sets sharing one 3-gram: J = 1/3 exactly
        [(1, "a b c d"), (2, "z b c d")], ["doc_id", "text"]
    )
    out = dedup.ngram_jaccard_pairs(docs, threshold=1 / 3).collect()
    assert len(out) == 1 and abs(out[0]["jaccard"] - 1 / 3) < 1e-6


def test_equidepth_histogram_excludes_nulls(spark):
    from semantic_ann_in_data_lake_spark.operators.ranks import (
        equidepth_histogram,
    )

    df = spark.createDataFrame(
        [(None, 0)] + [(float(i), i) for i in range(1, 9)], "v double, id int"
    )
    rows = equidepth_histogram(df, "v", "id", buckets=2).collect()
    # 8 non-null values -> two buckets of 4; the NULL consumes nothing
    assert sorted((r["bucket"], r["n"]) for r in rows) == [(0, 4), (1, 4)]


def test_read_csv_tables_handles_mixed_schemas(spark, tmp_path):
    """Per-file inference: a directory holding two tables with
    different column counts loads both fully (a single-glob read would
    silently DROPMALFORMED one of them away)."""
    import csv

    from semantic_ann_in_data_lake_spark.sources.readers import (
        read_csv_tables,
    )

    d = tmp_path / "lake"
    d.mkdir()
    with open(d / "alpha.csv", "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["a", "b"])
        w.writerows([["1", "x"], ["2", "y"]])
    with open(d / "beta.csv", "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["p", "q", "r", "s"])
        w.writerows([["1", "2", "3", "4"], ["5", "6", "7", "8"]])
    tables = read_csv_tables(spark, str(d))
    assert set(tables) == {"alpha", "beta"}
    assert tables["alpha"].count() == 2 and tables["alpha"].columns == ["a", "b"]
    assert tables["beta"].count() == 2 and len(tables["beta"].columns) == 4


def test_apply_corruption_swap_permutation(spark):
    """A swap mapping (permutation) must not collide intermediate
    names — regression for the sequential-rename clobber."""
    from semantic_ann_in_data_lake_spark.annotate.corruption import (
        apply_corruption,
    )

    df = spark.createDataFrame([(1, 2, 3)], ["alpha", "beta", "gamma"])
    mapping = spark.createDataFrame(
        [("alpha", "gamma"), ("beta", "alpha"), ("gamma", "beta")],
        ["column_name", "new_name"],
    )
    out = apply_corruption(df, mapping)
    assert out.columns == ["gamma", "alpha", "beta"]
    assert out.collect()[0].asDict() == {"gamma": 1, "alpha": 2, "beta": 3}


def test_apply_canonical_map_multiword_terms(spark):
    """Multi-word/hyphenated terms must canonicalize (the join key
    uses the same normalization as the mapping keys)."""
    from semantic_ann_in_data_lake_spark.annotate.synonyms import (
        apply_canonical_map,
    )

    df = spark.createDataFrame(
        [("unit price",), ("unit-price",), ("unit_price",)], ["term"]
    )
    out = apply_canonical_map(
        df, "term", spark, synonyms={"unit_price": ["unit price", "unit-price"]}
    )
    canon = {r["term"]: r["term_canonical"] for r in out.collect()}
    assert len(set(canon.values())) == 1  # all three merge


def test_scd2_history_null_states_open_versions(spark):
    from datetime import datetime

    from semantic_ann_in_data_lake_spark.operators.pairs import scd2_history

    rows = [
        (1, "A", datetime(2024, 1, 1, 10), "e1"),
        (1, None, datetime(2024, 1, 1, 11), "e2"),
        (1, "B", datetime(2024, 1, 1, 12), "e3"),
    ]
    df = spark.createDataFrame(
        rows, ["user_id", "event_type", "ts", "event_id"]
    )
    hist = scd2_history(df, "user_id", "event_type", "ts", "event_id").collect()
    assert len(hist) == 3  # A, NULL, B each their own version
    states = [r["state"] for r in sorted(hist, key=lambda r: r["version"])]
    assert states == ["A", None, "B"]


def test_asof_join_null_keys_never_match(spark):
    from datetime import datetime

    from semantic_ann_in_data_lake_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(None, datetime(2024, 1, 1, 10))], "user_id long, ts timestamp"
    )
    right = spark.createDataFrame(
        [(None, datetime(2024, 1, 1, 9), "x")],
        "user_id long, ts timestamp, state string",
    )
    out = asof_join(left, right, "user_id", right_cols=("state",)).collect()
    assert len(out) == 1 and out[0]["matched_state"] is None


def test_cache_scope_thread_local(spark, sf_dir):
    """Concurrent driver threads must not pop each other's scope
    frames or unpersist each other's blocks."""
    import threading

    from semantic_ann_in_data_lake_spark.cache import (
        cache_scope, scoped_persist,
    )

    errs = []

    def work(tag):
        try:
            with cache_scope() as frames:
                df = scoped_persist(
                    spark.range(0, 100).selectExpr(f"id + {tag} as id")
                )
                assert df.count() == 100
                assert len(frames) == 1  # only THIS thread's persist
        except Exception as e:  # pragma: no cover
            errs.append(e)

    ts = [threading.Thread(target=work, args=(i,)) for i in range(4)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert errs == []


def test_annotate_tables_survives_raising_annotator(spark):
    """A raising annotator counts as a failed attempt and falls back to
    the identity mapping — it must never kill the stage."""
    from semantic_ann_in_data_lake_spark.annotate.annotator import (
        annotate_tables,
    )

    calls = {"n": 0}

    def flaky(table, cols, md):
        calls["n"] += 1
        raise RuntimeError("endpoint down")

    catalog = spark.createDataFrame(
        [("t1", ["A Col", "B"], "")],
        "table_name string, columns array<string>, sample_markdown string",
    )
    out = annotate_tables(catalog, annotator=flaky, max_retries=1).collect()
    assert len(out) == 1 and out[0]["ok"] is False
    assert out[0]["columns"] == {"A Col": "A Col", "B": "B"}


def test_derive_nlist_scales_with_candidates(spark, sf_dir):
    """Explicit IVF tiers derive nlist ≈ √n (clamped to [16, 4096])
    when the caller doesn't pin one — a fixed nlist stops partitioning
    the corpus at scale (VERDICT r5 item 5)."""
    from semantic_ann_in_data_lake_spark.operators.knn import derive_nlist

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    expect = int(min(4096, max(16, round(n ** 0.5))))
    # footer path: unfiltered parquet scan, zero Spark jobs
    assert derive_nlist(emb) == expect
    # count() fallback: a filtered lineage has no usable footer count
    filtered = emb.where("vec_id % 2 = 0")
    m = filtered.count()
    assert derive_nlist(filtered) == int(min(4096, max(16, round(m ** 0.5))))
    # clamps
    assert derive_nlist(emb.limit(4)) == 16
    # known_n short-circuits any probe; both-None is a usage error
    assert derive_nlist(known_n=10_000) == 100
    with pytest.raises(ValueError):
        derive_nlist()


def test_knn_ivf_pq_derives_nlist(spark, sf_dir, monkeypatch):
    """knn_ivf_pq(nlist=None) must fit √n̂ cells, mirroring knn_join's
    explicit-IVF default."""
    from semantic_ann_in_data_lake_spark.operators import pq as pq_mod

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(60)
    seen = {}
    real_fit = pq_mod.fit_ivf_pq

    def spy_fit(c, nlist, **kw):
        seen["nlist"] = nlist
        return real_fit(c, nlist=nlist, **kw)

    monkeypatch.setattr(pq_mod, "fit_ivf_pq", spy_fit)
    from semantic_ann_in_data_lake_spark.operators import knn as knn_mod

    monkeypatch.setattr(knn_mod, "_estimate_rows", lambda df: 10_000)
    pq_mod.knn_ivf_pq(emb, emb, k=3, nprobe=2).count()
    assert seen["nlist"] == 100  # √10000


def test_skew_safe_term_join_equivalence(spark, sf_dir):
    """The stopword-head broadcast split must emit exactly the plain
    join's rows (the oracle hash depends on it), and its hot branch
    must be a broadcast join in the plan."""
    from semantic_ann_in_data_lake_spark.operators.textstats import (
        _skew_safe_term_join,
    )
    from semantic_ann_in_data_lake_spark.functions.text import words

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tok = docs.select(
        F.col("doc_id"), F.explode(words("text")).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    plain = tf.join(dfreq, "term")
    # floor=0 forces the hot path at gate scale (production floor 1000
    # only engages on corpora where df can exceed it)
    split = _skew_safe_term_join(tf, dfreq, hot_df_floor=0)
    rows = lambda df: sorted(map(tuple, df.select("term", "doc_id", "tf", "df").collect()))
    assert rows(split) == rows(plain)
    plan = split._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert "BroadcastHashJoin" in plan
    # the expensive tokenize->tf->dfreq aggregation exchange must be
    # SHARED across the hot/cold branches (only the bounded TopK head
    # may evaluate twice) — pin via the non-AQE physical plan, where
    # reuse is textually visible
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        # rebuild under non-AQE: queryExecution is planned at
        # construction, so the earlier frame kept its adaptive plan
        split2 = _skew_safe_term_join(tf, dfreq, hot_df_floor=0)
        phys = split2._jdf.queryExecution().executedPlan().toString()
        assert "ReusedExchange" in phys
        assert "TakeOrderedAndProject" in phys  # the lazy bounded head
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_knn_pq_pair_budget_degrades_to_ivf_pq(spark, sf_dir, monkeypatch):
    """An EXPLICIT strategy='pq' call is still a quadratic scorer (ADC
    shrinks memory, not compute): past the pair budget it must degrade
    to the cell-sharded IVF-PQ tier with a warning, mirroring the auto
    tier's compute ceiling (VERDICT r5 carried item: only the byte
    guard existed)."""
    from semantic_ann_in_data_lake_spark.operators import pq as pq_mod

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(50)
    called = {}
    real_ivf_pq = pq_mod.knn_ivf_pq

    def spy(*a, **kw):
        called["nlist"] = kw.get("nlist")
        return real_ivf_pq(*a, **kw)

    monkeypatch.setattr(pq_mod, "knn_ivf_pq", spy)
    monkeypatch.setenv("SPARK_GRAFT_KNN_PAIR_BUDGET", "100")  # 50*50 > 100
    with pytest.warns(UserWarning, match="pair budget"):
        out = pq_mod.knn_pq(emb, emb, k=3)
    assert called["nlist"] is not None and out.count() > 0
    monkeypatch.delenv("SPARK_GRAFT_KNN_PAIR_BUDGET")
    # under budget: no degrade, no warning
    called.clear()
    import warnings as _w

    with _w.catch_warnings():
        _w.simplefilter("error")
        pq_mod.knn_pq(emb, emb, k=3).count()
    assert not called


def test_build_ivf_index_derives_nlist(spark, sf_dir, tmp_path):
    """build_ivf_index(nlist=None) fits the scale-aware derived cell
    count, same policy as the per-run IVF tiers."""
    from semantic_ann_in_data_lake_spark.operators.ivf_index import (
        build_ivf_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    p = str(tmp_path / "idx")
    build_ivf_index(emb, p)
    n_cents = spark.read.parquet(f"{p}/centroids").count()
    n = emb.count()
    assert n_cents == int(min(4096, max(16, round(n ** 0.5))))


def test_dsir_select_weights_target_like_docs_higher(spark):
    """Docs sharing the target's vocabulary get higher log importance
    weights than docs that only share raw-side vocabulary; exactly k
    docs are selected; the sample is invariant to repartitioning; an
    empty doc scores n_grams=0, log_weight=0."""
    from pyspark.sql import functions as F

    from semantic_ann_in_data_lake_spark.operators.dsir import dsir_select

    rows = (
        # target distribution: "alpha beta" docs
        [(i, "alpha beta alpha beta", "t") for i in range(10)]
        # raw-only noise: "zz qq" docs
        + [(100 + i, "zz qq zz qq", "r") for i in range(10)]
        # the two probes: one target-like, one noise-like
        + [(500, "alpha beta alpha", "r"), (501, "zz qq zz", "r"),
           (502, "", "r")]
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string, grp string")
    out = dsir_select(
        docs, F.col("grp") == "t", k=5, n_buckets=64, seed="t:"
    )
    got = {r["doc_id"]: r for r in out.collect()}
    assert len(got) == 23
    assert got[500]["log_weight"] > got[501]["log_weight"]
    assert got[502]["n_grams"] == 0 and got[502]["log_weight"] == 0.0
    assert sum(1 for r in got.values() if r["selected"]) == 5
    # content-addressed: the same call over a different partitioning
    # selects the same ids with the same keys
    got2 = {
        r["doc_id"]: (r["sel_key"], r["selected"])
        for r in dsir_select(
            docs.repartition(7), F.col("grp") == "t", k=5,
            n_buckets=64, seed="t:",
        ).collect()
    }
    assert got2 == {
        d: (r["sel_key"], r["selected"]) for d, r in got.items()
    }


def test_dsir_fit_table_shape_and_neutral_bucket(spark):
    """The fitted ratio table is dense length-B; buckets never touched
    by any gram keep the smoothing-only prior log((Tq+aB)/(Tp+aB))
    scaled to micro-units (positive when the target corpus is the
    smaller one); k larger than the corpus selects everything."""
    from pyspark.sql import functions as F

    from semantic_ann_in_data_lake_spark.functions.text import words
    from semantic_ann_in_data_lake_spark.operators.dsir import (
        dsir_select,
        feature_grams,
        fit_bucket_log_ratios,
    )

    docs = spark.createDataFrame(
        [(1, "a b", True), (2, "c d", False)],
        "doc_id long, text string, is_t boolean",
    )
    g = docs.select(
        "doc_id", "is_t", feature_grams(words("text")).alias("grams")
    )
    table = fit_bucket_log_ratios(g, F.col("is_t"), n_buckets=32)
    assert len(table) == 32
    import math

    # untouched bucket: cp=cq=0 -> ln((0+1)/(tp+32)) - ln((0+1)/(tq+32))
    # = ln((tq+32)/(tp+32)); tq = 6 grams total, tp = 3 target grams
    want = round((math.log((6 + 32) / (3 + 32)) + 1e-9) * 1_000_000)
    assert max(set(table), key=table.count) == want

    out = dsir_select(docs, F.col("is_t"), k=99, n_buckets=32)
    assert all(r["selected"] for r in out.collect())


def test_semdedup_keeps_one_per_duplicate_direction(spark):
    """Two direction families with an in-family near-duplicate each:
    exactly one representative survives per τ-duplicate group, the
    outlier below τ survives on its own, dropped rows name a kept
    witness above τ, and the result is identical under repartitioning
    and re-runs. The independent invariant checker returns empty."""
    from semantic_ann_in_data_lake_spark.operators.checks import (
        semdedup_invariant_violations,
    )
    from semantic_ann_in_data_lake_spark.operators.semdedup import semdedup

    rows = [
        (1, [1.0, 0.0]),
        (2, [1.0, 0.05]),   # cos(1,2) ~ 0.99875 > tau
        (3, [0.9, 0.45]),   # cos to 1/2 ~ 0.894/0.916 < tau
        (10, [0.0, 1.0]),
        (11, [0.0, 2.0]),   # cos(10,11) = 1 > tau
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semdedup(emb, tau=0.95, nlist=2)
    got = {r["vec_id"]: r for r in out.collect()}
    assert len(got) == 5
    assert sum(1 for r in got.values() if r["kept"]) == 3
    # one of the (1, 2) pair kept, the other dropped naming it
    pair_kept = [i for i in (1, 2) if got[i]["kept"]]
    assert len(pair_kept) == 1
    dropped = got[3 - pair_kept[0]]
    assert dropped["dup_of"] == pair_kept[0] and dropped["dup_cos"] > 0.95
    assert got[3]["kept"]
    b_kept = [i for i in (10, 11) if got[i]["kept"]]
    assert len(b_kept) == 1
    assert semdedup_invariant_violations(out, emb, tau=0.95).count() == 0
    # deterministic under input partitioning
    again = {
        r["vec_id"]: (r["kept"], r["dup_of"])
        for r in semdedup(emb.repartition(5), tau=0.95, nlist=2).collect()
    }
    assert again == {i: (r["kept"], r["dup_of"]) for i, r in got.items()}


@pytest.mark.slow  # >20s; default run budget (VERDICT r11 item 1)
def test_semdedup_subsplit_caps_sweep_group_and_stays_consistent(spark):
    """An oversized cluster hash-subsplits: each sub-shard keeps its
    own representative (the documented cross-shard recall trade), and
    the invariant checker — which recomputes the content-addressed
    subsplit — still returns empty."""
    from semantic_ann_in_data_lake_spark.operators.checks import (
        semdedup_invariant_violations,
    )
    from semantic_ann_in_data_lake_spark.operators.semdedup import semdedup

    emb = spark.createDataFrame(
        [(i, [1.0, float(i) * 1e-4]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    out = semdedup(emb, tau=0.9, nlist=1, max_cluster_size=3)
    rows = out.collect()
    assert len(rows) == 8
    n_kept = sum(1 for r in rows if r["kept"])
    assert 2 <= n_kept <= 3  # ceil(8/3) = 3 sub-shards, >=1 kept each
    assert (
        semdedup_invariant_violations(
            out, emb, tau=0.9, max_cluster_size=3
        ).count()
        == 0
    )
    # without the subsplit the whole direction family collapses to one
    assert (
        sum(1 for r in semdedup(emb, tau=0.9, nlist=1).collect() if r["kept"])
        == 1
    )


def _winnow_ref(text, k=8, w=4):
    """Independent driver-side reference of the winnowing spec
    (Karp-Rabin polynomial over char codes, base 131 mod 2^40)."""
    import re

    M = 1 << 40
    n = re.sub(r"\s+", " ", text).strip().lower()
    keys = []
    for i in range(1, max(len(n) - k + 1, 0) + 1):
        gram = n[i - 1 : i - 1 + k]
        h = sum(
            ord(ch) * pow(131, j, M) % M for j, ch in enumerate(gram)
        ) % M
        keys.append(h * (1 << 20) + ((1 << 20) - 1 - i))
    if not keys:
        return set()
    sel = {
        min(keys[j : j + w])
        for j in range(max(len(keys) - w + 1, 1))
    }
    return {
        ((1 << 20) - 1 - (key % (1 << 20)), key >> 20) for key in sel
    }


def test_winnow_kernel_equals_expression_formulation(spark, sf_dir):
    """The numpy fingerprint kernel (round-11 optimization) is
    bit-identical to the pure-expression twin — same packed keys, same
    rightmost-min tie-break — on the fixture corpus and on edge docs
    (shorter than k, shorter than w grams, empty, NULL, non-ASCII,
    non-BMP/astral — where a utf-16 decode would split surrogate
    pairs — and all-repeated chars)."""
    import semantic_ann_in_data_lake_spark.operators.winnow as W

    fixture = spark.read.parquet(f"{sf_dir}/documents.parquet")
    edge = spark.createDataFrame(
        [
            (1, "abcdefgh"),
            (2, "ab"),
            (3, ""),
            (4, None),
            (5, "日本語のテキスト — ü ø"),
            (6, "aaaaaaaaaaaa"),
            (7, "emoji \U0001F600\U0001F680 inside and \U0001F9E0 text"),
            (8, "\U0001F600\U0001F601\U0001F602\U0001F603\U0001F604"),
        ],
        ["doc_id", "text"],
    )
    for docs in (fixture, edge):
        for (k, w) in ((8, 4), (3, 2)):
            got = sorted(
                map(tuple, W.winnow_fingerprints(docs, k=k, w=w).collect())
            )
            want = sorted(
                map(
                    tuple,
                    W._winnow_fingerprints_hof(docs, k=k, w=w).collect(),
                )
            )
            assert got == want, f"k={k} w={w}"


def test_winnow_fingerprints_match_reference_and_guarantee(spark):
    """Spark fingerprints equal the independent reference exactly
    (packing, rightmost-min tie-break, degenerate short-doc cases),
    and the winnowing guarantee holds: docs sharing a verbatim
    w+k-1 = 11-char run share a fingerprint."""
    from semantic_ann_in_data_lake_spark.operators.winnow import (
        winnow_fingerprints,
        winnow_overlap_pairs,
    )

    texts = {
        1: "the quick brown fox jumps over the lazy dog",
        2: "a   Quick BROWN fox jumps high above everything else",
        3: "short",            # < k: no fingerprints
        4: "ninechars",        # exactly k+1 grams? len 9 -> 2 grams < w
        5: "xyz " * 12,        # periodic text: tie-break exercised
    }
    docs = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    got = {}
    for r in winnow_fingerprints(docs, k=8, w=4).collect():
        got.setdefault(r["doc_id"], set()).add((r["pos"], r["fp"]))
    for d, t in texts.items():
        assert got.get(d, set()) == _winnow_ref(t), d
    # guarantee: docs 1 and 2 share "brown fox jumps" (>= 11 chars)
    shared_fps = {fp for _, fp in got[1]} & {fp for _, fp in got[2]}
    assert shared_fps
    pairs = {
        (r["doc_id_a"], r["doc_id_b"]): r["n_shared"]
        for r in winnow_overlap_pairs(
            docs, k=8, w=4, min_shared=1, max_df=10
        ).collect()
    }
    assert (1, 2) in pairs


def test_sorted_neighborhood_pairs_exact_window_semantics(spark):
    """The blocked pair set equals EXACTLY {(a,b): 0 < rank_b - rank_a
    < window} over the global sort order — including pairs straddling
    rank-bucket boundaries — and a window of 2 yields adjacent pairs
    only."""
    from semantic_ann_in_data_lake_spark.operators.linkage import (
        sorted_neighborhood_pairs,
    )

    rows = [(i, f"k{i % 7}") for i in range(20)]  # ties -> id tie-break
    df = spark.createDataFrame(rows, "uid long, key string")
    order = sorted(rows, key=lambda r: (r[1], r[0]))
    rank = {uid: i + 1 for i, (uid, _) in enumerate(order)}
    for w in (2, 4):
        want = {
            (a, b)
            for a in rank
            for b in rank
            if 0 < rank[b] - rank[a] < w
        }
        got = {
            (r["uid_a"], r["uid_b"])
            for r in sorted_neighborhood_pairs(
                df, ["key"], "uid", window=w
            ).collect()
        }
        assert got == want, w


def test_fs_scores_and_u_estimate(spark):
    """u = sum c(c-1) / n(n-1) exactly; agreeing fields add log(m/u),
    disagreeing subtract into negative scores; the all-distinct
    degenerate field clamps u instead of producing infinities."""
    import math

    from pyspark.sql import functions as F

    from semantic_ann_in_data_lake_spark.operators.linkage import (
        estimate_u_counts,
        fs_scores,
    )

    df = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "y"), (4, None)], "uid long, v string"
    )
    s, n = estimate_u_counts(df, "v")
    assert (s, n) == (2, 4)  # only the "x" pair agrees: 2*1

    pairs = spark.createDataFrame(
        [(1, 2, True), (1, 3, False)], "a long, b long, agree boolean"
    )
    out = {
        (r["a"], r["b"]): r["fs_score"]
        for r in fs_scores(
            pairs, [(F.col("agree"), 0.9, (2, 4))]
        ).collect()
    }
    u = 2 / 12
    assert abs(out[(1, 2)] - math.log(0.9 / u)) < 1e-3
    assert abs(out[(1, 3)] - math.log(0.1 / (1 - u))) < 1e-3
    # degenerate: all values distinct -> u clamps to 1/(n(n-1))
    out2 = fs_scores(pairs, [(F.col("agree"), 0.9, (0, 4))]).collect()
    assert all(abs(r["fs_score"]) < 100 for r in out2)
    # m outside (0,1) must raise, not silently produce -inf/NaN weights
    import pytest as _pytest

    for bad_m in (0.0, 1.0, -0.2, 1.5):
        with _pytest.raises(ValueError, match="match probability"):
            fs_scores(pairs, [(F.col("agree"), bad_m, (2, 4))])


def test_kcenter_coreset_matches_bruteforce_reference(spark):
    """The selected centers equal an independent brute-force greedy
    farthest-first traversal (seed = min id, ties by ascending id),
    radii match recomputed distances and are non-increasing, k beyond
    the corpus truncates, and the invariant checker returns empty."""
    import math

    from semantic_ann_in_data_lake_spark.operators.coreset import (
        kcenter_coreset,
        kcenter_invariant_violations,
    )

    pts = {
        1: [0.0, 0.0],
        2: [0.1, 0.0],
        3: [10.0, 0.0],
        4: [0.0, 8.0],
        5: [10.0, 8.0],
        6: [5.0, 4.0],
    }
    emb = spark.createDataFrame(
        list(pts.items()), "vec_id long, embedding array<double>"
    )

    def ref(k):
        centers = [min(pts)]
        radii = [0.0]
        while len(centers) < k and len(centers) < len(pts):
            best = None
            for vid, v in pts.items():
                if vid in centers:
                    continue
                d = min(
                    math.dist(v, pts[c]) for c in centers
                )
                key = (-d, vid)
                if best is None or key < best[0]:
                    best = (key, vid, d)
            centers.append(best[1])
            radii.append(best[2])
        return list(zip(range(1, len(centers) + 1), centers, radii))

    for k in (1, 3, 10):
        got = sorted(
            (r["center_rank"], r["vec_id"], r["radius"])
            for r in kcenter_coreset(emb, k=k).collect()
        )
        want = ref(k)
        assert [(a, b) for a, b, _ in got] == [(a, b) for a, b, _ in want], k
        assert all(
            abs(g[2] - w[2]) < 1e-9 for g, w in zip(got, want)
        ), k
    out = kcenter_coreset(emb, k=4)
    assert kcenter_invariant_violations(out, emb).count() == 0
    # radii non-increasing past the seed
    radii = [
        r["radius"]
        for r in out.orderBy("center_rank").collect()
    ][1:]
    assert all(a >= b - 1e-12 for a, b in zip(radii, radii[1:]))


def test_char_entropy_hand_cases(spark):
    """entropy('aaaa')=0; entropy('ab')=1 bit with ratio 1; empty doc
    reports zeros; 'abab' == 'ab' distribution-wise."""
    from semantic_ann_in_data_lake_spark.operators.textstats import (
        char_entropy,
    )

    docs = spark.createDataFrame(
        [(1, "aaaa"), (2, "ab"), (3, ""), (4, "abab")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in char_entropy(docs).collect()}
    assert got[1]["char_entropy"] == 0.0 and got[1]["n_distinct_chars"] == 1
    assert abs(got[2]["char_entropy"] - 1.0) < 1e-6
    assert abs(got[2]["entropy_ratio"] - 1.0) < 1e-6
    assert got[3]["n_chars"] == 0 and got[3]["char_entropy"] == 0.0
    assert got[3]["entropy_ratio"] == 0.0
    assert abs(got[4]["char_entropy"] - 1.0) < 1e-6


def test_curation_funnel_monotone_and_complete(spark, sf_dir):
    """The funnel reports exactly 5 stages, each a subset of the
    previous (docs and tokens non-increasing), starting from the full
    corpus; every count is non-negative."""
    from semantic_ann_in_data_lake_spark.plans.registry import REGISTRY

    fn, _ = REGISTRY["curation_funnel_docs"]
    rows = sorted(
        (r["stage_rank"], r["stage"], r["n_docs"], r["n_tokens"])
        for r in fn(spark, sf_dir).collect()
    )
    assert [r[1] for r in rows] == [
        "ingest", "lang_en", "quality", "exact_dedup", "entropy_band"
    ]
    n_corpus = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert rows[0][2] == n_corpus
    for (_, _, d0, t0), (_, _, d1, t1) in zip(rows, rows[1:]):
        assert 0 <= d1 <= d0 and 0 <= t1 <= t0


def test_semdedup_empty_input_and_winnow_overflow_guard(spark):
    """Edge hardening: semdedup of an empty frame returns an empty
    result with the full schema (the centroid fit would otherwise
    throw on a zero-row sample); a winnow doc past the 2^20-char
    position-packing capacity fails LOUDLY instead of silently
    wrapping the tie-break."""
    import pytest

    from semantic_ann_in_data_lake_spark.operators.semdedup import semdedup
    from semantic_ann_in_data_lake_spark.operators.winnow import (
        winnow_fingerprints,
    )

    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<double>"
    )
    out = semdedup(empty, tau=0.9)
    assert out.count() == 0
    assert set(out.columns) == {
        "vec_id", "cluster", "centroid_cos", "kept", "dup_of", "dup_cos"
    }

    big = spark.createDataFrame(
        [(1, "x" * ((1 << 20) + 16))], "doc_id long, text string"
    )
    with pytest.raises(Exception, match="winnow: document exceeds"):
        winnow_fingerprints(big).count()


def test_bm25_search_hand_case(spark):
    """BM25 ranks the document containing all query terms above a
    partial match; idf kills ubiquitous terms; exactly top-k rows per
    query with consecutive ranks."""
    import math

    from semantic_ann_in_data_lake_spark.operators.textstats import (
        bm25_search,
    )

    docs = spark.createDataFrame(
        [
            (1, "apple banana cherry"),
            (2, "apple banana banana"),
            (3, "apple zebra yak"),
            (4, "walrus zebra yak"),
        ],
        "doc_id long, text string",
    )
    queries = spark.createDataFrame(
        [(100, "banana cherry")], "query_id long, query_text string"
    )
    got = {
        r["doc_id"]: (r["score"], r["rank"])
        for r in bm25_search(docs, queries, k=3).collect()
    }
    # doc 1 matches both terms, doc 2 only banana (higher tf but no
    # cherry); docs 3/4 match nothing
    assert set(got) == {1, 2}
    assert got[1][1] == 1 and got[2][1] == 2
    assert got[1][0] > got[2][0] > 0
    # independent recompute of doc 1's score (avgdl = 3, dl = 3)
    def idf(df, n=4):
        return math.log(1 + (n - df + 0.5) / (df + 0.5))

    def term(tf, df):
        c = idf(df) * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * 1.0))
        return round((c + 1e-9) * 1_000_000)

    want1 = round((term(1, 2) + term(1, 1)) / 1_000_000 + 1e-9, 4)
    assert abs(got[1][0] - want1) < 1e-9


def test_containment_join_directional_hand_case(spark):
    """Containment is DIRECTIONAL: the short doc embedded verbatim in
    the long one pairs as (contained=short, container=long) at 1.0,
    the reverse direction stays below tau; unrelated docs never pair;
    the prefix-filtered plan equals brute force on this corpus."""
    from semantic_ann_in_data_lake_spark.operators.setjoin import (
        containment_prefix_join,
    )

    docs = spark.createDataFrame(
        [
            (1, "one two three four five"),
            (2, "zero one two three four five six seven eight nine ten"),
            (3, "alpha beta gamma delta epsilon"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r["id_contained"], r["id_container"]): r["containment"]
        for r in containment_prefix_join(docs, threshold=0.8).collect()
    }
    assert (1, 2) in got and got[(1, 2)] == 1.0
    assert (2, 1) not in got
    assert all(3 not in pair for pair in got)


def test_mixed_language_docs_flags_code_switching(spark, sf_dir):
    """A doc whose chunks split across languages is flagged mixed with
    the right dominant share; monolingual docs are not; every non-empty
    doc appears exactly once."""
    from semantic_ann_in_data_lake_spark.plans.registry import REGISTRY

    fn, _ = REGISTRY["mixed_language_docs"]
    out = fn(spark, sf_dir)
    rows = {r["doc_id"]: r for r in out.collect()}
    n_docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where("length(trim(text)) > 0")
        .count()
    )
    assert len(rows) == n_docs
    for r in rows.values():
        assert 0.0 < r["dominant_share"] <= 1.0
        assert r["is_mixed"] == (r["dominant_share"] < 0.8)


def test_zipf_and_diversity_hand_cases(spark):
    """A perfectly repetitive source collapses distinct-n toward 0 and
    its Zipf fit degenerates sanely; a diverse source scores distinct-1
    = 1.0; the Zipf slope of an exact power-law frequency table is the
    planted exponent."""
    import math

    from semantic_ann_in_data_lake_spark.plans.registry import REGISTRY

    div_fn, _ = REGISTRY["ngram_diversity_by_source"]
    zipf_fn, _ = REGISTRY["zipf_slope_by_source"]

    import tempfile

    # planted corpus: src_rep repeats one token; src_div all-unique;
    # src_zipf realizes freq(rank r) = round(64 / r) for r=1..8
    rows = [(1, "aa " * 40, "en", "src_rep", 0)]
    rows.append((2, " ".join(f"w{i}" for i in range(30)), "en", "src_div", 0))
    toks = []
    for r in range(1, 9):
        toks += [f"z{r}"] * round(64 / r)
    rows.append((3, " ".join(toks), "en", "src_zipf", 0))
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        ).write.parquet(f"{td}/documents.parquet")
        div = {r["source"]: r for r in div_fn(spark, td).collect()}
        zipf = {r["source"]: r for r in zipf_fn(spark, td).collect()}
    assert div["src_rep"]["distinct_1"] == round(1 / 40 + 1e-9, 6)
    assert div["src_rep"]["distinct_2"] == round(1 / 39 + 1e-9, 6)
    assert div["src_div"]["distinct_1"] == 1.0
    # least-squares on the planted table, recomputed independently
    pts = [
        (math.log(r), math.log(round(64 / r))) for r in range(1, 9)
    ]
    n = len(pts)
    sx = sum(round((x + 1e-9) * 1e4) for x, _ in pts)
    sy = sum(round((y + 1e-9) * 1e4) for _, y in pts)
    sxy = sum(
        round((x + 1e-9) * 1e4) * round((y + 1e-9) * 1e4) for x, y in pts
    )
    sxx = sum(round((x + 1e-9) * 1e4) ** 2 for x, _ in pts)
    want = round((n * sxy - sx * sy) / (n * sxx - sx * sx) + 1e-9, 4)
    assert zipf["src_zipf"]["zipf_slope"] == want
    assert -1.2 < want < -0.8  # the planted ~1/r law
    # src_rep has a single term -> filtered by the n >= 2 guard
    assert "src_rep" not in zipf


def test_curation_funnel_each_stage_drops_its_victim(spark):
    """A planted five-doc corpus where every stage removes exactly one
    known document: zh doc at lang_en, short en doc at quality, exact
    duplicate at exact_dedup, low-char-entropy en doc at entropy_band;
    the clean doc survives all five stages."""
    import tempfile

    from semantic_ann_in_data_lake_spark.plans.registry import REGISTRY

    good = (
        "the cat sat on a mat and then the dog ran to a tree while "
        "birds sang about the warm sun over green hills today"
    )
    ent_fail = (
        "the of qx wv zj kf bm pd gn ry cs lt hu i1 o2 e3 a4 u5 y6 "
        "w7 r8 t9 p0 sd fg"
    )
    rows = [
        (1, good, "en", "s", 0),
        (2, "的 是 了 在 我 有 " * 5, "zh", "s", 0),       # lang_en drop
        (3, "the cat sat on a mat", "en", "s", 0),          # quality drop
        (4, good, "en", "s", 0),                            # dedup drop
        (5, ent_fail, "en", "s", 0),                        # entropy drop
    ]
    fn, _ = REGISTRY["curation_funnel_docs"]
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string,"
            " n_chars long",
        ).write.parquet(f"{td}/documents.parquet")
        got = {
            r["stage"]: r["n_docs"] for r in fn(spark, td).collect()
        }
    assert got == {
        "ingest": 5,
        "lang_en": 4,
        "quality": 3,
        "exact_dedup": 2,
        "entropy_band": 1,
    }


def test_domain_extraction_blocklist_and_cap(spark):
    """registrable_domain handles plain TLDs, multi-label public
    suffixes, and degenerate 1-label hosts; the blocklist anti-join
    drops exactly the listed domains; the per-domain cap keeps the n
    lowest order keys deterministically."""
    from pyspark.sql import functions as F

    from semantic_ann_in_data_lake_spark.operators import domains as D

    hosts = spark.createDataFrame(
        [
            ("www.example.com", "example.com"),
            ("a.b.shop.example.co.uk", "example.co.uk"),
            ("example.co.jp", "example.co.jp"),
            ("example.org", "example.org"),
            ("localhost", "localhost"),
            # a host that IS a public suffix has no registrable domain
            ("co.uk", None),
            ("com.au", None),
        ],
        "host string, want string",
    )
    bad = hosts.select(
        "host", "want", D.registrable_domain("host").alias("got")
    ).filter("got IS DISTINCT FROM want")
    assert bad.count() == 0, bad.collect()

    # the suffix list is injectable (deployments load the full PSL);
    # longest match wins, and deeper suffixes widen the keep count
    psl = ("io", "github.io")
    inj = spark.createDataFrame(
        [
            ("user.github.io", "user.github.io"),
            ("a.user.github.io", "user.github.io"),
            ("github.io", None),
            ("plain.example.com", "example.com"),
        ],
        "host string, want string",
    )
    bad = inj.select(
        "host", "want",
        D.registrable_domain("host", suffixes=psl).alias("got"),
    ).filter("got IS DISTINCT FROM want")
    assert bad.count() == 0, bad.collect()

    rows = spark.createDataFrame(
        [(i, f"d{i % 3}.com") for i in range(12)],
        "doc_id long, domain string",
    )
    kept = D.domain_blocklist_filter(rows, ["d0.com"])
    assert kept.filter("domain = 'd0.com'").count() == 0
    assert kept.count() == 8

    capped = D.cap_per_domain(rows, n=2)
    got = sorted(
        (r["domain"], r["doc_id"]) for r in capped.collect()
    )
    # lowest two doc_ids per domain survive
    assert got == [
        ("d0.com", 0), ("d0.com", 3),
        ("d1.com", 1), ("d1.com", 4),
        ("d2.com", 2), ("d2.com", 5),
    ]

    # synthesized urls parse back to the domain they were built from
    docs = spark.createDataFrame(
        [(1, "x", "en", "src10", 1), (2, "y", "en", "src4", 1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    u = D.synthesize_url(docs).select(
        "source",
        D.registrable_domain(D.url_host("url")).alias("domain"),
    )
    got = {r["source"]: r["domain"] for r in u.collect()}
    assert got == {"src10": "src10.co.uk", "src4": "src4.com"}


def test_psl_full_semantics_wildcard_and_exception(spark):
    """registrable_domain_psl implements the full publicsuffix.org
    algorithm — wildcard (*.ck) and exception (!www.ck) rules, the
    implicit '*' default, longest-match-wins — against the spec's own
    checkPublicSuffix-style vectors. parse_psl reads the real file
    format (comments, sections, trailing junk)."""
    from semantic_ann_in_data_lake_spark.operators import domains as D

    psl_text = """
// ===BEGIN ICANN DOMAINS===
com
uk
co.uk
jp
io
github.io
*.ck
!www.ck
*.kobe.jp
*.compute.amazonaws.com
// ===END ICANN DOMAINS===
"""
    rules = D.parse_psl(psl_text)
    assert ("ck", "wildcard") in rules and ("www.ck", "exception") in rules
    assert ("com", "plain") in rules and len(rules) == 10

    vectors = [
        # (host, expected registrable domain) — publicsuffix.org style
        ("com", None),
        ("example.com", "example.com"),
        ("WWW.example.COM", "example.com"),
        ("co.uk", None),
        ("example.co.uk", "example.co.uk"),
        ("a.b.example.co.uk", "example.co.uk"),
        ("ck", None),
        ("test.ck", None),            # *.ck makes test.ck a public suffix
        ("b.test.ck", "b.test.ck"),
        ("a.b.test.ck", "b.test.ck"),
        ("www.ck", "www.ck"),         # !www.ck exception
        ("www.www.ck", "www.ck"),
        ("github.io", None),
        ("user.github.io", "user.github.io"),
        ("a.user.github.io", "user.github.io"),
        ("xyzzy", None),              # implicit '*' rule: bare TLD
        ("example.xyzzy", "example.xyzzy"),
        # a rule matches only hosts with >= the rule's label count
        # (publicsuffix.org spec): '*.kobe.jp' must NOT match the host
        # 'kobe.jp' itself — the plain 'jp' rule prevails
        ("kobe.jp", "kobe.jp"),
        ("a.kobe.jp", None),          # *.kobe.jp: a.kobe.jp IS a suffix
        ("b.a.kobe.jp", "b.a.kobe.jp"),
        ("compute.amazonaws.com", "amazonaws.com"),
        ("x.compute.amazonaws.com", None),
        ("y.x.compute.amazonaws.com", "y.x.compute.amazonaws.com"),
        (None, None),
    ]
    df = spark.createDataFrame(vectors, "host string, want string")
    got = D.registrable_domain_psl(
        df, "host", rules=D.psl_rules_df(spark, psl_text)
    )
    bad = got.filter("domain IS DISTINCT FROM want")
    assert bad.count() == 0, bad.collect()
    # rules must be supplied explicitly — no stale bundled snapshot
    import pytest as _pytest

    with _pytest.raises(ValueError, match="psl_rules_df"):
        D.registrable_domain_psl(df, "host")


def test_canonicalize_url_rule_and_dedup_quarantine(spark):
    """canonicalize_url: scheme/host case, www strip, fragment drop,
    trailing-slash drop, tracking removal, param sort, NULL on
    malformed; url_dedup quarantines NULL canonicals instead of
    merging them into one group."""
    from semantic_ann_in_data_lake_spark.operators import domains as D

    cases = spark.createDataFrame(
        [
            ("HTTPS://WWW.Ex.com/p/7/?b=2&utm_source=x&a=1#frag",
             "https://ex.com/p/7?a=1&b=2"),
            ("https://ex.com/p/7?a=1&b=2",
             "https://ex.com/p/7?a=1&b=2"),
            # tracking-only query -> no '?' at all
            ("https://ex.com/p/7?gclid=z&fbclid=y", "https://ex.com/p/7"),
            # root path: trailing slash drops, bare host stands
            ("https://Ex.com/", "https://ex.com"),
            # www is stripped once, not recursively inside the name
            ("https://www.wwwish.com/x", "https://wwwish.com/x"),
            # malformed -> NULL (quarantine, don't merge)
            ("not a url", None),
            (None, None),
        ],
        "url string, want string",
    )
    bad = cases.select(
        "url", "want", D.canonicalize_url("url").alias("got")
    ).filter("got IS DISTINCT FROM want")
    assert bad.count() == 0, bad.collect()

    docs = spark.createDataFrame(
        [
            (1, "https://ex.com/p?x=1"),
            (2, "HTTPS://www.ex.com/p/?utm_source=s&x=1"),
            (3, "junk one"),
            (4, "junk two"),
        ],
        "doc_id long, url string",
    )
    groups = {
        r["canonical_url"]: (r["canonical_id"], r["n_copies"])
        for r in D.url_dedup(docs).collect()
    }
    assert groups == {"https://ex.com/p?x=1": (1, 2)}


def test_script_mix_multiscript_and_degenerate(spark):
    """script_mix on crafted multi-script strings: band fractions are
    exact, sum to 1 over non-whitespace chars, and NULL/punctuation
    documents degrade to zeros / pure-other — the cases the ASCII-only
    fixture corpus cannot exercise."""
    from semantic_ann_in_data_lake_spark.operators.textstats import (
        script_mix,
    )

    docs = spark.createDataFrame(
        [
            (1, "Hello world 123"),
            (2, "Привет мир"),
            (3, "こんにちは 世界 hello"),
            (4, None),
            (5, "!!! ??? ..."),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (
            r["n_chars"], r["latin_frac"], r["cyrillic_frac"],
            r["cjk_frac"], r["digit_frac"], r["other_frac"],
        )
        for r in script_mix(docs).collect()
    }
    assert got[1] == (13, 0.7692, 0.0, 0.0, 0.2308, 0.0)
    assert got[2] == (9, 0.0, 1.0, 0.0, 0.0, 0.0)
    assert got[3] == (12, 0.4167, 0.0, 0.5833, 0.0, 0.0)
    assert got[4] == (0, 0.0, 0.0, 0.0, 0.0, 0.0)
    assert got[5] == (9, 0.0, 0.0, 0.0, 0.0, 1.0)
    for v in got.values():  # fractions partition the char set
        if v[0] > 0:
            assert abs(sum(v[1:]) - 1.0) < 5e-4


def test_gopher_rules_line_and_word_rules(spark):
    """Each Gopher rule trips on a crafted violator and passes on a
    clean document — including the line-based rules the synthetic
    corpus cannot exercise (bullets, ellipsis endings)."""
    from semantic_ann_in_data_lake_spark.operators.textstats import (
        gopher_rules,
    )

    good = (
        "the quick brown fox jumps over that lazy dog and we have "
        "plenty of normal words to be sure with everything fine here"
    )
    bullets = "\n".join(f"- item {i} of the list to be" for i in range(10))
    ellipsis = "\n".join(
        f"the line {i} of text trails off and that..." for i in range(10)
    )
    symbols = "the # of # tags # here # is # way # too # high # to be"
    nonalpha = "the 1 2 3 4 5 6 7 8 9 10 11 12 13 14 15 16 17 18 to be"
    short = "a b c d e f g h i j the to be of and k l m n o p q r s"
    nostop = "quick brown foxes jump over lazy dogs frequently indeed"
    rows = [
        (1, good), (2, bullets), (3, ellipsis), (4, symbols),
        (5, nonalpha), (6, short), (7, nostop), (8, None), (9, ""),
    ]
    got = {
        r["doc_id"]: r
        for r in gopher_rules(
            spark.createDataFrame(rows, "doc_id long, text string")
        ).collect()
    }
    assert got[1]["keep"] is True
    assert got[2]["bullet_frac"] == 1.0 and got[2]["keep"] is False
    assert got[3]["ellipsis_frac"] == 1.0 and got[3]["keep"] is False
    assert got[4]["symbol_ratio"] > 0.1 and got[4]["keep"] is False
    assert got[5]["alpha_frac"] < 0.8 and got[5]["keep"] is False
    assert got[6]["mean_word_len"] < 3.0 and got[6]["keep"] is False
    assert got[7]["n_stop_kinds"] < 2 and got[7]["keep"] is False
    for empty in (8, 9):
        assert got[empty]["keep"] is False
        assert got[empty]["n_words"] == 0


class TestCurriculumOrder:
    """operators/curriculum.py — interleave + stratification
    invariants the gate's hash can't explain on its own."""

    def _order(self, spark, rows, n_buckets=3, **kw):
        from semantic_ann_in_data_lake_spark.operators.curriculum import (
            curriculum_order,
        )

        df = spark.createDataFrame(rows, "doc_id bigint, score bigint")
        return curriculum_order(
            df, "score", id_col="doc_id", n_buckets=n_buckets, **kw
        ).collect()

    def test_interleave_and_uniqueness(self, spark):
        rows = [(i, i * 10) for i in range(1, 13)]  # 12 docs, 3 buckets
        got = self._order(spark, rows)
        idx = sorted(r["order_idx"] for r in got)
        assert idx == list(range(12))  # dense, unique, gapless
        # round-robin: order positions 0..2 are buckets 1,2,3
        by_idx = {r["order_idx"]: r["bucket"] for r in got}
        assert [by_idx[i] for i in range(3)] == [1, 2, 3]
        # stratification: bucket 1 holds the 4 lowest scores
        b1 = {r["id"] for r in got if r["bucket"] == 1}
        assert b1 == {1, 2, 3, 4}

    def test_descending_flips_strata(self, spark):
        rows = [(i, i * 10) for i in range(1, 13)]
        got = self._order(spark, rows, descending=True)
        b1 = {r["id"] for r in got if r["bucket"] == 1}
        assert b1 == {9, 10, 11, 12}  # hardest first

    def test_within_bucket_order_is_seeded_shuffle(self, spark):
        rows = [(i, 0) for i in range(1, 10)]  # all tie on score
        a = self._order(spark, rows, seed=1)
        b = self._order(spark, rows, seed=1)
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))
        c = self._order(spark, rows, seed=2)
        assert {(r["id"], r["order_idx"]) for r in a} != {
            (r["id"], r["order_idx"]) for r in c
        }


class TestUnimaxAllocation:
    """operators/mixing_unimax.py — waterfill parity with a direct
    python model across budget regimes."""

    def _alloc(self, spark, sizes, budget, E=4):
        from semantic_ann_in_data_lake_spark.operators.mixing_unimax import (
            unimax_allocation,
        )

        df = spark.createDataFrame(
            [(s, 1, n) for s, n in sizes.items()],
            "source string, n_docs bigint, n_tokens bigint",
        )
        return {
            r["source"]: (r["alloc_tokens"], r["epochs"])
            for r in unimax_allocation(df, epoch_cap=E, budget=budget).collect()
        }

    @staticmethod
    def _model(sizes, budget, E=4):
        caps = sorted((n * E, s) for s, n in sizes.items())
        m = len(caps)
        alloc, remaining, rem_n = {}, budget, m
        tau = None
        prefix = 0
        for j, (cap, s) in enumerate(caps):
            if budget - prefix <= cap * (m - j):
                tau = (budget - prefix) // (m - j)
                break
            prefix += cap
        for cap, s in caps:
            alloc[s] = cap if tau is None else min(cap, tau)
        return alloc

    def test_waterfill_engages(self, spark):
        sizes = {"a": 10, "b": 100, "c": 1000}
        budget = 2000  # caps: 40, 400, 4000 — a,b fill; c gets the rest
        got = self._alloc(spark, sizes, budget)
        want = self._model(sizes, budget)
        assert {s: g[0] for s, g in got.items()} == want
        assert got["a"][0] == 40 and got["b"][0] == 400
        assert got["c"][0] == 2000 - 440
        assert got["a"][1] == 4.0  # epoch cap reached

    def test_budget_exceeds_capacity(self, spark):
        sizes = {"a": 10, "b": 20}
        got = self._alloc(spark, sizes, budget=10_000)
        assert {s: g[0] for s, g in got.items()} == {"a": 40, "b": 80}

    def test_tiny_budget_splits_uniformly(self, spark):
        sizes = {"a": 1000, "b": 1000, "c": 1000}
        got = self._alloc(spark, sizes, budget=300)
        assert {g[0] for g in got.values()} == {100}


def test_exact_knn_superset_kernel_bit_identical(spark, sf_dir, monkeypatch):
    """The exact-tier superset kernel == the declarative crossJoin +
    fold (the admission gate patched to decline), bit-identically — on
    the fixture corpus, a duplicate-heavy corpus (mass distance ties at
    the k-th boundary, the superset's stress case), a rounding-boundary
    grid corpus, and a cross-frame (queries != candidates) call."""
    import numpy as np

    from semantic_ann_in_data_lake_spark.operators import pairscore
    from semantic_ann_in_data_lake_spark.operators.knn import knn_join
    from semantic_ann_in_data_lake_spark.sources.readers import read_table

    emb = read_table(spark, sf_dir, "embeddings")

    rng = np.random.default_rng(11)
    base = rng.normal(size=(30, 8))
    dup_rows = [
        (i * 100 + j, [float(x) for x in base[i]])
        for i in range(30)
        for j in range(12)
    ]
    dups = spark.createDataFrame(
        dup_rows, "vec_id bigint, embedding array<double>"
    )
    # distances land ON the 6-dp rounding grid: boundary ties between
    # the rounded window order and the unrounded kernel threshold
    grid_rows = [
        (i, [i * 5e-4, 0.0]) for i in range(40)
    ]
    grid = spark.createDataFrame(
        grid_rows, "vec_id bigint, embedding array<double>"
    )

    def run(df, k, **kw):
        return sorted(
            map(tuple, knn_join(df, df, k=k, strategy="exact", **kw).collect())
        )

    for df, k in ((emb, 5), (dups, 5), (grid, 3)):
        got = run(df, k)
        with monkeypatch.context() as mp:
            mp.setattr(pairscore, "admit_matrices", lambda *a: None)
            want = run(df, k)
        assert got == want

    # cross-frame (two matrices) + exclude_self=False
    emb2 = read_table(spark, sf_dir, "embeddings")
    got = sorted(
        map(
            tuple,
            knn_join(
                emb, emb2, k=4, strategy="exact", exclude_self=False
            ).collect(),
        )
    )
    with monkeypatch.context() as mp:
        mp.setattr(pairscore, "admit_matrices", lambda *a: None)
        want = sorted(
            map(
                tuple,
                knn_join(
                    emb, emb2, k=4, strategy="exact", exclude_self=False
                ).collect(),
            )
        )
    assert got == want
