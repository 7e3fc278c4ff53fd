"""Streaming extensions: the streamed rollup must equal its batch twin,
and incremental embedding must be idempotent under re-delivery."""

from __future__ import annotations

import shutil

import pytest


def _stage_dir(src_parquet: str, tmp_path, name: str) -> str:
    """Spark's file stream source requires a directory input."""
    d = tmp_path / name
    d.mkdir()
    shutil.copy(src_parquet, d / "part-000.parquet")
    return str(d)


def test_stream_rollup_equals_batch(spark, sf_dir, tmp_path):
    from semantic_ann_in_data_lake_spark.plans.registry import events_hourly_rollup
    from semantic_ann_in_data_lake_spark.streaming.profile_stream import (
        events_stream,
        hourly_rollup_stream,
        run_available_now,
    )

    batch = events_hourly_rollup(spark, sf_dir)
    events_dir = _stage_dir(f"{sf_dir}/events.parquet", tmp_path, "events_in")
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = events_stream(spark, events_dir, raw_schema)
    assert stream.isStreaming
    rollup = hourly_rollup_stream(stream)
    run_available_now(rollup, table_name="rollup_test")
    got = spark.table("rollup_test").collect()
    want = batch.collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_incremental_embed_idempotent(spark, sf_dir, tmp_path):
    from semantic_ann_in_data_lake_spark.streaming.profile_stream import (
        incremental_embed_foreach_batch,
    )

    sink = str(tmp_path / "emb_sink")
    docs_dir = _stage_dir(f"{sf_dir}/documents.parquet", tmp_path, "docs_in")
    docs_schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    for i in range(2):  # second pass re-delivers the same files
        stream = spark.readStream.schema(docs_schema).parquet(docs_dir)
        writer = incremental_embed_foreach_batch(stream, sink, dim=4)
        q = writer.option("checkpointLocation", str(tmp_path / f"ckpt_{i}")).start()
        q.awaitTermination()
    out = spark.read.parquet(sink)
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert out.count() == n_docs  # no duplicates from the second delivery
    assert out.select("content_hash").distinct().count() == n_docs


def test_sessionize_stream_equals_batch_closed_sessions(spark, sf_dir, tmp_path):
    """Single-delivery availableNow run: every session closed by an
    in-batch gap must match the batch twin; each user's final (still
    open) session stays in state awaiting event-time timeout."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from semantic_ann_in_data_lake_spark.functions.dates import epoch_us
    from semantic_ann_in_data_lake_spark.sources.readers import read_table
    from semantic_ann_in_data_lake_spark.streaming.sessionize import (
        sessionize_batch,
        sessionize_stream,
    )

    events = read_table(spark, sf_dir, "events")
    batch = sessionize_batch(events, gap_minutes=30)
    # Emitted sessions = closed by an in-batch gap (every non-final
    # session) PLUS final sessions whose event-time timeout fired: the
    # post-data no-data batch advances the watermark to max_ts - 1min,
    # closing final sessions with end + 30min < that watermark.
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    w = Window.partitionBy("user_id").orderBy(F.col("session_end").desc())
    flagged = batch.withColumn("rn", F.row_number().over(w))
    closed = flagged.where(
        (F.col("rn") > 1)
        | (
            epoch_us(F.col("session_end")) + 31 * 60 * 1_000_000
            < epoch_us(F.lit(max_ts))
        )
    ).drop("rn")

    events_dir = _stage_dir(f"{sf_dir}/events.parquet", tmp_path, "sess_in")
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream_src = spark.readStream.schema(raw_schema).parquet(events_dir)
    from semantic_ann_in_data_lake_spark.streaming.profile_stream import (
        hourly_rollup_stream,  # noqa: F401  (ts-normalization helper lives there)
    )
    from pyspark.sql import functions as F2

    if dict(stream_src.dtypes).get("ts") == "bigint":
        stream_src = stream_src.withColumn(
            "ts", F2.timestamp_micros(F2.expr("ts div 1000"))
        )
    sess = sessionize_stream(stream_src, gap_minutes=30)
    q = (
        sess.writeStream.format("memory")
        .queryName("sessions_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("sessions_test").collect()
    want = closed.collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert len(got) > 0


def test_incremental_dedup_equals_batch_and_idempotent(spark, sf_dir, tmp_path):
    """Two-file stream (duplicates spanning the files, ids ordered by
    file) must reproduce the batch exact-dedup canonicalization, and a
    second run over the same input must add nothing."""
    from pyspark.sql import functions as F

    from semantic_ann_in_data_lake_spark.operators.dedup import exact_duplicates
    from semantic_ann_in_data_lake_spark.streaming.profile_stream import (
        incremental_dedup_foreach_batch,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    lo = docs.where(F.col("doc_id") < 250)
    hi = docs.where(F.col("doc_id") >= 250)
    in_dir = tmp_path / "docs_in"
    in_dir.mkdir()
    lo.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "_lo"))
    hi.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "_hi"))
    import glob
    import shutil

    # file names chosen so listing order == id order (first-arrival = min id)
    shutil.copy(glob.glob(str(tmp_path / "_lo" / "part-*.parquet"))[0], in_dir / "a.parquet")
    shutil.copy(glob.glob(str(tmp_path / "_hi" / "part-*.parquet"))[0], in_dir / "b.parquet")

    sink = str(tmp_path / "dedup_sink")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    q = incremental_dedup_foreach_batch(stream, sink).option(
        "checkpointLocation", str(tmp_path / "ckpt1")
    ).start()
    q.awaitTermination()

    got = {
        (r["text_hash"], r["canonical_id"])
        for r in spark.read.parquet(sink).collect()
    }
    want = {
        (r["text_hash"], r["canonical_id"])
        for r in exact_duplicates(docs).select("text_hash", "canonical_id").collect()
    }
    assert got == want

    # re-delivery: same input, fresh checkpoint -> no new rows
    stream2 = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    q2 = incremental_dedup_foreach_batch(stream2, sink).option(
        "checkpointLocation", str(tmp_path / "ckpt2")
    ).start()
    q2.awaitTermination()
    assert spark.read.parquet(sink).count() == len(want)


def test_incremental_neardup_equals_batch_lsh(spark, sf_dir, tmp_path):
    """Streamed MinHash-LSH over two file-batches must discover exactly
    the batch operator's candidate pair set (band keys are per-doc, so
    batch boundaries cannot change collisions), and a re-run must add
    nothing."""
    from pyspark.sql import functions as F

    from semantic_ann_in_data_lake_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from semantic_ann_in_data_lake_spark.streaming.profile_stream import (
        incremental_neardup_foreach_batch,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    import glob
    import shutil

    in_dir = tmp_path / "nd_in"
    in_dir.mkdir()
    docs.where(F.col("doc_id") < 250).coalesce(1).write.parquet(str(tmp_path / "_a"))
    docs.where(F.col("doc_id") >= 250).coalesce(1).write.parquet(str(tmp_path / "_b"))
    shutil.copy(glob.glob(str(tmp_path / "_a" / "part-*.parquet"))[0], in_dir / "a.parquet")
    shutil.copy(glob.glob(str(tmp_path / "_b" / "part-*.parquet"))[0], in_dir / "b.parquet")

    bands_sink = str(tmp_path / "bands")
    pairs_sink = str(tmp_path / "pairs")

    def run(ckpt):
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(in_dir))
        )
        q = incremental_neardup_foreach_batch(stream, bands_sink, pairs_sink).option(
            "checkpointLocation", str(tmp_path / ckpt)
        ).start()
        q.awaitTermination()

    run("ckpt1")
    got = {
        (r["id_a"], r["id_b"]) for r in spark.read.parquet(pairs_sink).collect()
    }
    want = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs(
            minhash_signatures(docs), bands=8, rows_per_band=2
        ).collect()
    }
    assert got == want and want  # non-empty at sf0.001

    run("ckpt2")  # re-delivery: same files, fresh checkpoint
    assert spark.read.parquet(pairs_sink).count() == len(want)


def test_dedup_stream_drops_redelivered_events(spark, sf_dir, tmp_path):
    """Native watermarked dedup: a doubled input (every event delivered
    twice) must come out exactly once per event_id."""
    import shutil

    from semantic_ann_in_data_lake_spark.streaming.profile_stream import dedup_stream

    in_dir = tmp_path / "ev_in"
    in_dir.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", in_dir / "a.parquet")
    shutil.copy(f"{sf_dir}/events.parquet", in_dir / "b.parquet")  # re-delivery

    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = spark.readStream.schema(raw_schema).parquet(str(in_dir))
    deduped = dedup_stream(stream)
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_stream_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("dedup_stream_test").select("event_id").collect()
    n_distinct = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert len(got) == n_distinct
    assert len({r["event_id"] for r in got}) == n_distinct


def test_stream_stream_interval_join_equals_batch(spark, sf_dir, tmp_path):
    """The watermarked stream-stream interval join must emit exactly the
    batch twin's pairs once all input is processed."""
    import shutil

    from pyspark.sql import functions as F

    from semantic_ann_in_data_lake_spark.plans.registry import (
        view_error_interval_join,
    )
    from semantic_ann_in_data_lake_spark.sources.readers import read_table
    from semantic_ann_in_data_lake_spark.streaming.profile_stream import (
        error_after_view_join_stream,
    )

    in_dir = tmp_path / "ev_in"
    in_dir.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", in_dir / "a.parquet")
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    raw = spark.readStream.schema(raw_schema).parquet(str(in_dir))
    # nanos-as-long ts -> timestamp, same as read_table does for batch
    ev = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000"))) if dict(
        raw.dtypes
    ).get("ts") == "bigint" else raw
    joined = error_after_view_join_stream(
        ev.where(F.col("event_type") == "view"),
        ev.where(F.col("event_type") == "error"),
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["view_event_id"], r["error_event_id"])
        for r in spark.table("ssj_test").collect()
    }
    want = {
        (r["view_event_id"], r["error_event_id"])
        for r in view_error_interval_join(spark, sf_dir).collect()
    }
    assert got == want and want


def test_incremental_rollup_equals_batch(spark, sf_dir, tmp_path):
    """The incrementally-maintained materialized rollup, fed the events
    in two file-batches, must equal the one-shot batch rollup."""
    from pyspark.sql import functions as F

    from semantic_ann_in_data_lake_spark.plans.registry import events_hourly_rollup
    from semantic_ann_in_data_lake_spark.sources.readers import read_table
    from semantic_ann_in_data_lake_spark.streaming.profile_stream import (
        incremental_rollup_foreach_batch,
    )

    ev = read_table(spark, sf_dir, "events")
    mid = ev.agg(F.expr("percentile(event_id, 0.5)")).collect()[0][0]
    in_dir = tmp_path / "ev_in"
    in_dir.mkdir()
    import glob
    import shutil

    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    raw.where(F.col("event_id") <= mid).coalesce(1).write.parquet(str(tmp_path / "_a"))
    raw.where(F.col("event_id") > mid).coalesce(1).write.parquet(str(tmp_path / "_b"))
    shutil.copy(glob.glob(str(tmp_path / "_a/part-*.parquet"))[0], in_dir / "a.parquet")
    shutil.copy(glob.glob(str(tmp_path / "_b/part-*.parquet"))[0], in_dir / "b.parquet")

    sink = str(tmp_path / "rollup_sink")
    stream = (
        spark.readStream.schema(raw.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    q = incremental_rollup_foreach_batch(stream, sink).option(
        "checkpointLocation", str(tmp_path / "ckpt")
    ).start()
    q.awaitTermination()

    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_cents"])
        for r in spark.read.parquet(sink).collect()
    }
    want = {
        (r["window_start"], r["event_type"]): (
            r["n_events"],
            int(round(r["sum_value"] * 100)),
        )
        for r in events_hourly_rollup(spark, sf_dir).collect()
    }
    assert got == want


def test_scd2_stream_equals_batch_closed_runs(spark, sf_dir, tmp_path):
    """Streaming SCD2 changelog: closed intervals emitted by the
    stateful stream equal the batch operator's valid_to-IS-NOT-NULL
    rows for single-delivery input (the open run stays in state)."""
    from pyspark.sql import functions as F

    from semantic_ann_in_data_lake_spark.operators.pairs import scd2_history
    from semantic_ann_in_data_lake_spark.sources.readers import read_table
    from semantic_ann_in_data_lake_spark.streaming.scd2_stream import (
        scd2_changelog_stream,
    )

    events = read_table(spark, sf_dir, "events")
    closed = scd2_history(
        events, "user_id", "event_type", "ts", "event_id"
    ).where(F.col("valid_to").isNotNull())

    events_dir = _stage_dir(f"{sf_dir}/events.parquet", tmp_path, "scd2_in")
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream_src = spark.readStream.schema(raw_schema).parquet(events_dir)
    if dict(stream_src.dtypes).get("ts") == "bigint":
        stream_src = stream_src.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    out = scd2_changelog_stream(stream_src)
    q = (
        out.writeStream.format("memory")
        .queryName("scd2_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "scd2_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("scd2_test").collect()
    want = closed.select(
        "user_id", "state", "valid_from", "valid_to", "version", "n_events"
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert len(got) > 0


def test_streaming_cms_merges_to_batch_sketch(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from semantic_ann_in_data_lake_spark.operators.sketches import cms_sketch
    from semantic_ann_in_data_lake_spark.streaming.profile_stream import (
        events_stream,
        incremental_cms_foreach_batch,
        merged_cms_sketch,
    )

    sink = str(tmp_path / "cms_sink")
    src = spark.read.parquet(f"{sf_dir}/events.parquet")
    raw_schema = src.schema
    # stage TWO input files so availableNow + maxFilesPerTrigger=1
    # yields two partial sketches — the sum-merge path, not the
    # single-partial trivial case
    events_dir = str(tmp_path / "cms_in")
    src.where(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(
        events_dir
    )
    src.where(F.col("event_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(events_dir)
    # bound the batch size so availableNow produces MULTIPLE batches —
    # the merge path, not the single-partial trivial case
    stream = spark.readStream.schema(raw_schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(events_dir)
    # lineage="static" matches cms_partial_write's default run_id so
    # the direct re-delivery writes below replace the STREAM's
    # partitions (same retry domain), as a same-lineage retry would
    q = incremental_cms_foreach_batch(
        stream, sink, key_col="user_id", lineage="static"
    )
    q.start().awaitTermination()

    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    want = {
        (r["depth"], r["bucket"]): r["cnt"]
        for r in cms_sketch(batch, "user_id").collect()
    }
    got = {
        (r["depth"], r["bucket"]): r["cnt"]
        for r in merged_cms_sketch(spark, sink).collect()
    }
    assert got == want

    # re-delivery idempotency: a retried batch re-invokes the same
    # foreachBatch body with the SAME batch_id — the partial sketch
    # must REPLACE its partition, not append. Re-deliver batch 0 with
    # half the data doubled to prove overwrite (append would inflate)
    from semantic_ann_in_data_lake_spark.streaming.profile_stream import (
        cms_partial_write,
    )

    half = src.where(F.col("event_id") % 2 == 0)
    cms_partial_write(half, 0, sink, "user_id")
    cms_partial_write(half, 0, sink, "user_id")  # retry of the retry
    # partition 0 now holds exactly one partial sketch of `half`;
    # merged = half + (whichever half batch 1 held). Re-writing batch 0
    # with its ORIGINAL content restores the full-data sketch.
    batch0_files = spark.read.parquet(sink).where(
        F.col("batch_id") == 0
    ).count()
    assert batch0_files <= 3 * 512  # one partial, not stacked appends
    # restore batch 0's true content (the stream wrote files in id
    # order: batch 0 was one of the two halves)
    for bid, pred in ((0, F.col("event_id") % 2 == 0),
                      (1, F.col("event_id") % 2 == 1)):
        cms_partial_write(src.where(pred), bid, sink, "user_id")
    got2 = {
        (r["depth"], r["bucket"]): r["cnt"]
        for r in merged_cms_sketch(spark, sink).collect()
    }
    assert got2 == want


def test_streaming_bins_merge_to_batch_and_score_psi(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from semantic_ann_in_data_lake_spark.operators.drift import (
        bin_counts, psi_from_counts,
    )
    from semantic_ann_in_data_lake_spark.streaming.profile_stream import (
        bins_partial_write,
        incremental_bins_foreach_batch,
        merged_bin_counts,
    )

    sink = str(tmp_path / "bins_sink")
    src = spark.read.parquet(f"{sf_dir}/events.parquet")
    events_dir = str(tmp_path / "bins_in")
    src.where(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(events_dir)
    src.where(F.col("event_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(events_dir)
    stream = spark.readStream.schema(src.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(events_dir)
    q = incremental_bins_foreach_batch(
        stream, sink, "value", lo=0.0, width=10.0, n_bins=20,
        lineage="static",
    )
    q.start().awaitTermination()

    want = sorted(
        map(tuple, bin_counts(src, "value", 0.0, 10.0, 20).collect())
    )
    got = sorted(map(tuple, merged_bin_counts(spark, sink).collect()))
    assert got == want

    # drift score of stream-vs-baseline equals the batch twin's score
    baseline = bin_counts(
        src.where(F.col("event_type") == "view"), "value", 0.0, 10.0, 20
    )
    s_psi = psi_from_counts(baseline, merged_bin_counts(spark, sink), 20)
    b_psi = psi_from_counts(baseline, bin_counts(src, "value", 0.0, 10.0, 20), 20)
    assert s_psi.collect() == b_psi.collect()

    # re-delivered batch REPLACES its partition (no double count)
    half = src.where(F.col("event_id") % 2 == 0)
    bins_partial_write(half, 0, sink, "value", 0.0, 10.0, 20)
    again = sorted(map(tuple, merged_bin_counts(spark, sink).collect()))
    assert again == want


def test_ewma_stream_equals_batch_fold(spark, sf_dir, tmp_path):
    """Stream (recursive, stateful) ≡ batch (windowed fold) at every
    event — bit-exact because halving is an exact scaling (module
    docstring); batch window set beyond the longest per-key series so
    truncation never differs."""
    from pyspark.sql import functions as F

    from semantic_ann_in_data_lake_spark.operators.timeseries import (
        ewma_truncated,
    )
    from semantic_ann_in_data_lake_spark.streaming.ewma_stream import (
        ewma_stream,
    )

    src = spark.read.parquet(f"{sf_dir}/events.parquet")
    # split by TIME (not id parity): the stream's cross-batch contract
    # drops events older than a key's last folded timestamp, so batch
    # boundaries must respect event time for stream == batch to hold
    from semantic_ann_in_data_lake_spark.functions.dates import epoch_us

    pivot_us = src.select(
        F.percentile(epoch_us("ts"), F.lit(0.5)).alias("p")
    ).collect()[0]["p"]
    events_dir = str(tmp_path / "ewma_in")
    early = src.where(epoch_us("ts") <= F.lit(int(pivot_us)))
    late = src.where(epoch_us("ts") > F.lit(int(pivot_us)))
    early.coalesce(1).write.parquet(events_dir)
    late.coalesce(1).write.mode("append").parquet(events_dir)

    stream = spark.readStream.schema(src.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(events_dir)
    sink = str(tmp_path / "ewma_out")
    (
        ewma_stream(stream)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", sink + "_ckpt")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    got = {
        r["event_id"]: (r["ewma"], r["n"])
        for r in spark.read.parquet(sink).collect()
    }
    from semantic_ann_in_data_lake_spark.sources.readers import read_table

    batch = ewma_truncated(
        read_table(spark, sf_dir, "events"), window=1_000_000
    )
    want = {r["event_id"]: r["ewma"] for r in batch.collect()}
    assert len(got) == len(want)
    mismatches = [
        (k, got[k][0], want[k]) for k in want if got[k][0] != want[k]
    ]
    assert mismatches == []


def test_incremental_rollup_retry_does_not_double_count(spark, sf_dir, tmp_path):
    """A re-executed micro-batch (write committed, checkpoint lost)
    must be a no-op: the (last_run, last_batch) watermark inside the
    touched partitions detects the SAME-LINEAGE replay."""
    from pyspark.sql import functions as F

    from semantic_ann_in_data_lake_spark.streaming.profile_stream import (
        incremental_rollup_foreach_batch,
    )

    src = spark.read.parquet(f"{sf_dir}/events.parquet")
    events_dir = str(tmp_path / "rr_in")
    src.coalesce(1).write.parquet(events_dir)
    sink = str(tmp_path / "rr_sink")
    stream = spark.readStream.schema(src.schema).parquet(events_dir)
    q = incremental_rollup_foreach_batch(stream, sink, lineage="L1").option(
        "checkpointLocation", str(tmp_path / "rr_ckpt")
    )
    q.start().awaitTermination()
    before = sorted(map(tuple,
        spark.read.parquet(sink)
        .select("window_start", "event_type", "n_events", "sum_cents")
        .collect()))
    # simulate the at-least-once replay: re-run batch 0's handler body
    # under the SAME lineage token (a fresh actual checkpoint re-sends
    # the file with the same batch content and batch_id=0 — exactly
    # what a write-committed/offset-lost restart of lineage L1 does)
    q2 = incremental_rollup_foreach_batch(
        spark.readStream.schema(src.schema).parquet(events_dir), sink,
        lineage="L1",
    ).option("checkpointLocation", str(tmp_path / "rr_ckpt2"))
    q2.start().awaitTermination()
    after = sorted(map(tuple,
        spark.read.parquet(sink)
        .select("window_start", "event_type", "n_events", "sum_cents")
        .collect()))
    assert after == before


def test_incremental_rollup_restarted_stream_keeps_new_data(
    spark, sf_dir, tmp_path
):
    """ADVICE r6 bug class, rollup sink: a RESTARTED stream's batch ids
    begin at 0 again, colliding with the prior lineage's logged ids. A
    bare-batch_id guard would skip the colliding batch and silently
    drop its NEW events; the lineage-scoped guard must fold them."""
    from pyspark.sql import functions as F

    from semantic_ann_in_data_lake_spark.plans.registry import (
        events_hourly_rollup,
    )
    from semantic_ann_in_data_lake_spark.streaming.profile_stream import (
        incremental_rollup_foreach_batch,
    )

    src = spark.read.parquet(f"{sf_dir}/events.parquet")
    mid = src.agg(F.expr("percentile(event_id, 0.5)")).collect()[0][0]
    sink = str(tmp_path / "rs_sink")

    # run 1 ingests the first half (its batch 0)
    d1 = str(tmp_path / "rs_in1")
    src.where(F.col("event_id") <= mid).coalesce(1).write.parquet(d1)
    incremental_rollup_foreach_batch(
        spark.readStream.schema(src.schema).parquet(d1), sink
    ).option("checkpointLocation", str(tmp_path / "rs_ck1")).start(
    ).awaitTermination()

    # run 2: fresh checkpoint, fresh input dir, default (new) lineage —
    # its batch 0 carries ONLY new events and must not be skipped
    d2 = str(tmp_path / "rs_in2")
    src.where(F.col("event_id") > mid).coalesce(1).write.parquet(d2)
    incremental_rollup_foreach_batch(
        spark.readStream.schema(src.schema).parquet(d2), sink
    ).option("checkpointLocation", str(tmp_path / "rs_ck2")).start(
    ).awaitTermination()

    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_cents"])
        for r in spark.read.parquet(sink).collect()
    }
    want = {
        (r["window_start"], r["event_type"]): (
            r["n_events"],
            int(round(r["sum_value"] * 100)),
        )
        for r in events_hourly_rollup(spark, sf_dir).collect()
    }
    assert got == want


def test_sessionize_stream_ignores_cross_batch_late_event(spark, tmp_path):
    """A late event older than the state's last timestamp must not
    move the session clock backward (which would split sessions the
    batch twin keeps whole)."""
    from datetime import datetime

    from semantic_ann_in_data_lake_spark.streaming.sessionize import (
        sessionize_stream,
    )

    rows1 = [("e1", datetime(2024, 1, 1, 12, 0, 0), 7, "view", 1.0, "{}")]
    rows2 = [
        # late vs state (11:59:30 < 12:00:00) then a borderline event:
        # true gap from 12:00 is 29m50s (same session); a backward
        # clock would measure 30m20s and split
        ("e2", datetime(2024, 1, 1, 11, 59, 30), 7, "view", 1.0, "{}"),
        ("e3", datetime(2024, 1, 1, 12, 29, 50), 7, "view", 1.0, "{}"),
    ]
    schema = "event_id string, ts timestamp, user_id long, event_type string, value double, props string"
    src_dir = str(tmp_path / "sl_in")
    spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(src_dir)
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode("append").parquet(src_dir)
    out_dir = str(tmp_path / "sl_out")
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src_dir)
    (
        sessionize_stream(stream, gap_minutes=30)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", out_dir + "_ckpt")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    closed = spark.read.parquet(out_dir).collect()
    # no session may CLOSE: e3 continues the open session (the late e2
    # is dropped, not folded backward)
    assert closed == []


def test_stateful_streams_drop_redelivered_equal_ts_event(spark, tmp_path):
    """At-least-once transport can re-deliver an already-folded event
    in a LATER batch at the state's exact last timestamp. A bare
    ts < last guard folds it again (inflating counts/sums/versions);
    the lexicographic (ts, event_id) guard must drop it."""
    from datetime import datetime

    from semantic_ann_in_data_lake_spark.streaming.scd2_stream import (
        scd2_changelog_stream,
    )
    from semantic_ann_in_data_lake_spark.streaming.sessionize import (
        sessionize_stream,
    )

    schema = (
        "event_id string, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    )
    t0 = datetime(2024, 1, 1, 12, 0, 0)
    rows1 = [("e1", t0, 7, "view", 1.0, "{}")]
    rows2 = [
        ("e1", t0, 7, "view", 1.0, "{}"),  # transport duplicate of e1
        # an hour later: closes the session (gap > 30m) and, with a
        # different type, closes the SCD2 "view" run
        ("e4", datetime(2024, 1, 1, 13, 0, 0), 7, "click", 2.0, "{}"),
    ]
    src_dir = str(tmp_path / "rd_in")
    spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(src_dir)
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src_dir)

    def run(make_stream, out_name):
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", 1
        ).parquet(src_dir)
        out_dir = str(tmp_path / out_name)
        (
            make_stream(stream)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", out_dir + "_ckpt")
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        return spark.read.parquet(out_dir).collect()

    sessions = run(lambda s: sessionize_stream(s, gap_minutes=30), "rd_sess")
    assert [
        (r["n_events"], r["sum_value"]) for r in sessions
    ] == [(1, 1.0)]  # duplicate e1 not re-folded

    # scd2 needs a long event_id column (events-table shape)
    from pyspark.sql import functions as F

    runs = run(
        lambda s: scd2_changelog_stream(
            s.withColumn(
                "event_id",
                F.regexp_replace("event_id", "e", "").cast("long"),
            )
        ),
        "rd_scd2",
    )
    assert [(r["state"], r["version"], r["n_events"]) for r in runs] == [
        ("view", 1, 1)
    ]


def test_sessionize_keeps_new_numeric_id_at_equal_ts(spark, tmp_path):
    """A genuinely NEW event in a later batch at the state's exact last
    timestamp with a numerically larger but lexicographically smaller
    id ('10' < '9' as strings) must be folded, not misclassified as a
    redelivery — the guard compares zero-padded ids so string order
    matches numeric order."""
    from datetime import datetime

    from semantic_ann_in_data_lake_spark.streaming.sessionize import (
        sessionize_stream,
    )

    schema = (
        "event_id string, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    )
    t0 = datetime(2024, 1, 1, 12, 0, 0)
    rows1 = [("9", t0, 7, "view", 1.0, "{}")]
    rows2 = [
        ("10", t0, 7, "view", 2.0, "{}"),  # new event, same microsecond
        # closes the session (gap > 30m)
        ("11", datetime(2024, 1, 1, 13, 0, 0), 7, "click", 4.0, "{}"),
    ]
    src_dir = str(tmp_path / "np_in")
    spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(src_dir)
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src_dir)
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src_dir)
    out_dir = str(tmp_path / "np_out")
    (
        sessionize_stream(stream, gap_minutes=30)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", out_dir + "_ckpt")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    closed = spark.read.parquet(out_dir).collect()
    assert [(r["n_events"], r["sum_value"]) for r in closed] == [(2, 3.0)]


def test_stream_refresh_ivf_index_equals_batch_and_replays(
    spark, sf_dir, tmp_path
):
    """Streamed index ingestion ≡ batch refresh_ivf_index: same cells,
    same search results; re-delivered files (fresh checkpoint) and
    replayed batches must leave the index unchanged."""
    import shutil

    from semantic_ann_in_data_lake_spark.operators.ivf_index import (
        build_ivf_index, index_assignment_violations, search_ivf_index,
    )
    from semantic_ann_in_data_lake_spark.streaming.index_stream import (
        stream_refresh_ivf_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = emb.where("vec_id % 3 != 0")
    new = emb.where("vec_id % 3 = 0")

    p_stream = str(tmp_path / "idx_stream")
    p_batch = str(tmp_path / "idx_batch")
    build_ivf_index(base, p_stream, nlist=8)
    build_ivf_index(base, p_batch, nlist=8)

    # stage the new vectors as TWO files -> two micro-batches
    in_dir = tmp_path / "emb_in"
    in_dir.mkdir()
    new.where("vec_id % 2 = 0").coalesce(1).write.parquet(
        str(in_dir / "a.parquet")
    )
    new.where("vec_id % 2 = 1").coalesce(1).write.parquet(
        str(in_dir / "b.parquet")
    )
    schema = emb.schema

    def run(ckpt, src=None):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src or in_dir) + "/*")
        )
        q = stream_refresh_ivf_index(stream, p_stream).option(
            "checkpointLocation", str(tmp_path / ckpt)
        ).start()
        q.awaitTermination()

    run("ckpt_0")

    from semantic_ann_in_data_lake_spark.operators.ivf_index import (
        refresh_ivf_index,
    )

    refresh_ivf_index(spark, p_batch, new)

    rows = lambda df: sorted(map(tuple, df.collect()))
    probes = emb.limit(40)
    s_stream = search_ivf_index(spark, p_stream, probes, k=3)
    s_batch = search_ivf_index(spark, p_batch, probes, k=3)
    assert rows(s_stream) == rows(s_batch)
    assert index_assignment_violations(spark, p_stream).count() == 0

    n_before = spark.read.parquet(f"{p_stream}/cells").count()
    assert n_before == emb.count()

    # cross-run re-delivery: fresh checkpoint re-sends both files;
    # the vec_id anti-join must keep the index unchanged
    run("ckpt_1")
    assert spark.read.parquet(f"{p_stream}/cells").count() == n_before
    assert rows(search_ivf_index(spark, p_stream, probes, k=3)) == rows(s_batch)

    # ADVICE r6 regression: a restarted stream's batch ids restart at
    # 0 — its batch 0 COLLIDES with the prior run's logged batch 0. A
    # bare-batch_id replay guard would short-circuit and permanently
    # drop these genuinely new rows; the run-scoped log must let them
    # through to the anti-join and ingest them.
    from pyspark.sql import functions as F

    fresh_vecs = new.limit(10).withColumn(
        "vec_id", (F.col("vec_id") + F.lit(1_000_000)).cast("long")
    )
    in_dir2 = tmp_path / "emb_in2"
    in_dir2.mkdir()
    fresh_vecs.coalesce(1).write.parquet(str(in_dir2 / "c.parquet"))
    run("ckpt_2", in_dir2)
    assert (
        spark.read.parquet(f"{p_stream}/cells").count() == n_before + 10
    )
    assert index_assignment_violations(spark, p_stream).count() == 0


def test_incremental_winnow_equals_batch_overlap(spark, sf_dir, tmp_path):
    """Streamed winnowing over two file-batches must produce exactly
    the batch operator's overlap pairs WITH identical shared counts
    (fingerprint sets are per-doc, so batch boundaries cannot change
    them; a pair surfaces complete when its later doc arrives), and a
    re-delivery run from a fresh checkpoint must add nothing."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    from semantic_ann_in_data_lake_spark.operators.winnow import (
        winnow_overlap_pairs,
    )
    from semantic_ann_in_data_lake_spark.streaming.profile_stream import (
        incremental_winnow_foreach_batch,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    ).where(F.col("doc_id") < 120)
    in_dir = tmp_path / "win_in"
    in_dir.mkdir()
    docs.where(F.col("doc_id") < 60).coalesce(1).write.parquet(
        str(tmp_path / "_a")
    )
    docs.where(F.col("doc_id") >= 60).coalesce(1).write.parquet(
        str(tmp_path / "_b")
    )
    shutil.copy(
        glob.glob(str(tmp_path / "_a" / "part-*.parquet"))[0],
        in_dir / "a.parquet",
    )
    shutil.copy(
        glob.glob(str(tmp_path / "_b" / "part-*.parquet"))[0],
        in_dir / "b.parquet",
    )
    fp_sink = str(tmp_path / "fps")
    pairs_sink = str(tmp_path / "pairs")

    def run(ckpt):
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(in_dir))
        )
        q = (
            incremental_winnow_foreach_batch(
                stream, fp_sink, pairs_sink, min_shared=4
            )
            .option("checkpointLocation", str(tmp_path / ckpt))
            .start()
        )
        q.awaitTermination()

    run("ckpt1")
    got = {
        (r["id_a"], r["id_b"]): r["n_shared"]
        for r in spark.read.parquet(pairs_sink).collect()
    }
    want = {
        (r["doc_id_a"], r["doc_id_b"]): r["n_shared"]
        for r in winnow_overlap_pairs(
            docs, min_shared=4, max_df=1_000_000
        ).collect()
    }
    assert got == want and want  # non-empty on the template corpus

    run("ckpt2")  # re-delivery from a fresh checkpoint
    assert spark.read.parquet(pairs_sink).count() == len(want)


def test_incremental_weighted_sample_equals_batch(spark, sf_dir, tmp_path):
    """The streamed A-ES sample after consuming all batches equals the
    batch operator over the full corpus EXACTLY (content-addressed
    keys make the incremental top-k the same set), and re-delivery
    from a fresh checkpoint leaves it unchanged."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    from semantic_ann_in_data_lake_spark.operators.pairs import (
        weighted_sample,
    )
    from semantic_ann_in_data_lake_spark.streaming.profile_stream import (
        incremental_weighted_sample_foreach_batch,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "n_chars"
    )
    in_dir = tmp_path / "ws_in"
    in_dir.mkdir()
    docs.where(F.col("doc_id") < 250).coalesce(1).write.parquet(
        str(tmp_path / "_a")
    )
    docs.where(F.col("doc_id") >= 250).coalesce(1).write.parquet(
        str(tmp_path / "_b")
    )
    shutil.copy(
        glob.glob(str(tmp_path / "_a" / "part-*.parquet"))[0],
        in_dir / "a.parquet",
    )
    shutil.copy(
        glob.glob(str(tmp_path / "_b" / "part-*.parquet"))[0],
        in_dir / "b.parquet",
    )
    sink = str(tmp_path / "sample")

    def run(ckpt):
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(in_dir))
        )
        q = (
            incremental_weighted_sample_foreach_batch(stream, sink, k=25)
            .option("checkpointLocation", str(tmp_path / ckpt))
            .start()
        )
        q.awaitTermination()

    run("ckpt1")
    got = {
        (r["doc_id"], r["sample_key"])
        for r in spark.read.parquet(sink).collect()
    }
    want = {
        (r["doc_id"], r["sample_key"])
        for r in weighted_sample(docs, "doc_id", "n_chars", k=25).collect()
    }
    assert got == want and len(want) == 25

    run("ckpt2")  # re-delivery from a fresh checkpoint
    assert {
        (r["doc_id"], r["sample_key"])
        for r in spark.read.parquet(sink).collect()
    } == want


def test_incremental_quality_monitor_equals_per_batch_funnel(
    spark, sf_dir, tmp_path
):
    """Each micro-batch's monitor rows equal the batch funnel run on
    that file's documents alone, and a re-delivery under the same
    lineage rewrites identical rows (exactly-once by determinism)."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    from semantic_ann_in_data_lake_spark.operators.funnel import (
        curation_funnel,
    )
    from semantic_ann_in_data_lake_spark.streaming.profile_stream import (
        incremental_quality_monitor_foreach_batch,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    halves = [
        docs.where(F.col("doc_id") < 250),
        docs.where(F.col("doc_id") >= 250),
    ]
    in_dir = tmp_path / "qm_in"
    in_dir.mkdir()
    for i, h in enumerate(halves):
        h.coalesce(1).write.parquet(str(tmp_path / f"_h{i}"))
        shutil.copy(
            glob.glob(str(tmp_path / f"_h{i}" / "part-*.parquet"))[0],
            in_dir / f"{chr(97 + i)}.parquet",
        )
    sink = str(tmp_path / "monitor")

    def run(ckpt):
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(in_dir))
        )
        q = (
            incremental_quality_monitor_foreach_batch(
                stream, sink, lineage="fixed"
            )
            .option("checkpointLocation", str(tmp_path / ckpt))
            .start()
        )
        q.awaitTermination()

    run("ckpt1")
    got = {
        (r["batch_id"], r["stage"]): (r["n_docs"], r["n_tokens"])
        for r in spark.read.parquet(sink).collect()
    }
    assert len(got) == 10  # 2 batches x 5 stages
    for b, h in enumerate(halves):
        want = {
            r["stage"]: (r["n_docs"], r["n_tokens"])
            for r in curation_funnel(h).collect()
        }
        for stage, vals in want.items():
            assert got[(b, stage)] == vals, (b, stage)

    run("ckpt2")  # re-delivery, same lineage -> identical partitions
    assert {
        (r["batch_id"], r["stage"]): (r["n_docs"], r["n_tokens"])
        for r in spark.read.parquet(sink).collect()
    } == got


def test_incremental_cc_equals_batch_clusters(spark, sf_dir, tmp_path):
    """Streaming CC over edge micro-batches converges to EXACTLY the
    batch dedup_clusters labels over the union of all edges — including
    components formed by MULTI-HOP chains straddling batches — and a
    re-delivery run from a fresh checkpoint changes nothing (min-label
    merging is idempotent)."""
    import glob
    import shutil

    from semantic_ann_in_data_lake_spark.operators.dedup import (
        dedup_clusters,
        minhash_near_dups,
    )
    from semantic_ann_in_data_lake_spark.streaming.cc_stream import (
        incremental_cc_foreach_batch,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    pairs = minhash_near_dups(
        docs, num_hashes=16, bands=8, rows_per_band=2, threshold=0.01
    ).select("id_a", "id_b")
    # split edges into two batches by hash — chains WILL straddle
    from pyspark.sql import functions as F

    h = F.pmod(F.xxhash64("id_a", "id_b"), F.lit(2))
    halves = [pairs.where(h == i) for i in (0, 1)]
    in_dir = tmp_path / "cc_in"
    in_dir.mkdir()
    for i, half in enumerate(halves):
        half.coalesce(1).write.parquet(str(tmp_path / f"_e{i}"))
        shutil.copy(
            glob.glob(str(tmp_path / f"_e{i}" / "part-*.parquet"))[0],
            in_dir / f"{chr(97 + i)}.parquet",
        )
    labels_sink = str(tmp_path / "labels")

    def run(ckpt):
        stream = (
            spark.readStream.schema(pairs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(in_dir))
        )
        q = (
            incremental_cc_foreach_batch(stream, labels_sink)
            .option("checkpointLocation", str(tmp_path / ckpt))
            .start()
        )
        q.awaitTermination()

    run("ckpt1")
    got = {
        (r["doc_id"], r["cluster_id"])
        for r in spark.read.parquet(labels_sink).collect()
    }
    want = {
        (r["doc_id"], r["cluster_id"])
        for r in dedup_clusters(pairs).collect()
    }
    assert got == want and want

    run("ckpt2")  # idempotent re-delivery
    assert {
        (r["doc_id"], r["cluster_id"])
        for r in spark.read.parquet(labels_sink).collect()
    } == want


def test_union_find_merge_transitive_chains():
    """Driver-side label union-find: multi-hop chains collapse to the
    component minimum; disjoint components stay apart; the mapping
    contains only non-identity entries."""
    from semantic_ann_in_data_lake_spark.streaming.cc_stream import (
        _union_find_merge,
    )

    m = _union_find_merge([(5, 3), (3, 9), (9, 1), (20, 30)])
    assert m == {3: 1, 5: 1, 9: 1, 30: 20}
    assert _union_find_merge([]) == {}
    assert _union_find_merge([(2, 2)]) == {}


@pytest.mark.slow  # >20s; default run budget (VERDICT r11 item 1)
def test_watermark_metrics_stream_equals_replay_and_redelivery(
    spark, tmp_path
):
    """The observability sink's per-trigger rows equal the batch
    replay's fold over the same file sequence — watermark advance
    (max prior event − delay), late-row counts, and lag — and a
    re-delivery run under the same lineage rewrites identical rows.
    Steady-state triggers read only the 2-row state table; the
    full-sink bootstrap fires once per run start."""
    from datetime import datetime

    from semantic_ann_in_data_lake_spark.streaming import observe_stream
    from semantic_ann_in_data_lake_spark.streaming.observe_stream import (
        watermark_metrics_foreach_batch,
        watermark_metrics_replay,
    )

    schema = (
        "event_id string, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    )
    t = lambda m, s=0: datetime(2024, 1, 1, 12, m, s)  # noqa: E731
    batches_rows = [
        [("e1", t(0), 1, "view", 1.0, "{}"),
         ("e2", t(5), 1, "view", 1.0, "{}")],
        # e3 is >60s behind the watermark (12:05 - 60s = 12:04)
        [("e3", t(2), 2, "view", 1.0, "{}"),
         ("e4", t(9), 2, "view", 1.0, "{}")],
        [("e5", t(7, 30), 3, "view", 1.0, "{}")],  # late vs 12:08
    ]
    import glob
    import shutil

    in_dir = tmp_path / "wm_in"
    in_dir.mkdir()
    frames = []
    for i, rows in enumerate(batches_rows):
        df = spark.createDataFrame(rows, schema)
        frames.append(df)
        df.coalesce(1).write.parquet(str(tmp_path / f"_wm{i}"))
        shutil.copy(
            glob.glob(str(tmp_path / f"_wm{i}" / "part-*.parquet"))[0],
            in_dir / f"{chr(97 + i)}.parquet",
        )

    want = watermark_metrics_replay(frames, delay_seconds=60)
    assert [w["late_rows"] for w in want] == [0, 1, 1]
    assert want[1]["watermark_us"] == want[0]["max_event_us"] - 60_000_000

    sink = str(tmp_path / "wm_sink")

    calls = []
    real_bootstrap = observe_stream._bootstrap_basis

    def spy(*a, **kw):
        calls.append(1)
        return real_bootstrap(*a, **kw)

    observe_stream._bootstrap_basis = spy
    try:

        def run(ckpt):
            stream = spark.readStream.schema(schema).option(
                "maxFilesPerTrigger", 1
            ).parquet(str(in_dir))
            q = (
                watermark_metrics_foreach_batch(
                    stream, sink, delay_seconds=60, lineage="fixed"
                )
                .option("checkpointLocation", str(tmp_path / ckpt))
                .start()
            )
            q.awaitTermination()

        run("ck1")
        cols = [
            "batch_id", "n_rows", "max_event_us", "watermark_us",
            "late_rows", "lag_us",
        ]
        got = sorted(
            tuple(r[c] for c in cols)
            for r in spark.read.parquet(sink).collect()
        )
        assert got == sorted(tuple(w[c] for c in cols) for w in want)
        # batches 1,2 ran off the state table, not a sink re-scan
        assert len(calls) == 1

        run("ck2")  # re-delivery, same lineage -> identical partitions
        got2 = sorted(
            tuple(r[c] for c in cols)
            for r in spark.read.parquet(sink).collect()
        )
        assert got2 == got
        # fresh checkpoint restarts batch ids: ONE bootstrap, then
        # incremental again
        assert len(calls) == 2
    finally:
        observe_stream._bootstrap_basis = real_bootstrap
    # state table: one row per epoch, regardless of batches run
    assert spark.read.parquet(sink + "__state").count() <= 2


def test_foreach_batch_sinks_release_cached_blocks(spark, sf_dir, tmp_path):
    """Handlers that call persisting operators (the quality monitor's
    curation_funnel, the winnow sink's fingerprints) must not leak one
    cached frame per micro-batch — scoped_foreach_batch wraps each
    batch in a cache_scope, so the persistent-RDD count returns to its
    pre-stream level after the run."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    from semantic_ann_in_data_lake_spark.streaming.profile_stream import (
        incremental_quality_monitor_foreach_batch,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    in_dir = tmp_path / "leak_in"
    in_dir.mkdir()
    for i, half in enumerate(
        [docs.where(F.col("doc_id") < 250), docs.where(F.col("doc_id") >= 250)]
    ):
        half.coalesce(1).write.parquet(str(tmp_path / f"_l{i}"))
        shutil.copy(
            glob.glob(str(tmp_path / f"_l{i}" / "part-*.parquet"))[0],
            in_dir / f"{chr(97 + i)}.parquet",
        )

    def n_persistent() -> int:
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    before = n_persistent()
    stream = spark.readStream.schema(docs.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(str(in_dir))
    q = (
        incremental_quality_monitor_foreach_batch(
            stream, str(tmp_path / "leak_sink"), lineage="fixed"
        )
        .option("checkpointLocation", str(tmp_path / "leak_ckpt"))
        .start()
    )
    q.awaitTermination()
    # <= not ==: in a long shared session Spark's async ContextCleaner
    # may release OTHER tests' unreachable blocks while this stream
    # runs (observed 182 -> 180 in a full-suite run). The pin is NO NET
    # GROWTH: pre-fix, each micro-batch added one persisted flags
    # frame synchronously, so this read before+2 here.
    assert n_persistent() <= before


def test_streaming_domain_cap_equals_batch_and_redelivery(
    spark, sf_dir, tmp_path
):
    """The streamed per-domain admission cap over id-ordered file
    batches admits EXACTLY the batch cap_per_domain keep set over the
    full log — including malformed-URL rows, which both sides bucket
    under the '__invalid__' sentinel so the cap binds on junk floods
    (ADVICE r8: NULL domains bypassed the cross-batch quota joins) —
    and a re-delivery from a fresh checkpoint (same sink) admits
    nothing new. Steady-state triggers must never rescan the full
    sink: the bootstrap hook fires only on the run-identity change."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    from semantic_ann_in_data_lake_spark.operators import domains as D
    from semantic_ann_in_data_lake_spark.streaming import domain_stream
    from semantic_ann_in_data_lake_spark.streaming.domain_stream import (
        INVALID_DOMAIN,
        incremental_domain_cap_foreach_batch,
    )

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text", "lang", "source")
    )
    # 40 junk-URL rows (host unparsable -> NULL domain); cap 7 must
    # admit exactly 7 of them corpus-wide
    junk = spark.range(40).select(
        (F.col("id") + 1_000_000).alias("doc_id"),
        F.concat(F.lit("not a url #"), F.col("id")).alias("url"),
    )
    urled = (
        D.synthesize_url(docs)
        .select("doc_id", "url")
        .unionByName(junk)
    )
    domain = F.coalesce(
        D.registrable_domain(D.url_host("url")), F.lit(INVALID_DOMAIN)
    )
    want = {
        (r["doc_id"], r["domain"])
        for r in D.cap_per_domain(
            urled.select("doc_id", domain.alias("domain")), n=7
        ).collect()
    }
    assert sum(1 for _, d in want if d == INVALID_DOMAIN) == 7

    in_dir = tmp_path / "dc_in"
    in_dir.mkdir()
    # id-ordered arrival (the documented streaming contract): every id
    # in the second file is above every id in the first, junk included
    halves = [
        urled.where(F.col("doc_id") < 250),
        urled.where(F.col("doc_id") >= 250),
    ]
    for i, half in enumerate(halves):
        half.coalesce(1).write.parquet(str(tmp_path / f"_dc{i}"))
        shutil.copy(
            glob.glob(str(tmp_path / f"_dc{i}" / "part-*.parquet"))[0],
            in_dir / f"{chr(97 + i)}.parquet",
        )
    sink = str(tmp_path / "dc_sink")

    calls = []
    real_bootstrap = domain_stream._bootstrap_from_sink

    def spy(*a, **kw):
        calls.append(1)
        return real_bootstrap(*a, **kw)

    domain_stream._bootstrap_from_sink = spy
    try:

        def run(ckpt):
            stream = spark.readStream.schema(urled.schema).option(
                "maxFilesPerTrigger", 1
            ).parquet(str(in_dir))
            q = (
                incremental_domain_cap_foreach_batch(
                    stream, sink, n_per_domain=7
                )
                .option("checkpointLocation", str(tmp_path / ckpt))
                .start()
            )
            q.awaitTermination()

        run("dc_ck1")
        got = {
            (r["doc_id"], r["domain"])
            for r in spark.read.parquet(sink).collect()
        }
        assert got == want
        # batch 0 takes the (empty-sink) bootstrap path once; batch 1
        # must read only the state table — per-trigger reads are
        # state-sized, not sink-sized
        assert len(calls) == 1

        run("dc_ck2")  # re-delivery: same files, fresh checkpoint
        assert spark.read.parquet(sink).count() == len(want)
        # run-identity change: exactly ONE more bootstrap scan
        # (batch 0 of the new run), then incremental again
        assert len(calls) == 2
    finally:
        domain_stream._bootstrap_from_sink = real_bootstrap

    # the state table is STATE-sized (two epochs of n_domains+1 rows),
    # not proportional to batches run or documents seen
    n_domains = urled.select(domain.alias("d")).distinct().count()
    state_rows = spark.read.parquet(sink + "__state").count()
    assert state_rows <= 2 * (n_domains + 1)


def test_streaming_pca_moments_equal_batch_bit_for_bit(
    spark, sf_dir, tmp_path
):
    """The streamed covariance-moment accumulator equals the batch
    pass over the full corpus BIT-FOR-BIT (decimal sums are
    associative — `merge_cov_moments` is exact, not approximate), the
    PCA model fitted from the streamed state equals the batch fit
    float-for-float, and re-deliveries add nothing: a fresh checkpoint
    with the SAME lineage replays into identical state, and a fresh
    lineage re-accumulates to equal content under its own run_id."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    from semantic_ann_in_data_lake_spark.operators import embedproj as ep
    from semantic_ann_in_data_lake_spark.streaming.pca_stream import (
        incremental_cov_moments_foreach_batch,
        read_cov_moments_state,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    want = {
        (r["i"], r["j"], r["n"], r["sx"], r["sy"], r["sxy"])
        for r in ep.embedding_cov_moments(emb).collect()
    }
    want_model = ep.pca_fit(emb, m=8)

    in_dir = tmp_path / "pca_in"
    in_dir.mkdir()
    # id-ordered arrival: three disjoint ascending id ranges
    cuts = [(0, 170), (170, 340), (340, 10_000)]
    for i, (lo, hi) in enumerate(cuts):
        part = emb.where(f"vec_id >= {lo} AND vec_id < {hi}")
        part.coalesce(1).write.parquet(str(tmp_path / f"_pc{i}"))
        shutil.copy(
            glob.glob(str(tmp_path / f"_pc{i}" / "part-*.parquet"))[0],
            in_dir / f"{chr(97 + i)}.parquet",
        )
    state = str(tmp_path / "pca_state")

    def run(ckpt, lineage):
        stream = spark.readStream.schema(emb.schema).option(
            "maxFilesPerTrigger", 1
        ).parquet(str(in_dir))
        q = (
            incremental_cov_moments_foreach_batch(
                stream, state, lineage=lineage
            )
            .option("checkpointLocation", str(tmp_path / ckpt))
            .start()
        )
        q.awaitTermination()

    run("pca_ck1", "lin1")
    got_df = read_cov_moments_state(spark, state, lineage="lin1")
    got = {
        (r["i"], r["j"], r["n"], r["sx"], r["sy"], r["sxy"])
        for r in got_df.collect()
    }
    assert got == want  # exact: Decimal == Decimal, count == count

    got_model = ep.pca_fit_from_moments(got_df, m=8)
    assert got_model == want_model  # frozen dataclass: float-for-float

    # same-lineage fresh checkpoint: the full log replays through the
    # first-batch path and every slot overwrites identically
    run("pca_ck2", "lin1")
    got2 = {
        (r["i"], r["j"], r["n"], r["sx"], r["sy"], r["sxy"])
        for r in read_cov_moments_state(spark, state, lineage="lin1").collect()
    }
    assert got2 == want

    # fresh lineage over the same source: its own run accumulates to
    # equal content (the merge property), reader picks it up by name
    run("pca_ck3", "lin2")
    got3 = {
        (r["i"], r["j"], r["n"], r["sx"], r["sy"], r["sxy"])
        for r in read_cov_moments_state(spark, state, lineage="lin2").collect()
    }
    assert got3 == want

    # the state table never exceeds two generations of d(d+1)/2 rows
    raw = spark.read.parquet(state)
    per_run = raw.groupBy("run_id").count().collect()
    assert all(r["count"] <= 2 * len(want) for r in per_run)


def test_streaming_hll_registers_equal_batch_bit_for_bit(
    spark, sf_dir, tmp_path
):
    """The streamed HLL register accumulator equals the batch sketch
    over the full corpus BIT-FOR-BIT (register max-merge is
    associative AND idempotent), the derived estimates equal the batch
    estimates exactly, re-deliveries add nothing, and a fresh lineage
    re-accumulates to equal content. State stays ≤ two generations of
    64·n_groups rows."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    from semantic_ann_in_data_lake_spark.operators.sketches import (
        hll_estimate,
        hll_registers,
    )
    from semantic_ann_in_data_lake_spark.streaming.hll_stream import (
        incremental_hll_foreach_batch,
        read_hll_state,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source", "text"
    )
    want = sorted(
        map(tuple, hll_registers(docs, "text", ("source",)).collect())
    )
    want_est = sorted(
        map(
            tuple,
            hll_estimate(
                hll_registers(docs, "text", ("source",)), ("source",)
            ).collect(),
        )
    )

    in_dir = tmp_path / "hll_in"
    in_dir.mkdir()
    cuts = [(0, 170), (170, 340), (340, 10_000_000)]
    for i, (lo, hi) in enumerate(cuts):
        part = docs.where(f"doc_id >= {lo} AND doc_id < {hi}")
        part.coalesce(1).write.parquet(str(tmp_path / f"_hl{i}"))
        shutil.copy(
            glob.glob(str(tmp_path / f"_hl{i}" / "part-*.parquet"))[0],
            in_dir / f"{chr(97 + i)}.parquet",
        )
    state = str(tmp_path / "hll_state")

    def run(ckpt, lineage):
        stream = spark.readStream.schema(docs.schema).option(
            "maxFilesPerTrigger", 1
        ).parquet(str(in_dir))
        q = (
            incremental_hll_foreach_batch(
                stream, state, "text", group_cols=("source",),
                lineage=lineage,
            )
            .option("checkpointLocation", str(tmp_path / ckpt))
            .start()
        )
        q.awaitTermination()

    run("hll_ck1", "lin1")
    got_df = read_hll_state(spark, state, ("source",), lineage="lin1")
    assert sorted(map(tuple, got_df.collect())) == want
    assert (
        sorted(map(tuple, hll_estimate(got_df, ("source",)).collect()))
        == want_est
    )

    # same-lineage fresh checkpoint: full-log replay lands identically
    run("hll_ck2", "lin1")
    got2 = read_hll_state(spark, state, ("source",), lineage="lin1")
    assert sorted(map(tuple, got2.collect())) == want

    # fresh lineage: its own run accumulates to equal content
    run("hll_ck3", "lin2")
    got3 = read_hll_state(spark, state, ("source",), lineage="lin2")
    assert sorted(map(tuple, got3.collect())) == want

    raw = spark.read.parquet(state)
    per_run = raw.groupBy("run_id").count().collect()
    assert all(r["count"] <= 2 * len(want) for r in per_run)


@pytest.mark.slow  # >20s; default run budget (VERDICT r11 item 1)
def test_streaming_graph_triangles_equal_batch(spark, sf_dir, tmp_path):
    """The streamed edge-dedup + triangle accumulator equals batch
    `triangle_stats(symmetrize(all edges))` ROW-FOR-ROW (triangle
    deltas are exact: a triangle is counted at the batch delivering
    its last edge, once), redeliveries add nothing (edges are
    content-addressed — file 3 re-delivers half of file 1), and a
    same-lineage fresh-checkpoint replay overwrites its slots into
    identical state."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    from semantic_ann_in_data_lake_spark.operators.graphrank import (
        symmetrize,
        triangle_stats,
    )
    from semantic_ann_in_data_lake_spark.operators.knn import knn_join
    from semantic_ann_in_data_lake_spark.streaming.graph_stream import (
        incremental_graph_foreach_batch,
        read_graph_state,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(120)
    knn = knn_join(emb, emb, k=4, strategy="broadcast").select(
        F.col("query_id").alias("src"), F.col("cand_id").alias("dst")
    )
    want = {
        (r["node"], r["degree"], r["triangles"], r["clustering"])
        for r in triangle_stats(symmetrize(knn, "src", "dst")).collect()
    }

    rows = knn.collect()
    cuts = [rows[:150], rows[150:330], rows[330:] + rows[:70]]  # 3rd redelivers
    in_dir = tmp_path / "gs_in"
    in_dir.mkdir()
    for i, part in enumerate(cuts):
        df = spark.createDataFrame(part, "src bigint, dst bigint")
        df.coalesce(1).write.parquet(str(tmp_path / f"_g{i}"))
        shutil.copy(
            glob.glob(str(tmp_path / f"_g{i}" / "part-*.parquet"))[0],
            in_dir / f"{chr(97 + i)}.parquet",
        )

    state = str(tmp_path / "graph_state")
    edges = str(tmp_path / "graph_edges")

    def run(ckpt):
        stream = (
            spark.readStream.schema("src bigint, dst bigint")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(in_dir))
        )
        q = (
            incremental_graph_foreach_batch(
                stream, state, edges, lineage="runA"
            )
            .option("checkpointLocation", str(tmp_path / ckpt))
            .start()
        )
        q.awaitTermination(120)

    run("ck1")
    got = {
        (r["node"], r["degree"], r["triangles"], r["clustering"])
        for r in read_graph_state(spark, state, "runA").collect()
    }
    assert got == want

    # same lineage, fresh checkpoint: full replay overwrites each slot
    # deterministically — state unchanged
    run("ck2")
    got2 = {
        (r["node"], r["degree"], r["triangles"], r["clustering"])
        for r in read_graph_state(spark, state, "runA").collect()
    }
    assert got2 == want


def _stage_parts(parts, tmp_path, name: str, start: int = 0) -> str:
    """Write each frame as one parquet file into ``tmp_path/name``,
    named so the file source lists them in order (``start`` offsets
    the names, so later calls append files that sort after)."""
    import glob

    d = tmp_path / name
    d.mkdir(exist_ok=True)
    for i, part in enumerate(parts, start):
        tmp = tmp_path / f"_{name}{i}"
        part.coalesce(1).write.parquet(str(tmp))
        shutil.copy(
            glob.glob(str(tmp / "part-*.parquet"))[0],
            d / f"{chr(97 + i)}.parquet",
        )
    return str(d)


def test_streaming_hll_string_ids_equal_batch_and_redelivery(
    spark, sf_dir, tmp_path
):
    """The id frontier keeps the id column's own type: an HLL stream
    over STRING ids (zero-padded, so lexicographic order is arrival
    order) equals batch `hll_registers` bit-for-bit, and a third file
    re-delivering rows of the first adds nothing."""
    from pyspark.sql import functions as F

    from semantic_ann_in_data_lake_spark.operators.sketches import (
        hll_registers,
    )
    from semantic_ann_in_data_lake_spark.streaming.hll_stream import (
        incremental_hll_foreach_batch,
        read_hll_state,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.format_string("doc-%08d", "doc_id").alias("doc_id"), "text"
    )
    want = sorted(map(tuple, hll_registers(docs, "text").collect()))
    first = docs.where(F.col("doc_id") < "doc-00000250")
    in_dir = _stage_parts(
        [first, docs.where(F.col("doc_id") >= "doc-00000250"),
         first.limit(40)],
        tmp_path, "hs_in",
    )
    state = str(tmp_path / "hs_state")
    stream = spark.readStream.schema(docs.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(in_dir)
    q = (
        incremental_hll_foreach_batch(stream, state, "text", lineage="s")
        .option("checkpointLocation", str(tmp_path / "hs_ck"))
        .start()
    )
    q.awaitTermination()

    got = read_hll_state(spark, state, lineage="s")
    assert sorted(map(tuple, got.collect())) == want
    raw = spark.read.parquet(state)
    assert dict(raw.dtypes)["max_seen_post"] == "string"
    # the redelivery batch (as_of 2) re-stamps, it does not fold
    assert raw.where("as_of_batch = 2").count() == len(want)


@pytest.mark.parametrize("leg", ["hll", "pca"])
def test_state_chain_gap_and_missing_state_raise(
    spark, sf_dir, tmp_path, leg
):
    """The as_of chain's failure paths: reading a missing path or an
    unknown lineage raises, and after the newest epoch slot is deleted
    the next trigger raises the state-gap error instead of folding
    onto older state."""
    from pyspark.sql import functions as F

    if leg == "hll":
        from semantic_ann_in_data_lake_spark.streaming.hll_stream import (
            incremental_hll_foreach_batch as accumulate,
            read_hll_state as read_state,
        )

        src = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "text"
        )
        id_col, args = "doc_id", ("text",)
    else:
        from semantic_ann_in_data_lake_spark.streaming.pca_stream import (
            incremental_cov_moments_foreach_batch as accumulate,
            read_cov_moments_state as read_state,
        )

        src = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        id_col, args = "vec_id", ()
    state = str(tmp_path / "gap_state")

    with pytest.raises(ValueError, match="state at"):
        read_state(spark, state)

    parts = [src.where(F.col(id_col) < 100), src.where(F.col(id_col) >= 100)]
    in_dir = _stage_parts(parts[:1], tmp_path, "gap_in")

    def run():
        stream = spark.readStream.schema(src.schema).option(
            "maxFilesPerTrigger", 1
        ).parquet(in_dir)
        return (
            accumulate(stream, state, *args, lineage="g")
            .option("checkpointLocation", str(tmp_path / "gap_ck"))
            .start()
        )

    run().awaitTermination()  # batch 0 -> epoch 0
    _stage_parts(parts[1:], tmp_path, "gap_in", start=1)
    run().awaitTermination()  # batch 1 -> epoch 1
    assert read_state(spark, state, lineage="g").count() > 0
    with pytest.raises(ValueError, match="rows for run"):
        read_state(spark, state, lineage="nope")

    shutil.rmtree(f"{state}/run_id=g/epoch=1")  # the newest slot
    _stage_parts([parts[1].limit(5)], tmp_path, "gap_in", start=2)
    with pytest.raises(Exception, match="state gap: batch 2"):
        run().awaitTermination()  # batch 2 finds as_of 0, not 1
