"""Incremental profiling / rollup of an append-only events table.

The batch twin of these plans is ``registry.events_hourly_rollup`` —
the SAME logical plan (window + agg) runs under ``readStream`` with a
watermark; Structured Streaming maintains the window state and emits
finalized buckets. ``run_available_now`` drives the stream over the
currently-available files and stops — the pattern tests use, and the
production shape for periodic catch-up jobs.

At scale: state is keyed by (window, event_type) — bounded by
cardinality, not rows; the 1-hour watermark bounds state retention;
``foreachBatch`` incremental embedding keys on content_hash so
re-deliveries never re-embed (cache-or-compute S9, streamed).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _lineage_token(lineage: str | None) -> str:
    """Identity of the retry domain an idempotency guard may trust.

    Micro-batch ids are only meaningful WITHIN one checkpoint lineage:
    a fresh checkpoint restarts them at 0, so a guard keyed on the
    bare batch id either silently skips a colliding batch that carries
    new rows (data loss) or clobbers a prior run's partial with an
    unrelated one (the IVF ingest log once had exactly this
    hole). Callers that restart streams should pass something stable
    per checkpoint — the checkpoint path itself is ideal: same
    checkpoint → same token → cross-restart replays of an uncommitted
    epoch still short-circuit / overwrite-in-place. The default mints
    a per-writer-incarnation token: in-process driver retries are
    covered, and a restarted stream can never be confused with a
    prior run. Either way, re-pointing a FRESH checkpoint at an
    existing aggregate sink while re-reading already-ingested history
    double-counts by construction — rebuild the sink instead (same
    contract as any materialized view)."""
    return lineage if lineage else uuid.uuid4().hex


def _available_now(writer):
    """Drive ``writer`` over all currently-available input, then stop."""
    return writer.trigger(availableNow=True)


def scoped_foreach_batch(stream: DataFrame, handle):
    """The availableNow ``foreachBatch`` writer over ``stream`` (the
    caller sets the checkpoint and starts it), with ``handle`` wrapped
    in a cache_scope: several handlers call operators that
    scoped_persist multi-consumer subtrees (curation_funnel's flags,
    winnow_fingerprints' fp frame) — outside a scope those blocks live
    for the SESSION, so a long-running stream accumulates one orphaned
    cached frame per micro-batch. The handler's writes are actions
    inside the scope, so the persists are exploited and then released
    per batch."""
    from semantic_ann_in_data_lake_spark.cache import cache_scope

    def run(batch_df: DataFrame, batch_id: int) -> None:
        with cache_scope():
            handle(batch_df, batch_id)

    return _available_now(stream.writeStream.foreachBatch(run))


def events_stream(spark: SparkSession, events_dir: str, schema) -> DataFrame:
    """readStream over a directory of events parquet files."""
    return spark.readStream.schema(schema).parquet(events_dir)


def normalize_event_ts(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Normalize an event-time column to TIMESTAMP (LTZ) micros.

    Handles both shapes the events data arrives in: nanos-as-long
    (pre-4.1 ``spark.sql.legacy.parquet.nanosAsLong`` reads) and
    TIMESTAMP_NTZ (Spark 4.1+ native TIMESTAMP(NANOS) reads).
    Watermarks (``EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE``) and
    ``unix_micros`` require LTZ; the NTZ→LTZ cast is exact under the
    UTC session zone the package pins (session.py, readers.read_table)."""
    t = dict(df.dtypes).get(ts_col)
    if t == "bigint":  # nanos-as-long parquet
        df = df.withColumn(ts_col, F.timestamp_micros(F.expr(f"{ts_col} div 1000")))
    elif t == "timestamp_ntz":
        df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df


def hourly_rollup_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Watermarked tumbling-window rollup (same plan as the batch twin)."""
    e = normalize_event_ts(events)
    return (
        e.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def run_available_now(
    rollup: DataFrame, table_name: str = "rollup_out", checkpoint_dir: str | None = None
):
    """Drive the stream over all currently-available input and stop.

    Results land in an in-memory table (``spark.table(table_name)``);
    complete output mode because window aggregation state finalizes
    only past the watermark.
    """
    import tempfile

    q = _available_now(
        rollup.writeStream.format("memory")
        .queryName(table_name)
        .outputMode("complete")
        .option(
            "checkpointLocation",
            checkpoint_dir or tempfile.mkdtemp(prefix="sals_stream_ckpt_"),
        )
    ).start()
    q.awaitTermination()
    return q


def _read_sink_or_none(spark, path: str, options: dict | None = None):
    """Read a foreachBatch sink, returning None ONLY for the
    missing-path first-batch case. Any other AnalysisException (e.g.
    unreadable footers from an interrupted write) PROPAGATES so the
    batch retries — swallowing it as "first batch" would re-append
    duplicates in the dedup/embed sinks and, worse, let the rollup's
    dynamic partition overwrite REPLACE accumulated history with one
    batch's counts."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.options(**(options or {})).parquet(path)
    except AnalysisException as e:
        msg = str(e)
        if "PATH_NOT_FOUND" in msg or "Path does not exist" in msg:
            return None
        raise


def _write_slot(
    df: DataFrame, path: str, partition_cols: tuple[str, ...], sort=()
) -> None:
    """The one exactly-once write of the streaming legs: REPLACE the
    partitions of ``path`` that ``df``'s ``partition_cols`` values name
    (dynamic partition overwrite) and leave every other partition
    alone. A re-executed micro-batch writes the same partition values,
    so it overwrites its own earlier attempt instead of adding to it.

    Two layouts use it: the batch-slot sink, one partition per
    ``(run_id, batch_id)`` (or per touched ``day`` for the rollup), and
    the as_of state chain, one partition per ``epoch = batch_id % 2``
    (see ``_prior_state``). One task writes each slot (one file per
    partition value); ``sort`` orders the rows inside it, so a replay
    writes the same bytes."""
    df = df.repartition(1)
    if sort:
        df = df.sortWithinPartitions(*sort)
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def _state_headers(spark, state_path: str, run_token: str, cols=()):
    """``(this lineage's state rows, {as_of_batch: header row})`` of the
    as_of state chain at ``state_path`` — the header row carries
    ``cols``, the per-slot scalars (frontiers) written next to the
    state. ``(None, {})`` before the first state write."""
    state = _read_sink_or_none(spark, state_path)
    if state is None:
        return None, {}
    mine = state.where(F.col("run_id") == run_token)
    hdrs = {
        int(r["as_of_batch"]): r
        for r in mine.select("as_of_batch", *cols).distinct().collect()
    }
    return mine, hdrs


def _prior_state(
    spark, state_path: str, run_token: str, b: int, cols, noun: str,
    header=(),
):
    """``(state after batch b−1, its header row)`` of the as_of state
    chain, or ``(None, None)`` when batch b starts from nothing.

    The chain is the double-buffer contract shared by the accumulating
    legs (hll, pca, graph):

    - every state row carries ``as_of_batch`` (the batch whose fold it
      holds) and is written through ``_write_slot`` into partition
      ``(run_id, epoch = as_of_batch % 2)``. Batch b reads the as_of
      b−1 rows, which live in the OTHER epoch, and overwrites its own,
      so the partition a batch writes is never the one it reads;
    - a same-lineage replay of batch b (write landed, checkpoint commit
      lost) finds the same b−1 rows and rewrites the identical slot:
      exactly-once state on at-least-once delivery;
    - per-trigger reads are state-sized (two generations), never
      growing with run length;
    - when the lineage has no state, or only as_of ≥ b (the replay of
      its first batch), batch b starts from nothing, like batch 0;
    - a gap (older slots present but b−1 missing) cannot be repaired
      from state alone and raises instead of silently under-counting.

    The prior rows are eagerly local-checkpointed: the state scan
    reads both epoch partitions, and the lineage must not reference
    the slot the batch is about to overwrite."""
    mine, hdrs = _state_headers(spark, state_path, run_token, header)
    if b - 1 in hdrs:
        pre = mine.where(F.col("as_of_batch") == b - 1).select(*cols)
        return pre.localCheckpoint(eager=True), hdrs[b - 1]
    if hdrs and min(hdrs) < b - 1:
        raise ValueError(
            f"{noun} state gap: batch {b} but latest as_of is "
            f"{max(hdrs)} with no as_of {b - 1} (state corrupted?)"
        )
    return None, None


def _read_latest_state(
    spark, state_path: str, lineage: str | None, noun: str
) -> DataFrame:
    """The newest slot of an as_of state chain: the rows of the highest
    ``as_of_batch`` of run ``lineage`` (or, when none is named, of the
    lexicographically-greatest run_id sharing the path). Raises when
    the path or the run has no state."""
    state = _read_sink_or_none(spark, state_path)
    if state is None:
        raise ValueError(f"no {noun} state at {state_path!r}")
    if lineage is not None:
        state = state.where(F.col("run_id") == lineage)
    head = (
        state.groupBy("run_id")
        .agg(F.max("as_of_batch").alias("as_of"))
        .orderBy(F.col("run_id").desc())
        .head(1)
    )
    if not head:
        raise ValueError(f"no {noun} state rows for run {lineage!r}")
    return state.where(
        (F.col("run_id") == head[0]["run_id"])
        & (F.col("as_of_batch") == head[0]["as_of"])
    )


def _accumulate_foreach_batch(
    stream: DataFrame,
    state_path: str,
    id_col: str,
    lineage: str | None,
    state_cols,
    fold,
    merge,
    noun: str,
):
    """foreachBatch accumulator over the as_of state chain
    (``_prior_state``): ``fold(rows)`` summarizes a batch's new rows as
    ``state_cols`` rows, ``merge(prior, folded)`` combines two such
    summaries. The slot is sorted by ``state_cols``.

    Redelivery guard (id-ordered arrival): each slot also carries
    ``max_seen_post``, the largest ``id_col`` folded so far, in the id
    column's own type. Rows at or below it are at-least-once
    redeliveries and are not folded again. A batch with nothing new
    still writes its slot (the prior state, re-stamped) so that batch
    b+1 finds b. A fresh lineage starts its own chain under its own
    run_id. Returns the writeStream builder (caller sets the checkpoint
    and starts)."""
    run_token = _lineage_token(lineage)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        b = int(batch_id)
        pre, hdr = _prior_state(
            batch_df.sparkSession, state_path, run_token, b, state_cols,
            noun, header=("max_seen_post",),
        )
        max_seen = None if hdr is None else hdr["max_seen_post"]
        cand = batch_df
        if max_seen is not None:
            cand = cand.where(F.col(id_col) > F.lit(max_seen))
        # every row left is above max_seen, so this is the new frontier
        new_max = cand.agg(F.max(id_col).alias("mx")).collect()[0]["mx"]
        if new_max is not None:
            folded = fold(cand)
            merged = folded if pre is None else merge(pre, folded)
        elif pre is not None:
            merged, new_max = pre, max_seen
        else:
            return  # nothing at all to record yet
        id_type = batch_df.schema[id_col].dataType.simpleString()
        _write_slot(
            merged.withColumn("as_of_batch", F.lit(b))
            .withColumn("max_seen_post", F.lit(new_max).cast(id_type))
            .withColumn("run_id", F.lit(run_token))
            .withColumn("epoch", F.lit(b % 2)),
            state_path,
            ("run_id", "epoch"),
            sort=state_cols,
        )

    return scoped_foreach_batch(stream, handle)


def incremental_embed_foreach_batch(
    docs_stream: DataFrame,
    sink_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 16,
):
    """foreachBatch incremental embedding: each micro-batch embeds only
    rows whose content_hash is not already in the sink (idempotent
    under re-delivery)."""
    from semantic_ann_in_data_lake_spark.annotate.embedder import embed_texts

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # hash + anti-join BEFORE the embedder: filtering the
        # embed_texts output would run the (billed, for HttpEmbedder)
        # model call on every re-delivered row and only skip the
        # append — the JVM md5 matches embed_texts' content_hash
        # (md5 over the null-coalesced utf-8 text) exactly
        hashed = batch_df.withColumn(
            "__ch", F.md5(F.coalesce(F.col(text_col), F.lit("")))
        )
        sink = _read_sink_or_none(spark, sink_path)
        if sink is not None:
            seen = sink.select(F.col("content_hash").alias("__ch")).distinct()
            hashed = hashed.join(seen, "__ch", "left_anti")
        fresh = embed_texts(
            hashed.drop("__ch"), text_col=text_col, id_cols=(id_col,), dim=dim
        )
        fresh.write.mode("append").parquet(sink_path)

    return scoped_foreach_batch(docs_stream, handle)


def incremental_dedup_foreach_batch(docs_stream: DataFrame, sink_path: str,
                                    id_col: str = "doc_id",
                                    text_col: str = "text"):
    """foreachBatch streaming exact dedup (the streamed form of
    ``dedup.exact_duplicates``): each micro-batch keeps one canonical
    row per content digest — the minimum id within the batch — and only
    for digests not already in the sink, so re-deliveries and
    cross-batch duplicates are dropped exactly once.

    Sink rows: (text_hash, canonical_id). First-arrival wins across
    batches; when input files arrive in id order this equals the batch
    operator's global min-id canonicalization. At scale the per-batch
    work is one partial-aggregating groupBy over the micro-batch plus a
    left-anti join against the sink's digest column (parquet
    column-pruned scan; for very large seen-sets swap the sink read for
    a Delta/bucketed table — the plan shape is unchanged)."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        firsts = (
            batch_df.select(
                F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col)
            )
            .groupBy("text_hash")
            .agg(F.min(id_col).alias("canonical_id"))
        )
        sink = _read_sink_or_none(spark, sink_path)
        if sink is not None:
            seen = sink.select("text_hash").distinct()
            fresh = firsts.join(seen, "text_hash", "left_anti")
        else:  # first batch: sink does not exist yet
            fresh = firsts
        fresh.write.mode("append").parquet(sink_path)

    return scoped_foreach_batch(docs_stream, handle)


def incremental_neardup_foreach_batch(
    docs_stream: DataFrame,
    bands_path: str,
    pairs_path: str,
    num_hashes: int = 16,
    bands: int = 8,
    rows_per_band: int = 2,
    shingle_n: int = 3,
    hash_portable: bool = True,
):
    """foreachBatch streaming NEAR-duplicate detection (the streamed
    form of MinHash-LSH): each micro-batch is signed and banded once,
    candidate pairs are the union of

    - in-batch band collisions (the batch's own LSH self-join), and
    - collisions of the batch's band keys against the historical band
      sink (new doc vs everything already ingested),

    then the batch's bands append to the sink. A pair is therefore
    discovered exactly when its LATER document arrives — no historical
    re-pairing, no quadratic catch-up. New pairs are anti-joined against
    the pairs sink so re-delivered files add nothing (idempotent).

    Scale: per batch this costs the one narrow (doc_id, shingle)
    signature shuffle plus a band-key bucket join whose right side is a
    parquet scan pruned to (band, band_key); for a long-lived stream,
    partition/bucket the band sink by band so each micro-batch touches
    only matching buckets. Pairs are CANDIDATES (same contract as
    lsh_candidate_pairs); exact-Jaccard verification composes downstream
    unchanged."""
    from semantic_ann_in_data_lake_spark.operators.dedup import (
        band_keys,
        minhash_signatures,
    )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        sigs = minhash_signatures(
            batch_df,
            num_hashes=num_hashes,
            shingle_n=shingle_n,
            hash_portable=hash_portable,
        )
        banded = band_keys(sigs, bands, rows_per_band).persist()
        a, b = banded.alias("a"), banded.alias("b")
        in_batch = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.band_key") == F.col("b.band_key"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        )
        hist = _read_sink_or_none(spark, bands_path)
        if hist is not None:
            cross = (
                hist.alias("h")
                .join(
                    banded.alias("n"),
                    (F.col("h.band") == F.col("n.band"))
                    & (F.col("h.band_key") == F.col("n.band_key"))
                    & (F.col("h.doc_id") != F.col("n.doc_id")),
                )
                .select(
                    F.least("h.doc_id", "n.doc_id").alias("id_a"),
                    F.greatest("h.doc_id", "n.doc_id").alias("id_b"),
                )
            )
            pairs = in_batch.unionByName(cross).distinct()
        else:  # first batch: no band history yet
            pairs = in_batch.distinct()
        seen_pairs = _read_sink_or_none(spark, pairs_path)
        if seen_pairs is not None:
            pairs = pairs.join(seen_pairs, ["id_a", "id_b"], "left_anti")
        pairs.write.mode("append").parquet(pairs_path)
        # band append is retry-guarded like the pairs sink: a
        # re-executed batch (write succeeded, checkpoint commit lost)
        # would otherwise append its band rows a second time and every
        # future bucket join would fan out over the duplicates forever
        fresh_bands = banded
        if hist is not None:
            fresh_bands = banded.join(
                hist.select("doc_id").distinct(), "doc_id", "left_anti"
            )
        fresh_bands.write.mode("append").parquet(bands_path)
        banded.unpersist()

    return scoped_foreach_batch(docs_stream, handle)


def dedup_stream(
    events: DataFrame,
    key_cols: tuple[str, ...] = ("event_id",),
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Engine-native streaming dedup: ``dropDuplicatesWithinWatermark``
    keeps the first arrival per key and holds each key in state only
    until the watermark passes its event time — bounded state, unlike an
    unbounded ``dropDuplicates`` on a stream. Complements the
    foreachBatch digest-sink dedup: this tier is for at-least-once
    transport dedup (same key re-delivered within the lateness bound);
    the sink tier is for content dedup across the whole history."""
    e = normalize_event_ts(events, ts_col)
    return e.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


def error_after_view_join_stream(
    views: DataFrame,
    errors: DataFrame,
    within: str = "10 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream interval join: every (view, error) pair of the same
    user where the error follows the view within ``within``.

    The canonical Structured Streaming two-stream join: both sides are
    watermarked (bounding how long either side's rows wait in state) and
    the join condition carries the time interval, so state for a view
    row is dropped once the error-side watermark passes view.ts +
    within. Output columns: user_id, view_event_id, view_ts,
    error_event_id, error_ts.

    The batch twin (same plan on static frames) is what the equality
    test pins — interval-join semantics are identical in batch, only
    state management differs."""
    v = normalize_event_ts(views).select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_event_id"),
        F.col("ts").alias("view_ts"),
    ).withWatermark("view_ts", watermark)
    x = normalize_event_ts(errors).select(
        F.col("user_id").alias("e_user"),
        F.col("event_id").alias("error_event_id"),
        F.col("ts").alias("error_ts"),
    ).withWatermark("error_ts", watermark)
    cond = (
        (F.col("v_user") == F.col("e_user"))
        & (F.col("error_ts") > F.col("view_ts"))
        & (F.col("error_ts") <= F.col("view_ts") + F.expr(f"INTERVAL {within}"))
    )
    return v.join(x, cond).select(
        F.col("v_user").alias("user_id"),
        "view_event_id",
        "view_ts",
        "error_event_id",
        "error_ts",
    )


def incremental_rollup_foreach_batch(
    events_stream: DataFrame, sink_path: str, lineage: str | None = None
):
    """foreachBatch incremental MATERIALIZED rollup: maintain a durable
    hourly (window_start, event_type) aggregate table under appends —
    the materialized-view-maintenance pattern on plain parquet.

    Each micro-batch: aggregate the batch, read back ONLY the sink
    partitions (day=...) the batch touches (partition pruning), merge by
    summing, and rewrite JUST those partitions via dynamic partition
    overwrite. Untouched days are never read or written, so maintenance
    cost scales with the batch's time locality, not table history.
    Counters are integer cents (exact merge — no float re-aggregation
    drift across arbitrary batch splits); `sum_value` derives at read
    time as cents/100.

    Retry idempotency: each merged row carries ``(last_run,
    last_batch)`` — the lineage token and batch id of the latest fold
    into its partition. foreachBatch is at-least-once (write can
    succeed while the checkpoint commit is lost); a re-executed batch
    sees its own ``(lineage, id)`` already recorded in the touched
    partitions and SKIPS, where a bare read-merge-write would fold the
    batch in twice and silently inflate the counters. The guard is
    scoped by ``lineage`` (see ``_lineage_token``): pass the
    checkpoint path for cross-restart retry coverage; a restarted
    stream under a NEW lineage folds its batches normally instead of
    mistaking them for replays of a prior run's colliding batch ids —
    the silent-loss mode the IVF ingest log once had."""
    run_token = _lineage_token(lineage)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        e = batch_df
        if dict(e.dtypes).get("ts") == "bigint":  # nanos-as-long parquet
            e = e.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        b = (
            e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(
                    F.round(F.col("value").cast("decimal(18,2)") * 100).cast("long")
                ).alias("sum_cents"),
            )
            .select(
                F.col("w.start").alias("window_start"),
                F.to_date(F.col("w.start")).alias("day"),
                "event_type",
                "n_events",
                "sum_cents",
            )
        )
        days = [r["day"] for r in b.select("day").distinct().collect()]
        sink = _read_sink_or_none(spark, sink_path, {"mergeSchema": "true"})
        if sink is not None:
            old = sink.where(F.col("day").isin(days))
            # re-executed batch OF THIS LINEAGE: its (run, id) is
            # already folded into every partition it touches (the
            # overwrite is one committed job) — applying again would
            # double-count. A different lineage's batch ids say
            # nothing (they restart at 0), so they never match.
            if "last_run" in old.columns and old.where(
                (F.col("last_run") == run_token)
                & (F.col("last_batch") >= batch_id)
            ).limit(1).count():
                return
            merged = (
                b.unionByName(
                    old.select(
                        "window_start", "day", "event_type",
                        "n_events", "sum_cents",
                    )
                )
                .groupBy("window_start", "day", "event_type")
                .agg(
                    F.sum("n_events").alias("n_events"),
                    F.sum("sum_cents").alias("sum_cents"),
                )
            )
        else:  # first batch: no sink yet
            merged = b
        # every row of a touched partition reflects this fold
        merged = merged.withColumn("last_run", F.lit(run_token)).withColumn(
            "last_batch", F.lit(int(batch_id))
        )
        # materialize before writing: the merge plan READS the sink path
        # it is about to overwrite (Spark rejects self-overwrite on file
        # sources). localCheckpoint truncates the lineage; a table
        # format with MERGE (Delta/Iceberg) replaces this dance 1:1.
        _write_slot(merged.localCheckpoint(eager=True), sink_path, ("day",))

    return scoped_foreach_batch(events_stream, handle)


def incremental_cms_foreach_batch(
    events_stream: DataFrame,
    sink_path: str,
    key_col: str = "user_id",
    depth: int = 3,
    width: int = 512,
    lineage: str | None = None,
):
    """foreachBatch streaming count-min sketch (the streamed form of
    ``sketches.cms_sketch``): each micro-batch writes its PARTIAL
    sketch — the per-(depth, bucket) counts of the batch — into a
    (run_id, batch_id) partition of the sink; the live sketch is the
    sum-merge of all partitions (CMS cells are counters, so merge is
    plain addition — the textbook mergeable-summary property).

    Idempotency: the sink is partitioned by (run_id, batch_id) with
    dynamic partition overwrite, so a re-delivered/retried batch
    REPLACES its own partition instead of double-counting —
    exactly-once sketch cells on at-least-once batch delivery. The
    run_id level is the lineage scoping of ``_lineage_token``: under
    a bare batch_id layout a RESTARTED stream's batch 0 would clobber
    the prior run's batch-0 partial (silent undercount of everything
    that partial held). Per-batch state is at most depth×width rows
    regardless of batch size or key cardinality.
    """
    run_token = _lineage_token(lineage)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        cms_partial_write(
            batch_df, batch_id, sink_path, key_col, depth=depth,
            width=width, run_id=run_token,
        )

    return scoped_foreach_batch(events_stream, handle)


def cms_partial_write(
    batch_df: DataFrame,
    batch_id: int,
    sink_path: str,
    key_col: str,
    depth: int = 3,
    width: int = 512,
    run_id: str = "static",
) -> None:
    """One micro-batch's partial-sketch write (the foreachBatch body,
    public so re-delivery semantics are directly testable): REPLACES
    the batch's own (run_id, batch_id) sink partition via dynamic
    partition overwrite."""
    from semantic_ann_in_data_lake_spark.operators.sketches import cms_sketch

    part = cms_sketch(batch_df, key_col, depth=depth, width=width)
    _write_slot(
        part.withColumn("run_id", F.lit(run_id))
        .withColumn("batch_id", F.lit(batch_id)),
        sink_path,
        ("run_id", "batch_id"),
    )


def merged_cms_sketch(spark: SparkSession, sink_path: str) -> DataFrame:
    """Sum-merge the partial sketches into the current global CMS
    table ``(depth, bucket, cnt)`` — identical to the batch
    ``cms_sketch`` over all data the stream has absorbed."""
    return (
        spark.read.parquet(sink_path)
        .groupBy("depth", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )


def incremental_bins_foreach_batch(
    events_stream: DataFrame,
    sink_path: str,
    value_col: str = "value",
    lo: float = 0.0,
    width: float = 10.0,
    n_bins: int = 20,
    lineage: str | None = None,
):
    """foreachBatch streaming histogram — the streamed half of PSI
    drift monitoring (``operators.drift``): each micro-batch writes its
    PARTIAL fixed-width bin counts into a batch-id partition; the live
    histogram is the sum-merge (bin counts are counters — the same
    mergeable-summary contract as the CMS above). Scoring drift is
    then ``drift.psi_from_counts(baseline_bins, merged_bins)`` — a
    ≤n_bins-row computation against a baseline bin table that never
    re-reads either corpus.

    Idempotency: dynamic partition overwrite by (run_id, batch_id) —
    a retried batch replaces its own partial instead of
    double-counting, and a RESTARTED stream (fresh checkpoint, batch
    ids back at 0) lands under a new run_id instead of clobbering the
    prior run's partials (``_lineage_token``). Per-batch state:
    ≤``n_bins`` rows regardless of batch size.
    """
    run_token = _lineage_token(lineage)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        bins_partial_write(
            batch_df, batch_id, sink_path, value_col, lo, width, n_bins,
            run_id=run_token,
        )

    return scoped_foreach_batch(events_stream, handle)


def bins_partial_write(
    batch_df: DataFrame,
    batch_id: int,
    sink_path: str,
    value_col: str,
    lo: float,
    width: float,
    n_bins: int,
    run_id: str = "static",
) -> None:
    """One micro-batch's partial histogram write (public so
    re-delivery semantics are directly testable)."""
    from semantic_ann_in_data_lake_spark.operators.drift import bin_counts

    part = bin_counts(batch_df, value_col, lo, width, n_bins)
    _write_slot(
        part.withColumn("run_id", F.lit(run_id))
        .withColumn("batch_id", F.lit(batch_id)),
        sink_path,
        ("run_id", "batch_id"),
    )


def merged_bin_counts(spark: SparkSession, sink_path: str) -> DataFrame:
    """Sum-merge the partial histograms into the stream's current
    ``(bin, n)`` table — identical to batch ``drift.bin_counts`` over
    all absorbed data."""
    return (
        spark.read.parquet(sink_path)
        .groupBy("bin")
        .agg(F.sum("n").alias("n"))
    )


def incremental_winnow_foreach_batch(
    docs_stream: DataFrame,
    fp_path: str,
    pairs_path: str,
    k: int = 8,
    w: int = 4,
    min_shared: int = 4,
    max_df: int = 1_000_000,
):
    """foreachBatch streaming NEAR-VERBATIM reuse detection (the
    streamed form of ``winnow.winnow_overlap_pairs``): each
    micro-batch is winnow-fingerprinted once; a pair surfaces exactly
    when its LATER document arrives, with its COMPLETE shared-
    fingerprint count (the earlier doc's fingerprints are all in the
    sink by then, and fingerprint sets are per-doc — batch boundaries
    cannot change them). No historical re-pairing, no quadratic
    catch-up.

    ``max_df`` caps fan-out at ARRIVAL-TIME document frequency —
    measured against history + this batch. That matches the batch
    operator exactly while the cap never fires (the stream≡batch
    equality test's posture); once a fingerprint's df later grows past
    the cap the batch op would retro-drop pairs the stream already
    emitted — the documented divergence of any monotone streaming
    view of a non-monotone cap.

    Scale: per batch, fingerprinting is row-local (zero shuffle); the
    history probe is an equi-join pruned to the batch's fingerprint
    keys (partition the fp sink by a hash bucket of ``fp`` for a
    long-lived stream); both sinks are append-only with the same
    retry guards as the LSH band sink.
    """
    from semantic_ann_in_data_lake_spark.operators.winnow import (
        winnow_fingerprints,
    )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        fps = (
            winnow_fingerprints(batch_df, k=k, w=w)
            .select("doc_id", "fp")
            .distinct()
            .persist()
        )
        hist = _read_sink_or_none(spark, fp_path)
        if hist is not None:
            # retry guard first (a re-executed committed batch must see
            # history WITHOUT itself), then prune history to the
            # batch's keys
            hist = hist.join(
                fps.select("doc_id").distinct(), "doc_id", "left_anti"
            )
            hist_hits = hist.join(
                fps.select("fp").distinct(), "fp", "left_semi"
            ).persist()
        else:
            hist_hits = None

        # arrival-time df cap: count per fp over (pruned history + batch)
        batch_cnt = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("__cb"))
        if hist_hits is not None:
            hist_cnt = hist_hits.groupBy("fp").agg(
                F.count(F.lit(1)).alias("__ch")
            )
            df_ok = (
                batch_cnt.join(hist_cnt, "fp", "left")
                .filter(
                    F.col("__cb") + F.coalesce("__ch", F.lit(0)) <= max_df
                )
                .select("fp")
            )
        else:
            df_ok = batch_cnt.filter(F.col("__cb") <= max_df).select("fp")
        fps_ok = fps.join(df_ok, "fp", "left_semi")

        a, b = fps_ok.alias("a"), fps_ok.alias("b")
        in_batch = a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        ).select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
        )
        hits = in_batch
        if hist_hits is not None:
            cross = (
                hist_hits.join(df_ok, "fp", "left_semi")
                .alias("h")
                .join(fps_ok.alias("n"), "fp")
                .select(
                    F.least("h.doc_id", "n.doc_id").alias("id_a"),
                    F.greatest("h.doc_id", "n.doc_id").alias("id_b"),
                )
            )
            hits = in_batch.unionByName(cross)
        pairs = (
            hits.groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_shared"))
            .filter(F.col("n_shared") >= min_shared)
        )
        seen = _read_sink_or_none(spark, pairs_path)
        if seen is not None:
            pairs = pairs.join(seen, ["id_a", "id_b"], "left_anti")
        pairs.write.mode("append").parquet(pairs_path)
        # fp append, retry-guarded by doc id like the band sink
        fresh = fps
        full_hist = _read_sink_or_none(spark, fp_path)
        if full_hist is not None:
            fresh = fps.join(
                full_hist.select("doc_id").distinct(), "doc_id", "left_anti"
            )
        fresh.write.mode("append").parquet(fp_path)
        fps.unpersist()
        if hist_hits is not None:
            hist_hits.unpersist()

    return scoped_foreach_batch(docs_stream, handle)


def incremental_weighted_sample_foreach_batch(
    docs_stream: DataFrame,
    sink_path: str,
    id_col: str = "doc_id",
    weight_col: str = "n_chars",
    k: int = 100,
    seed: str = "wsample:",
):
    """foreachBatch streaming weighted sampling WITHOUT replacement
    (the streamed form of ``pairs.weighted_sample``, Efraimidis–
    Spirakis A-ES): because the A-ES key is a pure content hash of
    the row id, the top-k over any prefix of the stream IS the batch
    operator's answer on the rows seen so far — maintaining the
    sample incrementally is just "union the k-row sink with the new
    batch's keys, keep the k smallest". Stream ≡ batch equality is
    EXACT, not approximate.

    Exactly-once story: the state is deterministic from row content —
    a re-delivered batch contributes identical keys, id-dedup absorbs
    it, and a replayed overwrite rewrites the same k rows. State size
    is k rows regardless of stream length; the k-row pool collects to
    the driver before the overwrite because Spark cannot lazily read
    and overwrite the same parquet path in one job (bounded by k, the
    synonym-loop discipline).
    """
    from semantic_ann_in_data_lake_spark.operators.pairs import (
        weighted_sample,
    )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        fresh = weighted_sample(
            batch_df, id_col, weight_col, k=k, seed=seed
        )
        seen = _read_sink_or_none(spark, sink_path)
        pool = (
            fresh if seen is None
            else fresh.unionByName(seen).dropDuplicates([id_col])
        )
        rows = (
            pool.orderBy(F.col("sample_key").asc(), F.col(id_col).asc())
            .limit(k)
            .collect()
        )
        spark.createDataFrame(rows, pool.schema).write.mode(
            "overwrite"
        ).parquet(sink_path)

    return scoped_foreach_batch(docs_stream, handle)


def incremental_quality_monitor_foreach_batch(
    docs_stream: DataFrame, sink_path: str, lineage: str | None = None
):
    """foreachBatch streaming corpus-quality monitor: run the SAME
    five-stage curation funnel as the batch gate
    (``operators/funnel.py::curation_funnel``) over every micro-batch
    and land the per-stage survivor/token counts as a time series —
    the ingest-health dashboard feed (a collapsing entropy band or a
    lang_en cliff in a batch flags an upstream corpus regression one
    trigger interval after it happens).

    Sink layout: parquet partitioned by ``(run_id, batch_id)``; each
    batch's 5 rows land via dynamic partition overwrite, so the write
    is exactly-once under foreachBatch retries (the funnel is
    deterministic — a replayed batch rewrites identical rows; the
    same (run, batch) idempotency pattern as the CMS/histogram
    partial sinks). ``lineage`` scopes the run id (pass the
    checkpoint path for cross-restart stability; default = one token
    per writer incarnation).
    """
    from semantic_ann_in_data_lake_spark.operators.funnel import (
        curation_funnel,
    )

    run_token = _lineage_token(lineage)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        _write_slot(
            curation_funnel(batch_df)
            .withColumn("run_id", F.lit(run_token))
            .withColumn("batch_id", F.lit(int(batch_id))),
            sink_path,
            ("run_id", "batch_id"),
        )

    return scoped_foreach_batch(docs_stream, handle)
