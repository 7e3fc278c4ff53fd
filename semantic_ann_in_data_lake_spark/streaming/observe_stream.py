"""Streaming observability: per-trigger watermark-lag / late-data
metrics as a queryable time series.

Extension beyond the reference (no streaming there, SURVEY §2.10) —
the operational leg the quality monitor started: a stream owner needs
to SEE watermark advance, event-time lag, and late-row counts per
trigger to size the watermark delay and catch upstream clock skew or
stalled producers. Structured Streaming exposes these in transient
query progress events; this sink lands them durably, exactly-once,
next to the data.

Watermark semantics replicated (not scraped): Spark advances the
event-time watermark at batch boundaries to ``max event time seen in
PRIOR batches − delay``. The metrics job computes exactly that from
its own sink (max over earlier batches of this lineage), so the
numbers are deterministic, replayable, and testable against a batch
fold — no dependency on listener timing.

State: the metrics sink, one batch-slot partition ``(run_id,
batch_id)`` per batch (``profile_stream._write_slot``), and a one-row
state slot per batch in ``<sink>__state`` (``epoch = batch_id % 2``)
holding the running max event time as ``(basis_pre, basis_post)``.

Merge: MAX. Batch b takes the b−1 slot's ``basis_post``; the crash
replay of a batch whose own slot already landed takes that slot's
``basis_pre`` (a retried batch must not see its own partial through
the watermark), so a replay rewrites its metrics partition
byte-identically. Per trigger that is a 2-row state read, not a
re-scan of all earlier metric rows. Only when neither slot exists
(fresh checkpoint, legacy sink) is the basis rebuilt once from the
run's strictly-earlier metric rows (``_bootstrap_basis``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from semantic_ann_in_data_lake_spark.functions.dates import epoch_us
from semantic_ann_in_data_lake_spark.streaming.profile_stream import (
    _lineage_token,
    _read_sink_or_none,
    _state_headers,
    _write_slot,
    normalize_event_ts,
    scoped_foreach_batch,
)


def _batch_metrics(
    batch_df: DataFrame, watermark_us: int | None
) -> tuple[int, int | None, int]:
    """(n_rows, max_event_us, late_rows) of one micro-batch under the
    given watermark (None = watermark not yet established)."""
    e = normalize_event_ts(batch_df)
    us = epoch_us(F.col("ts"))
    late = (
        F.lit(0).cast("long")
        if watermark_us is None
        else F.sum((us < F.lit(watermark_us)).cast("long"))
    )
    row = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.max(us).alias("mx"),
        late.alias("late"),
    ).collect()[0]
    return (
        int(row["n"]),
        None if row["mx"] is None else int(row["mx"]),
        int(row["late"] or 0),
    )


def _bootstrap_basis(
    spark: SparkSession, sink_path: str, run_token: str, batch_id: int
) -> int | None:
    """Watermark basis (max event time over this run's strictly-earlier
    batches) rebuilt from the FULL metrics sink — the once-per-run-
    restart path (tests spy on this to pin that steady-state triggers
    never call it)."""
    prior = _read_sink_or_none(spark, sink_path)
    if prior is None:
        return None
    row = (
        prior.where(
            (F.col("run_id") == run_token)
            & (F.col("batch_id") < int(batch_id))
        )
        .agg(F.max("max_event_us").alias("mx"))
        .collect()[0]
    )
    return None if row["mx"] is None else int(row["mx"])


def watermark_metrics_foreach_batch(
    events_stream: DataFrame,
    sink_path: str,
    delay_seconds: int = 60,
    lineage: str | None = None,
):
    """foreachBatch watermark/late-data metrics sink.

    Sink rows (parquet partitioned by ``run_id, batch_id``):
    ``(n_rows, max_event_us, watermark_us, late_rows, lag_us)`` where
    ``watermark_us`` = max event time over EARLIER batches of this run
    − ``delay_seconds`` (NULL until an event has been seen),
    ``late_rows`` counts this batch's events behind that watermark,
    and ``lag_us`` = this batch's max event time − watermark (how far
    ahead of the frontier fresh data runs; NULL while either side is).
    ``lineage`` scopes the run id — pass the checkpoint path for
    cross-restart stability.
    """
    run_token = _lineage_token(lineage)
    state_path = sink_path + "__state"
    delay_us = int(delay_seconds) * 1_000_000

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        b = int(batch_id)
        _, hdrs = _state_headers(
            spark, state_path, run_token, ("basis_pre", "basis_post")
        )
        if b - 1 in hdrs:
            # steady state (and the common replay): max event time
            # over batches ≤ b−1
            basis = hdrs[b - 1]["basis_post"]
        elif b in hdrs:
            # crash replay after this batch's own state write landed:
            # a RETRIED batch must not see its own prior partial
            # through the watermark — the pre-batch scalar is exactly
            # the strictly-earlier max
            basis = hdrs[b]["basis_pre"]
        else:
            # run identity changed (fresh checkpoint / legacy sink):
            # rebuild the frontier once from the run's strictly-earlier
            # metric rows, then reads are state-sized again (the
            # state-sized-reads test spies on _bootstrap_basis)
            basis = _bootstrap_basis(spark, sink_path, run_token, b)
        basis = None if basis is None else int(basis)
        wm_us = None if basis is None else basis - delay_us
        n, mx, late = _batch_metrics(batch_df, wm_us)
        lag = None if (mx is None or wm_us is None) else mx - wm_us
        _write_slot(
            spark.createDataFrame(
                [(n, mx, wm_us, late, lag)],
                "n_rows long, max_event_us long, watermark_us long,"
                " late_rows long, lag_us long",
            )
            .withColumn("run_id", F.lit(run_token))
            .withColumn("batch_id", F.lit(b)),
            sink_path,
            ("run_id", "batch_id"),
        )
        post = max((v for v in (basis, mx) if v is not None), default=None)
        _write_slot(
            spark.createDataFrame(
                [(run_token, b, basis, post, b % 2)],
                "run_id string, as_of_batch long, basis_pre long,"
                " basis_post long, epoch int",
            ),
            state_path,
            ("epoch",),
        )

    return scoped_foreach_batch(events_stream, handle)


def watermark_metrics_replay(
    batches: list[DataFrame], delay_seconds: int = 60
) -> list[dict]:
    """Batch twin: fold the SAME watermark-advance rule over an
    in-order list of batch frames and return one metrics dict per
    batch — what the streaming sink must contain for the same file
    sequence (the stream ≡ batch pin)."""
    delay_us = int(delay_seconds) * 1_000_000
    out: list[dict] = []
    seen_max: int | None = None
    for i, b in enumerate(batches):
        wm = None if seen_max is None else seen_max - delay_us
        n, mx, late = _batch_metrics(b, wm)
        out.append(
            {
                "batch_id": i,
                "n_rows": n,
                "max_event_us": mx,
                "watermark_us": wm,
                "late_rows": late,
                "lag_us": None if (mx is None or wm is None) else mx - wm,
            }
        )
        if mx is not None and (seen_max is None or mx > seen_max):
            seen_max = mx
    return out
