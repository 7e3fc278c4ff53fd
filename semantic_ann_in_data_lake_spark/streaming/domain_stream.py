"""Streaming per-domain admission cap: the ingest-time form of the
batch corpus-balance lever (operators/domains.py::cap_per_domain).

A web-crawl ingest admits documents as they arrive; the no-single-
domain-dominates cap must therefore be enforced ONLINE — once a
registrable domain has n admitted documents, later arrivals from it
are dropped at the door instead of post-hoc. First-arrival-wins
(within a batch, lowest id first) makes the admitted set deterministic
and, when files arrive in id order, IDENTICAL to the batch operator's
keep set over the full log — the stream ≡ batch pin the test asserts.

Malformed URLs (``parse_url`` → NULL host, or hosts that ARE a public
suffix → NULL registrable domain) are bucketed under the sentinel
domain ``__invalid__`` BEFORE quota math: NULL keys match no equi-join
row, so a NULL-keyed domain would restart its quota from zero every
micro-batch while the batch operator caps it as one (NULL) group —
the sentinel keeps stream ≡ batch and makes the cap actually bind on
junk-URL floods.

State: the admitted sink, one batch-slot partition ``(run_id,
batch_id)`` per batch (``profile_stream._write_slot``), and a compact
state table ``<sink>__state`` of per-domain ``(used_pre, used_post)``
admitted counts plus the ``(max_seen_pre, max_seen_post)`` id
frontier, one ``epoch = batch_id % 2`` slot per batch. A NULL-domain
marker row keeps the slot present for an all-rejected batch.

Merge: counts ADD. Batch b ranks against the counts after b−1 (its
``used_post``); the crash replay of a run's first batch, whose own
slot already landed, ranks against that slot's ``used_pre`` — so a
replay recomputes the identical admitted set. When neither slot
exists (fresh checkpoint over an existing sink, legacy sink) the
counts and max admitted id are rebuilt ONCE from the full sink
(``_bootstrap_from_sink``); steady-state reads stay state-sized
(≤ 2·(n_domains+1) rows). Rows at or below the frontier are
redeliveries (files arrive in id order); previously REJECTED rows
above a rebuilt frontier re-enter quota math and lose again, since a
domain that rejected a row is at cap for good (the admitted set is
append-only). Cross-restart exactly-once needs a stable ``lineage``
(pass the checkpoint path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from semantic_ann_in_data_lake_spark.streaming.profile_stream import (
    _lineage_token,
    _read_sink_or_none,
    _state_headers,
    _write_slot,
    scoped_foreach_batch,
)

#: quota bucket for rows whose URL yields no registrable domain
INVALID_DOMAIN = "__invalid__"


def _bootstrap_from_sink(
    spark: SparkSession, sink_path: str, id_col: str
) -> tuple[DataFrame | None, object]:
    """(per-domain admitted counts, max admitted id) rebuilt from the
    FULL admitted sink — the once-per-run-restart path (tests spy on
    this to pin that steady-state triggers never call it)."""
    sink = _read_sink_or_none(spark, sink_path)
    if sink is None:
        return None, None
    counts = sink.groupBy("domain").agg(F.count(F.lit(1)).alias("used"))
    mx = sink.agg(F.max(id_col).alias("mx")).collect()[0]["mx"]
    return counts, mx


def incremental_domain_cap_foreach_batch(
    docs_stream: DataFrame,
    sink_path: str,
    n_per_domain: int,
    id_col: str = "doc_id",
    lineage: str | None = None,
):
    """foreachBatch per-domain admission: sink rows are the ADMITTED
    documents ``(doc_id, domain)`` partitioned by ``(run_id,
    batch_id)``. Quota left for a domain = cap − already-admitted;
    within a batch candidates rank by id so the admitted set is
    deterministic under repartitioning and retries."""
    from semantic_ann_in_data_lake_spark.operators import domains as D

    run_token = _lineage_token(lineage)
    state_path = sink_path + "__state"
    cap = int(n_per_domain)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        b = int(batch_id)
        id_type = batch_df.schema[id_col].dataType.simpleString()
        cand = batch_df.select(
            F.col(id_col),
            F.coalesce(
                D.registrable_domain(D.url_host("url")),
                F.lit(INVALID_DOMAIN),
            ).alias("domain"),
        )

        mine, hdrs = _state_headers(
            spark, state_path, run_token, ("max_seen_pre", "max_seen_post")
        )
        if b - 1 in hdrs or b in hdrs:
            # steady state (and the common replay) ranks against the
            # counts AFTER b−1; the crash replay of the run's FIRST
            # batch, whose own slot already committed, ranks against
            # that slot's pre-b counts
            at, side = (b - 1, "post") if b - 1 in hdrs else (b, "pre")
            base = mine.where(
                (F.col("as_of_batch") == at) & F.col("domain").isNotNull()
            ).select("domain", F.col(f"used_{side}").alias("used"))
            max_seen = hdrs[at][f"max_seen_{side}"]
        else:
            # run identity changed (fresh checkpoint / legacy sink):
            # one full-sink rebuild, then incremental again
            base, max_seen = _bootstrap_from_sink(spark, sink_path, id_col)

        if base is not None:
            # truncate lineage: the state/sink frames feeding `base`
            # share a root path with the partitions the two writes
            # below overwrite — an eager local checkpoint (state-sized
            # in steady state) makes both writes read-free of their
            # own output
            base = base.localCheckpoint(eager=True)

        if max_seen is not None:
            # id-ordered-arrival redelivery guard (the streaming legs'
            # shared contract): rows at/below the frontier are
            # at-least-once redeliveries of admitted-or-rejected rows
            cand = cand.where(F.col(id_col) > F.lit(max_seen))

        w = Window.partitionBy("domain").orderBy(F.col(id_col).asc())
        ranked = cand.withColumn("__rn", F.row_number().over(w))
        if base is not None:
            ranked = ranked.join(F.broadcast(base), "domain", "left")
            left = F.lit(cap) - F.coalesce(F.col("used"), F.lit(0))
        else:
            left = F.lit(cap)
        admitted = ranked.where(F.col("__rn") <= left).select(
            id_col, "domain"
        )
        _write_slot(
            admitted.withColumn("run_id", F.lit(run_token))
            .withColumn("batch_id", F.lit(b)),
            sink_path,
            ("run_id", "batch_id"),
            sort=(id_col,),
        )

        # fold the batch into the state snapshot: used_pre = counts
        # before this batch (what a replay must rank against),
        # used_post = after
        batch_counts = admitted.groupBy("domain").agg(
            F.count(F.lit(1)).alias("__add")
        )
        if base is not None:
            merged = base.join(batch_counts, "domain", "full").select(
                "domain",
                F.coalesce(F.col("used"), F.lit(0))
                .cast("long")
                .alias("used_pre"),
                (
                    F.coalesce(F.col("used"), F.lit(0))
                    + F.coalesce(F.col("__add"), F.lit(0))
                )
                .cast("long")
                .alias("used_post"),
            )
        else:
            merged = batch_counts.select(
                "domain",
                F.lit(0).cast("long").alias("used_pre"),
                F.col("__add").cast("long").alias("used_post"),
            )
        batch_mx = cand.agg(F.max(id_col).alias("mx")).collect()[0]["mx"]
        post_mx = max(
            (m for m in (max_seen, batch_mx) if m is not None),
            default=None,
        )
        # marker row (NULL domain): state must exist even for an
        # all-rejected or empty batch so the scalars advance
        marker = merged.sparkSession.createDataFrame(
            [(None, 0, 0)], "domain string, used_pre long, used_post long"
        )
        _write_slot(
            merged.unionByName(marker)
            .withColumn("run_id", F.lit(run_token))
            .withColumn("as_of_batch", F.lit(b))
            .withColumn("max_seen_pre", F.lit(max_seen).cast(id_type))
            .withColumn("max_seen_post", F.lit(post_mx).cast(id_type))
            .withColumn("epoch", F.lit(b % 2)),
            state_path,
            ("epoch",),
        )

    return scoped_foreach_batch(docs_stream, handle)
