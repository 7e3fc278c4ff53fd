"""Structured Streaming extensions (SURVEY §2.10: extension, not parity).

The reference is batch-only; the streaming surface generalizes its
profiling, dedup, sketching, projection and graph stages to
append-only sources. Every leg has a batch twin it is tested against.

The legs:

- ``profile_stream`` — the watermarked hourly rollup (memory sink and
  the materialized ``day``-partitioned rollup), incremental embedding,
  exact and near-duplicate dedup sinks, engine-native watermark dedup,
  the stream-stream interval join, count-min and histogram partial
  sinks, winnow reuse detection, weighted sampling and the curation
  quality monitor; it also holds the shared exactly-once helpers;
- ``hll_stream`` — HLL register accumulation (distinct counts);
- ``pca_stream`` — exact covariance-moment accumulation (PCA fit);
- ``graph_stream`` — canonical edge sink plus incremental per-node
  degree and triangle counts;
- ``domain_stream`` — the online per-domain admission cap;
- ``observe_stream`` — per-trigger watermark-lag / late-data metrics;
- ``cc_stream`` — incremental connected components over near-dup pairs;
- ``index_stream`` — appends into the persistent IVF index;
- ``sessionize`` — ``applyInPandasWithState`` sessionization;
- ``scd2_stream`` — the SCD2 changelog of per-key state changes;
- ``ewma_stream`` — per-key decayed score as live state.

The ``foreachBatch`` legs that must be exactly-once on at-least-once
delivery share two layouts, both written by
``profile_stream._write_slot`` (dynamic partition overwrite, so a
replayed batch replaces its own partition):

- the batch-slot sink: one partition per ``(run_id, batch_id)`` holding
  that batch's output (domain, observe, graph edges, count-min, bins,
  quality monitor; the rollup rewrites the ``day`` partitions a batch
  touches);
- the as_of state chain: state rows stamped with ``as_of_batch`` in two
  ``epoch = batch_id % 2`` slots, batch b reading b−1 and overwriting
  its own (hll, pca, graph via ``profile_stream._prior_state``; domain
  and observe share the header read and keep their own replay rule).

``run_id`` is the lineage token (``profile_stream._lineage_token``):
batch ids restart at 0 under a fresh checkpoint, so every guard is
scoped to one lineage.
"""
