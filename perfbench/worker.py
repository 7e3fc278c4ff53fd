"""One benchmark process: start a Spark session, warm it, then run one
workload's ops in a closed loop (one client; each op waits for the
previous one) and write the samples to a JSON file.

Started by ``run.py`` in a fresh interpreter, so the session start it
reports is a real cold start::

    python3 perfbench/worker.py --workload semlink_grid --inputs DIR \\
        --work DIR --seconds 10 --trace 0 --spawned-at EPOCH --out FILE

``--trace 1`` alternates untraced and traced ops and records layer
spans for the traced ones.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def start_session(work_dir: str):
    """SparkSession on ``local[nproc]`` plus the first SQL job and the
    first Python worker fork. Returns (spark, start_s, worker_warm_s)."""
    from semantic_ann_in_data_lake_spark.session import get_spark

    def passthrough(batches):  # nested: pickled by value for the workers
        yield from batches

    cpus = os.cpu_count() or 1
    heap = os.environ.get("SPARK_DRIVER_MEM", "2g")
    local = os.path.join(work_dir, "spark-local")
    os.makedirs(local, exist_ok=True)
    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local,
            # fixed heap: -Xmx comes from SPARK_DRIVER_MEM via get_spark
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local} -Xms{heap}",
        },
    )
    spark.range(1000).selectExpr("sum(id)").collect()
    t1 = time.perf_counter()
    spark.range(0, 4 * cpus, 1, cpus).mapInPandas(passthrough, "id long").count()
    t2 = time.perf_counter()
    return spark, t1 - t0, t2 - t1


# --------------------------------------------------------------------------
# workloads
# --------------------------------------------------------------------------

class SemlinkGrid:
    """``grid_evaluate_discovery(strategy="exact")`` + ``collect()`` over
    the generated embeddings; checked against the DuckDB oracle. Not in
    ``BENCHMARK.json`` (see run.py); run it by hand."""

    warmup_ops = 1
    kinds = {"op"}
    min_ops = 1

    def __init__(self, spark, inputs, meta):
        self.spark, self.dir = spark, inputs
        self.expected = meta["grid"]
        self.n_rows = self.n_queries = meta["rows"]

    def ops(self):
        while True:
            yield "op", self.op

    def op(self):
        from semantic_ann_in_data_lake_spark.cache import cache_scope
        from semantic_ann_in_data_lake_spark.plans.pipeline import (
            grid_evaluate_discovery,
        )

        with cache_scope():
            rows = grid_evaluate_discovery(self.spark, self.dir, strategy="exact").collect()
        return [r.asDict() for r in rows]

    def check(self, kind, out):
        got = sorted(out, key=lambda r: (r["k"], r["tau"]))
        return len(got) == len(self.expected) and all(
            _row_equal(g, e) for g, e in zip(got, self.expected)
        )

    def quality(self, outs):
        """Label recall of the (k_max, tau_max) cell: the SemLink
        retrieval recall at k = 25."""
        cell = max(outs[-1], key=lambda r: (r["k"], r["tau"]))
        return {"recall_at_k": cell["recall"]}

    def traced_op(self, tr):
        from semantic_ann_in_data_lake_spark.cache import cache_scope
        from semantic_ann_in_data_lake_spark.operators.knn import knn_join
        from semantic_ann_in_data_lake_spark.plans.pipeline import (
            GRID_KS,
            grid_evaluate_discovery,
            load_embeddings,
        )

        with tr.span("sources") as s:
            emb = load_embeddings(self.spark, self.dir).persist()
            n = emb.count()
            s.counts["rows_read"] = n
        with tr.span("knn") as knn_span:
            knn = knn_join(emb, emb, k=max(GRID_KS), strategy="exact").persist()
            returned = knn.count()
            # the exact kernel scores every (query, candidate) pair
            knn_span.counts["pairs_scored"] = n * n
            knn_span.counts["rows_returned"] = returned
        knn.unpersist(blocking=True)
        emb.unpersist(blocking=True)
        scope = cache_scope()
        scope.__enter__()
        before = _cached_bytes(self.spark)
        try:
            with tr.span("evaluation", covers=knn_span):
                out = grid_evaluate_discovery(
                    self.spark, self.dir, strategy="exact"
                ).collect()
            cached = _cached_bytes(self.spark) - before
        finally:
            with tr.span("cache") as s:
                scope.__exit__(None, None, None)
                s.counts["bytes_cached"] = cached
        return [r.asDict() for r in out]


class LakeDiscovery:
    """The column-discovery batch job over a CSV lake: read → profile +
    distinct sample → annotate → serialize → embed → kNN → threshold →
    P/R/F1 against the planted truth."""

    warmup_ops = 1
    kinds = {"op"}
    #: one op is ~12 s on 4 cores; the median of three resists one
    #: outlier op
    min_ops = 3
    K = 5
    #: only identical column profiles fall inside this sqrt-L2 radius
    #: under the hash embedder (random pairs sit near 3)
    TAU = 0.5

    def __init__(self, spark, inputs, meta):
        self.spark, self.dir = spark, inputs
        with open(os.path.join(inputs, "truth.json")) as f:
            pairs = json.load(f)
        self.truth = spark.createDataFrame(pairs, "t_query string, t_cand string")
        self.expected = meta["expected"]
        self.first_hash = None
        self.n_rows, self.n_queries = meta["rows"], meta["columns"]

    def ops(self):
        while True:
            yield "op", self.op

    # the pipeline, one stage per layer; each takes and returns frames
    def read(self):
        from semantic_ann_in_data_lake_spark.sources.readers import read_csv_tables

        return read_csv_tables(self.spark, os.path.join(self.dir, "lake"))

    @staticmethod
    def profile(tables):
        from functools import reduce

        from pyspark.sql import DataFrame

        from semantic_ann_in_data_lake_spark.operators.profiler import (
            distinct_sample,
            profile_lake,
        )

        catalog = profile_lake(tables)
        samples = reduce(
            DataFrame.unionByName,
            [distinct_sample(df, name, df.columns) for name, df in tables.items()],
        )
        return catalog, samples

    def annotate(self, tables, catalog, samples):
        from pyspark.sql import functions as F

        from semantic_ann_in_data_lake_spark.annotate.annotator import annotate_tables
        from semantic_ann_in_data_lake_spark.annotate.embedder import embed_texts
        from semantic_ann_in_data_lake_spark.functions.serialize import column_to_text

        per_table = self.spark.createDataFrame(
            [(name, df.columns, "") for name, df in tables.items()],
            "table_name string, columns array<string>, sample_markdown string",
        )
        ann = annotate_tables(per_table).select(
            "table_name", F.explode("columns").alias("column_name", "clean_name")
        )
        text = (
            catalog.join(samples, ["table_name", "column_name"])
            .join(ann, ["table_name", "column_name"])
            .select(
                F.concat_ws(".", "table_name", "column_name").alias("col_key"),
                column_to_text(
                    F.col("clean_name"), F.col("num_values"), F.col("min_length"),
                    F.col("max_length"), F.col("avg_length"), F.col("values_sample"),
                ).alias("text"),
            )
        )
        return embed_texts(text, text_col="text", id_cols=("col_key",))

    def knn(self, emb):
        from semantic_ann_in_data_lake_spark.operators.knn import knn_join

        return knn_join(emb, emb, id_col="col_key", k=self.K, strategy="exact")

    def evaluate(self, knn):
        from semantic_ann_in_data_lake_spark.operators.evaluation import (
            pair_metrics_df,
            symmetric_truth,
        )
        from semantic_ann_in_data_lake_spark.operators.knn import threshold_join

        truth = symmetric_truth(self.truth, "t_query", "t_cand")
        return pair_metrics_df(threshold_join(knn, self.TAU), truth)

    def op(self):
        from semantic_ann_in_data_lake_spark.cache import cache_scope, scoped_persist

        with cache_scope():
            tables = self.read()
            catalog, samples = self.profile(tables)
            # the column embeddings feed knn_join's size probes and both
            # sides of its self-join: a job persists them once, the way
            # grid_evaluate_discovery persists its kNN
            emb = scoped_persist(self.annotate(tables, catalog, samples))
            return [r.asDict() for r in self.evaluate(self.knn(emb)).collect()]

    def check(self, kind, out):
        digest = hashlib.sha256(
            json.dumps(out, sort_keys=True, default=str).encode()
        ).hexdigest()
        if self.first_hash is None:
            self.first_hash = digest
        row = out[0] if len(out) == 1 else {}
        return digest == self.first_hash and all(
            row.get(k) == v for k, v in self.expected.items()
        )

    def quality(self, outs):
        row = outs[-1][0]
        return {"recall_at_k": row["recall"], "f1": row["f1"]}

    def traced_op(self, tr):
        from semantic_ann_in_data_lake_spark.cache import cache_scope, scoped_persist

        persisted, scope = [], None

        def keep(df):
            persisted.append(df.persist())
            return df

        try:
            with tr.span("sources") as s:
                tables = {n: keep(df) for n, df in self.read().items()}
                s.counts["rows_read"] = sum(df.count() for df in tables.values())
            with tr.span("profiler"):
                catalog, samples = self.profile(tables)
                catalog, samples = keep(catalog), keep(samples)
                catalog.count(), samples.count()
            # the untraced op persists the embeddings through the cache
            # layer: materialised in the annotate span, released in the
            # cache span
            scope = cache_scope()
            scope.__enter__()
            with tr.span("annotate") as s:
                before = _cached_bytes(self.spark)
                emb = scoped_persist(self.annotate(tables, catalog, samples))
                n = s.counts["texts_embedded"] = emb.count()
                cached = _cached_bytes(self.spark) - before
            with tr.span("knn") as s:
                knn = keep(self.knn(emb))
                s.counts["rows_returned"] = knn.count()
                # the exact tier scores every ordered pair but self-pairs
                s.counts["pairs_scored"] = n * (n - 1)
            with tr.span("evaluation"):
                out = [r.asDict() for r in self.evaluate(knn).collect()]
        finally:
            for df in persisted:
                df.unpersist()
            if scope is not None:
                with tr.span("cache") as s:
                    scope.__exit__(None, None, None)
                    s.counts["bytes_cached"] = cached
        return out


class IvfIngestSearch:
    """A standing IVF index under mixed writes and reads. Each cycle
    starts from a fresh copy of the generated index (untimed) and runs
    ``gen.ROUNDS`` rounds of ``gen.SEARCHES`` top-k ``search_ivf_index``
    calls and one ``refresh_ivf_index``."""

    warmup_ops = 1
    kinds = {"search", "ingest"}
    min_ops = 1
    NPROBE = 4

    def __init__(self, spark, inputs, meta):
        import numpy as np
        import pyarrow.parquet as pq

        self.spark, self.dir = spark, inputs
        self.index = os.path.join(os.path.dirname(inputs), "ivf-index")
        with open(os.path.join(inputs, "truth.json")) as f:
            self.truth = json.load(f)

        def frame(name):
            return spark.read.parquet(os.path.join(inputs, name))

        self.ingest = [frame(f"ingest_{r}.parquet") for r in range(gen.ROUNDS)]
        self.queries = {
            f"{r}_{s}": frame(f"queries_{r}_{s}.parquet")
            for r in range(gen.ROUNDS) for s in range(gen.SEARCHES)
        }
        # every vector, sorted by id, for the distance recompute
        names = ["corpus.parquet"] + [f"ingest_{r}.parquet" for r in range(gen.ROUNDS)]
        names += [f"queries_{key}.parquet" for key in self.queries]
        tables = [pq.read_table(os.path.join(inputs, n)) for n in names]
        ids = np.concatenate([t["vec_id"].to_numpy() for t in tables])
        mat = np.concatenate([
            t["embedding"].combine_chunks().flatten().to_numpy().reshape(len(t), -1)
            for t in tables
        ]).astype(np.float64)
        order = np.argsort(ids)
        self.ids, self.mat = ids[order], mat[order]
        self.recall_hits = 0
        self.recall_total = 0
        self.last_key = None
        self.n_rows, self.n_queries = meta["ingest_rows"], meta["query_rows"]

    def reset_index(self):
        import shutil

        shutil.rmtree(self.index, ignore_errors=True)
        shutil.copytree(os.path.join(self.dir, "index"), self.index)

    def ops(self):
        from functools import partial

        while True:
            self.reset_index()
            for r in range(gen.ROUNDS):
                for s in range(gen.SEARCHES):
                    yield "search", partial(self.search, f"{r}_{s}")
                yield "ingest", partial(self.refresh, r)

    def refresh(self, r):
        from semantic_ann_in_data_lake_spark.operators.ivf_index import refresh_ivf_index

        refresh_ivf_index(self.spark, self.index, self.ingest[r])
        return None

    def search(self, key):
        from semantic_ann_in_data_lake_spark.operators.ivf_index import search_ivf_index

        rows = search_ivf_index(
            self.spark, self.index, self.queries[key], k=gen.K, nprobe=self.NPROBE
        ).collect()
        self.last_key = key
        return key, [(r.query_id, r.cand_id, r.distance, r.rank) for r in rows]

    def check(self, kind, out):
        if kind != "search":
            return True
        import numpy as np

        key, rows = out
        want = self.truth[key]
        by_q: dict[int, list] = {q: [] for q in want["query_ids"]}
        for q, c, d, rank in rows:
            if q not in by_q:
                return False
            by_q[q].append((rank, c, d))
        if rows:
            arr = np.asarray([(q, c) for q, c, _, _ in rows], dtype=np.int64)
            a = self.mat[np.searchsorted(self.ids, arr[:, 0])]
            b = self.mat[np.searchsorted(self.ids, arr[:, 1])]
            exact = gen.sequential_l2(a, b)
            got = np.asarray([d for _, _, d, _ in rows])
            # the index returns distances rounded to 6 dp
            if not np.all(np.abs(exact - got) <= 5.000001e-7):
                return False
        hits = 0
        for q, true_top in zip(want["query_ids"], want["topk"]):
            found = sorted(by_q[q])
            if [r for r, _, _ in found] != list(range(1, len(found) + 1)):
                return False
            if len(found) > gen.K or any(
                found[i][2] > found[i + 1][2] for i in range(len(found) - 1)
            ):
                return False
            hits += len({c for _, c, _ in found} & set(true_top))
        self.recall_hits += hits
        self.recall_total += gen.K * len(want["query_ids"])
        return True

    def quality(self, outs):
        return {"recall_at_k": self.recall_hits / max(1, self.recall_total)}

    def traced_op(self, tr):
        """The search the untraced loop ran last, again, traced."""
        from semantic_ann_in_data_lake_spark.operators.ivf_index import (
            search_ivf_index,
        )

        key = self.last_key
        with tr.span("sources") as s:
            q = self.queries[key].persist()
            s.counts["rows_read"] = q.count()
        try:
            with tr.span("ivf_index") as s:
                rows = search_ivf_index(
                    self.spark, self.index, q, k=gen.K, nprobe=self.NPROBE
                ).collect()
            s.counts.update(self._scan_stats(q))
        finally:
            q.unpersist()
        return key, [(r.query_id, r.cand_id, r.distance, r.rank) for r in rows]

    def _scan_stats(self, q):
        """Share of (query, corpus vector) pairs the search scored, from
        the sizes of the probed cells; and the index's file count."""
        from pyspark.sql import functions as F

        from semantic_ann_in_data_lake_spark.operators.ivf_index import (
            assign_cells_jvm,
        )

        cells = self.spark.read.parquet(os.path.join(self.index, "cells"))
        sizes = {
            r["cell"]: r["n"]
            for r in cells.groupBy("cell").agg(F.count("*").alias("n")).collect()
        }
        cdf = self.spark.read.parquet(os.path.join(self.index, "centroids"))
        probes = assign_cells_jvm(q.select("vec_id", "embedding"), cdf, n_cells=self.NPROBE)
        scored = sum(sizes.get(r["cell"], 0) for r in probes.select("cell").collect())
        files = sum(
            1 for _, _, fs in os.walk(os.path.join(self.index, "cells"))
            for f in fs if f.endswith(".parquet")
        )
        return {
            "scan_fraction": scored / max(1, q.count() * sum(sizes.values())),
            "cell_files": files,
        }

    def traced_writes(self, tr):
        """One traced refresh of batch 0, on a scratch copy of the index
        so the loop's own index state is untouched."""
        index, self.index = self.index, self.index + "-traced"
        try:
            self.reset_index()
            with tr.span("ivf_index") as refresh:
                self.refresh(0)
        finally:
            self.index = index
        refresh.counts["refresh_wall_s"] = refresh.end - refresh.start


def _row_equal(got, want):
    if set(got) != set(want):
        return False
    for k, w in want.items():
        g = got[k]
        if isinstance(w, float) or isinstance(g, float):
            if g is None or w is None or abs(float(g) - float(w)) > 1e-9:
                return False
        elif g != w:
            return False
    return True


def _cached_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


WORKLOADS = {
    "semlink_grid": SemlinkGrid,
    "lake_discovery": LakeDiscovery,
    "ivf_ingest_search": IvfIngestSearch,
}


# --------------------------------------------------------------------------
# the loop
# --------------------------------------------------------------------------

def run_op(wl, kind, fn, samples, outs):
    t = time.perf_counter()
    try:
        out = fn()
        dt = time.perf_counter() - t
        ok = wl.check(kind, out)
    except Exception as e:  # an op that raises counts as failed
        dt = time.perf_counter() - t
        print(f"op {kind} raised: {type(e).__name__}: {e}", file=sys.stderr)
        out, ok = None, False
    samples.append({"kind": kind, "s": dt, "ok": ok})
    if ok and out is not None:
        outs.append(out)


def measure(args, spark, result):
    with open(os.path.join(args.inputs, "meta.json")) as f:
        meta = json.load(f)
    wl = WORKLOADS[args.workload](spark, args.inputs, meta)
    if args.corrupt:
        _inject_wrong_answer(wl)
    seq = wl.ops()
    warm, outs = [], []
    for _ in range(wl.warmup_ops):
        kind, fn = next(seq)
        run_op(wl, kind, fn, warm, outs)
    result["warmup"] = warm
    # reading the reference answers is the benchmark's own work
    result["setup_s"] = result["session_ready_s"] + sum(w["s"] for w in warm)

    samples: list[dict] = []
    deadline = time.perf_counter() + args.seconds
    if not args.trace:
        # past the deadline, finish the op in flight, any op kind the run
        # has not sampled yet, and up to the workload's minimum op count
        while (
            time.perf_counter() < deadline
            or not wl.kinds <= {s["kind"] for s in samples}
            or len(samples) < wl.min_ops
        ):
            kind, fn = next(seq)
            run_op(wl, kind, fn, samples, outs)
    else:
        from statusstore import Tracer

        tracer = Tracer(spark)
        if isinstance(wl, IvfIngestSearch):
            writes = Tracer(spark)
            writes.new_op()
            wl.traced_writes(writes)
            result["write_layers"] = writes.layer_totals()
        traced: list[dict] = []
        while time.perf_counter() < deadline or not traced:
            kind, fn = next(seq)
            while kind == "ingest":
                run_op(wl, kind, fn, samples, outs)
                kind, fn = next(seq)
            run_op(wl, kind, fn, samples, outs)
            tracer.new_op()
            run_op(wl, kind, lambda: wl.traced_op(tracer), traced, outs)
        result["traced"] = traced
        result["layers"] = tracer.layer_totals()
    result["samples"] = samples
    result["rows"], result["queries"] = wl.n_rows, wl.n_queries
    result["quality"] = wl.quality(outs) if outs else {"recall_at_k": 0.0}


def _inject_wrong_answer(wl):
    """Make every op return a subtly wrong answer (the benchmark's own
    test: its output checks must turn this into failed ops)."""
    real = wl.check

    def check(kind, out):
        if kind in ("op", "search"):
            out = _perturb(out)
        return real(kind, out)

    wl.check = check


def _perturb(out):
    if isinstance(out, tuple):  # ivf search: (key, rows)
        key, rows = out
        return key, [(q, c, d + 1e-3, r) for q, c, d, r in rows]
    bad = [dict(r) for r in out]
    bad[0]["tp"] = bad[0]["tp"] + 1
    return bad


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--corrupt", type=int, default=0)
    ap.add_argument("--spawned-at", type=float, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)

    spark, start_s, worker_s = start_session(args.work)
    result = {
        "session_start_s": start_s,
        "worker_warm_s": worker_s,
        "session_ready_s": time.time() - args.spawned_at,
    }
    try:
        measure(args, spark, result)
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        result["peak_rss_mb"] = vm_hwm_mb() + vm_hwm_mb(jvm_pid)
    finally:
        spark.stop()
    with open(args.out + ".tmp", "w") as f:
        json.dump(result, f)
    os.replace(args.out + ".tmp", args.out)


if __name__ == "__main__":
    main()
