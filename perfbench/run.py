"""The repository's benchmark: seeded workloads through the package's
public functions, one client in a closed loop on ``local[nproc]``, every
op's output checked.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Inputs are generated from ``--seed``
under ``.perfbench_work/`` (untimed; reused for a repeated seed). Each
run starts a fresh Python process with a cold Spark session, runs one
warm-up op, then ops until ``--seconds`` have passed, every op kind of
the workload has been sampled and its minimum op count is reached. The
last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``). The lines before
it are a report that adds ``failed_frac``, the tail's percentile and
sample count, and the ivf search and ingest latencies.

Workloads (``BENCHMARK.json`` lists the measured ones, and why):

- ``lake_discovery``: a 3-table CSV lake through read, profile and
  distinct sample, annotate, serialize, embed, kNN, threshold and
  P/R/F1. Every op must give the same result hash and the planted
  truth's expected counts.
- ``ivf_ingest_search``: a standing IVF index over a 50,000-vector
  corpus under rounds of two top-10 searches and one 200-vector
  refresh. Every returned distance is recomputed in numpy.
- ``semlink_grid``, run by hand only (its runs would push a full
  measurement round past the benchmark's time budget):
  ``grid_evaluate_discovery(strategy="exact")`` over 2,000 x 64
  labelled-cluster embeddings, checked against the DuckDB oracle of the
  registry entry ``grid_eval_discovery``.

End-to-end metrics, each in the workload's own unit of work:

- ``setup_s``: process spawn to warm session (JVM start, first job,
  first Python worker fork) plus the warm-up op, which runs at 1.5-3x
  the steady time and is kept out of the op samples;
- ``op_p50_s`` / ``op_tail_s``: latency of the workload's read op (the
  lake job; an ivf search). The tail is the highest percentile with at
  least 10 samples beyond it, or the median when a run has fewer;
- ``rows_per_s``: input rows per second of op time (ivf: vectors
  ingested per second of refresh time);
- ``queries_per_s``: queries answered per second of op time (lake:
  column profiles; ivf and grid: query vectors);
- ``recall_at_k``: lake: recall against the planted pairs; ivf:
  recall@10 against numpy's exact top-10; grid: label recall of the
  k = 25, tau = 0.4 cell;
- ``peak_rss_mb``: VmHWM of the driver Python process plus the JVM.

The per-layer metrics come from a traced run (``--trace 1``) that
alternates untraced ops with traced ones. A traced op calls each
layer's public function on materialised input and reads the stages of
its jobs from Spark's status store (``statusstore.py``). Each layer
metric is the median over the traced ops, and 0 where the workload does
not run the layer. ``trace.overhead_s`` is the traced ops' median time
minus the untraced ones'.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "semantic_ann_in_data_lake_spark"
WORK = os.path.join(ROOT, ".perfbench_work")
#: one run must end well inside the 180 s the contract allows
CHILD_TIMEOUT_S = 170
#: driver heap, fixed (-Xms = -Xmx, see worker.start_session) so the
#: JVM's resident set does not depend on when G1 chose to grow the heap
DRIVER_MEM = "2g"

LAYERS = ["sources", "profiler", "annotate", "knn", "evaluation", "cache", "ivf_index"]
LAYER_FIELDS = [
    ("wall_s", "s"), ("driver_s", "s"), ("executor_run_s", "s"),
    ("jvm_cpu_s", "s"), ("python_s", "s"), ("gc_s", "s"),
    ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes"),
    ("tasks", "count"), ("single_task_stages", "count"),
]
LAYER_COUNTS = [
    ("session.start_s", "s"), ("session.worker_warm_s", "s"),
    ("sources.rows_read", "rows"), ("annotate.texts_embedded", "count"),
    ("knn.pairs_scored", "count"), ("knn.useful_ratio", "ratio"),
    ("cache.bytes_cached", "bytes"), ("ivf_index.scan_fraction", "ratio"),
    ("ivf_index.cell_files", "count"), ("ivf_index.refresh_wall_s", "s"),
    ("trace.overhead_s", "s"),
]
PER_LAYER = [(f"{layer}.{f}", u) for layer in LAYERS for f, u in LAYER_FIELDS] + LAYER_COUNTS
END_TO_END = [
    ("setup_s", "s"), ("op_p50_s", "s"), ("op_tail_s", "s"),
    ("rows_per_s", "1/s"), ("queries_per_s", "1/s"),
    ("recall_at_k", "ratio"), ("peak_rss_mb", "MiB"),
]
#: the op kind whose latency is op_p50_s / op_tail_s
READ_KIND = {"semlink_grid": "op", "lake_discovery": "op", "ivf_ingest_search": "search"}


def tail(values):
    """(value, percentile) of the highest percentile with at least 10
    samples beyond it; the median when there are too few samples."""
    xs = sorted(values)
    n = len(xs)
    rank = n - 10  # 1-based rank with exactly 10 samples above it
    if rank < math.ceil(n / 2):
        return statistics.median(xs), 50.0
    return xs[rank - 1], 100.0 * rank / n


def spawn(args, out, env, log):
    """Run one worker process in its own process group; wait for it and
    for everything it started (JVM, Python workers) to end."""
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"), *args,
        "--work", WORK, "--out", out, "--spawned-at", repr(time.time()),
    ]
    with open(log, "ab") as lf:
        proc = subprocess.Popen(
            cmd, env=env, cwd=ROOT, stdout=lf, stderr=lf, start_new_session=True
        )
        try:
            code = proc.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        _reap_group(proc.pid)
        if code is None:
            proc.wait()
    if code != 0 or not os.path.exists(out):
        raise RuntimeError(f"worker failed (exit {code}); log: {log}")
    with open(out) as f:
        return json.load(f)


def _reap_group(pgid, grace_s=15.0):
    """Wait until no process of the group is left: SIGTERM after half of
    ``grace_s``, SIGKILL after all of it."""
    start = time.time()
    while True:
        try:
            os.killpg(pgid, 0)
            waited = time.time() - start
            if waited > grace_s / 2:
                os.killpg(pgid, signal.SIGKILL if waited > grace_s else signal.SIGTERM)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def summarize(workload, res, trace):
    samples = res["samples"]
    every = res["warmup"] + samples + res.get("traced", [])
    failed = sum(1 for s in every if not s["ok"])
    report = {"failed_frac": failed / max(1, len(every)), "attempted": len(every)}
    # failed ops keep their latency: a failure is not a fast answer
    by_kind: dict[str, list[float]] = {}
    for s in samples:
        by_kind.setdefault(s["kind"], []).append(s["s"])
    reads = by_kind.get(READ_KIND[workload], [])
    q = res["quality"]
    if trace:
        metrics = layer_metrics(res, reads)
    else:
        p50 = statistics.median(reads)
        tail_s, pct = tail(reads)
        report.update(op_samples=len(reads), op_tail_percentile=pct)
        if workload == "ivf_ingest_search":
            ingests = by_kind["ingest"]
            rows_per_s = res["rows"] / statistics.median(ingests)
            report["ingest_p50_s"] = statistics.median(ingests)
            report["search_p50_s"] = p50
            report["search_tail_s"] = tail_s
        else:
            rows_per_s = res["rows"] / p50
        if "f1" in q:
            report["f1"] = q["f1"]
        metrics = {
            "setup_s": res["setup_s"],
            "op_p50_s": p50,
            "op_tail_s": tail_s,
            "rows_per_s": rows_per_s,
            "queries_per_s": res["queries"] / p50,
            "recall_at_k": q["recall_at_k"],
            "peak_rss_mb": res["peak_rss_mb"],
        }
    return metrics, failed, len(every), report


def layer_metrics(res, untraced):
    """Per-op medians of each layer's self totals over the traced ops."""
    ops = res["layers"]
    out = {}
    for layer in LAYERS:
        for field, _ in LAYER_FIELDS:
            out[f"{layer}.{field}"] = _median_of(ops, layer, field)
    out["session.start_s"] = res["session_start_s"]
    out["session.worker_warm_s"] = res["worker_warm_s"]
    out["sources.rows_read"] = _median_of(ops, "sources", "rows_read")
    out["annotate.texts_embedded"] = _median_of(ops, "annotate", "texts_embedded")
    pairs = _median_of(ops, "knn", "pairs_scored")
    out["knn.pairs_scored"] = pairs
    out["knn.useful_ratio"] = _median_of(ops, "knn", "rows_returned") / pairs if pairs else 0.0
    out["cache.bytes_cached"] = _median_of(ops, "cache", "bytes_cached")
    out["ivf_index.scan_fraction"] = _median_of(ops, "ivf_index", "scan_fraction")
    out["ivf_index.cell_files"] = _median_of(ops, "ivf_index", "cell_files")
    writes = res.get("write_layers", [{}])
    out["ivf_index.refresh_wall_s"] = _median_of(writes, "ivf_index", "refresh_wall_s")
    traced = [s["s"] for s in res["traced"]]
    out["trace.overhead_s"] = statistics.median(traced) - statistics.median(untraced)
    return out


def _median_of(ops, layer, field):
    vals = [op[layer][field] for op in ops if field in op.get(layer, {})]
    return statistics.median(vals) if vals else 0.0


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(READ_KIND))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the smoke test uses a tiny one)")
    ap.add_argument("--corrupt", type=int, choices=[0, 1], default=0,
                    help="perturb every op's answer before its check")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import gen

    os.makedirs(WORK, exist_ok=True)
    inputs, meta = gen.generate(args.workload, args.seed, args.scale, WORK)
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p
    )
    env["TMPDIR"] = os.path.join(WORK, "tmp")
    # no /tmp/hsperfdata_<user> files from the JVMs spark-submit starts
    env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    env.setdefault("SPARK_DRIVER_MEM", DRIVER_MEM)
    os.makedirs(env["TMPDIR"], exist_ok=True)
    log = os.path.join(WORK, f"{args.workload}-s{args.seed}-t{args.trace}.log")
    res = spawn(
        [
            "--workload", args.workload, "--inputs", inputs,
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--corrupt", str(args.corrupt),
        ],
        os.path.join(WORK, "result.json"), env, log,
    )
    metrics, failed, attempted, report = summarize(args.workload, res, args.trace)
    units = dict(PER_LAYER if args.trace else END_TO_END)
    for name, value in {**report, **metrics}.items():
        print(f"{args.workload}  {name:<34} {value!r:>24}  {units.get(name, '')}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
