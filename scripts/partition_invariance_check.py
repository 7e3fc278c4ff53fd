"""Partition-insensitivity gate: re-run gated queries under a
DELIBERATELY different parallelism (local[5], 7 shuffle partitions vs
the standard local[32]/32) and compare against the same DuckDB oracles.

A pass proves the engine-portability discipline (integer micro-unit
sums, decimal accumulation, rounded-key ranking with id tie-breaks,
content-addressed sampling) holds independent of partitioning — the
property that makes results reproducible across cluster sizes.

Rotation (round 9): the script no longer re-checks only a fixed tricky
list. It keeps its own pass record (INVARIANCE.json at the repo root,
name → sequence number of the last local[5] pass) and orders the
registry with the SAME policy as the driver gate window
(__spark_entry__.py::_gate_ordered): never-checked names first, then
stalest pass first, registration order as the tie-break. Each run
checks the TRICKY core (the queries that exercise every portability
discipline) plus the next WINDOW names of that ordering and records
the passes — so the whole registry cycles through invariance
verification across rounds exactly like correctness evidence cycles
through the driver gate.

Runs as its own process because a pytest-managed SparkSession pins one
JVM-wide SparkContext (an in-suite variant would silently reuse the
fixture's 32-thread config).

Usage: python scripts/partition_invariance_check.py [sf_dir] [window]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, "/root/repo")

RECORD_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "INVARIANCE.json",
)

#: queries whose plans exercise every portability discipline: micro-unit
#: log sums, prefix sums, sampling keys, ranking windows, set joins —
#: always re-checked, on top of the rotating window
TRICKY = [
    "dsir_select_docs",
    "winnow_fingerprints_docs",
    "winnow_overlap_pairs",
    "record_linkage_scores",
    "budget_select_docs",
    "bm25_search_docs",
    "curation_funnel_docs",
    "containment_pairs_docs",
    "char_entropy_docs",
    "tfidf_top_terms",
    "bigram_lm_scores",
    "weighted_sample_docs",
]

DEFAULT_WINDOW = 24


def _load_record() -> dict[str, int]:
    try:
        with open(RECORD_PATH) as f:
            rec = json.load(f)
        return {str(k): int(v) for k, v in rec.items()}
    except Exception:
        return {}


def _rotated(names: list[str], record: dict[str, int]) -> list[str]:
    """The registry gate's ordering policy applied to invariance
    evidence: never-checked first, then stalest pass first; sorted()
    is stable so registration order breaks ties."""
    return sorted(
        names,
        key=lambda n: (0, 0) if n not in record else (1, record[n]),
    )


def main():
    from pyspark.sql import SparkSession

    from tests._compare import compare, duckdb_con

    import __spark_entry__ as entrymod

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    window = int(sys.argv[2]) if len(sys.argv) > 2 else DEFAULT_WINDOW
    record = _load_record()
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    rotation = [
        n for n in _rotated(list(qs), record) if n not in TRICKY
    ][:window]
    selected = TRICKY + rotation
    run_seq = max(record.values(), default=0) + 1

    spark = (
        SparkSession.builder.master("local[5]")
        .config("spark.sql.shuffle.partitions", "7")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    con = duckdb_con(sf_dir)
    failed = []
    for name in selected:
        t0 = time.time()
        try:
            problems = compare(qs[name](spark, sf_dir), con, oracles[name])
        except Exception as exc:  # surface, keep sweeping
            problems = [f"error: {str(exc).splitlines()[0][:150]}"]
        if problems:
            failed.append(name)
            print(f"FAIL  {name}: {'; '.join(problems)}", flush=True)
        else:
            record[name] = run_seq
            print(f"PASS  {name} ({time.time() - t0:.1f}s)", flush=True)
    with open(RECORD_PATH, "w") as f:
        json.dump(dict(sorted(record.items())), f, indent=1)
    checked = len(record)
    print(
        f"\n{len(selected) - len(failed)} passed, {len(failed)} failed"
        f" (seq {run_seq}; {checked}/{len(qs)} registry names have"
        f" invariance evidence)"
    )
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
