"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All real logic lives in the ``semantic_ann_in_data_lake_spark``
package; this module only adapts it to the driver contract.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from semantic_ann_in_data_lake_spark.plans import registry  # noqa: E402
from semantic_ann_in_data_lake_spark.plans.pipeline import (  # noqa: E402
    grid_evaluate_discovery,
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the reference's headline (k, τ) evaluation grid
    (`join_discoverer.py:485-517`) on the sf0.001 embeddings — kNN
    self-join once at k_max, every grid cell a conditional slice →
    12 rows of (k, tau, tp, fp, fn, precision, recall, f1, ndcg_at_k)."""
    return grid_evaluate_discovery(
        spark, "/root/testdata/sf0.001", strategy="broadcast"
    )


def _load_official_record(
    root: str | None = None,
) -> tuple[dict[str, int], frozenset[str]]:
    """Scan the committed CORRECTNESS_r*.json official records (repo
    root) and return (name -> round of most recent GREEN official row,
    names whose LAST row is red). Self-maintaining: each new round's
    file re-derives the gate state — no hand-updated literal to forget
    (the round-5 red rows happened exactly because the static waiter
    set went stale). Missing/unreadable files degrade to "everything
    is a debut", which only affects ordering, never membership."""
    import glob
    import json
    import re

    if root is None:
        root = os.path.dirname(os.path.abspath(__file__))
    latest: dict[str, tuple[int, bool]] = {}
    for p in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", p)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(p) as f:
                rows = json.load(f)
        except Exception:
            continue
        for name, row in rows.items():
            # green requires no error AND no False match flag: rounds
            # 1-3 recorded rows with err=None but hash_match=False
            # (e.g. deepjoin_eval r01) — those are failures to retry,
            # not evidence. None flags (rows-only history) don't
            # disqualify; only an explicit False does.
            green = isinstance(row, dict) and row.get("err") is None and not any(
                row.get(k) is False
                for k in ("rows_match", "schema_match", "hash_match")
            )
            prev = latest.get(name)
            if prev is None or rnd >= prev[0]:
                latest[name] = (rnd, green)
    green_round = {n: r for n, (r, g) in latest.items() if g}
    red_last = frozenset(n for n, (r, g) in latest.items() if not g)
    return green_round, red_last


def _gate_ordered(names) -> list[str]:
    """Order the gate window of :func:`queries` (round-agnostic policy),
    from the official record (:func:`_load_official_record`):

    1. red-retry names (replace a red official row with a green one);
    2. debuts — names with no official row yet;
    3. everything already green, STALEST round first — each round
       re-validates the oldest evidence each round instead of
       re-sampling last round's rows.

    sorted() is stable, so registration order is the free tie-break
    within each rank.
    """
    green_round, red_retry = _load_official_record()

    def rank(n: str) -> tuple:
        if n in red_retry:
            return (0, 0)
        if n not in green_round:
            return (1, 0)
        return (2, green_round[n])

    return sorted(names, key=rank)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    qs = registry.queries()
    return {name: qs[name] for name in _gate_ordered(qs)}


def oracle_sql() -> dict[str, str]:
    sqls = registry.oracle_sql()
    return {name: sqls[name] for name in _gate_ordered(sqls)}
