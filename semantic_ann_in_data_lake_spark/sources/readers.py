"""Scans (reference S1-S5, SURVEY §2.1).

The reference's sources are directory globs of CSVs
(``SchemaExtraction/extract_schema.py:88-99``), single CSV/TSV loads
(``SemanticAnnotation/semantic_annotation.py:17-36``), JSON catalogs
(array-of-objects) and JSONL files. Spark-native equivalents:

- CSV directory → one ``spark.read.csv`` over the glob with
  ``input_file_name()`` as table identity (no per-file Python loop);
- all-string loads → explicit all-string schema (reference loads with
  ``dtype="string"``);
- JSON array → ``multiLine`` JSON; JSONL → plain ``spark.read.json``.

``read_table`` is the canonical testdata entry point; it normalizes
the ``events`` table's TIMESTAMP(NANOS) column (Spark reads nanos as
long under ``spark.sql.legacy.parquet.nanosAsLong``) to a micros
timestamp so downstream operators see standard types.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TESTDATA_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table with normalized types."""
    if name == "events":
        # events.parquet is TIMESTAMP(NANOS); a session built without
        # our factory (e.g. the driver's) rejects it outright — the
        # conf is settable at runtime, so self-defend here. (Spark 4.1+
        # instead reads NANOS natively as micros TIMESTAMP_NTZ, making
        # the conf and the bigint branch below no-ops.)
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass
        # ts arrives TIMESTAMP_NTZ; epoch arithmetic (functions.dates.
        # epoch_us) goes through an NTZ→LTZ cast that is exact only
        # under a UTC session zone — pin it for driver-built sessions
        # (our factory already does).
        try:
            spark.conf.set("spark.sql.session.timeZone", "UTC")
        except Exception:
            pass
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # nanos-as-long → micros timestamp (truncation, like DuckDB's
        # TIMESTAMP_NS → TIMESTAMP cast)
        # integer div: float division of ns epochs (~1.7e18 > 2^53) loses
        # the low microsecond and shifts timestamps off the DuckDB cast
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def read_lake(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """The whole testdata lake as {table_name: DataFrame}."""
    return {t: read_table(spark, sf_dir, t) for t in TESTDATA_TABLES}


def read_csv_dir(
    spark: SparkSession,
    path: str,
    sep: str = ",",
    all_string: bool = True,
    permissive: bool = True,
) -> DataFrame:
    """S1: scan a directory of UNIFORMLY-SCHEMED CSVs as one DataFrame
    with a ``table_name`` column derived from the file name.

    ``all_string=True`` mirrors the reference's ``dtype="string"`` load
    (``semantic_annotation.py:32``); ``permissive`` drops malformed
    lines like the reference skips unreadable files
    (``extract_schema.py:96-99``).

    One glob read = ONE schema: a directory of per-table CSVs with
    DIFFERENT schemas must go through :func:`read_csv_tables` instead —
    against a single derived schema, rows of the other tables are
    malformed and ``permissive`` would silently drop them (or land
    values under wrong column names when only headers differ).
    """
    reader = (
        spark.read.option("header", True)
        .option("sep", sep)
        .option("mode", "DROPMALFORMED" if permissive else "FAILFAST")
    )
    if all_string:
        reader = reader.option("inferSchema", False)
    else:
        reader = reader.option("inferSchema", True)
    df = reader.csv(f"{path.rstrip('/')}/*.csv")
    return df.withColumn(
        "table_name",
        F.regexp_extract(F.input_file_name(), r"([^/]+)\.csv$", 1),
    )



def read_csv_tables(
    spark: SparkSession,
    path: str,
    sep: str = ",",
    all_string: bool = True,
    permissive: bool = True,
) -> dict[str, DataFrame]:
    """S1 for a lake directory of per-table CSVs with DIFFERENT
    schemas: one independent header/schema inference per file (the
    reference's per-file loop, ``extract_schema.py:88-99``), returned
    as ``{table_name: DataFrame}`` — the shape ``profile_lake`` /
    ``annotate_tables`` consume. Listing happens driver-side (a lake
    catalog is a bounded file set); each table's scan stays lazy."""
    import glob as _glob
    import os as _os

    out: dict[str, DataFrame] = {}
    for f in sorted(_glob.glob(f"{path.rstrip('/')}/*.csv")):
        name = _os.path.splitext(_os.path.basename(f))[0]
        reader = (
            spark.read.option("header", True)
            .option("sep", sep)
            .option("mode", "DROPMALFORMED" if permissive else "FAILFAST")
            .option("inferSchema", not all_string)
        )
        out[name] = reader.csv(f)
    return out

def read_json_catalog(spark: SparkSession, path: str) -> DataFrame:
    """S4: top-level JSON array of objects (the reference's catalog
    artifacts, e.g. ``{app}_csv_schema.json``)."""
    return spark.read.option("multiLine", True).json(path)


def read_jsonl(spark: SparkSession, path: str, schema: T.StructType | str | None = None) -> DataFrame:
    """S5: line-delimited JSON (pairs/queries artifacts) — Spark-native."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)
