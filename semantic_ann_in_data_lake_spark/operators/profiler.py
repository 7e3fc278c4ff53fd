"""Column profiler — the catalog builder (reference "SchemaExtraction").

Reproduces the per-column profile record of
``SchemaExtraction/extract_schema.py:33-79``: inferred scalar type
(integer/float/datetime/string, `:11-20`), null count (`:64`), value
count and min/max/avg string-length stats (`:50-59,65-70`, avg rounded
to 2 dp `:69`), plus the distinct-value sample (`:74-77`) and the
latent most-common-values field consumed by the embed prompt
(``SemLink/join_discoverer.py:90,117-119``).

Scale design
------------
``profile`` computes ALL per-column stats in a single global
aggregation over one scan: for an n-column table this is ~6n partial
aggregates that combine map-side, so the job is one scan + a tiny
2-stage reduce — no shuffle proportional to data size, no per-column
re-scan (the reference re-walks the pandas frame per column). The
1-row wide result is then unpivoted driver-side into the catalog shape
(one row per column), which is O(n_columns), not O(rows).

``distinct_sample`` and ``most_common_values`` inherently need
per-value grouping (a real shuffle); they shuffle only the projected
column(s), pre-aggregated map-side, and bound their output (k values)
— at 100 TB the shuffle payload is |distinct values| per column, not
|rows|.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: reference type lattice: pandas dtype → {integer,float,datetime,string}
#: (`extract_schema.py:11-20`); everything else collapses to string.
_TYPE_MAP = {
    "tinyint": "integer",
    "smallint": "integer",
    "int": "integer",
    "bigint": "integer",
    "float": "float",
    "double": "float",
    "date": "datetime",
    "timestamp": "datetime",
    "timestamp_ntz": "datetime",
}


def infer_col_type(spark_dtype: str) -> str:
    base = spark_dtype.split("(")[0].lower()
    if base.startswith("decimal"):
        return "float"
    return _TYPE_MAP.get(base, "string")


def profile(df: DataFrame, table_name: str) -> DataFrame:
    """Catalog rows ``(table_name, column_name, col_type, row_count,
    n_nulls, num_values, min_length, max_length, avg_length)`` — one row
    per column of ``df``, from a single-pass aggregation.

    Stats are computed on the string form of values, exactly like the
    reference (``extract_schema.py:49`` ``astype(str)``); empty columns
    default lengths to 0 (`:65-70`).
    """
    cols = df.columns
    aggs = [F.count(F.lit(1)).alias("__row_count")]
    for c in cols:
        s = F.length(F.col(c).cast("string"))
        aggs += [
            F.count(F.col(c)).alias(f"{c}__num_values"),
            F.min(s).alias(f"{c}__min_length"),
            F.max(s).alias(f"{c}__max_length"),
            F.avg(s).alias(f"{c}__avg_length"),
        ]
    wide = df.agg(*aggs)

    dtypes = dict(df.dtypes)
    per_col = [
        F.struct(
            F.lit(c).alias("column_name"),
            F.lit(infer_col_type(dtypes[c])).alias("col_type"),
            F.col("__row_count").alias("row_count"),
            (F.col("__row_count") - F.col(f"{c}__num_values")).alias("n_nulls"),
            F.col(f"{c}__num_values").alias("num_values"),
            F.coalesce(F.col(f"{c}__min_length"), F.lit(0)).alias("min_length"),
            F.coalesce(F.col(f"{c}__max_length"), F.lit(0)).alias("max_length"),
            F.coalesce(F.round(F.col(f"{c}__avg_length"), 2), F.lit(0.0)).alias(
                "avg_length"
            ),
        )
        for c in cols
    ]
    return (
        wide.select(F.explode(F.array(*per_col)).alias("p"))
        .select(F.lit(table_name).alias("table_name"), "p.*")
    )


def profile_lake(tables: dict[str, DataFrame]) -> DataFrame:
    """Profile every table of a lake → one unified catalog DataFrame.

    Each table is one independent single-pass agg job; the union is a
    plan-level union (no extra shuffle).
    """
    parts = [profile(df, name) for name, df in tables.items()]
    return reduce(DataFrame.unionByName, parts)


def melt_columns(
    df: DataFrame, columns: list[str], keep_nulls: bool = False
) -> DataFrame:
    """Unpivot ``columns`` into ``(column_name, value)`` string pairs.

    The wide-table profiling primitive: ONE scan and one Generate node
    regardless of column count, so driver-side plan size is O(1) in
    n_columns — a per-column loop compiles n_columns plan branches and
    schedules n_columns jobs (a 2,000-column lake table would pay
    plan compilation per column). Row count amplifies
    n_columns×, but each emitted row is a short (name, value) pair and
    every consumer below immediately pre-aggregates map-side, so the
    shuffle payload stays |distinct values|, not |rows·cols|.
    """
    if not columns:
        raise ValueError("melt_columns needs at least one column")
    pairs = F.array(
        *[
            F.struct(
                F.lit(c).alias("column_name"),
                F.col(c).cast("string").alias("value"),
            )
            for c in columns
        ]
    )
    m = df.select(F.explode(pairs).alias("kv")).select("kv.column_name", "kv.value")
    return m if keep_nulls else m.where(F.col("value").isNotNull())


def distinct_sample(
    df: DataFrame, table_name: str, columns: list[str], k: int = 30
) -> DataFrame:
    """First-k distinct values per column, deterministic ordering.

    The reference keeps the first 30 distinct values in *insertion*
    order (``extract_schema.py:74-77``) — nondeterministic under
    distributed execution, so we take the k smallest values in binary
    string order instead (divergence documented in SURVEY §7.4).

    Plan (all columns together, via :func:`melt_columns`): melt → one
    (column_name, value) distinct aggregate → per-column row_number
    window with ``rank <= k`` (Spark's WindowGroupLimit pushes the
    limit below the exchange, so only k rows per column per partition
    survive) → one collect_list aggregate. Three shuffles TOTAL for the
    whole table, vs 2·n_columns jobs for the per-column loop.
    """
    from pyspark.sql import Window

    d = melt_columns(df, columns, keep_nulls=False).distinct()
    w = Window.partitionBy("column_name").orderBy(F.col("value").asc())
    grouped = (
        d.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .groupBy("column_name")
        .agg(F.sort_array(F.collect_list("value")).alias("values_sample"))
    )
    # An entirely-null column yields NO group above (nulls are melted
    # away) but must still appear with an empty sample — profile
    # consumers enumerate columns. Left-join against the static column
    # list (tiny, broadcast) instead of relying on group presence.
    cols_df = df.sparkSession.createDataFrame(
        [(c,) for c in columns], "column_name string"
    )
    return cols_df.join(F.broadcast(grouped), "column_name", "left").select(
        F.lit(table_name).alias("table_name"),
        "column_name",
        F.coalesce("values_sample", F.array().cast("array<string>")).alias(
            "values_sample"
        ),
    )


def most_common_values(
    df: DataFrame, table_name: str, columns: list[str], k: int = 20
) -> DataFrame:
    """Top-k most frequent values per column (reference A11: the
    ``most_common_values`` field of the embed prompt,
    ``join_discoverer.py:90,117-119``).

    Ties broken by value ascending so ranking is deterministic and
    oracle-portable. Plan: melt → ONE (column_name, value) count
    aggregate (partials combine map-side; shuffle payload = distinct
    values) → per-column row_number window, WindowGroupLimit-bounded to
    k rows per column. O(1) plan size in column count.
    """
    from pyspark.sql import Window

    counted = (
        melt_columns(df, columns, keep_nulls=False)
        .groupBy("column_name", "value")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("column_name").orderBy(
        F.col("cnt").desc(), F.col("value").asc()
    )
    return (
        counted.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.lit(table_name).alias("table_name"),
            "column_name",
            "value",
            "cnt",
            "rank",
        )
    )


def sample_rows_markdown(df: DataFrame, n: int = 10, seed: str = "md42") -> str:
    """F16: render a deterministic sample of rows as a markdown table
    (the reference feeds this into the LLM annotation prompt,
    ``semantic_annotation.py:66-67``: dedup → seeded sample → fillna('')
    → markdown). Driver-side by design — n is tiny and the result is a
    prompt string, not a dataset.

    Sampling is hash-ordered (engine-portable W5 variant) instead of
    the reference's pandas seed-42 draw.
    """
    from semantic_ann_in_data_lake_spark.functions.hashing import portable_hash64

    cols = df.columns
    key = F.concat_ws("|", *[F.col(c).cast("string") for c in cols])
    rows = (
        df.dropDuplicates()
        .na.fill("")
        .orderBy(portable_hash64(key, seed=seed))
        .limit(n)
        .collect()
    )
    header = "| " + " | ".join(cols) + " |"
    sep = "| " + " | ".join("---" for _ in cols) + " |"
    body = [
        "| " + " | ".join("" if r[c] is None else str(r[c]) for c in cols) + " |"
        for r in rows
    ]
    return "\n".join([header, sep] + body)


def profile_approx_distinct(
    df: DataFrame, table_name: str, rsd: float = 0.05
) -> DataFrame:
    """Approximate distinct-count profile: one HLL++ sketch per column
    in a single pass (``approx_count_distinct``, relative sd ``rsd``).

    The 100 TB companion to :func:`profile`: exact per-column distinct
    counts need a shuffle per column; sketches ride the same single
    global aggregation as the other stats. Not oracle-gated — DuckDB's
    HLL implementation differs — so it carries a rows-only check plus
    an accuracy test against exact counts.
    """
    cols = df.columns
    aggs = [
        F.approx_count_distinct(F.col(c), rsd).alias(f"{c}__approx")
        for c in cols
    ]
    wide = df.agg(*aggs)
    per_col = [
        F.struct(
            F.lit(c).alias("column_name"),
            F.col(f"{c}__approx").alias("approx_n_distinct"),
        )
        for c in cols
    ]
    return wide.select(F.explode(F.array(*per_col)).alias("p")).select(
        F.lit(table_name).alias("table_name"), "p.*"
    )


def categorical_entropy(df, cols: list[str]) -> "DataFrame":
    """Shannon entropy (bits) + distinct count per categorical column:
    (column, n_distinct, entropy).

    Profiling-depth extension: entropy ranks columns by information
    content — near-zero entropy flags constants/degenerate columns, high
    entropy flags key-like columns (the reference's profiler stops at
    distinct samples, `extract_schema.py`).

    Plan (via :func:`melt_columns`): melt all columns in one scan → one
    (column, value) count aggregate → one per-column rollup computing
    n_distinct and Σ n·log2(n) so entropy derives WITHOUT a
    counts-to-total join: H = log2(N) − (Σ n·log2 n)/N. Two shuffles
    total, O(1) plan size in column count. Values are compared by their
    string rendering (Spark's double→string is round-trip faithful, so
    distinctness is preserved); NULL stays its own category, matching
    the previous per-column groupBy.
    """
    from pyspark.sql import functions as F

    counts = (
        melt_columns(df, cols, keep_nulls=True)
        .groupBy(F.col("column_name").alias("column"), "value")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    n = F.col("__n").cast("double")
    per_col = counts.groupBy("column").agg(
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum("__n").alias("__tot"),
        F.sum(n * F.log2(n)).alias("__nlogn"),
    )
    tot = F.col("__tot").cast("double")
    return per_col.select(
        "column",
        "n_distinct",
        F.round(
            F.log2(tot) - F.col("__nlogn") / tot + F.lit(1e-9), 4
        ).alias("entropy"),
    )


def validate(df, rules: dict[str, "Column"], unique_cols: list[str] | None = None):
    """Data-quality expectation checks (Deequ-style, minimal): one pass
    over the table evaluating every row-local rule as a conditional
    count, plus optional key-uniqueness checks.

    ``rules`` maps rule name → boolean Column that should hold per row;
    output is (rule, n_rows, n_violations, pass) — one row per rule.
    Row-local rules share a SINGLE aggregation (no per-rule scans);
    each uniqueness check adds one distinct-count aggregation
    (count vs approx tier is the caller's choice at 100 TB — exact here
    since the gate demands determinism).
    """
    from pyspark.sql import functions as F

    aggs = [F.count(F.lit(1)).alias("__n")]
    for name, cond in rules.items():
        aggs.append(
            F.sum(F.when(~cond | cond.isNull(), 1).otherwise(0)).alias(f"__v_{name}")
        )
    row = df.agg(*aggs)
    outs = []
    for name in rules:
        outs.append(
            row.select(
                F.lit(name).alias("rule"),
                F.col("__n").alias("n_rows"),
                F.col(f"__v_{name}").alias("n_violations"),
                (F.col(f"__v_{name}") == 0).alias("pass"),
            )
        )
    for cols in unique_cols or []:
        key = [cols] if isinstance(cols, str) else list(cols)
        dup = (
            df.groupBy(*key)
            .agg(F.count(F.lit(1)).alias("__c"))
            .agg(
                F.sum(F.when(F.col("__c") > 1, F.col("__c")).otherwise(0)).alias(
                    "__viol"
                ),
                F.sum("__c").alias("__n"),
            )
        )
        outs.append(
            dup.select(
                F.lit(f"unique({','.join(key)})").alias("rule"),
                F.col("__n").alias("n_rows"),
                F.col("__viol").alias("n_violations"),
                (F.col("__viol") == 0).alias("pass"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


def correlation_matrix(
    df: DataFrame, cols: list[str], round_dp: int = 4
) -> DataFrame:
    """Pairwise Pearson correlations over numeric columns, ONE pass.

    All second-order moments (sum x, sum x², sum x·y for every pair)
    come from a single wide aggregation — one shuffle of one row per
    partition, however many columns; the r formula then runs on the
    driver-free 1-row frame. Moments accumulate in DECIMAL (exact,
    associative), so the result is partition-order-independent; only
    the final normalization crosses to double.

    Returns ``(col_x, col_y, n, corr)`` for the strict upper triangle,
    corr rounded to ``round_dp`` (NULL when either side is constant).
    """
    # DECIMAL(12,2) inputs: the product of two (12,2)s is (25,4) — under
    # the 38-digit cap in BOTH engines, so products and sums stay EXACT.
    # Wider inputs would make Spark cap the product type and round its
    # values where DuckDB errors or keeps more digits — engine drift.
    # (12,2) covers values < 10^10 at cent precision — every TPC-H
    # measure; pass wider data through a pre-scale if needed.
    dec = "decimal(12,2)"
    # listwise-complete rows only: F.sum skips NULLs per column, so a
    # count over ALL rows would mix moment supports (sx over 100 rows,
    # sxy over 50) and return correlations outside [-1, 1]
    df = df.na.drop(subset=cols)
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs.append(F.sum(F.col(c).cast(dec)).alias(f"__s_{c}"))
        aggs.append(
            F.sum(F.col(c).cast(dec) * F.col(c).cast(dec)).alias(f"__ss_{c}")
        )
    for i, cx in enumerate(cols):
        for cy in cols[i + 1:]:
            aggs.append(
                F.sum(F.col(cx).cast(dec) * F.col(cy).cast(dec)).alias(
                    f"__sp_{cx}_{cy}"
                )
            )
    m = df.agg(*aggs)

    # one explode over a struct array, NOT a union of per-pair selects:
    # Catalyst does not CSE across union branches, so a union would
    # re-run the wide aggregation once per pair
    n = F.col("__n").cast("double")
    pair_structs = []
    for i, cx in enumerate(cols):
        for cy in cols[i + 1:]:
            sx = F.col(f"__s_{cx}").cast("double")
            sy = F.col(f"__s_{cy}").cast("double")
            sxx = F.col(f"__ss_{cx}").cast("double")
            syy = F.col(f"__ss_{cy}").cast("double")
            sxy = F.col(f"__sp_{cx}_{cy}").cast("double")
            den = F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
            r = F.when(
                den > 0, F.round((n * sxy - sx * sy) / den + F.lit(1e-9), round_dp)
            )
            pair_structs.append(
                F.struct(
                    F.lit(cx).alias("col_x"),
                    F.lit(cy).alias("col_y"),
                    F.col("__n").alias("n"),
                    r.alias("corr"),
                )
            )
    return m.select(F.explode(F.array(*pair_structs)).alias("p")).select("p.*")


def profile_partial(df: DataFrame, table_name: str) -> DataFrame:
    """The MERGEABLE form of :func:`profile`: same single-pass wide
    aggregation, but lengths are kept as an exact integer SUM instead
    of a finalized average — so partials from disjoint corpus slices
    (ingestion days, federated stores) combine by integer adds and
    min/max, without rescanning. At 100 TB the profile becomes an
    incremental artifact: each new slice contributes one partial, the
    catalog row is a ≤|columns|-row merge.

    Schema: ``(table_name, column_name, col_type, row_count,
    num_values, min_length, max_length, len_sum)``; all-null slices
    carry NULL min/max and 0 len_sum (finalization coalesces exactly
    like :func:`profile`).
    """
    cols = df.columns
    aggs = [F.count(F.lit(1)).alias("__row_count")]
    for c in cols:
        s = F.length(F.col(c).cast("string"))
        aggs += [
            F.count(F.col(c)).alias(f"{c}__num_values"),
            F.min(s).alias(f"{c}__min_length"),
            F.max(s).alias(f"{c}__max_length"),
            F.sum(s.cast("long")).alias(f"{c}__len_sum"),
        ]
    wide = df.agg(*aggs)
    dtypes = dict(df.dtypes)
    per_col = [
        F.struct(
            F.lit(c).alias("column_name"),
            F.lit(infer_col_type(dtypes[c])).alias("col_type"),
            F.col("__row_count").alias("row_count"),
            F.col(f"{c}__num_values").alias("num_values"),
            F.col(f"{c}__min_length").alias("min_length"),
            F.col(f"{c}__max_length").alias("max_length"),
            F.coalesce(F.col(f"{c}__len_sum"), F.lit(0)).alias("len_sum"),
        )
        for c in cols
    ]
    return (
        wide.select(F.explode(F.array(*per_col)).alias("p"))
        .select(F.lit(table_name).alias("table_name"), "p.*")
    )


def merge_profile_partials(*parts: DataFrame) -> DataFrame:
    """Combine :func:`profile_partial` outputs into the finalized
    :func:`profile` schema. Counts and length-sums add, min/max fold —
    exact regardless of how the corpus was sliced; the only float op is
    the single final avg division, identical to the one :func:`profile`
    performs (``F.avg`` on longs is sum/count in double). The merge
    shuffles |columns|-sized tables only."""
    if not parts:
        raise ValueError("need at least one partial")
    u = reduce(DataFrame.unionByName, parts)
    m = u.groupBy("table_name", "column_name", "col_type").agg(
        F.sum("row_count").alias("row_count"),
        F.sum("num_values").alias("num_values"),
        F.min("min_length").alias("min_length"),
        F.max("max_length").alias("max_length"),
        F.sum("len_sum").alias("len_sum"),
    )
    return m.select(
        "table_name",
        "column_name",
        "col_type",
        "row_count",
        (F.col("row_count") - F.col("num_values")).alias("n_nulls"),
        "num_values",
        F.coalesce(F.col("min_length"), F.lit(0)).alias("min_length"),
        F.coalesce(F.col("max_length"), F.lit(0)).alias("max_length"),
        F.coalesce(
            F.round(
                F.try_divide(
                    F.col("len_sum").cast("double"),
                    F.col("num_values").cast("double"),
                ),
                2,
            ),
            F.lit(0.0),
        ).alias("avg_length"),
    )
