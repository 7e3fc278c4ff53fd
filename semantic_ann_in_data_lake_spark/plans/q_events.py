"""Event-time queries: sessions, rollups, as-of, funnels, retention.

Split from the single-file registry (round 4); the hub
`plans.registry` imports this module for its registration side
effects and re-exports every query function.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from semantic_ann_in_data_lake_spark.plans.registry import register, _t

from semantic_ann_in_data_lake_spark.functions.dates import epoch_us


@register(
    "events_hourly_rollup",
    """
    SELECT time_bucket(INTERVAL '1 hour', ts::TIMESTAMP) AS window_start,
           event_type,
           count(*) AS n_events,
           round(sum(value::DECIMAL(18,2)), 2)::DOUBLE AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def events_hourly_rollup(spark, sf_dir):
    """Tumbling-window rollup — the batch twin of the Structured
    Streaming incremental profile (streaming/ is the extension
    surface; same plan runs under readStream + watermark)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )


@register(
    "sessionize_events",
    """
    WITH e AS (
      SELECT user_id, ts::TIMESTAMP AS ts, value FROM events
    ), g AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                          > 30 * 60 * 1000000
                  THEN 1 ELSE 0 END AS new_session
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), s AS (
      SELECT *, sum(new_session) OVER (
        PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING
      ) AS session_id
      FROM g
    )
    SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
           count(*) AS n_events,
           round(sum(value::DECIMAL(18,2)), 2)::DOUBLE AS sum_value
    FROM s GROUP BY user_id, session_id
    """,
)
def sessionize_events(spark, sf_dir):
    """Gap-and-island sessionization (30-min inactivity gap) — the
    batch twin of the applyInPandasWithState streaming sessionizer,
    oracle-gated so the session semantics themselves are pinned."""
    from semantic_ann_in_data_lake_spark.streaming.sessionize import sessionize_batch

    return sessionize_batch(_t(spark, sf_dir, "events"), gap_minutes=30)


@register(
    "user_retention_cohorts",
    """
    WITH f AS (SELECT user_id, min(date_trunc('day', ts::TIMESTAMP))::DATE AS cohort
               FROM events GROUP BY 1),
    a AS (SELECT DISTINCT user_id, date_trunc('day', ts::TIMESTAMP)::DATE AS day
          FROM events)
    SELECT f.cohort, date_diff('day', f.cohort, a.day)::INT AS day_offset,
           count(*) AS n_users
    FROM a JOIN f USING (user_id)
    GROUP BY 1, 2
    """,
)
def user_retention_cohorts(spark, sf_dir):
    """Cohort retention matrix: users grouped by first-activity day,
    counted on each later active day. Two shuffles (per-user min, then
    the distinct day set) + an equi-join on user_id — the cohort table
    is user-sized, so at lake scale this co-partitions on user_id and
    never widens beyond (user, day)."""
    e = _t(spark, sf_dir, "events").select(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("day")
    )
    first = e.groupBy("user_id").agg(F.min("day").alias("cohort"))
    active = e.distinct()
    return (
        active.join(first, "user_id")
        .groupBy("cohort", F.datediff("day", "cohort").cast("int").alias("day_offset"))
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@register(
    "asof_join_events",
    """
    WITH l AS (
      SELECT event_id, user_id, ts::TIMESTAMP AS ts
      FROM events WHERE event_type = 'error'
    ),
    r AS (
      SELECT user_id, ts::TIMESTAMP AS ts, max(event_id) AS view_event_id
      FROM events WHERE event_type = 'view'
      GROUP BY user_id, ts
    )
    SELECT l.event_id, l.user_id, l.ts,
           r.view_event_id,
           r.ts AS view_ts,
           (epoch_us(l.ts) - epoch_us(r.ts))::BIGINT AS gap_us
    FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
)
def asof_join_events(spark, sf_dir):
    """As-of enrichment: each 'error' event joined to the latest
    at-or-before 'view' event of the same user (union-tag / single
    shuffle-sort / carry-forward — operators/asof.py), gated against
    DuckDB's native ASOF LEFT JOIN. The right side is pre-deduped to
    max(event_id) per (user_id, ts) so equal-timestamp ties are
    deterministic in both engines."""
    from semantic_ann_in_data_lake_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    left = ev.where(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    right = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("view_event_id"))
    )
    res = asof_join(
        left,
        right,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_cols=("view_event_id",),
        right_id="view_event_id",
    )
    return res.select(
        "event_id",
        "user_id",
        "ts",
        F.col("matched_view_event_id").alias("view_event_id"),
        F.col("matched_ts").alias("view_ts"),
        (epoch_us("ts") - epoch_us("matched_ts")).alias("gap_us"),
    )


@register(
    "view_error_interval_join",
    """
    SELECT v.user_id,
           v.event_id AS view_event_id, v.ts::TIMESTAMP AS view_ts,
           e.event_id AS error_event_id, e.ts::TIMESTAMP AS error_ts
    FROM events v JOIN events e
      ON v.user_id = e.user_id
     AND e.ts > v.ts AND e.ts <= v.ts + INTERVAL 10 MINUTE
    WHERE v.event_type = 'view' AND e.event_type = 'error'
    """,
)
def view_error_interval_join(spark, sf_dir):
    """Interval (range) join: every error within 10 minutes after a view
    by the same user — the BATCH twin of the stream-stream join
    (streaming/profile_stream.error_after_view_join_stream runs the
    SAME plan under watermarked state; the equality test pins the two).
    Equi-key on user_id carries the shuffle; the time interval is a
    residual predicate — no cartesian."""
    from semantic_ann_in_data_lake_spark.streaming.profile_stream import (
        error_after_view_join_stream,
    )

    ev = _t(spark, sf_dir, "events")
    views = ev.where(F.col("event_type") == "view")
    errors = ev.where(F.col("event_type") == "error")
    return error_after_view_join_stream(views, errors)


@register(
    "events_sliding_rollup",
    """
    WITH offs AS (SELECT unnest([0, 1]) AS off),
    e AS (SELECT ts::TIMESTAMP AS ts, event_type, value FROM events)
    SELECT time_bucket(INTERVAL '30 minutes', ts) - off * INTERVAL '30 minutes'
             AS window_start,
           event_type,
           count(*) AS n_events,
           round(sum(value::DECIMAL(18,2)), 2)::DOUBLE AS sum_value
    FROM e CROSS JOIN offs
    GROUP BY 1, 2
    """,
)
def events_sliding_rollup(spark, sf_dir):
    """Sliding-window rollup: 1-hour windows every 30 minutes (each
    event lands in exactly window/slide = 2 buckets). Spark's
    F.window(slide) explodes the same two assignments internally; the
    oracle makes the expansion explicit with an offset cross join.
    Same plan runs streamed under a watermark (hourly_rollup_stream
    generalizes; window state is bounded by watermark horizon ×
    bucket cardinality)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@register(
    "funnel_view_click_purchase",
    """
    WITH f AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events GROUP BY user_id
    )
    SELECT count(t_view)::BIGINT AS n_view,
           sum(CASE WHEN t_click > t_view THEN 1 ELSE 0 END)::BIGINT
             AS n_view_then_click,
           sum(CASE WHEN t_click > t_view AND t_purchase > t_click
                    THEN 1 ELSE 0 END)::BIGINT AS n_full_funnel
    FROM f
    """,
)
def funnel_view_click_purchase(spark, sf_dir):
    """Ordered funnel: users who viewed, then clicked AFTER the first
    view, then purchased AFTER that first click — the classic
    sequence-constrained conversion count. One conditional-min
    aggregation per user (map-side partial) + one global roll-up; no
    joins, no per-step scans."""
    e = _t(spark, sf_dir, "events")
    m = lambda t: F.min(F.when(F.col("event_type") == t, F.col("ts")))
    f = e.groupBy("user_id").agg(
        m("view").alias("t_view"),
        m("click").alias("t_click"),
        m("purchase").alias("t_purchase"),
    )
    step2 = F.col("t_click") > F.col("t_view")
    step3 = step2 & (F.col("t_purchase") > F.col("t_click"))
    return f.agg(
        F.count("t_view").alias("n_view"),
        F.sum(F.when(step2, 1).otherwise(0)).alias("n_view_then_click"),
        F.sum(F.when(step3, 1).otherwise(0)).alias("n_full_funnel"),
    )


@register(
    "band_join_view_purchase",
    """
    SELECT v.user_id, v.event_id AS view_event_id,
           p.event_id AS purchase_event_id,
           (epoch_us(p.ts::TIMESTAMP) - epoch_us(v.ts::TIMESTAMP))::BIGINT
             AS gap_us
    FROM events v JOIN events p ON v.user_id = p.user_id
    WHERE v.event_type = 'view' AND p.event_type = 'purchase'
      AND abs(epoch_us(p.ts::TIMESTAMP) - epoch_us(v.ts::TIMESTAMP))
            <= 1800000000
    """,
)
def band_join_view_purchase(spark, sf_dir):
    """Proximity join: same-user (view, purchase) event pairs within
    ±30 minutes, via the BANDED equi-join (operators/joins.py::
    band_join — bucket by floor(t/eps), replicate one side ±1 bucket,
    exact filter) instead of the O(|L|·|R|) nested-loop theta-join the
    inequality predicate would otherwise plan. Oracle: DuckDB's plain
    inequality join — same pairs, hash-checked."""
    from semantic_ann_in_data_lake_spark.operators.joins import band_join

    ev = _t(spark, sf_dir, "events")
    v = ev.where(F.col("event_type") == "view").select(
        "user_id",
        F.col("event_id").alias("view_event_id"),
        epoch_us("ts").alias("__v_us"),
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_event_id"),
        epoch_us("ts").alias("__p_us"),
    )
    return band_join(
        v, p, "__v_us", "__p_us", eps=1_800_000_000, on=["user_id"]
    ).select(
        "user_id",
        "view_event_id",
        "purchase_event_id",
        (F.col("__p_us") - F.col("__v_us")).alias("gap_us"),
    )


@register(
    "resample_interpolate_user_value",
    """
    WITH b AS (
      SELECT user_id AS key, date_trunc('hour', ts::TIMESTAMP) AS bucket,
             round(round(sum(value::DECIMAL(18,2)), 2)::DOUBLE / count(*)
                   + 1e-9, 4) AS v
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ),
    span AS (SELECT key, min(bucket) AS h0, max(bucket) AS h1 FROM b GROUP BY 1),
    grid AS (
      SELECT key, unnest(generate_series(h0, h1, INTERVAL '1 hour')) AS bucket
      FROM span
    ),
    j AS (
      SELECT g.key, g.bucket, b.v
      FROM grid g LEFT JOIN b ON g.key = b.key AND g.bucket = b.bucket
    ),
    f AS (
      SELECT *,
        max(CASE WHEN v IS NOT NULL THEN {'b': bucket, 'v': v} END)
          OVER (PARTITION BY key ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS prev,
        min(CASE WHEN v IS NOT NULL THEN {'b': bucket, 'v': v} END)
          OVER (PARTITION BY key ORDER BY bucket
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next
      FROM j
    )
    SELECT key AS user_id, bucket,
           round(CASE WHEN v IS NOT NULL THEN v
                      WHEN prev IS NULL THEN next.v
                      WHEN next IS NULL THEN prev.v
                      ELSE prev.v + (next.v - prev.v)
                           * ((epoch_us(bucket) - epoch_us(prev.b))::DOUBLE
                              / (epoch_us(next.b) - epoch_us(prev.b)))
                      END + 1e-9, 4) AS value,
           v IS NOT NULL AS is_observed
    FROM f
    """,
)
def resample_interpolate_user_value(spark, sf_dir):
    """Per-user hourly series with linear gap-fill
    (operators/timeseries.py): fixed-interval grid via sequence(),
    nearest-observed neighbors via the portable max/min(struct)
    running-window trick, interpolation in one IEEE expression — all
    windows partition by user, never globally."""
    from semantic_ann_in_data_lake_spark.operators.timeseries import (
        resample_interpolate,
    )

    return resample_interpolate(_t(spark, sf_dir, "events"))


@register(
    "scd2_user_state",
    """
    WITH e AS (
      SELECT user_id, event_type, ts::TIMESTAMP AS ts, event_id FROM events
    ), g AS (
      SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
                          OR lag(event_type) OVER w <> event_type
                     THEN 1 ELSE 0 END AS chg
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), v AS (
      SELECT *, sum(chg) OVER (
        PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING
      )::INT AS version
      FROM g
    ), runs AS (
      SELECT user_id, version, min(event_type) AS state,
             min(ts) AS valid_from, count(*) AS n_events
      FROM v GROUP BY user_id, version
    )
    SELECT user_id, state, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY version)
             AS valid_to,
           version, n_events
    FROM runs
    """,
)
def scd2_user_state(spark, sf_dir):
    """SCD type-2 state history from the event log (operators/pairs.py
    scd2_history): each user's consecutive runs of one event_type
    become versioned validity intervals with an open-ended current row
    — the history-preserving complement of upsert_latest. One exchange
    on user_id end to end (gaps-and-islands, same shape as the
    sessionizer)."""
    from semantic_ann_in_data_lake_spark.operators.pairs import scd2_history

    return scd2_history(
        _t(spark, sf_dir, "events"), "user_id", "event_type", "ts", "event_id"
    )


@register(
    "event_transition_matrix",
    """
    WITH e AS (
      SELECT user_id, event_type, ts::TIMESTAMP AS ts, event_id FROM events
    ),
    p AS (
      SELECT event_type AS from_type,
             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS to_type
      FROM e
    ),
    c AS (
      SELECT from_type, to_type, count(*) AS n_pairs
      FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2
    )
    SELECT from_type, to_type, n_pairs,
           round(n_pairs::DOUBLE
                 / (sum(n_pairs) OVER (PARTITION BY from_type))::DOUBLE
                 + 1e-9, 4) AS prob
    FROM c
    """,
)
def event_transition_matrix(spark, sf_dir):
    """First-order Markov transition matrix over each user's event
    sequence: P(next event type | current) with counts — the
    behavioral-analytics complement of the funnel operator. One
    user-partitioned window for the pairing, one groupBy, one
    unordered window over the (tiny) from_type partition for row
    normalization."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    pairs = e.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).where(F.col("to_type").isNotNull())
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )
    w_norm = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n_pairs",
        F.round(
            F.col("n_pairs").cast("double")
            / F.sum("n_pairs").over(w_norm).cast("double")
            + F.lit(1e-9),
            4,
        ).alias("prob"),
    )


@register(
    "value_outliers_per_user",
    """
    WITH m AS (
      SELECT user_id, count(value) AS n,
             sum(value::DECIMAL(12,2)) AS s,
             sum(value::DECIMAL(12,2) * value::DECIMAL(12,2)) AS ss
      FROM events GROUP BY user_id HAVING count(value) >= 2
    ),
    st AS (
      SELECT user_id,
             s::DOUBLE / n::DOUBLE AS mean,
             sqrt((n::DOUBLE * ss::DOUBLE - s::DOUBLE * s::DOUBLE)
                  / (n::DOUBLE * (n::DOUBLE - 1))) AS std
      FROM m
    )
    SELECT e.user_id, e.event_id, e.value,
           round((e.value::DOUBLE - st.mean) / st.std + 1e-9, 4) AS z
    FROM events e JOIN st ON e.user_id = st.user_id
    WHERE st.std > 0
      AND abs(round((e.value::DOUBLE - st.mean) / st.std + 1e-9, 4)) > 3.0
    """,
)
def value_outliers_per_user(spark, sf_dir):
    """Per-user z-score anomalies (operators/timeseries.py
    zscore_outliers): values beyond 3 sample standard deviations of
    their own user's history — the data-quality outlier gate. Moments
    in exact DECIMAL, both passes keyed by user (co-partitioned
    shuffle pair)."""
    from semantic_ann_in_data_lake_spark.operators.timeseries import (
        zscore_outliers,
    )

    return zscore_outliers(_t(spark, sf_dir, "events"))


@register(
    "resample_interpolate_15m",
    """
    WITH b AS (
      SELECT user_id AS key,
             make_timestamp(epoch_us(ts::TIMESTAMP)
                            - epoch_us(ts::TIMESTAMP) % 900000000) AS bucket,
             round(round(sum(value::DECIMAL(18,2)), 2)::DOUBLE / count(*)
                   + 1e-9, 4) AS v
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ),
    span AS (SELECT key, min(bucket) AS h0, max(bucket) AS h1 FROM b GROUP BY 1),
    grid AS (
      SELECT key, unnest(generate_series(h0, h1, INTERVAL '15 minutes')) AS bucket
      FROM span
    ),
    j AS (
      SELECT g.key, g.bucket, b.v
      FROM grid g LEFT JOIN b ON g.key = b.key AND g.bucket = b.bucket
    ),
    f AS (
      SELECT *,
        max(CASE WHEN v IS NOT NULL THEN {'b': bucket, 'v': v} END)
          OVER (PARTITION BY key ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS prev,
        min(CASE WHEN v IS NOT NULL THEN {'b': bucket, 'v': v} END)
          OVER (PARTITION BY key ORDER BY bucket
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next
      FROM j
    )
    SELECT key AS user_id, bucket,
           round(CASE WHEN v IS NOT NULL THEN v
                      WHEN prev IS NULL THEN next.v
                      WHEN next IS NULL THEN prev.v
                      ELSE prev.v + (next.v - prev.v)
                           * ((epoch_us(bucket) - epoch_us(prev.b))::DOUBLE
                              / (epoch_us(next.b) - epoch_us(prev.b)))
                      END + 1e-9, 4) AS value,
           v IS NOT NULL AS is_observed
    FROM f
    """,
)
def resample_interpolate_15m(spark, sf_dir):
    """Multi-unit interval twin of resample_interpolate_user_value
    (regression surface for the multi-unit date_trunc bucketing
    bug): 15-minute epoch-floor buckets, hash-checked cross-engine
    — the oracle floors epoch microseconds exactly like the operator."""
    from semantic_ann_in_data_lake_spark.operators.timeseries import (
        resample_interpolate,
    )

    return resample_interpolate(
        _t(spark, sf_dir, "events"), interval="15 minutes"
    )


@register(
    "trailing_7d_active_users",
    """
    WITH d AS (
      SELECT DISTINCT user_id, date_trunc('day', ts::TIMESTAMP)::DATE AS day
      FROM events
    ),
    days AS (SELECT DISTINCT day FROM d)
    SELECT days.day,
           count(DISTINCT d.user_id) AS active_users_7d
    FROM days JOIN d
      ON d.day BETWEEN days.day - INTERVAL 6 DAY AND days.day
    GROUP BY days.day
    """,
)
def trailing_7d_active_users(spark, sf_dir):
    """Sliding-window DISTINCT count (trailing 7-day active users):
    unlike the sliding SUM family (events_sliding_rollup), distinct
    cannot be window-framed — the standard exact shape is the
    (user, day) dedup followed by a bounded date-range self-join
    (each row fans out to ≤ 7 days) and a per-day count-distinct.
    Shuffles are keyed by day; the fan-out factor is the window
    length, not data size."""
    e = _t(spark, sf_dir, "events").select(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("day")
    )
    d = e.distinct()
    # each (user, day) feeds the 7 anchors day..day+6 via an explode —
    # an EQUI-join shape (no nested-loop range join): fan-out is the
    # window length, the anchor join against the observed-day list is
    # a broadcast equi-join (calendar-bounded side), and the final
    # count-distinct shuffles by anchor day only
    fan = d.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("anchor"),
    )
    days = d.select(F.col("day").alias("anchor")).distinct()
    return (
        fan.join(F.broadcast(days), "anchor")
        .groupBy(F.col("anchor").alias("day"))
        .agg(F.countDistinct("user_id").alias("active_users_7d"))
    )


def _cms_oracle(k: int = 20, depth: int = 3, width: int = 512) -> str:
    from semantic_ann_in_data_lake_spark.functions.hashing import (
        portable_hash_expr,
    )

    cells = " UNION ALL ".join(
        f"SELECT {d} AS depth, "
        f"{portable_hash_expr('key', seed=f'cms{d}:')} % {width} AS bucket, key "
        f"FROM keys"
        for d in range(depth)
    )
    return f"""
    WITH ev AS (
      SELECT user_id::VARCHAR AS key FROM events WHERE user_id IS NOT NULL
    ),
    keys AS (SELECT key FROM ev),
    cells AS ({cells}),
    sketch AS (
      SELECT depth, bucket, count(*)::BIGINT AS cnt
      FROM cells GROUP BY depth, bucket
    ),
    truth AS (SELECT key, count(*)::BIGINT AS true_count FROM ev GROUP BY key),
    probes AS (
      SELECT t.key, t.true_count, c.depth, c.bucket
      FROM truth t, (SELECT DISTINCT depth, bucket, key FROM cells) c
      WHERE c.key = t.key
    ),
    est AS (
      SELECT p.key, p.true_count, min(s.cnt)::BIGINT AS est_count
      FROM probes p JOIN sketch s
        ON s.depth = p.depth AND s.bucket = p.bucket
      GROUP BY p.key, p.true_count
    )
    SELECT key, est_count, true_count,
           (est_count - true_count)::BIGINT AS overestimate
    FROM est
    ORDER BY est_count DESC, key ASC
    LIMIT {k}
    """


@register("cms_heavy_hitters_events", _cms_oracle())
def cms_heavy_hitters_events(spark, sf_dir):
    """Count-min-sketch heavy hitters (operators/sketches.py): top-20
    users by CMS-estimated event count with the exact count and the
    one-sided error (est ≥ true, hash-verified) alongside. The sketch
    is d×w integers regardless of key cardinality — map-side partial
    aggregation means the shuffle carries at most the sketch per input
    partition; estimation probes candidates against the broadcast
    sketch."""
    from semantic_ann_in_data_lake_spark.operators.sketches import (
        cms_heavy_hitters,
    )

    return cms_heavy_hitters(_t(spark, sf_dir, "events"), "user_id", k=20)


@register(
    "ewma_user_value",
    """
    WITH l AS (
      SELECT user_id, event_id, value,
             list(value::DOUBLE) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 31 PRECEDING AND CURRENT ROW) AS lv,
             row_number() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rdesc,
             count(*) OVER (PARTITION BY user_id) AS n_events
      FROM events)
    SELECT user_id, n_events, len(lv) AS n_in_window,
           round(list_sum(list_transform(range(1, len(lv) + 1),
                 i -> lv[i] * pow(0.5, (len(lv) - i + 1)::DOUBLE))), 6) AS ewma
    FROM l WHERE rdesc = 1
    """,
)
def ewma_user_value(spark, sf_dir):
    """Per-user decayed engagement score: truncated EWMA (α=0.5, last
    32 events) of the event value, reported at each user's latest
    event (operators/timeseries.py::ewma_truncated). Every weight is
    an exact power of two and the sum folds sequentially in frame
    order on both engines — bit-identical, partition-invariant. One
    keyed window, bounded frame state, no Python."""
    from pyspark.sql.window import Window as _Win

    from semantic_ann_in_data_lake_spark.operators.timeseries import (
        ewma_truncated,
    )

    e = _t(spark, sf_dir, "events")
    scored = ewma_truncated(
        e, "user_id", "ts", "value", "event_id", window=32
    )
    wd = _Win.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    wu = _Win.partitionBy("user_id")
    return (
        scored.withColumn("__rd", F.row_number().over(wd))
        .withColumn("n_events", F.count(F.lit(1)).over(wu))
        .where(F.col("__rd") == 1)
        .select("user_id", "n_events", "n_in_window", "ewma")
    )


@register(
    "events_cube_rollup",
    """
    SELECT grouping(event_type)::INT AS g_type,
           grouping(user_band)::INT AS g_band,
           event_type, user_band,
           count(*)::BIGINT AS n_events,
           round(sum(value::DECIMAL(18,2)), 2)::DOUBLE AS sum_value
    FROM (SELECT event_type, (user_id % 4)::INT AS user_band, value
          FROM events)
    GROUP BY CUBE (event_type, user_band)
    """,
)
def events_cube_rollup(spark, sf_dir):
    """CUBE datacard over the event log: all four grouping-set
    combinations of (event_type, user_band) in ONE pass — Catalyst
    expands the cube into a single Expand + partial-aggregating
    groupBy, so at 100 TB this costs one shuffle of 4x the aggregate
    rows (not 4 scans), the standard OLAP rollup shape. grouping()
    flags disambiguate subtotal rows from genuine NULL keys; money
    sums ride the engine-wide DECIMAL discipline so every subtotal is
    hash-exact cross-engine."""
    e = _t(spark, sf_dir, "events").select(
        "event_type",
        F.pmod(F.col("user_id"), F.lit(4)).cast("int").alias("user_band"),
        "value",
    )
    return e.cube("event_type", "user_band").agg(
        F.grouping("event_type").cast("int").alias("g_type"),
        F.grouping("user_band").cast("int").alias("g_band"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("sum_value"),
    ).select(
        "g_type", "g_band", "event_type", "user_band",
        "n_events", "sum_value",
    )
