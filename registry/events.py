"""Event-table queries: rollups, sessionisation, as-of attribution
(DuckDB's ASOF JOIN as the oracle), banded range joins, rolling windows,
funnels, retention, SCD2, JSON props, gap-fill, pivot, ROLLUP, exact and
histogram quantiles, MAD outliers, Z-order stats and HyperLogLog sketches."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from html_parser_spark.functions import joins as JN
from html_parser_spark.functions import sketch as SK
from html_parser_spark.functions import zorder as ZO

from registry import query
from registry.plans import detail_blocks, nodes


def _hll_oracle(key_sql: str) -> str:
    """DuckDB mirror of functions/sketch.hll_distinct over events grouped
    by event_type: recomputes the sketch REGISTER-FOR-REGISTER (same md5
    bits, same integer fold, same single-division estimate — see the
    sketch.py module docstring for the ln/rounding determinism argument)."""
    return f"""
        WITH k AS (
          SELECT event_type, md5({key_sql}) AS h FROM events
        ), p AS (
          SELECT event_type,
                 (instr('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
                 + (instr('0123456789abcdef', substr(h, 2, 1)) - 1) AS reg,
                 substr(h, 3, 14) AS rest,
                 length(regexp_extract(substr(h, 3, 14), '^0*', 0)) AS z
          FROM k
        ), r AS (
          SELECT event_type, reg,
                 LEAST(CASE WHEN z = 14 THEN 57
                       ELSE 4 * z
                            + (CASE WHEN iv >= 8 THEN 0 WHEN iv >= 4 THEN 1
                                    WHEN iv >= 2 THEN 2 ELSE 3 END) + 1
                       END, 40) AS rho
          FROM (SELECT event_type, reg, z,
                       instr('0123456789abcdef', substr(rest, z + 1, 1)) - 1
                         AS iv
                FROM p)
        ), m AS (
          SELECT event_type, reg, MAX(rho) AS mrho FROM r GROUP BY 1, 2
        ), f AS (
          SELECT event_type,
                 CAST(COUNT(*) AS INTEGER) AS n_reg,
                 CAST(256 - COUNT(*) AS INTEGER) AS v_zero,
                 CAST(CAST(SUM(1::BIGINT << (40 - mrho)) AS BIGINT)
                      + CAST(256 - COUNT(*) AS BIGINT) * (1::BIGINT << 40)
                      AS BIGINT) AS s_fold
          FROM m GROUP BY 1
        ), est AS (
          SELECT *,
                 0.7213e0 / (1.0e0 + 1.079e0 / 256.0e0) * 256.0e0 * 256.0e0
                 * CAST(1::BIGINT << 40 AS DOUBLE) / CAST(s_fold AS DOUBLE)
                   AS raw_est
          FROM f
        ), x AS (
          SELECT event_type,
                 CAST(COUNT(DISTINCT {key_sql}) AS BIGINT) AS exact_distinct
          FROM events GROUP BY 1
        )
        SELECT est.event_type, n_reg, v_zero, s_fold, raw_est,
               CAST(round(CASE WHEN raw_est <= 2.5e0 * 256.0e0 AND v_zero > 0
                          THEN 256.0e0 * ln(256.0e0 / CAST(v_zero AS DOUBLE))
                          ELSE raw_est END) AS BIGINT) AS est_rounded,
               exact_distinct
        FROM est JOIN x USING (event_type)
    """


def _events_utc(spark, sf_dir):
    """events read under the entry's UTC session clock
    (__spark_entry__._scoped) so epoch arithmetic matches DuckDB's; ts is
    cast NTZ -> TIMESTAMP (wall-clock preserving under UTC) because
    unix_micros() rejects TIMESTAMP_NTZ."""
    return spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )


@query("events_hourly", pins=(
    ("map-side partial aggregation", lambda p: "partial_" in p),
    ("scan pruned to event_type,ts,value",
     lambda p: "ReadSchema: struct<ts:timestamp_ntz,event_type:string,value:double>" in p),
), oracle="""
            SELECT event_type,
                   substr(CAST(ts AS VARCHAR), 1, 13) AS hour_str,
                   COUNT(*) AS n_events,
                   CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                     AS value_cents
            FROM events GROUP BY 1, 2
        """)
def q_events_hourly(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.groupBy(
        "event_type", F.expr("substr(cast(ts as string), 1, 13)").alias("hour_str")
    ).agg(
        F.count("*").alias("n_events"),
        F.expr("cast(sum(cast(round(value * 100) as bigint)) as bigint)").alias(
            "value_cents"
        ),
    )


@query("events_sessionize", pins=(
    ("single exchange: lag + running-sum windows and the session "
     "groupBy all reuse the user_id hash partitioning",
     lambda p: nodes(p, "Exchange") == 1
     and "hashpartitioning(user_id" in p),
    ("scan pruned to the four needed columns",
     lambda p: "ReadSchema: struct<event_id:bigint,ts:timestamp_ntz,user_id:bigint,value:double>" in p),
), oracle="""
            WITH e AS (
              SELECT user_id, event_id, value,
                     CAST(floor(epoch(ts)) AS BIGINT) AS tsec
              FROM events
            ), m AS (
              SELECT *,
                     CASE WHEN lag(tsec) OVER w IS NULL
                               OR tsec - lag(tsec) OVER w > 1800
                          THEN 1 ELSE 0 END AS mark
              FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsec, event_id)
            ), s AS (
              SELECT *,
                     CAST(SUM(mark) OVER (PARTITION BY user_id
                                          ORDER BY tsec, event_id
                                          ROWS UNBOUNDED PRECEDING) AS INT)
                       AS session_seq
              FROM m
            )
            SELECT user_id, session_seq,
                   COUNT(*) AS n_events,
                   CAST(MIN(tsec) AS BIGINT) AS start_epoch,
                   CAST(MAX(tsec) - MIN(tsec) AS BIGINT) AS duration_secs,
                   CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                     AS value_cents
            FROM s GROUP BY 1, 2
        """)
def q_events_sessionize(spark, sf_dir):
    """Gap-based sessionization: a session ends after 30 min of inactivity.

    Standard training-pipeline op (the reference has no aggregation at all —
    SURVEY.md §2.2 — so this is pipeline capability, not parity). Scale
    posture: ONE shuffle on user_id for the two stacked window functions
    (lag + running sum share the frame) and the session groupBy reuses the
    same partitioning, so Catalyst plans a single Exchange. Second-precision
    epoch arithmetic keeps both engines integer-exact.
    """
    # ts is TIMESTAMP_NTZ: the entry's UTC session clock reads the
    # wall-clock as UTC (same convention as DuckDB's epoch()) so both
    # engines compute identical integer seconds
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id",
        "event_id",
        "value",
        F.unix_seconds(F.col("ts").cast("timestamp")).alias("tsec"),
    )
    w = Window.partitionBy("user_id").orderBy("tsec", "event_id")
    gap = F.col("tsec") - F.lag("tsec").over(w)
    mark = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sess = ev.withColumn(
        "session_seq",
        F.sum(mark).over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("int"),
    )
    return sess.groupBy("user_id", "session_seq").agg(
        F.count("*").alias("n_events"),
        F.min("tsec").alias("start_epoch"),
        F.expr("cast(max(tsec) - min(tsec) as bigint)").alias("duration_secs"),
        F.expr("cast(sum(cast(round(value * 100) as bigint)) as bigint)").alias(
            "value_cents"
        ),
    )


# cross-engine check of the as-of operator itself: DuckDB's NATIVE
# ASOF JOIN vs our union-window plan ((user_id, ts) is tie-free at
# every sf — verified — so both semantics are identical)
@query("events_asof_attribution", pins=(
    ("single exchange: the union-window as-of plan shuffles once on "
     "user_id (no join, no pair blowup)",
     lambda p: nodes(p, "Exchange") == 1
     and "hashpartitioning(user_id" in p),
), oracle="""
            WITH l AS (
              SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'purchase'
            ), r AS (
              SELECT user_id, ts, event_id AS click_event_id FROM events
              WHERE event_type = 'click'
            )
            SELECT l.event_id, l.user_id,
                   epoch_us(l.ts) AS purchase_us,
                   r.click_event_id,
                   epoch_us(r.ts) AS click_us,
                   epoch_us(l.ts) - epoch_us(r.ts) AS wait_us
            FROM l ASOF LEFT JOIN r
              ON l.user_id = r.user_id AND l.ts >= r.ts
        """)
def q_events_asof(spark, sf_dir):
    """As-of attribution: every purchase joined to the user's LATEST click
    at-or-before it (functions/joins.asof_join — union-window plan, ONE
    Exchange, no pair blowup). Oracle: DuckDB's native ASOF JOIN — a real
    cross-engine check of the operator's semantics (tie-free at every sf,
    verified)."""
    ev = _events_utc(spark, sf_dir)
    left = ev.where("event_type = 'purchase'").select("event_id", "user_id", "ts")
    right = ev.where("event_type = 'click'").select(
        "user_id", "ts", F.col("event_id").alias("click_event_id")
    )
    res = JN.asof_join(left, right, on="user_id", right_cols=["click_event_id"])
    return res.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts")).alias("purchase_us"),
        F.col("asof_click_event_id").alias("click_event_id"),
        F.unix_micros(F.col("asof_ts")).alias("click_us"),
        (F.unix_micros(F.col("ts")) - F.unix_micros(F.col("asof_ts"))).alias(
            "wait_us"
        ),
    )


@query("events_error_burst", pins=(
    ("banded range join is a real equi-join, never a nested-loop/"
     "cartesian fallback",
     lambda p: "NestedLoop" not in p and "CartesianProduct" not in p
     and ("SortMergeJoin" in p or "ShuffledHashJoin" in p
          or "BroadcastHashJoin" in p)),
    ("bounded fan-out: the only row amplification is the 2-band "
     "Generate on the right side",
     lambda p: sum("Arguments: explode(" in b
                   for b in detail_blocks(p, "Generate")) <= 2),
), oracle="""
            WITH l AS (
              SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'error'
            ), r AS (
              SELECT user_id, ts FROM events WHERE event_type = 'click'
            )
            SELECT l.event_id, l.user_id, epoch_us(l.ts) AS err_us,
                   CAST(COUNT(r.ts) AS INTEGER) AS n_clicks_2m
            FROM l LEFT JOIN r
              ON l.user_id = r.user_id
             AND epoch_us(l.ts) - epoch_us(r.ts) BETWEEN 0 AND 120000000
            GROUP BY 1, 2, 3
        """)
def q_events_error_burst(spark, sf_dir):
    """Range (proximity) join: clicks of the same user within the 120 s
    BEFORE each error (functions/joins.range_join_count — banded equi-join,
    bounded 2x fan-out, never an inequality/cartesian join)."""
    ev = _events_utc(spark, sf_dir)
    left = ev.where("event_type = 'error'").select("event_id", "user_id", "ts")
    right = ev.where("event_type = 'click'").select("user_id", "ts")
    res = JN.range_join_count(
        left, right, on="user_id", window_secs=120, count_alias="n_clicks_2m"
    )
    return res.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts")).alias("err_us"),
        "n_clicks_2m",
    )


@query("events_rolling_value", oracle="""
            SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                   CAST(SUM(CAST(round(value * 100) AS BIGINT))
                        OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS roll_cents,
                   CAST(COUNT(*)
                        OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
                        AS INTEGER) AS n_in_window
            FROM events
        """)
def q_events_rolling(spark, sf_dir):
    """Rolling-window analytics: per user, trailing-10-event sum of value
    (integer cents — exact) plus the in-window count. ONE Exchange on
    user_id; the frame is rows-based so state is O(10) per row."""
    ev = _events_utc(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-9, Window.currentRow)
    )
    cents = F.expr("cast(round(value * 100) as bigint)")
    return ev.select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        F.sum(cents).over(w).cast("bigint").alias("roll_cents"),
        F.count("*").over(w).cast("int").alias("n_in_window"),
    )


@query("events_funnel", pins=(
    ("ONE exchange on user_id: the three chained stage-min windows "
     "and the final groupBy all share it — no join chain",
     lambda p: nodes(p, "Exchange") == 1
     and "Join" not in p),
), oracle="""
            WITH e AS (
              SELECT user_id, event_type,
                     epoch_us(ts) // 1000000 AS tsec
              FROM events
            ),
            a AS (
              SELECT *,
                     MIN(CASE WHEN event_type = 'signup' THEN tsec END)
                       OVER (PARTITION BY user_id) AS s1
              FROM e
            ),
            b AS (
              SELECT *,
                     MIN(CASE WHEN event_type = 'click' AND tsec >= s1
                              AND tsec <= s1 + 604800 THEN tsec END)
                       OVER (PARTITION BY user_id) AS s2
              FROM a
            ),
            c AS (
              SELECT *,
                     MIN(CASE WHEN event_type = 'purchase' AND tsec >= s2
                              AND tsec <= s2 + 604800 THEN tsec END)
                       OVER (PARTITION BY user_id) AS s3
              FROM b
            ),
            g AS (
              SELECT user_id,
                     CAST(MAX(s1) AS BIGINT) AS signup_s,
                     CAST(MAX(s2) AS BIGINT) AS click_s,
                     CAST(MAX(s3) AS BIGINT) AS purchase_s
              FROM c GROUP BY 1
            )
            SELECT *,
                   CAST(CASE WHEN purchase_s IS NOT NULL THEN 3
                             WHEN click_s IS NOT NULL THEN 2
                             WHEN signup_s IS NOT NULL THEN 1
                             ELSE 0 END AS INTEGER) AS stage_reached
            FROM g
        """)
def q_events_funnel(spark, sf_dir):
    """Funnel analysis — signup -> click -> purchase, each stage within 7
    days of the previous, greedy-earliest semantics (stage k anchors on the
    EARLIEST qualifying stage-(k-1) time; the standard product-analytics
    funnel definition, deterministic on both engines).

    Scale shape: ONE Exchange on user_id; the three stage times are
    chained conditional window MINs over the same partitioning (each
    stage's predicate references the previous stage's window result — a
    projection chain, not a join chain)."""
    ev = _events_utc(spark, sf_dir).select(
        "user_id",
        "event_type",
        F.unix_seconds(F.col("ts")).alias("tsec"),
    )
    wn = Window.partitionBy("user_id")
    week = 7 * 86400
    s1 = ev.withColumn(
        "s1",
        F.expr("min(case when event_type = 'signup' then tsec end)").over(wn),
    )
    s2 = s1.withColumn(
        "s2",
        F.expr(
            "min(case when event_type = 'click' and tsec >= s1 "
            f"and tsec <= s1 + {week} then tsec end)"
        ).over(wn),
    )
    s3 = s2.withColumn(
        "s3",
        F.expr(
            "min(case when event_type = 'purchase' and tsec >= s2 "
            f"and tsec <= s2 + {week} then tsec end)"
        ).over(wn),
    )
    return (
        s3.groupBy("user_id")
        .agg(
            F.expr("cast(max(s1) as bigint)").alias("signup_s"),
            F.expr("cast(max(s2) as bigint)").alias("click_s"),
            F.expr("cast(max(s3) as bigint)").alias("purchase_s"),
        )
        .withColumn(
            "stage_reached",
            F.expr(
                "cast(case when purchase_s is not null then 3 "
                "when click_s is not null then 2 "
                "when signup_s is not null then 1 else 0 end as int)"
            ),
        )
    )


@query("events_retention_cohorts", pins=(
    ("two exchanges: the per-user cohort window and the "
     "(cohort, offset) distinct-count groupBy",
     lambda p: nodes(p, "Exchange") == 2),
), oracle="""
            WITH e AS (
              SELECT user_id,
                     CAST(epoch_us(ts) // 1000000 // 604800 AS BIGINT)
                       AS week
              FROM events
            ),
            c AS (
              SELECT *, MIN(week) OVER (PARTITION BY user_id) AS cohort_week
              FROM e
            )
            SELECT cohort_week,
                   CAST(week - cohort_week AS BIGINT) AS week_offset,
                   COUNT(DISTINCT user_id) AS n_users
            FROM c GROUP BY 1, 2
        """)
def q_events_retention(spark, sf_dir):
    """Cohort retention matrix — the canonical growth-analytics query:
    users grouped by first-activity week (cohort), counted distinct in
    each subsequent week offset. TWO exchanges: the per-user first-week
    window on user_id, then the (cohort, offset) distinct-count groupBy.
    Weeks are integer epoch-days div 7 — engine-exact."""
    ev = _events_utc(spark, sf_dir).select(
        "user_id",
        F.expr("cast(unix_seconds(ts) div 604800 as bigint)").alias("week"),
    )
    wn = Window.partitionBy("user_id")
    cohorts = ev.withColumn("cohort_week", F.min("week").over(wn))
    return (
        cohorts.groupBy(
            "cohort_week",
            F.expr("cast(week - cohort_week as bigint)").alias("week_offset"),
        )
        .agg(F.expr("cast(count(distinct user_id) as bigint)").alias("n_users"))
    )


@query("events_scd2_history", pins=(
    ("ONE exchange on user_id for the lead window; no join",
     lambda p: nodes(p, "Exchange") == 1
     and "Join" not in p),
    ("scan pruned to the four needed columns",
     lambda p: "ReadSchema: struct<event_id:bigint,ts:timestamp" in p),
), oracle="""
            SELECT user_id, event_id,
                   epoch_us(ts) AS valid_from_us,
                   CAST(round(value * 100) AS BIGINT) AS value_cents,
                   lead(epoch_us(ts)) OVER (PARTITION BY user_id
                     ORDER BY epoch_us(ts), event_id) AS valid_to_us,
                   CAST(lead(epoch_us(ts)) OVER (PARTITION BY user_id
                     ORDER BY epoch_us(ts), event_id) IS NULL AS INTEGER)
                     AS is_current
            FROM events
        """)
def q_events_scd2(spark, sf_dir):
    """SCD-2 history build — change records to validity intervals: per
    user, each event's value becomes current from its timestamp until the
    next event (lead window), the last interval open-ended (null). ONE
    Exchange on user_id; the dimension-table pattern every warehouse merge
    implements."""
    ev = _events_utc(spark, sf_dir).select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts")).alias("valid_from_us"),
        F.expr("cast(round(value * 100) as bigint)").alias("value_cents"),
    )
    w = Window.partitionBy("user_id").orderBy("valid_from_us", "event_id")
    return ev.withColumn(
        "valid_to_us", F.lead("valid_from_us").over(w)
    ).withColumn("is_current", F.expr("cast(valid_to_us is null as int)"))


@query("events_json_props", pins=(
    ("JSON parse happens in the scan projection; stats are "
     "map-side partial",
     lambda p: "from_json" in p and "partial_count" in p),
    ("scan pruned to event_type,props",
     lambda p: "ReadSchema: struct<event_type:string,props:string>"
     in p),
), oracle="""
            WITH p AS (
              SELECT event_type,
                     CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
              FROM events
            )
            SELECT event_type,
                   COUNT(*) AS n_events,
                   COUNT(k) AS n_parsed,
                   CAST(SUM(k) AS BIGINT) AS sum_k,
                   CAST(MIN(k) AS INTEGER) AS min_k,
                   CAST(MAX(k) AS INTEGER) AS max_k,
                   COUNT(DISTINCT k) AS n_distinct_k
            FROM p GROUP BY 1
        """)
def q_events_json_props(spark, sf_dir):
    """Schema-on-read over the semi-structured props column: `from_json`
    with an explicit schema (the strict API — malformed rows become null,
    never a crash) feeding per-type stats on the extracted field. All
    JVM-side; at 100 TB this is the 'late-binding JSON payload' pattern —
    parse once in the scan projection, aggregate map-side."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", F.expr("from_json(props, 'k int').k").alias("k")
    )
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.expr("cast(count(k) as bigint)").alias("n_parsed"),
        F.expr("cast(sum(k) as bigint)").alias("sum_k"),
        F.expr("cast(min(k) as int)").alias("min_k"),
        F.expr("cast(max(k) as int)").alias("max_k"),
        F.expr("cast(count(distinct k) as bigint)").alias("n_distinct_k"),
    )


@query("events_gapfill", pins=(
    ("join-free with ONE exchange: the user_id repartition is "
     "reused by the hourly agg and the per-user pack",
     lambda p: nodes(p, "Exchange") == 1
     and "Join" not in p),
    ("both aggregations are map-side partial",
     lambda p: "partial_count" in p),
    ("the fill is a narrow zip_with fold, no indexing lambda over "
     "a built array",
     lambda p: "zip_with" in p.lower() or "ZipWith" in p),
), oracle="""
            WITH hourly AS (
              SELECT user_id, epoch_us(ts) // 3600000000 AS hr,
                     COUNT(*) AS n_events,
                     CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                       AS cents
              FROM events GROUP BY 1, 2
            ),
            spine AS (
              SELECT user_id, unnest(generate_series(mn, mx)) AS hr
              FROM (SELECT user_id, MIN(hr) AS mn, MAX(hr) AS mx
                    FROM hourly GROUP BY 1)
            )
            SELECT s.user_id, s.hr,
                   COALESCE(h.n_events, 0) AS n_events,
                   last_value(h.cents IGNORE NULLS)
                     OVER (PARTITION BY s.user_id ORDER BY s.hr)
                     AS value_cents_filled,
                   CAST(h.n_events IS NULL AS INTEGER) AS is_gap
            FROM spine s LEFT JOIN hourly h USING (user_id, hr)
        """)
def q_events_gapfill(spark, sf_dir):
    """Time-series gap-fill: per user, the hourly activity series with
    every missing hour between the user's first and last active hour
    materialized (n_events = 0) and value carried forward from the last
    observed hour — the dense-series prep step for rate/retention models.

    Scale shape: join-free and ONE Exchange total. An explicit
    repartition on user_id starts the wide stage; the per-(user, hour)
    aggregate and the per-user pack both reuse that partitioning
    (HashPartitioning(user_id) satisfies both groupings), and the fill is
    a narrow array fold — each observed hour is zip_with-paired with its
    successor and expands to the gap rows it covers, carrying its cents
    value. No spine join, no IGNORE-NULLS window, no second shuffle. Per-
    user state is bounded by the user's active-hour RANGE (a year-long
    user is ~9k structs); range-skewed keys would salt by hour-block.
    """
    ev = _events_utc(spark, sf_dir)
    hourly = (
        ev.repartition("user_id")
        .groupBy(
            "user_id",
            F.expr("unix_micros(ts) div 3600000000").alias("hr"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.expr("cast(sum(cast(round(value * 100) as bigint)) as bigint)").alias(
                "cents"
            ),
        )
    )
    packed = hourly.groupBy("user_id").agg(
        F.expr("array_sort(collect_list(struct(hr, n_events, cents)))").alias("obs")
    )
    fill = """
      flatten(zip_with(obs, slice(obs, 2, size(obs)), (a, b) ->
        transform(sequence(a.hr, coalesce(b.hr, a.hr + 1) - 1), h ->
          struct(h as hr,
                 case when h = a.hr then a.n_events else 0L end as n_events,
                 a.cents as value_cents_filled,
                 cast(h <> a.hr as int) as is_gap))))
    """
    return packed.select(
        "user_id", F.explode(F.expr(fill)).alias("c")
    ).select("user_id", "c.hr", "c.n_events", "c.value_cents_filled", "c.is_gap")


@query("events_pivot_hourly", oracle="""
            SELECT substr(CAST(ts AS VARCHAR), 1, 13) AS hour_str,
                   CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_click,
                   CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_error,
                   CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_purchase,
                   CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_signup,
                   CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_view
            FROM events GROUP BY 1
        """)
def q_events_pivot(spark, sf_dir):
    """Pivot: hourly event counts spread into one column per event type
    (Spark relational pivot; oracle = conditional aggregation). Missing
    cells are 0, not null, so the surface is total."""
    ev = _events_utc(spark, sf_dir).withColumn(
        "hour_str", F.expr("substr(cast(ts as string), 1, 13)")
    )
    types = ["click", "error", "purchase", "signup", "view"]
    piv = ev.groupBy("hour_str").pivot("event_type", types).count()
    return piv.select(
        "hour_str",
        *[
            F.coalesce(F.col(t), F.lit(0)).cast("bigint").alias(f"n_{t}")
            for t in types
        ],
    )


@query("events_rollup_totals", oracle="""
            SELECT COALESCE(event_type, '<all>') AS event_type,
                   COALESCE(day_str, '<all>') AS day_str,
                   COUNT(*) AS n_events,
                   CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                     AS value_cents
            FROM (SELECT event_type,
                         substr(CAST(ts AS VARCHAR), 1, 10) AS day_str,
                         value
                  FROM events)
            GROUP BY ROLLUP(event_type, day_str)
        """)
def q_events_rollup(spark, sf_dir):
    """ROLLUP totals: (event_type, day) -> per-day, per-type subtotals and
    the grand total in one pass (partial-aggregatable grouping sets).
    NULL grouping markers are coalesced to '<all>' so both engines emit
    identical label rows."""
    ev = _events_utc(spark, sf_dir).withColumn(
        "day_str", F.expr("substr(cast(ts as string), 1, 10)")
    )
    return (
        ev.rollup("event_type", "day_str")
        .agg(
            F.count("*").alias("n_events"),
            F.expr("cast(sum(cast(round(value * 100) as bigint)) as bigint)").alias(
                "value_cents"
            ),
        )
        .select(
            F.coalesce("event_type", F.lit("<all>")).alias("event_type"),
            F.coalesce("day_str", F.lit("<all>")).alias("day_str"),
            "n_events",
            "value_cents",
        )
    )


@query("events_quantiles", pins=(
    ("rank window, count window, and final groupBy all share ONE "
     "event_type exchange",
     lambda p: nodes(p, "Exchange") == 1
     and "hashpartitioning(event_type" in p),
), oracle="""
            WITH e AS (
              SELECT event_type, event_id,
                     CAST(round(value * 100) AS BIGINT) AS cents
              FROM events
            ), r AS (
              SELECT *,
                     row_number() OVER (PARTITION BY event_type
                                        ORDER BY cents, event_id) AS rk,
                     COUNT(*) OVER (PARTITION BY event_type) AS n
              FROM e
            )
            SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN rk = (n + 1) // 2 THEN cents ELSE 0 END)
                      + SUM(CASE WHEN rk = (n + 2) // 2 THEN cents ELSE 0 END)
                        AS BIGINT) AS med_cents_x2,
                   CAST(MAX(CASE WHEN rk = (9 * n + 9) // 10 THEN cents END)
                        AS BIGINT) AS p90_cents
            FROM r GROUP BY 1
        """)
def q_events_quantiles(spark, sf_dir):
    """EXACT order-statistic quantiles per event type (median as the sum
    of the two middle elements — stays integer — and the p90 element).
    Deterministic tie-break by event_id; no interpolation formula to
    drift between engines. One Exchange; the rank pass and the aggregate
    share the event_type partitioning."""
    ev = _events_utc(spark, sf_dir).select(
        "event_type",
        "event_id",
        F.expr("cast(round(value * 100) as bigint)").alias("cents"),
    )
    w = Window.partitionBy("event_type").orderBy("cents", "event_id")
    wn = Window.partitionBy("event_type")
    ranked = ev.withColumn("rk", F.row_number().over(w)).withColumn(
        "n", F.count("*").over(wn)
    )
    return ranked.groupBy("event_type").agg(
        F.expr("cast(max(n) as bigint)").alias("n"),
        F.expr(
            "cast(sum(case when rk = (n + 1) div 2 then cents else 0 end) + "
            "sum(case when rk = (n + 2) div 2 then cents else 0 end) "
            "as bigint)"
        ).alias("med_cents_x2"),
        F.expr(
            "cast(max(case when rk = (9 * n + 9) div 10 then cents end) "
            "as bigint)"
        ).alias("p90_cents"),
    )


@query("events_mad_outliers", pins=(
    ("ONE exchange on event_type shared by both rank passes, both "
     "window MAX attaches, and the final groupBy — no join-back",
     lambda p: nodes(p, "Exchange") == 1
     and "Join" not in p),
    ("final aggregate is map-side partial",
     lambda p: "partial_max" in p or "partial_sum" in p),
), oracle="""
            WITH e AS (
              SELECT event_type, event_id,
                     CAST(round(value * 100) AS BIGINT) AS c
              FROM events
            ),
            r AS (
              SELECT *,
                     row_number() OVER (PARTITION BY event_type
                                        ORDER BY c, event_id) AS rk,
                     COUNT(*) OVER (PARTITION BY event_type) AS n
              FROM e
            ),
            med AS (
              SELECT event_type,
                     MAX(CASE WHEN rk = (n + 1) // 2 THEN c END) AS med_c
              FROM r GROUP BY 1
            ),
            d AS (
              SELECT r.*, med_c, abs(c - med_c) AS dev
              FROM r JOIN med USING (event_type)
            ),
            r2 AS (
              SELECT *, row_number() OVER (PARTITION BY event_type
                                           ORDER BY dev, event_id) AS rk2
              FROM d
            ),
            mad AS (
              SELECT event_type,
                     MAX(CASE WHEN rk2 = (n + 1) // 2 THEN dev END) AS mad_c
              FROM r2 GROUP BY 1
            )
            SELECT d.event_type,
                   CAST(MAX(d.n) AS BIGINT) AS n,
                   CAST(MAX(d.med_c) AS BIGINT) AS med_c,
                   CAST(MAX(mad.mad_c) AS BIGINT) AS mad_c,
                   CAST(SUM(CASE WHEN dev > 5 * mad.mad_c THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_outliers
            FROM d JOIN mad USING (event_type) GROUP BY 1
        """)
def q_events_mad_outliers(spark, sf_dir):
    """Robust outlier detection per event type: median / MAD (median
    absolute deviation) as EXACT lower-median order statistics in integer
    cents — no mean/stddev (one mega-value corrupts both; sqrt is not
    cross-engine bit-stable) — and the count of events beyond 5 x MAD.

    Scale shape: ONE Exchange on event_type, shared by everything. The
    per-type median and MAD never leave the partition: each is a window
    MAX over the same event_type partitioning (no groupBy + join-back,
    which would plan extra exchanges per attach), the two rank passes are
    in-partition sorts, and the final groupBy reuses the partitioning."""
    ev = _events_utc(spark, sf_dir).select(
        "event_type",
        "event_id",
        F.expr("cast(round(value * 100) as bigint)").alias("cents"),
    )
    w = Window.partitionBy("event_type").orderBy("cents", "event_id")
    wn = Window.partitionBy("event_type")
    ranked = ev.withColumn("rk", F.row_number().over(w)).withColumn(
        "n", F.count("*").over(wn)
    )
    d = ranked.withColumn(
        "med_c",
        F.expr("max(case when rk = (n + 1) div 2 then cents end)").over(wn),
    ).withColumn("dev", F.expr("abs(cents - med_c)"))
    w2 = Window.partitionBy("event_type").orderBy("dev", "event_id")
    d2 = d.withColumn("rk2", F.row_number().over(w2)).withColumn(
        "mad_c",
        F.expr("max(case when rk2 = (n + 1) div 2 then dev end)").over(wn),
    )
    return d2.groupBy("event_type").agg(
        F.expr("cast(max(n) as bigint)").alias("n"),
        F.expr("cast(max(med_c) as bigint)").alias("med_c"),
        F.expr("cast(max(mad_c) as bigint)").alias("mad_c"),
        F.expr(
            "cast(sum(case when dev > 5 * mad_c then 1 else 0 end) as bigint)"
        ).alias("n_outliers"),
    )


@query("layout_zorder_stats", oracle="""
            WITH k AS (
              SELECT user_id AS _a,
                     CAST(round(value * 100) AS BIGINT) AS _b,
                     event_id,
                     list_reduce(list_prepend(0::BIGINT, list_transform(
                       range(0, 16),
                       i -> (((LEAST(user_id, 65535) >> i) & 1) << (2 * i))
                          + (((LEAST(CAST(round(value * 100) AS BIGINT),
                                     65535) >> i) & 1) << (2 * i + 1)))),
                       (acc, v) -> acc + v) AS _zkey
              FROM events
            ), r AS (
              SELECT _a, _b,
                     row_number() OVER (ORDER BY _zkey, event_id) AS rn,
                     COUNT(*) OVER () AS n
              FROM k
            ), bkt AS (
              SELECT _a, _b,
                     CAST(((rn - 1) * 16) // n AS INTEGER) AS bucket
              FROM r
            )
            SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(MIN(_a) AS BIGINT) AS min_a,
                   CAST(MAX(_a) AS BIGINT) AS max_a,
                   CAST(MIN(_b) AS BIGINT) AS min_b,
                   CAST(MAX(_b) AS BIGINT) AS max_b
            FROM bkt GROUP BY 1
        """)
def q_layout_zorder(spark, sf_dir):
    """Z-order layout stats (functions/zorder.py): Morton-interleave
    (user_id, value_cents), slice the sorted table into 16 buckets, emit
    each bucket's min/max on BOTH dims — the footer stats that drive file
    pruning. The unit test asserts the pruning win vs a one-column sort;
    the gate pins keys/buckets/stats bit-for-bit."""
    ev = _events_utc(spark, sf_dir).selectExpr(
        "user_id", "cast(round(value * 100) as bigint) as cents", "event_id"
    )
    return ZO.zorder_bucket_stats(ev, "user_id", "cents", "event_id")


@query("events_hist_quantiles", pins=(
    ("bin counts are map-side partial aggregation (<= 1024 cells "
     "per group cross the wire)", lambda p: "partial_count" in p),
    ("scan pruned to event_type,value",
     lambda p: "ReadSchema: struct<event_type:string,value:double>" in p),
), oracle="""
            WITH b AS (
              SELECT event_type,
                     LEAST(CAST(CAST(round(value * 100) AS BIGINT) // 100
                                AS INTEGER), 1023) AS bin
              FROM events
            ), c AS (
              SELECT event_type, bin, CAST(COUNT(*) AS BIGINT) AS cnt
              FROM b GROUP BY 1, 2
            ), cc AS (
              SELECT *,
                     SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin
                                    ROWS UNBOUNDED PRECEDING) AS cum,
                     SUM(cnt) OVER (PARTITION BY event_type) AS n
              FROM c
            )
            SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
                   CAST(MIN(CASE WHEN cum >= ((500 * n) + 999) // 1000
                            THEN (bin + 1) * 100 END) AS BIGINT) AS hq500_cents,
                   CAST(MIN(CASE WHEN cum >= ((900 * n) + 999) // 1000
                            THEN (bin + 1) * 100 END) AS BIGINT) AS hq900_cents,
                   CAST(MIN(CASE WHEN cum >= ((990 * n) + 999) // 1000
                            THEN (bin + 1) * 100 END) AS BIGINT) AS hq990_cents
            FROM cc GROUP BY 1
        """)
def q_events_hist_quantiles(spark, sf_dir):
    """Histogram quantiles (functions/sketch.histogram_quantiles): the
    SCALE path for percentiles — additive $1 bin counts (map-side
    combinable, merge = add, <= 1024 cells/group) instead of the exact
    query's per-group sort; answers are bin upper edges, within one bin
    width of q_events_quantiles' exact order statistics."""
    return SK.histogram_quantiles(
        _events_utc(spark, sf_dir),
        "cast(round(value * 100) as bigint)",
        ["event_type"],
    )


@query("sketch_hll_users", pins=(
    ("register fold is map-side partial aggregation (executors ship "
     "<= groups x 256 rows)", lambda p: "partial_max" in p),
    ("scan pruned to event_type,user_id",
     lambda p: "ReadSchema: struct<user_id:bigint,event_type:string>" in p),
), oracle=_hll_oracle("CAST(user_id AS VARCHAR)"))
def q_sketch_hll_users(spark, sf_dir):
    """Deterministic HLL distinct users per event type (functions/sketch.py
    — md5-derived registers, integer-exact fold, O(256) state per group;
    the oracle recomputes the sketch register-for-register). The ~150-user
    groups exercise the small-range linear-counting branch."""
    return SK.hll_distinct(
        _events_utc(spark, sf_dir),
        "cast(user_id as string)",
        ["event_type"],
    )


@query("sketch_hll_user_minutes", oracle=_hll_oracle(
        "concat(CAST(user_id AS VARCHAR), '-', "
        "CAST(epoch_us(ts) // 60000000 AS VARCHAR))"
    ))
def q_sketch_hll_user_minutes(spark, sf_dir):
    """HLL over the higher-cardinality key (user, activity-minute) —
    exercises the raw-estimator branch at sf >= 0.01 (cardinality per
    group > 2.5*m) and linear counting at sf0.001."""
    key = (
        "concat(cast(user_id as string), '-', "
        "cast(unix_micros(ts) div 60000000 as string))"
    )
    return SK.hll_distinct(_events_utc(spark, sf_dir), key, ["event_type"])
