"""Event-stream operators in batch form: windows, sessions, JSON, pivot.

The reference has no streaming surface (SURVEY.md §2.11) — these are the
net-new stream-table operators required by the north star, expressed here
as batch plans over the ``events`` fixture so the DuckDB oracle can check
them; `streaming/windows.py` runs the same logic as Structured Streaming
with watermarks.

Windows are epoch-aligned (Spark `F.window` semantics); the oracles
reproduce the alignment arithmetic explicitly with integer-microsecond
math (`unix_micros`/`epoch_us`) so both engines bucket identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from data_ingestion_din_spark.functions.hashing import h64_sql
from data_ingestion_din_spark.functions.sketches import (
    hll_bucket,
    hll_num,
    hll_rank,
    hll_scaled_sum,
)
from data_ingestion_din_spark.plans._exact import dec_to_double, dec_to_double_sql
from data_ingestion_din_spark.plans.registry import query
from data_ingestion_din_spark.sources.tables import load_table

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def _dec2(c):
    return F.col(c).cast("decimal(12,2)")


# --------------------------------------------------------------------------
# events_tumbling_5min — tumbling-window aggregate (streaming §2.11 analog).
# Spark: F.window(ts, "5 minutes"); oracle reproduces epoch alignment.
# --------------------------------------------------------------------------
@query(
    "events_tumbling_5min",
    oracle="""
    SELECT
      make_timestamp((epoch_us(ts) // 300000000) * 300000000) AS window_start,
      event_type,
      CAST(count(*) AS BIGINT) AS n_events,
      (CAST((sum(CAST(value AS DECIMAL(12,2)))) * 100 AS BIGINT) / 100.0) AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def events_tumbling_5min(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dec_to_double(F.sum(_dec2("value")), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
        .orderBy("window_start", "event_type")
    )


# --------------------------------------------------------------------------
# events_sliding_10min — sliding window (10 min length, 5 min slide): each
# event lands in exactly two windows. Oracle materializes both candidate
# starts per event (s1 = floor(t/300)*300, s2 = s1-300).
# --------------------------------------------------------------------------
@query(
    "events_sliding_10min",
    oracle="""
    WITH expanded AS (
      SELECT make_timestamp((((epoch_us(ts) // 300000000) - off) * 300) * 1000000)
               AS window_start,
             value
      FROM events, (VALUES (0), (1)) AS offs(off)
    )
    SELECT window_start,
           CAST(count(*) AS BIGINT) AS n_events,
           (CAST((sum(CAST(value AS DECIMAL(12,2)))) * 100 AS BIGINT) / 100.0) AS total_value
    FROM expanded
    GROUP BY 1
    ORDER BY 1
    """,
)
def events_sliding_10min(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dec_to_double(F.sum(_dec2("value")), 2).alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
        .orderBy("window_start")
    )


# --------------------------------------------------------------------------
# events_sessionized — sessionization via lag + cumulative break-flag sum
# (the same pattern as the reference's adjacent-block merge W4,
# ingestion/pdf_parser.py:184-254, and chunk grouping W5,
# backend/services/chunking.py:216-298). Gap threshold 30 minutes.
# --------------------------------------------------------------------------
@query(
    "events_sessionized",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN epoch_us(ts)
                       - lag(epoch_us(ts)) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id)
                       > 1800000000
                  OR lag(ts) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS brk
      FROM events
    ),
    sessions AS (
      SELECT user_id, ts, event_id, value,
             sum(brk) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS session_seq
      FROM flagged
    )
    SELECT user_id,
           CAST(session_seq AS BIGINT) AS session_seq,
           min(ts) AS session_start,
           max(ts) AS session_end,
           CAST(count(*) AS BIGINT) AS n_events,
           (CAST((sum(CAST(value AS DECIMAL(12,2)))) * 100 AS BIGINT) / 100.0) AS total_value
    FROM sessions
    GROUP BY user_id, session_seq
    ORDER BY user_id, session_seq
    """,
)
def events_sessionized(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w_ord = W.partitionBy("user_id").orderBy("ts", "event_id")
    w_run = w_ord.rowsBetween(W.unboundedPreceding, W.currentRow)
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w_ord))
    flagged = ev.withColumn(
        "brk",
        F.when(gap_us.isNull() | (gap_us > 1_800_000_000), F.lit(1)).otherwise(
            F.lit(0)
        ),
    )
    sessions = flagged.withColumn("session_seq", F.sum("brk").over(w_run))
    return (
        sessions.groupBy("user_id", "session_seq")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            dec_to_double(F.sum(_dec2("value")), 2).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("session_seq").cast("bigint").alias("session_seq"),
            "session_start",
            "session_end",
            "n_events",
            "total_value",
        )
        .orderBy("user_id", "session_seq")
    )


# --------------------------------------------------------------------------
# events_json_props — JSON property extraction (`props` bag ↔ reference
# `extra: Dict[str,Any]` open property bag, ingestion/schema.py:114).
# --------------------------------------------------------------------------
@query(
    "events_json_props",
    oracle="""
    SELECT event_type,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
             AS sum_k,
           CAST(count(*) AS BIGINT) AS n
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn(
            "k", F.get_json_object(F.col("props"), "$.k").cast("bigint")
        )
        .groupBy("event_type")
        .agg(
            F.sum("k").cast("bigint").alias("sum_k"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# events_type_pivot — pivot to one column per event type (reference has no
# pivot; SURVEY.md §2.5 notes it comes free with Spark SQL).
# --------------------------------------------------------------------------
@query(
    "events_type_pivot",
    oracle="""
    SELECT user_id % 10 AS user_bucket,
           CAST(count(*) FILTER (WHERE event_type = 'click')    AS BIGINT) AS click,
           CAST(count(*) FILTER (WHERE event_type = 'error')    AS BIGINT) AS error,
           CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase,
           CAST(count(*) FILTER (WHERE event_type = 'signup')   AS BIGINT) AS signup,
           CAST(count(*) FILTER (WHERE event_type = 'view')     AS BIGINT) AS view
    FROM events
    GROUP BY 1
    ORDER BY 1
    """,
)
def events_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    pivoted = (
        ev.withColumn("user_bucket", F.col("user_id") % 10)
        .groupBy("user_bucket")
        .pivot("event_type", list(EVENT_TYPES))
        .count()
    )
    cols = [F.col("user_bucket")] + [
        F.coalesce(F.col(t), F.lit(0)).cast("bigint").alias(t) for t in EVENT_TYPES
    ]
    return pivoted.select(*cols).orderBy("user_bucket")


# --------------------------------------------------------------------------
# clicks_on_error_free_days — per-key anti join: click events on (user, day)
# pairs with no error event. Direct analog of the reference's J1
# camelot-vs-vision conflict resolution (keep vision tables only on pages
# where Camelot found nothing, ingestion/table_extractor.py:785-806).
# --------------------------------------------------------------------------
@query(
    "clicks_on_error_free_days",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           user_id,
           CAST(count(*) AS BIGINT) AS n_clicks
    FROM events e
    WHERE event_type = 'click'
      AND NOT EXISTS (
        SELECT 1 FROM events x
        WHERE x.event_type = 'error'
          AND x.user_id = e.user_id
          AND date_trunc('day', x.ts) = date_trunc('day', e.ts)
      )
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def clicks_on_error_free_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").withColumn(
        "day", F.to_date(F.date_trunc("day", "ts"))
    )
    errors = (
        ev.filter(F.col("event_type") == "error")
        .select("user_id", F.to_date(F.date_trunc("day", "ts")).alias("day"))
        .distinct()
    )
    return (
        clicks.join(errors, ["user_id", "day"], "left_anti")
        .groupBy("day", "user_id")
        .agg(F.count(F.lit(1)).alias("n_clicks"))
        .select("day", "user_id", "n_clicks")
        .orderBy("day", "user_id")
    )


# --------------------------------------------------------------------------
# events_hourly_rollup — multi-resolution continuous-aggregate pattern
# (the "hypertable rollup"): the HOURLY aggregate is computed FROM the
# 5-minute partials, not from raw events. Decimal sums re-aggregate
# exactly (associative integer arithmetic), so rollup-of-partials ==
# direct-from-raw bit-for-bit — which is precisely what the oracle
# checks (it aggregates raw events straight to the hour). At 100 TB this
# is the incremental-maintenance shape: each new 5-min window lands as
# one partial row; the hour/day tiers re-aggregate partials at 1/12th /
# 1/288th the input volume, never rescanning raw history.
# --------------------------------------------------------------------------
@query(
    "events_hourly_rollup",
    oracle="""
    SELECT
      make_timestamp((epoch_us(ts) // 3600000000) * 3600000000)
        AS window_start,
      event_type,
      CAST(count(*) AS BIGINT) AS n_events,
      (CAST((sum(CAST(value AS DECIMAL(12,2)))) * 100 AS BIGINT) / 100.0)
        AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    partials_5min = ev.groupBy(
        F.window("ts", "5 minutes").alias("w"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum(F.col("value").cast("decimal(12,2)")).alias("pv"),
    )
    return (
        partials_5min.groupBy(
            F.window(F.col("w.start"), "1 hour").alias("h"), "event_type"
        )
        .agg(
            F.sum("pn").cast("bigint").alias("n_events"),
            dec_to_double(F.sum("pv"), 2).alias("total_value"),
        )
        .select(
            F.col("h.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
        .orderBy("window_start", "event_type")
    )


# --------------------------------------------------------------------------
# events_5min_gapfill — time-series resample with gap filling + forward
# fill (the hypertable `time_bucket_gapfill`/`locf` shape). Per event
# type: complete 5-min grid between the type's first and last bucket
# (sequence → explode; grid size = time span / 5 min, independent of
# event volume), left join observed bucket aggregates, 0-fill counts,
# forward-fill the running value with last(ignorenulls) over the single
# (type, bucket) ordering. One shuffle for the bucket agg, one for the
# grid join — the ffill window reuses the join partitioning.
# --------------------------------------------------------------------------
_B5 = 300_000_000  # 5 minutes in microseconds


@query(
    "events_5min_gapfill",
    oracle=f"""
    WITH b AS (
      SELECT event_type, epoch_us(ts) // {_B5} AS k,
             CAST(value AS DECIMAL(12,2)) AS v
      FROM events
    ),
    agg AS (
      SELECT event_type, k, count(*) AS n, sum(v) AS tv
      FROM b GROUP BY 1, 2
    ),
    spans AS (SELECT event_type, min(k) AS k0, max(k) AS k1 FROM b GROUP BY 1),
    grid AS (SELECT event_type, unnest(range(k0, k1 + 1)) AS k FROM spans),
    j AS (
      SELECT g.event_type, g.k, coalesce(a.n, 0) AS n, a.tv
      FROM grid g LEFT JOIN agg a ON a.event_type = g.event_type AND a.k = g.k
    )
    SELECT event_type,
           make_timestamp(k * {_B5}) AS bucket_start,
           CAST(n AS BIGINT) AS n_events,
           (CAST(last_value(tv IGNORE NULLS)
                   OVER (PARTITION BY event_type ORDER BY k) * 100 AS BIGINT)
            / 100.0) AS filled_value
    FROM j
    ORDER BY event_type, k
    """,
)
def events_5min_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    b = ev.select(
        "event_type",
        F.expr(f"unix_micros(ts) div {_B5}").alias("k"),
        _dec2("value").alias("v"),
    )
    agg = b.groupBy("event_type", "k").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("tv")
    )
    grid = (
        b.groupBy("event_type")
        .agg(F.min("k").alias("k0"), F.max("k").alias("k1"))
        .select(
            "event_type",
            F.explode(F.sequence(F.col("k0"), F.col("k1"))).alias("k"),
        )
    )
    j = grid.join(agg, ["event_type", "k"], "left")
    ffill = W.partitionBy("event_type").orderBy("k").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    return (
        j.select(
            "event_type",
            F.timestamp_micros(F.col("k") * _B5).alias("bucket_start"),
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_events"),
            dec_to_double(
                F.last("tv", ignorenulls=True).over(ffill), 2
            ).alias("filled_value"),
            "k",
        )
        .orderBy("event_type", "k")
        .drop("k")
    )


# --------------------------------------------------------------------------
# events_daily_retention — cohort retention (first-seen day × day
# offset): the standard activation analytics shape. Two shuffles (per-
# user cohort, then the (cohort, offset) count); the activity set is
# day-distinct first, so the join carries (user, day), not raw events.
# --------------------------------------------------------------------------
@query(
    "events_daily_retention",
    oracle="""
    WITH act AS (
      SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events
    ),
    coh AS (SELECT user_id, min(d) AS cohort FROM act GROUP BY 1)
    SELECT coh.cohort AS cohort_day,
           CAST(date_diff('day', coh.cohort, act.d) AS INT) AS day_offset,
           CAST(count(*) AS BIGINT) AS n_users
    FROM act JOIN coh ON act.user_id = coh.user_id
    WHERE date_diff('day', coh.cohort, act.d) <= 7
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def events_daily_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    act = ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("d")
    ).distinct()
    coh = act.groupBy("user_id").agg(F.min("d").alias("cohort"))
    offset = F.datediff(F.col("d"), F.col("cohort"))
    return (
        act.join(coh, "user_id")
        .filter(offset <= 7)
        .groupBy(
            F.col("cohort").alias("cohort_day"),
            offset.cast("int").alias("day_offset"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .orderBy("cohort_day", "day_offset")
    )


# --------------------------------------------------------------------------
# events_funnel — strictly-ordered 3-stage funnel (view → click →
# purchase, each stage after the previous user's first qualifying
# event). Single shuffle on user_id: three Window passes share the one
# partitioning (each stage's threshold is a column, so "click after
# first view" needs no self-join), then one global conditional count.
# The joins-per-stage formulation would shuffle events once PER stage.
# --------------------------------------------------------------------------
@query(
    "events_funnel",
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY 1
    ),
    c AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t1
      GROUP BY 1
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t2
      GROUP BY 1
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM v) AS n_view,
           (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_view_click,
           (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_full_funnel
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )
    w = W.partitionBy("user_id")
    is_ = lambda t: F.col("event_type") == t  # noqa: E731
    staged = ev.withColumn(
        "t1", F.min(F.when(is_("view"), F.col("ts"))).over(w)
    )
    staged = staged.withColumn(
        "t2",
        F.min(
            F.when(is_("click") & (F.col("ts") > F.col("t1")), F.col("ts"))
        ).over(w),
    )
    staged = staged.withColumn(
        "t3",
        F.min(
            F.when(is_("purchase") & (F.col("ts") > F.col("t2")), F.col("ts"))
        ).over(w),
    )
    per_user = staged.groupBy("user_id").agg(
        F.max("t1").alias("t1"), F.max("t2").alias("t2"), F.max("t3").alias("t3")
    )
    return per_user.agg(
        F.count(F.col("t1")).cast("bigint").alias("n_view"),
        F.count(F.col("t2")).cast("bigint").alias("n_view_click"),
        F.count(F.col("t3")).cast("bigint").alias("n_full_funnel"),
    )


# --------------------------------------------------------------------------
# events_kmv_distinct — a SKETCH under the hash gate: K-minimum-values
# distinct-count estimation (k = 64) of users per event type, next to
# the exact count. Unlike HLL, KMV over the portable md5-derived h64 is
# bit-deterministic, so the ESTIMATE itself is oracle-checked — the
# sketch-capability demonstration that approx_count_distinct can't give
# (engine-specific HLL state). At scale the k smallest hashes per group
# come from a partial TakeOrderedAndProject-style agg; the estimator
# reads ONE row per group: est = (k−1) / (h_k / 2^60), or the exact
# count when the group has fewer than k distinct values.
# --------------------------------------------------------------------------
_KMV_K = 64
_H60 = float(1 << 60)


@query(
    "events_kmv_distinct",
    oracle=f"""
    WITH uh AS (
      SELECT DISTINCT event_type,
             CAST(('0x' || substr(md5('kmv:' || CAST(user_id AS VARCHAR)), 1, 15))
                  AS BIGINT) AS h
      FROM events
    ),
    ranked AS (
      SELECT event_type, h,
             row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n_h
      FROM uh
    ),
    kth AS (
      SELECT event_type, h, n_h FROM ranked
      WHERE rn = least({_KMV_K}, n_h)
    )
    SELECT event_type,
           CAST(n_h AS BIGINT) AS n_exact,
           round(CASE WHEN n_h < {_KMV_K} THEN CAST(n_h AS DOUBLE)
                      ELSE {_KMV_K - 1}.0 * {_H60!r} / CAST(h AS DOUBLE) END,
                 4) AS kmv_estimate
    FROM kth
    ORDER BY event_type
    """,
)
def events_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_ingestion_din_spark.functions.hashing import h64

    ev = load_table(spark, sf_dir, "events")
    uh = ev.select(
        "event_type",
        h64(F.concat(F.lit("kmv:"), F.col("user_id").cast("string"))).alias(
            "h"
        ),
    ).distinct()
    wn = W.partitionBy("event_type").orderBy("h")
    wc = W.partitionBy("event_type")
    ranked = uh.select(
        "event_type",
        "h",
        F.row_number().over(wn).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n_h"),
    )
    kth = ranked.filter(F.col("rn") == F.least(F.lit(_KMV_K), F.col("n_h")))
    est = F.when(
        F.col("n_h") < _KMV_K, F.col("n_h").cast("double")
    ).otherwise(
        F.lit(float(_KMV_K - 1)) * F.lit(_H60) / F.col("h").cast("double")
    )
    return kth.select(
        "event_type",
        F.col("n_h").cast("bigint").alias("n_exact"),
        F.round(est, 4).alias("kmv_estimate"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# events_trailing_hour — event-time RANGE window frame (trailing 1 hour
# per event type): every event annotated with the count and decimal-
# exact value sum of the preceding hour. RANGE frames bound by TIME, not
# row count — the rate-limit / rolling-load shape that ROWS frames get
# wrong under uneven event density. Ordering key is integer µs on both
# engines so frame edges are bit-identical.
# --------------------------------------------------------------------------
_HOUR_US = 3_600_000_000


@query(
    "events_trailing_hour",
    oracle=f"""
    SELECT event_id,
           event_type,
           CAST(count(*) OVER w AS BIGINT) AS n_last_hour,
           (CAST(sum(CAST(value AS DECIMAL(12,2))) OVER w * 100 AS BIGINT)
            / 100.0) AS value_last_hour
    FROM events
    WINDOW w AS (
      PARTITION BY event_type ORDER BY epoch_us(ts)
      RANGE BETWEEN {_HOUR_US} PRECEDING AND CURRENT ROW
    )
    ORDER BY event_id
    """,
)
def events_trailing_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("event_type")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-_HOUR_US, 0)
    )
    return (
        ev.select(
            "event_id",
            "event_type",
            F.count(F.lit(1)).over(w).cast("bigint").alias("n_last_hour"),
            dec_to_double(F.sum(_dec2("value")).over(w), 2).alias(
                "value_last_hour"
            ),
        )
        .orderBy("event_id")
    )


# --------------------------------------------------------------------------
# events_pivot_unpivot — wide⇄long round trip: pivot daily totals to one
# column per event type, then UNPIVOT back to long form. The oracle is
# the direct long-form aggregation — parity proves the round trip is
# lossless (decimal-exact cells; absent combinations surface as NULL
# cells and are dropped on the way back, exactly the rows the direct
# aggregation never had).
# --------------------------------------------------------------------------
@query(
    "events_pivot_unpivot",
    oracle="""
    SELECT date_trunc('day', ts) AS day,
           event_type,
           (CAST(sum(CAST(value AS DECIMAL(12,2))) * 100 AS BIGINT) / 100.0)
             AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def events_pivot_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    pivoted = (
        ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.sum(_dec2("value")))
    )
    long = pivoted.unpivot(
        ["day"], list(EVENT_TYPES), "event_type", "total"
    )
    return (
        long.filter(F.col("total").isNotNull())
        .select(
            "day",
            "event_type",
            dec_to_double(F.col("total"), 2).alias("total_value"),
        )
        .orderBy("day", "event_type")
    )


# --------------------------------------------------------------------------
# events_latest_snapshot — CDC/upsert compaction: the LATEST event per
# (user_id, event_type) key, ties on ts broken by event_id (the
# SCD-type-1 "current state" materialization every change-log consumer
# runs). One shuffle on the key; row_number + rk=1, which Spark executes
# as a partial top-1 per key inside the window — at changelog scale this
# is the standard log→snapshot compaction and partitions by the same
# key the downstream upsert join uses.
# --------------------------------------------------------------------------
@query(
    "events_latest_snapshot",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_type, event_id, ts, value,
             row_number() OVER (
               PARTITION BY user_id, event_type
               ORDER BY ts DESC, event_id DESC
             ) AS rk
      FROM events
    )
    SELECT CAST(user_id AS BIGINT) AS user_id, event_type,
           CAST(event_id AS BIGINT) AS event_id,
           CAST(epoch_us(ts) AS BIGINT) AS ts_us,
           value
    FROM ranked WHERE rk = 1
    ORDER BY user_id, event_type
    """,
)
def events_latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        ev.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            F.col("user_id").cast("bigint").alias("user_id"),
            "event_type",
            F.col("event_id").cast("bigint").alias("event_id"),
            F.unix_micros("ts").alias("ts_us"),
            "value",
        )
        .orderBy("user_id", "event_type")
    )


# --------------------------------------------------------------------------
# events_cohort_ltv — weekly-cohort revenue (the LTV table next to the
# count-based retention above): users grouped by first-seen week, then
# purchase revenue accumulated per (cohort week, week offset) with
# decimal-exact sums. Same two-shuffle shape as retention — the cohort
# map is per-user (broadcastable at any realistic user count), revenue
# rows join it without re-shuffling on anything wider than user_id.
# --------------------------------------------------------------------------
@query(
    "events_cohort_ltv",
    oracle="""
    WITH coh AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cohort FROM events
      GROUP BY user_id
    ),
    rev AS (
      SELECT e.user_id, coh.cohort,
             CAST(date_diff('week', coh.cohort,
                            date_trunc('week', e.ts)) AS INT) AS week_offset,
             CAST(e.value AS DECIMAL(12,2)) AS v
      FROM events e JOIN coh ON coh.user_id = e.user_id
      WHERE e.event_type = 'purchase'
    )
    SELECT cohort AS cohort_week, week_offset,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_buyers,
           (CAST(sum(v) * 100 AS BIGINT) / 100.0) AS revenue
    FROM rev
    GROUP BY cohort, week_offset
    ORDER BY cohort_week, week_offset
    """,
)
def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_ingestion_din_spark.plans._exact import dec_to_double

    ev = load_table(spark, sf_dir, "events")
    coh = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort")
    )
    rev = (
        ev.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(coh), "user_id")
        .select(
            "user_id",
            "cohort",
            (
                F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort"))
                / 7
            )
            .cast("int")
            .alias("week_offset"),
            F.col("value").cast("decimal(12,2)").alias("v"),
        )
    )
    return (
        rev.groupBy(F.col("cohort").alias("cohort_week"), "week_offset")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
            F.countDistinct("user_id").cast("bigint").alias("n_buyers"),
            dec_to_double(F.sum("v"), 2).alias("revenue"),
        )
        .orderBy("cohort_week", "week_offset")
    )


# --------------------------------------------------------------------------
# events_dau_wau — daily actives + trailing-7-day actives (the DAU/WAU
# engagement pair). WAU needs a DISTINCT over a sliding window, which no
# window frame expresses directly; the scalable restatement: each
# (user, active day) row CONTRIBUTES to the 7 calendar days it is
# inside, so explode the contribution range and count distinct users
# per day. Shuffle volume is |user-days| × 7 narrow rows — independent
# of raw event volume (the distinct-by-day compaction runs first).
# Trailing days beyond the last activity day are clipped so every
# reported day is a real calendar day of the fixture.
# --------------------------------------------------------------------------
@query(
    "events_dau_wau",
    oracle="""
    WITH act AS (
      SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events
    ),
    bounds AS (SELECT max(d) AS dmax FROM act),
    contrib AS (
      SELECT a.user_id, a.d + to_days(CAST(o AS INT)) AS day
      FROM act a, unnest(range(0, 7)) t(o), bounds b
      WHERE a.d + to_days(CAST(o AS INT)) <= b.dmax
    ),
    wau AS (
      SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
      FROM contrib GROUP BY day
    ),
    dau AS (
      SELECT d AS day, CAST(count(*) AS BIGINT) AS dau FROM act GROUP BY d
    )
    SELECT w.day, coalesce(d.dau, 0) AS dau, w.wau,
           CAST(coalesce(d.dau, 0) AS DOUBLE) / w.wau AS stickiness
    FROM wau w LEFT JOIN dau d ON d.day = w.day
    ORDER BY w.day
    """,
)
def events_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    act = ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("d")
    ).distinct()
    dmax = act.agg(F.max("d")).first()[0]  # setup scalar (1 row)
    contrib = (
        act.select(
            "user_id",
            F.explode(F.sequence(F.lit(0), F.lit(6))).alias("o"),
            "d",
        )
        .select(
            "user_id",
            F.date_add(F.col("d"), F.col("o")).cast("timestamp").alias("day"),
        )
        .filter(F.col("day") <= F.lit(dmax))
    )
    wau = contrib.groupBy("day").agg(
        F.countDistinct("user_id").cast("bigint").alias("wau")
    )
    dau = act.groupBy(F.col("d").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("dau")
    )
    return (
        wau.join(dau, "day", "left")
        .select(
            "day",
            F.coalesce(F.col("dau"), F.lit(0)).cast("bigint").alias("dau"),
            "wau",
            (
                F.coalesce(F.col("dau"), F.lit(0)).cast("double")
                / F.col("wau")
            ).alias("stickiness"),
        )
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# events_hll_distinct — HyperLogLog distinct-count estimation per event
# type, the second sketch family next to events_kmv_distinct. Spark's
# approx_count_distinct is HLL++ with engine-private state, so instead
# the sketch is the portable integer-register recipe of
# functions/sketches.py at m = 64 registers (p = 6): the registers and
# the scaled harmonic sum are integer-exact in both engines, and only
# the estimate's one final double division sits under the hash gate.
#
# Scale: the groupBy carries m·ranks integer state with map-side
# partial max — constant size per group regardless of cardinality; the
# rollup reads 64 rows per group. This is the shape approx_count_
# distinct executes, with every bit reproducible.
# --------------------------------------------------------------------------
_HLL_M = 64  # registers (p = 6)


@query(
    "events_hll_distinct",
    oracle=f"""
    WITH uh AS (
      SELECT DISTINCT event_type,
             CAST(('0x' || substr(md5('hll:' || CAST(user_id AS VARCHAR)), 1, 15))
                  AS BIGINT) AS h
      FROM events
    ),
    br AS (
      SELECT event_type,
             h % {_HLL_M} AS bucket,
             CASE WHEN h // {_HLL_M} = 0 THEN 55
                  ELSE 55 - length(bin(h // {_HLL_M})) END AS rnk
      FROM uh
    ),
    reg AS (
      SELECT event_type, bucket, max(rnk) AS r
      FROM br GROUP BY event_type, bucket
    ),
    s AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_buckets,
             sum(CAST(1 AS BIGINT) << (32 - least(r, 32)))
               + ({_HLL_M} - count(*)) * 4294967296 AS s_scaled
      FROM reg GROUP BY event_type
    ),
    ex AS (
      SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
      FROM events GROUP BY event_type
    )
    SELECT s.event_type, ex.n_exact, s.n_buckets,
           CAST(s.s_scaled AS BIGINT) AS s_scaled,
           round({hll_num(_HLL_M)!r} / CAST(s.s_scaled AS DOUBLE), 4)
             AS hll_estimate
    FROM s JOIN ex ON s.event_type = ex.event_type
    ORDER BY s.event_type
    """,
)
def events_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_ingestion_din_spark.functions.hashing import h64

    ev = load_table(spark, sf_dir, "events")
    uh = ev.select(
        "event_type",
        h64(F.concat(F.lit("hll:"), F.col("user_id").cast("string"))).alias(
            "h"
        ),
    ).distinct()
    br = uh.select(
        "event_type",
        hll_bucket(_HLL_M).alias("bucket"),
        hll_rank(_HLL_M).alias("rnk"),
    )
    reg = br.groupBy("event_type", "bucket").agg(F.max("rnk").alias("r"))
    s = reg.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        hll_scaled_sum(_HLL_M).alias("s_scaled"),
    )
    ex = ev.groupBy("event_type").agg(
        F.count_distinct(F.col("user_id")).cast("bigint").alias("n_exact")
    )
    return (
        s.join(ex, "event_type")
        .select(
            "event_type",
            "n_exact",
            "n_buckets",
            "s_scaled",
            F.round(
                F.lit(hll_num(_HLL_M)) / F.col("s_scaled").cast("double"), 4
            ).alias("hll_estimate"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# events_zorder_box — 2-D box query over the Z-ORDERED events layout
# (operators/colocate.zordered_events): a narrow user_id slice × a wide
# time slice, aggregated per event type with a decimal-exact value sum.
# The RESULT is layout-independent (the oracle filters the raw table) —
# what the layout changes is the SCAN: z-ordering makes each file's
# (user_id, ts) min/max a tight box, so this predicate skips most files
# on both dimensions where a time-sorted layout can only prune time
# (tests/test_colocate.py reads the parquet footers of both layouts and
# pins the skip-rate gap). Box bounds are integer fractions of the
# corpus min/max — deterministic in both engines, no driver constants.
# --------------------------------------------------------------------------
@query(
    "events_zorder_box",
    oracle=f"""
    WITH st AS (
      SELECT min(user_id) AS lo_u, max(user_id) AS hi_u,
             min(epoch_us(ts)) AS lo_t, max(epoch_us(ts)) AS hi_t
      FROM events
    ),
    box AS (
      SELECT lo_u + (hi_u - lo_u) * 2 // 5 AS u_lo,
             lo_u + (hi_u - lo_u) * 9 // 20 AS u_hi,
             lo_t + (hi_t - lo_t) * 1 // 4 AS t_lo,
             lo_t + (hi_t - lo_t) * 3 // 4 AS t_hi
      FROM st
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           {dec_to_double_sql("sum(CAST(value AS DECIMAL(18, 2)))", 2)}
             AS value_sum
    FROM events, box
    WHERE user_id BETWEEN u_lo AND u_hi
      AND epoch_us(ts) BETWEEN t_lo AND t_hi
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def events_zorder_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_ingestion_din_spark.operators.colocate import zordered_events
    from data_ingestion_din_spark.plans._exact import dec_to_double

    ev = spark.read.parquet(zordered_events(spark, sf_dir))
    st = ev.agg(
        F.min("user_id").alias("lo_u"),
        F.max("user_id").alias("hi_u"),
        F.min(F.unix_micros("ts")).alias("lo_t"),
        F.max(F.unix_micros("ts")).alias("hi_t"),
    )
    box = st.select(
        F.expr("lo_u + (hi_u - lo_u) * 2 div 5").alias("u_lo"),
        F.expr("lo_u + (hi_u - lo_u) * 9 div 20").alias("u_hi"),
        F.expr("lo_t + (hi_t - lo_t) * 1 div 4").alias("t_lo"),
        F.expr("lo_t + (hi_t - lo_t) * 3 div 4").alias("t_hi"),
    )
    return (
        ev.crossJoin(F.broadcast(box))
        .filter(
            F.col("user_id").between(F.col("u_lo"), F.col("u_hi"))
            & F.unix_micros(F.col("ts")).between(
                F.col("t_lo"), F.col("t_hi")
            )
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            dec_to_double(
                F.sum(F.col("value").cast("decimal(18,2)")), 2
            ).alias("value_sum"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# events_scd2_intervals — slowly-changing-dimension type-2 history build,
# the interval sibling of events_latest_snapshot's type-1 compaction:
# per user the event stream is change-detected on event_type (lag ≠
# current opens a version), consecutive same-state events collapse into
# one version row, and each version carries [valid_from, valid_to)
# micro-second bounds (valid_to = next version's open, NULL = current).
# This is the changelog→dimension-history materialization every
# warehouse upsert pipeline runs.
#
# Scale: ONE shuffle on user_id serves the lag, the cumulative version
# counter, and the lead — three window passes over the same partitioning
# (Spark reuses the exchange), then a (user_id, version) aggregation
# that is partition-local. Output is a deterministic 1/7 user sample
# (h64 gate — the inspection slice; the full history is sink-bound at
# corpus scale, same convention as corpus_stratified_sample).
# --------------------------------------------------------------------------
@query(
    "events_scd2_intervals",
    oracle=f"""
    WITH sampled AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
      FROM events
      WHERE {h64_sql("'scd:' || CAST(user_id AS VARCHAR)")} % 7 = 0
    ),
    chg AS (
      SELECT user_id, event_id, event_type, ts_us,
             CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
                  THEN 1 ELSE 0 END AS opens
      FROM sampled
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    ),
    ver AS (
      SELECT user_id, event_id, event_type, ts_us,
             sum(opens) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                              ROWS UNBOUNDED PRECEDING) AS version
      FROM chg
    ),
    grp AS (
      SELECT user_id, CAST(version AS INT) AS version,
             any_value(event_type) AS state,
             CAST(min(ts_us) AS BIGINT) AS valid_from,
             CAST(count(*) AS BIGINT) AS n_events
      FROM ver GROUP BY user_id, version
    )
    SELECT user_id, version, state, valid_from,
           CAST(lead(valid_from) OVER (PARTITION BY user_id ORDER BY version)
                AS BIGINT) AS valid_to,
           CASE WHEN lead(valid_from) OVER (PARTITION BY user_id
                                            ORDER BY version) IS NULL
                THEN 1 ELSE 0 END AS is_current,
           n_events
    FROM grp
    ORDER BY user_id, version
    """,
)
def events_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_ingestion_din_spark.functions.hashing import h64

    ev = load_table(spark, sf_dir, "events")
    sampled = ev.filter(
        h64(F.concat(F.lit("scd:"), F.col("user_id").cast("string"))) % 7
        == 0
    ).select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
    )
    wo = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    chg = sampled.withColumn(
        "opens",
        F.when(
            ~F.lag("event_type").over(wo).eqNullSafe(F.col("event_type")),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    ver = chg.withColumn(
        "version",
        F.sum("opens").over(wo.rowsBetween(W.unboundedPreceding, 0)),
    )
    grp = ver.groupBy("user_id", F.col("version").cast("int").alias("version")).agg(
        F.first("event_type").alias("state"),
        F.min("ts_us").cast("bigint").alias("valid_from"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )
    wv = W.partitionBy("user_id").orderBy("version")
    return (
        grp.select(
            "user_id",
            "version",
            "state",
            "valid_from",
            F.lead("valid_from").over(wv).cast("bigint").alias("valid_to"),
            F.when(F.lead("valid_from").over(wv).isNull(), F.lit(1))
            .otherwise(F.lit(0))
            .alias("is_current"),
            "n_events",
        )
        .orderBy("user_id", "version")
    )


# --------------------------------------------------------------------------
# events_histogram_quantiles — equi-width histogram quantile sketch, the
# approximate-percentile shape of Spark's approx_percentile / DuckDB's
# approx_quantile with every bit reproducible (both engines' native
# sketches carry engine-private t-digest/GK state — same exclusion
# rationale as the HLL/CMS/KMV family). Values go through the proven
# DECIMAL(12,2) cast to integer cents; per event type a B=32-bucket
# histogram over [lo, hi] cents is built with integer bucket indexing
# ((v-lo)*B div span), and p50/p95/p99 are answered from the histogram
# by cumulative-count bucket location + integer linear interpolation
# inside the bucket. The exact order statistic (r-th smallest) rides
# along so the sketch ERROR is itself under the hash gate.
#
# Scale: the sketch path is one (type, bucket) aggregation — ≤ B rows of
# state per type with map-side partial counts, then a ≤B-row window; the
# exact path needs the full per-type sort and exists only as the audit
# column (at 100 TB you'd drop it and keep the histogram, which is the
# point of the sketch).
# --------------------------------------------------------------------------
_HQ_B = 32  # buckets
_HQ_PS = (50, 95, 99)


@query(
    "events_histogram_quantiles",
    oracle=f"""
    WITH cents AS (
      SELECT event_type, event_id,
             CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS v
      FROM events
    ),
    st AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             min(v) AS lo, max(v) AS hi, max(v) - min(v) + 1 AS span
      FROM cents GROUP BY event_type
    ),
    hist AS (
      SELECT c.event_type,
             CAST(((c.v - st.lo) * {_HQ_B}) // st.span AS INT) AS idx,
             CAST(count(*) AS BIGINT) AS cnt
      FROM cents c JOIN st USING (event_type)
      GROUP BY c.event_type, idx
    ),
    cum AS (
      SELECT event_type, idx, cnt,
             sum(cnt) OVER (PARTITION BY event_type ORDER BY idx
                            ROWS UNBOUNDED PRECEDING) AS cum
      FROM hist
    ),
    targets AS (
      SELECT st.event_type, st.n, st.lo, st.span, p.p,
             (st.n * p.p + 99) // 100 AS r
      FROM st CROSS JOIN (VALUES (50), (95), (99)) p(p)
    ),
    located AS (
      SELECT t.event_type, t.p, t.n, t.r, c.idx, c.cnt,
             c.cum - c.cnt AS cum_prev,
             t.lo + (c.idx * t.span) // {_HQ_B} AS b_lo,
             t.lo + ((c.idx + 1) * t.span) // {_HQ_B} AS b_hi
      FROM targets t JOIN cum c
        ON c.event_type = t.event_type
       AND c.cum >= t.r AND c.cum - c.cnt < t.r
    ),
    ranked AS (
      SELECT event_type, v,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY v, event_id) AS rn
      FROM cents
    )
    SELECT l.event_type, CAST(l.p AS INT) AS p, l.n, l.r,
           CAST(l.idx AS INT) AS bucket,
           CAST(l.b_lo + ((l.r - l.cum_prev) * (l.b_hi - l.b_lo)) // l.cnt
                AS BIGINT) AS est_cents,
           rk.v AS exact_cents,
           round(CAST(l.b_lo + ((l.r - l.cum_prev) * (l.b_hi - l.b_lo))
                        // l.cnt - rk.v AS DOUBLE) / 100, 2) AS err
    FROM located l
    JOIN ranked rk ON rk.event_type = l.event_type AND rk.rn = l.r
    ORDER BY l.event_type, p
    """,
)
def events_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cents = ev.select(
        "event_type",
        "event_id",
        (F.col("value").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("v"),
    )
    st = cents.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.min("v").alias("lo"),
        F.max("v").alias("hi"),
        (F.max("v") - F.min("v") + 1).alias("span"),
    )
    hist = (
        cents.join(F.broadcast(st), "event_type")
        .select(
            "event_type",
            F.expr(f"CAST(((v - lo) * {_HQ_B}) div span AS INT)").alias(
                "idx"
            ),
        )
        .groupBy("event_type", "idx")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    cum = hist.withColumn(
        "cum",
        F.sum("cnt").over(
            W.partitionBy("event_type")
            .orderBy("idx")
            .rowsBetween(W.unboundedPreceding, 0)
        ),
    )
    targets = st.select(
        "event_type",
        "n",
        "lo",
        "span",
        F.explode(F.array(*[F.lit(p) for p in _HQ_PS])).alias("p"),
    ).withColumn("r", F.expr("(n * p + 99) div 100"))
    located = targets.join(
        cum.select(
            F.col("event_type").alias("c_type"), "idx", "cnt", "cum"
        ),
        (F.col("c_type") == F.col("event_type"))
        & (F.col("cum") >= F.col("r"))
        & (F.col("cum") - F.col("cnt") < F.col("r")),
    ).select(
        "event_type",
        "p",
        "n",
        "r",
        "idx",
        "cnt",
        (F.col("cum") - F.col("cnt")).alias("cum_prev"),
        F.expr(f"lo + (idx * span) div {_HQ_B}").alias("b_lo"),
        F.expr(f"lo + ((idx + 1) * span) div {_HQ_B}").alias("b_hi"),
    )
    ranked = cents.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("event_type").orderBy("v", "event_id")
        ),
    ).select(F.col("event_type").alias("r_type"), "v", "rn")
    est = F.expr("b_lo + ((r - cum_prev) * (b_hi - b_lo)) div cnt")
    return (
        located.join(
            ranked,
            (F.col("r_type") == F.col("event_type"))
            & (F.col("rn") == F.col("r")),
        )
        .select(
            "event_type",
            F.col("p").cast("int").alias("p"),
            "n",
            "r",
            F.col("idx").cast("int").alias("bucket"),
            est.cast("bigint").alias("est_cents"),
            F.col("v").alias("exact_cents"),
            F.round((est - F.col("v")).cast("double") / 100, 2).alias(
                "err"
            ),
        )
        .orderBy("event_type", "p")
    )


# --------------------------------------------------------------------------
# events_interval_overlap_join — the interval OVERLAP join Spark has no
# native operator for (DuckDB/Postgres express it as a theta range
# join): per-user daily activity intervals [first event, last event]
# joined against corpus-wide error-incident hours (hours with >= 6
# 'error' events, a half-open [h, h+1h) window). A naive Spark
# formulation is a cross join + theta filter — O(intervals × incidents)
# and a BroadcastNestedLoopJoin at scale. The scale-correct plan used
# here bins TIME: each activity interval explodes into the hour bins it
# spans (sequence + explode — bounded by interval length), incidents
# carry their hour bin natively, and the join becomes a plain EQUI-join
# on the bin followed by the exact overlap predicate (s_end >= h AND
# s_start < h + 1h). One shuffle keyed by hour; no nested-loop join —
# asserted in tests. Output: per (user, day) the number of distinct
# incident hours the user's activity overlapped and the total error
# volume of those hours — exact integers.
# --------------------------------------------------------------------------
_IOJ_THRESH = 6


@query(
    "events_interval_overlap_join",
    oracle=f"""
    WITH s AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             min(ts) AS s_start, max(ts) AS s_end
      FROM events GROUP BY user_id, CAST(ts AS DATE)
    ),
    inc AS (
      SELECT date_trunc('hour', ts) AS h,
             CAST(count(*) AS BIGINT) AS n_err
      FROM events WHERE event_type = 'error'
      GROUP BY date_trunc('hour', ts)
      HAVING count(*) >= {_IOJ_THRESH}
    )
    SELECT s.user_id, s.day,
           CAST(count(*) AS BIGINT) AS n_incident_hours,
           CAST(sum(i.n_err) AS BIGINT) AS incident_errors
    FROM s JOIN inc i
      ON s.s_end >= i.h AND s.s_start < i.h + INTERVAL 1 HOUR
    GROUP BY s.user_id, s.day
    ORDER BY s.user_id, s.day
    """,
)
def events_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    sessions = ev.groupBy(
        "user_id", F.col("ts").cast("date").alias("day")
    ).agg(F.min("ts").alias("s_start"), F.max("ts").alias("s_end"))
    incidents = (
        ev.filter(F.col("event_type") == "error")
        .groupBy(F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_err"))
        .filter(F.col("n_err") >= _IOJ_THRESH)
    )
    # bin the interval into the hours it spans -> equi-join on the bin.
    # Every bin h in [trunc(s_start), trunc(s_end)] satisfies the exact
    # overlap predicate by construction; it is kept explicit so the
    # operator stays correct for interval sources whose bins over-cover.
    binned = sessions.select(
        "user_id",
        "day",
        "s_start",
        "s_end",
        F.explode(
            F.sequence(
                F.date_trunc("hour", "s_start"),
                F.date_trunc("hour", "s_end"),
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("h"),
    )
    return (
        binned.join(incidents, "h")
        .filter(
            (F.col("s_end") >= F.col("h"))
            & (F.col("s_start") < F.col("h") + F.expr("INTERVAL 1 HOUR"))
        )
        .groupBy("user_id", "day")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_incident_hours"),
            F.sum("n_err").cast("bigint").alias("incident_errors"),
        )
        .orderBy("user_id", "day")
    )


# --------------------------------------------------------------------------
