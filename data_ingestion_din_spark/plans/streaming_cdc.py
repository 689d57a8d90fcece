"""Streaming ingest, event-time, and table-maintenance queries
(SURVEY.md §2.11) — the CDC family of the per-family streaming split
(shared scaffolding in streaming_core; see that module's docstring).


The ``availableNow`` ingest stream (streaming/ingest.py — the Spark
replacement for the reference's per-upload subprocess pipeline,
backend/main.py:233-332) is run over the fixture ``documents`` table
split into TWO incremental landing batches (doc_id parity), with the
checkpoint carried across runs. The resulting content-addressed corpus
is read back as the query result; the DuckDB oracle computes the same
clean → tokenize → fixed-50-token-chunk → md5 transform over
``documents`` in one shot. Row/schema/value-hash parity therefore proves
the incremental two-run merge produced EXACTLY the batch answer —
exactly-once, no duplicates, no loss — under the same gate as every
batch query (stream==batch frame equality also unit-tested in
tests/test_streaming.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_din_spark.functions.text import clean_text_sql
from data_ingestion_din_spark.operators.colocate import staged
from data_ingestion_din_spark.plans.registry import query
from data_ingestion_din_spark.plans.streaming_core import (
    _await_or_raise,
    _epoch_writer,
    _latest_epoch_rows,
    _run_split_landings,
    _time_midpoint,
)
from data_ingestion_din_spark.sources.tables import load_table, local_frame
from data_ingestion_din_spark.streaming.ingest import start_ingest_stream


# One stream run per (SparkContext lifetime, sf_dir) — the corpus dir is
# the durable artifact; reruns of the query in the same session read it.
@staged("ingest_corpus")
def _ingested_corpus_dir(spark: SparkSession, sf_dir: str, base: str) -> str:
    corpus = os.path.join(base, "corpus")
    landing = os.path.join(base, "landing")
    ckpt = os.path.join(base, "ckpt")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", F.lit("fixture").alias("source"), "n_chars"
    )
    # batch 1 lands, stream drains it; batch 2 lands, a second availableNow
    # run (same checkpoint) processes ONLY the new files.
    docs.filter(F.col("doc_id") % 2 == 0).write.mode("overwrite").parquet(
        os.path.join(landing, "b1")
    )
    _await_or_raise(
        start_ingest_stream(spark, os.path.join(landing, "*"), corpus, ckpt)
    )
    docs.filter(F.col("doc_id") % 2 == 1).write.mode("overwrite").parquet(
        os.path.join(landing, "b2")
    )
    _await_or_raise(
        start_ingest_stream(spark, os.path.join(landing, "*"), corpus, ckpt)
    )
    return corpus


_CLEAN_TOKS = (
    f"list_filter(string_split({clean_text_sql('text')}, ' '), x -> x <> '')"
)


@query(
    "streaming_ingest_chunks",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_CLEAN_TOKS} AS toks FROM documents),
    idx AS (
      SELECT doc_id, toks,
             unnest(range(0, greatest(CAST(ceil(len(toks) / 50.0) AS BIGINT), 1)))
               AS chunk_idx
      FROM t
    ),
    c AS (
      SELECT doc_id, chunk_idx,
             array_to_string(
               list_slice(toks, chunk_idx * 50 + 1, chunk_idx * 50 + 50), ' '
             ) AS content
      FROM idx
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(chunk_idx AS BIGINT) AS chunk_idx,
           CAST(doc_id AS VARCHAR) || '::' || CAST(chunk_idx AS VARCHAR)
             || '::' || substr(md5(content), 1, 8) AS chunk_id,
           CAST(length(content) AS BIGINT) AS n_chars,
           md5(content) AS content_fp
    FROM c
    ORDER BY doc_id, chunk_idx
    """,
)
def streaming_ingest_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _ingested_corpus_dir(spark, sf_dir)
    out = spark.read.parquet(corpus)
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        "chunk_id",
        F.length("content").cast("bigint").alias("n_chars"),
        F.md5("content").alias("content_fp"),
    ).orderBy("doc_id", "chunk_idx")


# --------------------------------------------------------------------------
# streaming_first_seen — the STATEFUL streaming operator under the hash
# gate: native streaming first-seen dedup (streaming/stateful.py)
# run over two incremental landing batches with the checkpoint carried
# across runs, so the fingerprint state provably survives restarts. Each
# landing batch is pre-deduped (min doc_id per fp within the batch), so
# the stream's winner per fingerprint is fully deterministic: the
# batch-1 candidate if the fp appeared there, else the batch-2 one —
# which the oracle restates as argmin by (doc_id parity, doc_id).
# Parity therefore proves cross-micro-batch state correctness, not just
# "a" dedup. The key is the WORDSET fingerprint (sorted distinct
# tokens), under which the fixture has 21 duplicated keys and 11 that
# span both batches — the raw-text md5 has zero duplicates, which would
# leave the state untested.
# --------------------------------------------------------------------------
_WORDSET_FP_SQL = (
    "md5(array_to_string(list_sort(list_distinct("
    "list_filter(string_split(text, ' '), x -> x <> ''))), ' '))"
)


@staged("first_seen_landings")
def _first_seen_out_dir(spark: SparkSession, sf_dir: str, base: str) -> str:
    from data_ingestion_din_spark.functions.analysis import tokens
    from data_ingestion_din_spark.operators.dedup import keep_first_by
    from data_ingestion_din_spark.streaming.stateful import first_seen_stream

    out = os.path.join(base, "out")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(
            F.array_join(
                F.array_sort(F.array_distinct(tokens(F.col("text")))), " "
            )
        ).alias("fp"),
    )
    _run_split_landings(
        spark,
        base,
        [
            keep_first_by(
                docs.filter(F.col("doc_id") % 2 == parity),
                F.col("fp"),
                [F.col("doc_id")],
            )
            for parity in (0, 1)
        ],
        transform=lambda stream: first_seen_stream(stream, "fp"),
        out=out,
    )
    return out


@query(
    "streaming_first_seen",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, {_WORDSET_FP_SQL} AS fp,
             row_number() OVER (
               PARTITION BY {_WORDSET_FP_SQL} ORDER BY doc_id % 2, doc_id
             ) AS rk
      FROM documents
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id, fp
    FROM ranked WHERE rk = 1
    ORDER BY doc_id
    """,
)
def streaming_first_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _first_seen_out_dir(spark, sf_dir)
    return (
        spark.read.parquet(out)
        .select(F.col("doc_id").cast("bigint").alias("doc_id"), "fp")
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# streaming_stream_join — STREAM-STREAM event-time interval join under
# the hash gate (§2.11 depth): clicks ⋈ errors per user where the error
# lands within 1 hour after the click, both sides watermarked 10 min.
# The click stream lands entirely in run 1; the error stream lands in
# TWO batches split at the corpus time midpoint with the checkpoint
# carried across availableNow runs — at sf0.01, 15 of the 37 output
# pairs match a second-run error against click state buffered in the
# FIRST run's state store, so row/hash parity with the batch interval
# join proves cross-restart join-state correctness, not just the join
# predicate. Watermarks are real (10 min on both sides drives state
# eviction); each landing batch is one micro-batch, so no event is
# dropped as late and the exact batch answer is the correct output.
# --------------------------------------------------------------------------
_SJOIN_WINDOW_US = 3_600_000_000  # 1 hour


def _interval_join_landings(
    spark: SparkSession, sf_dir: str, base: str, how: str
) -> str:
    """The three interval joins' one builder body, ``how`` = Spark join
    type: clicks land in run 1 with the first error half, the second
    error half lands in run 2 — with, for the outer joins, the
    watermark-advancing sentinel click (boundary fact 1 below): far past
    every real event, on a user id no error carries. ``user_id`` is
    coalesced over both sides: inner and left outer rows always carry
    the click's, so only the full outer join's error-only rows differ."""
    out = os.path.join(base, "out")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    mid, hi = _time_midpoint(ev)
    clicks = ev.filter(F.col("event_type") == "click").drop("event_type")
    errors = ev.filter(F.col("event_type") == "error").drop("event_type")
    late = F.unix_micros("ts") >= mid
    run2 = {"errors": errors.filter(late)}
    if how != "inner":
        run2["clicks"] = local_frame(
            spark,
            [(-1, hi + 30 * 24 * 3_600_000_000, -1)],
            "event_id bigint, us bigint, user_id bigint",
        ).select(
            "event_id", F.timestamp_micros(F.col("us")).alias("ts"), "user_id"
        )

    def join(clicks_s: DataFrame, errors_s: DataFrame) -> DataFrame:
        c = clicks_s.withWatermark("ts", "10 minutes").alias("c")
        e = errors_s.withWatermark("ts", "10 minutes").alias("e")
        return c.join(
            e,
            F.expr(
                "c.user_id = e.user_id AND e.ts >= c.ts "
                "AND e.ts <= c.ts + interval 1 hour"
            ),
            how,
        ).select(
            F.col("c.event_id").alias("click_id"),
            F.col("e.event_id").alias("error_id"),
            F.coalesce(F.col("c.user_id"), F.col("e.user_id")).alias(
                "user_id"
            ),
            F.unix_micros(F.col("c.ts")).alias("click_us"),
            F.unix_micros(F.col("e.ts")).alias("error_us"),
        )

    _run_split_landings(
        spark,
        base,
        [{"clicks": clicks, "errors": errors.filter(~late)}, run2],
        transform=join,
        out=out,
    )
    return out


def _interval_join_rows(spark: SparkSession, out: str) -> DataFrame:
    """Read back an interval-join landing without the sentinel click
    (user_id -1; fixture user ids are non-negative)."""
    return (
        spark.read.parquet(out)
        .filter(F.col("user_id") >= 0)  # drop the watermark sentinel
        .select(
            F.col("click_id").cast("bigint").alias("click_id"),
            F.col("error_id").cast("bigint").alias("error_id"),
            F.col("user_id").cast("bigint").alias("user_id"),
            F.col("click_us").cast("bigint").alias("click_us"),
            F.col("error_us").cast("bigint").alias("error_us"),
        )
        .orderBy("click_id", "error_id")
    )


@staged("stream_join_landings")
def _stream_join_out_dir(spark: SparkSession, sf_dir: str, base: str) -> str:
    return _interval_join_landings(spark, sf_dir, base, "inner")


@query(
    "streaming_stream_join",
    oracle=f"""
    SELECT CAST(c.event_id AS BIGINT) AS click_id,
           CAST(e.event_id AS BIGINT) AS error_id,
           CAST(c.user_id AS BIGINT) AS user_id,
           CAST(epoch_us(c.ts) AS BIGINT) AS click_us,
           CAST(epoch_us(e.ts) AS BIGINT) AS error_us
    FROM events c JOIN events e
      ON c.event_type = 'click' AND e.event_type = 'error'
     AND e.user_id = c.user_id AND e.ts >= c.ts
     AND epoch_us(e.ts) <= epoch_us(c.ts) + {_SJOIN_WINDOW_US}
    ORDER BY click_id, error_id
    """,
)
def streaming_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _interval_join_rows(spark, _stream_join_out_dir(spark, sf_dir))


# --------------------------------------------------------------------------
# streaming_stream_outer_join — stream-stream LEFT OUTER interval join
# with watermark-driven NULL emission, the one Structured Streaming join
# semantics the inner `streaming_stream_join` doesn't exercise (§2.11
# depth): a click with no error within 1 hour emits (click, NULL) — but
# only once the watermark closes its join interval, because until then a
# matching error could still arrive. Same landings as the inner join
# (clicks in run 1, errors split at the corpus midpoint across two
# checkpointed availableNow runs), so run-2 matches still prove
# cross-restart join state; the new surface is the eviction arithmetic.
#
# Three boundary facts, pinned EMPIRICALLY by probe before writing this
# (the dropDuplicatesWithinWatermark discipline — r6):
#   1. With the default multipleWatermarkPolicy=min, the global watermark
#      does NOT advance across availableNow restarts unless EVERY stream
#      lands data in that run — a no-data stream's per-run max-event-time
#      tracker resets and its restored commit-log watermark pins the min.
#      Run 2 therefore lands a far-future SENTINEL CLICK (user_id −1)
#      alongside the real second error batch; the sentinel never matches
#      (no negative user has errors) and is filtered from the read-back.
#   2. Null emission happens inside the trailing NO-DATA micro-batch that
#      availableNow appends after a watermark advance (noDataMicroBatches
#      default): run 2's final batch evicts with wm₂ = min(sentinel,
#      max error ts) − 10 min = max(error ts) − 10 min.
#   3. Eviction is STRICT and MS-FLOORED: a click null-emits iff
#      click_us + 1h < (max_error_us // 1000 − 600 000) · 1000 — interval
#      end exactly equal to the watermark stays buffered (probe: a click
#      whose end == wm survived the run and emitted one run later).
#
# The oracle restates exactly that: the batch interval join UNION ALL
# the never-matched clicks whose interval the final watermark closed
# (clicks later than the cutoff stay in state, correctly un-emitted).
# Scale: identical state/shuffle shape to the inner join — both sides
# shuffle on user_id, state bounded by the watermark horizon.
# --------------------------------------------------------------------------


@staged("sjoin_outer_landings")
def _sjo_out_dir(spark: SparkSession, sf_dir: str, base: str) -> str:
    return _interval_join_landings(spark, sf_dir, base, "leftOuter")


@query(
    "streaming_stream_outer_join",
    oracle=f"""
    WITH cl AS (
      SELECT event_id, ts, user_id FROM events WHERE event_type = 'click'
    ),
    er AS (
      SELECT event_id, ts, user_id FROM events WHERE event_type = 'error'
    ),
    m AS (
      SELECT cl.event_id AS click_id, er.event_id AS error_id,
             cl.user_id AS user_id,
             epoch_us(cl.ts) AS click_us, epoch_us(er.ts) AS error_us
      FROM cl JOIN er
        ON er.user_id = cl.user_id AND er.ts >= cl.ts
       AND epoch_us(er.ts) <= epoch_us(cl.ts) + {_SJOIN_WINDOW_US}
    ),
    cutoff AS (
      -- final watermark: ms-floored max error event time minus the
      -- 10-minute delay (boundary fact 3)
      SELECT (epoch_us(max(ts)) // 1000 - 600000) * 1000 AS wm_us FROM er
    )
    SELECT CAST(click_id AS BIGINT) AS click_id,
           CAST(error_id AS BIGINT) AS error_id,
           CAST(user_id AS BIGINT) AS user_id,
           CAST(click_us AS BIGINT) AS click_us,
           CAST(error_us AS BIGINT) AS error_us
    FROM m
    UNION ALL
    SELECT CAST(cl.event_id AS BIGINT), CAST(NULL AS BIGINT),
           CAST(cl.user_id AS BIGINT), CAST(epoch_us(cl.ts) AS BIGINT),
           CAST(NULL AS BIGINT)
    FROM cl CROSS JOIN cutoff
    WHERE cl.event_id NOT IN (SELECT click_id FROM m)
      AND epoch_us(cl.ts) + {_SJOIN_WINDOW_US} < cutoff.wm_us
    ORDER BY click_id, error_id
    """,
)
def streaming_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _interval_join_rows(spark, _sjo_out_dir(spark, sf_dir))


# --------------------------------------------------------------------------
# streaming_stream_full_outer_join — the third and last stream-stream
# join semantics: FULL outer, where BOTH sides null-emit on watermark
# close. The left side's eviction arithmetic is the leftOuter query's
# (click closes when wm passes click_ts + 1h, strict, ms-floored); the
# RIGHT side's is new: an error e can only match clicks with
# c.ts ∈ [e.ts − 1h, e.ts], and future clicks arrive above the
# watermark — so an unmatched error null-emits once wm passes e.ts
# ITSELF (strict, same ms-floored value). Same landings and the same
# paired-sentinel watermark mechanics as the leftOuter sibling (the
# sentinel click matches no error and no error's window, so it
# perturbs neither side's null set).
#
# The oracle restates all three parts: the interval join, the closed
# never-matched clicks, and the closed never-matched errors — so hash
# parity pins the right-side eviction boundary empirically too (the
# first hash run IS the probe: < vs <= differ by any error exactly at
# the watermark).
# --------------------------------------------------------------------------


@staged("sjoin_full_landings")
def _sjf_out_dir(spark: SparkSession, sf_dir: str, base: str) -> str:
    return _interval_join_landings(spark, sf_dir, base, "fullOuter")


@query(
    "streaming_stream_full_outer_join",
    oracle=f"""
    WITH cl AS (
      SELECT event_id, ts, user_id FROM events WHERE event_type = 'click'
    ),
    er AS (
      SELECT event_id, ts, user_id FROM events WHERE event_type = 'error'
    ),
    m AS (
      SELECT cl.event_id AS click_id, er.event_id AS error_id,
             cl.user_id AS user_id,
             epoch_us(cl.ts) AS click_us, epoch_us(er.ts) AS error_us
      FROM cl JOIN er
        ON er.user_id = cl.user_id AND er.ts >= cl.ts
       AND epoch_us(er.ts) <= epoch_us(cl.ts) + {_SJOIN_WINDOW_US}
    ),
    cutoff AS (
      SELECT (epoch_us(max(ts)) // 1000 - 600000) * 1000 AS wm_us FROM er
    )
    SELECT CAST(click_id AS BIGINT) AS click_id,
           CAST(error_id AS BIGINT) AS error_id,
           CAST(user_id AS BIGINT) AS user_id,
           CAST(click_us AS BIGINT) AS click_us,
           CAST(error_us AS BIGINT) AS error_us
    FROM m
    UNION ALL
    SELECT CAST(cl.event_id AS BIGINT), CAST(NULL AS BIGINT),
           CAST(cl.user_id AS BIGINT), CAST(epoch_us(cl.ts) AS BIGINT),
           CAST(NULL AS BIGINT)
    FROM cl CROSS JOIN cutoff
    WHERE cl.event_id NOT IN (SELECT click_id FROM m)
      AND epoch_us(cl.ts) + {_SJOIN_WINDOW_US} < cutoff.wm_us
    UNION ALL
    SELECT CAST(NULL AS BIGINT), CAST(er.event_id AS BIGINT),
           CAST(er.user_id AS BIGINT), CAST(NULL AS BIGINT),
           CAST(epoch_us(er.ts) AS BIGINT)
    FROM er CROSS JOIN cutoff
    WHERE er.event_id NOT IN (SELECT error_id FROM m)
      AND epoch_us(er.ts) < cutoff.wm_us
    ORDER BY click_id, error_id
    """,
)
def streaming_stream_full_outer_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _interval_join_rows(spark, _sjf_out_dir(spark, sf_dir))


# --------------------------------------------------------------------------
# streaming_session_windows — native session_window aggregation under
# the hash gate, the canonical MERGING stateful operator (§2.11): 30-min
# gap sessions per user, 30-min watermark, append mode. The landing is
# split at a timestamp chosen INSIDE the corpus's largest session, so
# that session's state must survive the checkpointed availableNow
# restart and MERGE with second-run events to produce one row — the
# batch answer (the lag/cumsum sessionization oracle) is only
# reproducible if cross-run session merging is exact. A single sentinel
# event (user_id = -1, far past the last real event) lands last to push
# the GLOBAL event-time watermark beyond every real session's close;
# the sentinel's own session stays unemitted in state and is excluded
# from the read-back.
# --------------------------------------------------------------------------
_SESSION_GAP = "30 minutes"
_SESSION_GAP_US = 1_800_000_000


@staged("session_window_landings")
def _session_windows_out_dir(spark: SparkSession, sf_dir: str, base: str) -> str:
    from pyspark.sql.window import Window as W

    out = os.path.join(base, "out")
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    # setup-stage scalars: the largest session's midpoint (split there so
    # one session provably spans the restart) and the corpus max ts
    w_ord = W.partitionBy("user_id").orderBy("ts")
    gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w_ord))
    s = ev.withColumn(
        "brk",
        F.when(gap.isNull() | (gap > _SESSION_GAP_US), 1).otherwise(0),
    ).withColumn(
        "seq",
        F.sum("brk").over(w_ord.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    big = (
        s.groupBy("user_id", "seq")
        .agg(
            F.min(F.unix_micros("ts")).alias("st"),
            F.max(F.unix_micros("ts")).alias("en"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy(F.desc("n"), "user_id", "st")
        .first()
    )
    split_us = (big["st"] + big["en"]) // 2
    max_us = ev.agg(F.max(F.unix_micros("ts"))).first()[0]

    def sessions(stream: DataFrame) -> DataFrame:
        return (
            stream.withWatermark("ts", _SESSION_GAP)
            .groupBy(
                F.session_window("ts", _SESSION_GAP).alias("sw"), "user_id"
            )
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(12,2)")).alias("tot"),
            )
            .select(
                "user_id",
                F.unix_micros(F.col("sw.start")).alias("start_us"),
                F.unix_micros(F.col("sw.end")).alias("end_us"),
                "n_events",
                "tot",
            )
        )

    _run_split_landings(
        spark,
        base,
        [
            ev.filter(F.unix_micros("ts") < split_us),
            ev.filter(F.unix_micros("ts") >= split_us),
            spark.range(1).select(
                F.lit(-1).cast("bigint").alias("user_id"),
                F.timestamp_micros(
                    F.lit(max_us + 3 * _SESSION_GAP_US)
                ).alias("ts"),
                F.lit(0.0).alias("value"),
            ),
        ],
        transform=sessions,
        out=out,
    )
    return out


@query(
    "streaming_session_windows",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN epoch_us(ts)
                       - lag(epoch_us(ts)) OVER (
                           PARTITION BY user_id ORDER BY ts)
                       > {_SESSION_GAP_US}
                  OR lag(ts) OVER (
                       PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS brk
      FROM events
    ),
    s AS (
      SELECT user_id, ts, value,
             sum(brk) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS seq
      FROM flagged
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(min(epoch_us(ts)) AS BIGINT) AS start_us,
           CAST(max(epoch_us(ts)) + {_SESSION_GAP_US} AS BIGINT) AS end_us,
           CAST(count(*) AS BIGINT) AS n_events,
           (CAST((sum(CAST(value AS DECIMAL(12,2)))) * 100 AS BIGINT)
              / 100.0) AS total_value
    FROM s
    GROUP BY user_id, seq
    ORDER BY user_id, start_us
    """,
)
def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_ingestion_din_spark.plans._exact import dec_to_double

    out = _session_windows_out_dir(spark, sf_dir)
    return (
        spark.read.parquet(out)
        .filter(F.col("user_id") >= 0)  # sentinel never emits; defensive
        .select(
            F.col("user_id").cast("bigint").alias("user_id"),
            F.col("start_us").cast("bigint").alias("start_us"),
            F.col("end_us").cast("bigint").alias("end_us"),
            F.col("n_events").cast("bigint").alias("n_events"),
            dec_to_double(F.col("tot"), 2).alias("total_value"),
        )
        .orderBy("user_id", "start_us")
    )


# --------------------------------------------------------------------------
# streaming_dedup_watermark — the NATIVE dropDuplicatesWithinWatermark
# operator under the hash gate (the watermark-bounded sibling of the
# unbounded first-seen dedup above): (user_id, event_type)
# events land in two checkpointed availableNow batches (event_id
# parity, each batch pre-reduced to one deterministic row per key so
# within-batch processing order cannot pick a winner), watermark delay
# 10 days over a 30-day fixture. Batch 2 therefore exercises every path
# the operator has: rows below the batch-1 watermark are DROPPED AS
# LATE, rows whose key has live batch-1 state (state expires at
# event-time + delay) are DROPPED AS DUPLICATES, and the rest are
# emitted — the oracle restates watermark arithmetic exactly
# (millisecond-truncated event times, Spark's watermark granularity).
# Parity proves the operator's cross-restart state AND its late/expiry
# frontier, bit-for-bit.
#
# Scale: state is one (key → expiry) entry bounded by the delay window,
# the exact shape RocksDB state stores hold at production fan-in.
# --------------------------------------------------------------------------
_DDW_DELAY_DAYS = 10


@staged("dedup_watermark_landings")
def _ddw_out_dir(spark: SparkSession, sf_dir: str, base: str) -> str:
    from pyspark.sql.window import Window as W

    out = os.path.join(base, "out")
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    wk = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    _run_split_landings(
        spark,
        base,
        [
            ev.filter(F.col("event_id") % 2 == parity)
            .withColumn("rk", F.row_number().over(wk))
            .filter(F.col("rk") == 1)
            .drop("rk")
            for parity in (0, 1)
        ],
        transform=lambda stream: stream.withWatermark(
            "ts", f"{_DDW_DELAY_DAYS} days"
        ).dropDuplicatesWithinWatermark(["user_id", "event_type"]),
        out=out,
    )
    return out


@query(
    "streaming_dedup_watermark",
    oracle=f"""
    WITH b AS (
      SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id,
             event_id % 2 AS par,
             row_number() OVER (PARTITION BY user_id, event_type, event_id % 2
                                ORDER BY ts, event_id) AS rk
      FROM events
    ),
    d AS (SELECT * FROM b WHERE rk = 1),
    b1 AS (SELECT * FROM d WHERE par = 0),
    b2 AS (SELECT * FROM d WHERE par = 1),
    -- Spark tracks watermarks at millisecond granularity: wm after
    -- batch 1 = ms-truncated max event time minus the delay
    wm AS (
      SELECT (max(ts_us) // 1000 - {_DDW_DELAY_DAYS * 86_400_000}) * 1000
               AS wm_us
      FROM b1
    ),
    -- Boundary conventions pinned empirically against Spark 4.1.2
    -- (tests/test_streaming.py::test_ddw_boundary_conventions): a row
    -- exactly AT the watermark is dropped as late (keep iff ts > wm,
    -- strict), and state is evicted AT equality (live iff event_us +
    -- delay_us > wm, strict) computed from the UN-truncated event time
    -- (an event whose ms-truncated expiry equals the watermark but
    -- whose microsecond expiry exceeds it stays live). Because the
    -- watermark is always whole milliseconds and equality evicts, the
    -- microsecond comparison below is exact — indistinguishable from
    -- any ceil-to-ms variant.
    keep2 AS (
      SELECT b2.user_id, b2.event_type, b2.ts_us, b2.event_id
      FROM b2 CROSS JOIN wm
      LEFT JOIN b1 ON b1.user_id = b2.user_id
                  AND b1.event_type = b2.event_type
      WHERE b2.ts_us > wm.wm_us         -- not late (strict: wm row is late)
        AND (b1.user_id IS NULL          -- new key, or batch-1 state
             OR b1.ts_us + CAST({_DDW_DELAY_DAYS * 86_400_000_000} AS BIGINT)
                <= wm.wm_us)             -- already expired at batch end
    )
    SELECT user_id, event_type, ts_us, CAST(event_id AS BIGINT) AS event_id
    FROM (SELECT user_id, event_type, ts_us, event_id FROM b1
          UNION ALL SELECT * FROM keep2)
    ORDER BY user_id, event_type
    """,
)
def streaming_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read back the two-run dropDuplicatesWithinWatermark output. The
    oracle's late/expiry boundary conventions (strict > for not-late,
    <= for expired) are pinned by the boundary probe in
    tests/test_streaming.py::test_ddw_boundary_conventions, so parity
    holds even for fixtures with events exactly on a boundary."""
    out = _ddw_out_dir(spark, sf_dir)
    return (
        spark.read.parquet(out)
        .select(
            F.col("user_id").cast("bigint").alias("user_id"),
            "event_type",
            F.unix_micros("ts").alias("ts_us"),
            F.col("event_id").cast("bigint").alias("event_id"),
        )
        .orderBy("user_id", "event_type")
    )


# --------------------------------------------------------------------------
# streaming_scd2_maintenance — incremental TYPE-2 DIMENSION MAINTENANCE,
# the streaming twin of events_scd2_intervals' batch history build and
# the warehouse MERGE pattern every CDC pipeline runs: the event stream
# lands in two time-split checkpointed availableNow batches, and each
# batch continues the dimension table instead of rebuilding it — the
# per-key OPEN version (valid_to IS NULL) is read from state and seeded
# into the batch's change detection as a zero-opens pseudo-event
# carrying its accumulated n_events and version number, so a batch that
# continues the same state EXTENDS the open version (no spurious
# version bump at the batch boundary) and a batch that changes state
# CLOSES it with the new version's valid_from.
#
# State is the emitted history itself, epoch-keyed like the funnel and
# the signature index (idempotent overwrites, prior-epoch reads,
# latest-epoch-wins per (user_id, version) at read time — closed rows
# are never rewritten; only the inherited open row is superseded).
#
# THE PROOF: because the landings are time-ordered, incremental
# maintenance must equal a from-scratch rebuild — the oracle IS
# events_scd2_intervals' oracle, verbatim. Hash parity means the
# incremental path produces the byte-identical dimension history the
# batch path would, across a checkpointed restart.
#
# Scale: per batch, one user_id shuffle for the windows + a broadcast-
# able open-rows seed join; history is touched only by the equi-join
# on (user_id, version) at read time.
# --------------------------------------------------------------------------


def _scd2_processor(out: str):
    """foreachBatch SCD2 maintainer over the epoch-keyed history dir —
    module-level for the replay test, like the funnel/index processors."""
    from pyspark.sql.window import Window as W

    from data_ingestion_din_spark.functions.hashing import h64

    def _plan(batch_df: DataFrame, epoch_id: int) -> DataFrame:
        """Build this batch's history rows without writing — exposed
        for the plan-shape tests."""
        spark_l = batch_df.sparkSession
        ev = batch_df.filter(
            h64(F.concat(F.lit("scd:"), F.col("user_id").cast("string")))
            % 7
            == 0
        ).select(
            "user_id",
            "event_id",
            "event_type",
            F.unix_micros("ts").alias("ts_us"),
        )
        cols = "user_id bigint, version int, state string, valid_from bigint, valid_to bigint, is_current int, n_events bigint"
        latest = _latest_epoch_rows(
            spark_l, out, ["user_id", "version"], before_epoch=epoch_id
        )
        if latest is not None:
            # seed ONLY keys present in this batch (review finding):
            # untouched users' open rows stay current via
            # latest-epoch-wins at read time, so re-emitting them here
            # would turn the incremental write into a per-batch
            # full-dimension rewrite — per-epoch output must stay
            # O(keys touched), like the type-1 twin below
            touched = ev.select("user_id").distinct()
            open_rows = latest.filter(F.col("valid_to").isNull()).join(
                touched, "user_id", "left_semi"
            )
        else:
            open_rows = local_frame(spark_l, [], cols)

        pseudo = open_rows.select(
            "user_id",
            F.lit(-1).cast("bigint").alias("event_id"),
            F.col("state").alias("event_type"),
            F.col("valid_from").alias("ts_us"),
            F.col("n_events").alias("weight"),
            F.col("version").cast("int").alias("base"),
        )
        real = ev.select(
            "user_id",
            "event_id",
            "event_type",
            "ts_us",
            F.lit(1).cast("bigint").alias("weight"),
            F.lit(None).cast("int").alias("base"),
        )
        comb = pseudo.unionByName(real)
        wo = W.partitionBy("user_id").orderBy("ts_us", "event_id")
        chg = comb.withColumn(
            # the pseudo-event re-opens nothing: it IS the open version
            "opens",
            F.when(F.col("event_id") == -1, F.lit(0))
            .when(
                ~F.lag("event_type").over(wo).eqNullSafe(F.col("event_type")),
                F.lit(1),
            )
            .otherwise(F.lit(0)),
        ).withColumn(
            "base_k",
            F.coalesce(
                F.max("base").over(W.partitionBy("user_id")), F.lit(0)
            ),
        )
        ver = chg.withColumn(
            "version",
            (
                F.col("base_k")
                + F.sum("opens").over(wo.rowsBetween(W.unboundedPreceding, 0))
            ).cast("int"),
        )
        grp = ver.groupBy("user_id", "version").agg(
            F.first("event_type").alias("state"),
            F.min("ts_us").cast("bigint").alias("valid_from"),
            F.sum("weight").cast("bigint").alias("n_events"),
        )
        wv = W.partitionBy("user_id").orderBy("version")
        rows = grp.select(
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
        return rows

    return _epoch_writer(_plan, out)


@staged("scd2_stream_landings")
def _scd2s_out_dir(spark: SparkSession, sf_dir: str, base: str) -> str:
    out = os.path.join(base, "out")

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts"
    )
    mid, _ = _time_midpoint(ev)
    _run_split_landings(
        spark,
        base,
        [
            ev.filter(F.unix_micros("ts") <= mid),
            ev.filter(F.unix_micros("ts") > mid),
        ],
        _scd2_processor(out),
    )
    return out


@query("streaming_scd2_maintenance", oracle_ref="events_scd2_intervals")
def streaming_scd2_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read back the incrementally maintained SCD2 history
    (latest-epoch row per (user_id, version)); the oracle is the BATCH
    rebuild's SQL verbatim — time-ordered landings make incremental
    maintenance provably equal to a from-scratch build, and hash parity
    enforces it across the checkpointed restart."""
    out = _scd2s_out_dir(spark, sf_dir)
    latest = _latest_epoch_rows(spark, out, ["user_id", "version"]).select(
        "user_id",
        "version",
        "state",
        "valid_from",
        "valid_to",
        "is_current",
        "n_events",
    )
    return latest.orderBy("user_id", "version")


# --------------------------------------------------------------------------
# streaming_latest_snapshot — incremental TYPE-1 upsert compaction, the
# streaming twin of events_latest_snapshot (and the simpler sibling of
# streaming_scd2_maintenance's type-2): each checkpointed landing
# merges its per-key winners against the prior snapshot's rows FOR THE
# KEYS IT TOUCHES ONLY (left-semi on the batch's keys — the upsert
# delta; untouched keys' rows remain current via latest-epoch-wins at
# read time). Unlike the SCD2 twin this proof needs NO time ordering:
# argmax(ts, event_id) is associative-merge-able under any split, so
# the landings split by event_id parity and the oracle is STILL
# events_latest_snapshot's SQL verbatim.
#
# Scale: per batch one (user_id, event_type) shuffle for the batch
# winners + an equi-join against the delta history; the full snapshot
# is never rewritten per batch — the write is O(keys touched).
# --------------------------------------------------------------------------


def _snapshot_processor(out: str):
    from pyspark.sql.window import Window as W

    def _plan(batch_df: DataFrame, epoch_id: int) -> DataFrame:
        spark_l = batch_df.sparkSession
        b = batch_df.select(
            F.col("user_id").cast("bigint").alias("user_id"),
            "event_type",
            F.col("event_id").cast("bigint").alias("event_id"),
            F.unix_micros("ts").alias("ts_us"),
            "value",
        )
        prior = _latest_epoch_rows(
            spark_l, out, ["user_id", "event_type"], before_epoch=epoch_id
        )
        if prior is not None:
            touched = b.select("user_id", "event_type").distinct()
            cand = b.unionByName(
                prior.join(touched, ["user_id", "event_type"], "left_semi")
            )
        else:
            cand = b
        wk = W.partitionBy("user_id", "event_type").orderBy(
            F.desc("ts_us"), F.desc("event_id")
        )
        return (
            cand.withColumn("rk", F.row_number().over(wk))
            .filter(F.col("rk") == 1)
            .drop("rk")
        )

    return _epoch_writer(_plan, out)


@staged("snapshot_landings")
def _snap_out_dir(spark: SparkSession, sf_dir: str, base: str) -> str:
    out = os.path.join(base, "out")

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts", "value"
    )
    _run_split_landings(
        spark,
        base,
        [ev.filter(F.col("event_id") % 2 == p) for p in (0, 1)],
        _snapshot_processor(out),
    )
    return out


@query("streaming_latest_snapshot", oracle_ref="events_latest_snapshot")
def streaming_latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read back the incrementally merged snapshot (latest-epoch row per
    key); the oracle is the batch compaction's SQL verbatim — argmax
    merges associatively under any split, and hash parity enforces it
    across the checkpointed restart."""
    out = _snap_out_dir(spark, sf_dir)
    latest = _latest_epoch_rows(spark, out, ["user_id", "event_type"]).select(
        "user_id", "event_type", "event_id", "ts_us", "value"
    )
    return latest.orderBy("user_id", "event_type")




# --------------------------------------------------------------------------
# streaming_cdc_merge — MERGE INTO maintained AT INGEST: the tombstone-
# aware upsert (events_cdc_merge) as an incremental state sink. Epoch 0
# lands the base rows, later epochs land CDC rows (op derived from the
# payload exactly as in the batch query); the processor keeps one row
# per key — the current winner under (CDC-beats-base, ts, event_id) —
# plus the `in_base` provenance bit the MERGE action verdicts need
# (batch actions compare against the ORIGINAL base, so an insert
# followed by more updates must stay 'inserted'; comparing against the
# prior epoch would misreport it as 'updated'). The oracle is the batch
# MERGE verbatim: the winner rule is associative under any landing
# split, and hash parity across the checkpointed restarts proves the
# tombstones, provenance, and payloads all compose.
#
# Scale: per epoch one shuffle on the MERGE key over (batch ∪ prior
# rows of touched keys) — the growing state is never broadcast and is
# only scanned for touched keys (left-semi), the Delta MERGE-on-read
# shape.
# --------------------------------------------------------------------------


def _cdc_merge_processor(out: str):
    from pyspark.sql.window import Window as W

    from data_ingestion_din_spark.plans.events_ext import _CDC_SPLIT

    keys = ["user_id", "event_type"]

    def plan(batch_df: DataFrame, epoch_id: int) -> DataFrame:
        spark_l = batch_df.sparkSession
        b = batch_df.select(
            F.col("user_id").cast("bigint").alias("user_id"),
            "event_type",
            F.col("event_id").cast("bigint").alias("event_id"),
            F.unix_micros("ts").alias("ts_us"),
            "value",
            F.when(F.col("event_id") < _CDC_SPLIT, F.lit("B"))
            .when(
                F.regexp_extract("props", r"\d+", 0).cast("bigint") % 5
                == 0,
                F.lit("D"),
            )
            .otherwise(F.lit("U"))
            .alias("op"),
        ).withColumn("in_base", F.col("op") == "B")
        prior = _latest_epoch_rows(spark_l, out, keys, before_epoch=epoch_id)
        if prior is not None:
            touched = b.select(*keys).distinct()
            cand = b.unionByName(
                prior.join(touched, keys, "left_semi")
            )
        else:
            cand = b
        wk = W.partitionBy(*keys).orderBy(
            (F.col("op") != "B").desc(),
            F.desc("ts_us"),
            F.desc("event_id"),
        )
        winners = (
            cand.withColumn("rk", F.row_number().over(wk))
            .filter(F.col("rk") == 1)
            .drop("rk", "in_base")
        )
        inb = cand.groupBy(*keys).agg(F.max("in_base").alias("in_base"))
        return winners.join(inb, keys)

    return _epoch_writer(plan, out)


@staged("cdcm_landings")
def _cdcm_out_dir(spark: SparkSession, sf_dir: str, base: str) -> str:
    from data_ingestion_din_spark.plans.events_ext import _CDC_SPLIT

    out = os.path.join(base, "out")

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts", "value", "props"
    )
    cdc = ev.filter(
        (F.col("event_id") >= _CDC_SPLIT) & (F.col("event_id") % 3 == 0)
    )
    _run_split_landings(
        spark,
        base,
        [
            ev.filter(F.col("event_id") < _CDC_SPLIT),
            cdc.filter(F.col("event_id") % 2 == 0),
            cdc.filter(F.col("event_id") % 2 == 1),
        ],
        _cdc_merge_processor(out),
    )
    return out


@query("streaming_cdc_merge", oracle_ref="events_cdc_merge")
def streaming_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read back the maintained MERGE state as the batch query's frame:
    action from (winner op, in_base), tombstoned payloads nulled, D
    winners on never-in-base keys dropped (the MERGE's no-op delete)."""
    out = _cdcm_out_dir(spark, sf_dir)
    cur = _latest_epoch_rows(spark, out, ["user_id", "event_type"])
    is_del = F.col("op") == "D"
    action = (
        F.when(F.col("op") == "B", F.lit("kept"))
        .when(is_del & F.col("in_base"), F.lit("deleted"))
        .when(is_del, F.lit(None).cast("string"))
        .when(F.col("in_base"), F.lit("updated"))
        .otherwise(F.lit("inserted"))
    )
    return (
        cur.select(
            "user_id",
            "event_type",
            F.when(is_del, F.lit(None).cast("bigint"))
            .otherwise(F.col("event_id"))
            .alias("event_id"),
            F.when(is_del, F.lit(None).cast("bigint"))
            .otherwise(F.col("ts_us"))
            .alias("ts_us"),
            F.when(is_del, F.lit(None).cast("double"))
            .otherwise(F.col("value"))
            .alias("value"),
            action.alias("action"),
        )
        .filter(F.col("action").isNotNull())
        .orderBy("user_id", "event_type")
    )


# --------------------------------------------------------------------------
# streaming_watermark_lateness_grid — the WATERMARK DELAY operating
# surface for windowed aggregation: the one knob every Structured
# Streaming deployment must size (too small drops real late data, too
# large holds state forever), measured as data instead of sized by
# lore. Three parquet-sinked append-mode streams run the identical
# 5-minute tumbling count over three checkpointed landings:
#
#   landing 1: odd event_ids (full time range) — advances the
#              watermark to max(odd ts) − delay;
#   landing 2: even event_ids — EVERY row is late relative to run 1's
#              watermark by 0..30 days; Spark's late filter (evaluated
#              against the BATCH-START watermark) drops rows whose
#              window can no longer change and merges the rest;
#   landing 3: one far-future sentinel (event_id −1, max ts + 60 d) —
#              pushes the watermark past every real window so the
#              append sink flushes ALL surviving state (the outer-join
#              family's sentinel trick; without it the merged late
#              rows sit in state forever and the sink under-reports).
#
# Delays: 1 day, 10 days, and an ALIGNED ~20-day delay constructed so
# run 1's watermark lands EXACTLY on a 5-minute window boundary
# (delay_ms = max_odd_ms − floor_5min(max_odd_ms) + 20 d) — the
# boundary case the 1 d / 10 d rows cannot exercise (their watermark
# falls mid-window): the gate pins Spark's equality convention — a row
# whose window END equals the watermark is DROPPED (the window is
# already finalized; window.end > wm is the keep condition), the
# aggregation twin of the join family's strict ms-floored eviction.
#
# Readback: per (delay, window-day) — windows emitted, total events
# absorbed, even (late) rows kept vs dropped; the per-day rows make
# the lateness cliff visible (all-dropped below the watermark day,
# all-kept above it). Oracle restates: counts = all odds + evens whose
# window_end_us > wm1_us, wm1_us = (epoch_us(max odd ts) // 1000 −
# delay_ms) · 1000 (the family's pinned ms-floor arithmetic).
#
# Scale: event-time windowed aggregation with watermarked state — the
# canonical Structured Streaming shape; state is bounded by the delay
# horizon (the trade this grid prices), shuffle keyed on the window.
# --------------------------------------------------------------------------
_SWL_WIN_US = 300_000_000  # 5-minute tumbling window
_SWL_D1_MS = 86_400_000  # 1 day
_SWL_D2_MS = 864_000_000  # 10 days
_SWL_D3_BASE_MS = 1_728_000_000  # 20 days (5-min-aligned), + alignment
_SWL_LABELS = ("1d", "10d", "aligned20d")


def _swl_delay_ms(label: str, max_odd_us: int) -> int:
    if label == "1d":
        return _SWL_D1_MS
    if label == "10d":
        return _SWL_D2_MS
    max_ms = max_odd_us // 1000
    floor5 = (max_ms // 300_000) * 300_000
    return max_ms - floor5 + _SWL_D3_BASE_MS


@staged("swl_landings")
def _swl_out_dir(spark: SparkSession, sf_dir: str, base: str) -> str:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type"
    )
    max_all_us, max_odd_us = ev.agg(
        F.max(F.unix_micros("ts")),
        F.max(
            F.when(F.col("event_id") % 2 == 1, F.unix_micros("ts"))
        ),
    ).first()
    odds = ev.filter(F.col("event_id") % 2 == 1)
    evens = ev.filter(F.col("event_id") % 2 == 0)
    sentinel = local_frame(
        spark,
        [(-1, "sentinel")], "event_id bigint, event_type string"
    ).select(
        "event_id",
        F.timestamp_micros(
            F.lit(max_all_us + 60 * 86_400_000_000)
        ).alias("ts"),
        "event_type",
    ).select("event_id", "ts", "event_type")
    for label in _SWL_LABELS:
        delay = f"{_swl_delay_ms(label, int(max_odd_us))} milliseconds"

        def counts(stream: DataFrame, delay: str = delay) -> DataFrame:
            return (
                stream.withWatermark("ts", delay)
                .groupBy(F.window("ts", "5 minutes").alias("w"))
                .agg(F.count(F.lit(1)).alias("n"))
                .select(
                    F.unix_micros("w.start").alias("w_start_us"),
                    F.unix_micros("w.end").alias("w_end_us"),
                    "n",
                )
            )

        _run_split_landings(
            spark,
            os.path.join(base, label),
            [odds, evens, sentinel],
            transform=counts,
            out=os.path.join(base, "out", f"delay={label}"),
        )
    return os.path.join(base, "out")


def _swl_oracle() -> str:
    per_delay = []
    for label in _SWL_LABELS:
        if label == "1d":
            dms = str(_SWL_D1_MS)
        elif label == "10d":
            dms = str(_SWL_D2_MS)
        else:
            dms = (
                "(mx.odd_ms - (mx.odd_ms // 300000) * 300000"
                f" + {_SWL_D3_BASE_MS})"
            )
        per_delay.append(
            f"""SELECT '{label}' AS delay, ew.w_end_us,
             ew.day, ew.is_even,
             CASE WHEN NOT ew.is_even THEN 1
                  WHEN ew.w_end_us > (mx.odd_ms - {dms}) * 1000 THEN 1
                  ELSE 0 END AS kept
      FROM ew CROSS JOIN mx"""
        )
    body = "\n      UNION ALL\n      ".join(per_delay)
    return f"""
    WITH ew AS (
      SELECT event_id % 2 = 0 AS is_even,
             (epoch_us(ts) // {_SWL_WIN_US}) * {_SWL_WIN_US}
               + {_SWL_WIN_US} AS w_end_us,
             CAST(date_trunc('day', ts) AS DATE) AS day
      FROM events
    ),
    mx AS (
      SELECT epoch_us(max(ts)) // 1000 AS odd_ms FROM events
      WHERE event_id % 2 = 1
    ),
    verdicts AS (
      {body}
    )
    SELECT delay, day,
           CAST(count(DISTINCT CASE WHEN kept = 1 THEN w_end_us END)
                AS BIGINT) AS n_windows,
           CAST(sum(kept) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN is_even AND kept = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_even_kept,
           CAST(sum(CASE WHEN is_even AND kept = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_even_dropped
    FROM verdicts
    GROUP BY delay, day
    ORDER BY delay, day
    """


@query("streaming_watermark_lateness_grid", oracle=_swl_oracle())
def streaming_watermark_lateness_grid(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Read back the three sinks; each emitted window's count is
    odds + accepted evens, so the per-day rollup against the oracle's
    restated accept rule proves both the late-filter arithmetic and
    that the sentinel flushed every surviving window."""
    out = _swl_out_dir(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("day"),
    )
    emitted = spark.read.option("basePath", out).parquet(out)
    # the sentinel's own window never emits (its end exceeds even the
    # final watermark at these delays), so `emitted` is real data only
    rows = ev.withColumn(
        "w_end_us",
        F.expr(f"ts_us DIV {_SWL_WIN_US}") * _SWL_WIN_US + _SWL_WIN_US,
    )
    # per (delay, day): the sink's absorbed totals vs the raw per-day
    # row counts give kept/dropped evens without re-deriving the
    # accept rule (that restatement is the oracle's job); 5-min
    # windows never span days on this fixture's grid
    win_day = rows.groupBy("w_end_us", "day").agg(
        F.count(F.lit(1)).alias("n_all"),
        F.sum(F.when(F.col("event_id") % 2 == 0, 1).otherwise(0)).alias(
            "n_even_all"
        ),
    )
    # dropped evens must come from the RAW per-day totals, not from
    # emitted windows: an all-even window whose rows were all dropped
    # never creates state and never emits, so it is invisible in the
    # sink — deriving drops as (raw evens that day) − (kept evens)
    # counts those windows too (the first draft missed 49 of 182 on
    # day one — caught by the hash gate)
    day_tot = rows.groupBy("day").agg(
        F.sum(F.when(F.col("event_id") % 2 == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_even_day")
    )
    per = (
        emitted.join(win_day, "w_end_us")
        .groupBy("delay", "day")
        .agg(
            F.count_distinct(F.col("w_end_us"))
            .cast("bigint")
            .alias("n_windows"),
            F.sum("n").cast("bigint").alias("n_events"),
            (F.sum("n") - F.sum(F.col("n_all") - F.col("n_even_all")))
            .cast("bigint")
            .alias("n_even_kept"),
        )
        .join(day_tot, "day")
        .withColumn(
            "n_even_dropped",
            (F.col("n_even_day") - F.col("n_even_kept")).cast("bigint"),
        )
    )
    return per.select(
        "delay",
        "day",
        "n_windows",
        "n_events",
        "n_even_kept",
        "n_even_dropped",
    ).orderBy("delay", "day")


# --------------------------------------------------------------------------
# streaming_asof_attribution — STREAM-STREAM AS-OF JOIN (VERDICT r12 ask
# #8): the batch as-of (plans/asof_range.py:55 — union + last-carried-
# forward, no join) and the watermark interval join
# (streaming_stream_join) both exist; this is their composition — every
# click attributed to the LATEST AT-OR-BEFORE error of the same user,
# maintained incrementally across checkpointed landings. Spark's native
# stream-stream join cannot express as-of (interval joins need a
# bounded time range; as-of is unbounded-precedence), so the operator
# is built on the SCD2-maintenance state pattern (_scd2_processor
# above): per landing, the per-user LATEST-ERROR state from prior
# epochs is seeded for touched users only, unioned with the landing's
# own deduped errors, and the landing's clicks are attributed by the
# batch as-of's own (ts, is_probe) last-carried-forward window; the
# refreshed latest-error state lands epoch-keyed next to the attributed
# clicks (replay-safe: state reads are before_epoch-filtered, writes
# are epoch-keyed overwrites).
#
# THE PROOF: landings are time-ordered (split at the time midpoint), so
# every error at-or-before a click is visible to that click's landing —
# either in-batch or through the carried state — and incremental
# attribution must equal the one-shot batch ASOF. The oracle IS
# events_asof_attribution's DuckDB ASOF LEFT JOIN, verbatim, and the
# two availableNow drains on one checkpoint make hash parity a
# restart-survival proof.
#
# Scale: per landing one user_id shuffle for the LCF window + a
# left-semi state seed join on touched users; state is one row per user
# WITH an error history (never the corpus), and attributed clicks are
# written once each — O(batch) output per landing.
# --------------------------------------------------------------------------


def _asof_processor(out: str):
    """foreachBatch as-of attributor — module-level for the replay
    test, like the SCD2/funnel/index processors."""
    from pyspark.sql.window import Window as W

    state_cols = "user_id bigint, err_ts_us bigint, err_id bigint"
    sdir = os.path.join(out, "state")

    def _plan(batch_df: DataFrame, epoch_id: int):
        spark_l = batch_df.sparkSession
        b = batch_df.select(
            "user_id",
            "event_id",
            "event_type",
            F.unix_micros("ts").alias("ts_us"),
        )
        berr = (
            b.filter(F.col("event_type") == "error")
            .groupBy("user_id", "ts_us")
            .agg(F.max("event_id").cast("bigint").alias("err_id"))
        )
        bclk = b.filter(F.col("event_type") == "click").select(
            "user_id", "ts_us", F.col("event_id").alias("click_id")
        )
        prior = _latest_epoch_rows(
            spark_l, sdir, ["user_id"], before_epoch=epoch_id
        )
        if prior is not None:
            touched = b.select("user_id").distinct()
            prior = (
                prior.join(touched, "user_id", "left_semi")
                .select(
                    "user_id",
                    F.col("err_ts_us").alias("ts_us"),
                    "err_id",
                )
            )
        else:
            prior = local_frame(spark_l, [], state_cols).select(
                "user_id", F.col("err_ts_us").alias("ts_us"), "err_id"
            )
        # prior state + batch errors; re-dedup per (user, ts) so the
        # LCF pick stays deterministic even under a replayed landing
        allerr = (
            prior.unionByName(berr)
            .groupBy("user_id", "ts_us")
            .agg(F.max("err_id").cast("bigint").alias("err_id"))
        )
        e = allerr.select(
            "user_id",
            "ts_us",
            F.lit(0).alias("is_probe"),
            "err_id",
            F.lit(None).cast("bigint").alias("click_id"),
        )
        c = bclk.select(
            "user_id",
            "ts_us",
            F.lit(1).alias("is_probe"),
            F.lit(None).cast("bigint").alias("err_id"),
            "click_id",
        )
        w = (
            W.partitionBy("user_id")
            .orderBy("ts_us", "is_probe", "click_id")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        att = (
            e.unionByName(c)
            .withColumn(
                "last_err", F.last("err_id", ignorenulls=True).over(w)
            )
            .filter(F.col("is_probe") == 1)
            .select(
                "click_id",
                "user_id",
                "ts_us",
                F.col("last_err").alias("err_id"),
            )
        )
        ws = W.partitionBy("user_id").orderBy(
            F.desc("ts_us"), F.desc("err_id")
        )
        nstate = (
            allerr.withColumn("rk", F.row_number().over(ws))
            .filter(F.col("rk") == 1)
            .select(
                "user_id", F.col("ts_us").alias("err_ts_us"), "err_id"
            )
        )
        return att, nstate

    return _epoch_writer(
        _plan,
        {"clicks": os.path.join(out, "clicks"), "state": sdir},
    )


@staged("asof_stream_landings")
def _asofs_out_dir(spark: SparkSession, sf_dir: str, base: str) -> str:
    out = os.path.join(base, "out")

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts"
    )
    mid, _ = _time_midpoint(ev)
    _run_split_landings(
        spark,
        base,
        [
            ev.filter(F.unix_micros("ts") <= mid),
            ev.filter(F.unix_micros("ts") > mid),
        ],
        _asof_processor(out),
    )
    return out


@query("streaming_asof_attribution", oracle_ref="events_asof_attribution")
def streaming_asof_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Read back the incrementally attributed clicks (each click lands
    exactly once, in its own landing's epoch); the oracle is the batch
    ASOF LEFT JOIN verbatim — time-ordered landings make the stateful
    stream-stream as-of provably equal to the one-shot batch join, and
    hash parity enforces it across the checkpointed restart."""
    out = _asofs_out_dir(spark, sf_dir)
    cdir = os.path.join(out, "clicks")
    return (
        spark.read.option("basePath", cdir)
        .parquet(cdir)
        .drop("epoch")
        .select("click_id", "user_id", "ts_us", "err_id")
        .orderBy("click_id")
    )
