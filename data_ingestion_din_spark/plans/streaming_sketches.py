"""Maintained sketch / rollup state at ingest and the dq-at-ingest
judges over it (SURVEY.md §2.11) — the sketch family of the per-family
streaming split (shared scaffolding in streaming_core): HLL registers,
the hourly count rollup, the mergeable quantile histogram, the additive
CMS, the frozen per-column profile drift gate, and the z-squared volume
anomaly gate judged against the maintained rollup.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_din_spark.functions.sketches import (
    cms_cells,
    cms_estimate,
    cms_grid,
    hll_bucket,
    hll_num,
    hll_rank,
    hll_scaled_sum,
)
from data_ingestion_din_spark.operators.colocate import staged
from data_ingestion_din_spark.plans.events import _HLL_M
from data_ingestion_din_spark.plans.events_ext import (
    _theta_algebra_sql,
    _theta_est_rows,
)
from data_ingestion_din_spark.plans.registry import query
from data_ingestion_din_spark.plans.streaming_core import (
    _epoch_writer,
    _frozen_model,
    _latest_epoch_rows,
    _prior_snapshot,
    _run_doc_parity_landings,
    _run_split_landings,
    _time_midpoint,
    _unless_empty,
)
from data_ingestion_din_spark.sources.tables import load_table, local_frame

# --------------------------------------------------------------------------
# streaming_hll_registers — SKETCH MAINTENANCE as a streaming operator:
# the HLL registers of events_hll_distinct kept incrementally by a
# stateful running-max stream (streaming/stateful.running_max_stream),
# events landing in TWO batches split at the corpus time midpoint with
# the checkpoint carried across availableNow runs. Registers are
# per-(event_type, bucket) maxima — a monotone merge, so the stream's
# final emission per key must equal the batch register exactly; the
# oracle recomputes the batch sketch AND the estimate, proving the
# real-time distinct-count surface converges bit-for-bit to the batch
# one across a restart. State per key is one int; ≤ m rows per group
# regardless of stream length.
# --------------------------------------------------------------------------


def _hll_register_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, bucket, rnk, ts) per EVENT, with the bucket/rank of
    events_hll_distinct (functions/sketches.py). No distinct on
    (type, user): a register is a max, and a max ignores duplicates, so
    repeat events of one user leave every register unchanged."""
    from data_ingestion_din_spark.functions.hashing import h64

    ev = load_table(spark, sf_dir, "events")
    h = h64(F.concat(F.lit("hll:"), F.col("user_id").cast("string")))
    return (
        ev.select("event_type", "ts", h.alias("h"))
        .select(
            "event_type",
            "ts",
            hll_bucket(_HLL_M).cast("int").alias("bucket"),
            hll_rank(_HLL_M).cast("int").alias("rnk"),
        )
    )


@staged("hll_registers_landings")
def _hll_out_dir(spark: SparkSession, sf_dir: str, base: str) -> str:
    from data_ingestion_din_spark.streaming.stateful import (
        running_max_stream,
    )

    out = os.path.join(base, "out")
    rows = _hll_register_rows(spark, sf_dir)
    mid = rows.agg(
        F.expr("timestamp_micros(cast(avg(unix_micros(ts)) as bigint))")
    ).collect()[0][0]
    _run_split_landings(
        spark,
        base,
        [
            rows.filter(pred).select("event_type", "bucket", "rnk")
            for pred in (F.col("ts") <= F.lit(mid), F.col("ts") > F.lit(mid))
        ],
        transform=lambda stream: running_max_stream(
            stream, ["event_type", "bucket"], "rnk"
        ),
        out=out,
    )
    return out


@query(
    "streaming_hll_registers",
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
    )
    SELECT event_type, n_buckets,
           CAST(s_scaled AS BIGINT) AS s_scaled,
           round({hll_num(_HLL_M)!r} / CAST(s_scaled AS DOUBLE), 4)
             AS hll_estimate
    FROM s
    ORDER BY event_type
    """,
)
def streaming_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _hll_out_dir(spark, sf_dir)
    # final register per key = last (max) emission; the monotone stream
    # emits only increases, so max over emissions IS the final state
    reg = (
        spark.read.parquet(out)
        .groupBy("event_type", "bucket")
        .agg(F.max("rnk").alias("r"))
    )
    s = reg.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        hll_scaled_sum(_HLL_M).alias("s_scaled"),
    )
    return s.select(
        "event_type",
        "n_buckets",
        "s_scaled",
        F.round(
            F.lit(hll_num(_HLL_M)) / F.col("s_scaled").cast("double"), 4
        ).alias("hll_estimate"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# streaming_rollup_maintenance — INCREMENTAL VIEW MAINTENANCE for the
# additive rollup, the most common production continuous aggregate
# (events_hourly_rollup kept current under append): each time-split
# landing is aggregated to (hour, event_type) partials — one map-side-
# combined shuffle over the LANDING only, never rescanning history —
# and merged with the latest prior-epoch state by re-summing, then the
# full merged rollup is epoch-committed (idempotent overwrite,
# prior-epoch-only reads: the exactly-once-under-replay layout every
# state sink here uses). Counts and decimal sums are associative, so
# merged-partials == from-scratch — and the oracle IS the batch
# rollup's SQL verbatim (oracle_ref), making that equality the hash
# gate across the checkpointed restart.
#
# Scale: state is AGGREGATE-cardinality (hours × types — orders of
# magnitude below raw events), so the full-state epoch write is cheap
# relative to any landing; the landing-side cost is one partial
# aggregation of the batch. (When even the rollup is huge, the
# O(touched) variant — rewrite only hour-partitions the landing
# touches — is the training_shard_incremental pattern; the additive
# merge here is the semantics both share.)
# --------------------------------------------------------------------------


def _rollup_processor(state: str):
    """foreachBatch processor over the rollup-state dir — module-level
    for the replay test, like the other incremental state sinks."""

    def _plan(batch_df: DataFrame, epoch_id: int) -> DataFrame:
        spark_l = batch_df.sparkSession
        partials = batch_df.groupBy(
            F.window("ts", "1 hour").alias("h"), "event_type"
        ).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)"))
            .cast("decimal(22,2)")
            .alias("total_value"),
        ).select(
            F.col("h.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
        prior = _latest_epoch_rows(
            spark_l,
            state,
            ["window_start", "event_type"],
            before_epoch=epoch_id,
        )
        if prior is not None:
            partials = partials.unionByName(prior)
        return (
            partials.groupBy("window_start", "event_type")
            .agg(
                F.sum("n_events").cast("bigint").alias("n_events"),
                F.sum("total_value").cast("decimal(22,2)").alias("total_value"),
            )
        )

    return _epoch_writer(_plan, state)


@staged("rollup_state_landings")
def _srm_state_dir(spark: SparkSession, sf_dir: str, base: str) -> str:
    state = os.path.join(base, "state")

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "ts", "value"
    )
    mid, _ = _time_midpoint(ev)
    _run_split_landings(
        spark,
        base,
        [
            ev.filter(F.unix_micros("ts") <= mid),
            ev.filter(F.unix_micros("ts") > mid),
        ],
        _rollup_processor(state),
    )
    return state


@query("streaming_rollup_maintenance", oracle_ref="events_hourly_rollup")
def streaming_rollup_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read back the incrementally maintained hourly rollup (latest-
    epoch row per (window_start, event_type)); the oracle is the BATCH
    rollup's SQL verbatim — additive merge makes incremental
    maintenance provably equal to a from-scratch aggregation, and hash
    parity enforces it across the checkpointed restart."""
    from data_ingestion_din_spark.plans._exact import dec_to_double

    state = _srm_state_dir(spark, sf_dir)
    cur = _latest_epoch_rows(spark, state, ["window_start", "event_type"])
    return cur.select(
        "window_start",
        "event_type",
        "n_events",
        dec_to_double(F.col("total_value"), 2).alias("total_value"),
    ).orderBy("window_start", "event_type")


# --------------------------------------------------------------------------
# streaming_profile_gate — SCHEMA-DRIFT monitoring at ingest, the
# aggregate member of the frozen-baseline family (the sibling gates
# freeze models/rates and emit per-DOC verdicts; this freezes the
# per-column PROFILE and emits per-landing audit rows — the "alert when
# a feed's null rate or cardinality shifts" monitor every production
# ingest runs). The first landing profiles itself (rows, nulls,
# distinct per column — dq_schema_drift's fused one-pass aggregation)
# and freezes the result as the baseline; every landing's profile is
# compared column-by-column against the frozen baseline with the same
# overflow-safe per-mille density rule (distinct <= rows keeps each
# density a bounded int — never a product of two corpus-sized counts).
# The baseline is column-count-sized — bounded control data, the legal
# broadcast class.
#
# The oracle restates profile-evens-as-baseline + profile-both-halves +
# compare in SQL, so hash parity proves the frozen profile survived
# the checkpointed restart and landing 2 was judged against landing
# 1's baseline.
# --------------------------------------------------------------------------
_SPG_COLS = ["lang", "source", "n_chars", "text"]


def _profile_gate_processor(out: str, baseline_state: str):
    """foreachBatch processor over (audit-rows, frozen-baseline) dirs —
    module-level for the replay test, like the sibling gates."""

    def _profile(batch_df: DataFrame) -> DataFrame:
        aggs = [F.count(F.lit(1)).cast("bigint").alias("n_rows")]
        for c in _SPG_COLS:
            aggs.append(
                (F.count(F.lit(1)) - F.count(c))
                .cast("bigint")
                .alias(f"nulls_{c}")
            )
            aggs.append(F.countDistinct(c).cast("bigint").alias(f"nd_{c}"))
        fused = batch_df.agg(*aggs)
        return fused.select(
            F.inline(
                F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("col"),
                            F.col("n_rows").alias("n_rows"),
                            F.col(f"nulls_{c}").alias("n_nulls"),
                            F.col(f"nd_{c}").alias("n_distinct"),
                        )
                        for c in _SPG_COLS
                    ]
                )
            )
        )

    def _plan(batch_df: DataFrame, epoch_id: int):
        prof = _profile(batch_df).localCheckpoint(eager=True)
        frozen, new_baseline = _frozen_model(
            batch_df.sparkSession, baseline_state, epoch_id, lambda: prof
        )
        baseline = frozen.select(
            "col",
            F.col("n_rows").alias("b_rows"),
            F.col("n_distinct").alias("b_distinct"),
        )
        dens = F.expr("n_distinct * 1000 DIV greatest(n_rows, 1)")
        b_dens = F.expr("b_distinct * 1000 DIV greatest(b_rows, 1)")
        audit = prof.join(F.broadcast(baseline), "col").select(
            "col",
            "n_rows",
            "n_nulls",
            "n_distinct",
            F.when((dens > 2 * b_dens) | (b_dens > 2 * dens), 1)
            .otherwise(0)
            .cast("int")
            .alias("drifted"),
        )
        return {"audit": audit, "new_baseline": new_baseline}

    return _epoch_writer(_plan, {"audit": out, "new_baseline": baseline_state})


@staged("profile_gate_landings")
def _spg_out_dir(spark: SparkSession, sf_dir: str, base: str) -> str:
    out = os.path.join(base, "out")
    _run_doc_parity_landings(
        spark,
        sf_dir,
        base,
        _profile_gate_processor(out, os.path.join(base, "baseline")),
        cols=("doc_id", "text", "lang", "source", "n_chars"),
    )
    return out


def _spg_oracle() -> str:
    def half(name: str, pred: str) -> str:
        per_col = ",\n             ".join(
            f"CAST(count(*) - count({c}) AS BIGINT) AS nulls_{c},"
            f" CAST(count(DISTINCT {c}) AS BIGINT) AS nd_{c}"
            for c in _SPG_COLS
        )
        return f"""{name} AS (
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
             {per_col}
      FROM documents WHERE {pred}
    )"""

    def rows(src: str) -> str:
        return "\n      UNION ALL\n      ".join(
            f"SELECT '{c}' AS col, n_rows, nulls_{c} AS n_nulls,"
            f" nd_{c} AS n_distinct FROM {src}"
            for c in _SPG_COLS
        )

    return f"""
    WITH {half('e', 'doc_id % 2 = 0')},
    {half('o', 'doc_id % 2 = 1')},
    ep AS (
      {rows('e')}
    ),
    op AS (
      {rows('o')}
    ),
    judged AS (
      SELECT p.col, p.n_rows, p.n_nulls, p.n_distinct,
             CAST(CASE WHEN p.n_distinct * 1000 // greatest(p.n_rows, 1)
                          > 2 * (b.n_distinct * 1000 // greatest(b.n_rows, 1))
                        OR b.n_distinct * 1000 // greatest(b.n_rows, 1)
                          > 2 * (p.n_distinct * 1000 // greatest(p.n_rows, 1))
                       THEN 1 ELSE 0 END AS INT) AS drifted
      FROM op p JOIN ep b USING (col)
    )
    SELECT col, n_rows, n_nulls, n_distinct, CAST(0 AS INT) AS drifted
    FROM ep
    UNION ALL
    SELECT col, n_rows, n_nulls, n_distinct, drifted FROM judged
    ORDER BY n_rows, col
    """


@query("streaming_profile_gate", oracle=_spg_oracle())
def streaming_profile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read back both landings' profile audit rows; the oracle restates
    freeze-epoch-0's-profile + judge-every-landing-against-it. The
    epoch-0 rows carry drifted=0 by definition (a baseline judged
    against itself). The hash gate sorts rows by ALL columns, so the
    presentation order only needs to be total for display: every
    column participates in the sort (equal-row-count halves would tie
    on (n_rows, col) alone)."""
    out = _spg_out_dir(spark, sf_dir)
    return (
        spark.read.parquet(out)
        .select("col", "n_rows", "n_nulls", "n_distinct", "drifted")
        .orderBy("n_rows", "col", "n_distinct", "n_nulls", "drifted")
    )


# --------------------------------------------------------------------------
# streaming_anomaly_gate — DATA-QUALITY SPIKE DETECTION at ingest over
# the incrementally maintained hourly count rollup, completing the
# dq-at-ingest family (profile drift ✓ r9, key skew ✓ r9; this is the
# volume-anomaly member): the processor maintains a (window_start,
# event_type) count rollup exactly like _rollup_processor (landing-only
# partials merged additively with the latest prior-epoch state), and —
# for every landing AFTER the first — judges each batch cell against
# the PRIOR epoch's per-type hour-count distribution with a z-score
# test in pure INTEGER arithmetic (no sqrt, no libm — the Σ-form
# variance):
#
#   z² > k²  ⟺  (n·x − Σx)² > k²·(n·Σx² − (Σx)²),   k = 2
#
# so the flag decision itself is hash-gated. Cells of types with fewer
# than 2 prior hours (variance undefined) and types unseen in the
# prior state are never flagged (coalesce FALSE — a cold type is new
# data, not a spike). Verdicts depend only on (batch, prior-epoch
# state), and both sinks are epoch-keyed idempotent overwrites with
# prior-epoch-only reads — replay-idempotent like every state sink
# here.
#
# Scale: state is aggregate-cardinality (hours × types); the per-type
# stats table is a types-sized aggregate OF that state joined to the
# batch partials hint-free (the growing-state rule — AQE may broadcast
# at runtime, nothing forces it). The oracle restates
# rollup-landing-1 → stats → judge-landing-2 in SQL, so hash parity
# proves the maintained state fed the judgment across the restart.
# --------------------------------------------------------------------------
_SAG_K = 2  # flag beyond k standard deviations


def _anomaly_gate_processor(out: str, state: str, k: int = _SAG_K):
    """foreachBatch processor over (verdicts, rollup-state) dirs —
    module-level for the replay test, like the sibling gates."""

    def _plan(batch_df: DataFrame, epoch_id: int):
        spark_l = batch_df.sparkSession
        partials = (
            batch_df.groupBy(
                F.window("ts", "1 hour").alias("h"), "event_type"
            )
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
            .select(
                F.col("h.start").alias("window_start"),
                "event_type",
                "n_events",
            )
            .localCheckpoint(eager=True)  # feeds verdicts AND the merge
        )
        prior = _latest_epoch_rows(
            spark_l,
            state,
            ["window_start", "event_type"],
            before_epoch=epoch_id,
        )
        if prior is not None:
            # keyed on PRIOR-EPOCH ROWS, not directory existence: a
            # REPLAYED first epoch must still see "no prior"
            prior = _unless_empty(
                prior.localCheckpoint(eager=True)  # stats AND the merge
            )
        verdicts = None
        if prior is not None:
            stats = prior.groupBy("event_type").agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.sum("n_events").cast("bigint").alias("sx"),
                F.sum(F.col("n_events") * F.col("n_events"))
                .cast("bigint")
                .alias("sxx"),
            )
            lhs = (
                F.col("n") * F.col("n_events") - F.col("sx")
            ) * (F.col("n") * F.col("n_events") - F.col("sx"))
            rhs = F.lit(k * k) * (
                F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
            )
            verdicts = (
                # per-type stats of the maintained state: hint-free join
                partials.join(stats, "event_type", "left")
                .select(
                    "window_start",
                    "event_type",
                    "n_events",
                    F.coalesce(lhs, F.lit(0)).cast("bigint").alias("z_lhs"),
                    F.coalesce(rhs, F.lit(0)).cast("bigint").alias("z_rhs"),
                    F.coalesce(
                        (F.col("n") >= 2) & (lhs > rhs), F.lit(False)
                    ).alias("anomalous"),
                )
            )
            merged_in = partials.unionByName(prior)
        else:
            merged_in = partials
        merged = merged_in.groupBy("window_start", "event_type").agg(
            F.sum("n_events").cast("bigint").alias("n_events")
        )
        return {"verdicts": verdicts, "new_state": merged}

    return _epoch_writer(_plan, {"verdicts": out, "new_state": state})


@staged("anomaly_gate_landings")
def _sag_out_dir(spark: SparkSession, sf_dir: str, base: str) -> str:
    out = os.path.join(base, "out")
    ev = load_table(spark, sf_dir, "events").select("event_type", "ts")
    mid, _ = _time_midpoint(ev)
    _run_split_landings(
        spark,
        base,
        [
            ev.filter(F.unix_micros("ts") <= mid),
            ev.filter(F.unix_micros("ts") > mid),
        ],
        _anomaly_gate_processor(out, os.path.join(base, "state")),
    )
    return out


def _sag_oracle() -> str:
    hr = "make_timestamp((epoch_us(ts) // 3600000000) * 3600000000)"
    return f"""
    WITH b AS (
      SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi FROM events
    ),
    m AS (SELECT lo + (hi - lo) // 2 AS mid FROM b),
    r1 AS (
      SELECT {hr} AS ws, event_type, CAST(count(*) AS BIGINT) AS x
      FROM events, m WHERE epoch_us(ts) <= m.mid GROUP BY 1, 2
    ),
    st AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(x * x) AS BIGINT) AS sxx
      FROM r1 GROUP BY event_type
    ),
    b2 AS (
      SELECT {hr} AS ws, event_type, CAST(count(*) AS BIGINT) AS x
      FROM events, m WHERE epoch_us(ts) > m.mid GROUP BY 1, 2
    )
    SELECT b2.ws AS window_start, b2.event_type, b2.x AS n_events,
           CAST(coalesce((s.n * b2.x - s.sx) * (s.n * b2.x - s.sx), 0)
                AS BIGINT) AS z_lhs,
           CAST(coalesce({_SAG_K * _SAG_K} * (s.n * s.sxx - s.sx * s.sx), 0)
                AS BIGINT) AS z_rhs,
           coalesce(s.n >= 2
                    AND (s.n * b2.x - s.sx) * (s.n * b2.x - s.sx)
                        > {_SAG_K * _SAG_K} * (s.n * s.sxx - s.sx * s.sx),
                    FALSE) AS anomalous
    FROM b2 LEFT JOIN st s USING (event_type)
    ORDER BY 1, 2
    """


@query("streaming_anomaly_gate", oracle=_sag_oracle())
def streaming_anomaly_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read back landing 2's anomaly verdicts; the oracle restates
    rollup-landing-1 → per-type stats → judge-landing-2's-cells, so
    hash parity proves the maintained rollup state fed the integer
    z-score judgment across the checkpointed restart."""
    out = _sag_out_dir(spark, sf_dir)
    return (
        spark.read.parquet(out)
        .select(
            "window_start",
            "event_type",
            "n_events",
            "z_lhs",
            "z_rhs",
            "anomalous",
        )
        .orderBy("window_start", "event_type")
    )


# --------------------------------------------------------------------------
# streaming_quantile_maintenance — the MERGEABLE QUANTILE SUMMARY at
# ingest, completing the sketch-at-ingest family (HLL registers ✓ r5,
# Bloom ✓ r10, CMS batch-side): each landing's doc lengths fold into
# an integer log2-binned histogram — bin = length(bin(n_chars + 1)),
# so bin b covers [2^(b−1)−1, 2^b−2] — whose counts are ADDITIVE, the
# property that makes histogram merge == from-scratch (the rollup
# maintenance argument applied to a distribution summary; this is the
# t-digest/KLL production role with a deterministic binning the hash
# gate can cover, where those sketches' randomized compactions could
# never pass). State is ≤ ~20 rows, epoch-committed after each
# additive merge with the latest prior state.
#
# The readback turns the maintained histogram into p50/p90/p99 upper
# bounds (first bin whose cumulative count reaches ceil(p·n/100)) and
# audits each against the EXACT percentile (the middle-rank recipe of
# corpus_length_percentiles) — in_bin proves the exact value landed
# inside the chosen bin, i.e. the maintained summary's error is
# bounded by the bin width by construction (a 2× relative bound for
# log2 bins), measured not assumed.
#
# Scale: per landing one map-side-combined ~20-bin aggregate; the
# exact side is the fixture-only audit column, sampled at production.
# --------------------------------------------------------------------------
_SQM_PCTS = (50, 90, 99)


def _quantile_processor(state: str):
    """foreachBatch additive histogram maintainer — module-level for
    the replay test, like the rollup maintainer it mirrors."""

    def _plan(batch_df: DataFrame, epoch_id: int) -> DataFrame:
        spark_l = batch_df.sparkSession
        partials = (
            batch_df.select(
                F.length(F.bin(F.col("n_chars") + 1)).cast("int").alias("bin")
            )
            .groupBy("bin")
            .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        )
        prior = _latest_epoch_rows(
            spark_l, state, ["bin"], before_epoch=epoch_id
        )
        if prior is not None:
            partials = partials.unionByName(prior)
        return partials.groupBy("bin").agg(
            F.sum("cnt").cast("bigint").alias("cnt")
        )

    return _epoch_writer(_plan, state)


@staged("quantile_state_landings")
def _sqm_state_dir(spark: SparkSession, sf_dir: str, base: str) -> str:
    state = os.path.join(base, "state")
    _run_doc_parity_landings(
        spark,
        sf_dir,
        base,
        _quantile_processor(state),
        cols=("doc_id", "n_chars"),
    )
    return state


def _sqm_oracle() -> str:
    rows = []
    for p in _SQM_PCTS:
        rows.append(
            f"""SELECT {p} AS pct,
             (SELECT n FROM tot) AS n_docs,
             (SELECT (CAST(1 AS BIGINT) << bin) - 2 FROM cum
              WHERE cum >= greatest(1, CAST(ceil(
                (SELECT n FROM tot) * {p} / 100.0) AS BIGINT))
              ORDER BY bin LIMIT 1) AS approx_upper,
             (SELECT (CAST(1 AS BIGINT) << (bin - 1)) - 1 FROM cum
              WHERE cum >= greatest(1, CAST(ceil(
                (SELECT n FROM tot) * {p} / 100.0) AS BIGINT))
              ORDER BY bin LIMIT 1) AS approx_lo,
             (SELECT len FROM ranked
              WHERE rk = greatest(1, CAST(ceil(
                (SELECT n FROM tot) * {p} / 100.0) AS BIGINT))) AS exact_val"""
        )
    body = "\n      UNION ALL\n      ".join(rows)
    return f"""
    WITH h AS (
      SELECT CAST(length(bin(n_chars + 1)) AS INT) AS bin,
             CAST(count(*) AS BIGINT) AS cnt
      FROM documents GROUP BY 1
    ),
    cum AS (
      SELECT bin, CAST(sum(cnt) OVER (ORDER BY bin) AS BIGINT) AS cum
      FROM h
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
    ranked AS (
      SELECT CAST(n_chars AS BIGINT) AS len,
             row_number() OVER (ORDER BY n_chars, doc_id) AS rk
      FROM documents
    )
    SELECT CAST(pct AS INT) AS pct, n_docs,
           CAST(approx_upper AS BIGINT) AS approx_upper,
           CAST(approx_lo AS BIGINT) AS approx_lo,
           CAST(exact_val AS BIGINT) AS exact_val,
           exact_val BETWEEN approx_lo AND approx_upper AS in_bin
    FROM ({body})
    ORDER BY pct
    """


@query("streaming_quantile_maintenance", oracle=_sqm_oracle())
def streaming_quantile_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Read back the maintained histogram and serve percentiles from
    it; the oracle computes the identical histogram from the full
    table in one shot, so parity proves additive-merge == from-scratch
    AND pins every served quantile bound + its exact-side audit."""
    from pyspark.sql.window import Window as W

    state = _sqm_state_dir(spark, sf_dir)
    hist = _latest_epoch_rows(spark, state, ["bin"])
    cum = hist.withColumn(
        "cum",
        F.sum("cnt").over(W.orderBy("bin").rowsBetween(
            W.unboundedPreceding, W.currentRow
        )).cast("bigint"),
    ).localCheckpoint(eager=True)  # ≤ ~20 rows: serves every pct row
    docs = load_table(spark, sf_dir, "documents")
    tot = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    from data_ingestion_din_spark.operators.ranking import ranked_prefix

    # range-partitioned two-phase rank (r12: the partition-less window
    # here sorted the whole doc table into one partition)
    ranked = (
        ranked_prefix(docs, ["n_chars", "doc_id"], rk_col="rk")
        .select(F.col("n_chars").cast("bigint").alias("len"), "rk")
        .localCheckpoint(eager=False)
    )
    out = None
    for p in _SQM_PCTS:
        target = F.greatest(
            F.lit(1), F.ceil(F.col("n") * p / 100.0).cast("bigint")
        )
        # first bin whose cumulative reaches the rank — 1-row control
        pick = (
            cum.crossJoin(F.broadcast(tot))
            .filter(F.col("cum") >= target)
            .orderBy("bin")
            .limit(1)
            .select(
                F.lit(p).cast("int").alias("pct"),
                F.col("n").alias("n_docs"),
                F.expr("shiftleft(cast(1 as bigint), bin) - 2")
                .cast("bigint")
                .alias("approx_upper"),
                F.expr("shiftleft(cast(1 as bigint), bin - 1) - 1")
                .cast("bigint")
                .alias("approx_lo"),
                target.alias("rk"),
            )
        )
        row = (
            pick.join(ranked, "rk")
            .select(
                "pct",
                "n_docs",
                "approx_upper",
                "approx_lo",
                F.col("len").alias("exact_val"),
                F.col("len")
                .between(F.col("approx_lo"), F.col("approx_upper"))
                .alias("in_bin"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("pct")


# --------------------------------------------------------------------------
# streaming_cms_maintenance — the Count-Min sketch MAINTAINED at
# ingest, closing the sketch-at-ingest family (HLL registers ✓ r5,
# Bloom ✓ r10, log2-quantile histogram ✓ r10): each landing's token
# occurrences fold into (row, bucket) counter partials against the
# same d=4 × w=256 seeded-hash grid as corpus_cms_heavy_hitters, and
# the maintainer merges them ADDITIVELY with the latest prior-epoch
# grid (counters are sums — the mergeability CMS is built on), epoch-
# committing the full ≤1024-row state. The readback serves the exact
# top-30 tokens' estimates FROM the maintained grid, and the oracle is
# the batch CMS query VERBATIM (oracle_ref) — additive merge makes
# incremental maintenance provably equal to the one-shot sketch, and
# hash parity enforces it across the checkpointed restart, collision
# structure and all.
#
# Scale: per landing one map-side-combined (row, bucket) aggregate of
# the batch; state is d·w rows regardless of corpus size — the point
# of CMS; the probe join broadcasts the grid.
# --------------------------------------------------------------------------


def _cms_processor(state: str):
    """foreachBatch additive CMS-grid maintainer — module-level for
    the replay test, like the rollup/histogram maintainers."""
    from data_ingestion_din_spark.functions.analysis import tokens
    from data_ingestion_din_spark.plans.analytic_ext import _CMS_W

    def _plan(batch_df: DataFrame, epoch_id: int) -> DataFrame:
        spark_l = batch_df.sparkSession
        toks = batch_df.select(F.explode(tokens(F.col("text"))).alias("tok"))
        partials = cms_grid(cms_cells(toks, _CMS_W, "tok"), n=None)
        prior = _latest_epoch_rows(
            spark_l, state, ["r", "bucket"], before_epoch=epoch_id
        )
        if prior is not None:
            partials = partials.unionByName(prior)
        return partials.groupBy("r", "bucket").agg(
            F.sum("counter").cast("bigint").alias("counter")
        )

    return _epoch_writer(_plan, state)


@staged("cms_state_landings")
def _scm_state_dir(spark: SparkSession, sf_dir: str, base: str) -> str:
    state = os.path.join(base, "state")
    _run_doc_parity_landings(spark, sf_dir, base, _cms_processor(state))
    return state


@query("streaming_cms_maintenance", oracle_ref="corpus_cms_heavy_hitters")
def streaming_cms_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Serve the exact top-30 tokens' CMS estimates from the
    incrementally maintained grid; the oracle is the one-shot batch
    sketch verbatim — additive merge == from-scratch, hash-enforced
    across the checkpointed restart."""
    from data_ingestion_din_spark.functions.analysis import tokens
    from data_ingestion_din_spark.plans.analytic_ext import _CMS_TOPK, _CMS_W

    state = _scm_state_dir(spark, sf_dir)
    cms = _latest_epoch_rows(spark, state, ["r", "bucket"])
    docs = load_table(spark, sf_dir, "documents")
    exact = (
        docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    probe = exact.orderBy(F.desc("n"), "tok").limit(_CMS_TOPK)
    est = cms_estimate(cms_cells(probe, _CMS_W, "tok", "n"), cms)
    return est.select(
        "tok", F.col("n").alias("exact_count"), "cms_estimate"
    ).orderBy(F.desc("exact_count"), "tok")


# --------------------------------------------------------------------------
# streaming_mg_maintenance — Misra-Gries MAINTAINED AT INGEST, closing
# the sketch-at-ingest family's last gap (HLL ✓ Bloom ✓ quantile ✓
# CMS ✓ — the deterministic heavy-hitter summary was batch-only). The
# maintenance rule is the stream's own: MG is a streaming algorithm,
# so appending a landing just CONTINUES the counter walk from the
# prior epoch's state (no merge step, no associativity caveat — the
# state after epoch e is bit-identical to the batch walk over the
# concatenated prefix, which is exactly what the oracle computes).
# Four landings (docs 0..99 split doc_id % 4, each walked in
# (doc_id, position) order), state = ≤ k counters epoch-committed;
# the readback emits every epoch's counter state (the maintenance
# trajectory) plus the final state audited against exact counts with
# the n/(k+1) guarantee.
#
# Scale: the carried state is k counters regardless of stream length
# (collected per epoch as bounded control data); each landing is one
# ordered single-partition walk — at production the walker key is the
# shard, exactly as corpus_mg_heavy_hitters distributes it.
# --------------------------------------------------------------------------
_SMG_K = 8
_SMG_DOCS = 100
_SMG_EPOCHS = 4


def _smg_processor(out: str):
    def _plan(batch_df: DataFrame, epoch_id: int) -> DataFrame:
        spark_l = batch_df.sparkSession
        # prior state = the FULL snapshot of the latest prior epoch —
        # NOT a per-word latest-epoch read (_latest_epoch_rows), which
        # would resurrect words the decrement churn already dropped
        mg: dict[str, int] = {}
        snap = _prior_snapshot(spark_l, out, epoch_id)
        if snap is not None:
            mg = {
                r.word: int(r.c)
                for r in snap.filter(F.col("word").isNotNull()).collect()
            }
        rows = (
            batch_df.orderBy("doc_id", "pos")
            .select("w")
            .coalesce(1)
            .collect()
        )
        for r in rows:
            w = r.w
            if w in mg:
                mg[w] += 1
            elif len(mg) < _SMG_K:
                mg[w] = 1
            else:
                for kk in list(mg):
                    mg[kk] -= 1
                    if mg[kk] == 0:
                        del mg[kk]
        # the None sentinel keeps an EMPTY snapshot addressable: an
        # all-churned state must still advance the latest-prior-epoch
        # pointer, or the next epoch resumes from a stale snapshot
        return local_frame(
            spark_l,
            [(w, c, epoch_id) for w, c in mg.items()]
            or [(None, None, epoch_id)],
            "word string, c bigint, epoch_src bigint",
        )

    return _epoch_writer(_plan, out)


@staged("smg_landings")
def _smg_out_dir(spark: SparkSession, sf_dir: str, base: str) -> str:
    from data_ingestion_din_spark.functions.analysis import tokens

    out = os.path.join(base, "out")

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _SMG_DOCS
    )
    stream = docs.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "w")
    )
    _run_split_landings(
        spark,
        base,
        [
            stream.filter(F.col("doc_id") % _SMG_EPOCHS == e)
            for e in range(_SMG_EPOCHS)
        ],
        _smg_processor(out),
    )
    return out


def _smg_oracle() -> str:
    # cumulative boundaries: epoch e's state = the single concatenated
    # walk read at the last row of shard e (shard-major order)
    epoch_states = []
    for e in range(_SMG_EPOCHS):
        epoch_states.append(
            f"""SELECT {e} AS epoch, t.e.w AS word, CAST(t.e.c AS BIGINT) AS c
      FROM (
        SELECT st FROM mgw
        WHERE rn = (SELECT max(rn) FROM numbered WHERE shard <= {e})
      ) w0, unnest(w0.st) t(e)"""
        )
    states = "\n      UNION ALL ".join(epoch_states)
    return f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split(text, ' '), x -> x <> ''))
               AS w,
             generate_subscripts(
               list_filter(string_split(text, ' '), x -> x <> ''), 1)
               AS pos
      FROM documents WHERE doc_id < {_SMG_DOCS}
    ),
    numbered AS MATERIALIZED (
      SELECT doc_id % {_SMG_EPOCHS} AS shard, w,
             row_number() OVER (
               ORDER BY doc_id % {_SMG_EPOCHS}, doc_id, pos) AS rn
      FROM toks
    ),
    mgw AS MATERIALIZED (
      WITH RECURSIVE mg AS (
        SELECT rn, [{{'w': w, 'c': CAST(1 AS BIGINT)}}] AS st
        FROM numbered WHERE rn = 1
        UNION ALL
        SELECT b.rn,
          CASE
            WHEN len(list_filter(mg.st, s -> s.w = b.w)) > 0
              THEN list_transform(mg.st, s -> CASE WHEN s.w = b.w
                     THEN {{'w': s.w, 'c': s.c + 1}} ELSE s END)
            WHEN len(mg.st) < {_SMG_K}
              THEN list_append(mg.st, {{'w': b.w, 'c': CAST(1 AS BIGINT)}})
            ELSE list_filter(
                   list_transform(mg.st, s -> {{'w': s.w, 'c': s.c - 1}}),
                   s -> s.c > 0)
          END
        FROM mg JOIN numbered b ON b.rn = mg.rn + 1
      )
      SELECT rn, st FROM mg
    ),
    states AS (
      {states}
    ),
    exact AS (
      SELECT w, CAST(count(*) AS BIGINT) AS true_cnt FROM toks GROUP BY w
    ),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM toks)
    SELECT CAST(s.epoch AS INT) AS epoch, s.word, s.c,
           CASE WHEN s.epoch = {_SMG_EPOCHS - 1} THEN e.true_cnt END
             AS true_cnt,
           CASE WHEN s.epoch = {_SMG_EPOCHS - 1}
                THEN (e.true_cnt - s.c) <= nn.n // {_SMG_K + 1} END
             AS within_bound
    FROM states s
    JOIN exact e ON e.w = s.word
    CROSS JOIN nn
    ORDER BY epoch, word
    """


@query("streaming_mg_maintenance", oracle=_smg_oracle())
def streaming_mg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read back every epoch's maintained counter state; the final
    epoch's rows carry the exact-count audit. The oracle is the single
    concatenated-stream walk read at each shard boundary — stream
    continuation means maintained state ≡ batch prefix state."""
    out = _smg_out_dir(spark, sf_dir)
    hist = (
        spark.read.option("basePath", out)
        .parquet(out)
        .filter(F.col("word").isNotNull())
    )
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _SMG_DOCS
    )
    from data_ingestion_din_spark.functions.analysis import tokens

    toks = docs.select(
        F.explode(tokens(F.col("text"))).alias("w")
    )
    exact = toks.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("true_cnt")
    )
    n = toks.count()
    last = _SMG_EPOCHS - 1
    return (
        hist.join(exact, hist.word == exact.w)
        .select(
            F.col("epoch").cast("int").alias("epoch"),
            "word",
            F.col("c").cast("bigint").alias("c"),
            F.when(F.col("epoch") == last, F.col("true_cnt"))
            .cast("bigint")
            .alias("true_cnt"),
            F.when(
                F.col("epoch") == last,
                (F.col("true_cnt") - F.col("c")) <= n // (_SMG_K + 1),
            ).alias("within_bound"),
        )
        .orderBy("epoch", "word")
    )


# --------------------------------------------------------------------------
# streaming_theta_index — the SET-ALGEBRA sketch maintained at ingest,
# the production shape behind events_theta_set_ops: each landing
# epoch-commits its own k=32 KMV sketch of the users it saw (epoch 0 =
# even event_ids, epoch 1 = odd — a distributive set definition, so
# per-landing sketches ARE the per-set sketches), and the readback
# MERGES the committed sketches (union = k smallest of both, theta
# intersection below min-θ) into estimates for "active in landing 0 /
# landing 1 / either / both" against exact counts. This is exactly how
# theta sketches are deployed — built per partition/day, merged at
# query time — with the merge arithmetic hash-gated and the landings
# replay-safe (each epoch's sketch is an idempotent overwrite).
#
# Scale: state is k rows per epoch; merge is metadata-sized; the exact
# sides are the fixture-only audit columns.
# --------------------------------------------------------------------------
_STH_K = 32


def _theta_index_processor(out: str):
    from data_ingestion_din_spark.functions.hashing import h64

    def _plan(batch_df: DataFrame, epoch_id: int) -> DataFrame:
        return (
            batch_df.select("user_id")
            .distinct()
            .select(
                h64(
                    F.concat(
                        F.lit("theta:"), F.col("user_id").cast("string")
                    )
                ).alias("h")
            )
            .orderBy("h")
            .limit(_STH_K)  # K-smallest via per-task heaps (r12: was a
            # partition-less row_number window — single-partition sort)
        )

    return _epoch_writer(_plan, out)


@staged("sth_landings")
def _sth_out_dir(spark: SparkSession, sf_dir: str, base: str) -> str:
    out = os.path.join(base, "out")
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    _run_split_landings(
        spark,
        base,
        [ev.filter(F.col("event_id") % 2 == p) for p in (0, 1)],
        _theta_index_processor(out),
    )
    return out


@query(
    "streaming_theta_index",
    oracle=f"""
    WITH seta AS MATERIALIZED (
      SELECT DISTINCT user_id FROM events WHERE event_id % 2 = 0
    ),
    setb AS MATERIALIZED (
      SELECT DISTINCT user_id FROM events WHERE event_id % 2 = 1
    ),
    {_theta_algebra_sql(_STH_K, ("epoch0", "epoch1", "either", "both"))}
    """,
)
def streaming_theta_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge the epoch-committed sketches at read: union = k smallest
    of both epochs' hashes, intersection = common hashes below the
    smaller theta — the per-partition-sketch merge production runs."""
    out = _sth_out_dir(spark, sf_dir)
    hist = spark.read.option("basePath", out).parquet(out)
    sk = {
        e: sorted(
            int(r.h) for r in hist.filter(F.col("epoch") == e).collect()
        )
        for e in (0, 1)
    }
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    seta = ev.filter(F.col("event_id") % 2 == 0).select("user_id").distinct()
    setb = ev.filter(F.col("event_id") % 2 == 1).select("user_id").distinct()
    exact = {
        "epoch0": seta.count(),
        "epoch1": setb.count(),
        "either": seta.unionByName(setb).distinct().count(),
        "both": seta.join(setb, "user_id").count(),
    }
    ta, tb = max(sk[0]), max(sk[1])
    sku = sorted(set(sk[0]) | set(sk[1]))[:_STH_K]
    tu = max(sku)
    common = sum(
        1 for h in set(sk[0]) & set(sk[1]) if h < min(ta, tb)
    )
    rows = _theta_est_rows(
        [
            ("epoch0", exact["epoch0"], ta, _STH_K - 1),
            ("epoch1", exact["epoch1"], tb, _STH_K - 1),
            ("either", exact["either"], tu, _STH_K - 1),
            ("both", exact["both"], min(ta, tb), common),
        ],
        _STH_K,
    )
    return local_frame(
        spark,
        rows,
        "op string, n_exact bigint, k int, theta_ppm bigint,"
        " est_users bigint, err_milli bigint",
    ).orderBy("op")


# --------------------------------------------------------------------------
# streaming_cusum_gate — CUSUM drift detection MAINTAINED AT INGEST,
# completing the dq-at-ingest judge family (profile drift ✓ key skew ✓
# volume spikes ✓ quantiles ✓ CMS ✓ MG ✓ theta ✓ — persistent drift
# was the missing judge; events_cusum_changepoint is its batch twin).
# Landing 1 (all hours before the in-control cutoff) both computes and
# FREEZES the per-type mean μ (the batch query's lesson: a mean that
# includes the drift absorbs it) and walks its own hours from S = 0;
# landing 2 continues each type's walk from the epoch-committed
# (s_up, s_dn) — stream concatenation, so maintained state ≡ the batch
# prefix walk with NO merge-associativity caveat (the Misra-Gries
# disposition, transplanted to a sequential statistic). Every hour's
# (s_up, s_dn, alarms) is hash-gated against the oracle's recursive
# re-walk of the full series — ~3,400 rows of pinned carry arithmetic
# proving the state survived the checkpointed restart bit-for-bit.
#
# Same integer recipe as the batch twin: k = μ//4, h = 5·μ, milli
# units throughout; the fixture's raw series alarms nowhere (measured
# there), so every gated alarm column is exact zeros — the verdicts'
# VALUE here is the carried S trajectory itself.
# --------------------------------------------------------------------------
_SCSM_CUT = "2024-01-16"  # in-control cutoff == the landing split


def _cusum_gate_processor(out: str, state: str):
    """foreachBatch processor over (verdicts, walk-state) dirs —
    module-level for the replay test, like the sibling gates."""

    def _plan(batch_df: DataFrame, epoch_id: int):
        from collections.abc import Iterator

        spark_l = batch_df.sparkSession
        partials = (
            batch_df.groupBy(
                "event_type",
                F.date_trunc("hour", F.col("ts")).alias("hr"),
            )
            .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
            .localCheckpoint(eager=True)
        )
        prior = _latest_epoch_rows(
            spark_l, state, ["event_type"], before_epoch=epoch_id
        )
        if prior is not None:
            prior = _unless_empty(prior.localCheckpoint(eager=True))
        # every landing computes its own per-type mean; it is used as
        # the frozen mu ONLY for types with no prior state (landing 1
        # for everyone, and — the r12 ADVICE fix — a type FIRST
        # appearing in a later landing, which an inner join against
        # prior state used to drop silently, leaving it invisible to
        # the drift judge forever). Disposition: seed unseen types
        # exactly like landing-1 types — freeze mu from their own
        # first landing, start the walk at S = 0.
        mu_cur = partials.groupBy("event_type").agg(
            F.expr("CAST(sum(x) * 1000 DIV count(*) AS BIGINT)")
            .alias("c_mu")
        )
        if prior is None:
            mu = mu_cur.select(
                "event_type",
                F.col("c_mu").alias("mu_milli"),
                F.lit(0).cast("bigint").alias("p_up"),
                F.lit(0).cast("bigint").alias("p_dn"),
            )
        else:
            mu = mu_cur.join(
                prior.select(
                    "event_type",
                    "mu_milli",
                    F.col("s_up").alias("p_up"),
                    F.col("s_dn").alias("p_dn"),
                ),
                "event_type",
                "left",
            ).select(
                "event_type",
                F.coalesce("mu_milli", "c_mu").alias("mu_milli"),
                F.coalesce("p_up", F.lit(0)).cast("bigint").alias("p_up"),
                F.coalesce("p_dn", F.lit(0)).cast("bigint").alias("p_dn"),
            )
        seeded = partials.join(mu, "event_type")  # per-type scalars:
        # hint-free (the state is type-cardinality, bounded — but the
        # family convention keeps every state join plain); mu now
        # covers every type in partials by construction

        def walk(batches: Iterator) -> Iterator:
            import pandas as pd

            st = {"key": None, "up": 0, "dn": 0}
            rows: list[tuple] = []
            cols = [
                "event_type", "hr", "x", "mu_milli", "s_up", "s_dn"
            ]
            for pdf in batches:
                for r in pdf.itertuples(index=False):
                    if r.event_type != st["key"]:
                        st.update(
                            key=r.event_type,
                            up=int(r.p_up),
                            dn=int(r.p_dn),
                        )
                    m = int(r.mu_milli)
                    k = m // 4
                    st["up"] = max(0, st["up"] + int(r.x) * 1000 - m - k)
                    st["dn"] = max(0, st["dn"] + m - k - int(r.x) * 1000)
                    rows.append(
                        (r.event_type, r.hr, int(r.x), m,
                         st["up"], st["dn"])
                    )
                if len(rows) >= 10_000:
                    yield pd.DataFrame(rows, columns=cols)
                    rows = []
            yield pd.DataFrame(rows, columns=cols)

        walked = (
            seeded.repartition("event_type")
            .sortWithinPartitions("event_type", "hr")
            .mapInPandas(
                walk,
                "event_type string, hr timestamp, x bigint,"
                " mu_milli bigint, s_up bigint, s_dn bigint",
            )
            .localCheckpoint(eager=True)  # verdicts + final-state reads
        )
        verdicts = walked.select(
            "event_type",
            "hr",
            "x",
            "s_up",
            "s_dn",
            (F.col("s_up") > 5 * F.col("mu_milli")).alias("alarm_up"),
            (F.col("s_dn") > 5 * F.col("mu_milli")).alias("alarm_dn"),
        )
        from pyspark.sql.window import Window as W

        wlast = W.partitionBy("event_type").orderBy(F.desc("hr"))
        new_state = (
            walked.withColumn("rk", F.row_number().over(wlast))
            .filter(F.col("rk") == 1)
            .select("event_type", "mu_milli", "s_up", "s_dn")
        )
        return {"verdicts": verdicts, "new_state": new_state}

    return _epoch_writer(_plan, {"verdicts": out, "new_state": state})


@staged("cusum_gate_landings")
def _scsm_out_dir(spark: SparkSession, sf_dir: str, base: str) -> str:
    out = os.path.join(base, "out")
    _process = _cusum_gate_processor(out, os.path.join(base, "walkstate"))
    ev = load_table(spark, sf_dir, "events").select("event_type", "ts")
    cut = F.lit(_SCSM_CUT).cast("timestamp")
    _run_split_landings(
        spark,
        base,
        [ev.filter(F.col("ts") < cut), ev.filter(F.col("ts") >= cut)],
        _process,
    )
    return out


def _scsm_oracle() -> str:
    return f"""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hr,
             CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY event_type, date_trunc('hour', ts)
    ),
    numbered AS MATERIALIZED (
      SELECT event_type, hr, x,
             row_number() OVER (PARTITION BY event_type ORDER BY hr)
               AS rn
      FROM hourly
    ),
    mu AS (
      -- frozen pre-cutoff mean; a type with NO pre-cutoff hours (first
      -- appears in landing 2) freezes mu from its own first landing —
      -- here its post-cutoff hours — mirroring the gate's seeding of
      -- prior-state-less types (r12 ADVICE fix; previously both sides
      -- dropped such types)
      SELECT event_type,
             CAST(coalesce(
               sum(x) FILTER (WHERE hr < TIMESTAMP '{_SCSM_CUT}') * 1000
                 // nullif(count(*) FILTER (
                      WHERE hr < TIMESTAMP '{_SCSM_CUT}'), 0),
               sum(x) * 1000 // count(*)) AS BIGINT) AS mu_milli
      FROM hourly
      GROUP BY event_type
    ),
    walk AS (
      WITH RECURSIVE w AS (
        SELECT n.event_type, n.hr, n.x, n.rn, m.mu_milli,
               greatest(CAST(0 AS BIGINT),
                 n.x * 1000 - m.mu_milli - m.mu_milli // 4) AS s_up,
               greatest(CAST(0 AS BIGINT),
                 m.mu_milli - m.mu_milli // 4 - n.x * 1000) AS s_dn
        FROM numbered n JOIN mu m ON m.event_type = n.event_type
        WHERE n.rn = 1
        UNION ALL
        SELECT b.event_type, b.hr, b.x, b.rn, w.mu_milli,
               greatest(CAST(0 AS BIGINT),
                 w.s_up + b.x * 1000 - w.mu_milli - w.mu_milli // 4),
               greatest(CAST(0 AS BIGINT),
                 w.s_dn + w.mu_milli - w.mu_milli // 4 - b.x * 1000)
        FROM w JOIN numbered b
          ON b.event_type = w.event_type AND b.rn = w.rn + 1
      )
      SELECT * FROM w
    )
    SELECT event_type, hr, x, s_up, s_dn,
           s_up > 5 * mu_milli AS alarm_up,
           s_dn > 5 * mu_milli AS alarm_dn
    FROM walk
    ORDER BY event_type, hr
    """


@query("streaming_cusum_gate", oracle=_scsm_oracle())
def streaming_cusum_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read back both landings' per-hour CUSUM verdicts; the oracle
    re-walks the FULL series with the frozen pre-cutoff mean, so hash
    parity proves the carried (s_up, s_dn) state crossed the
    checkpointed restart bit-for-bit (stream concatenation == batch
    prefix — the Misra-Gries contract for sequential statistics)."""
    out = _scsm_out_dir(spark, sf_dir)
    return (
        spark.read.parquet(out)
        .select("event_type", "hr", "x", "s_up", "s_dn",
                "alarm_up", "alarm_dn")
        .orderBy("event_type", "hr")
    )
