"""Event-analytics extensions: the sketch operating grids (HLL
register sweep, theta set algebra), CDC MERGE, dynamic-gap sessions,
windowed funnel, storage-layout pruning audits (z-order / Hilbert),
SCD2 temporal join, Lorenz/Gini concentration, Markov transitions and
the session-gap grid — split family-line from plans/events.py (r12
module-size hygiene; the core window/rollup family and the shared HLL
register count stay there).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from data_ingestion_din_spark.functions.sketches import (
    hll_bucket,
    hll_num,
    hll_rank,
    hll_scaled_sum,
    hll_top,
)
from data_ingestion_din_spark.plans._exact import dec_to_double, dec_to_double_sql
from data_ingestion_din_spark.plans.events import _HLL_M
from data_ingestion_din_spark.plans.registry import query
from data_ingestion_din_spark.sources.tables import load_table, local_frame

# events_hll_precision_grid — the REGISTER-COUNT operating surface for
# the portable HLL above: m is the sketch's one knob (memory = m
# registers vs accuracy ~1.04/√m), and the RAW estimator (no
# LinearCounting — libm-ln exclusion, documented in functions/sketches)
# degrades exactly where n/m falls below ~2.5. One hash-gated row per
# m ∈ {16, 64, 256} over the corpus-wide distinct user_id: registers
# used, the exact scaled harmonic sum, the estimate, and the SIGNED
# per-mille error — so the table shows both the √m accuracy gain and
# the small-range blow-up that motivates HLL++'s bias correction
# (at sf0.01 n=150: m=256 puts n/m at 0.6, deep in the regime raw HLL
# overestimates; the error column is the measured case for the
# correction, not a prose claim). Same integer-register recipe as
# events_hll_distinct (functions/sketches.py), one row per m.
#
# Scale: one distinct-hash pass feeds all three sketches (bucket/rank
# are per-m projections of the same h); register state is m rows per
# sketch regardless of cardinality.
# --------------------------------------------------------------------------
_HLL_GRID = (16, 64, 256)


def _hll_grid_oracle() -> str:
    rows = []
    for m in _HLL_GRID:
        top = hll_top(m)
        num = hll_num(m)
        rows.append(
            f"""SELECT {m} AS m,
           (SELECT CAST(count(*) AS BIGINT) FROM (
              SELECT h % {m} AS bucket FROM uh GROUP BY 1)) AS n_buckets,
           (SELECT sum(CAST(1 AS BIGINT) << (32 - least(r, 32)))
                   + ({m} - count(*)) * 4294967296
            FROM (SELECT h % {m} AS bucket,
                         max(CASE WHEN h // {m} = 0 THEN {top}
                              ELSE {top} - length(bin(h // {m})) END) AS r
                  FROM uh GROUP BY 1)) AS s_scaled,
           {num!r} AS est_num"""
        )
    body = "\n      UNION ALL\n      ".join(rows)
    return f"""
    WITH uh AS (
      SELECT DISTINCT
             CAST(('0x' || substr(md5('hll:' || CAST(user_id AS VARCHAR)), 1, 15))
                  AS BIGINT) AS h
      FROM events
    ),
    ex AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM uh)
    SELECT CAST(m AS INT) AS m,
           ex.n_exact,
           CAST(n_buckets AS BIGINT) AS n_buckets,
           CAST(s_scaled AS BIGINT) AS s_scaled,
           round(est_num / CAST(s_scaled AS DOUBLE), 4) AS hll_estimate,
           round((est_num / CAST(s_scaled AS DOUBLE) - ex.n_exact)
                 * 1000.0 / ex.n_exact, 2) AS err_permille
    FROM ({body}) CROSS JOIN ex
    ORDER BY m
    """


@query("events_hll_precision_grid", oracle=_hll_grid_oracle())
def events_hll_precision_grid(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from data_ingestion_din_spark.functions.hashing import h64

    ev = load_table(spark, sf_dir, "events")
    uh = (
        ev.select(
            h64(
                F.concat(F.lit("hll:"), F.col("user_id").cast("string"))
            ).alias("h")
        )
        .distinct()
        .localCheckpoint(eager=False)  # one hash pass feeds all three m
    )
    ex = uh.agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))
    grid = None
    for m in _HLL_GRID:
        br = uh.select(
            hll_bucket(m).alias("bucket"), hll_rank(m).alias("rnk")
        )
        reg = br.groupBy("bucket").agg(F.max("rnk").alias("r"))
        s = reg.agg(
            F.lit(m).cast("int").alias("m"),
            F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
            hll_scaled_sum(m).alias("s_scaled"),
            F.lit(hll_num(m)).alias("est_num"),
        )
        grid = s if grid is None else grid.unionByName(s)
    return (
        grid.crossJoin(ex)  # 1-row scalar attach
        .select(
            "m",
            "n_exact",
            "n_buckets",
            "s_scaled",
            F.round(
                F.col("est_num") / F.col("s_scaled").cast("double"), 4
            ).alias("hll_estimate"),
            F.round(
                (
                    F.col("est_num") / F.col("s_scaled").cast("double")
                    - F.col("n_exact")
                )
                * 1000.0
                / F.col("n_exact"),
                2,
            ).alias("err_permille"),
        )
        .orderBy("m")
    )


# --------------------------------------------------------------------------
# events_dynamic_gap_sessions — session windows with a PER-ROW gap
# (Spark 3.2's dynamic session_window(ts, gap_expr) — the API surface
# the fixed-gap sessionizers don't touch): an error event holds a
# session open for only 10 minutes, a click for 30, anything else 20 —
# the "different activity types time out differently" rule real
# sessionization uses. The native operator is gated against the
# first-principles oracle: a row MERGES into the running session iff
# its timestamp is <= the running max of (ts + gap) over preceding rows
# (equality merges — probed: per-row windows [ts, ts+gap) that TOUCH
# are one session), and the session end is max(ts + gap), not
# last-ts + last-gap. Both facts pinned empirically before writing the
# oracle (probe: rows at 0s/90s/140s with 100/50/100s gaps form ONE
# session ending at 240 — the 140s row sits exactly on the running end
# and still merges).
#
# Scale: the native form is one user_id shuffle with state merging in
# the agg; the oracle's lag/running-max form is the same shuffle plus
# a window sort — identical distribution story to events_sessionized.
# --------------------------------------------------------------------------
_DYN_GAPS = {"error": 600, "click": 1800}
_DYN_DEFAULT = 1200


@query(
    "events_dynamic_gap_sessions",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             CAST(CASE event_type
                    WHEN 'error' THEN {_DYN_GAPS['error']}
                    WHEN 'click' THEN {_DYN_GAPS['click']}
                    ELSE {_DYN_DEFAULT} END AS BIGINT) * 1000000 AS gap_us,
             CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_err
      FROM events
    ),
    flg AS (
      SELECT *,
             CASE WHEN us > coalesce(max(us + gap_us) OVER (
                    PARTITION BY user_id ORDER BY us, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    -1)
                  THEN 1 ELSE 0 END AS new_session
      FROM e
    ),
    grp AS (
      SELECT *, sum(new_session) OVER (
               PARTITION BY user_id ORDER BY us, event_id
               ROWS UNBOUNDED PRECEDING) AS session_no
      FROM flg
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(min(us) AS BIGINT) AS session_start_us,
           CAST(max(us + gap_us) AS BIGINT) AS session_end_us,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(is_err) AS BIGINT) AS n_errors
    FROM grp GROUP BY user_id, session_no
    ORDER BY user_id, session_start_us
    """,
)
def events_dynamic_gap_sessions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    gap = (
        F.when(
            F.col("event_type") == "error",
            F.lit(f"{_DYN_GAPS['error']} seconds"),
        )
        .when(
            F.col("event_type") == "click",
            F.lit(f"{_DYN_GAPS['click']} seconds"),
        )
        .otherwise(F.lit(f"{_DYN_DEFAULT} seconds"))
    )
    return (
        ev.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum((F.col("event_type") == "error").cast("int"))
            .cast("bigint")
            .alias("n_errors"),
        )
        .select(
            F.col("user_id").cast("bigint").alias("user_id"),
            F.unix_micros("w.start").alias("session_start_us"),
            F.unix_micros("w.end").alias("session_end_us"),
            "n_events",
            "n_errors",
        )
        .orderBy("user_id", "session_start_us")
    )


# --------------------------------------------------------------------------
# events_cdc_merge — MERGE INTO with tombstones, the change-data-capture
# apply step events_latest_snapshot only gestures at (latest-per-key is
# upsert compaction; real CDC also DELETES). Base = the latest-per-key
# snapshot of events with event_id < 2000; the CDC batch = the remaining
# rows THINNED to every third event_id (so some base keys see no batch
# row at all — the MERGE's untouched-key path), each carrying an op
# derived deterministically from its payload (props.k % 5 = 0 → 'D'
# tombstone, else 'U' upsert — ~20% deletes).
# Delta/Iceberg MERGE requires the source deduplicated on the key, so
# the batch first compacts to its last op per (user_id, event_type)
# (ts, event_id order — the same tie rule as the snapshot); then:
#   WHEN MATCHED     AND op='D'  → DELETE  (emitted as an audit row)
#   WHEN MATCHED     AND op='U'  → UPDATE
#   WHEN NOT MATCHED AND op='U'  → INSERT
#   WHEN NOT MATCHED AND op='D'  → no-op   (delete of absent key)
# Output is the merged snapshot plus the audit `action` column
# (kept/updated/inserted and the tombstoned keys as action='deleted'
# with NULL payload — the MERGE metrics row a lakehouse writer logs).
#
# Scale: one shuffle each to compact base and batch on the MERGE key,
# then a single full-outer equi-join on that key — the exact shape
# Delta's MERGE executes (no broadcast: both sides are data-sized; the
# join key is the partition key the downstream table is bucketed on).
# --------------------------------------------------------------------------
_CDC_SPLIT = 2000  # event_id below → base snapshot, above → CDC batch
# (2000 plus the %3 batch thinning leaves, at sf0.01, ~16 base keys
# untouched and ~46 batch keys unseen in the base, so every MERGE
# branch — kept/inserted/updated/deleted/no-op-delete — actually fires)


@query(
    "events_cdc_merge",
    oracle=f"""
    WITH base AS (
      SELECT user_id, event_type, event_id, ts, value FROM (
        SELECT *, row_number() OVER (
          PARTITION BY user_id, event_type
          ORDER BY ts DESC, event_id DESC) AS rk
        FROM events WHERE event_id < {_CDC_SPLIT}
      ) WHERE rk = 1
    ),
    batch AS (
      SELECT user_id, event_type, event_id, ts, value,
             CASE WHEN CAST(regexp_extract(props, '\\d+') AS BIGINT)
                       % 5 = 0
                  THEN 'D' ELSE 'U' END AS op
      FROM events WHERE event_id >= {_CDC_SPLIT} AND event_id % 3 = 0
    ),
    src AS (
      SELECT user_id, event_type, event_id, ts, value, op FROM (
        SELECT *, row_number() OVER (
          PARTITION BY user_id, event_type
          ORDER BY ts DESC, event_id DESC) AS rk
        FROM batch
      ) WHERE rk = 1
    ),
    merged AS (
      SELECT
        coalesce(b.user_id, s.user_id) AS user_id,
        coalesce(b.event_type, s.event_type) AS event_type,
        CASE WHEN s.op = 'D' THEN NULL
             WHEN s.op = 'U' THEN s.event_id
             ELSE b.event_id END AS event_id,
        CASE WHEN s.op = 'D' THEN NULL
             WHEN s.op = 'U' THEN epoch_us(s.ts)
             ELSE epoch_us(b.ts) END AS ts_us,
        CASE WHEN s.op = 'D' THEN NULL
             WHEN s.op = 'U' THEN s.value
             ELSE b.value END AS value,
        CASE
          WHEN s.op IS NULL THEN 'kept'
          WHEN s.op = 'D' AND b.user_id IS NOT NULL THEN 'deleted'
          WHEN s.op = 'D' THEN NULL
          WHEN b.user_id IS NULL THEN 'inserted'
          ELSE 'updated' END AS action
      FROM base b
      FULL OUTER JOIN src s
        ON s.user_id = b.user_id AND s.event_type = b.event_type
    )
    SELECT CAST(user_id AS BIGINT) AS user_id, event_type,
           CAST(event_id AS BIGINT) AS event_id,
           CAST(ts_us AS BIGINT) AS ts_us, value, action
    FROM merged WHERE action IS NOT NULL
    ORDER BY user_id, event_type
    """,
)
def events_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    wkey = W.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    base = (
        ev.filter(F.col("event_id") < _CDC_SPLIT)
        .withColumn("rk", F.row_number().over(wkey))
        .filter(F.col("rk") == 1)
        .select("user_id", "event_type", "event_id", "ts", "value")
    )
    src = (
        ev.filter(
            (F.col("event_id") >= _CDC_SPLIT)
            & (F.col("event_id") % 3 == 0)
        )
        .withColumn(
            "op",
            F.when(
                F.regexp_extract("props", r"\d+", 0).cast("bigint") % 5
                == 0,
                F.lit("D"),
            ).otherwise(F.lit("U")),
        )
        .withColumn("rk", F.row_number().over(wkey))
        .filter(F.col("rk") == 1)
        .select("user_id", "event_type", "event_id", "ts", "value", "op")
    )
    b, s = base.alias("b"), src.alias("s")
    j = b.join(
        s,
        (F.col("s.user_id") == F.col("b.user_id"))
        & (F.col("s.event_type") == F.col("b.event_type")),
        "full_outer",
    )
    is_del = F.col("s.op") == "D"
    is_up = F.col("s.op") == "U"
    action = (
        F.when(F.col("s.op").isNull(), F.lit("kept"))
        .when(is_del & F.col("b.user_id").isNotNull(), F.lit("deleted"))
        .when(is_del, F.lit(None).cast("string"))
        .when(F.col("b.user_id").isNull(), F.lit("inserted"))
        .otherwise(F.lit("updated"))
    )
    return (
        j.select(
            F.coalesce(F.col("b.user_id"), F.col("s.user_id"))
            .cast("bigint")
            .alias("user_id"),
            F.coalesce(F.col("b.event_type"), F.col("s.event_type")).alias(
                "event_type"
            ),
            F.when(is_del, F.lit(None).cast("bigint"))
            .when(is_up, F.col("s.event_id"))
            .otherwise(F.col("b.event_id"))
            .cast("bigint")
            .alias("event_id"),
            F.when(is_del, F.lit(None).cast("bigint"))
            .when(is_up, F.unix_micros(F.col("s.ts")))
            .otherwise(F.unix_micros(F.col("b.ts")))
            .alias("ts_us"),
            F.when(is_del, F.lit(None).cast("double"))
            .when(is_up, F.col("s.value"))
            .otherwise(F.col("b.value"))
            .alias("value"),
            action.alias("action"),
        )
        .filter(F.col("action").isNotNull())
        .orderBy("user_id", "event_type")
    )


# --------------------------------------------------------------------------
# events_funnel_windowed — the funnel above with a CONVERSION WINDOW,
# the knob every product-analytics funnel exposes (Amplitude/Mixpanel
# semantics): each stage must fire within T of the previous stage's
# first qualifying event, swept over T ∈ {600 s, 3600 s, ∞} so the
# window's bite is measured rather than assumed (∞ must reproduce
# events_funnel's numbers — the cross-query consistency row). Stage
# times stay "first qualifying event" (min ts after the previous
# stage, then the window test applied to that winner — the standard
# first-touch reading, not "first event inside the window").
#
# Measured (sf0.01): ∞ reproduces events_funnel verbatim (150/150/150
# — every user converts eventually on this fixture); T=3600 s keeps 3
# first-touch clicks and no purchases, T=600 s none (user event gaps
# are hours+ here) — the window knob flips this funnel from 1000‰ to
# 0‰, which is exactly why windowed and unwindowed funnels are
# different products.
#
# Scale: same single user_id shuffle as events_funnel — the window
# predicates are column comparisons inside the same three Window
# passes, once per swept T (the per-T passes share the one exchange).
# --------------------------------------------------------------------------
_FUNNEL_WINDOWS_S = (600, 3600, 0)  # 0 = unwindowed sentinel


@query(
    "events_funnel_windowed",
    oracle="""
    WITH t AS (
      SELECT * FROM (VALUES (600), (3600), (0)) w(win_s)
    ),
    v AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY 1
    ),
    c AS (
      SELECT t.win_s, e.user_id, min(e.ts) AS t2
      FROM events e JOIN v ON e.user_id = v.user_id CROSS JOIN t
      WHERE e.event_type = 'click' AND e.ts > v.t1
      GROUP BY 1, 2
      HAVING win_s = 0 OR epoch_us(min(e.ts)) - epoch_us(any_value(v.t1))
                          <= CAST(win_s AS BIGINT) * 1000000
    ),
    p AS (
      SELECT c.win_s, e.user_id, min(e.ts) AS t3
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t2
      GROUP BY 1, 2
      HAVING c.win_s = 0 OR epoch_us(min(e.ts)) - epoch_us(any_value(c.t2))
                            <= CAST(c.win_s AS BIGINT) * 1000000
    )
    SELECT CAST(t.win_s AS INT) AS win_s,
           (SELECT CAST(count(*) AS BIGINT) FROM v) AS n_view,
           CAST(coalesce(cc.n, 0) AS BIGINT) AS n_view_click,
           CAST(coalesce(pp.n, 0) AS BIGINT) AS n_full_funnel,
           CAST(coalesce(cc.n, 0) * 1000
                // (SELECT count(*) FROM v) AS BIGINT) AS click_milli,
           CAST(coalesce(pp.n, 0) * 1000
                // greatest(coalesce(cc.n, 0), 1) AS BIGINT)
             AS purchase_milli
    FROM t
    LEFT JOIN (SELECT win_s, count(*) AS n FROM c GROUP BY 1) cc
      ON cc.win_s = t.win_s
    LEFT JOIN (SELECT win_s, count(*) AS n FROM p GROUP BY 1) pp
      ON pp.win_s = t.win_s
    ORDER BY win_s
    """,
)
def events_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )
    w = W.partitionBy("user_id")
    is_ = lambda t: F.col("event_type") == t  # noqa: E731
    staged = ev.withColumn(
        "t1", F.min(F.when(is_("view"), F.col("ts"))).over(w)
    )
    out = None
    n_view = staged.select(
        F.countDistinct(
            F.when(F.col("t1").isNotNull(), F.col("user_id"))
        ).cast("bigint").alias("n_view")
    )
    for win_s in _FUNNEL_WINDOWS_S:
        def in_win(later, earlier):
            if win_s == 0:
                return F.lit(True)
            return (
                F.unix_micros(later) - F.unix_micros(earlier)
                <= win_s * 1_000_000
            )

        s2 = staged.withColumn(
            "t2",
            F.min(
                F.when(
                    is_("click") & (F.col("ts") > F.col("t1")),
                    F.col("ts"),
                )
            ).over(w),
        ).withColumn(
            "t2", F.when(in_win(F.col("t2"), F.col("t1")), F.col("t2"))
        )
        s3 = s2.withColumn(
            "t3",
            F.min(
                F.when(
                    is_("purchase") & (F.col("ts") > F.col("t2")),
                    F.col("ts"),
                )
            ).over(w),
        ).withColumn(
            "t3", F.when(in_win(F.col("t3"), F.col("t2")), F.col("t3"))
        )
        counts = s3.agg(
            F.countDistinct(
                F.when(F.col("t2").isNotNull(), F.col("user_id"))
            ).cast("bigint").alias("n_view_click"),
            F.countDistinct(
                F.when(F.col("t3").isNotNull(), F.col("user_id"))
            ).cast("bigint").alias("n_full_funnel"),
        )
        row = (
            counts.crossJoin(n_view)
            .select(
                F.lit(win_s).cast("int").alias("win_s"),
                "n_view",
                "n_view_click",
                "n_full_funnel",
                F.expr("n_view_click * 1000 DIV n_view")
                .cast("bigint")
                .alias("click_milli"),
                F.expr(
                    "n_full_funnel * 1000 DIV greatest(n_view_click, 1)"
                )
                .cast("bigint")
                .alias("purchase_milli"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("win_s")


# --------------------------------------------------------------------------
# layout_zorder_pruning — the 2-D zone-map comparison as an ORACLE-
# CHECKED relation (events_zorder_box exercises the z-ordered layout
# and tests/test_colocate.py reads real parquet footers; this makes
# the pruning arithmetic itself hash-gated): events bucketed to 8-bit
# (user, time) coordinates, laid out in fixed 256-row bins under three
# orderings — time-sorted, user-sorted, and Morton (bit-interleaved
# z-order) — and probed with three box predicates (narrow-u × wide-t,
# wide-u × narrow-t, narrow × narrow). A bin is touched iff its
# per-bin [min,max] box overlaps the predicate box on BOTH dims. One
# row per (ordering, box): bins touched, rows scanned vs matching,
# amplification.
#
# Measured (sf0.01, 40 bins): each single-column sort reads 4/40 bins
# on its own orientation and 39/40 on the transpose (amplification
# 1235‰ vs 12637‰); z-order reads 9 and 12 — it does not beat a sort
# at its own game, it BOUNDS THE WORST CASE (≤12/40 everywhere, incl.
# 8/40 on the small box) — which is the actual operational claim for
# interleaved layout when query boxes come in both orientations.
#
# Scale: bins are pure window arithmetic (rank DIV 256) — the audit is
# metadata-sized; the Morton code is a 16-term integer expression.
# --------------------------------------------------------------------------
_ZP_BIN_ROWS = 256
_ZP_BOXES = [
    ("narrow_u", 100, 120, 0, 255),
    ("narrow_t", 0, 255, 100, 120),
    ("small", 100, 140, 100, 140),
]


def _zp_audit_tail_sql() -> str:
    """zones → boxes → match → final-projection oracle tail shared by
    layout_zorder_pruning and layout_hilbert_vs_zorder (expects a
    ``laid`` CTE of (ordering, ub, tb, bin) and a ``pts`` CTE)."""
    return f"""zones AS (
      SELECT ordering, bin,
             min(ub) AS u_mn, max(ub) AS u_mx,
             min(tb) AS t_mn, max(tb) AS t_mx,
             count(*) AS n_rows
      FROM laid GROUP BY ordering, bin
    ),
    boxes AS (
      SELECT * FROM (VALUES
        {", ".join(f"('{nm}', {ul}, {uh}, {tl}, {th})" for nm, ul, uh, tl, th in _ZP_BOXES)}
      ) b(box, u_lo, u_hi, t_lo, t_hi)
    ),
    match AS (
      SELECT b.box, CAST(count(*) AS BIGINT) AS rows_matching
      FROM pts p JOIN boxes b
        ON p.ub BETWEEN b.u_lo AND b.u_hi
       AND p.tb BETWEEN b.t_lo AND b.t_hi
      GROUP BY b.box
    )
    SELECT z.ordering, b.box AS box,
           CAST(count(*) AS BIGINT) AS n_bins,
           CAST(sum(CASE WHEN z.u_mx >= b.u_lo AND z.u_mn <= b.u_hi
                          AND z.t_mx >= b.t_lo AND z.t_mn <= b.t_hi
                     THEN 1 ELSE 0 END) AS BIGINT) AS bins_touched,
           any_value(m.rows_matching) AS rows_matching,
           CAST(sum(CASE WHEN z.u_mx >= b.u_lo AND z.u_mn <= b.u_hi
                          AND z.t_mx >= b.t_lo AND z.t_mn <= b.t_hi
                     THEN z.n_rows ELSE 0 END) AS BIGINT) AS rows_scanned,
           CAST(sum(CASE WHEN z.u_mx >= b.u_lo AND z.u_mn <= b.u_hi
                          AND z.t_mx >= b.t_lo AND z.t_mn <= b.t_hi
                     THEN z.n_rows ELSE 0 END) * 1000
                // greatest(any_value(m.rows_matching), 1) AS BIGINT)
             AS amplification_milli
    FROM zones z
    CROSS JOIN boxes b
    JOIN match m ON m.box = b.box
    GROUP BY z.ordering, b.box
    ORDER BY 1, 2"""


def _zp_pts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_id, ub, tb) 8-bit bucket coordinates for the layout
    audits."""
    ev = load_table(spark, sf_dir, "events")
    st = ev.agg(
        F.min("user_id").alias("lo_u"),
        F.max("user_id").alias("hi_u"),
        F.min(F.unix_micros("ts")).alias("lo_t"),
        F.max(F.unix_micros("ts")).alias("hi_t"),
    )
    return (
        ev.crossJoin(F.broadcast(st))
        .select(
            "event_id",
            F.expr("(user_id - lo_u) * 256 DIV (hi_u - lo_u + 1)")
            .cast("bigint")
            .alias("ub"),
            F.expr(
                "(unix_micros(ts) - lo_t) * 256 DIV (hi_t - lo_t + 1)"
            )
            .cast("bigint")
            .alias("tb"),
        )
        .localCheckpoint(eager=False)
    )


def _zp_box_grid(pts: DataFrame, laid: DataFrame) -> DataFrame:
    """zones aggregate + per-box touched/scanned/amplification rows —
    the engine-side twin of :func:`_zp_audit_tail_sql`."""
    zones = laid.groupBy("ordering", "bin").agg(
        F.min("ub").alias("u_mn"),
        F.max("ub").alias("u_mx"),
        F.min("tb").alias("t_mn"),
        F.max("tb").alias("t_mx"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
    )
    # one pass, no driver round-trips (the oracle's own zones × boxes
    # shape): the 3-row box table broadcasts into both the match count
    # and the zones rollup, replacing three serial pts.count() jobs and
    # three duplicate aggregate subtrees over zones with one groupBy
    boxes = local_frame(
        pts.sparkSession,
        list(_ZP_BOXES),
        "box string, u_lo bigint, u_hi bigint, t_lo bigint, t_hi bigint",
    )
    match = (
        pts.crossJoin(F.broadcast(boxes))
        .filter(
            F.col("ub").between(F.col("u_lo"), F.col("u_hi"))
            & F.col("tb").between(F.col("t_lo"), F.col("t_hi"))
        )
        .groupBy("box")
        .agg(F.count(F.lit(1)).cast("bigint").alias("rows_matching"))
    )
    touched = (
        (F.col("u_mx") >= F.col("u_lo"))
        & (F.col("u_mn") <= F.col("u_hi"))
        & (F.col("t_mx") >= F.col("t_lo"))
        & (F.col("t_mn") <= F.col("t_hi"))
    )
    return (
        zones.crossJoin(F.broadcast(boxes))
        .groupBy("ordering", "box")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bins"),
            F.sum(touched.cast("int")).cast("bigint").alias("bins_touched"),
            F.sum(F.when(touched, F.col("n_rows")).otherwise(0))
            .cast("bigint")
            .alias("rows_scanned"),
        )
        .join(F.broadcast(match), "box")
        .select(
            "ordering",
            "box",
            "n_bins",
            "bins_touched",
            "rows_matching",
            "rows_scanned",
            F.expr("rows_scanned * 1000 DIV greatest(rows_matching, 1)")
            .cast("bigint")
            .alias("amplification_milli"),
        )
        .orderBy("ordering", "box")
    )


def _zp_morton_sql(u: str, t: str) -> str:
    terms = []
    for b in range(8):
        terms.append(f"((({u} >> {b}) & 1) << {2 * b})")
        terms.append(f"((({t} >> {b}) & 1) << {2 * b + 1})")
    return " + ".join(terms)


@query(
    "layout_zorder_pruning",
    oracle=f"""
    WITH st AS (
      SELECT min(user_id) AS lo_u, max(user_id) AS hi_u,
             min(epoch_us(ts)) AS lo_t, max(epoch_us(ts)) AS hi_t
      FROM events
    ),
    pts AS MATERIALIZED (
      SELECT event_id,
             CAST((user_id - lo_u) * 256 // (hi_u - lo_u + 1) AS BIGINT)
               AS ub,
             CAST((epoch_us(ts) - lo_t) * 256 // (hi_t - lo_t + 1)
                  AS BIGINT) AS tb
      FROM events, st
    ),
    laid AS MATERIALIZED (
      SELECT 'tsort' AS ordering, ub, tb,
             (row_number() OVER (ORDER BY tb, ub, event_id) - 1)
               // {_ZP_BIN_ROWS} AS bin
      FROM pts
      UNION ALL
      SELECT 'usort', ub, tb,
             (row_number() OVER (ORDER BY ub, tb, event_id) - 1)
               // {_ZP_BIN_ROWS}
      FROM pts
      UNION ALL
      SELECT 'zorder', ub, tb,
             (row_number() OVER (
                ORDER BY {_zp_morton_sql('ub', 'tb')}, event_id) - 1)
               // {_ZP_BIN_ROWS}
      FROM pts
    ),
    {_zp_audit_tail_sql()}
    """,
)
def layout_zorder_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _zp_pts(spark, sf_dir)
    laid = None
    for ordering, order in (
        ("tsort", "tb, ub, event_id"),
        ("usort", "ub, tb, event_id"),
        ("zorder", f"{_zp_morton_sql('ub', 'tb')}, event_id"),
    ):
        arm = pts.select(
            F.lit(ordering).alias("ordering"),
            "ub",
            "tb",
            F.expr(
                f"(row_number() OVER (ORDER BY {order}) - 1)"
                f" DIV {_ZP_BIN_ROWS}"
            )
            .cast("bigint")
            .alias("bin"),
        )
        laid = arm if laid is None else laid.unionByName(arm)
    return _zp_box_grid(pts, laid)


# --------------------------------------------------------------------------
# layout_hilbert_vs_zorder — the space-filling-curve A/B completing the
# layout family: Morton interleaving (above) is cheap but crosses
# quadrant boundaries with long jumps; the Hilbert curve pays 8 chained
# integer steps per point to stay locality-continuous. Same 256-row
# bins, same three boxes, orderings {zorder, hilbert}; the Hilbert
# index is the classical xy2d transform unrolled as an 8-step
# (x, y, d) column chain — pure CASE/AND arithmetic, byte-identical in
# both engines (the quadrant-xor is expressed as a CASE so no
# engine-specific xor form leaks in), and pinned against reference
# values in tests/test_operators.py.
#
# Measured (sf0.01, 40 bins): Hilbert touches fewer bins than Morton
# on EVERY box — 8 vs 9 (narrow_t), 8 vs 12 (narrow_u), 5 vs 8
# (small) — the continuity claim as numbers: Morton's quadrant jumps
# smear bins across both dimensions, Hilbert's single-step adjacency
# keeps each bin's bounding box tight. Combined with the grid above:
# sorts win one orientation, Morton bounds the worst case, Hilbert
# tightens that bound further for ~8 integer steps per row at write
# time.
# --------------------------------------------------------------------------
def _hb_step_sql(s: int) -> tuple[str, str, str]:
    rx = f"(CASE WHEN (hx & {s}) > 0 THEN 1 ELSE 0 END)"
    ry = f"(CASE WHEN (hy & {s}) > 0 THEN 1 ELSE 0 END)"
    dinc = (
        f"{s * s} * (CASE WHEN {rx} = 0 AND {ry} = 0 THEN 0 "
        f"WHEN {rx} = 0 THEN 1 WHEN {ry} = 0 THEN 3 ELSE 2 END)"
    )
    x_new = (
        f"CASE WHEN {ry} = 0 THEN (CASE WHEN {rx} = 1 "
        f"THEN {s} - 1 - hy ELSE hy END) ELSE hx END"
    )
    y_new = (
        f"CASE WHEN {ry} = 0 THEN (CASE WHEN {rx} = 1 "
        f"THEN {s} - 1 - hx ELSE hx END) ELSE hy END"
    )
    return x_new, y_new, f"hd + {dinc}"


_HB_STEPS = [128, 64, 32, 16, 8, 4, 2, 1]


def _hb_chain_sql(src: str) -> str:
    """CTE chain hb0..hb8 computing the Hilbert index hd of (ub, tb)."""
    ctes = [
        f"""hb0 AS (
      SELECT event_id, ub, tb, ub AS hx, tb AS hy,
             CAST(0 AS BIGINT) AS hd
      FROM {src}
    )"""
    ]
    for i, s in enumerate(_HB_STEPS, start=1):
        x_new, y_new, d_new = _hb_step_sql(s)
        ctes.append(
            f"""hb{i} AS (
      SELECT event_id, ub, tb,
             CAST({x_new} AS BIGINT) AS hx,
             CAST({y_new} AS BIGINT) AS hy,
             CAST({d_new} AS BIGINT) AS hd
      FROM hb{i - 1}
    )"""
        )
    return ",\n    ".join(ctes)


@query(
    "layout_hilbert_vs_zorder",
    oracle=f"""
    WITH st AS (
      SELECT min(user_id) AS lo_u, max(user_id) AS hi_u,
             min(epoch_us(ts)) AS lo_t, max(epoch_us(ts)) AS hi_t
      FROM events
    ),
    pts AS MATERIALIZED (
      SELECT event_id,
             CAST((user_id - lo_u) * 256 // (hi_u - lo_u + 1) AS BIGINT)
               AS ub,
             CAST((epoch_us(ts) - lo_t) * 256 // (hi_t - lo_t + 1)
                  AS BIGINT) AS tb
      FROM events, st
    ),
    {_hb_chain_sql("pts")},
    laid AS MATERIALIZED (
      SELECT 'zorder' AS ordering, ub, tb,
             (row_number() OVER (
                ORDER BY {_zp_morton_sql('ub', 'tb')}, event_id) - 1)
               // {_ZP_BIN_ROWS} AS bin
      FROM pts
      UNION ALL
      SELECT 'hilbert', ub, tb,
             (row_number() OVER (ORDER BY hd, event_id) - 1)
               // {_ZP_BIN_ROWS}
      FROM hb{len(_HB_STEPS)}
    ),
    {_zp_audit_tail_sql()}
    """,
)
def layout_hilbert_vs_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _zp_pts(spark, sf_dir)
    hb = pts.select(
        "event_id",
        "ub",
        "tb",
        F.col("ub").alias("hx"),
        F.col("tb").alias("hy"),
        F.lit(0).cast("bigint").alias("hd"),
    )
    for s in _HB_STEPS:
        x_new, y_new, d_new = _hb_step_sql(s)
        hb = hb.select(
            "event_id",
            "ub",
            "tb",
            F.expr(x_new).cast("bigint").alias("hx"),
            F.expr(y_new).cast("bigint").alias("hy"),
            F.expr(d_new).cast("bigint").alias("hd"),
        )
    laid = (
        pts.select(
            F.lit("zorder").alias("ordering"),
            "ub",
            "tb",
            F.expr(
                f"(row_number() OVER (ORDER BY "
                f"{_zp_morton_sql('ub', 'tb')}, event_id) - 1)"
                f" DIV {_ZP_BIN_ROWS}"
            )
            .cast("bigint")
            .alias("bin"),
        )
        .unionByName(
            hb.select(
                F.lit("hilbert").alias("ordering"),
                "ub",
                "tb",
                F.expr(
                    f"(row_number() OVER (ORDER BY hd, event_id) - 1)"
                    f" DIV {_ZP_BIN_ROWS}"
                )
                .cast("bigint")
                .alias("bin"),
            )
        )
    )
    return _zp_box_grid(pts, laid)


# --------------------------------------------------------------------------
# events_theta_set_ops — SET ALGEBRA ON SKETCHES (the Theta-sketch
# capability that makes KMV the analytics workhorse: union AND
# intersection estimates from k-sized summaries, no raw data): set A =
# users with ≥15 error events, set B = users with ≥15 purchases
# (count thresholds — the value column is too tail-skewed for a
# quantile slice to be non-degenerate; these give genuinely partial
# overlap, unlike the per-type user sets which all coincide).
# k = 32 smallest 60-bit hashes per set; union = k smallest of the
# merged hashes; intersection = common hashes below θ = min(θ_A, θ_B)
# scaled by θ (the DataSketches a-priori intersection rule). Every
# estimate is integer arithmetic over the deterministic h64 order
# statistics — the whole sketch algebra sits under the hash gate,
# including each op's signed error against the exact answer.
#
# Measured (sf0.01; |A|=57, |B|=50, |A∩B|=18, |A∪B|=89): estimates
# 59 / 44 / 15 / 78 → errors +35‰ / −120‰ / −166‰ / −123‰ at k=32 —
# the intersection reads worst, exactly the DataSketches caveat (its
# effective sample is only the common hashes below θ, so error grows
# as the overlap fraction shrinks).
#
# Scale: sketches are k rows per set (mergeable, shippable); the exact
# sides are the fixture-only audit columns.
# --------------------------------------------------------------------------
def _theta_algebra_sql(k: int, labels: tuple[str, str, str, str]) -> str:
    """The sketch-algebra CTE tail shared by events_theta_set_ops and
    streaming_theta_index's oracles: given ``seta`` / ``setb`` CTEs of
    ``user_id`` rows, build both k-sized sketches, the union sketch,
    the min-theta intersection, the exact audit, and the final
    estimate/err projection (DuckDB // truncation semantics — the one
    place the algebra's integer arithmetic is written)."""
    la, lb, lu, li = labels
    ppm = (1 << 60) // 10**6
    hash_sql = (
        "CAST(('0x' || substr(md5('theta:' || CAST(user_id AS VARCHAR)),"
        " 1, 15)) AS BIGINT)"
    )
    return f"""ha AS (SELECT {hash_sql} AS h FROM seta),
    hb AS (SELECT {hash_sql} AS h FROM setb),
    ska AS MATERIALIZED (
      SELECT h FROM (
        SELECT h, row_number() OVER (ORDER BY h) AS rn FROM ha
      ) WHERE rn <= {k}
    ),
    skb AS MATERIALIZED (
      SELECT h FROM (
        SELECT h, row_number() OVER (ORDER BY h) AS rn FROM hb
      ) WHERE rn <= {k}
    ),
    sku AS MATERIALIZED (
      SELECT h, row_number() OVER (ORDER BY h) AS rn
      FROM (SELECT h FROM ska UNION SELECT h FROM skb)
      QUALIFY rn <= {k}
    ),
    thetas AS (
      SELECT (SELECT max(h) FROM ska) AS ta,
             (SELECT max(h) FROM skb) AS tb,
             (SELECT max(h) FROM sku) AS tu
    ),
    inter AS (
      SELECT CAST(count(*) AS BIGINT) AS common
      FROM ska JOIN skb USING (h), thetas
      WHERE ska.h < least(thetas.ta, thetas.tb)
    ),
    exact AS (
      SELECT
        (SELECT CAST(count(*) AS BIGINT) FROM seta) AS na,
        (SELECT CAST(count(*) AS BIGINT) FROM setb) AS nb,
        (SELECT CAST(count(*) AS BIGINT) FROM
          (SELECT user_id FROM seta UNION SELECT user_id FROM setb))
          AS nu,
        (SELECT CAST(count(*) AS BIGINT) FROM
          (SELECT user_id FROM seta INTERSECT SELECT user_id FROM setb))
          AS ni
    ),
    ests AS (
      SELECT '{la}' AS op, e.na AS n_exact,
             t.ta // {ppm} AS theta_ppm,
             CAST({k - 1} AS BIGINT) AS cnt
      FROM thetas t, exact e
      UNION ALL
      SELECT '{lb}', e.nb, t.tb // {ppm}, CAST({k - 1} AS BIGINT)
      FROM thetas t, exact e
      UNION ALL
      SELECT '{lu}', e.nu, t.tu // {ppm}, CAST({k - 1} AS BIGINT)
      FROM thetas t, exact e
      UNION ALL
      SELECT '{li}', e.ni, least(t.ta, t.tb) // {ppm}, i.common
      FROM thetas t, exact e, inter i
    )
    SELECT op, n_exact, CAST({k} AS INT) AS k,
           CAST(theta_ppm AS BIGINT) AS theta_ppm,
           CAST(cnt * 1000000 // theta_ppm AS BIGINT) AS est_users,
           CAST((cnt * 1000000 // theta_ppm - n_exact) * 1000
                // greatest(n_exact, 1) AS BIGINT) AS err_milli
    FROM ests
    ORDER BY op"""


def _theta_est_rows(items: list, k: int) -> list:
    """Driver-side twin of the estimate projection above — integer
    arithmetic with DuckDB's truncate-toward-zero division (Python //
    floors on negatives, the documented divergence)."""
    ppm_div = (1 << 60) // 10**6
    rows = []
    for op, n_ex, theta, cnt in items:
        theta_ppm = theta // ppm_div
        est = cnt * 10**6 // theta_ppm
        num = (est - n_ex) * 1000
        err = abs(num) // max(n_ex, 1) * (1 if num >= 0 else -1)
        rows.append((op, n_ex, k, theta_ppm, est, err))
    return rows


_THETA_K = 32


@query(
    "events_theta_set_ops",
    oracle=f"""
    WITH seta AS MATERIALIZED (
      SELECT user_id FROM events WHERE event_type = 'error'
      GROUP BY user_id HAVING count(*) >= 15
    ),
    setb AS MATERIALIZED (
      SELECT user_id FROM events WHERE event_type = 'purchase'
      GROUP BY user_id HAVING count(*) >= 15
    ),
    {_theta_algebra_sql(_THETA_K, ('a', 'b', 'union', 'intersection'))}
    """,
)
def events_theta_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    from data_ingestion_din_spark.functions.hashing import h64

    ev = load_table(spark, sf_dir, "events")

    def users_with(etype: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == etype)
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") >= 15)
            .select("user_id")
        )

    sets = {"a": users_with("error"), "b": users_with("purchase")}
    sk = {}
    exact = {}
    for name, df in sets.items():
        exact[name] = df.count()
        # K-smallest hashes via orderBy+limit (TakeOrderedAndProject —
        # per-task heaps; r12 replaced the partition-less row_number
        # window that sorted the whole hash stream into one partition)
        sk[name] = (
            df.select(
                h64(F.concat(F.lit("theta:"), F.col("user_id").cast("string")))
                .alias("h")
            )
            .orderBy("h")
            .limit(_THETA_K)
            # lazy: the first action over this sketch — its threshold
            # read (agg(max(h)).first(), or the sku union for tu) —
            # materializes it; later consumers (the common-hash count
            # and the final action) then read the checkpointed blocks.
            # The exact union/intersection counts above run over `sets`,
            # not the sketches, and never touch these RDDs.
            .localCheckpoint(eager=False)
        )
    exact["union"] = sets["a"].unionByName(sets["b"]).distinct().count()
    exact["intersection"] = sets["a"].join(sets["b"], "user_id").count()
    sku = (
        sk["a"]
        .unionByName(sk["b"])
        .distinct()
        .orderBy("h")
        .limit(_THETA_K)
    )
    ta = sk["a"].agg(F.max("h")).first()[0]
    tb = sk["b"].agg(F.max("h")).first()[0]
    tu = sku.agg(F.max("h")).first()[0]
    common = (
        sk["a"]
        .join(sk["b"], "h")
        .filter(F.col("h") < min(ta, tb))
        .count()
    )
    rows = _theta_est_rows(
        [
            ("a", exact["a"], ta, _THETA_K - 1),
            ("b", exact["b"], tb, _THETA_K - 1),
            ("union", exact["union"], tu, _THETA_K - 1),
            ("intersection", exact["intersection"], min(ta, tb), common),
        ],
        _THETA_K,
    )
    return local_frame(
        spark,
        rows,
        "op string, n_exact bigint, k int, theta_ppm bigint,"
        " est_users bigint, err_milli bigint",
    ).orderBy("op")


# --------------------------------------------------------------------------
# events_scd2_temporal_join — the CONSUMER of the SCD2 story (build ✓
# events_scd2_intervals, maintain ✓ streaming_scd2_maintenance — this
# is the join they exist for): facts joined to the dimension VERSION
# valid at each fact's event time. Dimension = each user's status
# stream (signup/error events change-detected into [valid_from,
# valid_to) versions); facts = the same users' purchases; the join is
# user_id equi + ts∈[from,to) range — the dimensional-modeling join
# every warehouse runs, with the late-arriving wrinkle kept honest:
# purchases before a user's first status version join to NULL and are
# reported as the 'unknown' bucket instead of being dropped. Output:
# per joined status, purchase count, decimal-exact revenue, distinct
# buyers.
#
# Scale: the range condition rides the user_id equi-join (no interval
# explosion needed at per-user version counts); one shuffle each side.
# --------------------------------------------------------------------------
@query(
    "events_scd2_temporal_join",
    oracle=f"""
    WITH dim0 AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
      FROM events WHERE event_type IN ('signup', 'error')
    ),
    chg AS (
      SELECT user_id, event_type, ts_us,
             CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
                  THEN 1 ELSE 0 END AS opens
      FROM dim0
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    ),
    ver AS (
      SELECT user_id, event_type, ts_us,
             sum(opens) OVER (PARTITION BY user_id ORDER BY ts_us
                              ROWS UNBOUNDED PRECEDING) AS version
      FROM chg
    ),
    dim AS (
      SELECT user_id, version, any_value(event_type) AS status,
             min(ts_us) AS valid_from,
             lead(min(ts_us)) OVER (PARTITION BY user_id
                                    ORDER BY version) AS valid_to
      FROM ver GROUP BY user_id, version
    ),
    fact AS (
      SELECT user_id, epoch_us(ts) AS ts_us,
             CAST(value AS DECIMAL(18,2)) AS v
      FROM events WHERE event_type = 'purchase'
    )
    SELECT coalesce(d.status, 'unknown') AS status,
           CAST(count(*) AS BIGINT) AS n_purchases,
           {dec_to_double_sql("sum(f.v)", 2)} AS revenue,
           CAST(count(DISTINCT f.user_id) AS BIGINT) AS n_buyers
    FROM fact f
    LEFT JOIN dim d
      ON d.user_id = f.user_id
     AND f.ts_us >= d.valid_from
     AND (d.valid_to IS NULL OR f.ts_us < d.valid_to)
    GROUP BY coalesce(d.status, 'unknown')
    ORDER BY status
    """,
)
def events_scd2_temporal_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    dim0 = ev.filter(
        F.col("event_type").isin("signup", "error")
    ).select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("ts_us")
    )
    w = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    chg = dim0.withColumn(
        "opens",
        F.when(
            ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type")),
            1,
        ).otherwise(0),
    )
    wv = W.partitionBy("user_id").orderBy("ts_us").rowsBetween(
        W.unboundedPreceding, 0
    )
    ver = chg.withColumn("version", F.sum("opens").over(wv))
    dim = (
        ver.groupBy("user_id", "version")
        .agg(
            F.first("event_type").alias("status"),
            F.min("ts_us").alias("valid_from"),
        )
        .withColumn(
            "valid_to",
            F.lead("valid_from").over(
                W.partitionBy("user_id").orderBy("version")
            ),
        )
    )
    fact = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.col("value").cast("decimal(18,2)").alias("v"),
    )
    joined = fact.alias("f").join(
        dim.alias("d"),
        (F.col("d.user_id") == F.col("f.user_id"))
        & (F.col("f.ts_us") >= F.col("d.valid_from"))
        & (
            F.col("d.valid_to").isNull()
            | (F.col("f.ts_us") < F.col("d.valid_to"))
        ),
        "left",
    )
    return (
        joined.groupBy(
            F.coalesce(F.col("d.status"), F.lit("unknown")).alias("status")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
            dec_to_double(F.sum("f.v"), 2).alias("revenue"),
            F.countDistinct(F.col("f.user_id"))
            .cast("bigint")
            .alias("n_buyers"),
        )
        .orderBy("status")
    )


# --------------------------------------------------------------------------
# events_hll_sliding_merge — the TIME-AXIS merge that is HLL's whole
# reason to exist in a warehouse: registers built once per (event_type,
# day) partition (the shape a daily ETL materializes), then a trailing
# 3-day sliding estimate served by MERGING the daily registers
# (windowed max per bucket) — never re-touching the raw events. The
# family's last missing disposition: build ✓ (events_hll_distinct),
# precision grid ✓ (events_hll_precision_grid), at-ingest maintenance ✓
# (streaming_hll_registers), merge-at-read across partitions ✓ (this).
#
# Two gates per row: (1) s_merged — the scaled-integer harmonic sum off
# the MERGED registers (integer-exact, the hash gate's subject), and
# (2) merge_eq — merged registers reproduce the from-scratch sketch
# built over the window's unioned hashes bit for bit (max is
# associative and idempotent: the distributive-aggregation contract,
# stated as a computed column rather than a comment). n_exact_3d sits
# beside the estimate as the accuracy readout (~134 distinct users/day
# of 150 total, so the 3-day window nearly saturates — the raw
# estimator's small-range bias measured in events_hll_precision_grid
# applies here too and is visible per row).
#
# Scale: the daily register table is (types × days × m) rows — bounded
# metadata, NOT the raw events; the sliding merge joins that table to
# its own day list (3× fan-out, constant per window) and never reads
# events again. The from-scratch twin and the exact column are the
# audit side, corpus-priced, exactly like every recall sweep's truth.
# --------------------------------------------------------------------------
_HSM_W = 3  # trailing window, days


def _hll_slide_oracle() -> str:
    est = f"round({hll_num(_HLL_M)!r} / CAST(s_merged AS DOUBLE), 4)"
    return f"""
    WITH uh AS (
      SELECT DISTINCT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(('0x' || substr(md5('hll:' || CAST(user_id AS VARCHAR)),
                                  1, 15)) AS BIGINT) AS h
      FROM events
    ),
    br AS (
      SELECT event_type, day, h % {_HLL_M} AS bucket,
             CASE WHEN h // {_HLL_M} = 0 THEN 55
                  ELSE 55 - length(bin(h // {_HLL_M})) END AS rnk
      FROM uh
    ),
    regd AS (
      SELECT event_type, day, bucket, max(rnk) AS r
      FROM br GROUP BY event_type, day, bucket
    ),
    days AS (SELECT DISTINCT event_type, day FROM regd),
    mreg AS (
      SELECT d.event_type, d.day, r.bucket, max(r.r) AS r
      FROM days d JOIN regd r
        ON r.event_type = d.event_type
       AND r.day BETWEEN d.day - {_HSM_W - 1} AND d.day
      GROUP BY d.event_type, d.day, r.bucket
    ),
    ms AS (
      SELECT event_type, day,
             CAST(count(*) AS BIGINT) AS n_buckets,
             sum(CAST(1 AS BIGINT) << (32 - least(r, 32)))
               + ({_HLL_M} - count(*)) * 4294967296 AS s_merged
      FROM mreg GROUP BY event_type, day
    ),
    sreg AS (
      SELECT d.event_type, d.day, u.h % {_HLL_M} AS bucket,
             max(CASE WHEN u.h // {_HLL_M} = 0 THEN 55
                      ELSE 55 - length(bin(u.h // {_HLL_M})) END) AS r
      FROM days d JOIN uh u
        ON u.event_type = d.event_type
       AND u.day BETWEEN d.day - {_HSM_W - 1} AND d.day
      GROUP BY d.event_type, d.day, u.h % {_HLL_M}
    ),
    ss AS (
      SELECT event_type, day,
             sum(CAST(1 AS BIGINT) << (32 - least(r, 32)))
               + ({_HLL_M} - count(*)) * 4294967296 AS s_scratch
      FROM sreg GROUP BY event_type, day
    ),
    du AS (
      SELECT DISTINCT event_type,
             CAST(date_trunc('day', ts) AS DATE) AS day, user_id
      FROM events
    ),
    ex AS (
      SELECT d.event_type, d.day,
             CAST(count(DISTINCT u.user_id) AS BIGINT) AS n_exact_3d
      FROM days d JOIN du u
        ON u.event_type = d.event_type
       AND u.day BETWEEN d.day - {_HSM_W - 1} AND d.day
      GROUP BY d.event_type, d.day
    )
    SELECT ms.event_type, ms.day, ms.n_buckets,
           CAST(ms.s_merged AS BIGINT) AS s_merged,
           ms.s_merged = ss.s_scratch AS merge_eq,
           {est} AS hll_estimate,
           ex.n_exact_3d
    FROM ms
    JOIN ss ON ss.event_type = ms.event_type AND ss.day = ms.day
    JOIN ex ON ex.event_type = ms.event_type AND ex.day = ms.day
    ORDER BY ms.event_type, ms.day
    """


@query("events_hll_sliding_merge", oracle=_hll_slide_oracle())
def events_hll_sliding_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_ingestion_din_spark.functions.hashing import h64

    ev = load_table(spark, sf_dir, "events")
    uh = ev.select(
        "event_type",
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("day"),
        h64(
            F.concat(F.lit("hll:"), F.col("user_id").cast("string"))
        ).alias("h"),
    ).distinct()
    br = uh.select(
        "event_type",
        "day",
        hll_bucket(_HLL_M).alias("bucket"),
        hll_rank(_HLL_M).alias("rnk"),
    )
    regd = br.groupBy("event_type", "day", "bucket").agg(
        F.max("rnk").alias("r")
    )
    days = regd.select("event_type", "day").distinct()

    def _window_join(right: DataFrame) -> DataFrame:
        d = days.select(
            F.col("event_type").alias("w_type"), F.col("day").alias("w_day")
        )
        return d.join(
            right,
            (right["event_type"] == F.col("w_type"))
            & (
                right["day"].between(
                    F.date_sub(F.col("w_day"), _HSM_W - 1), F.col("w_day")
                )
            ),
        )

    mreg = (
        _window_join(regd)
        .groupBy("w_type", "w_day", "bucket")
        .agg(F.max("r").alias("r"))
    )
    ms = mreg.groupBy("w_type", "w_day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        hll_scaled_sum(_HLL_M).alias("s_merged"),
    )
    sreg = (
        _window_join(uh)
        .select(
            "w_type",
            "w_day",
            hll_bucket(_HLL_M).alias("bucket"),
            hll_rank(_HLL_M).alias("rnk"),
        )
        .groupBy("w_type", "w_day", "bucket")
        .agg(F.max("rnk").alias("r"))
    )
    ss = sreg.groupBy("w_type", "w_day").agg(
        hll_scaled_sum(_HLL_M).alias("s_scratch")
    )
    du = ev.select(
        "event_type",
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("day"),
        "user_id",
    ).distinct()
    ex = (
        _window_join(du)
        .groupBy("w_type", "w_day")
        .agg(
            F.count_distinct(F.col("user_id"))
            .cast("bigint")
            .alias("n_exact_3d")
        )
    )
    return (
        ms.join(ss, ["w_type", "w_day"])
        .join(ex, ["w_type", "w_day"])
        .select(
            F.col("w_type").alias("event_type"),
            F.col("w_day").alias("day"),
            "n_buckets",
            "s_merged",
            (F.col("s_merged") == F.col("s_scratch")).alias("merge_eq"),
            F.round(
                F.lit(hll_num(_HLL_M)) / F.col("s_merged").cast("double"), 4
            ).alias("hll_estimate"),
            "n_exact_3d",
        )
        .orderBy("event_type", "day")
    )


# --------------------------------------------------------------------------
# events_gini_concentration — value-concentration audit (Lorenz curve +
# Gini coefficient) over per-user event value: the "is 80% of the
# volume coming from 2% of the keys" number that sizes skew handling
# (the dq_key_skew_profile / salt-factor recipes need exactly this
# statistic to decide WHETHER to salt) and flags whale-dominated
# corpora before they skew a training mixture. All exact integer
# arithmetic: per-user totals in DECIMAL cents, users ranked ascending
# (value, then user_id — the deterministic tie-break), one row per
# decile of the user count with the cumulative value share in
# per-mille, plus the exact integer Gini
#   G·1000 = (2·Σ_i i·v_i − (n+1)·Σ v) · 1000 // (n · Σ v)
# (the rank-covariance identity — no area integration, no floats)
# repeated on each row for the single-statistic read. Decile labels use
# ceil(r*10/n) so decile d's row is the cumulative share at exactly
# d*10% of users (the r12 ADVICE fix: the floor form put the 10% point
# in a dropped decile-0 bucket and shifted every label by one).
#
# Scale: one user_id shuffle for the totals, then a RANGE-partitioned
# two-phase rank/prefix-sum (operators/ranking.ranked_prefix — per-
# partition windows + broadcast offsets; r12 replaced the partition-
# less window that sorted the whole user table into one partition),
# decile rollup over n rows of metadata.
# --------------------------------------------------------------------------


@query(
    "events_gini_concentration",
    oracle="""
    WITH ut AS (
      SELECT user_id,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY user_id
    ),
    rk AS (
      SELECT user_id, cents,
             row_number() OVER (ORDER BY cents, user_id) AS r
      FROM ut
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS tv,
             CAST(sum(r * cents) AS BIGINT) AS rv
      FROM rk
    ),
    cum AS (
      SELECT r, cents,
             sum(cents) OVER (ORDER BY r) AS cum_cents
      FROM rk
    ),
    dec AS (
      SELECT CAST((r * 10 + tot.n - 1) // tot.n AS INT) AS decile,
             r, cum_cents
      FROM cum CROSS JOIN tot
      QUALIFY r = max(r) OVER (
        PARTITION BY CAST((r * 10 + tot.n - 1) // tot.n AS INT))
    )
    SELECT CAST(dec.decile AS INT) AS decile,
           CAST(dec.r AS BIGINT) AS n_users_cum,
           CAST(dec.cum_cents AS BIGINT) AS cum_value_cents,
           CAST(dec.cum_cents * 1000 // tot.tv AS BIGINT)
             AS cum_share_milli,
           CAST((2 * tot.rv - (tot.n + 1) * tot.tv) * 1000
                // (tot.n * tot.tv) AS BIGINT) AS gini_milli
    FROM dec CROSS JOIN tot
    ORDER BY decile
    """,
)
def events_gini_concentration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql.window import Window as W

    from data_ingestion_din_spark.operators.ranking import ranked_prefix

    ev = load_table(spark, sf_dir, "events")
    ut = ev.groupBy("user_id").agg(
        F.sum(F.floor(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    # distributed global rank + Lorenz prefix sum (range-partitioned
    # two-phase — the r12 fix for the partition-less window this audit
    # used to ship; the user table is corpus-keyed, so the global sort
    # to ONE partition was the 100 TB hazard the header now avoids)
    cum = ranked_prefix(
        ut, ["cents", "user_id"], sums={"cum_cents": "cents"}, rk_col="r"
    ).localCheckpoint(eager=False)  # two consumers: totals + deciles
    rk = cum
    tot = rk.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("tv"),
        F.sum(F.col("r") * F.col("cents")).cast("bigint").alias("rv"),
    )
    dec = (
        cum.crossJoin(tot)
        .withColumn(
            "decile", F.expr("CAST((r * 10 + n - 1) DIV n AS INT)")
        )
        .withColumn(
            "rmax", F.max("r").over(W.partitionBy("decile"))
        )
        .filter(F.col("r") == F.col("rmax"))
    )
    return dec.select(
        F.col("decile").cast("int").alias("decile"),
        F.col("r").cast("bigint").alias("n_users_cum"),
        F.col("cum_cents").cast("bigint").alias("cum_value_cents"),
        F.expr("cum_cents * 1000 DIV tv")
        .cast("bigint")
        .alias("cum_share_milli"),
        F.expr("(2 * rv - (n + 1) * tv) * 1000 DIV (n * tv)")
        .cast("bigint")
        .alias("gini_milli"),
    ).orderBy("decile")


# --------------------------------------------------------------------------
# ranked_prefix_ab — the two-phase-window trade PRICED (VERDICT r12 ask
# #6): the r12 sweep converted five corpus-sized partition-less windows
# to operators/ranking.ranked_prefix and asserted in prose that the
# extra range-sampling job "pays at 100x". This audit runs the SAME
# ranked computation (the Lorenz shape: global rank + prefix sum of
# per-user cents) BOTH ways and emits, per arm, (a) bit-exact checksums
# of the full ranked relation — proving the two-phase output IS the
# partition-less window's output — and (b) the arm's Exchange counts
# read from its ADAPTIVE INITIAL physical plan (total / SinglePartition
# / rangepartitioning) — the tests/test_plan_assertions.py convention:
# AQE can only coalesce or remove exchanges at runtime, so the pinned
# counts are exact for the planned shape and upper bounds on the
# executed one — pinned in tests/test_plan_assertions.py
# (test_ranked_prefix_ab_plan_pins) since r14. The counts previously
# rode inside the DuckDB oracle string, which conflated plan drift
# with data-correctness regressions: a Spark upgrade that legitimately
# replans an arm would have surfaced as an apparent hash-parity
# failure (ADVICE r13). Now the ORACLE gates only the data checksums
# (bit-exact equality of both arms' ranked relations) and the PLAN
# TEST gates the exchange shape — planner drift fails as a plan-pin
# failure, a wrong answer as a correctness failure.
#
# The price sheet the counts encode: global_window = (2, 1, 0) — its
# ONE SinglePartition exchange carries the CORPUS-SIZED relation to a
# single task (the 100 TB scale-killer); two_phase = (8, 1, 2) — more
# exchanges, but every corpus-sized one is distributed (the range
# shuffle + the per-pid window), and its single SinglePartition
# exchange carries only the N-partition offsets control table (N =
# shuffle partitions, ~32 rows). Count parity across sf0.001/sf0.01
# verified; wall timings are bench.py's job (the entry times both arms
# back-to-back).
#
# Scale: arm A is deliberately the anti-pattern under audit — safe
# here only because the fixture is small; production code never calls
# it (the r12 sweep removed every corpus-sized site).
# --------------------------------------------------------------------------
_RPA_PINS = {"global_window": (2, 1, 0), "two_phase": (8, 1, 2)}


def _exchange_counts(df: DataFrame) -> tuple[int, int, int]:
    """(total Exchange nodes, SinglePartition exchanges,
    rangepartitioning exchanges) from the ADAPTIVE INITIAL plan's
    explain text — the same token counting (and the same initial-plan
    basis) tests/test_plan_assertions.py uses, exposed to the gated
    query so the planned shape itself is oracle-checked."""
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="simple")
    ex = [ln for ln in buf.getvalue().splitlines() if "Exchange" in ln]
    return (
        len(ex),
        sum(1 for ln in ex if "SinglePartition" in ln),
        sum(1 for ln in ex if "rangepartitioning" in ln),
    )


def _rpa_arms(spark: SparkSession, sf_dir: str) -> list[tuple[str, DataFrame]]:
    """Both arms of the ranked-prefix trade, shared by the gated query
    (data checksums) and the plan test (exchange pins)."""
    from data_ingestion_din_spark.operators.ranking import ranked_prefix

    ev = load_table(spark, sf_dir, "events")
    ut = ev.groupBy("user_id").agg(
        F.sum(F.floor(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    wa = W.orderBy("cents", "user_id")
    arm_a = ut.select(
        F.row_number().over(wa).cast("bigint").alias("r"),
        F.sum("cents")
        .over(wa.rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("bigint")
        .alias("cum"),
        "cents",
    )
    arm_b = ranked_prefix(
        ut, ["cents", "user_id"], sums={"cum": "cents"}, rk_col="r"
    ).select("r", "cum", "cents")
    return [("global_window", arm_a), ("two_phase", arm_b)]


def _rpa_oracle() -> str:
    return """
    WITH ut AS (
      SELECT user_id,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY user_id
    ),
    rk AS (
      SELECT cents,
             row_number() OVER (ORDER BY cents, user_id) AS r,
             sum(cents) OVER (ORDER BY cents, user_id
                              ROWS UNBOUNDED PRECEDING) AS cum
      FROM ut
    ),
    chk AS (
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(r * cents) AS BIGINT) AS sum_r_cents,
             CAST(sum(cum) AS BIGINT) AS sum_cum,
             CAST(max(cum) AS BIGINT) AS max_cum
      FROM rk
    )
    SELECT arms.arm AS arm, n_rows, sum_r_cents, sum_cum, max_cum
    FROM chk CROSS JOIN (VALUES ('global_window'), ('two_phase')) arms(arm)
    ORDER BY arm
    """


@query("ranked_prefix_ab", oracle=_rpa_oracle())
def ranked_prefix_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows = []
    for arm, df in _rpa_arms(spark, sf_dir):
        chk = df.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.col("r") * F.col("cents"))
            .cast("bigint")
            .alias("sum_r_cents"),
            F.sum("cum").cast("bigint").alias("sum_cum"),
            F.max("cum").cast("bigint").alias("max_cum"),
        ).collect()[0]
        rows.append(
            (
                arm,
                int(chk.n_rows),
                int(chk.sum_r_cents),
                int(chk.sum_cum),
                int(chk.max_cum),
            )
        )
    return local_frame(
        spark,
        rows,
        "arm string, n_rows bigint, sum_r_cents bigint, sum_cum bigint,"
        " max_cum bigint",
    ).orderBy("arm")


# --------------------------------------------------------------------------
# events_markov_transitions — first-order event-type transition matrix,
# the sequence-analytics operator the session/funnel family implies but
# never materializes: per user in (ts, event_id) order, count each
# (from_type → to_type) step, emit the full matrix with per-mille row
# shares (the empirical Markov kernel P(next | current)) and each
# from-type's modal successor flagged — the table behind "what do
# users do after an error", churn-path mining, and synthetic-sequence
# generation. Transitions never cross users; the deterministic
# (ts, event_id) order is the family's standard tie-break.
#
# Scale: one user_id shuffle for the lead() window, then a (from, to)
# rollup — k² output rows regardless of corpus size.
# --------------------------------------------------------------------------


@query(
    "events_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type AS from_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS to_type
      FROM events
    ),
    tr AS (
      SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE to_type IS NOT NULL
      GROUP BY from_type, to_type
    ),
    rt AS (
      SELECT from_type, CAST(sum(n) AS BIGINT) AS row_n FROM tr
      GROUP BY from_type
    ),
    mm AS (
      SELECT from_type, max(n) AS mx FROM tr GROUP BY from_type
    ),
    md AS (
      SELECT tr.from_type, min(tr.to_type) AS modal_to
      FROM tr JOIN mm USING (from_type)
      WHERE tr.n = mm.mx GROUP BY tr.from_type
    )
    SELECT tr.from_type, tr.to_type, tr.n,
           CAST(tr.n * 1000 // rt.row_n AS BIGINT) AS row_milli,
           tr.n = mm.mx AND tr.to_type = md.modal_to AS modal_successor
    FROM tr
    JOIN rt USING (from_type)
    JOIN mm USING (from_type)
    JOIN md USING (from_type)
    ORDER BY from_type, to_type
    """,
)
def events_markov_transitions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events")
    wseq = W.partitionBy("user_id").orderBy("ts", "event_id")
    tr = (
        ev.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(wseq).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    wrow = W.partitionBy("from_type")
    out = (
        tr.withColumn("row_n", F.sum("n").over(wrow))
        .withColumn("mx", F.max("n").over(wrow))
        .withColumn(
            "modal_to",
            F.min(
                F.when(F.col("n") == F.col("mx"), F.col("to_type"))
            ).over(wrow),
        )
        .select(
            "from_type",
            "to_type",
            "n",
            F.expr("n * 1000 DIV row_n").cast("bigint").alias("row_milli"),
            (
                (F.col("n") == F.col("mx"))
                & (F.col("to_type") == F.col("modal_to"))
            ).alias("modal_successor"),
        )
    )
    return out.orderBy("from_type", "to_type")


# --------------------------------------------------------------------------
# events_session_gap_grid — the inactivity-gap knob of sessionization
# measured (events_sessionized fixed 30 min by fiat; the dynamic-gap
# query varies it per TYPE but not over a sweep): one row per gap ∈
# {10, 20, 30, 60} minutes with the session count, mean events per
# session (milli), mean session duration (seconds), and the share of
# single-event sessions — the four numbers that show WHERE the knob
# bites (halving the gap fragments sessions into singletons; doubling
# it glues visits together). The lag/break-flag pass is shared: all
# four gaps read ONE ordered scan (the grid adds CASE columns over the
# same lag value, not window passes).
#
# Scale: one user_id shuffle for the lag window; per-gap rollups are
# metadata-sized.
# --------------------------------------------------------------------------
_SGG_GAPS_MIN = (10, 20, 30, 60)


def _sgg_oracle() -> str:
    per_gap = []
    for g in _SGG_GAPS_MIN:
        gus = g * 60_000_000
        per_gap.append(
            f"""SELECT {g} AS gap_min,
             CAST(count(*) AS BIGINT) AS n_sessions,
             CAST(sum(n_ev) * 1000 // count(*) AS BIGINT)
               AS mean_events_milli,
             CAST(sum(dur_us) // (count(*) * 1000000) AS BIGINT)
               AS mean_dur_s,
             CAST(sum(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END) * 1000
                  // count(*) AS BIGINT) AS single_milli
      FROM (
        SELECT user_id, sid, CAST(count(*) AS BIGINT) AS n_ev,
               max(ts_us) - min(ts_us) AS dur_us
        FROM (
          SELECT user_id, ts_us,
                 sum(CASE WHEN gap_us IS NULL OR gap_us > {gus}
                     THEN 1 ELSE 0 END) OVER (
                   PARTITION BY user_id ORDER BY ts_us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) AS sid
          FROM lagged
        ) GROUP BY user_id, sid
      )"""
        )
    body = "\n      UNION ALL\n      ".join(per_gap)
    return f"""
    WITH lagged AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      FROM events
    )
    SELECT CAST(gap_min AS INT) AS gap_min, n_sessions,
           mean_events_milli, mean_dur_s, single_milli
    FROM ({body})
    ORDER BY gap_min
    """


@query("events_session_gap_grid", oracle=_sgg_oracle())
def events_session_gap_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events")
    word = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    lagged = ev.select(
        "user_id", "event_id", F.unix_micros("ts").alias("ts_us")
    ).withColumn(
        "gap_us", F.col("ts_us") - F.lag("ts_us").over(word)
    ).localCheckpoint(eager=False)  # four gap rollups, one scan
    grid = None
    for g in _SGG_GAPS_MIN:
        gus = g * 60_000_000
        wcum = word.rowsBetween(W.unboundedPreceding, W.currentRow)
        sess = (
            lagged.withColumn(
                "sid",
                F.sum(
                    F.when(
                        F.col("gap_us").isNull()
                        | (F.col("gap_us") > gus),
                        1,
                    ).otherwise(0)
                ).over(wcum),
            )
            .groupBy("user_id", "sid")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_ev"),
                (F.max("ts_us") - F.min("ts_us")).alias("dur_us"),
            )
        )
        row = sess.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
            F.sum("n_ev").cast("bigint").alias("tot_ev"),
            F.sum("dur_us").cast("bigint").alias("tot_dur"),
            F.sum(F.when(F.col("n_ev") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_single"),
        ).select(
            F.lit(g).cast("int").alias("gap_min"),
            "n_sessions",
            F.expr("tot_ev * 1000 DIV n_sessions")
            .cast("bigint")
            .alias("mean_events_milli"),
            F.expr("tot_dur DIV (n_sessions * 1000000)")
            .cast("bigint")
            .alias("mean_dur_s"),
            F.expr("n_single * 1000 DIV n_sessions")
            .cast("bigint")
            .alias("single_milli"),
        )
        grid = row if grid is None else grid.unionByName(row)
    return grid.orderBy("gap_min")
