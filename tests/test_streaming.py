"""Structured Streaming tests: windowed aggregates driven through a real
file-source stream (memory sink, availableNow), and the incremental
ingest pipeline's exactly-once merge."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from data_ingestion_din_spark.plans.streaming_core import _await_or_raise
from data_ingestion_din_spark.sources.tables import load_table
from data_ingestion_din_spark.streaming.ingest import (
    DOCUMENTS_SCHEMA,
    chunk_documents,
    start_ingest_stream,
)
from data_ingestion_din_spark.streaming.windows import (
    session_counts,
    sliding_counts,
    tumbling_counts,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_dir(spark):
    """Events fixture re-written with µs timestamps so a schema-declared
    file stream can read it."""
    d = tempfile.mkdtemp(prefix="events_stream_")
    load_table(spark, SF, "events").write.mode("overwrite").parquet(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _run_stream(spark, stream_df, name):
    q = (
        stream_df.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    _await_or_raise(q, 120)
    return spark.sql(f"SELECT * FROM {name}")


def test_tumbling_stream_matches_batch(spark, events_dir):
    schema = spark.read.parquet(events_dir).schema
    stream = spark.readStream.schema(schema).parquet(events_dir)
    out = _run_stream(spark, tumbling_counts(stream), "tumbling_out")
    batch = tumbling_counts(spark.read.parquet(events_dir))
    # append mode emits only windows the watermark has closed; every
    # emitted row must match the batch computation exactly.
    emitted = out.count()
    assert emitted > 0
    joined = out.join(
        batch, ["window_start", "event_type", "n_events", "total_value"]
    )
    assert joined.count() == emitted


def test_sliding_stream_runs(spark, events_dir):
    schema = spark.read.parquet(events_dir).schema
    stream = spark.readStream.schema(schema).parquet(events_dir)
    out = _run_stream(spark, sliding_counts(stream), "sliding_out")
    assert out.count() > 0


def test_session_stream_matches_batch_sessionize(spark, events_dir):
    schema = spark.read.parquet(events_dir).schema
    stream = spark.readStream.schema(schema).parquet(events_dir)
    out = _run_stream(spark, session_counts(stream), "session_out")
    assert out.count() > 0
    # cross-check a sample of closed sessions against the batch
    # lag+cumsum sessionizer (operators/sessionize.py)
    from data_ingestion_din_spark.operators.sessionize import sessionize_by_gap

    batch = (
        sessionize_by_gap(
            spark.read.parquet(events_dir),
            ["user_id"],
            "ts",
            gap="30 minutes",
            order_tiebreak=["event_id"],
        )
        .groupBy("user_id", "session_seq")
        .agg(F.min("ts").alias("session_start"), F.count(F.lit(1)).alias("n"))
    )
    joined = out.join(batch, ["user_id", "session_start"])
    mismatched = joined.filter(F.col("n_events") != F.col("n")).count()
    assert joined.count() > 0 and mismatched == 0


def test_ingest_stream_is_incremental_and_idempotent(spark):
    base = tempfile.mkdtemp(prefix="ingest_")
    landing, corpus, ckpt = f"{base}/landing", f"{base}/corpus", f"{base}/ckpt"
    docs1 = spark.createDataFrame(
        [(1, "alpha beta gamma " * 20, "en", "s1", 0),
         (2, "delta epsilon " * 30, "en", "s1", 0)],
        schema=DOCUMENTS_SCHEMA,
    )
    docs1.write.mode("overwrite").parquet(landing)
    _await_or_raise(start_ingest_stream(spark, landing, corpus, ckpt), 120)
    n1 = spark.read.parquet(corpus).count()
    expected1 = chunk_documents(docs1).dropDuplicates(["chunk_id"]).count()
    assert n1 == expected1 > 0

    # second batch: one new doc + a re-upload (same content, same doc id)
    docs2 = spark.createDataFrame(
        [(1, "alpha beta gamma " * 20, "en", "s1", 0),
         (3, "zeta eta theta " * 25, "en", "s2", 0)],
        schema=DOCUMENTS_SCHEMA,
    )
    docs2.write.mode("append").parquet(landing)
    _await_or_raise(start_ingest_stream(spark, landing, corpus, ckpt), 120)
    out = spark.read.parquet(corpus)
    # re-uploaded doc 1 chunks are deduped by content-addressed id;
    # only doc 3's chunks are new.
    assert out.count() == n1 + chunk_documents(
        docs2.filter("doc_id = 3")
    ).dropDuplicates(["chunk_id"]).count()
    assert out.select("chunk_id").distinct().count() == out.count()
    shutil.rmtree(base, ignore_errors=True)


def test_watermark_drops_late_rows(spark):
    """A row older than the watermark, arriving in a later RUN of the
    stream (watermark state restored from the checkpoint), must NOT
    appear in streaming output — it would in batch mode."""
    import os
    import time
    from datetime import datetime

    d = tempfile.mkdtemp(prefix="late_events_")
    data_dir = os.path.join(d, "data")
    ckpt = os.path.join(d, "ckpt")
    out_dir = os.path.join(d, "out")
    os.makedirs(data_dir)
    schema = "ts timestamp, user_id long, event_type string, value double"
    t = lambda s: datetime.fromisoformat(s)  # noqa: E731

    def write_batch(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            os.path.join(data_dir, name)
        )
        time.sleep(1.1)

    def run_once():
        stream = spark.readStream.schema(schema).parquet(data_dir + "/*")
        q = (
            tumbling_counts(stream, "5 minutes", "10 minutes")
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        _await_or_raise(q, 120)

    write_batch("b1", [
        (t("2024-01-01 10:00:30"), 1, "click", 1.0),
        (t("2024-01-01 10:05:30"), 1, "click", 1.0),
        (t("2024-01-01 10:18:00"), 1, "click", 1.0),
    ])
    run_once()  # watermark after run 1: 10:18 - 10min = 10:08
    write_batch("b2", [
        (t("2024-01-01 09:50:10"), 1, "click", 99.0),  # late: < 10:08
        (t("2024-01-01 11:00:00"), 1, "click", 1.0),  # advances watermark
    ])
    run_once()

    out = spark.read.parquet(out_dir)
    starts = {r["window_start"].strftime("%H:%M") for r in out.collect()}
    # finalized on-time windows present; the late 09:50 window dropped
    assert {"10:00", "10:05", "10:15"} <= starts
    assert "09:50" not in starts
    # batch mode over the same files DOES include the late row
    batch = spark.read.schema(schema).parquet(data_dir + "/*")
    batch_starts = {
        r["window_start"].strftime("%H:%M")
        for r in tumbling_counts(batch, "5 minutes", "10 minutes").collect()
    }
    assert "09:50" in batch_starts
    shutil.rmtree(d, ignore_errors=True)


def _frames_equal(a, b) -> bool:
    """Order-insensitive multiset equality of two DataFrames with equal
    schemas: per-row counts joined full-outer must agree everywhere.
    (Avoids exceptAll, which trips a Catalyst binding bug downstream of
    dropDuplicates in Spark 4.1.)"""
    cols = a.columns
    ca = a.groupBy(*cols).agg(F.count(F.lit(1)).alias("n_a"))
    cb = b.groupBy(*cols).agg(F.count(F.lit(1)).alias("n_b"))
    # null-safe: a row present in only ONE frame leaves the other count
    # NULL; plain != evaluates to NULL there and the row would vanish
    # from the diff, falsely passing one-sided differences.
    diff = ca.join(cb, cols, "full_outer").filter(
        ~F.col("n_a").eqNullSafe(F.col("n_b"))
    )
    return diff.count() == 0


def test_ingest_stream_equals_batch_frame(spark):
    """Full-frame equivalence: the streamed corpus (availableNow over the
    documents fixture) is EXACTLY the batch transform of the same input —
    multiset-equal frames, not just row presence."""
    base = tempfile.mkdtemp(prefix="ingest_eq_")
    landing, corpus, ckpt = f"{base}/landing", f"{base}/corpus", f"{base}/ckpt"
    docs = (
        load_table(spark, SF, "documents")
        .select(
            "doc_id",
            "text",
            "lang",
            F.lit("fixture").alias("source"),
            "n_chars",
        )
    )
    docs.write.mode("overwrite").parquet(landing)
    _await_or_raise(start_ingest_stream(spark, landing, corpus, ckpt), 120)

    streamed = spark.read.parquet(corpus)
    batch = chunk_documents(
        spark.read.parquet(landing)
    ).dropDuplicates(["chunk_id"])
    assert _frames_equal(streamed, batch)
    assert streamed.count() == batch.count() > 0
    shutil.rmtree(base, ignore_errors=True)


def test_tumbling_stream_equals_batch_on_closed_windows(spark, events_dir):
    """Frame equality for the windowed aggregate: with a far-future
    sentinel event appended, the watermark passes every fixture window,
    so streaming append-mode output == batch output on the real data
    (the sentinel's own still-open window is the only difference)."""
    import os
    from datetime import datetime

    d = tempfile.mkdtemp(prefix="events_closed_")
    ev = spark.read.parquet(events_dir)
    sentinel = spark.createDataFrame(
        [(-1, datetime(2030, 1, 1), -1, "__sentinel__", 0.0, "{}")],
        ev.schema,
    )
    ev.unionByName(sentinel).write.mode("overwrite").parquet(
        os.path.join(d, "data")
    )

    stream = spark.readStream.schema(ev.schema).parquet(os.path.join(d, "data"))
    out = _run_stream(
        spark, tumbling_counts(stream), "tumbling_closed_out"
    ).filter(F.col("event_type") != "__sentinel__")
    batch = tumbling_counts(ev)  # batch over the REAL events only
    assert _frames_equal(out, batch)
    assert out.count() == batch.count() > 0
    shutil.rmtree(d, ignore_errors=True)


_FIRST_SEEN_SCHEMA = "doc_id LONG, fp STRING, text STRING"


def _land_first_seen(spark, base, name, rows):
    """Land ``rows`` as one new parquet file set under ``base``/in."""
    import os

    spark.createDataFrame(rows, _FIRST_SEEN_SCHEMA).coalesce(1).write.parquet(
        os.path.join(base, "in", name)
    )


def _first_seen_query(spark, base):
    """One availableNow run of ``first_seen_stream`` over ``base``/in into
    a parquet sink at ``base``/out, one micro-batch per file; the
    checkpoint under ``base`` carries the dedup state across runs (the
    memory sink cannot restart, so a file sink it is)."""
    import os

    from data_ingestion_din_spark.streaming.stateful import first_seen_stream

    stream = (
        spark.readStream.schema(_FIRST_SEEN_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(base, "in", "*"))
    )
    q = (
        first_seen_stream(stream, key_col="fp")
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", os.path.join(base, "out"))
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _await_or_raise(q, 120)
    return q


def _first_seen_rows(spark, base):
    import os

    out = spark.read.parquet(os.path.join(base, "out"))
    return sorted((r.doc_id, r.fp) for r in out.collect())


def test_first_seen_stream_dedups_across_microbatches(spark):
    """Native streaming first-seen filter: duplicate content arriving in a
    LATER micro-batch must be suppressed by state persisted across
    triggers (maxFilesPerTrigger=1 forces one micro-batch per file), and
    within a micro-batch the first row in arrival order wins."""
    base = tempfile.mkdtemp(prefix="first_seen_")
    # batch 1: A, B, plus an in-batch duplicate of A
    _land_first_seen(
        spark, base, "b1",
        [(1, "fpA", "a"), (2, "fpB", "b"), (3, "fpA", "a dup in-batch")],
    )
    # batch 2: cross-batch duplicate of A + fresh C
    _land_first_seen(
        spark, base, "b2", [(4, "fpA", "a dup cross-batch"), (5, "fpC", "c")]
    )
    _first_seen_query(spark, base)
    # exactly one row per distinct fingerprint, regardless of how many
    # micro-batches its duplicates were spread over; the winners are the
    # first arrivals (doc 1, not its in-batch duplicate 3)
    assert _first_seen_rows(spark, base) == [(1, "fpA"), (2, "fpB"), (5, "fpC")]
    shutil.rmtree(base, ignore_errors=True)


def test_first_seen_stream_state_survives_restart(spark):
    """A second query on the same checkpoint (the per-upload restart the
    upload path relies on) must remember every key the first run saw: a
    new file re-landing ``fpB`` emits nothing for it."""
    base = tempfile.mkdtemp(prefix="first_seen_restart_")
    _land_first_seen(spark, base, "b1", [(1, "fpA", "a"), (2, "fpB", "b")])
    _first_seen_query(spark, base)
    assert _first_seen_rows(spark, base) == [(1, "fpA"), (2, "fpB")]
    _land_first_seen(spark, base, "b2", [(6, "fpB", "b again"), (7, "fpD", "d")])
    _first_seen_query(spark, base)
    assert _first_seen_rows(spark, base) == [(1, "fpA"), (2, "fpB"), (7, "fpD")]
    shutil.rmtree(base, ignore_errors=True)


def test_first_seen_stream_plans_native_dedup(spark, capsys):
    """The first-seen filter runs in the JVM state operator: the physical
    plan over a file stream holds ``StreamingDeduplicate`` and no pandas
    state worker."""
    base = tempfile.mkdtemp(prefix="first_seen_plan_")
    _land_first_seen(spark, base, "b1", [(1, "fpA", "a")])
    q = _first_seen_query(spark, base)
    capsys.readouterr()
    q.explain()
    plan = capsys.readouterr().out
    assert "StreamingDeduplicate" in plan
    assert "FlatMapGroupsInPandasWithState" not in plan
    shutil.rmtree(base, ignore_errors=True)


def test_watermark_drop_set_matches_batch_predicate(spark):
    """Exact late-data semantics under the gate: the streamed output
    multiset must EQUAL the batch twin computed over only the rows the
    watermark predicate keeps — i.e. the drop set is derived
    independently (pure Python re-statement of Spark's rule: a row in
    run r is dropped iff its window END ≤ the watermark carried out of
    run r−1; a window is emitted iff its end ≤ the final watermark) and
    the two engines' outputs are compared row for row, not spot-checked.
    Boundary case included (window end == watermark ⇒ dropped)."""
    import os
    import time
    from datetime import datetime, timedelta

    d = tempfile.mkdtemp(prefix="late_exact_")
    data_dir = os.path.join(d, "data")
    ckpt = os.path.join(d, "ckpt")
    out_dir = os.path.join(d, "out")
    os.makedirs(data_dir)
    schema = "ts timestamp, user_id long, event_type string, value double"
    t = lambda s: datetime.fromisoformat("2024-01-01 " + s)  # noqa: E731
    W = timedelta(minutes=10)  # watermark delay
    WIN = timedelta(minutes=5)

    runs = [
        # run 1: on-time rows; carries watermark 10:18 − 10m = 10:08
        [(t("10:00:30"), 1), (t("10:05:30"), 1), (t("10:18:00"), 2)],
        # run 2 vs wm 10:08: 09:50 (end 09:55 ≤ wm → DROP),
        # 10:02 (end 10:05 ≤ wm → DROP),
        # 10:06 (end 10:10 > wm → KEPT, merges into the 10:05 window),
        # 11:00 advances wm to 10:50
        [(t("09:50:10"), 3), (t("10:02:00"), 3), (t("10:06:00"), 1),
         (t("11:00:00"), 1)],
        # run 3 vs wm 10:50: 10:49 (end 10:50 == wm → DROP, boundary),
        # 10:52 (end 10:55 > wm → KEPT); 12:00 advances wm to 11:50
        [(t("10:49:00"), 4), (t("10:52:00"), 4), (t("12:00:00"), 1)],
    ]

    def run_once():
        stream = spark.readStream.schema(schema).parquet(data_dir + "/*")
        q = (
            tumbling_counts(stream, "5 minutes", "10 minutes")
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        _await_or_raise(q, 120)

    # independent derivation of kept rows + final watermark
    def win_end(ts):
        epoch = datetime(1970, 1, 1)
        k = (ts - epoch) // WIN
        return epoch + (k + 1) * WIN

    wm, max_seen, kept, dropped = None, None, [], []
    for i, rows in enumerate(runs):
        batch = [(ts, uid, "click", 1.0) for ts, uid in rows]
        spark.createDataFrame(batch, schema).coalesce(1).write.parquet(
            os.path.join(data_dir, f"b{i}")
        )
        time.sleep(1.1)
        run_once()
        for ts, uid, et, v in batch:
            (dropped if wm is not None and win_end(ts) <= wm else kept).append(
                (ts, uid, et, v)
            )
        bmax = max(ts for ts, *_ in batch)
        max_seen = bmax if max_seen is None else max(max_seen, bmax)
        wm = max_seen - W
    assert len(dropped) == 3  # the crafted drop set, boundary row included

    expected = tumbling_counts(
        spark.createDataFrame(kept, schema), "5 minutes", "10 minutes"
    ).filter(F.col("window_start") + F.expr("INTERVAL 5 MINUTES") <= F.lit(wm))
    got = spark.read.parquet(out_dir).select(expected.columns)
    assert _frames_equal(got, expected), (
        sorted(got.collect()),
        sorted(expected.collect()),
    )
    # windows fed ONLY by dropped rows never appear (ones that also have
    # on-time contributions appear WITHOUT the dropped rows' counts —
    # already proven by the frame equality above)
    kept_windows = {win_end(ts) - WIN for ts, *_ in kept}
    only_dropped = {
        win_end(ts) - WIN for ts, *_ in dropped
    } - kept_windows
    assert only_dropped  # the fixture does craft such windows
    for start in only_dropped:
        assert got.filter(F.col("window_start") == F.lit(start)).count() == 0
    shutil.rmtree(d, ignore_errors=True)


def test_session_windows_split_session_straddles_restart(spark):
    """The landing split must fall INSIDE the largest session (its
    events are divided between the two checkpointed runs) — otherwise
    the query's parity would not prove cross-restart session merging."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from data_ingestion_din_spark.plans import QUERIES
    from data_ingestion_din_spark.plans.streaming_cdc import _SESSION_GAP_US
    from data_ingestion_din_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    out = QUERIES["streaming_session_windows"](spark, sf)
    # recompute the split the staging helper chose
    ev = load_table(spark, sf, "events").select("user_id", "ts")
    w_ord = W.partitionBy("user_id").orderBy("ts")
    gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w_ord))
    s = ev.withColumn(
        "brk", F.when(gap.isNull() | (gap > _SESSION_GAP_US), 1).otherwise(0)
    ).withColumn(
        "seq",
        F.sum("brk").over(
            w_ord.rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
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
    assert big["n"] >= 2, "fixture has no multi-event session"
    split_us = (big["st"] + big["en"]) // 2
    assert big["st"] < split_us <= big["en"]
    # the straddling session must appear ONCE in the output, whole
    row = out.filter(
        (F.col("user_id") == big["user_id"])
        & (F.col("start_us") == big["st"])
    ).collect()
    assert len(row) == 1
    assert row[0].n_events == big["n"]
    # and no sentinel leakage
    assert out.filter(F.col("user_id") < 0).count() == 0


def test_streaming_hll_emissions_monotone_and_match_batch(spark):
    """The running-max stream emits per key only on increase, so per-key
    emissions must be strictly increasing in landing order, and the max
    emission must equal the batch register."""
    import pyspark.sql.functions as F

    from data_ingestion_din_spark.plans.streaming_sketches import (
        _hll_out_dir,
        _hll_register_rows,
    )

    sf = "/root/testdata/sf0.001"
    out = _hll_out_dir(spark, sf)
    emitted = spark.read.parquet(out).collect()
    per_key: dict = {}
    for r in emitted:
        per_key.setdefault((r.event_type, r.bucket), []).append(r.rnk)
    # at most 2 emissions per key (2 landing batches), strictly rising
    for vals in per_key.values():
        assert len(vals) <= 2
        assert len(set(vals)) == len(vals)
    batch = {
        (r.event_type, r.bucket): r.r
        for r in _hll_register_rows(spark, sf)
        .groupBy("event_type", "bucket")
        .agg(F.max("rnk").alias("r"))
        .collect()
    }
    assert {k: max(v) for k, v in per_key.items()} == batch


def test_ddw_boundary_conventions(spark, tmp_path):
    """Pin dropDuplicatesWithinWatermark's boundary arithmetic, which
    the streaming_dedup_watermark oracle restates (ADVICE r5 asked for
    exactly this probe):

    - late-row filter is STRICT: a batch-2 row exactly AT the watermark
      is dropped as late; one microsecond above survives.
    - state eviction happens AT equality: batch-1 state whose expiry
      (event time + delay) equals the watermark is already expired, so
      the batch-2 duplicate is emitted.
    - expiry uses the UN-truncated event time: a state row whose
      ms-truncated expiry equals the watermark but whose microsecond
      expiry exceeds it is still live (the duplicate is dropped) —
      ms-truncating the event time in the oracle would be wrong.

    Watermark here: max batch-1 event 00:01:00.000789, ms-truncated to
    60.000 s, minus the 10 s delay = 50.000 s.
    """
    base = str(tmp_path)
    landing, ckpt, out = [f"{base}/{d}" for d in ("landing", "ckpt", "out")]

    def mk(rows, sub):
        df = spark.createDataFrame(rows, "k string, ts string").select(
            "k", F.col("ts").cast("timestamp").alias("ts")
        )
        df.coalesce(1).write.mode("overwrite").parquet(f"{landing}/{sub}")

    def run_once():
        s = spark.readStream.schema("k string, ts timestamp").parquet(
            landing + "/*"
        )
        q = (
            s.withWatermark("ts", "10 seconds")
            .dropDuplicatesWithinWatermark(["k"])
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        _await_or_raise(q, 120)

    mk(
        [
            ("wm", "2024-01-01 00:01:00.000789"),
            ("a", "2024-01-01 00:00:40.000"),  # expiry 50.000 == wm
            ("b", "2024-01-01 00:00:39.999"),  # expiry 49.999 < wm
            ("c", "2024-01-01 00:00:40.001"),  # expiry 50.001 > wm
            # ms-truncated expiry == wm, microsecond expiry > wm
            ("d", "2024-01-01 00:00:40.000500"),
        ],
        "b0",
    )
    run_once()
    mk(
        [(k, "2024-01-01 00:01:00.0") for k in "abcd"]
        + [
            ("e", "2024-01-01 00:00:50.000"),     # exactly wm -> late
            ("f", "2024-01-01 00:00:49.999999"),  # below wm -> late
            ("g", "2024-01-01 00:00:50.000001"),  # above wm -> kept
        ],
        "b1",
    )
    run_once()

    from collections import Counter

    emissions = Counter(r.k for r in spark.read.parquet(out).collect())
    assert dict(emissions) == {
        "wm": 1,
        "a": 2,  # state expired AT equality -> duplicate emitted
        "b": 2,  # state expired below wm -> duplicate emitted
        "c": 1,  # state live -> duplicate dropped
        "d": 1,  # un-truncated expiry live -> duplicate dropped
        # e (exactly at wm) and f (below wm) dropped as late: absent
        "g": 1,  # above wm, new key -> emitted
    }


def test_streaming_funnel_consistent_with_batch_funnel(spark):
    """The incremental funnel must agree with the batch funnel where
    their semantics provably coincide: gate counts are partition sums,
    and cumulative exact-dedup admits exactly one doc per distinct
    fingerprint overall (the representative may differ — first-batch
    winner vs global min doc_id — but the COUNT equals the batch
    funnel's dedup count). Budget admission is greedy-continuation, so
    only the <= budget invariant is asserted there."""
    from data_ingestion_din_spark.plans import QUERIES
    from data_ingestion_din_spark.plans.text_pipeline import _CUR_BUDGET

    sf = "/root/testdata/sf0.001"
    batch = {
        (r["stage"]): (r["n_docs"], r["n_tokens"])
        for r in QUERIES["corpus_curation_funnel"](spark, sf).collect()
    }
    inc = QUERIES["streaming_curation_funnel"](spark, sf).collect()
    by_stage: dict[str, int] = {}
    for r in inc:
        by_stage[r["stage"]] = by_stage.get(r["stage"], 0) + r["n_docs"]

    assert by_stage["input"] == batch["input"][0]
    assert by_stage["quality_lang_gate"] == batch["quality_lang_gate"][0]
    assert by_stage["exact_dedup_incr"] == batch["exact_dedup"][0]
    # budget: the two-batch greedy admission can never overshoot the
    # per-language budget; token totals per batch stay under it too
    for r in inc:
        if r["stage"] == "token_budget_incr":
            assert r["n_tokens"] <= 3 * _CUR_BUDGET  # <= #langs * budget


def test_streaming_funnel_replay_idempotent(spark, tmp_path):
    """foreachBatch delivers at-least-once: after a mid-batch crash the
    SAME epoch replays. The funnel processor's epoch-keyed state layout
    must make that replay a no-op — audit rows, fingerprint state and
    budget consumption identical after re-processing an epoch, and the
    replayed epoch must NOT anti-join against its own failed attempt's
    fingerprints or double-count its own consumption."""
    from data_ingestion_din_spark.plans.streaming_gates import _funnel_processor

    out = str(tmp_path / "out")
    fps = str(tmp_path / "fps")
    lang = str(tmp_path / "lang")
    process = _funnel_processor(out, fps, lang)

    text = "the quick brown fox jumps over the lazy dog and runs on " * 4
    b0 = spark.createDataFrame(
        [(0, text), (2, text + "extra tail of words here")],
        "doc_id bigint, text string",
    )
    b1 = spark.createDataFrame(
        [(1, text), (3, text + "another different ending")],
        "doc_id bigint, text string",
    )

    def snapshot():
        audit = sorted(
            tuple(r)
            for r in spark.read.parquet(out)
            .select("batch_par", "stage_ord", "stage", "n_docs", "n_tokens")
            .collect()
        )
        seen = sorted(r.fp for r in spark.read.parquet(fps).collect())
        cons = sorted(
            (r.lang_guess, r.consumed)
            for r in spark.read.parquet(lang).collect()
        )
        return audit, seen, cons

    process(b0, 0)
    process(b1, 1)
    first = snapshot()

    # replay both epochs (crash-recovery order can replay only the last
    # one, but replaying both is the stronger claim)
    process(b0, 0)
    process(b1, 1)
    assert snapshot() == first

    # doc 1's text duplicates doc 0's -> cross-epoch dedup dropped it
    audit, seen, _ = first
    dedup_rows = {r[0]: r[3] for r in audit if r[2] == "exact_dedup_incr"}
    assert dedup_rows[0] == 2  # both batch-0 docs unique
    assert dedup_rows[1] == 1  # doc 1 deduped against epoch-0 state
    assert len(seen) == 3  # 3 distinct fingerprints total


def test_streaming_minhash_index_replay_idempotent(spark, tmp_path):
    """Same exactly-once-under-replay contract as the funnel, for the
    signature index: re-processing an epoch must leave decisions and
    the signature state identical, and a replayed batch must not probe
    its own failed attempt's signatures."""
    from data_ingestion_din_spark.plans.streaming_indexes import _minhash_index_processor

    out = str(tmp_path / "out")
    sigs = str(tmp_path / "sigs")
    process = _minhash_index_processor(out, sigs)

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 6
    b0 = spark.createDataFrame(
        [(0, base), (2, "totally different words in this one doc " * 8)],
        "doc_id bigint, text string",
    )
    b1 = spark.createDataFrame(
        [(1, base + "tiny edit"), (3, "unrelated third payload " * 10)],
        "doc_id bigint, text string",
    )

    def snapshot():
        dec = sorted(
            tuple(r)
            for r in spark.read.parquet(out)
            .select("doc_id", "is_dup", "matched_doc", "n_agree")
            .collect()
        )
        st = sorted(
            tuple(r)
            for r in spark.read.parquet(sigs)
            .select("doc_id", "mh0", "mh7")
            .collect()
        )
        return dec, st

    process(b0, 0)
    process(b1, 1)
    first = snapshot()
    process(b0, 0)
    process(b1, 1)
    assert snapshot() == first

    dec = {r[0]: r for r in first[0]}
    assert dec[0][1] is False and dec[2][1] is False  # empty index
    assert dec[1][1] is True and dec[1][2] == 0  # near-dup of doc 0
    assert dec[3][1] is False  # unrelated stays clean


def test_streaming_scd2_replay_and_boundary(spark, tmp_path):
    """SCD2 maintainer contract: (a) replaying an epoch is a no-op
    (epoch-keyed idempotence); (b) a batch that CONTINUES the open
    version's state extends it (no spurious version bump at the batch
    boundary) while a state change closes it with the new version's
    valid_from. user_id=7 hashes into the 1/7 scd sample gate."""
    from datetime import datetime

    from data_ingestion_din_spark.functions.hashing import h64
    from data_ingestion_din_spark.plans.streaming_cdc import _scd2_processor
    from pyspark.sql import functions as F2

    # find two sampled user ids (h64('scd:'||uid) % 7 == 0)
    uids = [
        r.id
        for r in spark.range(0, 60)
        .filter(
            h64(F2.concat(F2.lit("scd:"), F2.col("id").cast("string"))) % 7
            == 0
        )
        .collect()
    ][:2]
    assert len(uids) == 2
    u1, u2 = uids

    out = str(tmp_path / "hist")
    process = _scd2_processor(out)
    t = lambda s: datetime.fromisoformat(s)  # noqa: E731
    schema = "user_id bigint, event_id bigint, event_type string, ts timestamp"

    b0 = spark.createDataFrame(
        [
            (u1, 1, "view", t("2024-01-01 10:00:00")),
            (u1, 2, "view", t("2024-01-01 10:01:00")),
            (u1, 3, "click", t("2024-01-01 10:02:00")),
            (u2, 4, "view", t("2024-01-01 10:03:00")),
        ],
        schema,
    )
    b1 = spark.createDataFrame(
        [
            # u1 CONTINUES 'click' -> open version extends, no bump
            (u1, 5, "click", t("2024-01-01 11:00:00")),
            # then changes -> version 3 opens, closing version 2
            (u1, 6, "view", t("2024-01-01 11:30:00")),
            # u2 changes immediately -> version 2
            (u2, 7, "error", t("2024-01-01 11:45:00")),
        ],
        schema,
    )

    def snapshot():
        from pyspark.sql.window import Window as W

        hist = spark.read.option("basePath", out).parquet(out)
        latest = (
            hist.withColumn(
                "rk",
                F2.row_number().over(
                    W.partitionBy("user_id", "version").orderBy(
                        F2.desc("epoch")
                    )
                ),
            )
            .filter(F2.col("rk") == 1)
            .drop("rk", "epoch")
        )
        return sorted(tuple(r) for r in latest.collect())

    process(b0, 0)
    process(b1, 1)
    first = snapshot()
    process(b0, 0)
    process(b1, 1)
    assert snapshot() == first  # replay is a no-op

    rows = {
        (r[0], r[1]): r for r in first
    }  # (user_id, version) -> full row
    # u1: v1 view(2 events, closed), v2 click EXTENDED to 2 events
    # (one each side of the boundary) then closed, v3 view open
    assert rows[(u1, 1)][2] == "view" and rows[(u1, 1)][6] == 2
    assert rows[(u1, 2)][2] == "click" and rows[(u1, 2)][6] == 2
    assert rows[(u1, 2)][4] is not None  # closed by v3
    assert rows[(u1, 3)][2] == "view" and rows[(u1, 3)][5] == 1  # current
    # u2: v1 view closed, v2 error current
    assert rows[(u2, 1)][2] == "view" and rows[(u2, 1)][4] is not None
    assert rows[(u2, 2)][2] == "error" and rows[(u2, 2)][5] == 1


def test_streaming_phash_index_replay_idempotent(spark, tmp_path):
    """Same exactly-once-under-replay contract as the MinHash index, for
    the media pHash band index: re-processing an epoch must leave
    decisions and the band state identical, a replayed batch must not
    probe its own failed attempt's hashes, and a near-identical payload
    landed later must match its earlier twin."""
    from data_ingestion_din_spark.plans.streaming_indexes import _phash_index_processor

    out = str(tmp_path / "out")
    phs = str(tmp_path / "phs")
    process = _phash_index_processor(out, phs)

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 6
    b0 = spark.createDataFrame(
        [(0, base), (2, "totally different words in this one doc " * 8)],
        "doc_id bigint, text string",
    )
    b1 = spark.createDataFrame(
        [(1, base), (3, "unrelated third payload " * 10)],
        "doc_id bigint, text string",
    )

    def snapshot():
        dec = sorted(
            tuple(r)
            for r in spark.read.parquet(out)
            .select("path", "is_dup", "matched_path", "hamming")
            .collect()
        )
        st = sorted(
            tuple(r)
            for r in spark.read.parquet(phs)
            .select("path", "b0", "b3")
            .collect()
        )
        return dec, st

    process(b0, 0)
    process(b1, 1)
    first = snapshot()
    process(b0, 0)
    process(b1, 1)
    assert snapshot() == first

    dec = {r[0]: r for r in first[0]}
    d0 = dec["media/doc_0.gif"]
    d1 = dec["media/doc_1.gif"]  # h64("media:1") % 4 == 0 → .gif
    assert d0[1] is False  # landed against an empty index
    assert d1[1] is True and d1[2] == "media/doc_0.gif"  # twin payload
    assert dec["media/doc_3.bin"][1] is False  # unrelated stays clean

    # empty (checkpoint-recovery) batch writes nothing
    empty = spark.createDataFrame([], "doc_id bigint, text string")
    process(empty, 2)
    assert snapshot() == first


def test_streaming_ivf_index_replay_idempotent(spark, tmp_path):
    """IVF-index maintainer contract: (a) replaying an epoch leaves
    assignments and centroid state identical; (b) the training epoch
    writes centroids exactly once and later epochs route against them
    WITHOUT retraining (the frozen-quantizer invariant)."""
    import os

    from data_ingestion_din_spark.plans.streaming_indexes import _ivf_index_processor

    out = str(tmp_path / "out")
    cents = str(tmp_path / "cents")
    process = _ivf_index_processor(out, cents, k=2)

    def vec(base):
        return [float(base)] * 8

    b0 = spark.createDataFrame(
        [(0, vec(0.0)), (1, vec(0.001)), (10, vec(5.0)), (11, vec(5.001))],
        "vec_id bigint, embedding array<float>",
    )
    b1 = spark.createDataFrame(
        [(20, vec(0.002)), (21, vec(4.999))],
        "vec_id bigint, embedding array<float>",
    )

    def snapshot():
        a = sorted(
            tuple(r)
            for r in spark.read.parquet(out)
            .select("vec_id", "cluster", "incremental")
            .collect()
        )
        c = sorted(
            (r.cluster, tuple(r.qv))
            for r in spark.read.parquet(cents).collect()
        )
        return a, c

    process(b0, 0)
    process(b1, 1)
    first = snapshot()
    process(b0, 0)
    process(b1, 1)
    assert snapshot() == first

    a = {r[0]: r for r in first[0]}
    # training epoch separates the two blobs; batch 2 routes to them
    assert a[0][1] == a[1][1] and a[10][1] == a[11][1]
    assert a[0][1] != a[10][1]
    assert a[20][1] == a[0][1] and a[20][2] is True  # near blob A
    assert a[21][1] == a[10][1] and a[21][2] is True  # near blob B
    # centroid state has exactly the training epoch's k rows
    assert len(first[1]) == 2
    assert os.listdir(cents) == ["epoch=0"]


def test_streaming_quality_gate_replay_idempotent(spark, tmp_path):
    """Frozen-classifier contract: replaying an epoch leaves verdicts
    and vocab state identical; the vocab is written exactly once (by
    the training epoch) and later epochs score against it without
    retraining — OOV relative to batch-1's vocabulary, not their own."""
    import os

    from data_ingestion_din_spark.plans.streaming_gates import _quality_gate_processor

    out = str(tmp_path / "out")
    vocab = str(tmp_path / "vocab")
    process = _quality_gate_processor(out, vocab, k=3)

    b0 = spark.createDataFrame(
        [(0, "alpha beta alpha gamma"), (2, "beta beta gamma")],
        "doc_id bigint, text string",
    )
    b1 = spark.createDataFrame(
        [(1, "alpha novel words here"), (3, "beta gamma")],
        "doc_id bigint, text string",
    )

    def snapshot():
        v = sorted(
            tuple(r)
            for r in spark.read.parquet(out)
            .select("doc_id", "n_tok", "oov_tok", "logit_sum", "passed")
            .collect()
        )
        w = sorted(tuple(r) for r in spark.read.parquet(vocab).collect())
        return v, w

    process(b0, 0)
    process(b1, 1)
    first = snapshot()
    process(b0, 0)
    process(b1, 1)
    assert snapshot() == first

    v = {r[0]: r for r in first[0]}
    # k=3 vocab from batch 0 = {alpha, beta, gamma}; doc 1 has 3 OOV
    # tokens scored 0 — judged by the FROZEN model, not its own batch
    assert v[0][2] == 0 and v[2][2] == 0
    assert v[1][1] == 4 and v[1][2] == 3
    assert v[3][2] == 0
    assert os.listdir(vocab) == ["epoch=0"]


def test_streaming_substring_index_replay_idempotent(spark, tmp_path):
    """Substring-index contract: replaying an epoch leaves verdicts and
    the fingerprint index identical; spans are detected against the
    PRIOR landings' windows only (epoch-0 docs are all zero), and the
    index grows every landing (unlike the frozen models)."""
    import os

    from data_ingestion_din_spark.plans.streaming_indexes import _substring_index_processor

    out = str(tmp_path / "out")
    wfps = str(tmp_path / "wfps")
    process = _substring_index_processor(out, wfps, w=3)

    b0 = spark.createDataFrame(
        [(0, "a b c d e"), (2, "x y z w")], "doc_id bigint, text string"
    )
    b1 = spark.createDataFrame(
        [(1, "q q a b c d r s"), (3, "totally different text here")],
        "doc_id bigint, text string",
    )

    def snapshot():
        v = sorted(
            tuple(r)
            for r in spark.read.parquet(out)
            .select("doc_id", "n_spans", "dup_tokens")
            .collect()
        )
        w = sorted(tuple(r) for r in spark.read.parquet(wfps).collect())
        return v, w

    process(b0, 0)
    process(b1, 1)
    first = snapshot()
    process(b0, 0)
    process(b1, 1)
    assert snapshot() == first

    v = {r[0]: r for r in first[0]}
    # doc 1's 3-token windows at starts 3,4 match doc 0's (a b c),(b c d)
    # → ONE merged island covering tokens [3, 6] = 4 duplicated tokens
    assert v[1] == (1, 1, 4)
    # epoch-0 docs and the unrelated doc are clean
    assert v[0] == (0, 0, 0) and v[2] == (2, 0, 0) and v[3] == (3, 0, 0)
    # the index is append-only state: BOTH landings committed epochs
    assert sorted(os.listdir(wfps)) == ["epoch=0", "epoch=1"]


def test_streaming_dsir_gate_replay_idempotent(spark, tmp_path):
    """Frozen-DSIR contract: replaying an epoch leaves verdicts and the
    ratio-table state identical; the table is written exactly once (by
    the training epoch) and later landings are weighted against it —
    identical text scores identically regardless of landing or source."""
    import os

    from data_ingestion_din_spark.plans.streaming_gates import _dsir_gate_processor

    out = str(tmp_path / "out")
    ratio = str(tmp_path / "ratio")
    process = _dsir_gate_processor(out, ratio)

    b0 = spark.createDataFrame(
        [(0, "src0", "alpha beta alpha"), (2, "web", "alpha gamma delta")],
        "doc_id bigint, source string, text string",
    )
    b1 = spark.createDataFrame(
        [(1, "web", "alpha beta alpha"), (3, "web", "novel words only")],
        "doc_id bigint, source string, text string",
    )

    def snapshot():
        v = sorted(
            tuple(r)
            for r in spark.read.parquet(out)
            .select("doc_id", "n_grams", "weight", "selected")
            .collect()
        )
        w = sorted(tuple(r) for r in spark.read.parquet(ratio).collect())
        return v, w

    process(b0, 0)
    process(b1, 1)
    first = snapshot()
    process(b0, 0)
    process(b1, 1)
    assert snapshot() == first

    v = {r[0]: r for r in first[0]}
    # doc 1 repeats doc 0's text — the FROZEN model weights them
    # identically even though they landed in different epochs with
    # different sources
    assert v[1][1:3] == v[0][1:3]
    # the ratio table is frozen: exactly one (training) epoch, with
    # exactly one offset sentinel row (bkt = -1)
    assert os.listdir(ratio) == ["epoch=0"]
    offs = [r for r in first[1] if r[0] == -1]
    assert len(offs) == 1


def test_streaming_ivfpq_index_replay_idempotent(spark, tmp_path):
    """Composed-index maintainer contract: replaying an epoch leaves the
    posting lists and BOTH frozen artifacts (centroids, codebooks)
    identical; each is written exactly once by the training epoch, and
    later landings are routed AND encoded against the frozen states."""
    import os

    from data_ingestion_din_spark.plans.streaming_indexes import _ivfpq_index_processor

    out = str(tmp_path / "out")
    cents = str(tmp_path / "cents")
    cbs = str(tmp_path / "cb")
    process = _ivfpq_index_processor(out, cents, cbs, k=2)

    def vec(base):
        return [float(base + i * 0.001) for i in range(8)]

    b0 = spark.createDataFrame(
        [(0, vec(0.0)), (1, vec(0.01)), (2, vec(5.0)), (3, vec(5.01))],
        "vec_id bigint, embedding array<float>",
    )
    b1 = spark.createDataFrame(
        [(10, vec(0.02)), (11, vec(5.02))],
        "vec_id bigint, embedding array<float>",
    )

    def snapshot():
        p = sorted(
            tuple(r)
            for r in spark.read.parquet(out)
            .select("vec_id", "cluster", "m", "code", "incremental")
            .collect()
        )
        c = sorted(tuple(r) for r in spark.read.parquet(cents).collect())
        b = sorted(tuple(r) for r in spark.read.parquet(cbs).collect())
        return p, c, b

    process(b0, 0)
    process(b1, 1)
    first = snapshot()
    process(b0, 0)
    process(b1, 1)
    assert snapshot() == first

    posts = {r[0]: r for r in first[0] if r[2] == 0}  # m=0 row per vec
    # landing-2 vectors are INCREMENTAL and routed to the cells their
    # near-twins trained (10 ≈ vec 0/1's cell, 11 ≈ vec 2/3's cell)
    assert posts[10][4] is True and posts[11][4] is True
    assert posts[10][1] == posts[0][1]
    assert posts[11][1] == posts[2][1]
    # both artifacts frozen: exactly one (training) epoch each
    assert os.listdir(cents) == ["epoch=0"]
    assert os.listdir(cbs) == ["epoch=0"]


def test_streaming_bpe_gate_replay_idempotent(spark, tmp_path):
    """Frozen-tokenizer contract: replaying an epoch leaves verdicts and
    the merge table identical; the merges are written exactly once (by
    the training epoch) and later epochs ENCODE against them without
    retraining — batch-1 docs are tokenized by batch-0's merges, not
    their own batch's statistics."""
    import os

    from data_ingestion_din_spark.plans.streaming_gates import _bpe_gate_processor

    out = str(tmp_path / "out")
    merges = str(tmp_path / "merges")
    process = _bpe_gate_processor(out, merges, steps=2)

    b0 = spark.createDataFrame(
        [(0, "abab abab ab"), (2, "ab cd")], "doc_id bigint, text string"
    )
    b1 = spark.createDataFrame(
        [(1, "abab xy"), (3, "cd cd")], "doc_id bigint, text string"
    )

    def snapshot():
        v = sorted(
            tuple(r)
            for r in spark.read.parquet(out)
            .select("doc_id", "n_words", "n_subwords", "n_chars")
            .collect()
        )
        m = sorted(tuple(r) for r in spark.read.parquet(merges).collect())
        return v, m

    process(b0, 0)
    process(b1, 1)
    first = snapshot()
    process(b0, 0)
    process(b1, 1)
    assert snapshot() == first

    # learned merges: step 0 (a,b) n=6, step 1 (ab,ab) n=2
    assert [(m[1], m[2]) for m in sorted(first[1])][:2] == [
        ("a", "b"),
        ("ab", "ab"),
    ]
    v = {r[0]: r for r in first[0]}
    # doc 1 "abab xy": abab → [abab] via the FROZEN merges (1 subword)
    assert v[1] == (1, 2, 3, 6)
    # doc 3 "cd cd": had batch 1 trained on itself, (c,d) would top its
    # pair counts and cd would encode to 1 subword each — the frozen
    # model leaves it at characters (2 + 2)
    assert v[3] == (3, 2, 4, 4)
    assert os.listdir(merges) == ["epoch=0"]


def test_streaming_rollup_maintenance_replay_idempotent(spark, tmp_path):
    """Additive-IVM contract: replaying an epoch leaves the maintained
    rollup identical (prior-epoch-only reads + idempotent overwrite),
    and the latest state equals the from-scratch aggregation of
    everything landed so far."""
    from data_ingestion_din_spark.plans.streaming_core import _latest_epoch_rows
    from data_ingestion_din_spark.plans.streaming_sketches import _rollup_processor

    state = str(tmp_path / "state")
    process = _rollup_processor(state)

    b0 = spark.createDataFrame(
        [("click", "2024-01-01 10:05:00", 1.5),
         ("click", "2024-01-01 10:55:00", 2.0),
         ("view", "2024-01-01 11:05:00", 3.25)],
        "event_type string, ts_s string, value double",
    ).select(F.col("ts_s").cast("timestamp").alias("ts"), "event_type", "value")
    b1 = spark.createDataFrame(
        [("click", "2024-01-01 10:59:00", 4.0),
         ("view", "2024-01-01 12:00:00", 0.75)],
        "event_type string, ts_s string, value double",
    ).select(F.col("ts_s").cast("timestamp").alias("ts"), "event_type", "value")

    def snapshot():
        cur = _latest_epoch_rows(
            spark, state, ["window_start", "event_type"]
        )
        return sorted(
            (str(r.window_start), r.event_type, r.n_events,
             float(r.total_value))
            for r in cur.collect()
        )

    process(b0, 0)
    process(b1, 1)
    first = snapshot()
    process(b0, 0)
    process(b1, 1)
    assert snapshot() == first

    want = sorted(
        (str(r.h["start"]), r.event_type, r.n, float(r.v))
        for r in b0.unionByName(b1)
        .groupBy(F.window("ts", "1 hour").alias("h"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("value").cast("decimal(12,2)")).alias("v"),
        )
        .collect()
    )
    assert first == want
    # the 10:00 click hour accumulated across both landings: 2 + 1 rows
    assert ("2024-01-01 10:00:00", "click", 3, 7.5) in first


def test_streaming_decontam_gate_replay_idempotent(spark, tmp_path):
    """Frozen-benchmark contract: the shingle set is written exactly
    once (by the training epoch), later epochs probe against it without
    refreezing, and replaying either epoch changes nothing. Doc 14 is
    the benchmark slice (doc_id % 14 == 0) — excluded from verdicts;
    doc 1 repeats the benchmark's 8-gram and must be flagged."""
    import os

    from data_ingestion_din_spark.plans.streaming_gates import _decontam_gate_processor

    bench = "w0 w1 w2 w3 w4 w5 w6 w7"
    out = str(tmp_path / "out")
    st = str(tmp_path / "shingles")
    process = _decontam_gate_processor(out, st, n=8)

    b0 = spark.createDataFrame(
        [(14, bench), (2, "clean text with no overlap here at all x")],
        "doc_id bigint, text string",
    )
    b1 = spark.createDataFrame(
        [(1, "prefix " + bench + " suffix"), (3, "short doc")],
        "doc_id bigint, text string",
    )

    def snapshot():
        v = sorted(
            tuple(r)
            for r in spark.read.parquet(out)
            .select("doc_id", "n_hits", "contaminated")
            .collect()
        )
        s = sorted(tuple(r) for r in spark.read.parquet(st).collect())
        return v, s

    process(b0, 0)
    process(b1, 1)
    first = snapshot()
    process(b0, 0)
    process(b1, 1)
    assert snapshot() == first

    v = {r[0]: r for r in first[0]}
    assert 14 not in v  # benchmark slice gets no verdict
    assert v[2] == (2, 0, 0)
    assert v[1][1] >= 1 and v[1][2] == 1  # overlaps the frozen set
    assert v[3] == (3, 0, 0)  # <8 tokens -> no shingles, still a verdict
    assert os.listdir(st) == ["epoch=0"]  # frozen after training epoch


def test_streaming_semdedup_gate_replay_idempotent(spark, tmp_path):
    """Semantic-gate contract: centroids are written exactly once (by
    the training epoch), the member index grows every landing, batch-2
    vectors are probed against batch-1's members only, and replaying
    either epoch changes nothing. Vectors 0/1 are near-identical across
    the two batches (cos ~= 1 > 0.4); vector 3 is orthogonal-ish."""
    import os

    from data_ingestion_din_spark.plans.streaming_gates import _semdedup_gate_processor

    out = str(tmp_path / "out")
    cents = str(tmp_path / "cents")
    members = str(tmp_path / "members")
    process = _semdedup_gate_processor(out, cents, members, k=2)

    dims = 64
    base = [0.5] * dims
    anti = [0.5 * (-1) ** i for i in range(dims)]
    b0 = spark.createDataFrame(
        [(0, base), (2, anti)], "vec_id bigint, embedding array<float>"
    )
    b1 = spark.createDataFrame(
        [(1, [0.49] * dims), (3, [0.51 * (-1) ** (i + 1) for i in range(dims)])],
        "vec_id bigint, embedding array<float>",
    )

    def snapshot():
        v = sorted(
            tuple(r)
            for r in spark.read.parquet(out)
            .select("vec_id", "cluster", "n_cand", "n_near", "is_dup")
            .collect()
        )
        c = sorted(
            (r["cluster"], tuple(r["qv"]))
            for r in spark.read.parquet(cents).collect()
        )
        return v, c

    process(b0, 0)
    process(b1, 1)
    first = snapshot()
    process(b0, 0)
    process(b1, 1)
    assert snapshot() == first

    v = {r[0]: r for r in first[0]}
    # training epoch: probed against an empty index
    assert v[0][2] == 0 and v[0][4] == 0
    assert v[2][2] == 0 and v[2][4] == 0
    # vec 1 lands in vec 0's cell and clears the 0.4 gate
    assert v[1][1] == v[0][1]
    assert v[1][3] >= 1 and v[1][4] == 1
    # vec 3 (the negation of vec 2) routes to the base cell, where its
    # dot with the member is 0 (alternating signs cancel): candidate
    # seen, gate not cleared
    assert v[3][2] >= 1 and v[3][4] == 0
    assert os.listdir(cents) == ["epoch=0"]  # frozen after training
    assert sorted(os.listdir(members)) == ["epoch=0", "epoch=1"]  # grows


def test_streaming_tmix_gate_replay_idempotent(spark, tmp_path):
    """Frozen-mixture contract: the rate table is written exactly once
    (by the training epoch), later landings are sampled by it (not by
    their own composition), a language unseen at planning time is
    dropped, and replaying either epoch changes nothing."""
    import os

    from data_ingestion_din_spark.plans.streaming_gates import _tmix_gate_processor

    out = str(tmp_path / "out")
    st = str(tmp_path / "rates")
    process = _tmix_gate_processor(out, st)

    # en:3 docs, th:1 doc -> thr(th)=1e6 (rarest kept whole),
    # thr(en)=floor(1e6*sqrt(1/3))=577350
    b0 = spark.createDataFrame(
        [(0, "en"), (2, "en"), (4, "en"), (6, "th")],
        "doc_id bigint, lang string",
    )
    b1 = spark.createDataFrame(
        [(1, "th"), (3, "en"), (5, "xx")], "doc_id bigint, lang string"
    )

    def snapshot():
        v = sorted(
            tuple(r)
            for r in spark.read.parquet(out)
            .select("doc_id", "lang", "kept")
            .collect()
        )
        s = sorted(tuple(r) for r in spark.read.parquet(st).collect())
        return v, s

    process(b0, 0)
    process(b1, 1)
    first = snapshot()
    process(b0, 0)
    process(b1, 1)
    assert snapshot() == first

    rates = {r[0]: r[1] for r in first[1]}
    assert rates["th"] == 1_000_000  # rarest language kept whole
    assert rates["en"] == 577_350
    v = {r[0]: r for r in first[0]}
    assert v[1] == (1, "th", 1)  # thr=1e6: always kept
    assert v[6] == (6, "th", 1)
    assert v[5] == (5, "xx", 0)  # unseen at planning time -> dropped
    assert os.listdir(st) == ["epoch=0"]  # frozen after training epoch


def test_streaming_profile_gate_replay_idempotent(spark, tmp_path):
    """Frozen-baseline contract: the profile baseline is written exactly
    once (epoch 0), later landings are judged against it (not against
    themselves), and replaying either epoch changes nothing. Batch 1
    collapses lang cardinality 3 -> 1 while rows stay comparable, so
    the lang row must flag drift."""
    import os

    from data_ingestion_din_spark.plans.streaming_sketches import _profile_gate_processor

    out = str(tmp_path / "out")
    st = str(tmp_path / "baseline")
    process = _profile_gate_processor(out, st)

    b0 = spark.createDataFrame(
        [
            (2, "a b", "en", "s0", 3),
            (4, "c d", "th", "s1", 3),
            (6, "e f", "de", "s2", 3),
            (8, "g h", "th", "s3", 3),
        ],
        "doc_id bigint, text string, lang string, source string,"
        " n_chars bigint",
    )
    b1 = spark.createDataFrame(
        [
            (1, "i j", "en", "t0", 3),
            (3, "k l", "en", "t1", 3),
            (5, "m n", "en", "t2", 3),
            (7, None, "en", "t3", 3),
        ],
        "doc_id bigint, text string, lang string, source string,"
        " n_chars bigint",
    )

    def snapshot():
        v = sorted(
            tuple(r)
            for r in spark.read.parquet(out)
            .select("col", "n_rows", "n_nulls", "n_distinct", "drifted")
            .collect()
        )
        b = sorted(tuple(r) for r in spark.read.parquet(st).collect())
        return v, b

    process(b0, 0)
    process(b1, 1)
    first = snapshot()
    process(b0, 0)
    process(b1, 1)
    assert snapshot() == first

    rows = first[0]
    # epoch 0 is the baseline judged against itself -> never drifted
    assert all(r[4] == 0 for r in rows if r[0] == "lang" and r[3] == 3)
    # lang cardinality collapses 3 -> 1 at equal rows: density 750 vs
    # 250 per-mille is a >2x shift -> flagged (an exactly-2x shift is
    # NOT — the rule is strict)
    lang1 = [r for r in rows if r[0] == "lang" and r[3] == 1]
    assert lang1 and lang1[0][4] == 1
    text_null = [r for r in rows if r[0] == "text" and r[2] == 1]
    assert text_null  # the null count is reported
    assert os.listdir(st) == ["epoch=0"]  # frozen after epoch 0


def test_streaming_ppl_gate_replay_idempotent(spark, tmp_path):
    """Frozen-LM contract: replaying an epoch leaves verdicts and the
    LM state identical; the LM is written exactly once (by the training
    epoch) and later landings are scored against it — identical text
    scores identically regardless of landing, and only HELD-OUT text
    exercises the backoff path."""
    import os

    from data_ingestion_din_spark.plans.streaming_gates import _ppl_gate_processor

    out = str(tmp_path / "out")
    lm = str(tmp_path / "lm")
    process = _ppl_gate_processor(out, lm)

    b0 = spark.createDataFrame(
        [(0, "alpha beta alpha beta"), (2, "alpha gamma delta")],
        "doc_id bigint, text string",
    )
    b1 = spark.createDataFrame(
        [(1, "alpha beta alpha beta"), (3, "novel words only here")],
        "doc_id bigint, text string",
    )

    def snapshot():
        v = sorted(
            tuple(r)
            for r in spark.read.parquet(out)
            .select("doc_id", "n_bigrams", "n_backoff", "ppl_milli", "keep")
            .collect()
        )
        w = sorted(tuple(r) for r in spark.read.parquet(lm).collect())
        return v, w

    process(b0, 0)
    process(b1, 1)
    first = snapshot()
    process(b0, 0)
    process(b1, 1)
    assert snapshot() == first

    v = {r[0]: r for r in first[0]}
    # doc 1 repeats doc 0's text — the FROZEN LM scores them
    # identically even though they landed in different epochs
    assert v[1][1:] == v[0][1:]
    # training-epoch docs never back off (their bigrams ARE the LM)
    assert v[0][2] == 0 and v[2][2] == 0
    # doc 3 is all-novel text: every bigram takes the backoff branch
    assert v[3][2] == v[3][1] > 0
    # the LM state is frozen: exactly one (training) epoch, with
    # exactly one total-token sentinel row (kind = 't')
    assert os.listdir(lm) == ["epoch=0"]
    assert sum(1 for r in first[1] if r[0] == "t") == 1


def test_streaming_ppl_gate_matches_batch_frame(spark):
    """Gate readback == the oracle-shaped batch computation at sf0.001
    (stream==batch frame equality, the family's standing check):
    recompute the train-on-evens / score-everyone frame in DuckDB and
    assert row-for-row equality with the checkpointed gate's readback."""
    import duckdb

    from data_ingestion_din_spark.plans import QUERIES
    from data_ingestion_din_spark.plans.streaming_gates import _sppl_oracle

    sf_dir = "/root/testdata/sf0.001"
    rows = QUERIES["streaming_ppl_gate"](spark, sf_dir).collect()
    assert rows
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    batch = con.execute(_sppl_oracle()).fetchall()
    assert [tuple(r) for r in rows] == [tuple(r) for r in batch]
    # landing-1 (even) docs trained the LM: zero backoff by construction
    assert all(r.n_backoff == 0 for r in rows if r.doc_id % 2 == 0)


def test_streaming_anomaly_gate_replay_idempotent(spark, tmp_path):
    """Maintained-rollup anomaly contract: replaying an epoch leaves
    verdicts and the rollup state identical; the first landing only
    builds state (no verdicts), and later landings are judged against
    the PRIOR epoch's per-type distribution — a spike 4+ sigma above
    the prior hours is flagged, an in-range cell is not."""
    import os

    from pyspark.sql import functions as F

    from data_ingestion_din_spark.plans.streaming_sketches import _anomaly_gate_processor

    out = str(tmp_path / "out")
    state = str(tmp_path / "state")
    process = _anomaly_gate_processor(out, state)

    def ev(rows):
        return spark.createDataFrame(
            rows, "event_type string, ts_s string"
        ).select("event_type", F.col("ts_s").cast("timestamp").alias("ts"))

    # landing 1: 'click' has hours with counts 2, 2, 2 (tight prior)
    b0 = ev(
        [("click", f"2024-01-01 {h:02d}:{m:02d}:00") for h in (8, 9, 10) for m in (5, 25)]
    )
    # landing 2: one in-range hour (2 events) and one 8-event spike
    b1 = ev(
        [("click", "2024-01-01 11:05:00"), ("click", "2024-01-01 11:35:00")]
        + [("click", f"2024-01-01 12:{m:02d}:00") for m in range(1, 9)]
    )

    def snapshot():
        v = sorted(
            tuple(r) for r in spark.read.parquet(out).collect()
        )
        w = sorted(tuple(r) for r in spark.read.parquet(state).collect())
        return v, w

    process(b0, 0)
    process(b1, 1)
    first = snapshot()
    process(b0, 0)
    process(b1, 1)
    assert snapshot() == first

    assert not os.path.isdir(os.path.join(out, "epoch=0"))  # no prior yet
    v = {r[0].hour: r for r in first[0]}
    # prior: n=3, sx=6, sxx=12 → rhs=4*(36-36)=0: zero variance means
    # ANY deviation flags — the 8-event spike (lhs=(24-6)²=324) flags,
    # the exact-prior-mean hour (lhs=(6-6)²=0) does not (strict >)
    assert v[12][5] and v[12][3] == 324 and v[12][4] == 0
    assert not v[11][5] and v[11][3] == 0
    # the maintained state after landing 2 holds all 5 hours additively
    cur = {
        (r.window_start.hour): r.n_events
        for r in spark.read.parquet(os.path.join(state, "epoch=1")).collect()
    }
    assert cur == {8: 2, 9: 2, 10: 2, 11: 2, 12: 8}


def test_streaming_bloom_gate_replay_idempotent(spark, tmp_path):
    """Frozen-sketch contract: replaying an epoch leaves verdicts and
    the 512-word filter state identical; the filter is written exactly
    once (by the training epoch) and later landings probe it —
    identical text probes identically regardless of landing, and a doc
    repeating benchmark text is a full-hit."""
    import os

    from data_ingestion_din_spark.plans.streaming_gates import _bloom_gate_processor

    out = str(tmp_path / "out")
    words = str(tmp_path / "words")
    process = _bloom_gate_processor(out, words)

    bench_text = " ".join(f"tok{i}" for i in range(12))  # 5 8-shingles
    b0 = spark.createDataFrame(
        [(0, bench_text), (2, "unrelated words with no overlap at all x y")],
        "doc_id bigint, text string",
    )
    b1 = spark.createDataFrame(
        [(1, bench_text), (3, "still nothing shared here q r s t u v w z")],
        "doc_id bigint, text string",
    )

    def snapshot():
        v = sorted(tuple(r) for r in spark.read.parquet(out).collect())
        w = sorted(tuple(r) for r in spark.read.parquet(words).collect())
        return v, w

    process(b0, 0)
    process(b1, 1)
    first = snapshot()
    process(b0, 0)
    process(b1, 1)
    assert snapshot() == first

    v = {r[0]: r for r in first[0]}
    assert 0 not in v  # doc 0 is the benchmark slice — never a verdict
    # doc 1 repeats the benchmark text: all 5 shingles full-hit, flagged
    assert v[1][1] == 5 and v[1][2] == 5 and v[1][3] is True
    # the filter is frozen: exactly one (training) epoch
    assert os.listdir(words) == ["epoch=0"]


def test_streaming_bloom_gate_plan(spark, tmp_path):
    from data_ingestion_din_spark.plans.streaming_gates import _bloom_gate_processor

    p = _bloom_gate_processor(str(tmp_path / "o"), str(tmp_path / "w"))
    b0 = spark.createDataFrame(
        [(0, " ".join(f"a{i}" for i in range(10)))],
        "doc_id bigint, text string",
    )
    p(b0, 0)
    dfs = p.plan(
        spark.createDataFrame(
            [(1, " ".join(f"a{i}" for i in range(10)))],
            "doc_id bigint, text string",
        ),
        1,
    )
    # scoring epoch: the ≤512-word frozen filter broadcast is REQUIRED
    # (the bounded class, like the DSIR ratio table)
    from tests.test_plan_assertions import _plan_stats

    s = _plan_stats(dfs["verdicts"])
    assert s["bhj"] >= 1, s
    assert dfs["new_state"] is None  # frozen after the training epoch


def test_streaming_quantile_maintenance_replay_idempotent(spark, tmp_path):
    """Additive-histogram contract: replaying an epoch leaves the
    state identical, and the merged histogram equals the from-scratch
    histogram of both batches (merge == rebuild, the mergeable-summary
    property the readback's oracle also enforces)."""
    from data_ingestion_din_spark.plans.streaming_sketches import _quantile_processor

    state = str(tmp_path / "state")
    process = _quantile_processor(state)
    b0 = spark.createDataFrame(
        [(0, 10), (2, 300)], "doc_id bigint, n_chars bigint"
    )
    b1 = spark.createDataFrame(
        [(1, 12), (3, 5000)], "doc_id bigint, n_chars bigint"
    )

    def snapshot():
        return sorted(
            tuple(r) for r in spark.read.parquet(state).collect()
        )

    process(b0, 0)
    process(b1, 1)
    first = snapshot()
    process(b0, 0)
    process(b1, 1)
    assert snapshot() == first
    # latest epoch == from-scratch histogram of all four lengths:
    # bins = bitlength(n+1): 10→4, 12→4, 300→9, 5000→13
    import os

    cur = {
        r.bin: r.cnt
        for r in spark.read.parquet(os.path.join(state, "epoch=1")).collect()
    }
    assert cur == {4: 2, 9: 1, 13: 1}


def test_streaming_cms_maintenance_replay_idempotent(spark, tmp_path):
    """Additive-CMS contract: replay leaves the grid identical, and
    the merged grid's total mass equals both batches' token count
    (counters only ever sum — no occurrence lost or doubled)."""
    from data_ingestion_din_spark.plans.streaming_sketches import _cms_processor
    from data_ingestion_din_spark.plans.analytic_ext import _CMS_D

    state = str(tmp_path / "state")
    process = _cms_processor(state)
    b0 = spark.createDataFrame(
        [(0, "alpha beta alpha")], "doc_id bigint, text string"
    )
    b1 = spark.createDataFrame(
        [(1, "alpha gamma")], "doc_id bigint, text string"
    )

    def snapshot():
        return sorted(
            tuple(r) for r in spark.read.parquet(state).collect()
        )

    process(b0, 0)
    process(b1, 1)
    first = snapshot()
    process(b0, 0)
    process(b1, 1)
    assert snapshot() == first
    import os

    cur = spark.read.parquet(os.path.join(state, "epoch=1"))
    total = sum(r.counter for r in cur.collect())
    assert total == 5 * _CMS_D  # 5 occurrences × d rows


def test_stream_outer_join_null_emission_boundaries(spark, tmp_path):
    """The three empirically pinned outer-join facts (see streaming_cdc's
    block comment): (1) min-policy watermark only advances when BOTH
    streams land data in a run, (2) the trailing no-data micro-batch of
    that run emits the nulls, (3) eviction is strict — a click whose
    interval end EQUALS the watermark stays buffered."""
    import os

    from pyspark.sql import functions as F

    base = str(tmp_path)
    lc, le, ck, out = [os.path.join(base, d) for d in ("c", "e", "ck", "o")]

    def df(rows):
        return spark.createDataFrame(
            rows, "event_id bigint, us bigint, user_id bigint"
        ).select(
            "event_id", F.timestamp_micros(F.col("us")).alias("ts"), "user_id"
        )

    S = 1_000_000  # one second in µs
    B = 1_700_000_000 * S  # epoch base: ts at exactly 0 would be dropped
    # as late against the initial 1970 watermark (strictly-at-wm drop, r6)

    def run_once():
        schema = "event_id bigint, ts timestamp, user_id bigint"
        c = (
            spark.readStream.schema(schema)
            .parquet(lc + "/*")
            .withWatermark("ts", "10 minutes")
            .alias("c")
        )
        e = (
            spark.readStream.schema(schema)
            .parquet(le + "/*")
            .withWatermark("ts", "10 minutes")
            .alias("e")
        )
        j = c.join(
            e,
            F.expr(
                "c.user_id = e.user_id AND e.ts >= c.ts "
                "AND e.ts <= c.ts + interval 1 hour"
            ),
            "leftOuter",
        ).select(
            F.col("c.event_id").alias("click_id"),
            F.col("e.event_id").alias("error_id"),
        )
        q = (
            j.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    def land(d, rows, name):
        df(rows).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(d, name)
        )

    def emitted():
        return sorted(
            (r.click_id, r.error_id)
            for r in spark.read.parquet(out).collect()
        )

    # clicks: 1 matches, 2/3/4 never match, 5's interval closes EXACTLY
    # at the final watermark (20M−600 s), pinning eviction strictness
    land(
        lc,
        [
            (1, B, 10),
            (2, B + 1000 * S, 20),
            (3, B + 5000 * S, 30),
            (4, B + 4800 * S, 40),
            (5, B + 19_995_800 * S, 50),
        ],
        "b0",
    )
    land(le, [(101, B + 100 * S, 10)], "b0")
    run_once()
    assert emitted() == [(1, 101)]

    # errors-only landing: watermark pinned by the silent clicks stream
    land(le, [(102, B + 9000 * S, 99)], "b1")
    run_once()
    assert emitted() == [(1, 101)]  # fact 1: no advance, no nulls

    # clicks-only sentinel: the now-silent ERRORS stream pins the min
    land(lc, [(900, B + 10_000_000 * S, -1)], "b1")
    run_once()
    assert emitted() == [(1, 101)]  # fact 1 is symmetric

    # paired sentinels advance the watermark to min(30M, 20M)−600 s; the
    # trailing no-data batch (fact 2) emits every closed unmatched click
    # — including the run-2 sentinel — but NOT click 5, whose interval
    # end equals the watermark exactly (fact 3: strict <)
    land(lc, [(901, B + 30_000_000 * S, -1)], "b2")
    land(le, [(103, B + 20_000_000 * S, -1)], "b2")
    run_once()
    assert emitted() == [
        (1, 101),
        (2, None),
        (3, None),
        (4, None),
        (900, None),
    ]


def test_line_dedup_gate_replay_idempotent(spark, tmp_path):
    """Additive line-frequency contract: replaying an epoch leaves
    verdicts and the frequency state identical (epoch dirs are
    overwritten, not appended), and prefix semantics hold — a line
    landing once per landing flags only from the second landing on."""
    import os

    from data_ingestion_din_spark.plans.streaming_gates import (
        _line_gate_processor,
    )

    out = str(tmp_path / "out")
    state = str(tmp_path / "freq")
    process = _line_gate_processor(out, state)
    boiler = "b0 b1 b2 b3 b4 b5 b6 b7 b8 b9"
    uniq1 = "u0 u1 u2 u3 u4 u5 u6 u7 u8 u9"
    uniq2 = "v0 v1 v2 v3 v4 v5 v6 v7 v8 v9"
    b0 = spark.createDataFrame(
        [(0, f"{boiler} {uniq1}")], "doc_id bigint, text string"
    )
    b1 = spark.createDataFrame(
        [(1, f"{boiler} {uniq2}")], "doc_id bigint, text string"
    )

    def snapshot():
        v = sorted(tuple(r) for r in spark.read.parquet(out).collect())
        w = sorted(tuple(r) for r in spark.read.parquet(state).collect())
        return v, w

    process(b0, 0)
    process(b1, 1)
    first = snapshot()
    process(b0, 0)
    process(b1, 1)
    assert snapshot() == first
    rows = {r.doc_id: r for r in spark.read.parquet(out).collect()}
    # landing 1: the shared line is not yet boilerplate (nd = 1)
    assert rows[0].n_boiler == 0
    # landing 2: prior + own counts reach the T=2 threshold
    assert rows[1].n_lines == 2 and rows[1].n_boiler == 1
    assert rows[1].rm_milli == 500
    assert os.path.isdir(os.path.join(state, "epoch=1"))


def test_cusum_gate_replay_idempotent(spark, tmp_path):
    """Carried-walk contract: replaying an epoch leaves verdicts and
    walk state identical; landing 2 CONTINUES landing 1's S (stream
    concatenation == batch prefix) and uses the FROZEN landing-1 mean,
    not its own."""
    from pyspark.sql import functions as F

    from data_ingestion_din_spark.plans.streaming_sketches import (
        _cusum_gate_processor,
    )

    out = str(tmp_path / "out")
    state = str(tmp_path / "walkstate")
    process = _cusum_gate_processor(out, state)

    def ev(rows):
        return spark.createDataFrame(
            rows, "event_type string, ts_s string"
        ).select("event_type", F.col("ts_s").cast("timestamp").alias("ts"))

    # landing 1: two hours of 2 events each -> mu = 2000 milli
    b0 = ev(
        [("click", f"2024-01-01 {h:02d}:{m:02d}:00") for h in (8, 9) for m in (5, 25)]
    )
    # landing 2: one 6-event spike hour (continues the walk), plus a
    # type FIRST appearing post-cutoff — must be seeded (frozen mu
    # from its own first landing, walk from S = 0), not dropped
    b1 = ev(
        [("click", f"2024-01-16 10:{m:02d}:00") for m in range(1, 7)]
        + [
            ("signup", f"2024-01-16 {h:02d}:{m:02d}:00")
            for h, n in ((10, 2), (11, 8))
            for m in range(1, n + 1)
        ]
    )

    def snapshot():
        v = sorted(tuple(r) for r in spark.read.parquet(out).collect())
        w = sorted(tuple(r) for r in spark.read.parquet(state).collect())
        return v, w

    process(b0, 0)
    process(b1, 1)
    first = snapshot()
    process(b0, 0)
    process(b1, 1)
    assert snapshot() == first
    # The state dir holds BOTH epoch snapshots; mirror the production
    # read (filter to the latest epoch) — a raw collect would keep the
    # last row per key in parquet file-listing order, which is not
    # deterministic under suite load.
    st_df = spark.read.parquet(state)
    latest = st_df.agg(F.max("epoch")).collect()[0][0]
    st = {
        r.event_type: r
        for r in st_df.filter(F.col("epoch") == latest).collect()
    }
    # frozen mean from landing 1 (2 events/hour), NOT landing 2's 6
    assert st["click"].mu_milli == 2000
    # landing-1 walk: each hour adds 2000 - 2000 - 500 < 0 -> S stays 0;
    # landing 2's spike: 6000 - 2000 - 500 = 3500 carried from 0
    assert st["click"].s_up == 3500
    # signup first appears post-cutoff: seeded, not dropped — frozen
    # mu from its own first landing ((2+8)*1000//2 = 5000, k = 1250),
    # walked from S = 0: h10 adds 2000-5000-1250 < 0 (s_dn 1750),
    # h11 adds 8000-5000-1250 = 1750
    assert st["signup"].mu_milli == 5000
    assert st["signup"].s_up == 1750 and st["signup"].s_dn == 0
    rows = {
        (r.event_type, r.hr.hour): r
        for r in spark.read.parquet(out).collect()
    }
    assert rows[("click", 10)].s_up == 3500
    assert not rows[("click", 10)].alarm_up  # h = 10000
    assert rows[("signup", 10)].s_dn == 1750
    assert rows[("signup", 11)].s_up == 1750


def test_streaming_asof_replay_and_boundary(spark, tmp_path):
    """Stream-stream as-of contract: (a) replaying an epoch is a no-op
    (epoch-keyed idempotence of both the clicks and the state sink);
    (b) a click in a later landing is attributed to the latest error
    carried over from an EARLIER landing (the cross-landing state
    path); (c) an error at exactly the click's timestamp is visible to
    it (ASOF's <= bound); (d) a click before any error attributes
    NULL."""
    from datetime import datetime

    from data_ingestion_din_spark.plans.streaming_cdc import _asof_processor
    from pyspark.sql import functions as F2

    out = str(tmp_path / "asof")
    process = _asof_processor(out)
    t = lambda s: datetime.fromisoformat(s)  # noqa: E731
    schema = "user_id bigint, event_id bigint, event_type string, ts timestamp"

    b0 = spark.createDataFrame(
        [
            (1, 10, "click", t("2024-01-01 10:00:00")),  # before any err
            (1, 11, "error", t("2024-01-01 10:05:00")),
            (1, 12, "click", t("2024-01-01 10:05:00")),  # tie: sees 11
            (2, 13, "error", t("2024-01-01 10:06:00")),
        ],
        schema,
    )
    b1 = spark.createDataFrame(
        [
            # attributed to err 11 carried across the landing boundary
            (1, 20, "click", t("2024-01-01 11:00:00")),
            (1, 21, "error", t("2024-01-01 11:30:00")),
            (1, 22, "click", t("2024-01-01 11:31:00")),  # in-batch err 21
            (2, 23, "click", t("2024-01-01 11:32:00")),  # state err 13
        ],
        schema,
    )

    def snapshot():
        cdir = out + "/clicks"
        rows = (
            spark.read.option("basePath", cdir)
            .parquet(cdir)
            .drop("epoch")
            .collect()
        )
        return sorted((r.click_id, r.user_id, r.err_id) for r in rows)

    process(b0, 0)
    process(b1, 1)
    first = snapshot()
    process(b0, 0)
    process(b1, 1)
    assert snapshot() == first  # replay is a no-op

    att = {c: e for c, _, e in first}
    assert att[10] is None  # no error yet
    assert att[12] == 11  # tie at the same ts is visible (<= bound)
    assert att[20] == 11  # carried across the landing boundary
    assert att[22] == 21  # in-batch error wins over carried state
    assert att[23] == 13  # other user's state isolated
