"""Shared scaffolding for the streaming query families (SURVEY.md §2.11).

The streaming surface is split per family — streaming_cdc (ingest /
event-time / table maintenance), streaming_indexes (incrementally
maintained search indexes), streaming_gates (frozen-artifact admission
gates), streaming_sketches (maintained sketch state + dq-at-ingest
judges) — after the flat 5.5k-line module's helper namespace caused a
silent prefix-shadowing bug (r10: a later ``_sbg_*`` definition replaced
the BPE gate's helper). This module holds the streaming mechanism every
family shares, so a trigger, checkpoint or state-store setting changes
in one place:

- ``_run_split_landings`` — the ONE landing harness: it lands each split
  as its own batch and drains it with a checkpointed ``availableNow``
  run, into either a ``foreachBatch`` processor or a parquet append sink
  over a stream transform (one or more file sources, e.g. the interval
  joins' clicks and errors);
- ``_epoch_writer`` / ``_write_epoch`` — the per-epoch state sink behind
  every ``foreachBatch`` processor (idempotent ``epoch=<id>``
  overwrites);
- ``_prior_epochs`` / ``_latest_epoch_rows`` / ``_prior_snapshot`` /
  ``_frozen_model`` / ``_unless_empty`` — the one rule for reading
  epoch-keyed state inside a processor: only epochs strictly before the
  current one, None when the state dir does not exist yet, and decisions
  keyed on prior-epoch rows, not on the dir (a frozen model trains only
  when there are none);
- ``_await_or_raise`` — the awaitTermination guard;
- ``_time_midpoint`` — the events time-split point several landings use.

Family modules build plans and processors on top of these and never
start a stream or write an epoch dir themselves
(tests/test_module_hygiene.py). Session staging of the landings (one
run per session, revalidated, stale dirs cleaned) is the registry in
operators/colocate.staged.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_din_spark.sources.tables import load_table


def _await_or_raise(q, timeout_sec: int = 240) -> None:
    """``awaitTermination`` returns False on timeout; treating that as
    success would let the NEXT availableNow run start against the same
    checkpoint/output while this stream is still active — nondeterministic
    parquet state under the hash gate. Fail loudly instead."""
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise RuntimeError(
            f"streaming query did not finish within {timeout_sec}s; "
            "stopped to avoid concurrent runs on one checkpoint"
        )


def _run_split_landings(
    spark: SparkSession,
    base: str,
    splits,
    process=None,
    *,
    transform=None,
    out: str | None = None,
) -> None:
    """Land each split as its own batch and drain it with a checkpointed
    availableNow run — the ONE multi-restart proof harness behind every
    streaming landing.

    A split is a DataFrame (written to the single source ``landing``) or
    a ``{source: DataFrame}`` dict for multi-source streams; every source
    must land in the first split, whose frames also give each source's
    stream schema. Split i lands at ``<base>/<source>/b<i>``; the
    checkpoint is ``<base>/ckpt``. The sink is ``foreachBatch(process)``
    over the single source, or — with ``transform`` — a parquet append
    to ``out`` of ``transform(*streams)``, streams in source order."""
    schemas: dict = {}
    for i, split in enumerate(splits):
        if isinstance(split, DataFrame):
            split = {"landing": split}
        for src, frame in split.items():
            schemas.setdefault(src, frame.schema)
            frame.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(base, src, f"b{i}")
            )
        streams = [
            spark.readStream.schema(schema).parquet(
                os.path.join(base, src, "*")
            )
            for src, schema in schemas.items()
        ]
        if transform is None:
            writer = streams[0].writeStream.foreachBatch(process)
        else:
            writer = (
                transform(*streams)
                .writeStream.outputMode("append")
                .format("parquet")
                .option("path", out)
            )
        _await_or_raise(
            writer.option("checkpointLocation", os.path.join(base, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )


def _run_doc_parity_landings(
    spark: SparkSession,
    sf_dir: str,
    base: str,
    process,
    cols=("doc_id", "text"),
) -> None:
    """documents' ``cols`` split by doc_id parity (evens land first)
    through _run_split_landings."""
    docs = load_table(spark, sf_dir, "documents").select(*cols)
    _run_split_landings(
        spark,
        base,
        [docs.filter(F.col("doc_id") % 2 == p) for p in (0, 1)],
        process,
    )


def _time_midpoint(ev: DataFrame) -> tuple[int, int]:
    """(midpoint, max) of ``ev.ts`` in epoch µs — the setup-stage scalar
    (one-row aggregate) the time-split landings cut at."""
    lo, hi = ev.agg(
        F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts"))
    ).first()
    return lo + (hi - lo) // 2, hi


def _write_epoch(df: DataFrame, state_dir: str, epoch_id: int) -> None:
    """Overwrite ``<state_dir>/epoch=<epoch_id>`` with ``df`` — a replayed
    epoch rewrites its own partition instead of appending a second copy."""
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(state_dir, f"epoch={epoch_id}")
    )


def _epoch_writer(plan, dirs):
    """The foreachBatch function over ``plan(batch_df, epoch_id)``, with
    ``.plan`` attached for the plan-shape tests.

    ``dirs`` is one state dir (the plan returns a DataFrame) or an
    ``{output name: dir}`` mapping (the plan returns a dict keyed by
    those names — other keys are not written — or a tuple of frames in
    the mapping's order). An empty batch and a None output write
    nothing. Every write is an idempotent per-epoch overwrite
    (_write_epoch) and every processor-side state read goes through
    _prior_epochs (directly, or via _latest_epoch_rows, _prior_snapshot
    or _frozen_model), which keeps only epochs strictly before the
    current one, so a replay under foreachBatch's at-least-once
    delivery neither double-counts nor reads its own earlier attempt:
    exactly-once state."""

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        res = plan(batch_df, epoch_id)
        if not isinstance(dirs, dict):
            pairs = [(res, dirs)]
        elif isinstance(res, dict):
            pairs = [(res[name], d) for name, d in dirs.items()]
        else:
            pairs = zip(res, dirs.values())
        for df, d in pairs:
            if df is not None:
                _write_epoch(df, d, epoch_id)

    _process.plan = plan
    return _process


def _prior_epochs(
    spark_l: SparkSession, state_dir: str, epoch_id: int
) -> DataFrame | None:
    """The rows of ``state_dir`` written by epochs strictly before
    ``epoch_id`` (``epoch`` column kept), or None when the dir does not
    exist yet. The processor-side read of every epoch-keyed state sink:
    a replayed epoch never sees its own earlier attempt."""
    if not os.path.isdir(state_dir):
        return None
    return (
        spark_l.read.option("basePath", state_dir)
        .parquet(state_dir)
        .filter(F.col("epoch") < epoch_id)
    )


def _frozen_model(
    spark_l: SparkSession, state_dir: str, epoch_id: int, train
) -> tuple[DataFrame, DataFrame | None]:
    """(model, new_state) for a model frozen by its first landing:
    ``(prior rows, None)`` when earlier epochs wrote the model, else
    ``(m, m)`` for ``m = train()``, called once.

    The replay trap: the decision keys on PRIOR-EPOCH ROWS, not on the
    state dir existing. A replayed training epoch finds the dir (its
    failed attempt wrote it) but no epoch before its own, so it trains
    again and rewrites identical rows instead of scoring against an
    empty model. The probe is one bounded ``limit(1)`` job
    (_unless_empty)."""
    prior = _unless_empty(_prior_epochs(spark_l, state_dir, epoch_id))
    if prior is not None:
        return prior.drop("epoch"), None
    m = train()
    return m, m


def _unless_empty(df: DataFrame | None) -> DataFrame | None:
    """``df``, or None when it is None or has no rows — the replay
    trap's decision (see _frozen_model) for state that is not a frozen
    model. One bounded ``limit(1)`` probe; checkpoint ``df`` first if
    its rows are read again."""
    if df is None or df.limit(1).count() == 0:
        return None
    return df


def _prior_snapshot(
    spark_l: SparkSession, state_dir: str, epoch_id: int
) -> DataFrame | None:
    """The rows of the latest epoch before ``epoch_id`` — for a sink
    whose every epoch writes its WHOLE state (a snapshot, not per-key
    deltas) — or None when there is none. One max-epoch job decides."""
    hist = _prior_epochs(spark_l, state_dir, epoch_id)
    if hist is None:
        return None
    last = hist.agg(F.max("epoch")).first()[0]
    return None if last is None else hist.filter(F.col("epoch") == last)


def _latest_epoch_rows(
    spark_l: SparkSession, out: str, keys: list[str], before_epoch=None
) -> DataFrame | None:
    """Current rows of an epoch-keyed incremental state dir: per key
    tuple, the row from the highest epoch (the one epoch-resolution
    rule for every incremental state sink — SCD2, snapshot — so tie
    handling / basePath semantics live once). ``before_epoch`` reads
    through _prior_epochs (the replay-safe processor-side read; None
    when the dir does not exist yet); None reads all epochs (the
    query-side read)."""
    from pyspark.sql.window import Window as W

    if before_epoch is None:
        hist = spark_l.read.option("basePath", out).parquet(out)
    else:
        hist = _prior_epochs(spark_l, out, before_epoch)
        if hist is None:
            return None
    return (
        hist.withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy(*keys).orderBy(F.desc("epoch"))
            ),
        )
        .filter(F.col("rk") == 1)
        .drop("rk", "epoch")
    )
