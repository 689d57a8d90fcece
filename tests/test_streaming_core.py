"""Unit tests of the shared streaming mechanism in plans/streaming_core:
the awaitTermination guard (JVM-free, a stub query object) and the
per-epoch state writer behind every foreachBatch processor (a real
session writing to ``tmp_path``)."""

from __future__ import annotations

import os

import pytest

from data_ingestion_din_spark.plans.streaming_core import (
    _await_or_raise,
    _epoch_writer,
)


class _StubQuery:
    def __init__(self, finished: bool):
        self.finished = finished
        self.timeouts: list[int] = []
        self.stopped = False

    def awaitTermination(self, timeout):
        self.timeouts.append(timeout)
        return self.finished

    def stop(self):
        self.stopped = True


def test_await_or_raise_stops_and_raises_on_timeout():
    q = _StubQuery(finished=False)
    with pytest.raises(RuntimeError, match="did not finish within 7s"):
        _await_or_raise(q, 7)
    assert q.timeouts == [7]
    assert q.stopped


def test_await_or_raise_leaves_a_finished_query_alone():
    q = _StubQuery(finished=True)
    _await_or_raise(q, 7)
    assert q.timeouts == [7]
    assert not q.stopped


def _epochs(path: str) -> list[str]:
    return sorted(os.listdir(path)) if os.path.isdir(path) else []


def _rows(spark, path: str) -> list[tuple]:
    df = spark.read.option("basePath", path).parquet(path)
    return sorted((r.epoch, r.x) for r in df.collect())


def test_epoch_writer_skips_empty_batches(spark, tmp_path):
    out = str(tmp_path / "out")
    calls = []

    def plan(batch_df, epoch_id):
        calls.append(epoch_id)
        return batch_df

    process = _epoch_writer(plan, out)
    assert process.plan is plan
    process(spark.createDataFrame([], "x bigint"), 0)
    assert calls == []
    assert _epochs(out) == []


def test_epoch_writer_skips_none_outputs(spark, tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    process = _epoch_writer(
        lambda batch_df, epoch_id: {"a": batch_df, "b": None, "extra": 1},
        {"a": a, "b": b},
    )
    process(spark.createDataFrame([(1,)], "x bigint"), 3)
    assert _epochs(a) == ["epoch=3"]
    assert _epochs(b) == []


def test_epoch_writer_replay_overwrites_the_epoch(spark, tmp_path):
    out, state = str(tmp_path / "out"), str(tmp_path / "state")
    process = _epoch_writer(
        lambda batch_df, epoch_id: (batch_df, batch_df.limit(1)),
        {"rows": out, "head": state},
    )
    b0 = spark.createDataFrame([(1,), (2,)], "x bigint")
    b1 = spark.createDataFrame([(3,)], "x bigint")
    process(b0, 0)
    process(b1, 1)
    first = _rows(spark, out)
    assert first == [(0, 1), (0, 2), (1, 3)]
    # at-least-once delivery re-runs an epoch: its partition is rewritten,
    # never appended to
    process(b0, 0)
    process(b1, 1)
    assert _rows(spark, out) == first
    assert _epochs(state) == ["epoch=0", "epoch=1"]
    assert len(_rows(spark, state)) == 2
    # a replay with different content replaces that epoch's rows
    process(spark.createDataFrame([(9,)], "x bigint"), 1)
    assert _rows(spark, out) == [(0, 1), (0, 2), (1, 9)]
