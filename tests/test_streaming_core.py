"""Unit tests of the shared streaming mechanism in plans/streaming_core:
the awaitTermination guard (JVM-free, a stub query object), the
per-epoch state writer behind every foreachBatch processor and the
processor-side state readers (a real session on ``tmp_path``)."""

from __future__ import annotations

import os

import pytest

from data_ingestion_din_spark.plans.streaming_core import (
    _await_or_raise,
    _epoch_writer,
    _frozen_model,
    _latest_epoch_rows,
    _prior_epochs,
    _prior_snapshot,
    _write_epoch,
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


def _put(spark, state: str, epoch_id: int, xs: list[int]) -> None:
    _write_epoch(
        spark.createDataFrame([(x,) for x in xs], "x bigint"), state, epoch_id
    )


def _freeze(spark, state: str, epoch_id: int):
    """(train calls, model rows, new-state rows or None) of one
    _frozen_model read whose training returns [1, 2]."""
    calls = []

    def train():
        calls.append(epoch_id)
        return spark.createDataFrame([(1,), (2,)], "x bigint")

    model, new = _frozen_model(spark, state, epoch_id, train)
    assert model.columns == ["x"]
    rows = sorted(r.x for r in model.collect())
    return calls, rows, None if new is None else sorted(r.x for r in new.collect())


def test_frozen_model_trains_when_the_state_dir_is_missing(spark, tmp_path):
    state = str(tmp_path / "state")
    assert _prior_epochs(spark, state, 0) is None
    assert _latest_epoch_rows(spark, state, ["x"], before_epoch=0) is None
    assert _freeze(spark, state, 0) == ([0], [1, 2], [1, 2])


def test_frozen_model_retrains_a_replayed_training_epoch(spark, tmp_path):
    # the training epoch's first attempt wrote its model, then failed:
    # the replay finds the dir but no EARLIER epoch, so it trains again
    state = str(tmp_path / "state")
    _put(spark, state, 0, [1, 2])
    assert _prior_epochs(spark, state, 0).count() == 0
    calls, rows, new = _freeze(spark, state, 0)
    assert (calls, rows, new) == ([0], [1, 2], [1, 2])
    _put(spark, state, 0, new)
    assert sorted(r.x for r in _prior_epochs(spark, state, 1).collect()) == [1, 2]


def test_frozen_model_reads_an_earlier_epoch(spark, tmp_path):
    state = str(tmp_path / "state")
    _put(spark, state, 0, [5, 6])
    assert [(r.epoch, r.x) for r in _prior_epochs(spark, state, 1).orderBy("x").collect()] == [
        (0, 5),
        (0, 6),
    ]
    assert _freeze(spark, state, 1) == ([], [5, 6], None)


def test_state_reads_ignore_later_epochs(spark, tmp_path):
    state = str(tmp_path / "state")
    _put(spark, state, 0, [5])
    _put(spark, state, 2, [7])
    assert [(r.epoch, r.x) for r in _prior_epochs(spark, state, 1).collect()] == [(0, 5)]
    assert _freeze(spark, state, 1) == ([], [5], None)
    later_only = str(tmp_path / "later_only")
    _put(spark, later_only, 2, [7])
    assert _freeze(spark, later_only, 1) == ([1], [1, 2], [1, 2])


def test_prior_snapshot_is_the_latest_earlier_epoch(spark, tmp_path):
    state = str(tmp_path / "state")
    assert _prior_snapshot(spark, state, 0) is None
    _put(spark, state, 0, [1, 2])
    _put(spark, state, 1, [3])
    assert _prior_snapshot(spark, state, 0) is None
    assert sorted(r.x for r in _prior_snapshot(spark, state, 1).collect()) == [1, 2]
    assert [r.x for r in _prior_snapshot(spark, state, 2).collect()] == [3]
