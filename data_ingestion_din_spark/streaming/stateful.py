"""Stateful streaming operators: first-seen dedup and running maxima.

The reference has no streaming surface at all (SURVEY.md §2.11); the one
stateful behavior it approximates — "skip documents already ingested" —
is a driver-side directory diff (scripts/run_ingestion.py). Here it is a
real incremental operator: a streaming first-seen filter whose state
lives in Spark's state store, keyed by content fingerprint.

Scale notes (100 TB posture):

- State is partitioned by the grouping key across the cluster's state
  store (RocksDB-backed in production) — no driver state, arbitrary key
  cardinality, and each micro-batch touches only the keys it contains.
- The first-seen filter is Spark's native streaming ``dropDuplicates``
  on the key column alone (``StreamingDeduplicateExec``, no watermark):
  the state row per key is the key with an empty value, NOT the row
  content — state size is O(distinct keys), the minimum any exact
  streaming dedup can hold. Fingerprinting first keeps that key narrow,
  the same trick as the batch fingerprint dedup U4. The dedup runs in the
  JVM: no row crosses Arrow into a Python worker.
- ``running_max_stream`` stays on ``applyInPandasWithState``: it emits a
  key only when its max rises, which no native aggregation can do into
  an append-mode file sink.
- Batch twin: ``operators.dedup.keep_first_by`` (same winner semantics
  when the stream is replayed as one batch in arrival order).
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Iterable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import StructType

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd

# state: one int per key, the key's running max
_STATE_SCHEMA = "seen INT"


def first_seen_stream(docs: DataFrame, key_col: str = "fp") -> DataFrame:
    """Streaming exact dedup: pass through only the FIRST row seen per
    ``key_col`` over the whole stream lifetime (state survives across
    micro-batches and restarts via the checkpoint). Within one
    micro-batch the first row in arrival (partition) order wins.

    ``docs`` must already carry the dedup key column (use
    ``functions.analysis.fingerprint`` for content fingerprints) — the
    operator stays agnostic of how the key is derived.
    """
    return docs.dropDuplicates([key_col])


def _make_running_max_fn(key_names: list[str], val_col: str):
    def fn(
        key: tuple, pdfs: Iterable["pd.DataFrame"], state: GroupState
    ) -> Iterator["pd.DataFrame"]:
        """Emit the key's new running max when this micro-batch raises
        it; emit nothing otherwise (monotone register semantics)."""
        import pandas as pd

        batch_max = None
        for pdf in pdfs:
            if len(pdf):
                m = int(pdf[val_col].max())
                batch_max = m if batch_max is None else max(batch_max, m)
        if batch_max is None:
            return
        if state.exists and state.get[0] >= batch_max:
            return
        state.update((batch_max,))
        yield pd.DataFrame(
            [dict(zip(key_names, key)) | {val_col: batch_max}]
        )

    return fn


def running_max_stream(
    df: DataFrame, key_cols: list[str], val_col: str
) -> DataFrame:
    """Streaming monotone-register maintenance: per ``key_cols`` group,
    emit a row whenever the lifetime max of ``val_col`` increases — the
    incremental update pattern of register sketches (HLL registers are
    per-bucket maxima, so the last emission per key IS the batch
    register). State per key is ONE int; arbitrary key cardinality
    partitions across the state store like first_seen_stream."""
    import pyspark.sql.types as T

    out_schema = StructType(
        [df.schema[c] for c in key_cols]
        + [T.StructField(val_col, T.IntegerType())]
    )
    return df.groupBy(*key_cols).applyInPandasWithState(
        _make_running_max_fn(key_cols, val_col),
        outputStructType=out_schema,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
