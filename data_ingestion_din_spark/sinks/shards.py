"""Training-shard export sink — the terminal step of the curation
pipeline (corpus_curation → pack_sequences → HERE): write the packed
corpus as deterministic, size-balanced shards the training loader can
address individually (`shard=NNN/part-*.parquet`), exactly one file per
shard.

Why a dedicated sink instead of a bare ``write.parquet``:

- **Deterministic membership** — shard id is ``h64(key) % n_shards``,
  so re-running the export (or re-exporting an incrementally updated
  corpus) routes every document to the same shard; downstream loaders
  can resume / mix by shard id stably.
- **One file per shard** — the writer repartitions on the shard id
  before a hive ``partitionBy``, so each shard directory holds a single
  parquet file (data loaders that map one worker per shard need this;
  a plain write scatters every shard across every task's files —
  n_tasks × n_shards small files, the exact debris
  ``compact_small_files`` exists to clean up).
- **Audit result** — returns per-shard row/byte counts read back from
  the committed files' listing and parquet footers (no Spark job), the
  manifest a training job records.

Scale: one hash shuffle on the shard id (the partitionBy itself is
shuffle-free after that); n_shards is chosen by the caller to match the
loader's parallelism, not the corpus size.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, functions as F

from data_ingestion_din_spark.functions.hashing import h64


def shard_id(key: Column, n_shards: int) -> Column:
    """Deterministic shard assignment: portable 60-bit md5 hash mod n."""
    return (h64(key.cast("string"), seed="shard:") % n_shards).cast("int")


def write_training_shards(
    df: DataFrame, key_col: str, out_dir: str, n_shards: int = 8
) -> list[dict[str, int]]:
    """Write ``df`` as ``out_dir/shard=N/`` hive dirs, one parquet file
    per shard, rows routed by ``shard_id(key_col)``. Returns the shard
    manifest of the committed output (:func:`shard_manifest`)."""
    sharded = df.withColumn("shard", shard_id(F.col(key_col), n_shards))
    (
        sharded.repartition(n_shards, "shard")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(out_dir)
    )
    return shard_manifest(out_dir, n_shards)


def shard_manifest(out_dir: str, n_shards: int) -> list[dict[str, int]]:
    """Per-shard (shard, n_rows, n_files, n_bytes) of a committed shard
    export, read on the driver from the part files' listing and parquet
    footers — no Spark job. Every shard id 0..n_shards-1 gets an entry:
    a loader that maps one worker per shard id must see an explicit
    zero-row shard, not a missing one (no ``shard=N`` directory is
    written for an empty shard)."""
    manifest = []
    for shard in range(n_shards):
        d = os.path.join(out_dir, f"shard={shard}")
        files = (
            [
                os.path.join(d, f)
                for f in os.listdir(d)
                if f.endswith(".parquet")
            ]
            if os.path.isdir(d)
            else []
        )
        manifest.append(
            {
                "shard": shard,
                "n_rows": sum(pq.read_metadata(f).num_rows for f in files),
                "n_files": len(files),
                "n_bytes": sum(os.path.getsize(f) for f in files),
            }
        )
    return manifest
