"""Training-shard export sink: deterministic membership, one file per
shard, lossless roundtrip."""

from __future__ import annotations

import pyspark.sql.functions as F

from data_ingestion_din_spark.sinks.shards import (
    shard_id,
    write_training_shards,
)


def test_write_training_shards(spark, tmp_path):
    out = str(tmp_path / "shards")
    df = spark.range(0, 5000).selectExpr(
        "id AS doc_id", "CAST(id % 13 AS STRING) AS lang", "id * 7 AS toks"
    )
    manifest = write_training_shards(df, "doc_id", out, n_shards=8)

    assert [m["shard"] for m in manifest] == list(range(8))
    assert all(m["n_files"] == 1 for m in manifest), manifest
    assert sum(m["n_rows"] for m in manifest) == 5000
    # balanced within a loose band (hash routing)
    rows = [m["n_rows"] for m in manifest]
    assert min(rows) > 0.5 * max(rows), rows

    back = spark.read.parquet(out)
    # roundtrip multiset equality + membership determinism
    assert back.count() == 5000
    mismatch = back.filter(
        F.col("shard") != shard_id(F.col("doc_id"), 8)
    ).count()
    assert mismatch == 0

    # re-export routes identically (stable resume/mix contract)
    manifest2 = write_training_shards(df, "doc_id", out, n_shards=8)
    assert manifest2 == manifest


def test_write_training_shards_empty_shards_explicit(spark, tmp_path):
    """A shard id with no rows still appears in the manifest as an
    explicit zero entry (ADVICE r5): a loader mapping one worker per
    shard id 0..n-1 must see n_rows=0, not a missing shard."""
    out = str(tmp_path / "shards_sparse")
    # 2 distinct keys cannot populate 8 shards
    df = spark.createDataFrame([(1,), (2,)], "doc_id bigint")
    manifest = write_training_shards(df, "doc_id", out, n_shards=8)

    assert [m["shard"] for m in manifest] == list(range(8))
    assert sum(m["n_rows"] for m in manifest) == 2
    empties = [m for m in manifest if m["n_rows"] == 0]
    assert len(empties) >= 6
    assert all(
        m["n_files"] == 0 and m["n_bytes"] == 0 for m in empties
    ), manifest


def test_shard_manifest_from_footers_runs_no_job(spark, tmp_path):
    """The manifest comes from the part files' parquet footers: its row
    counts equal a Spark count of the committed output per shard, empty
    shards read as explicit zeros, and building it after the write
    starts no Spark job (counted by job id)."""
    from data_ingestion_din_spark.session import started_jobs
    from data_ingestion_din_spark.sinks.shards import shard_manifest

    out = str(tmp_path / "shards_footer")
    df = spark.range(0, 50).selectExpr("id % 3 AS doc_id", "id AS toks")
    manifest = write_training_shards(df, "doc_id", out, n_shards=8)

    j0 = started_jobs(spark)
    again = shard_manifest(out, 8)
    assert started_jobs(spark) - j0 == 0
    assert again == manifest

    counts = {
        r["shard"]: r["n"]
        for r in spark.read.parquet(out)
        .groupBy("shard")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert [m["n_rows"] for m in manifest] == [counts.get(s, 0) for s in range(8)]
    assert sum(m["n_rows"] for m in manifest) == 50
    empties = [m for m in manifest if m["shard"] not in counts]
    assert len(empties) >= 5
    assert all(
        m["n_rows"] == 0 and m["n_files"] == 0 and m["n_bytes"] == 0
        for m in empties
    ), manifest
