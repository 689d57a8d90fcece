"""The two ways into the engine run no Spark job of their own.

``load_table`` declares the schema it reads from the parquet footer, so
it runs no schema-inference job, and the schema it declares is the one
an undeclared read infers. ``local_frame`` turns driver-built rows into a
``LocalTableScan`` with exactly the schema and rows that
``createDataFrame(rows, schema)`` gives. Jobs are counted by job id
(``session.started_jobs``), not by job group.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from conftest import SF_SMOKE as SF
from data_ingestion_din_spark.session import started_jobs
from data_ingestion_din_spark.sources.tables import (
    TABLE_NAMES,
    load_table,
    local_frame,
)


def _inferred(spark, sf_dir: str, name: str):
    """An undeclared read, normalised the way load_table normalises."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _load_counting_jobs(spark, sf_dir: str, name: str):
    before = started_jobs(spark)
    df = load_table(spark, sf_dir, name)
    schema = df.schema
    return df, schema, started_jobs(spark) - before


@pytest.mark.parametrize("name", TABLE_NAMES)
def test_load_table_declares_the_inferred_schema(spark, name):
    df, schema, jobs = _load_counting_jobs(spark, SF, name)
    assert jobs == 0
    assert schema == _inferred(spark, SF, name).schema


def test_load_table_reads_a_spark_written_directory(spark, tmp_path):
    written = StructType(
        [
            StructField("vec_id", LongType(), False),
            StructField("label", LongType(), True),
        ]
    )
    spark.createDataFrame([(i, i % 3) for i in range(7)], written).repartition(
        3
    ).write.parquet(str(tmp_path / "embeddings.parquet"))
    df, schema, jobs = _load_counting_jobs(spark, str(tmp_path), "embeddings")
    assert jobs == 0
    assert schema == _inferred(spark, str(tmp_path), "embeddings").schema
    assert sorted(df.collect()) == sorted(
        _inferred(spark, str(tmp_path), "embeddings").collect()
    )


def test_load_table_reads_nanosecond_event_times(spark, tmp_path):
    us = [1_700_000_000_000_000 + 7 * i for i in range(5)]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(5), pa.int64()),
                "ts": pa.array([u * 1000 for u in us], pa.timestamp("ns")),
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    df, schema, jobs = _load_counting_jobs(spark, str(tmp_path), "events")
    assert jobs == 0
    assert schema == _inferred(spark, str(tmp_path), "events").schema
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = df.select("event_id", F.unix_micros("ts").alias("us")).collect()
    assert sorted(tuple(r) for r in got) == list(enumerate(us))


# the shapes of the engine's driver-built frames: flat DDL rows, empty
# rows, arrays, a StructType with NOT NULL fields, and nested structs
_SHAPES = [
    (
        [(1, "a", 2, True), (2, None, None, False)],
        "i int, s string, n bigint, b boolean",
    ),
    ([], "doc_id bigint, n_spans bigint, dup_tokens bigint"),
    ([(1, [3, -4]), (2, [])], "cluster int, qv array<bigint>"),
    (
        [(0, 1, [1, 2], True)],
        "cluster int, m int, sv array<bigint>, retired boolean",
    ),
    (
        [(3, 3), (5, 3)],
        StructType(
            [
                StructField("node", LongType(), False),
                StructField("cluster_id", LongType(), False),
            ]
        ),
    ),
    (
        [(1, (2, ["x", None]), [(1, "a")]), (2, None, [])],
        "k int, st struct<a: bigint, tags: array<string>>,"
        " arr array<struct<p: int, q: string>>",
    ),
]


@pytest.mark.parametrize("rows, schema", _SHAPES)
def test_local_frame_matches_create_data_frame(spark, rows, schema):
    want = spark.createDataFrame(rows, schema)
    got = local_frame(spark, rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_local_frame_plans_a_local_table_scan(spark):
    before = started_jobs(spark)
    df = local_frame(spark, [(1, "a"), (2, "b")], "cid int, tbl string")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert started_jobs(spark) - before == 0
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan
