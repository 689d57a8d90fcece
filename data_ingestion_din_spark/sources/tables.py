"""Parquet table catalog for the synthetic fixture star schema.

The driver generates TPC-H-ish tables plus ``events`` (stream fixture),
``documents`` (parsed-document stand-in — reference ``TextBlock.content``,
ingestion/schema.py:109) and ``embeddings`` (chunk-embedding records —
reference backend/services/embeddings.py:74-110). See TESTDATA.md.

At 100 TB these would be partitioned/Delta tables; the loader is the single
place that changes — every downstream operator is a pure DataFrame function.

Both ways into the engine run no Spark job of their own, so every job a
query launches is a job of the query:

- ``load_table`` declares the schema it reads, taken from the parquet
  footer on the driver; an undeclared ``spark.read.parquet`` runs a
  one-task schema-inference job per call.
- ``local_frame`` turns driver-built rows into a local relation
  (``LocalTableScan``) through one Arrow table; ``createDataFrame`` over a
  Python list plans a scan of a Python RDD whose tasks fork Python
  workers.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.errors import PySparkTypeError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_type, to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    DataType,
    LongType,
    MapType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
    _parse_datatype_json_string,
)

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def _footer_schema(path: str) -> StructType | None:
    """The schema ``spark.read.parquet(path)`` infers, read from one
    parquet footer on the driver instead of by a Spark job.

    Spark's inference (no schema merging) reads the footer of a file
    path, or of a directory's first data file in path order. A footer
    that carries Spark's row metadata (a Spark-written file) gives that
    schema verbatim; otherwise the parquet types map the way Spark's
    converter maps them: tz-naive timestamps to TIMESTAMP_NTZ, and
    TIMESTAMP(NANOS) to bigint under ``nanosAsLong``. Nullability needs
    no care: a file-source read makes every field nullable either way.

    None where the footer does not settle the schema — a missing path,
    an empty or partitioned directory, a type the converter does not
    know — and the caller lets Spark infer (and raise) as before."""
    if os.path.isdir(path):
        entries = sorted(
            (e for e in os.scandir(path) if not e.name.startswith(("_", "."))),
            key=lambda e: e.name,
        )
        if not entries or any(e.is_dir() for e in entries):
            return None
        path = entries[0].path
    elif not os.path.isfile(path):
        return None
    meta = pq.read_metadata(path)
    spark_json = (meta.metadata or {}).get(_SPARK_ROW_METADATA)
    if spark_json is not None:
        return _parse_datatype_json_string(spark_json.decode())
    try:
        return StructType(
            [
                StructField(f.name, _spark_type(f.type))
                for f in meta.schema.to_arrow_schema()
            ]
        )
    except (PySparkTypeError, TypeError):
        return None


def _spark_type(at: pa.DataType) -> DataType:
    """The Spark type a parquet read gives the column pyarrow calls
    ``at``; TypeError where it does not follow from ``at``."""
    t = pa.types
    if t.is_timestamp(at):
        if at.unit == "ns":
            return LongType()  # spark.sql.legacy.parquet.nanosAsLong
        return TimestampNTZType() if at.tz is None else TimestampType()
    if t.is_list(at) or t.is_large_list(at):
        return ArrayType(_spark_type(at.value_type))
    if t.is_struct(at):
        return StructType([StructField(f.name, _spark_type(f.type)) for f in at])
    if t.is_map(at):
        return MapType(_spark_type(at.key_type), _spark_type(at.item_type))
    if t.is_duration(at) or t.is_time(at):
        # pyarrow restores these from its own footer metadata; Spark
        # reads the stored integer (or refuses the column)
        raise TypeError(at)
    return from_arrow_type(at)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Plain parquet scan → full predicate pushdown
    and column pruning apply to everything built on top. The scan
    declares the schema ``_footer_schema`` reads, so the call runs no
    Spark job.

    ``events.ts`` is normalized to a session-timezone TimestampType (LTZ)
    whatever the fixture generation wrote:

    - TIMESTAMP(NANOS) (fixtures through round 2): Spark reads it as a
      nanosecond LONG under ``spark.sql.legacy.parquet.nanosAsLong``
      (set at runtime so query functions are self-sufficient on ANY
      session; without it the read throws PARQUET_TYPE_ILLEGAL) and the
      long is converted to µs timestamps (generator emits µs-aligned
      values — lossless).
    - TIMESTAMP(MICROS, isAdjustedToUTC=false) (round-3 fixtures): Spark
      reads TIMESTAMP_NTZ; cast to LTZ. Sessions here run with UTC
      session timezone (session.py), so the naive values are interpreted
      as UTC — exactly how the DuckDB oracle reads the same file — and
      the cast round-trips losslessly under any session timezone
      (interpret and render use the same zone).

    Downstream operators therefore always see TimestampType and may use
    LTZ-only expressions (``unix_micros``, ``window``)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema = _footer_schema(path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    df = reader.parquet(path)
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def local_frame(
    spark: SparkSession, rows: Sequence[Sequence], schema: str | StructType
) -> DataFrame:
    """Driver-built ``rows`` as a local relation typed by ``schema`` (a
    DDL string or a StructType, nullability kept as given).

    The rows travel as one Arrow table typed by the Arrow twin of
    ``schema``, so the plan is a ``LocalTableScan``: no Python worker
    runs, and a broadcast of it is built on the driver. Every
    driver-built frame in the engine comes through here."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)


def scan_parallel(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Restore parallelism after a non-splittable small-file scan.

    The local fixtures are single-row-group parquet files, so Spark maps
    each scan to ONE task no matter what ``maxPartitionBytes`` says
    (parquet splits only at row-group boundaries) — any expression-heavy
    operator downstream then runs single-threaded. This helper shuffles
    to the session's default parallelism ONLY when the scan produced
    fewer partitions; on a production multi-file / multi-row-group table
    (the 100 TB shape) it is a no-op, so plans keep their shuffle-free
    scans at scale. Use it in compute-bound operators (hashing,
    signatures, per-cell parsing), not cheap projections."""
    spark = df.sparkSession
    target = min_parts or spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, target // 2):
        return df.repartition(target)
    return df


def load_tables(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, register_views: bool = True
) -> dict[str, DataFrame]:
    """Load all fixture tables; optionally register each as a temp view so
    SQL-form plans can refer to them by name."""
    dfs: dict[str, DataFrame] = {}
    for name in TABLE_NAMES:
        df = load_table(spark, sf_dir, name)
        if register_views:
            df.createOrReplaceTempView(name)
        dfs[name] = df
    return dfs
