"""Incremental streaming ingestion: landing dir → chunked, deduped corpus.

Replaces the reference's upload path (backend/main.py:233-332: save file →
blocking subprocess pipeline → full corpus re-scan + re-index per upload,
O(corpus) each time — SURVEY.md §3.2) with a Structured Streaming file
source: only NEW files are processed per micro-batch, and the
content-addressed chunk ids (the reference's own idempotency device,
backend/services/chunking.py:401-415) make the upsert exactly-once.

``foreachBatch`` applies the same batch transform (clean → fixed chunks →
fingerprint) and MERGEs into the corpus. Without Delta in this image the
merge is emulated as anti-join + append — the Delta ``MERGE INTO`` swap-in
is a one-liner at deployment and noted inline.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_ingestion_din_spark.functions.analysis import tokens
from data_ingestion_din_spark.functions.text import clean_text

DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def chunk_documents(docs: DataFrame, chunk_tokens: int = 50) -> DataFrame:
    """The batch transform applied per micro-batch: clean → fixed-size
    chunks → content-addressed chunk_id (idempotency key)."""
    toks = tokens(clean_text(F.col("text"), thai=False))
    # greatest(…, 1): Spark's sequence(0, -1) is descending, so a
    # zero-token doc must still map to one (empty) chunk.
    n_chunks = F.greatest(
        F.ceil(F.size(toks) / F.lit(float(chunk_tokens))).cast("bigint"),
        F.lit(1),
    )
    exploded = docs.select(
        "doc_id",
        "source",
        toks.alias("toks"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
    )
    content = F.concat_ws(
        " ",
        F.slice(
            F.col("toks"),
            (F.col("chunk_idx") * chunk_tokens + 1).cast("int"),
            F.lit(chunk_tokens),
        ),
    )
    return exploded.select(
        # chunk_idx is part of the id: two chunks of one doc with identical
        # content (repeated spans, multiple empty tails) must NOT collide —
        # merge_chunks' dedup would silently drop positions otherwise.
        F.concat(
            F.col("doc_id").cast("string"),
            F.lit("::"),
            F.col("chunk_idx").cast("string"),
            F.lit("::"),
            F.substring(F.md5(content), 1, 8),
        ).alias("chunk_id"),
        "doc_id",
        "source",
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        content.alias("content"),
    )


def merge_chunks(batch_chunks: DataFrame, corpus_dir: str) -> None:
    """Exactly-once upsert by chunk_id. Local emulation of
    ``MERGE INTO corpus USING batch ON chunk_id WHEN NOT MATCHED INSERT``
    (Delta at deployment): anti-join against existing ids, append parquet.
    """
    spark = batch_chunks.sparkSession
    batch_chunks = batch_chunks.dropDuplicates(["chunk_id"])
    if os.path.isdir(corpus_dir) and any(
        f.endswith(".parquet") for f in os.listdir(corpus_dir)
    ):
        # the corpus is this function's own output, so its schema is the
        # batch's: declaring it skips a footer-inference job per batch
        existing = (
            spark.read.schema(batch_chunks.schema)
            .parquet(corpus_dir)
            .select("chunk_id")
        )
        batch_chunks = batch_chunks.join(existing, "chunk_id", "left_anti")
    batch_chunks.write.mode("append").parquet(corpus_dir)


def start_ingest_stream(
    spark: SparkSession,
    landing_dir: str,
    corpus_dir: str,
    checkpoint_dir: str,
    chunk_tokens: int = 50,
):
    """File-source stream over the landing dir; ``availableNow`` trigger
    gives batch-parity semantics (process everything new, then stop) —
    the drop-in replacement for the reference's per-upload subprocess."""
    stream = (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .parquet(landing_dir)
    )

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        merge_chunks(chunk_documents(batch_df, chunk_tokens), corpus_dir)

    return (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
