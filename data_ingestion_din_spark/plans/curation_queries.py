"""Corpus-curation queries (operators/curation.py) under the oracle gate:
benchmark decontamination, PII redaction, repetition quality, and
deterministic stratified sampling over the ``documents`` fixture.

Oracle notes: shingles join tokens with a single space on both sides;
hash gates use the portable md5-based ``h64``; PII fixtures are GENERATED
deterministically on both sides (the raw corpus contains no PII — the
same generate-then-operate pattern as the HTML-parse and clean-roundtrip
oracles), so the redaction chain's exact semantics are what parity
checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_din_spark.functions.analysis import intlog2
from data_ingestion_din_spark.functions.hashing import h64_sql
from data_ingestion_din_spark.functions.sketches import (
    BF_K,
    BF_M,
    BF_WBITS,
    bloom_probe,
    bloom_words,
)
from data_ingestion_din_spark.operators import curation as C
from data_ingestion_din_spark.operators.colocate import staged
from data_ingestion_din_spark.plans.registry import query
from data_ingestion_din_spark.sources.tables import load_table, local_frame

_TOKS_SQL = "list_filter(string_split(text, ' '), x -> x <> '')"

# --------------------------------------------------------------------------
# corpus_decontaminate — eval-set 8-gram overlap: corpus docs sharing any
# 8-gram with the held-out eval slice (doc_id % 7 = 0 — the fixture's
# near-dups make this non-degenerate). At 100 TB: broadcast eval
# shingles, zero corpus shuffle before the (doc_id, count) groupBy.
# --------------------------------------------------------------------------
_DC_N = 8
_DC_SHINGLE = " || ' ' || ".join(f"tk[i+{j}]" for j in range(_DC_N))


@query(
    "corpus_decontaminate",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents),
    idx AS (
      SELECT doc_id, tk, unnest(range(1, len(tk) - {_DC_N - 2})) AS i
      FROM t WHERE len(tk) >= {_DC_N}
    ),
    sh AS (SELECT DISTINCT doc_id, {_DC_SHINGLE} AS shingle FROM idx),
    ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 7 = 0)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits
    FROM sh
    WHERE doc_id % 7 <> 0 AND shingle IN (SELECT shingle FROM ev)
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    eval_docs = docs.filter(F.col("doc_id") % 7 == 0)
    corpus = docs.filter(F.col("doc_id") % 7 != 0)
    return (
        C.decontaminate_hits(corpus, eval_docs, n=_DC_N)
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# pii_redaction — URL/email/phone scrubbing. The fixture corpus has no
# PII, so a deterministic tail is appended per doc_id residue (generated
# IDENTICALLY in both engines) and the query must find and redact
# exactly it: counts + redacted fingerprint are hash-compared.
# --------------------------------------------------------------------------
_PII_TAIL_SQL = """CASE CAST(doc_id % 3 AS INT)
      WHEN 0 THEN ' Contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or 08-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                  || '-4567 now.'
      WHEN 1 THEN ' See https://example.org/d/' || CAST(doc_id AS VARCHAR)
                  || ' for details.'
      ELSE '' END"""


def _pii_tail_spark() -> F.Column:
    d = F.col("doc_id")
    return (
        F.when(
            d % 3 == 0,
            F.concat(
                F.lit(" Contact user"),
                d.cast("string"),
                F.lit("@example.com or 08-"),
                F.lpad((d % 1000).cast("string"), 3, "0"),
                F.lit("-4567 now."),
            ),
        )
        .when(
            d % 3 == 1,
            F.concat(
                F.lit(" See https://example.org/d/"),
                d.cast("string"),
                F.lit(" for details."),
            ),
        )
        .otherwise(F.lit(""))
    )


# DuckDB standard strings are backslash-literal (no escape processing),
# so regex patterns embed verbatim — only quotes need doubling.
def _pii_sql_chain(expr: str) -> str:
    for pat, rep in C.PII_STEPS:
        p = pat.replace("'", "''")
        expr = f"regexp_replace({expr}, '{p}', '{rep}', 'g')"
    return expr


_EMAIL_RE_SQL = C.EMAIL_RE.replace("'", "''")


@query(
    "pii_redaction",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text || {_PII_TAIL_SQL} AS ptext FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(ptext, '{C.URL_RE}')) AS BIGINT)
             AS n_urls,
           CAST(len(regexp_extract_all(ptext, '{_EMAIL_RE_SQL}')) AS BIGINT)
             AS n_emails,
           CAST(len(regexp_extract_all(ptext, '{C.PHONE_RE}')) AS BIGINT)
             AS n_phones,
           md5({_pii_sql_chain('ptext')}) AS redacted_fp
    FROM t
    ORDER BY doc_id
    """,
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ptext = F.concat(F.col("text"), _pii_tail_spark())
    staged = docs.select("doc_id", ptext.alias("ptext"))
    counts = C.pii_counts(F.col("ptext"))
    return staged.select(
        "doc_id",
        counts["n_urls"].cast("bigint").alias("n_urls"),
        counts["n_emails"].cast("bigint").alias("n_emails"),
        counts["n_phones"].cast("bigint").alias("n_phones"),
        F.md5(C.redact_pii(F.col("ptext"))).alias("redacted_fp"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# doc_repetition_quality — Gopher-style repetition signals + keep flag.
# --------------------------------------------------------------------------
@query(
    "doc_repetition_quality",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents),
    tri AS (
      SELECT doc_id, tk,
             CASE WHEN len(tk) < 3 THEN CAST([] AS VARCHAR[])
                  ELSE list_transform(range(1, len(tk) - 1),
                       i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) END
               AS tri
      FROM t
    ),
    sig AS (
      SELECT doc_id,
             len(tk) AS n_tok,
             CASE WHEN len(tri) > 0
                  THEN 1.0 - CAST(len(list_distinct(tri)) AS DOUBLE) / len(tri)
                  ELSE 0.0 END AS dup_frac,
             CASE WHEN len(tk) > 0
                  THEN CAST(list_max(list_transform(list_distinct(tk),
                       u -> len(list_filter(tk, x -> x = u)))) AS DOUBLE)
                       / len(tk)
                  ELSE 0.0 END AS top_frac,
             CASE WHEN len(tk) > 0
                  THEN CAST(list_sum(list_transform(tk, x -> length(x)))
                            AS DOUBLE) / len(tk)
                  ELSE 0.0 END AS mean_len
      FROM tri
    )
    SELECT doc_id,
           CAST(n_tok AS BIGINT) AS n_tokens,
           round(dup_frac, 6) AS dup_3gram_frac,
           round(top_frac, 6) AS top_tok_frac,
           round(mean_len, 6) AS mean_tok_len,
           (dup_frac <= 0.5 AND top_frac <= 0.2) AS keep
    FROM sig
    ORDER BY doc_id
    """,
)
def doc_repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return C.repetition_signals(docs).orderBy("doc_id")


# --------------------------------------------------------------------------
# corpus_stratified_sample — deterministic hash-gated per-language
# sampling (domain-mixture weighting): en kept at 100‰, zh at 500‰,
# default 250‰. Output = per-stratum totals so the achieved rates are
# hash-checked, not just "it runs".
# --------------------------------------------------------------------------
_RATES = {"en": 100, "zh": 500}
_DEFAULT_RATE = 250
_GATE_H64 = h64_sql("'sample:' || CAST(doc_id AS VARCHAR)")
_GATE_SQL = (
    _GATE_H64
    + " % 1000 < CASE lang WHEN 'en' THEN 100 WHEN 'zh' THEN 500 ELSE 250 END"
)


@query(
    "corpus_stratified_sample",
    oracle=f"""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(CASE WHEN {_GATE_SQL} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_sampled
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
)
def corpus_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    flag = C.stratified_sample_flag(
        F.col("lang"), F.col("doc_id"), _RATES, _DEFAULT_RATE
    )
    return (
        docs.withColumn("_in", flag)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_total"),
            F.sum(F.when(F.col("_in"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_sampled"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# corpus_pack_sequences — greedy per-language training-sequence packing
# (budget 1024 whitespace tokens). The accumulator resets at breaks it
# decides itself (not a plain window — W5's pattern), so Spark runs the
# mapInPandas walk and the oracle re-walks the same order with a
# RECURSIVE CTE carrying (seq, cum) — bit-exact packing parity.
# --------------------------------------------------------------------------
_PACK_BUDGET = 1024


@query(
    "corpus_pack_sequences",
    oracle=f"""
    WITH numbered AS MATERIALIZED (
      SELECT lang, doc_id, len({_TOKS_SQL}) AS n,
             row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
      FROM documents
    ),
    walk AS (
      WITH RECURSIVE w AS (
        SELECT lang, rn, n, 1 AS seq, n AS cum
        FROM numbered WHERE rn = 1
        UNION ALL
        SELECT b.lang, b.rn, b.n,
               CASE WHEN w.cum + b.n > {_PACK_BUDGET}
                    THEN w.seq + 1 ELSE w.seq END,
               CASE WHEN w.cum + b.n > {_PACK_BUDGET}
                    THEN b.n ELSE w.cum + b.n END
        FROM w JOIN numbered b ON b.lang = w.lang AND b.rn = w.rn + 1
      )
      SELECT * FROM w
    )
    SELECT lang,
           CAST(seq AS INT) AS seq_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n) AS BIGINT) AS total_tokens
    FROM walk
    GROUP BY lang, seq
    ORDER BY lang, seq
    """,
)
def corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return C.pack_sequences(docs, budget=_PACK_BUDGET).orderBy(
        "lang", "seq_id"
    )


# Sharded variant — the PRODUCTION form: packing per (lang, shard)
# keeps parallelism proportional to shard count instead of language
# count (5 langs = 5 busy tasks at any cluster size without it). The
# walker key is the pair, every doc packs exactly once, and the oracle
# re-walks each (lang, shard) stream, so the scale-out form itself is
# hash-checked, not just unit-tested for total invariance.
_PACK_SHARDS = 4


@query(
    "corpus_pack_sequences_sharded",
    oracle=f"""
    WITH numbered AS MATERIALIZED (
      SELECT lang, doc_id % {_PACK_SHARDS} AS shard, doc_id,
             len({_TOKS_SQL}) AS n,
             row_number() OVER (PARTITION BY lang, doc_id % {_PACK_SHARDS}
                                ORDER BY doc_id) AS rn
      FROM documents
    ),
    walk AS (
      WITH RECURSIVE w AS (
        SELECT lang, shard, rn, n, 1 AS seq, n AS cum
        FROM numbered WHERE rn = 1
        UNION ALL
        SELECT b.lang, b.shard, b.rn, b.n,
               CASE WHEN w.cum + b.n > {_PACK_BUDGET}
                    THEN w.seq + 1 ELSE w.seq END,
               CASE WHEN w.cum + b.n > {_PACK_BUDGET}
                    THEN b.n ELSE w.cum + b.n END
        FROM w JOIN numbered b
          ON b.lang = w.lang AND b.shard = w.shard AND b.rn = w.rn + 1
      )
      SELECT * FROM w
    )
    SELECT lang, CAST(shard AS BIGINT) AS shard,
           CAST(seq AS INT) AS seq_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n) AS BIGINT) AS total_tokens
    FROM walk
    GROUP BY lang, shard, seq
    ORDER BY lang, shard, seq
    """,
)
def corpus_pack_sequences_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "shard", F.col("doc_id") % _PACK_SHARDS
    )
    return C.pack_sequences(
        docs, budget=_PACK_BUDGET, shard_col="shard"
    ).orderBy("lang", "shard", "seq_id")


# --------------------------------------------------------------------------
# corpus_lang_pruned_stats — the partition-pruning layout lever as a
# registered query: per-source stats for ONE language over the
# lang-partitioned corpus layout (operators/colocate.partitioned_documents).
# The lang predicate lands in the scan's PartitionFilters (asserted in
# tests/test_colocate.py), so non-English directories are never listed,
# let alone read — the scan-layout twin of the bucketed fact join. The
# oracle computes the identical answer from the raw table: layout must
# not change semantics.
# --------------------------------------------------------------------------
@query(
    "corpus_lang_pruned_stats",
    oracle="""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(min(doc_id) AS BIGINT) AS first_doc
    FROM documents
    WHERE lang = 'en'
    GROUP BY source
    ORDER BY source
    """,
)
def corpus_lang_pruned_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_ingestion_din_spark.operators.colocate import (
        partitioned_documents,
    )

    path = partitioned_documents(spark, sf_dir)
    docs = spark.read.parquet(path).filter(F.col("lang") == "en")
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# corpus_length_buckets — sequence-length bucketing for batch assembly:
# each doc goes to the smallest power-of-two bucket ≥ its token count
# (clamped to [32, 1024], over-long docs truncate to the cap), and the
# per-(lang, bucket) report carries the padding waste the bucket choice
# costs — the numbers a training-batch planner actually reads. Pure
# integer CASE arithmetic, one shuffle for the 2-key groupBy.
# --------------------------------------------------------------------------
_LB_SQL = """
      CASE WHEN n_tok_c <= 32 THEN 32 WHEN n_tok_c <= 64 THEN 64
           WHEN n_tok_c <= 128 THEN 128 WHEN n_tok_c <= 256 THEN 256
           WHEN n_tok_c <= 512 THEN 512 ELSE 1024 END
"""


@query(
    "corpus_length_buckets",
    oracle=f"""
    WITH t AS (
      SELECT lang,
             least(len(list_filter(string_split(text, ' '), x -> x <> '')),
                   1024) AS n_tok_c
      FROM documents
    )
    SELECT lang, CAST({_LB_SQL} AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok_c) AS BIGINT) AS total_tokens,
           CAST(sum({_LB_SQL} - n_tok_c) AS BIGINT) AS total_padding
    FROM t
    GROUP BY lang, bucket
    ORDER BY lang, bucket
    """,
)
def corpus_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_ingestion_din_spark.functions.analysis import tokens

    docs = load_table(spark, sf_dir, "documents")
    n_tok_c = F.least(F.size(tokens(F.col("text"))), F.lit(1024))
    bucket = (
        F.when(F.col("n_tok_c") <= 32, 32)
        .when(F.col("n_tok_c") <= 64, 64)
        .when(F.col("n_tok_c") <= 128, 128)
        .when(F.col("n_tok_c") <= 256, 256)
        .when(F.col("n_tok_c") <= 512, 512)
        .otherwise(1024)
        .cast("bigint")
    )
    return (
        docs.select("lang", n_tok_c.alias("n_tok_c"))
        .select("lang", "n_tok_c", bucket.alias("bucket"))
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok_c").cast("bigint").alias("total_tokens"),
            F.sum(F.col("bucket") - F.col("n_tok_c"))
            .cast("bigint")
            .alias("total_padding"),
        )
        .orderBy("lang", "bucket")
    )


# --------------------------------------------------------------------------
# corpus_mixture_epochs — deterministic domain-mixture upsampling: each
# language stratum is repeated by a fixed epoch factor (the data-mixing
# step of pretraining recipes); every emitted instance gets a stable
# md5-derived shuffle key so downstream interleaving is reproducible
# run-to-run and engine-to-engine. The explode is a narrow per-row
# sequence — no shuffle until the final per-lang rollup; the min/max
# mix_key columns are the determinism checksum the hash gate pins.
# --------------------------------------------------------------------------
_EPOCHS = {"en": 1, "de": 2, "es": 2, "fr": 3, "zh": 3}
_EP_SQL = "CASE " + " ".join(
    f"WHEN lang = '{k}' THEN {v}" for k, v in sorted(_EPOCHS.items())
) + " ELSE 1 END"


@query(
    "corpus_mixture_epochs",
    oracle=f"""
    WITH inst AS (
      SELECT lang, doc_id,
             len(list_filter(string_split(text, ' '), x -> x <> ''))
               AS n_tok,
             unnest(range(1, {_EP_SQL} + 1)) AS epoch
      FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_instances,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens,
           CAST(min({h64_sql("'mix:' || CAST(doc_id AS VARCHAR) || ':' || CAST(epoch AS VARCHAR)")}) AS BIGINT) AS min_mix_key,
           CAST(max({h64_sql("'mix:' || CAST(doc_id AS VARCHAR) || ':' || CAST(epoch AS VARCHAR)")}) AS BIGINT) AS max_mix_key
    FROM inst
    GROUP BY lang
    ORDER BY lang
    """,
)
def corpus_mixture_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_ingestion_din_spark.functions.analysis import tokens
    from data_ingestion_din_spark.functions.hashing import h64

    docs = load_table(spark, sf_dir, "documents")
    epochs = None
    for k, v in sorted(_EPOCHS.items()):
        cond = F.when(F.col("lang") == k, F.lit(v))
        epochs = cond if epochs is None else epochs.when(
            F.col("lang") == k, F.lit(v)
        )
    epochs = epochs.otherwise(F.lit(1))
    inst = docs.select(
        "lang",
        "doc_id",
        F.size(tokens(F.col("text"))).alias("n_tok"),
        F.explode(F.sequence(F.lit(1), epochs)).alias("epoch"),
    )
    mix_key = h64(
        F.concat(
            F.lit("mix:"),
            F.col("doc_id").cast("string"),
            F.lit(":"),
            F.col("epoch").cast("string"),
        )
    )
    return (
        inst.select("lang", "doc_id", "n_tok", mix_key.alias("mk"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_instances"),
            F.count_distinct("doc_id").cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
            F.min("mk").cast("bigint").alias("min_mix_key"),
            F.max("mk").cast("bigint").alias("max_mix_key"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# corpus_distinctive_terms — per-language distinctive vocabulary: a
# TF-IDF-shaped score kept integer-exact (score = tf · N_lang // df —
# no libm log, so both engines agree to the bit), top-10 per language
# by (score, term). Two aggregation levels + a window top-k: the
# "what does this stratum talk about" report every corpus audit runs.
# --------------------------------------------------------------------------
@query(
    "corpus_distinctive_terms",
    oracle="""
    WITH terms AS (
      SELECT lang, doc_id,
             unnest(list_filter(string_split(text, ' '), x -> x <> ''))
               AS term
      FROM documents
    ),
    stats AS (
      SELECT lang, term,
             CAST(count(*) AS BIGINT) AS tf,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      FROM terms GROUP BY lang, term
    ),
    sizes AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY lang
    ),
    scored AS (
      SELECT s.lang, s.term, s.tf, s.df,
             (s.tf * z.n_docs) // s.df AS score,
             row_number() OVER (
               PARTITION BY s.lang
               ORDER BY (s.tf * z.n_docs) // s.df DESC, s.term
             ) AS rk
      FROM stats s JOIN sizes z ON z.lang = s.lang
    )
    SELECT lang, term, tf, df, CAST(score AS BIGINT) AS score
    FROM scored WHERE rk <= 10
    ORDER BY lang, score DESC, term
    """,
)
def corpus_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    from data_ingestion_din_spark.functions.analysis import tokens

    docs = load_table(spark, sf_dir, "documents")
    terms = docs.select(
        "lang", "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    )
    stats = terms.groupBy("lang", "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf"),
        F.count_distinct("doc_id").cast("bigint").alias("df"),
    )
    sizes = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    scored = stats.join(F.broadcast(sizes), "lang").withColumn(
        "score", F.expr("(tf * n_docs) div df")
    )
    w = W.partitionBy("lang").orderBy(F.desc("score"), "term")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .select("lang", "term", "tf", "df", F.col("score").cast("bigint").alias("score"))
        .orderBy("lang", F.desc("score"), "term")
    )


# --------------------------------------------------------------------------
# corpus_train_val_split — deterministic hash-based 80/10/10 split with
# per-stratum accounting, the last step of every training-data pipeline:
# membership is a pure function of doc_id (reproducible across runs,
# engines and cluster sizes — never random()), and the output audits the
# split: docs + token mass per (lang, split). Join-free; one shuffle on
# the tiny (lang, split) key.
# --------------------------------------------------------------------------
_SPLIT_SEED = "split:"


@query(
    "corpus_train_val_split",
    oracle=f"""
    WITH t AS (
      SELECT lang, doc_id, len({_TOKS_SQL}) AS n,
             {h64_sql("CAST(doc_id AS VARCHAR)", _SPLIT_SEED)} % 100 AS b
      FROM documents
    ),
    s AS (
      SELECT lang,
             CASE WHEN b < 80 THEN 'train'
                  WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
             n
      FROM t
    )
    SELECT lang, split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n) AS BIGINT) AS total_tokens
    FROM s
    GROUP BY lang, split
    ORDER BY lang, split
    """,
)
def corpus_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_ingestion_din_spark.functions.analysis import tokens
    from data_ingestion_din_spark.functions.hashing import h64

    docs = load_table(spark, sf_dir, "documents")
    b = F.pmod(
        h64(F.col("doc_id").cast("string"), _SPLIT_SEED), F.lit(100)
    )
    split = (
        F.when(b < 80, "train").when(b < 90, "val").otherwise("test")
    )
    return (
        docs.select(
            "lang",
            split.alias("split"),
            F.size(tokens(F.col("text"))).alias("n"),
        )
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n").cast("bigint").alias("total_tokens"),
        )
        .orderBy("lang", "split")
    )


# --------------------------------------------------------------------------
# training_shard_manifest — the shard EXPORT under the hash gate
# end-to-end (VERDICT r5 ask #7): write the corpus through
# sinks/shards.write_training_shards (hash-routed hive dirs, one
# parquet file per non-empty shard, explicit zero entries for empty
# ids), then verify the COMMITTED artifact, not the plan: the result
# joins the returned manifest with a re-read of the written files and
# reports per shard the manifest row count, file count, read-back doc
# count, token total, and an order-independent content fingerprint
# (bit_xor of the per-row 60-bit h64 — XOR is order-independent and
# CANNOT overflow at any row count; the earlier windowed-sum form was
# only safe to ~8M rows/shard before sum(bigint) overflowed, caught in
# review). The oracle computes all of it
# from the SOURCE table via the same shard_id arithmetic — parity
# proves the export wrote every row exactly once to the shard its key
# hashes to, with the manifest agreeing, i.e. the pipeline's terminal
# contract.
#
# Scale: the export is one n_shards-way hash repartition + write; the
# audit is one scan of the written files with a shard-local agg.
# --------------------------------------------------------------------------
_TSM_SHARDS = 8


@staged("shard_export")
def _shard_export(
    spark: SparkSession, sf_dir: str, base: str
) -> tuple[str, list]:
    """Run the shard export once per (app, sf_dir); returns (out_dir,
    manifest)."""
    from data_ingestion_din_spark.functions.analysis import tokens
    from data_ingestion_din_spark.sinks.shards import write_training_shards

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.size(tokens(F.col("text"))).alias("n_tok")
    )
    manifest = write_training_shards(
        docs, "doc_id", base, n_shards=_TSM_SHARDS
    )
    return base, manifest


_TSM_H = h64_sql(
    "'mfp:' || CAST(doc_id AS VARCHAR) || ':' || CAST(n_tok AS VARCHAR)"
)


@query(
    "training_shard_manifest",
    oracle=f"""
    WITH src AS (
      SELECT doc_id, len({_TOKS_SQL}) AS n_tok,
             {h64_sql("CAST(doc_id AS VARCHAR)", seed="shard:")}
               % {_TSM_SHARDS} AS shard
      FROM documents
    ),
    agg AS (
      SELECT shard,
             count(*) AS n,
             sum(n_tok) AS tt,
             bit_xor({_TSM_H}) AS fp
      FROM src GROUP BY shard
    )
    SELECT CAST(r.range AS INT) AS shard,
           CAST(coalesce(a.n, 0) AS BIGINT) AS n_rows_manifest,
           CAST(CASE WHEN a.n IS NULL THEN 0 ELSE 1 END AS INT) AS n_files,
           CAST(coalesce(a.n, 0) AS BIGINT) AS n_docs,
           CAST(coalesce(a.tt, 0) AS BIGINT) AS total_tokens,
           CAST(coalesce(a.fp, 0) AS BIGINT) AS content_fp
    FROM range({_TSM_SHARDS}) r LEFT JOIN agg a ON a.shard = r.range
    ORDER BY shard
    """,
)
def training_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_ingestion_din_spark.functions.hashing import h64

    out, manifest = _shard_export(spark, sf_dir)
    mdf = local_frame(
        spark,
        [(m["shard"], m["n_rows"], m["n_files"]) for m in manifest],
        "shard int, n_rows_manifest bigint, n_files int",
    )
    back = (
        spark.read.parquet(out)
        .select(
            "shard",
            "n_tok",
            h64(
                F.concat(
                    F.lit("mfp:"),
                    F.col("doc_id").cast("string"),
                    F.lit(":"),
                    F.col("n_tok").cast("string"),
                )
            ).alias("fph"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
            F.bit_xor("fph").cast("bigint").alias("content_fp"),
        )
    )
    return (
        mdf.join(back, "shard", "left")
        .select(
            F.col("shard").cast("int").alias("shard"),
            "n_rows_manifest",
            "n_files",
            F.coalesce("n_docs", F.lit(0)).cast("bigint").alias("n_docs"),
            F.coalesce("total_tokens", F.lit(0))
            .cast("bigint")
            .alias("total_tokens"),
            F.coalesce("content_fp", F.lit(0))
            .cast("bigint")
            .alias("content_fp"),
        )
        .orderBy("shard")
    )


# --------------------------------------------------------------------------
# training_shard_incremental — shard STABILITY under an append (VERDICT
# r6 optional-depth #8): production re-exports after each curation
# batch, and the contract that makes that cheap is "only shards whose
# membership changed get rewritten; untouched shards stay byte-
# identical". The staged run proves it end to end:
#
#   1. export "yesterday's corpus" (doc_id % 97 != 0) through the
#      normal shard sink;
#   2. append the remaining ~1% (doc_id % 97 == 0): route the batch by
#      the same shard_id hash, read back ONLY the touched shards' prior
#      rows, and dynamic-partition-overwrite exactly those shard dirs
#      with prior ∪ batch — O(touched shards) writes, like the SCD2
#      maintainer's O(touched keys);
#   3. assert IN the staged function that every untouched shard's file
#      bytes are md5-identical pre/post and that exactly the touched
#      dirs were rewritten — a violated invariant fails the query (and
#      so the driver row), not just a unit test.
#
# THE PROOF: the oracle computes the post-append manifest from the FULL
# source table (same shard arithmetic as training_shard_manifest) plus
# the rewritten flag (shard contains an appended key) — hash parity
# therefore proves incremental re-export ≡ from-scratch export, with
# the rewrite set exactly the appended keys' shards.
#
# Scale: the append shuffles only the batch + the touched shards' prior
# rows (bounded by touched-shard size, not corpus size); the touched-id
# collect moves ≤ n_shards ints of control data.
# --------------------------------------------------------------------------
_TSI_MOD = 97


@staged("tsi_export")
def _tsi_export(
    spark: SparkSession, sf_dir: str, base: str
) -> tuple[str, list]:
    """Initial export minus the append slice, then the incremental
    append pass; returns (out_dir, touched shard ids). Raises if an
    untouched shard's bytes changed or a touched shard was not
    rewritten."""
    import hashlib
    import os

    from data_ingestion_din_spark.functions.analysis import tokens
    from data_ingestion_din_spark.sinks.shards import (
        shard_id,
        write_training_shards,
    )

    out = base
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.size(tokens(F.col("text"))).alias("n_tok")
    )
    is_append = F.col("doc_id") % _TSI_MOD == 0
    write_training_shards(
        docs.filter(~is_append), "doc_id", out, n_shards=_TSM_SHARDS
    )

    def file_md5s() -> dict[str, str]:
        sums = {}
        for shard in range(_TSM_SHARDS):
            d = os.path.join(out, f"shard={shard}")
            if not os.path.isdir(d):
                continue
            for f in sorted(os.listdir(d)):
                if f.endswith(".parquet"):
                    p = os.path.join(d, f)
                    with open(p, "rb") as fh:
                        sums[p] = hashlib.file_digest(fh, "md5").hexdigest()
        return sums

    pre = file_md5s()

    batch = docs.filter(is_append).withColumn(
        "shard", shard_id(F.col("doc_id").cast("string"), _TSM_SHARDS)
    )
    # ≤ n_shards ints of control data
    touched = sorted(
        r["shard"] for r in batch.select("shard").distinct().collect()
    )
    prior = (
        spark.read.parquet(out)
        .filter(F.col("shard").isin(touched))
        .select("doc_id", "lang", "n_tok", "shard")
        .localCheckpoint(eager=True)  # materialize BEFORE the overwrite
    )
    (
        prior.unionByName(batch.select("doc_id", "lang", "n_tok", "shard"))
        .repartition(_TSM_SHARDS, "shard")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("shard")
        .parquet(out)
    )

    post = file_md5s()
    touched_dirs = {f"shard={s}" + os.sep for s in touched}

    def is_touched(path: str) -> bool:
        return any(t in path for t in touched_dirs)

    for p, h in pre.items():
        if not is_touched(p) and post.get(p) != h:
            raise RuntimeError(f"untouched shard file rewritten: {p}")
    for p in pre:
        if is_touched(p) and p in post and post[p] == pre[p]:
            raise RuntimeError(f"touched shard file not rewritten: {p}")

    return out, touched


@query(
    "training_shard_incremental",
    oracle=f"""
    WITH src AS (
      SELECT doc_id, len({_TOKS_SQL}) AS n_tok,
             {h64_sql("CAST(doc_id AS VARCHAR)", seed="shard:")}
               % {_TSM_SHARDS} AS shard,
             CASE WHEN doc_id % {_TSI_MOD} = 0 THEN 1 ELSE 0 END AS ap
      FROM documents
    ),
    agg AS (
      SELECT shard,
             count(*) AS n,
             sum(n_tok) AS tt,
             bit_xor({_TSM_H}) AS fp,
             max(ap) AS rw
      FROM src GROUP BY shard
    )
    SELECT CAST(r.range AS INT) AS shard,
           CAST(coalesce(a.rw, 0) AS INT) AS rewritten,
           CAST(coalesce(a.n, 0) AS BIGINT) AS n_docs,
           CAST(coalesce(a.tt, 0) AS BIGINT) AS total_tokens,
           CAST(coalesce(a.fp, 0) AS BIGINT) AS content_fp
    FROM range({_TSM_SHARDS}) r LEFT JOIN agg a ON a.shard = r.range
    ORDER BY shard
    """,
)
def training_shard_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_ingestion_din_spark.functions.hashing import h64

    out, touched = _tsi_export(spark, sf_dir)
    back = (
        spark.read.parquet(out)
        .select(
            "shard",
            "n_tok",
            h64(
                F.concat(
                    F.lit("mfp:"),
                    F.col("doc_id").cast("string"),
                    F.lit(":"),
                    F.col("n_tok").cast("string"),
                )
            ).alias("fph"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
            F.bit_xor("fph").cast("bigint").alias("content_fp"),
        )
    )
    ids = spark.range(_TSM_SHARDS).select(F.col("id").cast("int").alias("shard"))
    return (
        ids.join(back, "shard", "left")
        .select(
            "shard",
            F.col("shard").isin(touched).cast("int").alias("rewritten"),
            F.coalesce("n_docs", F.lit(0)).cast("bigint").alias("n_docs"),
            F.coalesce("total_tokens", F.lit(0))
            .cast("bigint")
            .alias("total_tokens"),
            F.coalesce("content_fp", F.lit(0))
            .cast("bigint")
            .alias("content_fp"),
        )
        .orderBy("shard")
    )


# --------------------------------------------------------------------------
# doc_quality_classifier — model-based quality scoring, the fasttext-style
# linear-classifier gate of a CCNet/GPT-3 curation pipeline (the missing
# sibling of the rule-based gates: quality_score, Gopher repetition). The
# distributed shape is the real thing — finite vocabulary with per-word
# weights, token explode, vocab join, per-doc weight sum, OOV counted and
# scored 0 — while the weights themselves are a deterministic stand-in
# (hash-derived integers in [-100, 100]; a trained model would ship its
# own table). Integer weights make the per-doc sum exact and associative,
# so both engines agree bit-for-bit (no float logit drift).
#
# Scale: the vocab is top-K BY CONSTRUCTION (K=400), so broadcasting it
# is bounded and correct at any corpus size — unlike corpus-growing state,
# which never gets a broadcast hint. One shuffle for the vocab counts,
# one for the per-doc sum.
# --------------------------------------------------------------------------
_QC_K = 400  # vocabulary size cap (count desc, word asc tiebreak)
_QC_W_SQL = f"CAST({h64_sql('w')} % 201 - 100 AS BIGINT)"


# The classifier, shared by doc_quality_classifier and the at-ingest
# quality gate (streaming_gates._quality_gate_processor).
def _qc_tokens(docs: DataFrame) -> DataFrame:
    """(doc_id, w) per token occurrence."""
    from data_ingestion_din_spark.functions.analysis import tokens

    return docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("w"))


def _qc_vocab(tok: DataFrame, k: int) -> DataFrame:
    """The top-``k`` words (count desc, word asc) with their
    hash-derived integer weights: (w, wt)."""
    from data_ingestion_din_spark.functions.hashing import h64

    return (
        tok.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "w")
        .limit(k)
        .select("w", (h64(F.col("w")) % 201 - 100).cast("bigint").alias("wt"))
    )


def _qc_verdicts(tok: DataFrame, vocab: DataFrame) -> DataFrame:
    """Per-doc (n_tok, oov_tok, logit_sum, passed) against ``vocab``;
    OOV words score 0."""
    # bounded-by-construction dimension: broadcast is correct here
    scored = tok.join(F.broadcast(vocab), "w", "left")
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tok"),
        F.sum(F.when(F.col("wt").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("oov_tok"),
        F.coalesce(F.sum("wt"), F.lit(0)).cast("bigint").alias("logit_sum"),
        F.when(F.coalesce(F.sum("wt"), F.lit(0)) >= 0, 1)
        .otherwise(0)
        .cast("int")
        .alias("passed"),
    )


@query(
    "doc_quality_classifier",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKS_SQL}) AS w FROM documents
    ),
    vocab AS (
      SELECT w, {_QC_W_SQL} AS wt
      FROM (
        SELECT w, count(*) AS c FROM tok GROUP BY w
        ORDER BY c DESC, w LIMIT {_QC_K}
      )
    )
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tok,
           CAST(sum(CASE WHEN v.wt IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS oov_tok,
           CAST(coalesce(sum(v.wt), 0) AS BIGINT) AS logit_sum,
           CAST(CASE WHEN coalesce(sum(v.wt), 0) >= 0 THEN 1 ELSE 0 END
                AS INT) AS passed
    FROM tok t LEFT JOIN vocab v USING (w)
    GROUP BY t.doc_id
    ORDER BY t.doc_id
    """,
)
def doc_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = _qc_tokens(load_table(spark, sf_dir, "documents"))
    return _qc_verdicts(tok, _qc_vocab(tok, _QC_K)).orderBy("doc_id")


# --------------------------------------------------------------------------
# url_canonicalize — URL normalization + URL-level dup detection, the
# step CCNet/RefinedWeb run before any content pass (group the crawl by
# canonical URL; fetch variants of one page collapse). The raw corpus
# has no URL column, so a deterministic messy URL is GENERATED per
# doc_id residue IDENTICALLY in both engines (the pii_redaction
# pattern): https-with-default-port + WWW + utm params + fragment,
# http-with-:80, trailing-slash/case variants, and a www twin — the
# last two built from doc_id % 50 so distinct raw URLs genuinely
# collide after canonicalization. The full chain (functions/urls.py)
# is hash-compared per doc, plus the per-canonical dup-group size.
# --------------------------------------------------------------------------
_RAW_URL_SQL = """CASE CAST(doc_id % 4 AS INT)
      WHEN 0 THEN 'HTTPS://WWW.Example' || CAST(doc_id % 3 AS VARCHAR)
                  || '.COM:443/Docs/' || CAST(doc_id AS VARCHAR)
                  || '/?utm_source=feed&ref=' || CAST(doc_id AS VARCHAR)
                  || '&utm_campaign=x#sec2'
      WHEN 1 THEN 'http://example' || CAST(doc_id % 3 AS VARCHAR)
                  || '.com:80/docs/' || CAST(doc_id AS VARCHAR)
                  || '?ref=' || CAST(doc_id AS VARCHAR)
      WHEN 2 THEN 'https://Example.com/shared/'
                  || CAST(doc_id % 50 AS VARCHAR) || '/'
      ELSE 'https://www.example.com/shared/'
                  || CAST(doc_id % 50 AS VARCHAR) || '#top'
      END"""


def _raw_url_spark() -> F.Column:
    d = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    return (
        F.when(
            d % 4 == 0,
            F.concat(
                F.lit("HTTPS://WWW.Example"), s(d % 3),
                F.lit(".COM:443/Docs/"), s(d),
                F.lit("/?utm_source=feed&ref="), s(d),
                F.lit("&utm_campaign=x#sec2"),
            ),
        )
        .when(
            d % 4 == 1,
            F.concat(
                F.lit("http://example"), s(d % 3),
                F.lit(".com:80/docs/"), s(d),
                F.lit("?ref="), s(d),
            ),
        )
        .when(
            d % 4 == 2,
            F.concat(
                F.lit("https://Example.com/shared/"), s(d % 50), F.lit("/")
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://www.example.com/shared/"), s(d % 50),
                F.lit("#top"),
            )
        )
    )


def _ucq_oracle() -> str:
    from data_ingestion_din_spark.functions.urls import canonical_url_sql

    canon = canonical_url_sql(_RAW_URL_SQL)
    return f"""
    WITH u AS (SELECT doc_id, {canon} AS canon FROM documents)
    SELECT doc_id, canon,
           CAST(count(*) OVER (PARTITION BY canon) AS BIGINT) AS n_same,
           (count(*) OVER (PARTITION BY canon)) > 1 AS dup_url
    FROM u
    ORDER BY doc_id
    """


@query("url_canonicalize", oracle=_ucq_oracle())
def url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    from data_ingestion_din_spark.functions.urls import canonical_url

    docs = load_table(spark, sf_dir, "documents")
    u = docs.select(
        "doc_id", canonical_url(_raw_url_spark()).alias("canon")
    )
    n_same = F.count(F.lit(1)).over(W.partitionBy("canon")).cast("bigint")
    return (
        u.select(
            "doc_id",
            "canon",
            n_same.alias("n_same"),
            (n_same > 1).alias("dup_url"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# corpus_snapshot_diff — dataset-version diff, the op a pipeline runs
# between corpus releases (what did this ingest change?): two snapshots
# are DERIVED deterministically from the fixture (v1 = docs except the
# %17 slice, plus a %13 slice whose text carries a v1 suffix; v2 = docs
# except the %11 slice), full-outer-joined on doc_id with content
# fingerprints compared — every doc is exactly added / removed /
# changed / unchanged, and the per-language counts are hash-gated.
# Fingerprint compare (not text compare) is the point: at 100 TB the
# diff joins two md5 columns, never two text columns.
# --------------------------------------------------------------------------
@query(
    "corpus_snapshot_diff",
    oracle="""
    WITH v1 AS (
      SELECT doc_id, lang,
             md5(text || CASE WHEN doc_id % 13 = 0 THEN ' (rev a)'
                              ELSE '' END) AS fp
      FROM documents WHERE doc_id % 17 <> 0
    ),
    v2 AS (
      SELECT doc_id, lang, md5(text) AS fp
      FROM documents WHERE doc_id % 11 <> 0
    ),
    d AS (
      SELECT coalesce(v2.doc_id, v1.doc_id) AS doc_id,
             coalesce(v2.lang, v1.lang) AS lang,
             CASE
               WHEN v1.doc_id IS NULL THEN 'added'
               WHEN v2.doc_id IS NULL THEN 'removed'
               WHEN v1.fp <> v2.fp THEN 'changed'
               ELSE 'unchanged'
             END AS status
      FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
    )
    SELECT lang, status, CAST(count(*) AS BIGINT) AS n_docs
    FROM d
    GROUP BY lang, status
    ORDER BY lang, status
    """,
)
def corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    v1 = docs.filter(F.col("doc_id") % 17 != 0).select(
        "doc_id",
        "lang",
        F.md5(
            F.concat(
                F.col("text"),
                F.when(F.col("doc_id") % 13 == 0, " (rev a)").otherwise(""),
            )
        ).alias("fp"),
    )
    v2 = docs.filter(F.col("doc_id") % 11 != 0).select(
        "doc_id", "lang", F.md5(F.col("text")).alias("fp")
    )
    a = v1.select(
        F.col("doc_id").alias("id1"),
        F.col("lang").alias("lang1"),
        F.col("fp").alias("fp1"),
    )
    b = v2.select(
        F.col("doc_id").alias("id2"),
        F.col("lang").alias("lang2"),
        F.col("fp").alias("fp2"),
    )
    d = a.join(b, a.id1 == b.id2, "full_outer").select(
        F.coalesce("lang2", "lang1").alias("lang"),
        F.when(F.col("id1").isNull(), "added")
        .when(F.col("id2").isNull(), "removed")
        .when(F.col("fp1") != F.col("fp2"), "changed")
        .otherwise("unchanged")
        .alias("status"),
    )
    return (
        d.groupBy("lang", "status")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .orderBy("lang", "status")
    )


# --------------------------------------------------------------------------
# corpus_dsir_select — data selection via importance resampling (DSIR,
# Xie et al. 2023): score every raw-pool document by how much its hashed
# n-gram feature distribution looks like a TARGET domain rather than the
# raw pool itself, then keep the top-k. Features are hashed unigrams +
# bigrams (portable h64 % B buckets, B = 512); the per-bucket
# log-likelihood ratio is quantized to INTEGER log2 via length(bin(x))
# — the same exact-arithmetic recipe as retrieval_bm25's integer idf —
# so the weight is pure BIGINT math and bit-identical in the oracle
# (libm log() is the one primitive the parity gate cannot trust).
#
#   weight(d) = sum_b n_db * (intlog2(t_b + 1) - intlog2(r_b + 1))
#             + N_d * (intlog2(R + B) - intlog2(T + B))
#
# with intlog2(x) = floor(log2 x) + 1 = length(bin(x)), t_b/r_b the
# target/raw bucket totals and T/R their sums — the Laplace-smoothed
# bigram-LM ratio of the DSIR paper, octave-quantized. 100 TB story:
# one explode shuffle to (doc, bucket) counts, staged once
# (localCheckpoint) to feed both the B-row distribution tables and the
# per-doc weights; the ratio table is <= B rows and broadcast; top-k is
# TakeOrdered, never a full sort. Reference has no selection stage at
# all — this is the north-star curation family (SURVEY.md §6).
# --------------------------------------------------------------------------
_DSIR_B = 512
_DSIR_TARGET = ("src0", "src1")
_DSIR_TOPK = 50
_DSIR_TGT_SQL = "('src0', 'src1')"


# The DSIR model, shared by corpus_dsir_select and the at-ingest DSIR
# gate (streaming_gates._dsir_gate_processor).
def _dsir_is_tgt() -> F.Column:
    return F.col("source").isin(*_DSIR_TARGET)


def _dsir_bucket_counts(docs: DataFrame) -> DataFrame:
    """(doc_id, source, bkt, n): each doc's hashed unigram + bigram
    counts per bucket."""
    from data_ingestion_din_spark.functions.analysis import tokens
    from data_ingestion_din_spark.functions.hashing import h64

    t = docs.select(
        "doc_id", "source", tokens(F.col("text")).alias("toks")
    ).filter(F.size("toks") >= 1)
    # unigrams ++ bigrams in ONE generator expression so the explode
    # scans the corpus once; slice(toks, 1, 0) is the typed empty array
    # for single-token docs.
    grams = t.select(
        "doc_id",
        "source",
        F.explode(
            F.expr(
                "concat(toks, CASE WHEN size(toks) >= 2 THEN "
                "transform(sequence(1, size(toks) - 1), "
                "i -> concat(toks[i - 1], ' ', toks[i])) "
                "ELSE slice(toks, 1, 0) END)"
            )
        ).alias("g"),
    )
    return (
        grams.select(
            "doc_id", "source", (h64(F.col("g")) % _DSIR_B).alias("bkt")
        )
        .groupBy("doc_id", "source", "bkt")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


def _dsir_bucket_totals(db: DataFrame) -> DataFrame:
    """(bkt, t_n, r_n): target / raw gram counts per bucket."""
    is_tgt = _dsir_is_tgt()
    return db.groupBy("bkt").agg(
        F.sum(F.when(is_tgt, F.col("n")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("t_n"),
        F.sum(F.when(~is_tgt, F.col("n")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("r_n"),
    )


def _dsir_ratio(ball: DataFrame) -> DataFrame:
    """(bkt, qlr): the octave-quantized log-likelihood ratio of every
    bucket the raw pool has seen."""
    return ball.filter(F.col("r_n") >= 1).select(
        "bkt",
        (intlog2(F.col("t_n") + 1) - intlog2(F.col("r_n") + 1)).alias(
            "qlr"
        ),
    )


def _dsir_totals(ball: DataFrame) -> DataFrame:
    """The 1-row (t_tot, r_tot) the length offset is computed from."""
    return ball.agg(
        F.sum("t_n").cast("bigint").alias("t_tot"),
        F.sum("r_n").cast("bigint").alias("r_tot"),
    )


def _dsir_offset() -> F.Column:
    """The per-gram length offset over a _dsir_totals row."""
    return intlog2(F.col("r_tot") + _DSIR_B) - intlog2(
        F.col("t_tot") + _DSIR_B
    )


@query(
    "corpus_dsir_select",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, {_TOKS_SQL} AS toks FROM documents
    ),
    g AS (
      SELECT doc_id, source, g FROM t, unnest(toks) AS u(g)
      UNION ALL
      SELECT doc_id, source, toks[i] || ' ' || toks[i + 1] AS g
      FROM t, unnest(range(1, len(toks))) r(i)
      WHERE i < len(toks)
    ),
    db AS (
      SELECT doc_id, source,
             {h64_sql('g')} % {_DSIR_B} AS bkt,
             CAST(count(*) AS BIGINT) AS n
      FROM g GROUP BY doc_id, source, bkt
    ),
    ball AS (
      SELECT bkt,
             CAST(sum(CASE WHEN source IN {_DSIR_TGT_SQL}
                           THEN n ELSE 0 END) AS BIGINT) AS t_n,
             CAST(sum(CASE WHEN source NOT IN {_DSIR_TGT_SQL}
                           THEN n ELSE 0 END) AS BIGINT) AS r_n
      FROM db GROUP BY bkt
    ),
    tot AS (
      SELECT CAST(sum(t_n) AS BIGINT) AS t_tot,
             CAST(sum(r_n) AS BIGINT) AS r_tot
      FROM ball
    ),
    q AS (
      SELECT bkt,
             CAST(length(bin(t_n + 1)) AS BIGINT)
               - CAST(length(bin(r_n + 1)) AS BIGINT) AS qlr
      FROM ball WHERE r_n >= 1
    ),
    w AS (
      SELECT db.doc_id, db.source,
             CAST(sum(db.n) AS BIGINT) AS n_grams,
             CAST(sum(db.n * q.qlr) AS BIGINT) AS feat_w
      FROM db JOIN q USING (bkt)
      WHERE db.source NOT IN {_DSIR_TGT_SQL}
      GROUP BY db.doc_id, db.source
    ),
    sw AS (
      SELECT w.doc_id, w.source, w.n_grams,
             w.feat_w + w.n_grams *
               (CAST(length(bin(tot.r_tot + {_DSIR_B})) AS BIGINT)
                - CAST(length(bin(tot.t_tot + {_DSIR_B})) AS BIGINT))
               AS weight
      FROM w, tot
    )
    SELECT doc_id, source, n_grams, CAST(weight AS BIGINT) AS weight,
           CAST(row_number() OVER (ORDER BY weight DESC, doc_id) AS INT)
             AS rk
    FROM sw
    ORDER BY weight DESC, doc_id
    LIMIT {_DSIR_TOPK}
    """,
)
def corpus_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    db = (
        _dsir_bucket_counts(docs)
        # lazy: both consumers sit in the final action
        .localCheckpoint(eager=False)  # feeds ball + per-doc weights
    )
    ball = _dsir_bucket_totals(db)
    w = (
        db.filter(~_dsir_is_tgt())
        .join(F.broadcast(_dsir_ratio(ball)), "bkt")
        .groupBy("doc_id", "source")
        .agg(
            F.sum("n").cast("bigint").alias("n_grams"),
            F.sum(F.col("n") * F.col("qlr")).cast("bigint").alias("feat_w"),
        )
    )
    sw = w.crossJoin(F.broadcast(_dsir_totals(ball))).select(
        "doc_id",
        "source",
        "n_grams",
        (F.col("feat_w") + F.col("n_grams") * _dsir_offset())
        .cast("bigint")
        .alias("weight"),
    )
    from data_ingestion_din_spark.operators.ranking import rank_topk

    # TakeOrdered top-k FIRST, then rank the <= k survivors — the global
    # row_number window only ever sees k rows (structural via rank_topk).
    return rank_topk(sw, _DSIR_TOPK, F.desc("weight"), "doc_id").orderBy(
        F.desc("weight"), "doc_id"
    )


# --------------------------------------------------------------------------
# corpus_temperature_mixture — TEMPERATURE-based language re-balancing,
# the standard multilingual pretraining mix (sample language l at a
# rate ∝ p_l^(1/T); T=2 → the √-share recipe of multilingual BERT /
# XLM): languages are DOWN-sampled toward equal-ish shares with the
# rarest language kept whole — rate_l = sqrt(n_min / n_l), so
# selected_l ≈ sqrt(n_min · n_l) ∝ sqrt(n_l). Every decision is
# hash-gatable: the per-lang rate is quantized to an INTEGER
# micro-threshold (floor(1e6·sqrt(n_min/n_l)) — one correctly-rounded
# sqrt and one double multiply, deterministic across engines), and a
# doc is kept iff abs(h64('tmix:'||doc_id)) % 1e6 clears its
# language's threshold — the same salted-hash Bernoulli used by the
# stratified sampler, reproducible run-to-run and engine-to-engine.
#
# Scale: one lang-count shuffle; the per-lang rate table is bounded by
# the language count (the legal broadcast class — plan-hinted); the
# per-doc keep test is a scan-local predicate, no shuffle.
# --------------------------------------------------------------------------
# The T=2 mixture, shared by corpus_temperature_mixture and the
# at-ingest mixture gate (streaming_gates._tmix_gate_processor).
def _tmix_rates(docs: DataFrame) -> DataFrame:
    """(lang, n_docs, threshold_micros) per language of ``docs``."""
    counts = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    n_min = counts.agg(F.min("n_docs").alias("n_min"))
    return counts.crossJoin(F.broadcast(n_min)).select(
        "lang",
        "n_docs",
        F.floor(
            F.lit(1000000.0)
            * F.sqrt(F.col("n_min").cast("double") / F.col("n_docs"))
        )
        .cast("bigint")
        .alias("threshold_micros"),
    )


def _tmix_keep(threshold: F.Column) -> F.Column:
    """The salted-hash Bernoulli keep test of a doc against its
    language's micro-threshold."""
    from data_ingestion_din_spark.functions.hashing import h64

    return (
        F.abs(h64(F.concat(F.lit("tmix:"), F.col("doc_id").cast("string"))))
        % 1000000
        < threshold
    )


@query(
    "corpus_temperature_mixture",
    oracle=f"""
    WITH c AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY lang
    ),
    mn AS (SELECT min(n_docs) AS n_min FROM c),
    r AS (
      SELECT lang, n_docs,
             CAST(floor(1000000.0 *
                        sqrt(CAST(n_min AS DOUBLE) / n_docs)) AS BIGINT)
               AS threshold_micros
      FROM c CROSS JOIN mn
    ),
    s AS (
      SELECT d.lang, CAST(count(*) AS BIGINT) AS n_sel
      FROM documents d JOIN r ON d.lang = r.lang
      WHERE abs({h64_sql("'tmix:' || CAST(doc_id AS VARCHAR)")}) % 1000000
              < r.threshold_micros
      GROUP BY d.lang
    )
    SELECT r.lang, r.n_docs, r.threshold_micros,
           CAST(coalesce(s.n_sel, 0) AS BIGINT) AS n_selected
    FROM r LEFT JOIN s ON r.lang = s.lang
    ORDER BY r.lang
    """,
)
def corpus_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("lang", "doc_id")
    rates = _tmix_rates(docs)
    kept = (
        docs.join(F.broadcast(rates.select("lang", "threshold_micros")), "lang")
        .filter(_tmix_keep(F.col("threshold_micros")))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_sel"))
    )
    return (
        rates.join(kept, "lang", "left")
        .select(
            "lang",
            "n_docs",
            "threshold_micros",
            F.coalesce("n_sel", F.lit(0)).cast("bigint").alias("n_selected"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# corpus_eval_attribution — the INVERSE view of corpus_decontaminate:
# per eval-set document, how much of the training corpus leaks into it
# (distinct contaminating corpus docs + total shared-shingle
# instances). Decontamination answers "which corpus docs do I drop";
# this answers the question an eval owner asks next — "which of MY
# benchmark items are compromised, and how badly" — the per-item
# contamination report published with eval results.
#
# Scale: the eval side is benchmark-sized (bounded control data), so
# its (doc_id, shingle) pairs broadcast — the corpus side never
# shuffles before the per-eval-doc rollup, exactly the
# decontaminate_hits discipline with attribution kept.
# --------------------------------------------------------------------------
@query(
    "corpus_eval_attribution",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents),
    idx AS (
      SELECT doc_id, tk, unnest(range(1, len(tk) - {_DC_N - 2})) AS i
      FROM t WHERE len(tk) >= {_DC_N}
    ),
    sh AS (SELECT DISTINCT doc_id, {_DC_SHINGLE} AS shingle FROM idx),
    ev AS (SELECT doc_id AS eval_id, shingle FROM sh WHERE doc_id % 7 = 0),
    hits AS (
      SELECT e.eval_id, s.doc_id,
             CAST(count(*) AS BIGINT) AS n_shingles
      FROM ev e JOIN sh s USING (shingle)
      WHERE s.doc_id % 7 <> 0
      GROUP BY e.eval_id, s.doc_id
    )
    SELECT e.eval_id,
           CAST(coalesce(count(h.doc_id), 0) AS BIGINT) AS n_corpus_docs,
           CAST(coalesce(sum(h.n_shingles), 0) AS BIGINT)
             AS n_shared_shingles
    FROM (SELECT DISTINCT eval_id FROM ev) e
    LEFT JOIN hits h USING (eval_id)
    GROUP BY e.eval_id
    ORDER BY e.eval_id
    """,
)
def corpus_eval_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_ingestion_din_spark.functions.analysis import (
        tokens,
        word_shingles,
    )

    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(word_shingles(tokens(F.col("text")), _DC_N))
        ).alias("shingle"),
    )
    ev = sh.filter(F.col("doc_id") % 7 == 0).select(
        F.col("doc_id").alias("eval_id"), "shingle"
    )
    hits = (
        sh.filter(F.col("doc_id") % 7 != 0)
        .join(F.broadcast(ev), "shingle")
        .groupBy("eval_id", "doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shingles"))
    )
    eval_ids = ev.select("eval_id").distinct()
    return (
        eval_ids.join(hits, "eval_id", "left")
        .groupBy("eval_id")
        .agg(
            F.count("doc_id").cast("bigint").alias("n_corpus_docs"),
            F.coalesce(F.sum("n_shingles"), F.lit(0))
            .cast("bigint")
            .alias("n_shared_shingles"),
        )
        .orderBy("eval_id")
    )


# --------------------------------------------------------------------------
# corpus_bloom_decontaminate — decontamination through a BLOOM FILTER,
# the structure the exact-set gate (corpus_decontaminate broadcasts
# every benchmark shingle) graduates to at 100 TB: the benchmark's 8-gram
# set is folded into a 32,256-bit filter stored as 512 int64 words
# (k = 3 seeded h64 positions per shingle; 63 usable bits per word so no
# shift ever touches the sign bit — identical two's-complement-free
# arithmetic in both engines), and the corpus probes THAT — a ≤512-row
# broadcast (4 KB) instead of the full shingle set, with zero corpus-side
# shuffle before the per-doc rollup. The query audits the sketch against
# the exact membership truth on the same slice split (doc_id % 7):
# per corpus doc, distinct shingles, Bloom hits, exact hits, and the
# false-positive overcount — the integer columns ARE the measured FPR,
# so the probabilistic structure sits fully under the hash gate
# (deterministic seeded hashes; nothing is random at parity time).
#
# Measured (sf0.01): 3,783 benchmark shingles into 32,256 bits at k=3
# → theoretical per-shingle FPR ≈ (1−e^{−0.352})³ ≈ 2.6%, realized
# 530/19,276 = 2.75% — theory confirmed. The DOC-level lesson the row
# exists to teach: the any-hit flag inflates 283 flagged docs vs 9
# truly contaminated (a 46-shingle doc has a 72% chance of ≥1 FP at
# this rate), while a hit-count threshold recovers precision measured
# as t=2→155, t=3→76, t=4→37 (all 9 true kept), t=8→8 (drops the
# 4-hit true doc): contaminated_bloom_t4 is the production gate shape
# — threshold the sketch, size m to the probe volume, or both.
#
# Scale: filter build is one benchmark-sized shuffle (positions →
# bit_or per word); probing is corpus-scan → 512-row broadcast join →
# doc_id rollup. The exact-side audit columns are fixture-only truth —
# at production the Bloom verdict is the decision and the audit runs on
# a sampled slice, exactly like the recall audits.
# --------------------------------------------------------------------------


def _bf_pos_sql(expr: str, j: int) -> str:
    return f"{h64_sql(expr, seed=f'bl{j}:')} % {BF_M}"


def _bf_probe_union_sql(src: str, cols: str) -> str:
    """UNION ALL of the k seeded positions over ``src`` (DuckDB's
    range() lateral cannot parameterize the seed string)."""
    return "\n      UNION ALL ".join(
        f"SELECT {cols}, {_bf_pos_sql('shingle', j)} AS pos FROM {src}"
        for j in range(BF_K)
    )


@query(
    "corpus_bloom_decontaminate",
    oracle=f"""
    WITH t AS (SELECT doc_id, {{toks}} AS tk FROM documents),
    idx AS (
      SELECT doc_id, tk, unnest(range(1, len(tk) - {_DC_N - 2})) AS i
      FROM t WHERE len(tk) >= {_DC_N}
    ),
    sh AS (SELECT DISTINCT doc_id, {_DC_SHINGLE} AS shingle FROM idx),
    ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 7 = 0),
    bpos AS (
      {_bf_probe_union_sql("ev", "shingle")}
    ),
    words AS MATERIALIZED (
      SELECT pos // {BF_WBITS} AS word,
             bit_or(CAST(1 AS BIGINT) << (pos % {BF_WBITS})) AS bits
      FROM bpos GROUP BY 1
    ),
    cor AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 7 <> 0),
    cp AS (
      {_bf_probe_union_sql("cor", "doc_id, shingle")}
    ),
    tested AS (
      SELECT c.doc_id, c.shingle,
             coalesce((w.bits >> (c.pos % {BF_WBITS})) & 1, 0) AS hit
      FROM cp c LEFT JOIN words w ON w.word = c.pos // {BF_WBITS}
    ),
    persh AS (
      SELECT doc_id, shingle,
             CASE WHEN sum(hit) = {BF_K} THEN 1 ELSE 0 END AS bloom_hit
      FROM tested GROUP BY doc_id, shingle
    ),
    ex AS (
      SELECT c.doc_id, c.shingle,
             CASE WHEN e.shingle IS NOT NULL THEN 1 ELSE 0 END AS exact_hit
      FROM cor c LEFT JOIN ev e ON e.shingle = c.shingle
    )
    SELECT p.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(p.bloom_hit) AS BIGINT) AS bloom_hits,
           CAST(sum(x.exact_hit) AS BIGINT) AS exact_hits,
           CAST(sum(p.bloom_hit) - sum(x.exact_hit) AS BIGINT)
             AS false_positives,
           sum(p.bloom_hit) > 0 AS contaminated_bloom,
           sum(p.bloom_hit) >= 4 AS contaminated_bloom_t4,
           sum(x.exact_hit) > 0 AS contaminated_exact
    FROM persh p
    JOIN ex x ON x.doc_id = p.doc_id AND x.shingle = p.shingle
    GROUP BY p.doc_id
    ORDER BY p.doc_id
    """.format(toks=_TOKS_SQL),
)
def corpus_bloom_decontaminate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from data_ingestion_din_spark.functions.analysis import (
        tokens,
        word_shingles,
    )
    from data_ingestion_din_spark.sources.tables import scan_parallel

    docs = load_table(spark, sf_dir, "documents")
    sh = (
        scan_parallel(docs)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    word_shingles(tokens(F.col("text")), _DC_N)
                )
            ).alias("shingle"),
        )
        .localCheckpoint(eager=False)  # feeds filter build AND probe
    )
    ev = sh.filter(F.col("doc_id") % 7 == 0).select("shingle").distinct()
    cor = sh.filter(F.col("doc_id") % 7 != 0)
    persh = bloom_probe(cor, bloom_words(ev), "doc_id")
    ex = cor.join(
        F.broadcast(ev.withColumn("e", F.lit(1))), "shingle", "left"
    ).select(
        "doc_id", "shingle", F.coalesce(F.col("e"), F.lit(0)).alias("exact_hit")
    )
    return (
        persh.join(ex, ["doc_id", "shingle"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum("bloom_hit").cast("bigint").alias("bloom_hits"),
            F.sum("exact_hit").cast("bigint").alias("exact_hits"),
            (F.sum("bloom_hit") - F.sum("exact_hit"))
            .cast("bigint")
            .alias("false_positives"),
            (F.sum("bloom_hit") > 0).alias("contaminated_bloom"),
            (F.sum("bloom_hit") >= 4).alias("contaminated_bloom_t4"),
            (F.sum("exact_hit") > 0).alias("contaminated_exact"),
        )
        .orderBy("doc_id")
    )
