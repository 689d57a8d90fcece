"""Document text pipeline: cleaning, token stats, language ID, quality,
chunking, word frequency — over the ``documents`` fixture table.

These are the Spark-first restatement of the reference's text path
(clean → analyze → chunk; SURVEY.md §3.1) plus the training-data text
analysis the north star requires. Everything is a column expression; the
per-doc work needs no shuffle at all (narrow), the corpus-level word
frequency is one shuffle on the token.

Oracle note: tokenization is `string_split` + empty filter on both sides;
all ratios divide integers (deterministic doubles); fingerprints are md5.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_din_spark.functions.analysis import (
    STOPWORDS,
    fingerprint,
    lang_id,
    quality_score,
    tokens,
)
from data_ingestion_din_spark.functions.hashing import h64_sql
from data_ingestion_din_spark.functions.text import clean_text, clean_text_sql
from data_ingestion_din_spark.operators.colocate import staged
from data_ingestion_din_spark.plans.registry import query
from data_ingestion_din_spark.sources.tables import load_table, local_frame

_TOKS_SQL = "list_filter(string_split(text, ' '), x -> x <> '')"
_STOP_LIST_SQL = "[" + ", ".join(f"'{s}'" for s in STOPWORDS) + "]"


# --------------------------------------------------------------------------
# doc_token_stats — token counting + fingerprinting (north-star text
# analysis; reference A6 token-set math generalized). Pure array
# expressions: no explode, no shuffle.
# --------------------------------------------------------------------------
@query(
    "doc_token_stats",
    oracle=f"""
    WITH t AS (SELECT doc_id, text, {_TOKS_SQL} AS toks FROM documents)
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(toks)) AS BIGINT) AS n_unique,
           CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
             / CAST(len(toks) AS BIGINT) AS avg_token_len,
           md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp
    FROM t
    ORDER BY doc_id
    """,
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Narrow array expressions, no explode: A/B-measured 5× faster than an
    # explode + groupBy formulation — the token-row shuffle costs far more
    # than four interpreted array passes over the same split() (per-doc
    # stats are embarrassingly parallel; keep them shuffle-free).
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    sum_len = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return docs.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_unique"),
        (sum_len.cast("double") / F.size(toks)).alias("avg_token_len"),
        fingerprint(F.col("text")).alias("fp"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# doc_language_quality — language ID + quality scoring (north-star text
# analysis; generalizes the reference's noise heuristics,
# ingestion/cleaner.py:62-84). Expression structure mirrors the oracle
# exactly so double arithmetic is bit-identical.
# --------------------------------------------------------------------------
@query(
    "doc_language_quality",
    oracle=f"""
    WITH t AS (SELECT doc_id, text, {_TOKS_SQL} AS toks FROM documents),
    s AS (
      SELECT doc_id,
             len(toks) AS n_tok,
             len(list_filter(toks, x -> list_contains({_STOP_LIST_SQL}, x)))
               AS n_stop,
             length(regexp_replace(text, '[^A-Za-z0-9฀-๿]', '', 'g'))
               AS n_word,
             length(regexp_replace(text, '[^฀-๿]', '', 'g')) AS n_thai,
             length(text) AS n_chars
      FROM t
    )
    SELECT doc_id,
           CASE
             WHEN n_thai / greatest(n_chars, 1) > 0.3 THEN 'th'
             WHEN n_stop / greatest(n_tok, 1) > 0.02 THEN 'en'
             ELSE 'unk'
           END AS lang_guess,
           least(n_tok / 20.0, 1.0) * 0.4
             + (n_word / greatest(n_chars, 1)) * 0.3
             + least((n_stop / greatest(n_tok, 1)) / 0.1, 1.0) * 0.3
             AS quality
    FROM s
    ORDER BY doc_id
    """,
)
def doc_language_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    return docs.select(
        "doc_id",
        lang_id(F.col("text"), toks).alias("lang_guess"),
        quality_score(F.col("text"), toks).alias("quality"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# doc_clean_roundtrip — the unified clean_text chain (F1/F3, four
# duplicated implementations in the reference — SURVEY.md §2.9) proven on
# deliberately dirtied input: tab prefix, doubled spaces, trailing newline
# runs. Output is the cleaned-text fingerprint + length.
# --------------------------------------------------------------------------
_DIRTY_SQL = (
    "chr(9) || replace(text, ' ', '  ') || chr(10)||chr(10)||chr(10)||chr(10) || 'x'"
)


@query(
    "doc_clean_roundtrip",
    oracle=f"""
    SELECT doc_id,
           md5({clean_text_sql(_DIRTY_SQL)}) AS clean_fp,
           CAST(length({clean_text_sql(_DIRTY_SQL)}) AS BIGINT) AS clean_len
    FROM documents
    ORDER BY doc_id
    """,
)
def doc_clean_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    dirty = F.concat(
        F.lit("\t"),
        F.regexp_replace(F.col("text"), " ", "  "),
        F.lit("\n\n\n\n"),
        F.lit("x"),
    )
    cleaned = clean_text(dirty, thai=False)
    return docs.select(
        "doc_id",
        F.md5(cleaned).alias("clean_fp"),
        F.length(cleaned).cast("bigint").alias("clean_len"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# doc_fixed_chunks — the minimum-slice chunker (SURVEY.md §7.2; simplified
# W5): fixed 50-token chunks, content-addressed chunk ids in the
# reference's `{doc_id}::{md5[:8]}` format
# (backend/services/chunking.py:401-415). sequence → explode keeps the
# token slicing JVM-side; no Python, no shuffle.
# --------------------------------------------------------------------------
@query(
    "doc_fixed_chunks",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    idx AS (
      SELECT doc_id, toks,
             unnest(range(0, greatest(CAST(ceil(len(toks) / 50.0) AS BIGINT), 1)))
               AS chunk_idx
      FROM t
    ),
    c AS (
      SELECT doc_id, chunk_idx,
             array_to_string(
               list_slice(toks, chunk_idx * 50 + 1, chunk_idx * 50 + 50), ' '
             ) AS content
      FROM idx
    )
    SELECT doc_id,
           CAST(chunk_idx AS BIGINT) AS chunk_idx,
           CAST(doc_id AS VARCHAR) || '::' || substr(md5(content), 1, 8)
             AS chunk_id,
           CAST(length(content) AS BIGINT) AS n_chars
    FROM c
    ORDER BY doc_id, chunk_idx
    """,
)
def doc_fixed_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    # greatest(…, 1): sequence(0, -1) would be a DESCENDING [0, -1] in
    # Spark, so a zero-token doc must still yield one (empty) chunk.
    n_chunks = F.greatest(
        F.ceil(F.size(toks) / F.lit(50.0)).cast("bigint"), F.lit(1)
    )
    exploded = docs.select(
        "doc_id",
        toks.alias("toks"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
    )
    content = F.concat_ws(
        " ",
        F.slice(F.col("toks"), (F.col("chunk_idx") * 50 + 1).cast("int"), F.lit(50)),
    )
    return (
        exploded.select(
            "doc_id",
            F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
            F.concat(
                F.col("doc_id").cast("string"),
                F.lit("::"),
                F.substring(F.md5(content), 1, 8),
            ).alias("chunk_id"),
            F.length(content).cast("bigint").alias("n_chars"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


# --------------------------------------------------------------------------
# corpus_word_freq — corpus-level top-50 word frequency (the one text op
# that genuinely shuffles; token-keyed, map-side partial agg first).
# --------------------------------------------------------------------------
@query(
    "corpus_word_freq",
    oracle=f"""
    WITH tok AS (SELECT unnest({_TOKS_SQL}) AS tok FROM documents)
    SELECT tok, CAST(count(*) AS BIGINT) AS cnt
    FROM tok
    GROUP BY tok
    ORDER BY cnt DESC, tok
    LIMIT 50
    """,
)
def corpus_word_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "tok")
        .limit(50)
    )


# --------------------------------------------------------------------------
# corpus_curation — the flagship training-data curation pipeline, composing
# the oracle-checked pieces end to end: quality gate → language filter →
# exact-fingerprint dedup (deterministic winner) → per-language token
# budget (highest-quality docs first). This is the query a 100 TB corpus
# actually runs before pretraining: narrow per-doc scoring (no shuffle),
# one hash shuffle for dedup, one per-language window for the budget —
# three shuffles total regardless of corpus size.
# --------------------------------------------------------------------------
_CUR_BUDGET = 50_000  # tokens per language


# The four curation stages, shared by corpus_curation, the
# corpus_curation_funnel audit and the at-ingest funnel
# (streaming_gates._funnel_processor); the oracles restate each in SQL.
def _cur_scored(docs: DataFrame) -> DataFrame:
    """(doc_id, fp, n_tokens, lang_guess, quality) per document."""
    toks = tokens(F.col("text"))
    return docs.select(
        "doc_id",
        fingerprint(F.col("text")).alias("fp"),
        F.size(toks).cast("bigint").alias("n_tokens"),
        lang_id(F.col("text"), toks).alias("lang_guess"),
        quality_score(F.col("text"), toks).alias("quality"),
    )


def _cur_gated(scored: DataFrame) -> DataFrame:
    """The quality / language gate."""
    return scored.filter(
        (F.col("quality") >= 0.5) & (F.col("lang_guess") != "unk")
    )


def _cur_deduped(gated: DataFrame) -> DataFrame:
    """Exact dedup: the min doc_id per fingerprint (``fp`` kept)."""
    from pyspark.sql.window import Window as W

    return (
        gated.withColumn(
            "rn", F.row_number().over(W.partitionBy("fp").orderBy("doc_id"))
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def _cur_cum_tokens() -> F.Column:
    """Running token total per language in admission order (quality
    desc, doc_id asc)."""
    from pyspark.sql.window import Window as W

    return F.sum("n_tokens").over(
        W.partitionBy("lang_guess")
        .orderBy(F.desc("quality"), "doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )


def _cur_budgeted(deduped: DataFrame, cum: F.Column) -> DataFrame:
    """Budget admission: rows whose running total ``cum`` (a
    _cur_cum_tokens column, plus any carried consumption) stays within
    _CUR_BUDGET, kept as ``cum_tokens``."""
    return deduped.withColumn("cum_tokens", cum).filter(
        F.col("cum_tokens") <= _CUR_BUDGET
    )


@query(
    "corpus_curation",
    oracle=f"""
    WITH t AS (SELECT doc_id, text, {_TOKS_SQL} AS toks FROM documents),
    s AS (
      SELECT doc_id,
             len(toks) AS n_tok,
             len(list_filter(toks, x -> list_contains({_STOP_LIST_SQL}, x)))
               AS n_stop,
             length(regexp_replace(text, '[^A-Za-z0-9฀-๿]', '', 'g'))
               AS n_word,
             length(regexp_replace(text, '[^฀-๿]', '', 'g')) AS n_thai,
             length(text) AS n_chars,
             md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp
      FROM t
    ),
    scored AS (
      SELECT doc_id, fp,
             CAST(n_tok AS BIGINT) AS n_tokens,
             CASE
               WHEN n_thai / greatest(n_chars, 1) > 0.3 THEN 'th'
               WHEN n_stop / greatest(n_tok, 1) > 0.02 THEN 'en'
               ELSE 'unk'
             END AS lang_guess,
             least(n_tok / 20.0, 1.0) * 0.4
               + (n_word / greatest(n_chars, 1)) * 0.3
               + least((n_stop / greatest(n_tok, 1)) / 0.1, 1.0) * 0.3
               AS quality
      FROM s
    ),
    gated AS (
      SELECT * FROM scored WHERE quality >= 0.5 AND lang_guess <> 'unk'
    ),
    deduped AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM gated
      ) WHERE rn = 1
    ),
    budgeted AS (
      SELECT doc_id, lang_guess, quality, n_tokens,
             sum(n_tokens) OVER (
               PARTITION BY lang_guess
               ORDER BY quality DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum_tokens
      FROM deduped
    )
    SELECT doc_id, lang_guess, quality, n_tokens,
           CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM budgeted
    WHERE cum_tokens <= {_CUR_BUDGET}
    ORDER BY lang_guess, cum_tokens
    """,
)
def corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    deduped = _cur_deduped(_cur_gated(_cur_scored(docs))).drop("fp")
    return _cur_budgeted(
        deduped, _cur_cum_tokens().cast("bigint")
    ).orderBy("lang_guess", "cum_tokens")


# --------------------------------------------------------------------------
# doc_bpe_token_stats — BPE-ish regex tokenization next to whitespace
# tokenization (the two token-count lenses a training pipeline budgets
# with). The pattern is the GPT-2 pre-tokenizer with its lookahead
# dropped (RE2 has no lookaround; Java honors the same leftmost-first
# alternation): contractions | space?letters | space?digits |
# space?punct-runs | whitespace runs. Pure regexp_extract_all — narrow,
# codegen, no shuffle.
# --------------------------------------------------------------------------
_BPE_RE = r"'(?:s|t|re|ve|m|ll|d)| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+|\s+"
_BPE_RE_SQL = _BPE_RE.replace("'", "''")


@query(
    "doc_bpe_token_stats",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             len(regexp_extract_all(text, '{_BPE_RE_SQL}')) AS n_bpe,
             len({_TOKS_SQL}) AS n_ws
      FROM documents
    )
    SELECT doc_id,
           CAST(n_bpe AS BIGINT) AS n_bpe_tokens,
           CAST(n_ws AS BIGINT) AS n_ws_tokens,
           round(CASE WHEN n_ws > 0 THEN CAST(n_bpe AS DOUBLE) / n_ws
                      ELSE 0.0 END, 6) AS bpe_per_word
    FROM t
    ORDER BY doc_id
    """,
)
def doc_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_bpe = F.size(F.regexp_extract_all(F.col("text"), F.lit(_BPE_RE), F.lit(0)))
    n_ws = F.size(tokens(F.col("text")))
    return docs.select(
        "doc_id",
        n_bpe.cast("bigint").alias("n_bpe_tokens"),
        n_ws.cast("bigint").alias("n_ws_tokens"),
        F.round(
            F.when(n_ws > 0, n_bpe.cast("double") / n_ws).otherwise(0.0), 6
        ).alias("bpe_per_word"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# doc_rare_token_ratio — OOV-rate quality signal: the share of a doc's
# DISTINCT vocabulary that is rare corpus-wide (document frequency < 3).
# High ratios flag gibberish/OCR noise/boilerplate-free junk the way an
# LM-perplexity filter would, but with integer-exact corpus statistics
# (no libm log, so the oracle hash covers it bit-for-bit — the
# engine-native stand-in for the KenLM stage of CCNet-style pipelines).
#
# Scale: one shuffle on token for the document-frequency table, one
# token-key shuffle join back (the df side is the long tail — far too
# big to broadcast, this IS the scale shape), one doc_id rollup. The
# df table would be reused across quality passes at production
# (staged-table shape, like the entity cache).
# --------------------------------------------------------------------------
_RARE_DF = 3


@query(
    "doc_rare_token_ratio",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    dt AS (
      SELECT doc_id, unnest(list_distinct(toks)) AS tok FROM t
    ),
    df AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS df FROM dt GROUP BY tok
    ),
    j AS (SELECT d.doc_id, f.df FROM dt d JOIN df f USING (tok))
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_distinct,
           CAST(sum(CASE WHEN df < {_RARE_DF} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_rare,
           CAST(sum(CASE WHEN df < {_RARE_DF} THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) AS rare_ratio
    FROM j
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def doc_rare_token_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    dt = docs.select(
        "doc_id",
        F.explode(F.array_distinct(tokens(F.col("text")))).alias("tok"),
    )
    dfreq = dt.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    j = dt.join(dfreq, "tok")
    rare = F.sum(F.when(F.col("df") < _RARE_DF, 1).otherwise(0))
    return (
        j.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
            rare.cast("bigint").alias("n_rare"),
        )
        .select(
            "doc_id",
            "n_distinct",
            "n_rare",
            (F.col("n_rare").cast("double") / F.col("n_distinct")).alias(
                "rare_ratio"
            ),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# corpus_bigram_lm — n-gram LM count tables, the classic massive-corpus
# job (KenLM/CCNet training stage): bigram counts grouped by head
# token, conditional probability as exact-count ratio, top-3
# continuations per head for heads seen >= 50 times. One shuffle on the
# (head, next) pair (map-side partial counts do the heavy lifting),
# head totals via a window over the already-partitioned head — no
# second scan of the corpus. NB Spark array subscripts are 0-based vs
# DuckDB's 1-based: the twins index accordingly.
# --------------------------------------------------------------------------
_LM_MIN_HEAD = 50
_LM_TOPK = 3


@query(
    "corpus_bigram_lm",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    prs AS (
      SELECT t[i] AS head, t[i + 1] AS next
      FROM t, unnest(range(1, len(t))) r(i)
      WHERE i < len(t)
    ),
    pc AS (
      SELECT head, next, CAST(count(*) AS BIGINT) AS pair_n
      FROM prs GROUP BY head, next
    ),
    hn AS (
      SELECT *, CAST(sum(pair_n) OVER (PARTITION BY head) AS BIGINT)
                  AS head_n
      FROM pc
    ),
    ranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY head ORDER BY pair_n DESC, next
             ) AS rk
      FROM hn WHERE head_n >= {_LM_MIN_HEAD}
    )
    SELECT head, next, pair_n, head_n,
           CAST(pair_n AS DOUBLE) / head_n AS cond_p,
           CAST(rk AS INT) AS rk
    FROM ranked WHERE rk <= {_LM_TOPK}
    ORDER BY head, rk
    """,
)
def corpus_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql.window import Window as W

    # size >= 2 guard: sequence(1, size-1) DESCENDS for shorter docs
    # ([1,0,-1] for size 0) and ANSI array indexing would throw; the
    # oracle's WHERE i < len(t) is the same guard on the DuckDB side
    t = docs.select(tokens(F.col("text")).alias("t")).filter(
        F.size("t") >= 2
    )
    prs = t.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1), "
                "i -> struct(t[i - 1] AS head, t[i] AS next))"
            )
        ).alias("p")
    ).select("p.head", "p.next")
    pc = prs.groupBy("head", "next").agg(
        F.count(F.lit(1)).cast("bigint").alias("pair_n")
    )
    hn = pc.withColumn(
        "head_n",
        F.sum("pair_n").over(W.partitionBy("head")).cast("bigint"),
    ).filter(F.col("head_n") >= _LM_MIN_HEAD)
    ranked = hn.withColumn(
        "rk",
        F.row_number().over(
            W.partitionBy("head").orderBy(F.desc("pair_n"), "next")
        ),
    ).filter(F.col("rk") <= _LM_TOPK)
    return ranked.select(
        "head",
        "next",
        "pair_n",
        "head_n",
        (F.col("pair_n").cast("double") / F.col("head_n")).alias("cond_p"),
        F.col("rk").cast("int").alias("rk"),
    ).orderBy("head", "rk")


# --------------------------------------------------------------------------
# corpus_langid_confusion — n-gram-profile language ID (Cavnar-Trenkle
# shape), evaluated as a confusion matrix against the fixture's true
# lang labels: per-language profiles = top-50 char trigrams by document
# frequency; a doc's predicted language = argmax of |doc's distinct
# trigrams ∩ profile| (ties → lang asc, no-hit docs → 'none'). All
# counts integer-exact, so the trained profiles AND the per-doc argmax
# decisions are under the hash gate.
#
# Scale: one (lang, trigram) shuffle for profile training; profiles are
# k·|langs| rows → broadcast for scoring, so the corpus is scanned once
# more with no shuffle before the per-doc argmax on doc_id.
# --------------------------------------------------------------------------
_LID_K = 50
_LID_N = 3


@query(
    "corpus_langid_confusion",
    oracle=f"""
    WITH tri AS (
      SELECT DISTINCT doc_id, lang, substr(text, i, {_LID_N}) AS tg
      FROM documents, unnest(range(1, length(text) - {_LID_N - 2})) r(i)
      WHERE length(text) >= {_LID_N}
    ),
    df AS (
      SELECT lang, tg, CAST(count(*) AS BIGINT) AS n
      FROM tri GROUP BY lang, tg
    ),
    prof AS (
      SELECT lang AS plang, tg FROM (
        SELECT *, row_number() OVER (
                 PARTITION BY lang ORDER BY n DESC, tg
               ) AS rk
        FROM df
      ) WHERE rk <= {_LID_K}
    ),
    hits AS (
      SELECT t.doc_id, t.lang, p.plang, CAST(count(*) AS BIGINT) AS hit
      FROM tri t JOIN prof p ON p.tg = t.tg
      GROUP BY t.doc_id, t.lang, p.plang
    ),
    pred AS (
      SELECT doc_id, lang, plang AS predicted FROM (
        SELECT *, row_number() OVER (
                 PARTITION BY doc_id ORDER BY hit DESC, plang
               ) AS rk
        FROM hits
      ) WHERE rk = 1
    ),
    all_docs AS (
      SELECT d.doc_id, d.lang, coalesce(p.predicted, 'none') AS predicted
      FROM documents d LEFT JOIN pred p ON p.doc_id = d.doc_id
    )
    SELECT lang AS actual, predicted, CAST(count(*) AS BIGINT) AS n_docs
    FROM all_docs
    GROUP BY lang, predicted
    ORDER BY actual, predicted
    """,
)
def corpus_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    docs = load_table(spark, sf_dir, "documents")
    # Per-doc trigram dedup happens ARRAY-side (distinct before any
    # explode) so no corpus-sized DISTINCT shuffle ever runs; the doc
    # array table is staged once and feeds both branches. Scoring never
    # explodes at all: the 5-row profile table (one sorted trigram array
    # per language) broadcasts against the doc arrays and the overlap is
    # a JVM array_intersect — |docs|·|langs| narrow rows instead of a
    # corpus-sized hits shuffle. The distinct-trigram arrays are built
    # over ONE Arrow boundary (char n-gram generation is tokenizer-class
    # work): the transform(sequence)+array_distinct HOF chain this
    # replaces was interpreted per element and measured 3x slower
    # (1.9 s vs 0.65 s for the array stage at sf0.1); only the SET of
    # trigrams matters downstream (groupBy + array_intersect), so
    # first-occurrence order parity with array_distinct is incidental
    # (dict.fromkeys preserves it anyway).
    def _tg_batches(it):
        import pandas as pd

        for pdf in it:
            out = []
            for t in pdf["text"]:
                n = len(t)
                out.append(
                    list(
                        dict.fromkeys(
                            t[i : i + _LID_N] for i in range(n - _LID_N + 1)
                        )
                    )
                )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "lang": pdf["lang"], "tgs": out}
            )

    doc_tgs = (
        docs.filter(F.length("text") >= _LID_N)
        .select("doc_id", "lang", "text")
        .mapInPandas(_tg_batches, "doc_id long, lang string, tgs array<string>")
        .localCheckpoint(eager=False)
    )
    tri = doc_tgs.select("doc_id", "lang", F.explode("tgs").alias("tg"))
    df = tri.groupBy("lang", "tg").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    prof = (
        df.withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("lang").orderBy(F.desc("n"), "tg")
            ),
        )
        .filter(F.col("rk") <= _LID_K)
        .groupBy(F.col("lang").alias("plang"))
        .agg(F.array_sort(F.collect_list("tg")).alias("ptgs"))
    )
    hits = (
        doc_tgs.crossJoin(F.broadcast(prof))
        .select(
            "doc_id",
            "plang",
            F.size(F.array_intersect("tgs", "ptgs"))
            .cast("bigint")
            .alias("hit"),
        )
        .filter(F.col("hit") >= 1)
    )
    # per-doc argmax as min(struct(-hit, plang)) — lexicographic struct
    # ordering IS the oracle window's (hit DESC, plang ASC) tie-break,
    # and the aggregate gets map-side partial mins, so the exchange
    # carries one candidate per (partition, doc) instead of every
    # (doc, lang) hit row, and the per-doc Sort disappears (guide §2.3)
    pred = (
        hits.groupBy("doc_id")
        .agg(
            F.min(
                F.struct(
                    (-F.col("hit")).alias("neg_hit"),
                    F.col("plang").alias("plang"),
                )
            ).alias("best")
        )
        .select("doc_id", F.col("best.plang").alias("predicted"))
    )
    all_docs = docs.select("doc_id", "lang").join(
        pred, "doc_id", "left"
    ).select(
        "lang", F.coalesce(F.col("predicted"), F.lit("none")).alias("predicted")
    )
    return (
        all_docs.groupBy(F.col("lang").alias("actual"), "predicted")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .orderBy("actual", "predicted")
    )


# --------------------------------------------------------------------------
# corpus_curation_funnel — the operational audit next to corpus_curation:
# docs and token mass surviving each stage (input → quality/lang gate →
# exact dedup → per-language budget). Every production curation run
# ships this table to its operators; a silent stage collapse (gate too
# tight, dedup eating the corpus) shows here before training does. The
# scored frame is staged once; each stage is an aggregate branch over
# it (no corpus re-scan per stage).
# --------------------------------------------------------------------------
@query(
    "corpus_curation_funnel",
    oracle=f"""
    WITH t AS (SELECT doc_id, text, {_TOKS_SQL} AS toks FROM documents),
    s AS (
      SELECT doc_id,
             len(toks) AS n_tok,
             len(list_filter(toks, x -> list_contains({_STOP_LIST_SQL}, x)))
               AS n_stop,
             length(regexp_replace(text, '[^A-Za-z0-9฀-๿]', '', 'g'))
               AS n_word,
             length(regexp_replace(text, '[^฀-๿]', '', 'g')) AS n_thai,
             length(text) AS n_chars,
             md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp
      FROM t
    ),
    scored AS (
      SELECT doc_id, fp,
             CAST(n_tok AS BIGINT) AS n_tokens,
             CASE
               WHEN n_thai / greatest(n_chars, 1) > 0.3 THEN 'th'
               WHEN n_stop / greatest(n_tok, 1) > 0.02 THEN 'en'
               ELSE 'unk'
             END AS lang_guess,
             least(n_tok / 20.0, 1.0) * 0.4
               + (n_word / greatest(n_chars, 1)) * 0.3
               + least((n_stop / greatest(n_tok, 1)) / 0.1, 1.0) * 0.3
               AS quality
      FROM s
    ),
    gated AS (
      SELECT * FROM scored WHERE quality >= 0.5 AND lang_guess <> 'unk'
    ),
    deduped AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM gated
      ) WHERE rn = 1
    ),
    budgeted AS (
      SELECT * FROM (
        SELECT doc_id, n_tokens,
               sum(n_tokens) OVER (
                 PARTITION BY lang_guess
                 ORDER BY quality DESC, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum_tokens
        FROM deduped
      ) WHERE cum_tokens <= {_CUR_BUDGET}
    )
    SELECT * FROM (
      SELECT 0 AS stage_ord, 'input' AS stage,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS n_tokens
      FROM scored
      UNION ALL
      SELECT 1, 'quality_lang_gate', CAST(count(*) AS BIGINT),
             CAST(coalesce(sum(n_tokens), 0) AS BIGINT) FROM gated
      UNION ALL
      SELECT 2, 'exact_dedup', CAST(count(*) AS BIGINT),
             CAST(coalesce(sum(n_tokens), 0) AS BIGINT) FROM deduped
      UNION ALL
      SELECT 3, 'token_budget', CAST(count(*) AS BIGINT),
             CAST(coalesce(sum(n_tokens), 0) AS BIGINT) FROM budgeted
    )
    ORDER BY stage_ord
    """,
)
def corpus_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scored = _cur_scored(docs).localCheckpoint(eager=False)
    gated = _cur_gated(scored)
    deduped = _cur_deduped(gated)
    budgeted = _cur_budgeted(deduped, _cur_cum_tokens())

    def stage(ord_: int, name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(ord_).alias("stage_ord"),
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.coalesce(F.sum("n_tokens"), F.lit(0))
            .cast("bigint")
            .alias("n_tokens"),
        )

    return (
        stage(0, "input", scored)
        .unionByName(stage(1, "quality_lang_gate", gated))
        .unionByName(stage(2, "exact_dedup", deduped))
        .unionByName(stage(3, "token_budget", budgeted))
        .orderBy("stage_ord")
    )


# --------------------------------------------------------------------------
# doc_bigram_lm_score — per-document LM familiarity, the perplexity-
# bucketing quality signal (CCNet's KenLM stage) restated with integer-
# exact corpus statistics: each document's bigrams are scored by their
# corpus-wide frequency, rolled up to a per-doc average and a
# common-bigram ratio. No libm log — the two ratios are single divisions
# of exact integers, so the signal sits fully under the hash gate
# (doc_rare_token_ratio is the unigram lens; this is the bigram/fluency
# lens a perplexity filter approximates).
#
# Scale: one (head, next) shuffle for the corpus pair counts (map-side
# partials carry it), one pair-key shuffle join back (the count table is
# the bigram long tail — NOT broadcastable, honestly so), one doc_id
# rollup. At production the pair-count table is staged once and reused
# across quality passes, exactly like the df table in
# doc_rare_token_ratio.
# --------------------------------------------------------------------------
_LMS_COMMON = 5  # a bigram seen >= this often corpus-wide is "common"


@query(
    "doc_bigram_lm_score",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    prs AS (
      SELECT doc_id, t[i] AS head, t[i + 1] AS next
      FROM t, unnest(range(1, len(t))) r(i)
      WHERE i < len(t)
    ),
    pc AS (
      SELECT head, next, CAST(count(*) AS BIGINT) AS pair_n
      FROM prs GROUP BY head, next
    )
    SELECT p.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(c.pair_n) AS BIGINT) AS freq_sum,
           CAST(sum(c.pair_n) AS DOUBLE) / count(*) AS avg_pair_freq,
           CAST(sum(CASE WHEN c.pair_n >= {_LMS_COMMON} THEN 1 ELSE 0 END)
                AS DOUBLE) / count(*) AS common_ratio
    FROM prs p JOIN pc c ON p.head = c.head AND p.next = c.next
    GROUP BY p.doc_id
    ORDER BY p.doc_id
    """,
)
def doc_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # size >= 2 guard: sequence() descends for shorter docs (see
    # corpus_bigram_lm); the oracle's WHERE i < len(t) matches.
    t = docs.select(
        "doc_id", tokens(F.col("text")).alias("t")
    ).filter(F.size("t") >= 2)
    prs = t.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1), "
                "i -> struct(t[i - 1] AS head, t[i] AS next))"
            )
        ).alias("p"),
    ).select("doc_id", "p.head", "p.next")
    pc = prs.groupBy("head", "next").agg(
        F.count(F.lit(1)).cast("bigint").alias("pair_n")
    )
    n = F.count(F.lit(1))
    return (
        prs.join(pc, ["head", "next"])
        .groupBy("doc_id")
        .agg(
            n.cast("bigint").alias("n_bigrams"),
            F.sum("pair_n").cast("bigint").alias("freq_sum"),
            (F.sum("pair_n").cast("double") / n).alias("avg_pair_freq"),
            (
                F.sum(
                    F.when(F.col("pair_n") >= _LMS_COMMON, 1).otherwise(0)
                ).cast("double")
                / n
            ).alias("common_ratio"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# corpus_bpe_merge_step — one step of BPE tokenizer TRAINING: the
# corpus-wide frequency of every adjacent character pair inside words
# (weighted by word frequency), ranked — the statistic whose argmax is
# the merge a BPE trainer commits each round (Sennrich et al. 2016;
# doc_bpe_token_stats applies a trained tokenizer, this trains one).
# Counts are integers end to end, so the merge DECISION itself is
# hash-checked.
#
# Scale: the pair counting runs over the DISTINCT-word table (one token
# shuffle, vocabulary-sized — orders of magnitude smaller than the
# corpus), then one (pair) shuffle of integer partials; top-k is a
# TakeOrdered, not a global sort.
# --------------------------------------------------------------------------
_BPE_TOPK = 20


@query(
    "corpus_bpe_merge_step",
    oracle=f"""
    WITH w AS (SELECT unnest({_TOKS_SQL}) AS w FROM documents),
    wn AS (SELECT w, count(*) AS wn FROM w GROUP BY w),
    p AS (
      SELECT substr(w, i, 2) AS pair, wn
      FROM wn, unnest(range(1, length(w))) r(i)
      WHERE length(w) >= 2 AND i < length(w)
    ),
    pc AS (SELECT pair, CAST(sum(wn) AS BIGINT) AS n FROM p GROUP BY pair),
    ranked AS (
      SELECT pair, n, row_number() OVER (ORDER BY n DESC, pair) AS rk
      FROM pc
    )
    SELECT pair, n, CAST(rk AS INT) AS rk
    FROM ranked WHERE rk <= {_BPE_TOPK}
    ORDER BY rk
    """,
)
def corpus_bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(F.explode(tokens(F.col("text"))).alias("w"))
    wn = words.groupBy("w").agg(F.count(F.lit(1)).alias("wn"))
    pairs = (
        wn.filter(F.length("w") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, length(w) - 1), "
                    "i -> substr(w, i, 2))"
                )
            ).alias("pair"),
            "wn",
        )
    )
    pc = pairs.groupBy("pair").agg(F.sum("wn").cast("bigint").alias("n"))
    # top-k via TakeOrderedAndProject (per-task heaps) BEFORE the rank
    # window, so the single-partition window sees exactly k rows at any
    # corpus size (structural via rank_topk).
    from data_ingestion_din_spark.operators.ranking import rank_topk

    ranked = rank_topk(pc, _BPE_TOPK, F.desc("n"), F.asc("pair"))
    return ranked.select("pair", "n", "rk").orderBy("rk")


# --------------------------------------------------------------------------
# corpus_phrase_mining — collocation / phrase detection with the
# word2vec phrase score (Mikolov et al. 2013, §4): for each adjacent
# token pair, score = (pair_n − δ) · N / (head_n · next_n), where δ=5
# discounts rare pairs and N is the corpus token count; high scores mark
# pairs that co-occur far more than their unigram frequencies predict
# ("New York"-style units a tokenizer should fuse). Every count is an
# exact integer; the score is one double division of exact products
# (pair_n·N ≤ 1e6·1e9 and head_n·next_n ≤ 1e18 both fit BIGINT at any
# realistic corpus), so the mined phrase list is hash-gated.
#
# Scale: one (head, next) pair shuffle with map-side partials, unigram
# counts joined back on the token key (vocabulary long tail — the same
# honest non-broadcast shape as doc_rare_token_ratio), top-30 by
# TakeOrderedAndProject before the rank window.
# --------------------------------------------------------------------------
_PH_DELTA = 5
_PH_MIN = 10  # pair support floor: below this the score is noise
_PH_TOPK = 30


@query(
    "corpus_phrase_mining",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    prs AS (
      SELECT t[i] AS head, t[i + 1] AS next
      FROM t, unnest(range(1, len(t))) r(i)
      WHERE i < len(t)
    ),
    uni AS (
      SELECT w, CAST(count(*) AS BIGINT) AS n FROM (
        SELECT unnest({_TOKS_SQL}) AS w FROM documents
      ) GROUP BY w
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS big_n FROM uni),
    pc AS (
      SELECT head, next, CAST(count(*) AS BIGINT) AS pair_n
      FROM prs GROUP BY head, next
    ),
    scored AS (
      SELECT p.head, p.next, p.pair_n, h.n AS head_n, x.n AS next_n,
             CAST((p.pair_n - {_PH_DELTA}) * t.big_n AS DOUBLE)
               / CAST(h.n * x.n AS DOUBLE) AS score
      FROM pc p
      JOIN uni h ON h.w = p.head
      JOIN uni x ON x.w = p.next
      CROSS JOIN tot t
      WHERE p.pair_n >= {_PH_MIN}
    ),
    ranked AS (
      SELECT *, row_number() OVER (ORDER BY score DESC, head, next) AS rk
      FROM scored
    )
    SELECT head, next, pair_n, head_n, next_n, score, CAST(rk AS INT) AS rk
    FROM ranked WHERE rk <= {_PH_TOPK}
    ORDER BY rk
    """,
)
def corpus_phrase_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(tokens(F.col("text")).alias("t")).filter(
        F.size("t") >= 2
    )
    prs = t.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1), "
                "i -> struct(t[i - 1] AS head, t[i] AS next))"
            )
        ).alias("p")
    ).select("p.head", "p.next")
    uni = (
        docs.select(F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    tot = uni.agg(F.sum("n").cast("bigint").alias("big_n"))
    pc = (
        prs.groupBy("head", "next")
        .agg(F.count(F.lit(1)).cast("bigint").alias("pair_n"))
        .filter(F.col("pair_n") >= _PH_MIN)
    )
    scored = (
        pc.join(uni.withColumnRenamed("w", "head").withColumnRenamed("n", "head_n"), "head")
        .join(uni.withColumnRenamed("w", "next").withColumnRenamed("n", "next_n"), "next")
        .crossJoin(F.broadcast(tot))
        .select(
            "head",
            "next",
            "pair_n",
            "head_n",
            "next_n",
            (
                ((F.col("pair_n") - _PH_DELTA) * F.col("big_n")).cast(
                    "double"
                )
                / (F.col("head_n") * F.col("next_n")).cast("double")
            ).alias("score"),
        )
    )
    from data_ingestion_din_spark.operators.ranking import rank_topk

    ranked = rank_topk(scored, _PH_TOPK, F.desc("score"), "head", "next")
    return ranked.select(
        "head", "next", "pair_n", "head_n", "next_n", "score", "rk"
    ).orderBy("rk")


# --------------------------------------------------------------------------
# corpus_textrank_keywords — TextRank keyword extraction (Mihalcea &
# Tarau 2004): weighted PageRank over the token co-occurrence graph
# (edges = adjacent-token pairs with support ≥ 5, symmetrized and
# weight-merged), THREE power iterations, top-20 tokens by final rank.
# The third iterative algorithm under the hash gate (after connected
# components and k-means): ranks are 1e6-scaled integers, each
# iteration is r' = 150000 + (85 · Σ_u (r(u)·w(u,v)) // S(u)) // 100
# (d = 0.85 damping; S(u) = node u's total edge weight; `//` truncates
# identically in both engines on non-negative operands), so every
# iteration — and the final keyword ranking — is bit-exact.
#
# Scale: the graph lives at VOCABULARY size, not corpus size (one
# (head, next) shuffle builds it); each iteration is one edge⋈rank
# equi-join + one dst-key integer aggregation — the standard
# Pregel-on-DataFrames step, with only the iteration COUNT controlled
# driver-side (no data through the driver). Edges are staged once
# (localCheckpoint) and reused by all iterations.
# --------------------------------------------------------------------------
_TR_EDGE_MIN = 5  # pair support floor for an edge
_TR_ITERS = 3
_TR_TOPK = 20
_TR_SCALE = 1_000_000
_TR_BASE = 150_000  # (1 − d)·scale, d = 0.85


def _tr_iter_sql(prev: str, cur: str) -> str:
    return f"""{cur} AS (
      SELECT e.dst AS token,
             {_TR_BASE} + (85 * sum((r.r * e.w) // s.s)) // 100 AS r
      FROM edges e
      JOIN {prev} r ON r.token = e.src
      JOIN s ON s.token = e.src
      GROUP BY e.dst
    )"""


@query(
    "corpus_textrank_keywords",
    oracle=f"""
    WITH t AS (SELECT {_TOKS_SQL} AS t FROM documents),
    prs AS (
      SELECT t[i] AS head, t[i + 1] AS next
      FROM t, unnest(range(1, len(t))) r(i)
      WHERE i < len(t)
    ),
    pc AS (
      SELECT head, next, CAST(count(*) AS BIGINT) AS pair_n
      FROM prs GROUP BY head, next
      HAVING count(*) >= {_TR_EDGE_MIN}
    ),
    edges AS (
      SELECT src, dst, CAST(sum(w) AS BIGINT) AS w FROM (
        SELECT head AS src, next AS dst, pair_n AS w FROM pc
        UNION ALL
        SELECT next AS src, head AS dst, pair_n AS w FROM pc
      ) GROUP BY src, dst
    ),
    s AS (
      SELECT src AS token, CAST(sum(w) AS BIGINT) AS s
      FROM edges GROUP BY src
    ),
    r0 AS (SELECT token, CAST({_TR_SCALE} AS BIGINT) AS r FROM s),
    {_tr_iter_sql('r0', 'r1')},
    {_tr_iter_sql('r1', 'r2')},
    {_tr_iter_sql('r2', 'r3')},
    ranked AS (
      SELECT token, CAST(r AS BIGINT) AS rank_scaled,
             row_number() OVER (ORDER BY r DESC, token) AS rk
      FROM r3
    )
    SELECT token, rank_scaled, CAST(rk AS INT) AS rk
    FROM ranked WHERE rk <= {_TR_TOPK}
    ORDER BY rk
    """,
)
def corpus_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(tokens(F.col("text")).alias("t")).filter(
        F.size("t") >= 2
    )
    prs = t.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1), "
                "i -> struct(t[i - 1] AS head, t[i] AS next))"
            )
        ).alias("p")
    ).select("p.head", "p.next")
    pc = (
        prs.groupBy("head", "next")
        .agg(F.count(F.lit(1)).cast("bigint").alias("pair_n"))
        .filter(F.col("pair_n") >= _TR_EDGE_MIN)
    )
    edges = (
        pc.select(
            F.col("head").alias("src"),
            F.col("next").alias("dst"),
            F.col("pair_n").alias("w"),
        )
        .unionAll(
            pc.select(
                F.col("next").alias("src"),
                F.col("head").alias("dst"),
                F.col("pair_n").alias("w"),
            )
        )
        .groupBy("src", "dst")
        .agg(F.sum("w").cast("bigint").alias("w"))
        .localCheckpoint(eager=True)  # staged: reused by every iteration
    )
    s = edges.groupBy("src").agg(F.sum("w").cast("bigint").alias("s"))
    src_side = edges.join(s, "src")  # (src, dst, w, s)
    r = s.select("src", F.lit(_TR_SCALE).cast("bigint").alias("r")).select(
        F.col("src").alias("token"), "r"
    )
    for _ in range(_TR_ITERS):
        r = (
            src_side.join(r, src_side.src == r.token)
            .select(
                F.col("dst"),
                F.expr("(r * w) div s").alias("contrib"),
            )
            .groupBy("dst")
            .agg(
                (
                    F.lit(_TR_BASE)
                    + F.expr("(85 * sum(contrib)) div 100")
                )
                .cast("bigint")
                .alias("r")
            )
            .select(F.col("dst").alias("token"), "r")
        )
    from data_ingestion_din_spark.operators.ranking import rank_topk

    ranked = rank_topk(r, _TR_TOPK, F.desc("r"), "token")
    return ranked.select(
        F.col("token"), F.col("r").alias("rank_scaled"), "rk"
    ).orderBy("rk")


# --------------------------------------------------------------------------
# corpus_bpe_encode — BPE tokenizer ENCODING at scan speed: apply a
# fixed ranked merge table (the artifact corpus_bpe_merge_step's
# training loop commits) to every word and report the resulting subword
# vocabulary. Each merge pass is a greedy left-to-right FOLD
# (aggregate / list_reduce): append each token, collapsing the tail
# when it forms the pass's (a,b) pair. The fold shape matters for cost,
# not just style: it references the previous pass's array exactly ONCE,
# so when either optimizer collapses the 8 chained projections the
# expression grows linearly — a neighbor-indexed transform references
# its input 3×, and inlining that chain explodes 3^8-fold (measured:
# 75 s/19 s per side vs 2 s/0.3 s for the fold). Later merges consume
# earlier outputs ((t,h) then (th,e)), which is exactly how a trained
# BPE vocabulary nests.
#
# Scale: encoding runs over the DISTINCT-word table (vocabulary-sized)
# and corpus counts attach by weight — the standard trick that makes
# tokenizer application O(vocab) instead of O(corpus); the corpus-wide
# rollup is one token shuffle of integer partials.
# --------------------------------------------------------------------------
_BPE_MERGES = (
    ("t", "h"),
    ("th", "e"),
    ("a", "n"),
    ("an", "d"),
    ("i", "n"),
    ("e", "r"),
    ("o", "n"),
    ("r", "e"),
)
_BPE_ENC_TOPK = 30


def _bpe_pass_spark(col: str, a: str, b: str) -> str:
    return _bpe_fused_pass_spark(col, ((a, b),))


def _bpe_fused_pass_spark(col: str, rules) -> str:
    """One left-to-right fold applying several merge rules in a single
    scan. Fusing sequential BPE passes into one scan is only valid when
    the rules cannot interact: every (tail, x) combination triggers at
    most one rule (the b-chars' tails are mutually exclusive) and the
    only cross-rule effects are intended left-side cascades ((t,h) then
    (th,e) — the merged token is already in the accumulator when the
    next char arrives, so a single scan sees it exactly like the next
    sequential pass would). The one genuine conflict in _BPE_MERGES is
    (e,r) vs (r,e): sequential order gives (e,r) a lookahead win on
    "rer" ([r, er]) that a single scan cannot reproduce ([re, r]), so
    (r,e) runs as its own second scan. Equivalence of the {1..7}+{8}
    grouping vs the 8 sequential passes is verified exhaustively up to
    length 7 over the interacting alphabet plus randomized strings in
    tests/test_properties.py (property: bpe fused == sequential).

    Cost: each fold pass is interpreted per-element with an O(len)
    array rebuild, so pass count is the dominant term — 8 chained
    passes measured 12.4 s steady at sf0.1; the 2-scan fusion removes
    6 of the 8 interpreted scans (PLANS.md r6).
    """
    whens = " ".join(
        f"WHEN try_element_at(acc, -1) = '{a}' AND x = '{b}'"
        f" THEN concat(slice(acc, 1, size(acc) - 1), array('{a}{b}'))"
        for a, b in rules
    )
    return (
        f"aggregate({col}, CAST(array() AS ARRAY<STRING>), (acc, x) -> CASE"
        f" {whens}"
        f" ELSE concat(acc, array(x)) END)"
    )


def _bpe_pass_duck(col: str, a: str, b: str) -> str:
    # DuckDB 1.0 list_reduce has no initial-accumulator form, so fold
    # over the list-of-singletons; acc[:-2] = all but last (inclusive
    # slice bounds). PRECONDITION: the input list is non-empty —
    # list_reduce errors on []; holds by construction because the fold
    # runs per distinct WORD and tokenization filters empty strings
    # (property-tested in tests/test_properties.py)
    return (
        f"list_reduce(list_transform({col}, t -> [t]), (acc, x) -> CASE"
        f" WHEN acc[-1] = '{a}' AND x[1] = '{b}'"
        f" THEN list_append(acc[:-2], '{a}{b}')"
        f" ELSE list_concat(acc, x) END)"
    )


def _bpe_chain(col: str, passes) -> str:
    expr = col
    for a, b in _BPE_MERGES:
        expr = passes(expr, a, b)
    return expr


@query(
    "corpus_bpe_encode",
    oracle=f"""
    WITH w AS (SELECT unnest({_TOKS_SQL}) AS w FROM documents),
    wn AS (SELECT w, CAST(count(*) AS BIGINT) AS wn FROM w GROUP BY w),
    chars AS (
      SELECT w, wn,
             list_transform(range(1, length(w) + 1),
                            i -> substr(w, i, 1)) AS c
      FROM wn
    ),
    enc AS (
      SELECT w, wn, {_bpe_chain('c', lambda c, a, b: _bpe_pass_duck(c, a, b))} AS toks
      FROM chars
    ),
    tok AS (
      SELECT unnest(toks) AS token, wn FROM enc
    )
    SELECT token,
           CAST(length(token) AS INT) AS token_len,
           CAST(count(*) AS BIGINT) AS n_word_slots,
           CAST(sum(wn) AS BIGINT) AS total_occurrences
    FROM tok
    GROUP BY token
    ORDER BY total_occurrences DESC, token
    LIMIT {_BPE_ENC_TOPK}
    """,
)
def corpus_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(F.explode(tokens(F.col("text"))).alias("w"))
    wn = words.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("wn"))
    # The merge chain runs per DISTINCT word over an Arrow boundary —
    # the canonical tokenizer-on-Spark shape (a vocab-sized mapInPandas,
    # not a per-corpus-token one). The plain sequential 8-pass encoder
    # in Python replaces the 2 fused interpreted-HOF scans (r6): the
    # fusion had already cut 12.4 s -> 3.5 s, but each remaining scan
    # still paid per-element lambda interpretation with an O(len) array
    # rebuild; batch-encoding the ~vocab rows in Python is ~1 s total
    # and needs NO interaction proof — it IS the oracle's sequential
    # chain. The fused-scan construction (+ its exhaustive equivalence
    # property tests) stays as corpus_bpe_merge_step's single-rule path
    # and the documented all-JVM alternative.
    def _encode_batches(it):
        import pandas as pd

        for pdf in it:
            out = []
            for w in pdf["w"]:
                toks = list(w)
                for a, b in _BPE_MERGES:
                    acc: list = []
                    for x in toks:
                        if acc and acc[-1] == a and x == b:
                            acc[-1] = a + b
                        else:
                            acc.append(x)
                    toks = acc
                out.append(toks)
            yield pd.DataFrame(
                {"toks": out, "wn": pdf["wn"].to_numpy()}
            )

    enc = wn.mapInPandas(_encode_batches, "toks array<string>, wn long")
    tok = enc.select(F.explode("toks").alias("token"), "wn")
    return (
        tok.groupBy("token")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_word_slots"),
            F.sum("wn").cast("bigint").alias("total_occurrences"),
        )
        .select(
            "token",
            F.length("token").cast("int").alias("token_len"),
            "n_word_slots",
            "total_occurrences",
        )
        .orderBy(F.desc("total_occurrences"), "token")
        .limit(_BPE_ENC_TOPK)
    )


# --------------------------------------------------------------------------
# ingest_quarantine — PERMISSIVE-parse ingestion with a corrupt-record
# quarantine path, the source-level error handling a production feed
# needs (bad upstream serializers must not kill the batch, and silently
# dropping them is worse): a JSON document feed is derived from the
# fixture (1/7 of rows hash-truncated mid-object), parsed with a typed
# schema — Spark's from_json PERMISSIVE mode yields an all-NULL struct
# for unparseable input, detected via the always-present id field — and
# routed into per-partition parsed/quarantined accounting. The DuckDB
# oracle detects corruption with json_valid; the two detections agree
# only because from_json does NOT salvage fields from a record whose
# top level is truncated — i.e. spark.sql.json.enablePartialResults
# must not turn "id": N inside a truncated object into a non-NULL id.
# True on Spark 4.1.2 and pinned by
# tests/test_text_functions.py::test_from_json_truncated_record_yields_null_id
# so an upgrade that changes partial-results behavior fails loudly
# instead of silently breaking parity. The quarantine keeps the partition
# metadata (lang) that travels OUTSIDE the payload, which is what makes
# a quarantine table reprocessable.
#
# Scale: parse + route is pure scan-speed column work; the accounting is
# one small-cardinality groupBy.
# --------------------------------------------------------------------------
_QJ_H = h64_sql("'qjson:' || CAST(doc_id AS VARCHAR)")


@query(
    "ingest_quarantine",
    oracle=f"""
    WITH feed AS (
      SELECT doc_id, lang,
             '{{"id": ' || CAST(doc_id AS VARCHAR) || ', "lang": "' || lang
               || '", "n": ' || CAST(n_chars AS VARCHAR) || '}}' AS s0
      FROM documents
    ),
    fed AS (
      SELECT doc_id, lang,
             CASE WHEN {_QJ_H} % 7 = 0
                  THEN substr(s0, 1, length(s0) - 1) ELSE s0 END AS s
      FROM feed
    ),
    parsed AS (
      SELECT lang,
             CASE WHEN json_valid(s) THEN 1 ELSE 0 END AS ok,
             CASE WHEN json_valid(s)
                  THEN CAST(json_extract(s, '$.n') AS BIGINT) END AS n_payload
      FROM fed
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(ok) AS BIGINT) AS n_ok,
           CAST(count(*) - sum(ok) AS BIGINT) AS n_quarantined,
           CAST(sum(n_payload) AS BIGINT) AS sum_n_parsed
    FROM parsed
    GROUP BY lang
    ORDER BY lang
    """,
)
def ingest_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_ingestion_din_spark.functions.hashing import h64

    docs = load_table(spark, sf_dir, "documents")
    s0 = F.concat(
        F.lit('{"id": '),
        F.col("doc_id").cast("string"),
        F.lit(', "lang": "'),
        F.col("lang"),
        F.lit('", "n": '),
        F.col("n_chars").cast("string"),
        F.lit("}"),
    )
    h = h64(F.concat(F.lit("qjson:"), F.col("doc_id").cast("string")))
    # build s0 as a real column first so the CASE can slice it
    fed = docs.select(
        "lang", s0.alias("s0"), h.alias("h")
    ).select(
        "lang",
        F.when(
            F.col("h") % 7 == 0,
            F.expr("substr(s0, 1, length(s0) - 1)"),
        )
        .otherwise(F.col("s0"))
        .alias("s"),
    )
    p = fed.select(
        "lang",
        F.from_json("s", "id bigint, lang string, n bigint").alias("p"),
    ).select(
        "lang",
        F.when(F.col("p.id").isNotNull(), F.lit(1)).otherwise(F.lit(0)).alias("ok"),
        F.when(F.col("p.id").isNotNull(), F.col("p.n")).alias("n_payload"),
    )
    return (
        p.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_total"),
            F.sum("ok").cast("bigint").alias("n_ok"),
            (F.count(F.lit(1)) - F.sum("ok")).cast("bigint").alias("n_quarantined"),
            F.sum("n_payload").cast("bigint").alias("sum_n_parsed"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# corpus_bigram_generate — greedy LM DECODING as relational operators,
# the serving half of corpus_bigram_lm's training half: seed with the
# corpus's most frequent token, then repeatedly take the argmax
# continuation from the bigram count table (ties broken
# lexicographically, so the whole trajectory is deterministic and
# hash-gated). Greedy decode loops are expected and preserved — that IS
# argmax decoding; each step is evidence the conditional table, not the
# sampler, drives the output.
#
# Scale: the bigram table is built once (one pair shuffle); each decode
# step is a 1-row broadcast probe + TakeOrderedAndProject(1) — serving
# cost is O(steps), independent of corpus size, the relational
# restatement of an LM inference step over count tables.
# --------------------------------------------------------------------------
_GEN_STEPS = 6


def _gen_oracle() -> str:
    ctes = [
        "t AS (SELECT doc_id, "
        + _TOKS_SQL
        + " AS t FROM documents)",
        """prs AS (
      SELECT t[i] AS head, t[i + 1] AS next
      FROM t, unnest(range(1, len(t))) r(i)
      WHERE i < len(t)
    )""",
        """pc AS (
      SELECT head, next, CAST(count(*) AS BIGINT) AS pair_n
      FROM prs GROUP BY head, next
    )""",
        """un AS (
      SELECT unnest(t) AS tok FROM t
    )""",
        """s0 AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM un
      GROUP BY tok ORDER BY cnt DESC, tok LIMIT 1
    )""",
    ]
    for i in range(1, _GEN_STEPS + 1):
        prev_tok = "tok" if i == 1 else "next"
        ctes.append(
            f"""s{i} AS (
      SELECT pc.next, pc.pair_n AS cnt
      FROM pc, s{i - 1} p WHERE pc.head = p.{prev_tok}
      ORDER BY pc.pair_n DESC, pc.next LIMIT 1
    )"""
        )
    selects = ["SELECT 0 AS step, tok AS token, cnt FROM s0"] + [
        f"SELECT {i} AS step, next AS token, cnt FROM s{i}"
        for i in range(1, _GEN_STEPS + 1)
    ]
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + "\n    SELECT CAST(step AS INT) AS step, token, cnt FROM ("
        + " UNION ALL ".join(selects)
        + ") ORDER BY step"
    )


def _decode_step(pc: DataFrame, cur: DataFrame, stage: bool = True) -> DataFrame:
    """One greedy decode step: broadcast the 1-row current token into an
    equi-join probe of the staged bigram table, take the argmax
    continuation (count desc, token asc). ``stage=False`` exposes the
    raw probe plan for the plan-assertion test
    (tests/test_plan_assertions.py pins broadcast + TakeOrderedAndProject(1),
    never a shuffle join on the bigram table)."""
    probe = cur.select(F.col("token").alias("cur_tok"))
    nxt = (
        pc.join(F.broadcast(probe), F.col("head") == F.col("cur_tok"))
        .orderBy(F.desc("pair_n"), "next")
        .limit(1)
        .select(F.col("next").alias("token"), F.col("pair_n").alias("cnt"))
    )
    # each step staged: 1 row, and without it every later step's
    # lineage re-inlines all earlier probes (O(steps²) plan); lazy — the
    # next step's broadcast collect (or the final action) materializes it
    return nxt.localCheckpoint(eager=False) if stage else nxt


@query("corpus_bigram_generate", oracle=_gen_oracle())
def corpus_bigram_generate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(tokens(F.col("text")).alias("t")).filter(
        F.size("t") >= 2
    )
    prs = t.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1), "
                "i -> struct(t[i - 1] AS head, t[i] AS next))"
            )
        ).alias("p")
    ).select("p.head", "p.next")
    pc = prs.groupBy("head", "next").agg(
        F.count(F.lit(1)).cast("bigint").alias("pair_n")
    )
    # staged: probed once per decode step (lazy: step 1's broadcast
    # probe materializes it inside the final action)
    pc = pc.localCheckpoint(eager=False)
    un = docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
    seed = (
        un.groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .orderBy(F.desc("cnt"), "tok")
        .limit(1)
        .select(F.col("tok").alias("token"), "cnt")
        # staged: without this, every later step's lineage re-inlines the
        # corpus-wide seed aggregation (the union'd plan held 7 copies of
        # the token shuffle and 28 TakeOrderedAndProject branches —
        # O(steps²) probes); each step below is likewise staged so the
        # decode is genuinely O(steps) 1-row probes. Lazy everywhere:
        # the checkpoint truncates the logical plan either way, and the
        # broadcast collect of each step materializes the 1-row RDDs —
        # no separate driver job per step
        .localCheckpoint(eager=False)
    )
    steps = [seed.select(F.lit(0).alias("step"), "token", "cnt")]
    cur = seed
    for i in range(1, _GEN_STEPS + 1):
        nxt = _decode_step(pc, cur)
        steps.append(nxt.select(F.lit(i).alias("step"), "token", "cnt"))
        cur = nxt
    out = steps[0]
    for s in steps[1:]:
        out = out.unionByName(s)
    return out.select(
        F.col("step").cast("int").alias("step"), "token", "cnt"
    ).orderBy("step")


# --------------------------------------------------------------------------
# corpus_bpe_train — BPE tokenizer TRAINING, the full loop (Sennrich et
# al. 2016): corpus_bpe_merge_step ranks ONE round's pair statistics;
# this runs _BPE_TRAIN_STEPS rounds end to end — count adjacent pairs
# over the current tokenization of the DISTINCT-word table (weighted by
# word frequency), commit the argmax pair (n desc, pair asc — the
# deterministic tie-break), apply the merge, repeat. The committed
# merge table (step, lft, rgt, n) is the trained tokenizer, and the
# oracle unrolls the same rounds in SQL (the kmeans_ctes pattern for
# iterative algorithms), so every DECISION in the loop is hash-checked,
# not just the final counts.
#
# Scale: all work is vocabulary-sized (the distinct-word table), not
# corpus-sized — one (lft, rgt) integer-partial shuffle per round, the
# argmax is a 1-row TakeOrdered collect (iteration control data, like
# the k-means centroids), and the merge application is a per-word fold
# with no shuffle; localCheckpoint truncates lineage each round.
# --------------------------------------------------------------------------
_BPE_TRAIN_STEPS = 4


# One merge pass as DuckDB SQL, applied to alias t's toks against alias
# m's 1-row (lft, rgt) pair — the text is shared VERBATIM by the train
# CTEs below and streaming_queries' frozen-tokenizer-gate oracle, so the
# two restatements of "apply a merge" can never drift apart.
_BPE_FOLD_SQL = """list_reduce(list_transform(t.toks, x -> [x]), (acc, x) -> CASE
               WHEN acc[-1] = m.lft AND x[1] = m.rgt
               THEN list_append(acc[:-2], acc[-1] || x[1])
               ELSE list_concat(acc, x) END)"""


def _bpe_train_ctes(where: str = "") -> tuple[str, str]:
    """(cte_chain, merge_rows_union): the unrolled-training CTEs ending
    at tok{_BPE_TRAIN_STEPS} — the distinct-word table encoded with the
    learned merges — plus the UNION ALL of the per-round argmax rows.
    Shared by the train oracle (reads the merge rows), the composed
    train→encode pipeline oracle (aggregates the final tokenization),
    and — with ``where`` restricting the training corpus — the
    streaming frozen-tokenizer gate's train-on-first-landing oracle."""
    ctes = [
        f"""w AS (SELECT unnest({_TOKS_SQL}) AS w FROM documents {where}),
    wn AS (SELECT w, CAST(count(*) AS BIGINT) AS wn FROM w GROUP BY w),
    tok0 AS (
      SELECT w, wn,
             list_transform(range(1, length(w) + 1),
                            i -> substr(w, i, 1)) AS toks
      FROM wn
    )"""
    ]
    sel = []
    for r in range(_BPE_TRAIN_STEPS):
        ctes.append(f"""pc{r} AS (
      SELECT toks[i] AS lft, toks[i + 1] AS rgt,
             CAST(sum(wn) AS BIGINT) AS n
      FROM tok{r}, unnest(range(1, len(toks))) u(i)
      GROUP BY 1, 2
    ),
    m{r} AS (
      SELECT lft, rgt, n FROM pc{r} ORDER BY n DESC, lft, rgt LIMIT 1
    ),
    tok{r + 1} AS (
      SELECT t.w, t.wn,
             {_BPE_FOLD_SQL} AS toks
      FROM tok{r} t CROSS JOIN m{r} m
    )""")
        sel.append(f"SELECT {r} AS step, lft, rgt, n FROM m{r}")
    return ",\n    ".join(ctes), " UNION ALL ".join(sel)


def _bpe_train_oracle() -> str:
    ctes, sel = _bpe_train_ctes()
    return (
        "WITH "
        + ctes
        + "\n    SELECT CAST(step AS INT) AS step, lft, rgt, n FROM ("
        + sel
        + ") ORDER BY step"
    )


def bpe_merge_fold(a: str, b: str) -> F.Column:
    """One BPE merge pass over the ``toks`` column — column-built fold
    (no SQL-literal embedding — tokens may contain quotes);
    try_element_at: empty accumulator yields NULL and falls through to
    the append branch. Shared by the batch train loop below and the
    streaming frozen-tokenizer gate (the Spark twin of _BPE_FOLD_SQL)."""
    a_l, b_l = F.lit(a), F.lit(b)
    return F.aggregate(
        F.col("toks"),
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.try_element_at(acc, F.lit(-1)) == a_l) & (x == b_l),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.concat(a_l, b_l)),
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


# The training recipe, shared by _bpe_train_run and the at-ingest
# frozen-tokenizer gate (streaming_gates._bpe_gate_processor).
def _bpe_word_table(docs: DataFrame) -> DataFrame:
    """(w, wn, toks): each distinct word, its count and its character
    tokenization."""
    words = docs.select(F.explode(tokens(F.col("text"))).alias("w"))
    wn = words.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("wn"))
    return wn.withColumn(
        "toks",
        F.expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))"),
    )


def _bpe_merge_loop(cur: DataFrame, steps: int) -> tuple[list, DataFrame]:
    """Run ``steps`` training rounds over a word table: (merges as
    (step, lft, rgt, n) tuples, the word table encoded with them)."""
    merges = []
    for step in range(steps):
        prs = cur.filter(F.size("toks") >= 2).select(
            "wn",
            F.explode(F.sequence(F.lit(1), F.size("toks") - 1)).alias("i"),
            "toks",
        ).select(
            F.element_at("toks", F.col("i")).alias("lft"),
            F.element_at("toks", F.col("i") + 1).alias("rgt"),
            "wn",
        )
        top = (
            prs.groupBy("lft", "rgt")
            .agg(F.sum("wn").cast("bigint").alias("n"))
            .orderBy(F.desc("n"), "lft", "rgt")
            .limit(1)
            .collect()[0]  # 1-row argmax — iteration control data
        )
        merges.append((step, top.lft, top.rgt, top.n))
        # intermediate folds lazy (the next step's argmax collect
        # materializes them); the LAST fold stays eager so the trained
        # table's materialization cost remains inside the loop, not
        # shifted onto its first consumer
        cur = cur.withColumn(
            "toks", bpe_merge_fold(top.lft, top.rgt)
        ).localCheckpoint(eager=(step == steps - 1))
    return merges, cur


# The trained tokenizer — (merge table, final distinct-word
# tokenization) — is consumed by corpus_bpe_train AND the composed
# corpus_bpe_pipeline; staged as ONE pair (the _km8_pair pattern) so
# neither query re-runs the 4-round Lloyd-style loop.
@staged("bpe_train")
def _bpe_train_run(
    spark: SparkSession, sf_dir: str
) -> tuple[list, DataFrame]:
    docs = load_table(spark, sf_dir, "documents")
    cur = _bpe_word_table(docs).localCheckpoint(eager=True)
    return _bpe_merge_loop(cur, _BPE_TRAIN_STEPS)


@query("corpus_bpe_train", oracle=_bpe_train_oracle())
def corpus_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    merges, _ = _bpe_train_run(spark, sf_dir)
    return local_frame(
        spark, merges, "step int, lft string, rgt string, n bigint"
    ).orderBy("step")


# --------------------------------------------------------------------------
# corpus_bpe_pipeline — train THEN encode under ONE gate, composing the
# two proven halves the way corpus_dedup_funnel composed the dedup
# passes: corpus_bpe_train proves the merge-selection loop,
# corpus_bpe_encode proves applying a FIXED merge table; this applies
# the merges the train loop JUST produced to the corpus and reports the
# resulting subword vocabulary. The oracle chains the unrolled train
# CTEs straight into the encode aggregation (tok{N} IS the distinct-
# word table encoded with the learned merges), so the hand-off — the
# part neither half checks — is what this row hash-gates.
#
# Scale: the composition adds ZERO recompute past the staged training
# run (the final tokenization is the loop's last checkpoint); the
# summary is one token shuffle of integer partials.
# --------------------------------------------------------------------------
_BPE_CTES, _ = _bpe_train_ctes()


@query(
    "corpus_bpe_pipeline",
    oracle=f"""
    WITH {_BPE_CTES},
    tok AS (
      SELECT unnest(toks) AS token, wn FROM tok{_BPE_TRAIN_STEPS}
    )
    SELECT token,
           CAST(length(token) AS INT) AS token_len,
           CAST(count(*) AS BIGINT) AS n_word_slots,
           CAST(sum(wn) AS BIGINT) AS total_occurrences
    FROM tok
    GROUP BY token
    ORDER BY total_occurrences DESC, token
    LIMIT {_BPE_ENC_TOPK}
    """,
)
def corpus_bpe_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, encoded = _bpe_train_run(spark, sf_dir)
    tok = encoded.select(F.explode("toks").alias("token"), "wn")
    return (
        tok.groupBy("token")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_word_slots"),
            F.sum("wn").cast("bigint").alias("total_occurrences"),
        )
        .select(
            "token",
            F.length("token").cast("int").alias("token_len"),
            "n_word_slots",
            "total_occurrences",
        )
        .orderBy(F.desc("total_occurrences"), "token")
        .limit(_BPE_ENC_TOPK)
    )


# --------------------------------------------------------------------------
# corpus_bpe_fertility — tokenizer EVALUATION: fertility (subwords per
# word, the standard tokenizer-quality metric — a fertility near 1
# means the vocabulary covers the corpus; high fertility inflates
# sequence lengths and training cost) for the tokenizer
# corpus_bpe_train just induced, measured corpus-weighted AND
# vocabulary-weighted next to the character baseline it started from.
# All sums are exact integers (token counts × word frequencies); the
# two fertility ratios are single deterministic double divisions.
# Reuses the staged training run — the metric costs one vocab-sized
# aggregation, not a re-train.
# --------------------------------------------------------------------------
@query(
    "corpus_bpe_fertility",
    oracle=f"""
    WITH {_BPE_CTES}
    SELECT CAST(count(*) AS BIGINT) AS n_vocab,
           CAST(sum(wn) AS BIGINT) AS n_word_occurrences,
           CAST(sum(len(toks)) AS BIGINT) AS vocab_subwords,
           CAST(sum(wn * len(toks)) AS BIGINT) AS corpus_subwords,
           CAST(sum(wn * length(w)) AS BIGINT) AS corpus_chars,
           round(CAST(sum(wn * len(toks)) AS DOUBLE)
                 / CAST(sum(wn) AS DOUBLE), 6) AS fertility_corpus,
           round(CAST(sum(len(toks)) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE), 6) AS fertility_vocab
    FROM tok{_BPE_TRAIN_STEPS}
    """,
)
def corpus_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, encoded = _bpe_train_run(spark, sf_dir)
    return encoded.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vocab"),
        F.sum("wn").cast("bigint").alias("n_word_occurrences"),
        F.sum(F.size("toks")).cast("bigint").alias("vocab_subwords"),
        F.sum(F.col("wn") * F.size("toks"))
        .cast("bigint")
        .alias("corpus_subwords"),
        F.sum(F.col("wn") * F.length("w"))
        .cast("bigint")
        .alias("corpus_chars"),
        F.round(
            F.sum(F.col("wn") * F.size("toks")).cast("double")
            / F.sum("wn").cast("double"),
            6,
        ).alias("fertility_corpus"),
        F.round(
            F.sum(F.size("toks")).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("fertility_vocab"),
    )


# --------------------------------------------------------------------------
# corpus_zipf_fit — the rank-frequency Zipf audit every corpus report
# ships: top-100 words ranked by frequency, each carrying the exact
# integer product rank*cnt (constant under an ideal Zipf(1) law — the
# drift of this column IS the fit diagnostic) and the exact cumulative
# count, so head-heaviness (cum share of the top-k) reads off the
# integer columns without any float division. One token-keyed shuffle
# with map-side partial aggregation; the global rank window is safe
# because it sits above the 100-row TakeOrdered cut (rank_topk —
# structural, plan-asserted for every adopter).
# --------------------------------------------------------------------------
@query(
    "corpus_zipf_fit",
    oracle=f"""
    WITH tok AS (SELECT unnest({_TOKS_SQL}) AS tok FROM documents),
    freq AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS cnt
      FROM tok GROUP BY tok
      ORDER BY cnt DESC, tok LIMIT 100
    ),
    ranked AS (
      SELECT CAST(row_number() OVER (ORDER BY cnt DESC, tok) AS INT) AS rk,
             tok, cnt
      FROM freq
    )
    SELECT rk, tok, cnt,
           CAST(rk * cnt AS BIGINT) AS rank_cnt_product,
           CAST(sum(cnt) OVER (ORDER BY rk) AS BIGINT) AS cum_cnt
    FROM ranked
    ORDER BY rk
    """,
)
def corpus_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    from data_ingestion_din_spark.operators.ranking import rank_topk

    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    ranked = rank_topk(freq, 100, F.desc("cnt"), "tok", rk_col="rk")
    # both windows see only the 100 ranked rows (structural via rank_topk)
    return ranked.select(
        "rk",
        "tok",
        "cnt",
        (F.col("rk") * F.col("cnt")).cast("bigint").alias("rank_cnt_product"),
        F.sum("cnt").over(W.orderBy("rk")).cast("bigint").alias("cum_cnt"),
    ).orderBy("rk")


# --------------------------------------------------------------------------
# corpus_heaps_law — vocabulary growth vs corpus size (Heaps' law): docs
# are bucketed into 10 arrival slices (integer range-bucketing on doc_id
# from a 1-row min/max aggregate — the fixture's arrival order, no
# global window anywhere), each WORD is attributed to the slice of its
# FIRST occurrence (min bucket — one word-keyed shuffle, no per-prefix
# rescan), and the cumulative (tokens, distinct types) curve is read off
# a 10-row running sum. This is the O(corpus) formulation of a curve
# naively computed as 10 prefix-distinct scans; all columns are exact
# integers. At 100 TB the word-keyed min-bucket aggregate is the only
# corpus-sized shuffle; the window runs over 10 rows.
# --------------------------------------------------------------------------
@query(
    "corpus_heaps_law",
    oracle=f"""
    WITH span AS (
      SELECT min(doc_id) AS mn, max(doc_id) - min(doc_id) + 1 AS width
      FROM documents
    ),
    d AS (
      SELECT doc_id, {_TOKS_SQL} AS toks,
             CAST((doc_id - s.mn) * 10 // s.width AS INT) + 1 AS bucket
      FROM documents, span s
    ),
    tok AS (SELECT bucket, unnest(toks) AS tok FROM d),
    first_seen AS (
      SELECT tok, min(bucket) AS first_bucket FROM tok GROUP BY tok
    ),
    new_types AS (
      SELECT first_bucket AS bucket, CAST(count(*) AS BIGINT) AS new_types
      FROM first_seen GROUP BY first_bucket
    ),
    bucket_tokens AS (
      SELECT bucket, CAST(count(*) AS BIGINT) AS n_tokens
      FROM tok GROUP BY bucket
    )
    SELECT b.bucket,
           b.n_tokens,
           coalesce(n.new_types, 0) AS new_types,
           CAST(sum(b.n_tokens) OVER (ORDER BY b.bucket) AS BIGINT)
             AS cum_tokens,
           CAST(sum(coalesce(n.new_types, 0)) OVER (ORDER BY b.bucket)
                AS BIGINT) AS cum_types
    FROM bucket_tokens b LEFT JOIN new_types n USING (bucket)
    ORDER BY b.bucket
    """,
)
def corpus_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    docs = load_table(spark, sf_dir, "documents")
    # arrival slices via integer range-bucketing on doc_id from a 1-row
    # min/max aggregate (bounded control data, broadcast) — no global
    # window touches corpus-sized data anywhere in this query
    span = docs.agg(
        F.min("doc_id").alias("mn"),
        (F.max("doc_id") - F.min("doc_id") + 1).alias("width"),
    )
    d = (
        docs.select("doc_id", tokens(F.col("text")).alias("toks"))
        .join(F.broadcast(span))
        .withColumn(
            "bucket",
            F.expr("CAST((doc_id - mn) * 10 DIV width AS INT) + 1"),
        )
    )
    # ONE corpus explode + one (tok, bucket) shuffle; the vocab-sized
    # count table is staged for its two consumers (first-occurrence
    # attribution + per-bucket token totals) so nothing rescans the
    # corpus twice
    g = (
        d.select("bucket", F.explode("toks").alias("tok"))
        .groupBy("tok", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        # lazy: both consumers sit in the final action
        .localCheckpoint(eager=False)
    )
    first_seen = g.groupBy("tok").agg(F.min("bucket").alias("bucket"))
    new_types = first_seen.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("new_types")
    )
    bucket_tokens = g.groupBy("bucket").agg(
        F.sum("c").cast("bigint").alias("n_tokens")
    )
    joined = bucket_tokens.join(new_types, "bucket", "left").select(
        "bucket",
        "n_tokens",
        F.coalesce("new_types", F.lit(0)).cast("bigint").alias("new_types"),
    )
    # 10-row running sums (window input is the 10 bucket rows)
    return joined.select(
        "bucket",
        "n_tokens",
        "new_types",
        F.sum("n_tokens").over(W.orderBy("bucket")).cast("bigint").alias("cum_tokens"),
        F.sum("new_types").over(W.orderBy("bucket")).cast("bigint").alias("cum_types"),
    ).orderBy("bucket")
