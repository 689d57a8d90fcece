"""Curation audit grids: the Gopher rule battery, compaction and
pack-vs-split A/Bs, the zone-map layout audit, the DoReMi reweighting
step, the decontamination n-gram grid, MATTR lexical diversity and the
CCNet head/middle/tail sharding — split family-line from
plans/curation_queries.py (r12 module-size hygiene; the production
funnel/sampling/export family and its helpers stay there).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from data_ingestion_din_spark.operators import curation as C
from data_ingestion_din_spark.plans.curation_queries import _TOKS_SQL
from data_ingestion_din_spark.plans.registry import query
from data_ingestion_din_spark.sources.tables import load_table, local_frame

# --------------------------------------------------------------------------
# doc_gopher_rules — the NAMED Gopher document-statistics battery (Rae
# et al. 2021, Table A1), the rule set every LLM curation stack ports,
# next to the repetition signals above (doc_repetition_quality covers
# Gopher's dup-fraction rules; this covers the document-shape rules).
# Per doc, the five metrics in exact integer per-mille plus one flag
# per published threshold and the conjunctive keep:
#
#   word count        50 ≤ n ≤ 100,000
#   mean word length  3 ≤ len ≤ 10      (milli-chars, exact division)
#   alpha-word share  ≥ 80% of words contain an alphabetic character
#   stop-word gate    ≥ 2 distinct of Gopher's 8 (the/be/to/of/and/
#                      that/have/with)
#   symbol-to-word    (# + …) ≤ 10% of words
#
# Measured on the fixture: the 50-word minimum splits the corpus
# (277/500 pass), word length (3708–5300 milli) and alpha share (1000)
# pass everywhere, and the stop-word gate FAILS corpus-wide — the
# synthetic vocabulary contains only 'the' of the 8 (max stop_hits =
# 1), so keep ≡ false. That is the published battery working as
# designed: Gopher's stop-word rule exists precisely to drop
# non-natural word-soup text, which this fixture is — kept at the
# published thresholds rather than re-tuned to wave the fixture
# through. The symbol rule is honestly all-pass (no #/… noise); every
# metric column is computed, not constant-folded, so the hash gate
# covers the arithmetic either way.
#
# Scale: one corpus scan, all built-in string/array expressions
# (word-char mass via length(replace(text,' ','')) — codegen, not an
# interpreted HOF fold), map-side trivially.
# --------------------------------------------------------------------------
_GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")
_GOPHER_STOPS_SQL = "[" + ", ".join(f"'{s}'" for s in _GOPHER_STOPS) + "]"


@query(
    "doc_gopher_rules",
    oracle=f"""
    WITH t AS (SELECT doc_id, text, {_TOKS_SQL} AS toks FROM documents),
    s AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_words,
             CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_wchars,
             CAST(len(list_filter(toks,
                    x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT)
               AS n_alpha,
             CAST(len(list_filter({_GOPHER_STOPS_SQL},
                    s -> list_contains(toks, s))) AS BIGINT) AS stop_hits,
             CAST(length(text) - length(replace(text, '#', ''))
                  + (length(text) - length(replace(text, '...', ''))) // 3
                  AS BIGINT) AS n_symbols
      FROM t
    ),
    m AS (
      SELECT doc_id, n_words, stop_hits,
             CAST(n_wchars * 1000 // greatest(n_words, 1) AS BIGINT)
               AS mean_wlen_milli,
             CAST(n_alpha * 1000 // greatest(n_words, 1) AS BIGINT)
               AS alpha_permille,
             CAST(n_symbols * 1000 // greatest(n_words, 1) AS BIGINT)
               AS symbol_permille
      FROM s
    )
    SELECT doc_id, n_words, mean_wlen_milli, alpha_permille, stop_hits,
           symbol_permille,
           CAST(n_words BETWEEN 50 AND 100000 AS INT) AS f_nwords,
           CAST(mean_wlen_milli BETWEEN 3000 AND 10000 AS INT) AS f_wlen,
           CAST(alpha_permille >= 800 AS INT) AS f_alpha,
           CAST(stop_hits >= 2 AS INT) AS f_stop,
           CAST(symbol_permille <= 100 AS INT) AS f_symbol,
           (n_words BETWEEN 50 AND 100000)
             AND (mean_wlen_milli BETWEEN 3000 AND 10000)
             AND alpha_permille >= 800 AND stop_hits >= 2
             AND symbol_permille <= 100 AS keep
    FROM m
    ORDER BY doc_id
    """,
)
def doc_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_ingestion_din_spark.functions.analysis import tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    stops = F.array(*[F.lit(s) for s in _GOPHER_STOPS])
    s = docs.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_words"),
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
        .cast("bigint")
        .alias("n_wchars"),
        F.size(F.filter(toks, lambda x: x.rlike("[A-Za-z]")))
        .cast("bigint")
        .alias("n_alpha"),
        F.size(F.filter(stops, lambda w: F.array_contains(toks, w)))
        .cast("bigint")
        .alias("stop_hits"),
        (
            F.length("text")
            - F.length(F.replace(F.col("text"), F.lit("#"), F.lit("")))
            + (
                F.length("text")
                - F.length(
                    F.replace(F.col("text"), F.lit("..."), F.lit(""))
                )
            )
            / F.lit(3)
        )
        .cast("bigint")
        .alias("n_symbols"),
    )
    m = s.select(
        "doc_id",
        "n_words",
        "stop_hits",
        F.expr("n_wchars * 1000 DIV greatest(n_words, 1)")
        .cast("bigint")
        .alias("mean_wlen_milli"),
        F.expr("n_alpha * 1000 DIV greatest(n_words, 1)")
        .cast("bigint")
        .alias("alpha_permille"),
        F.expr("n_symbols * 1000 DIV greatest(n_words, 1)")
        .cast("bigint")
        .alias("symbol_permille"),
    )
    f_nwords = F.col("n_words").between(50, 100000)
    f_wlen = F.col("mean_wlen_milli").between(3000, 10000)
    f_alpha = F.col("alpha_permille") >= 800
    f_stop = F.col("stop_hits") >= 2
    f_symbol = F.col("symbol_permille") <= 100
    return m.select(
        "doc_id",
        "n_words",
        "mean_wlen_milli",
        "alpha_permille",
        "stop_hits",
        "symbol_permille",
        f_nwords.cast("int").alias("f_nwords"),
        f_wlen.cast("int").alias("f_wlen"),
        f_alpha.cast("int").alias("f_alpha"),
        f_stop.cast("int").alias("f_stop"),
        f_symbol.cast("int").alias("f_symbol"),
        (f_nwords & f_wlen & f_alpha & f_stop & f_symbol).alias("keep"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# corpus_compaction_ab — the small-files COMPACTION planner with the
# ordering strategy measured, not assumed. At 100 TB the recurring
# layout chore is rewriting many small files into ~target-sized ones
# (Delta OPTIMIZE / Iceberg rewrite_data_files); the planner is bin
# packing, and its one free knob is the order items are streamed into
# bins. Two arms over the same items (documents as files, byte size =
# length(text), 8 hash groups as the distributed planning unit):
#   arrival   — doc_id order (what a naive manifest walk does)
#   sizedesc  — size-descending (next-fit-decreasing, the classical
#               one-pass approximation of first-fit-decreasing)
# One row per planned output file: (strategy, grp, bin_id, n_items,
# bin_bytes, fill_permille) — the whole plan is hash-gated, so both
# the packing walk and the A/B are pinned.
#
# Measured (sf0.01, budget 1024 B): arrival plans 181 bins at mean
# fill 804‰; sizedesc plans 179 at 813‰ — NFD saves ~1% of output
# files here, the honestly small gain the theory predicts when every
# item is ≤40% of the budget (next-fit waste is bounded by the last
# item's size under either order). The strategy knob matters when
# file sizes approach the target; the planner measures rather than
# assumes it.
#
# Scale: the planner is pack_bins — repartition on grp (the shard
# lever: groups bound parallelism, not corpus size), one mapInPandas
# walk per arm. The plan is metadata-sized (one row per OUTPUT file);
# the data move it prescribes is the expensive part, not this query.
# --------------------------------------------------------------------------
_COMPACT_BUDGET = 1024
_COMPACT_GROUPS = 8


def _compact_walk_sql(src: str) -> str:
    return f"""(WITH RECURSIVE w AS (
        SELECT grp, rn, n, 1 AS bin, n AS cum FROM {src} WHERE rn = 1
        UNION ALL
        SELECT b.grp, b.rn, b.n,
               CASE WHEN w.cum + b.n > {_COMPACT_BUDGET}
                    THEN w.bin + 1 ELSE w.bin END,
               CASE WHEN w.cum + b.n > {_COMPACT_BUDGET}
                    THEN b.n ELSE w.cum + b.n END
        FROM w JOIN {src} b ON b.grp = w.grp AND b.rn = w.rn + 1
      )
      SELECT grp, bin, count(*) AS n_items, sum(n) AS bin_bytes
      FROM w GROUP BY grp, bin)"""


@query(
    "corpus_compaction_ab",
    oracle=f"""
    WITH items AS MATERIALIZED (
      SELECT doc_id % {_COMPACT_GROUPS} AS grp, doc_id,
             CAST(length(text) AS BIGINT) AS n
      FROM documents
    ),
    na AS MATERIALIZED (
      SELECT grp, n,
             row_number() OVER (PARTITION BY grp ORDER BY doc_id) AS rn
      FROM items
    ),
    nd AS MATERIALIZED (
      SELECT grp, n,
             row_number() OVER (PARTITION BY grp
                                ORDER BY n DESC, doc_id) AS rn
      FROM items
    ),
    agg AS (
      SELECT 'arrival' AS strategy, * FROM {_compact_walk_sql("na")}
      UNION ALL
      SELECT 'sizedesc' AS strategy, * FROM {_compact_walk_sql("nd")}
    )
    SELECT strategy, CAST(grp AS BIGINT) AS grp, CAST(bin AS INT) AS bin_id,
           CAST(n_items AS BIGINT) AS n_items,
           CAST(bin_bytes AS BIGINT) AS bin_bytes,
           CAST(bin_bytes * 1000 // {_COMPACT_BUDGET} AS BIGINT)
             AS fill_permille
    FROM agg
    ORDER BY strategy, grp, bin_id
    """,
)
def corpus_compaction_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        (F.col("doc_id") % _COMPACT_GROUPS).cast("bigint").alias("grp"),
        "doc_id",
        F.length("text").cast("bigint").alias("n"),
    )
    arms = []
    for strategy, order in (
        ("arrival", [F.col("doc_id")]),
        ("sizedesc", [F.col("n").desc(), F.col("doc_id")]),
    ):
        arms.append(
            C.pack_bins(base, order, _COMPACT_BUDGET).select(
                F.lit(strategy).alias("strategy"),
                "grp",
                "bin_id",
                "n_items",
                F.col("total_n").alias("bin_bytes"),
                F.expr(f"total_n * 1000 DIV {_COMPACT_BUDGET}")
                .cast("bigint")
                .alias("fill_permille"),
            )
        )
    return arms[0].unionByName(arms[1]).orderBy(
        "strategy", "grp", "bin_id"
    )


# --------------------------------------------------------------------------
# layout_zonemap_audit — WHY table layout is sorted: min/max zone maps
# (parquet row-group stats / Iceberg file metrics) prune a scan only
# when the layout CLUSTERS the predicate column. Same items and bins
# as corpus_compaction_ab (docs as files, 1024-byte bins, 8 planning
# groups), two physical orders — arrival (doc_id) and length-sorted —
# and three length-range predicates (narrow/medium/wide). Per
# (ordering, predicate), one hash-gated row: bins touched (a bin is
# scanned iff [min,max] overlaps the range), rows matching vs rows
# scanned, and the scan amplification — the number a table owner
# actually sizes sort keys by.
#
# Measured (sf0.01): sorting the predicate column cuts touched bins
# 265‰ → 44‰ (narrow), 674‰ → 178‰ (medium), 845‰ → 530‰ (wide) and
# scan amplification 7952‰ → 3714‰ / 3371‰ → 1398‰ / 1342‰ → 1075‰ —
# a 2-6× pruning lever from a sort, with the residual amplification
# set by per-group bin granularity (8 groups × ~4 docs/bin means even
# a perfectly clustered range spans ≥8 bins).
#
# Scale: the audit is metadata-sized (per-bin min/max is the zone
# map); pack_assign is the same one-pass walker as the planner. At
# 100 TB this decision — sort or don't before writing — is the
# difference between touching 3% and 100% of row groups.
# --------------------------------------------------------------------------
_ZM_PREDS = [("narrow", 100, 120), ("medium", 150, 250), ("wide", 80, 400)]


def _zm_walk_assign_sql(src: str) -> str:
    return f"""(WITH RECURSIVE w AS (
        SELECT grp, rn, n, doc_id, 1 AS bin, n AS cum FROM {src}
        WHERE rn = 1
        UNION ALL
        SELECT b.grp, b.rn, b.n, b.doc_id,
               CASE WHEN w.cum + b.n > {_COMPACT_BUDGET}
                    THEN w.bin + 1 ELSE w.bin END,
               CASE WHEN w.cum + b.n > {_COMPACT_BUDGET}
                    THEN b.n ELSE w.cum + b.n END
        FROM w JOIN {src} b ON b.grp = w.grp AND b.rn = w.rn + 1
      )
      SELECT grp, bin, min(n) AS mn, max(n) AS mx, count(*) AS n_docs,
             sum(n) AS n_bytes
      FROM w GROUP BY grp, bin)"""


@query(
    "layout_zonemap_audit",
    oracle=f"""
    WITH items AS MATERIALIZED (
      SELECT doc_id % {_COMPACT_GROUPS} AS grp, doc_id,
             CAST(length(text) AS BIGINT) AS n
      FROM documents
    ),
    na AS MATERIALIZED (
      SELECT grp, doc_id, n,
             row_number() OVER (PARTITION BY grp ORDER BY doc_id) AS rn
      FROM items
    ),
    ns AS MATERIALIZED (
      SELECT grp, doc_id, n,
             row_number() OVER (PARTITION BY grp
                                ORDER BY n, doc_id) AS rn
      FROM items
    ),
    za AS MATERIALIZED ({_zm_walk_assign_sql("na")}),
    zs AS MATERIALIZED ({_zm_walk_assign_sql("ns")}),
    zones AS (
      SELECT 'arrival' AS ordering, * FROM za
      UNION ALL
      SELECT 'sorted' AS ordering, * FROM zs
    ),
    preds AS (
      SELECT * FROM (VALUES
        {", ".join(f"('{nm}', {lo}, {hi})" for nm, lo, hi in _ZM_PREDS)}
      ) p(pred, lo, hi)
    ),
    match AS (
      SELECT p.pred, CAST(count(*) AS BIGINT) AS rows_matching
      FROM items i JOIN preds p ON i.n BETWEEN p.lo AND p.hi
      GROUP BY p.pred
    )
    SELECT z.ordering, p.pred,
           CAST(p.lo AS BIGINT) AS lo, CAST(p.hi AS BIGINT) AS hi,
           CAST(count(*) AS BIGINT) AS n_bins,
           CAST(sum(CASE WHEN z.mx >= p.lo AND z.mn <= p.hi
                         THEN 1 ELSE 0 END) AS BIGINT) AS bins_touched,
           CAST(sum(CASE WHEN z.mx >= p.lo AND z.mn <= p.hi
                         THEN 1 ELSE 0 END) * 1000 // count(*) AS BIGINT)
             AS touched_milli,
           any_value(m.rows_matching) AS rows_matching,
           CAST(sum(CASE WHEN z.mx >= p.lo AND z.mn <= p.hi
                         THEN z.n_docs ELSE 0 END) AS BIGINT)
             AS rows_scanned,
           CAST(sum(CASE WHEN z.mx >= p.lo AND z.mn <= p.hi
                         THEN z.n_docs ELSE 0 END) * 1000
                // greatest(any_value(m.rows_matching), 1) AS BIGINT)
             AS amplification_milli
    FROM zones z
    CROSS JOIN preds p
    JOIN match m ON m.pred = p.pred
    GROUP BY z.ordering, p.pred, p.lo, p.hi
    ORDER BY ordering, lo
    """,
)
def layout_zonemap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    items = docs.select(
        (F.col("doc_id") % _COMPACT_GROUPS).cast("bigint").alias("grp"),
        F.col("doc_id").cast("bigint").alias("item_id"),
        F.length("text").cast("bigint").alias("n"),
    ).localCheckpoint(eager=False)
    # one pass, no driver round-trips (the oracle's own zones × preds
    # shape): the 3-row predicate table broadcasts into both the match
    # count and the per-bin rollup, replacing three serial items.count()
    # jobs and six duplicate aggregate subtrees over two zones subtrees
    preds = local_frame(spark, list(_ZM_PREDS), "pred string, lo bigint, hi bigint")
    match = (
        items.crossJoin(F.broadcast(preds))
        .filter(F.col("n").between(F.col("lo"), F.col("hi")))
        .groupBy("pred")
        .agg(F.count(F.lit(1)).cast("bigint").alias("rows_matching"))
    )
    zones = None
    for ordering, order in (
        ("arrival", [F.col("item_id")]),
        ("sorted", [F.col("n"), F.col("item_id")]),
    ):
        arm = (
            C.pack_assign(items, order, _COMPACT_BUDGET)
            .join(items, ["grp", "item_id"])
            .groupBy("grp", "bin_id")
            .agg(
                F.min("n").alias("mn"),
                F.max("n").alias("mx"),
                F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            )
            .select(F.lit(ordering).alias("ordering"), "*")
        )
        zones = arm if zones is None else zones.unionByName(arm)
    touched = (F.col("mx") >= F.col("lo")) & (F.col("mn") <= F.col("hi"))
    return (
        zones.crossJoin(F.broadcast(preds))
        .groupBy("ordering", "pred", "lo", "hi")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bins"),
            F.sum(touched.cast("int")).cast("bigint").alias("bins_touched"),
            F.sum(F.when(touched, F.col("n_docs")).otherwise(0))
            .cast("bigint")
            .alias("rows_scanned"),
        )
        # INNER join by design: it mirrors the oracle's own inner JOIN on
        # pred, so a predicate matching zero items drops from BOTH engines
        # identically (the audit profiles selective predicates; a
        # zero-match predicate has no amplification story to report).
        .join(F.broadcast(match), "pred")
        .select(
            "ordering",
            "pred",
            "lo",
            "hi",
            "n_bins",
            "bins_touched",
            F.expr("bins_touched * 1000 DIV n_bins")
            .cast("bigint")
            .alias("touched_milli"),
            "rows_matching",
            "rows_scanned",
            F.expr("rows_scanned * 1000 DIV greatest(rows_matching, 1)")
            .cast("bigint")
            .alias("amplification_milli"),
        )
        .orderBy("ordering", "lo")
    )


# --------------------------------------------------------------------------
# corpus_pack_split_ab — the OTHER sequence-packing discipline, A/B'd:
# corpus_pack_sequences never splits a document (sequences underfill;
# every doc stays contiguous), while GPT-style pretraining CONCATENATES
# the token stream and cuts at exact budget boundaries (zero waste;
# documents split across sequence borders and pay attention-boundary
# cost). One hash-gated row per mode over the same global doc_id-order
# token stream and the same 1024-token budget: sequences produced,
# fill, and the number of documents split — the waste-vs-splits trade
# as one relation.
#
# Measured (sf0.01): no-split packs 28 sequences at 947‰ fill; split
# packs 27 at 982‰ with 25 documents crossing a boundary — on short
# docs (mean ~54 tokens vs the 1024 budget) no-split wastes only 5%,
# so concatenation buys one sequence in twenty-eight at the cost of
# 25 attention-boundary splits; the trade flips as documents approach
# the budget length.
#
# Scale: the no-split arm is the pack_bins walker (one grp=0 stream —
# the deliberately UNsharded audit form; the sharded production form
# is corpus_pack_sequences_sharded); the split arm is pure window
# cumsum arithmetic (a boundary crossing is a comparison of
# floor-divided cumulative sums, no walker at all).
# --------------------------------------------------------------------------
@query(
    "corpus_pack_split_ab",
    oracle=f"""
    WITH items AS MATERIALIZED (
      SELECT CAST(0 AS BIGINT) AS grp, doc_id,
             CAST(len({_TOKS_SQL}) AS BIGINT) AS n
      FROM documents
    ),
    na AS MATERIALIZED (
      SELECT grp, n,
             row_number() OVER (ORDER BY doc_id) AS rn
      FROM items
    ),
    nosplit AS (
      SELECT CAST(count(*) AS BIGINT) AS n_seqs,
             CAST(sum(bin_bytes) AS BIGINT) AS total_tokens
      FROM {_compact_walk_sql("na")}
    ),
    cum AS (
      SELECT doc_id, n,
             sum(n) OVER (ORDER BY doc_id) AS c
      FROM items
    ),
    split AS (
      SELECT CAST((sum(n) + {_COMPACT_BUDGET} - 1)
                  // {_COMPACT_BUDGET} AS BIGINT) AS n_seqs,
             CAST(sum(n) AS BIGINT) AS total_tokens,
             CAST(sum(CASE WHEN (c - n) // {_COMPACT_BUDGET}
                             <> (c - 1) // {_COMPACT_BUDGET}
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_split_docs
      FROM cum
    )
    SELECT 'nosplit' AS mode, n_seqs, total_tokens,
           CAST(total_tokens * 1000
                // (n_seqs * {_COMPACT_BUDGET}) AS BIGINT)
             AS fill_permille,
           CAST(0 AS BIGINT) AS n_split_docs
    FROM nosplit
    UNION ALL
    SELECT 'split', n_seqs, total_tokens,
           CAST(total_tokens * 1000
                // (n_seqs * {_COMPACT_BUDGET}) AS BIGINT),
           n_split_docs
    FROM split
    ORDER BY mode
    """,
)
def corpus_pack_split_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    from data_ingestion_din_spark.functions.analysis import tokens

    docs = load_table(spark, sf_dir, "documents")
    items = docs.select(
        F.lit(0).cast("bigint").alias("grp"),
        "doc_id",
        F.size(tokens(F.col("text"))).cast("bigint").alias("n"),
    )
    bins = C.pack_bins(items, [F.col("doc_id")], _COMPACT_BUDGET)
    nosplit = bins.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_seqs"),
        F.sum("total_n").cast("bigint").alias("total_tokens"),
    ).select(
        F.lit("nosplit").alias("mode"),
        "n_seqs",
        "total_tokens",
        F.expr(f"total_tokens * 1000 DIV (n_seqs * {_COMPACT_BUDGET})")
        .cast("bigint")
        .alias("fill_permille"),
        F.lit(0).cast("bigint").alias("n_split_docs"),
    )
    from data_ingestion_din_spark.operators.ranking import ranked_prefix

    # range-partitioned two-phase prefix sum (r12: the partition-less
    # window here pulled the whole doc stream into one partition)
    cum = ranked_prefix(
        items, ["doc_id"], sums={"c": "n"}, rk_col="_rk"
    ).select("doc_id", "n", "c")
    split = cum.agg(
        F.expr(
            f"CAST((sum(n) + {_COMPACT_BUDGET} - 1)"
            f" DIV {_COMPACT_BUDGET} AS BIGINT)"
        ).alias("n_seqs"),
        F.sum("n").cast("bigint").alias("total_tokens"),
        F.sum(
            F.when(
                F.expr(
                    f"(c - n) DIV {_COMPACT_BUDGET}"
                    f" <> (c - 1) DIV {_COMPACT_BUDGET}"
                ),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_split_docs"),
    ).select(
        F.lit("split").alias("mode"),
        "n_seqs",
        "total_tokens",
        F.expr(f"total_tokens * 1000 DIV (n_seqs * {_COMPACT_BUDGET})")
        .cast("bigint")
        .alias("fill_permille"),
        "n_split_docs",
    )
    return nosplit.unionByName(split).orderBy("mode")


# --------------------------------------------------------------------------
# corpus_doremi_step — one DoReMi domain-reweighting step (Xie et al.
# 2023): the mixture-weight UPDATE mechanism behind the static mixture
# queries (corpus_temperature_mixture picks weights from counts;
# DoReMi picks them from measured LEARNABILITY — upweight domains where
# a small proxy model lags a reference model, i.e. where there is
# headroom to learn). Deterministic integer twin of the published
# recipe, built entirely from machinery this repo already gates:
#
#   proxy LM  = the %4-quarter bigram Stupid-Backoff
#               (doc_ngram_perplexity's trainer, verbatim);
#   ref LM    = the same form trained on the %2 half (strictly more
#               data = the "better reference" role);
#   held-out  = doc_id % 4 IN (1, 3) — in NEITHER trainer;
#   excess_i  = max(0, proxy_nll_i − ref_nll_i) per domain (lang),
#               pooled per-gram NLL in milli-octaves (integer octave
#               arithmetic — the one-quantization lesson of
#               doc_lm_smoothing_ab applies: both NLLs use the same
#               length(bin(·)) recipe so the subtraction is fair);
#   update    = w ∝ w0 · (1000 + excess)  — the linearized
#               exp(η·excess) at η = 1 (excess ≈ 0.04-0.07 octave ≈
#               0.03-0.05 nat, so exp ≈ 1 + x to < 0.3% error: the
#               linearization IS the published step size, not a
#               weakening);
#   smoothing = (7·w1 + uniform) // 8 — DoReMi's uniform-mixing floor
#               with c = 1/8, integer-exact.
#
# w0 is the token-proportional baseline (the paper's initial domain
# weights). Measured (sf0.01): excess = de 36 / en 57 / es 62 / fr 71 /
# zh 45 milli-octaves — the update moves per-mille mass toward fr/es
# (hardest-to-learn domains) and away from de/zh; on this near-uniform
# synthetic corpus the shift is single-digit per-mille, which is the
# honest statement that DoReMi only re-weights hard when domains
# genuinely differ in learnability.
#
# Scale: two LM trainings (pair-key shuffles with map-side partials),
# held-out scoring joins on long-tail (head,next) keys — hint-free,
# NOT broadcastable — and the domain rollup is 5 rows; the weight
# arithmetic is driver-free (1-row totals attach via crossJoin, AQE
# broadcasts them on its own).
# --------------------------------------------------------------------------
_DRM_HELD = (1, 3)  # doc_id % 4 residues in neither trainer


def _doremi_oracle() -> str:
    def lm(p: str, mod: int) -> str:
        return f"""
    {p}pc AS (
      SELECT head, next, CAST(count(*) AS BIGINT) AS pair_n
      FROM prs WHERE doc_id % {mod} = 0 GROUP BY head, next
    ),
    {p}hn AS (
      SELECT *, CAST(sum(pair_n) OVER (PARTITION BY head) AS BIGINT)
                  AS head_n
      FROM {p}pc
    ),
    {p}trtok AS (
      SELECT unnest(t) AS tok FROM t WHERE doc_id % {mod} = 0
    ),
    {p}uc AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS tok_n
      FROM {p}trtok GROUP BY tok
    ),
    {p}tot AS (SELECT CAST(count(*) AS BIGINT) AS tt FROM {p}trtok),
    {p}q AS (
      SELECT p.doc_id,
             CASE WHEN h.pair_n IS NOT NULL
               THEN CAST(length(bin(h.head_n + 1)) AS BIGINT)
                    - CAST(length(bin(h.pair_n)) AS BIGINT)
               ELSE 1 + CAST(length(bin(tot.tt + 1)) AS BIGINT)
                    - CAST(length(bin(coalesce(u.tok_n, 0) + 1))
                           AS BIGINT)
             END AS q
      FROM hprs p
      LEFT JOIN {p}hn h ON h.head = p.head AND h.next = p.next
      LEFT JOIN {p}uc u ON u.tok = p.next
      CROSS JOIN {p}tot tot
    )"""

    held = ", ".join(str(r) for r in _DRM_HELD)
    return f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    prs AS (
      SELECT doc_id, t[i] AS head, t[i + 1] AS next
      FROM t, unnest(range(1, len(t))) r(i) WHERE i < len(t)
    ),
    hprs AS (SELECT * FROM prs WHERE doc_id % 4 IN ({held})),
    {lm('p_', 4)},
    {lm('r_', 2)},
    dl AS (SELECT doc_id, lang FROM documents),
    pp AS (
      SELECT dl.lang, count(DISTINCT q.doc_id) AS n_docs,
             count(*) AS n_grams, sum(q.q) AS q_sum
      FROM p_q q JOIN dl USING (doc_id) GROUP BY dl.lang
    ),
    rp AS (
      SELECT dl.lang, sum(q.q) AS q_sum
      FROM r_q q JOIN dl USING (doc_id) GROUP BY dl.lang
    ),
    ex AS (
      SELECT pp.lang, pp.n_docs, pp.n_grams,
             pp.q_sum * 1000 // pp.n_grams AS proxy_nll,
             rp.q_sum * 1000 // pp.n_grams AS ref_nll,
             greatest(pp.q_sum * 1000 // pp.n_grams
                      - rp.q_sum * 1000 // pp.n_grams, 0) AS excess
      FROM pp JOIN rp USING (lang)
    ),
    w0 AS (
      SELECT dl.lang, sum(len(t.t)) AS n_tok
      FROM t JOIN dl USING (doc_id) GROUP BY dl.lang
    ),
    w0n AS (
      SELECT lang,
             n_tok * 1000 // (SELECT sum(n_tok) FROM w0) AS w0_milli
      FROM w0
    ),
    mw AS (
      SELECT ex.*, w0n.w0_milli,
             w0n.w0_milli * (1000 + ex.excess) AS m
      FROM ex JOIN w0n USING (lang)
    ),
    fin AS (
      SELECT *, m * 1000 // (SELECT sum(m) FROM mw) AS w1_milli
      FROM mw
    )
    SELECT lang,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_grams AS BIGINT) AS n_grams,
           CAST(proxy_nll AS BIGINT) AS proxy_nll_milli,
           CAST(ref_nll AS BIGINT) AS ref_nll_milli,
           CAST(excess AS BIGINT) AS excess_milli,
           CAST(w0_milli AS BIGINT) AS w0_milli,
           CAST(w1_milli AS BIGINT) AS w1_milli,
           CAST((7 * w1_milli + 1000 // (SELECT count(*) FROM fin)) // 8
                AS BIGINT) AS smoothed_milli
    FROM fin ORDER BY lang
    """


@query("corpus_doremi_step", oracle=_doremi_oracle())
def corpus_doremi_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_ingestion_din_spark.plans.lm_queries import (
        _bi_lm,
        _bi_pairs,
        _bi_scored,
        _bi_tokens,
    )

    docs = load_table(spark, sf_dir, "documents")
    t0 = _bi_tokens(docs)
    prs = _bi_pairs(t0)
    held = prs.filter((F.col("doc_id") % 4).isin(*_DRM_HELD))

    def lm_scored(mod: int) -> DataFrame:
        train = F.col("doc_id") % mod == 0
        return _bi_scored(held, *_bi_lm(prs.filter(train), t0.filter(train)))

    dl = docs.select("doc_id", "lang")
    pp = (
        lm_scored(4)
        .join(dl, "doc_id")
        .groupBy("lang")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum("q").cast("bigint").alias("pq_sum"),
        )
    )
    rp = (
        lm_scored(2)
        .join(dl, "doc_id")
        .groupBy("lang")
        .agg(F.sum("q").cast("bigint").alias("rq_sum"))
    )
    ex = (
        pp.join(rp, "lang")
        .select(
            "lang",
            "n_docs",
            "n_grams",
            F.expr("pq_sum * 1000 DIV n_grams").alias("proxy_nll"),
            F.expr("rq_sum * 1000 DIV n_grams").alias("ref_nll"),
            F.greatest(
                F.expr(
                    "pq_sum * 1000 DIV n_grams - rq_sum * 1000 DIV n_grams"
                ),
                F.lit(0).cast("bigint"),
            ).alias("excess"),
        )
    )
    w0 = (
        t0.join(dl, "doc_id")
        .groupBy("lang")
        .agg(F.sum(F.size("t")).cast("bigint").alias("n_tok"))
    )
    w0_tot = w0.agg(F.sum("n_tok").cast("bigint").alias("tok_tot"))
    w0n = w0.crossJoin(w0_tot).select(
        "lang", F.expr("n_tok * 1000 DIV tok_tot").alias("w0_milli")
    )
    mw = ex.join(w0n, "lang").withColumn(
        "m", F.col("w0_milli") * (F.lit(1000) + F.col("excess"))
    )
    totals = mw.agg(
        F.sum("m").cast("bigint").alias("m_tot"),
        F.count(F.lit(1)).cast("bigint").alias("n_dom"),
    )
    return (
        mw.crossJoin(totals)
        .select(
            "lang",
            "n_docs",
            "n_grams",
            F.col("proxy_nll").cast("bigint").alias("proxy_nll_milli"),
            F.col("ref_nll").cast("bigint").alias("ref_nll_milli"),
            F.col("excess").cast("bigint").alias("excess_milli"),
            F.col("w0_milli").cast("bigint").alias("w0_milli"),
            F.expr("m * 1000 DIV m_tot").cast("bigint").alias("w1_milli"),
            F.expr("(7 * (m * 1000 DIV m_tot) + 1000 DIV n_dom) DIV 8")
            .cast("bigint")
            .alias("smoothed_milli"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# corpus_decontam_n_grid — the N-GRAM LENGTH knob of eval-set
# decontamination measured: corpus_decontaminate fixed n=8 by fiat,
# but the published choices disagree (GPT-3 used 13-grams, Brown et
# al.'s appendix discusses 8; The Pile audits at 13; smaller n flags
# common phrases, larger n misses paraphrased leakage). One row per
# n ∈ {4, 8, 13}: distinct eval shingles, corpus docs flagged, flag
# rate in per-mille, total shared-shingle instances, and the median
# hits among flagged docs (exact middle-rank, the house percentile
# recipe) — the "what does each n actually catch" surface that turns
# the convention into this corpus's measurement.
#
# Measured (sf0.01): the grid separates flags by HIT DEPTH, not just
# count — n=4 flags 93 docs (217‰) at MEDIAN 1 shared shingle each
# (shallow chance collisions on the small vocabulary: exactly the
# noise small n admits), while n=8 and n=13 flag 9 and 8 docs at
# median 73/68 hits (the planted verbatim transplants, which survive
# even the GPT-3-length shingle). The n=8→13 drop of one doc is the
# paraphrase-miss risk the long convention accepts; the n=8 choice is
# thereby a measurement, not lore.
#
# Scale: same broadcast-eval-shingles + zero-corpus-shuffle posture as
# corpus_decontaminate; the three n share one tokenization scan.
# --------------------------------------------------------------------------
_DCG_NS = (4, 8, 13)


def _dc_grid_oracle() -> str:
    per_n = []
    for n in _DCG_NS:
        shingle = " || ' ' || ".join(f"tk[i+{j}]" for j in range(n))
        per_n.append(
            f"""SELECT {n} AS n,
             (SELECT CAST(count(DISTINCT {shingle}) AS BIGINT)
              FROM idx{n} WHERE doc_id % 7 = 0) AS n_eval_shingles,
             CAST(count(*) AS BIGINT) AS n_docs_flagged,
             CAST(count(*) * 1000 // (SELECT count(*) FROM t
                                      WHERE doc_id % 7 <> 0) AS BIGINT)
               AS flag_milli,
             CAST(sum(n_hits) AS BIGINT) AS n_hit_instances,
             CAST(max(CASE WHEN rk = greatest(1, (cnt + 1) // 2)
                      THEN n_hits END) AS BIGINT) AS median_hits
      FROM (
        SELECT doc_id, n_hits,
               row_number() OVER (ORDER BY n_hits, doc_id) AS rk,
               count(*) OVER () AS cnt
        FROM (
          SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_hits
          FROM (SELECT DISTINCT doc_id, {shingle} AS shingle
                FROM idx{n}) s
          WHERE s.doc_id % 7 <> 0
            AND s.shingle IN (
              SELECT DISTINCT {shingle} FROM idx{n} WHERE doc_id % 7 = 0)
          GROUP BY s.doc_id
        )
      )"""
        )
    idx_ctes = ",\n    ".join(
        f"""idx{n} AS (
      SELECT doc_id, tk, unnest(range(1, len(tk) - {n - 2})) AS i
      FROM t WHERE len(tk) >= {n}
    )"""
        for n in _DCG_NS
    )
    body = "\n      UNION ALL\n      ".join(per_n)
    return f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents),
    {idx_ctes}
    SELECT CAST(n AS INT) AS n, n_eval_shingles, n_docs_flagged,
           flag_milli, n_hit_instances, median_hits
    FROM ({body})
    ORDER BY n
    """


@query("corpus_decontam_n_grid", oracle=_dc_grid_oracle())
def corpus_decontam_n_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    from data_ingestion_din_spark.functions.analysis import (
        tokens,
        word_shingles,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", tokens(F.col("text")).alias("tk")
    ).localCheckpoint(eager=False)
    n_corpus_docs = toks.filter(F.col("doc_id") % 7 != 0).agg(
        F.count(F.lit(1)).cast("bigint").alias("nc")
    )
    grid = None
    for n in _DCG_NS:
        sh = toks.filter(F.size("tk") >= n).select(
            "doc_id",
            F.explode(
                F.array_distinct(word_shingles(F.col("tk"), n))
            ).alias("shingle"),
        )
        ev = (
            sh.filter(F.col("doc_id") % 7 == 0)
            .select("shingle")
            .distinct()
        )
        n_ev = ev.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_eval_shingles")
        )
        hits = (
            sh.filter(F.col("doc_id") % 7 != 0)
            .join(F.broadcast(ev), "shingle")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
        )
        ranked = hits.select(
            "n_hits",
            F.row_number().over(W.orderBy("n_hits", "doc_id")).alias("rk"),
            F.count(F.lit(1)).over(W.partitionBy()).alias("cnt"),
        )
        # aggregate (not filter) so an n that flags ZERO corpus docs
        # still yields one row with NULL median_hits — a filter here
        # made med empty and the crossJoin silently dropped that n's
        # grid row while the oracle kept it (r12 ADVICE fix)
        med = ranked.agg(
            F.max(
                F.when(
                    F.col("rk")
                    == F.greatest(F.lit(1), F.expr("(cnt + 1) DIV 2")),
                    F.col("n_hits"),
                )
            )
            .cast("bigint")
            .alias("median_hits")
        )
        agg = hits.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs_flagged"),
            F.sum("n_hits").cast("bigint").alias("n_hit_instances"),
        )
        row = (
            agg.crossJoin(n_ev)
            .crossJoin(n_corpus_docs)
            .crossJoin(med)
            .select(
                F.lit(n).cast("int").alias("n"),
                "n_eval_shingles",
                "n_docs_flagged",
                F.expr("n_docs_flagged * 1000 DIV nc")
                .cast("bigint")
                .alias("flag_milli"),
                "n_hit_instances",
                "median_hits",
            )
        )
        grid = row if grid is None else grid.unionByName(row)
    return grid.orderBy("n")


# --------------------------------------------------------------------------
# doc_mattr_diversity — lexical diversity as a quality signal: plain
# type-token ratio (TTR) is length-biased (longer docs repeat more, so
# TTR falls with n and cannot be compared across lengths), which is
# why the curation literature uses MATTR (Covington & McFall 2010):
# the mean TTR over a sliding W-token window, length-invariant by
# construction. Sits next to doc_repetition_quality (which counts
# duplicate n-grams) as the vocabulary-side lens: word-soup with a
# tiny vocabulary scores low MATTR even when no n-gram repeats
# verbatim.
#
# Per doc: n_tok, global ttr_milli = 1000·distinct // n, and
# mattr_milli = 1000·Σ_k |distinct(window_k)| // (W_eff · n_windows)
# with W_eff = least(25, n) so sub-window docs degrade to plain TTR
# (one whole-doc window) instead of dropping out. The flag marks the
# low-diversity tail: the fixture's mattr distribution is 541-1000
# with median 688 and p25 659, so the 600 cutoff flags the genuine
# 14-doc tail (a 700 cutoff would flag 61% of the corpus — measured
# before shipping, which is how the threshold was chosen).
#
# Scale: pure per-row higher-order functions (slice + array_distinct
# inside one transform) — NO explode, NO shuffle until the final
# orderBy; the 100 TB plan is a map-only scan.
# --------------------------------------------------------------------------
_MATTR_W = 25
_MATTR_MIN = 600


@query(
    "doc_mattr_diversity",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_TOKS_SQL} AS tk FROM documents
    ),
    m AS (
      SELECT doc_id,
             CAST(len(tk) AS BIGINT) AS n_tok,
             CAST(len(list_distinct(tk)) AS BIGINT) AS n_distinct,
             least({_MATTR_W}, len(tk)) AS w_eff,
             list_sum(list_transform(
               generate_series(0, len(tk) - least({_MATTR_W}, len(tk))),
               k -> len(list_distinct(
                 list_slice(tk, k + 1,
                            k + least({_MATTR_W}, len(tk)))))
             )) AS dsum,
             len(tk) - least({_MATTR_W}, len(tk)) + 1 AS n_win
      FROM t WHERE len(tk) >= 1
    )
    SELECT doc_id, n_tok,
           CAST(n_distinct * 1000 // n_tok AS BIGINT) AS ttr_milli,
           CAST(n_win AS BIGINT) AS n_windows,
           CAST(dsum * 1000 // (w_eff * n_win) AS BIGINT) AS mattr_milli,
           dsum * 1000 // (w_eff * n_win) < {_MATTR_MIN} AS low_diversity
    FROM m ORDER BY doc_id
    """,
)
def doc_mattr_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_ingestion_din_spark.functions.analysis import tokens

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokens(F.col("text")).alias("tk")).filter(
        F.size("tk") >= 1
    )
    w_eff = F.least(F.lit(_MATTR_W), F.size("tk"))
    m = t.select(
        "doc_id",
        F.size("tk").cast("bigint").alias("n_tok"),
        F.size(F.array_distinct("tk")).cast("bigint").alias("n_distinct"),
        w_eff.alias("w_eff"),
        F.expr(
            f"aggregate(transform("
            f"sequence(0, size(tk) - least({_MATTR_W}, size(tk))),"
            f" k -> size(array_distinct(slice(tk, k + 1,"
            f" least({_MATTR_W}, size(tk)))))),"
            " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        ).alias("dsum"),
        (F.size("tk") - w_eff + 1).cast("bigint").alias("n_windows"),
    )
    return m.select(
        "doc_id",
        "n_tok",
        F.expr("n_distinct * 1000 DIV n_tok")
        .cast("bigint")
        .alias("ttr_milli"),
        "n_windows",
        F.expr("dsum * 1000 DIV (w_eff * n_windows)")
        .cast("bigint")
        .alias("mattr_milli"),
        (
            F.expr("dsum * 1000 DIV (w_eff * n_windows)") < _MATTR_MIN
        ).alias("low_diversity"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# corpus_ccnet_buckets — the CCNet SHARDING step itself (Wenzek et al.
# 2020 §4.3): after the perplexity filter scores every document, CCNet
# does not drop the tail — it splits each LANGUAGE into head / middle /
# tail tertiles by LM perplexity and ships them as separate shards (so
# a downstream mixture can sample quality deliberately). This query
# materializes that artifact: per-doc bigram Stupid-Backoff ppl (the
# doc_ngram_perplexity recipe, %4 trainer, integer octaves), per-lang
# tertile assignment by exact rank ((rk−1)·3 // n_lang over the
# deterministic (ppl, doc_id) order — head = most-fluent third), and
# one row per (lang, bucket): doc count, the bucket's ppl range (the
# shard boundaries a consumer needs), its token count and token share
# of the language in per-mille.
#
# Scale: the ppl chain is the documented pair-key-shuffle shape; the
# tertile rank is one window per lang; output is 3·n_langs rows.
# --------------------------------------------------------------------------


@query(
    "corpus_ccnet_buckets",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, {_TOKS_SQL} AS t FROM documents),
    prs AS (
      SELECT doc_id, t[i] AS head, t[i + 1] AS next
      FROM t, unnest(range(1, len(t))) r(i) WHERE i < len(t)
    ),
    pc AS (
      SELECT head, next, CAST(count(*) AS BIGINT) AS pair_n
      FROM prs WHERE doc_id % 4 = 0 GROUP BY head, next
    ),
    hn AS (
      SELECT *, CAST(sum(pair_n) OVER (PARTITION BY head) AS BIGINT)
                  AS head_n
      FROM pc
    ),
    trtok AS (SELECT unnest(t) AS tok FROM t WHERE doc_id % 4 = 0),
    uc AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS tok_n FROM trtok
      GROUP BY tok
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS tt FROM trtok),
    q AS (
      SELECT p.doc_id,
             CASE WHEN h.pair_n IS NOT NULL
               THEN CAST(length(bin(h.head_n + 1)) AS BIGINT)
                    - CAST(length(bin(h.pair_n)) AS BIGINT)
               ELSE 1 + CAST(length(bin(tot.tt + 1)) AS BIGINT)
                    - CAST(length(bin(coalesce(u.tok_n, 0) + 1))
                           AS BIGINT)
             END AS q
      FROM prs p
      LEFT JOIN hn h ON h.head = p.head AND h.next = p.next
      LEFT JOIN uc u ON u.tok = p.next
      CROSS JOIN tot
    ),
    ppl AS (
      SELECT q.doc_id, t.lang, CAST(len(t.t) AS BIGINT) AS n_tok,
             CAST(sum(q.q) * 1000 // count(*) AS BIGINT) AS ppl_milli
      FROM q JOIN t ON t.doc_id = q.doc_id
      GROUP BY q.doc_id, t.lang, len(t.t)
    ),
    ranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY lang ORDER BY ppl_milli, doc_id) AS rk,
             count(*) OVER (PARTITION BY lang) AS n_lang
      FROM ppl
    ),
    bucketed AS (
      SELECT lang,
             CASE (rk - 1) * 3 // n_lang
               WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
               ELSE 'tail' END AS bucket,
             ppl_milli, n_tok
      FROM ranked
    ),
    lt AS (SELECT lang, CAST(sum(n_tok) AS BIGINT) AS lang_tok
           FROM bucketed GROUP BY lang)
    SELECT b.lang, b.bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(b.ppl_milli) AS BIGINT) AS ppl_lo,
           CAST(max(b.ppl_milli) AS BIGINT) AS ppl_hi,
           CAST(sum(b.n_tok) AS BIGINT) AS n_tokens,
           CAST(sum(b.n_tok) * 1000 // any_value(lt.lang_tok) AS BIGINT)
             AS tok_share_milli
    FROM bucketed b JOIN lt ON lt.lang = b.lang
    GROUP BY b.lang, b.bucket
    ORDER BY b.lang, b.bucket
    """,
)
def corpus_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_ingestion_din_spark.functions.analysis import tokens
    from data_ingestion_din_spark.plans.lm_queries import (
        _bi_lm,
        _bi_pairs,
        _bi_scored,
    )

    docs = load_table(spark, sf_dir, "documents")
    t0 = docs.select("doc_id", "lang", tokens(F.col("text")).alias("t"))
    prs = _bi_pairs(t0)
    train = F.col("doc_id") % 4 == 0
    scored = _bi_scored(prs, *_bi_lm(prs.filter(train), t0.filter(train)))
    ppl = (
        scored.groupBy("doc_id")
        .agg(
            F.expr("CAST(sum(q) * 1000 DIV count(*) AS BIGINT)")
            .alias("ppl_milli")
        )
        .join(
            t0.select(
                "doc_id", "lang", F.size("t").cast("bigint").alias("n_tok")
            ),
            "doc_id",
        )
    )
    wl = W.partitionBy("lang").orderBy("ppl_milli", "doc_id")
    ranked = ppl.withColumn("rk", F.row_number().over(wl)).withColumn(
        "n_lang", F.count(F.lit(1)).over(W.partitionBy("lang"))
    )
    bucketed = ranked.withColumn(
        "bucket",
        F.expr(
            "CASE (rk - 1) * 3 DIV n_lang WHEN 0 THEN 'head'"
            " WHEN 1 THEN 'middle' ELSE 'tail' END"
        ),
    )
    lt = bucketed.groupBy("lang").agg(
        F.sum("n_tok").cast("bigint").alias("lang_tok")
    )
    return (
        bucketed.groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("ppl_milli").cast("bigint").alias("ppl_lo"),
            F.max("ppl_milli").cast("bigint").alias("ppl_hi"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
        )
        .join(lt, "lang")
        .withColumn(
            "tok_share_milli",
            F.expr("n_tokens * 1000 DIV lang_tok").cast("bigint"),
        )
        .drop("lang_tok")
        .orderBy("lang", "bucket")
    )
