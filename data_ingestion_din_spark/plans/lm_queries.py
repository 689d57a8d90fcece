"""Statistical language-model quality queries: bigram Stupid-Backoff
perplexity, the interpolated trigram LM with its lambda-grid and
smoothing A/Bs — split family-line from plans/text_pipeline.py (r12
module-size hygiene; the shared tokenization SQL stays there).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from data_ingestion_din_spark.functions.analysis import intlog2, tokens
from data_ingestion_din_spark.operators.colocate import staged
from data_ingestion_din_spark.plans.registry import query
from data_ingestion_din_spark.plans.text_pipeline import _TOKS_SQL
from data_ingestion_din_spark.sources.tables import load_table

# --------------------------------------------------------------------------
# doc_ngram_perplexity — the REAL CCNet/KenLM quality knob behind the
# doc_rare_token_ratio / doc_bigram_lm_score stand-ins: per-document
# length-normalized bigram negative-log-likelihood with Stupid-Backoff
# (Brants et al. 2007) to the unigram model, in INTEGER octave
# arithmetic (length(bin(x)) = floor(log2 x)+1 — the retrieval_bm25 /
# DSIR recipe) so every per-doc score and the keep/drop DECISION sit
# under the hash gate (libm log is the one primitive parity cannot
# trust). The LM trains on the doc_id%4==0 quarter and scores EVERYONE,
# so held-out docs genuinely exercise the backoff path (an LM trained on
# the full corpus has pair_n >= 1 for every scored bigram and the
# backoff branch would be dead code; the %2 half-trainer left only 7
# backoff bigrams on this fixture vs the quarter-trainer's 58 across
# 57 docs — measured, which is why the slice is %4):
#
#   q(h,x) = intlog2(head_n+1) - intlog2(pair_n)          seen bigram
#          = 1 + intlog2(T+1)  - intlog2(tok_n(x)+1)      backoff
#                (1 octave  ~= the Stupid-Backoff alpha=0.4 penalty)
#   ppl_milli(d) = 1000 * sum(q) DIV n_bigrams            keep <= cutoff
#
# Scale: one (head,next) shuffle trains the pair table (map-side
# partials), scoring is a pair-key shuffle join of corpus bigrams
# against it (the bigram long tail — NOT broadcastable, honestly so) +
# a vocab-key join for the backoff unigram, then one doc_id rollup; the
# trained tables are staged artifacts reused across quality passes at
# production, exactly like doc_rare_token_ratio's df table.
# --------------------------------------------------------------------------
_PPL_TRAIN_MOD = 4
_PPL_KEEP_MAX = 4650  # milli-octaves/bigram ~= fixture median: the keep
# decision splits the corpus instead of waving everyone through
# (measured ppl_milli range 4208..5061, median 4654 under the %4 LM)


@query(
    "doc_ngram_perplexity",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    prs AS (
      SELECT doc_id, t[i] AS head, t[i + 1] AS next
      FROM t, unnest(range(1, len(t))) r(i)
      WHERE i < len(t)
    ),
    pc AS (
      SELECT head, next, CAST(count(*) AS BIGINT) AS pair_n
      FROM prs WHERE doc_id % {_PPL_TRAIN_MOD} = 0 GROUP BY head, next
    ),
    hn AS (
      SELECT *, CAST(sum(pair_n) OVER (PARTITION BY head) AS BIGINT)
                  AS head_n
      FROM pc
    ),
    trtok AS (
      SELECT unnest(t) AS tok FROM t WHERE doc_id % {_PPL_TRAIN_MOD} = 0
    ),
    uc AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS tok_n FROM trtok GROUP BY tok
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS tt FROM trtok),
    q AS (
      SELECT p.doc_id,
             CASE WHEN h.pair_n IS NOT NULL
               THEN CAST(length(bin(h.head_n + 1)) AS BIGINT)
                    - CAST(length(bin(h.pair_n)) AS BIGINT)
               ELSE 1 + CAST(length(bin(tot.tt + 1)) AS BIGINT)
                    - CAST(length(bin(coalesce(u.tok_n, 0) + 1)) AS BIGINT)
             END AS q,
             CASE WHEN h.pair_n IS NULL THEN 1 ELSE 0 END AS bo
      FROM prs p
      LEFT JOIN hn h ON h.head = p.head AND h.next = p.next
      LEFT JOIN uc u ON u.tok = p.next
      CROSS JOIN tot
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(bo) AS BIGINT) AS n_backoff,
           CAST(sum(q) AS BIGINT) AS q_sum,
           CAST(sum(q) * 1000 // count(*) AS BIGINT) AS ppl_milli,
           (sum(q) * 1000 // count(*)) <= {_PPL_KEEP_MAX} AS keep
    FROM q GROUP BY doc_id ORDER BY doc_id
    """,
)
def doc_ngram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _bi_perdoc(spark, sf_dir).orderBy("doc_id")


# Per-session staged per-doc bigram score table — the _tri_comps/_p5_comps
# convention one order further down: the trained bigram LM is a staged
# artifact at production, and TWO queries (doc_ngram_perplexity itself and
# doc_lm_interp_ab's bi_nll baseline) read the same per-doc rollup instead
# of each rebuilding the tokenize + pair-table + two-join pipeline. Lazy
# checkpoint: the first consumer's action materializes it — in the
# bench that is the dedicated lm_bi_perdoc setup row (VERDICT r14 ask
# #3), so the build cost is a visible setup row, not a hidden cold run.
@staged("lm_bi_perdoc")
def _bi_perdoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _bi_perdoc_build(spark, sf_dir).localCheckpoint(eager=False)


# The bigram Stupid-Backoff LM, shared by doc_ngram_perplexity and the
# at-ingest perplexity gate (streaming_gates._ppl_gate_processor).
def _bi_tokens(docs: DataFrame) -> DataFrame:
    """(doc_id, t): each doc's token array."""
    return docs.select("doc_id", tokens(F.col("text")).alias("t"))


def _bi_pairs(t0: DataFrame) -> DataFrame:
    """(doc_id, head, next) per adjacent token pair."""
    # size >= 2 guard for the bigram generator (sequence() descends for
    # shorter docs — see corpus_bigram_lm)
    t = t0.filter(F.size("t") >= 2)
    return t.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1), "
                "i -> struct(t[i - 1] AS head, t[i] AS next))"
            )
        ).alias("p"),
    ).select("doc_id", "p.head", "p.next")


def _bi_lm(
    prs: DataFrame, t0: DataFrame
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The LM trained on pairs ``prs`` and token arrays ``t0``: pair
    counts (head, next, pair_n), unigram counts (tok, tok_n) and the
    1-row token total (tt). Unigram/total counts use the UNFILTERED
    token stream (1-token train docs still count)."""
    pc = prs.groupBy("head", "next").agg(
        F.count(F.lit(1)).cast("bigint").alias("pair_n")
    )
    trtok = t0.select(F.explode("t").alias("tok"))
    uc = trtok.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("tok_n")
    )
    tot = trtok.agg(F.count(F.lit(1)).cast("bigint").alias("tt"))
    return pc, uc, tot


def _bi_scored(
    prs: DataFrame, pc: DataFrame, uc: DataFrame, tot: DataFrame
) -> DataFrame:
    """(doc_id, q, bo) per pair of ``prs`` under the LM (pc, uc, tot):
    the octave cost q, and bo = 1 where it backed off to the unigram."""
    hn = pc.withColumn(
        "head_n", F.sum("pair_n").over(W.partitionBy("head")).cast("bigint")
    )
    return (
        prs.join(hn, ["head", "next"], "left")
        .join(uc.withColumnRenamed("tok", "next"), "next", "left")
        # 1-row scalar attach, hint-free (AQE broadcasts it on its own;
        # the LM-side joins above must stay plain — vocabulary-sized)
        .crossJoin(tot)
        .select(
            "doc_id",
            F.when(
                F.col("pair_n").isNotNull(),
                intlog2(F.col("head_n") + 1) - intlog2(F.col("pair_n")),
            )
            .otherwise(
                F.lit(1)
                + intlog2(F.col("tt") + 1)
                - intlog2(F.coalesce(F.col("tok_n"), F.lit(0)) + 1)
            )
            .alias("q"),
            F.when(F.col("pair_n").isNull(), 1).otherwise(0).alias("bo"),
        )
    )


def _bi_perdoc_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    t0 = _bi_tokens(load_table(spark, sf_dir, "documents"))
    prs = _bi_pairs(t0)
    train = F.col("doc_id") % _PPL_TRAIN_MOD == 0
    scored = _bi_scored(prs, *_bi_lm(prs.filter(train), t0.filter(train)))
    n = F.count(F.lit(1))
    return (
        scored.groupBy("doc_id")
        .agg(
            n.cast("bigint").alias("n_bigrams"),
            F.sum("bo").cast("bigint").alias("n_backoff"),
            F.sum("q").cast("bigint").alias("q_sum"),
            F.expr("sum(q) * 1000 DIV count(*)")
            .cast("bigint")
            .alias("ppl_milli"),
            (F.expr("sum(q) * 1000 DIV count(*)") <= _PPL_KEEP_MAX).alias(
                "keep"
            ),
        )
    )


# --------------------------------------------------------------------------
# doc_trigram_perplexity — one step from the bigram Stupid-Backoff above
# toward the 5-gram KenLM CCNet runs: an INTERPOLATED trigram LM
# (Jelinek-Mercer shape) in pure integer arithmetic. Component
# probabilities live in fixed point (p·2^S, S=30, exact integer
# division on both engines); the mixture is an integer-weighted sum
# with octave weights summing to 8, and the per-gram NLL is its octave
#
#   q = intlog2(8·2^S) − intlog2(λ3·p3 + λ2·p2 + λ1·p1)
#     = (S+4) − length(bin(mix))                    (mix ≥ 1: λ1 ≥ 1
#       and the add-one unigram keeps p1 ≥ 1 while T+1 ≤ 2^S)
#
# so scores and keep/drop decisions stay under the hash gate. Same %4
# trainer protocol as the bigram (train quarter, score everyone). The
# λ grid was MEASURED before shipping (doc_lm_interp_ab below): on this
# fixture held-out NLL is monotone TOWARD the bigram component —
# (4,2,2)=5889, (2,4,2)=5605, (1,5,2)=5510, pure-bigram (0,7,1)=5486
# milli-octaves/gram, all above Stupid-Backoff's 4683 — the %4 training
# quarter is too sparse for trigram contexts to pay (10,580 of 26,165
# scored trigrams hit a trained context at sf0.01). Production λ is
# (1,5,2), the best setting whose trigram component is alive; the A/B
# query keeps the whole surface gated rather than a hypothesis comment.
#
# Scale: one (h1,h2,x) shuffle trains the trigram table, scoring is
# corpus trigrams shuffle-joined against it plus the bigram/unigram
# tables (long-tail keys — NOT broadcastable, hint-free), one doc_id
# rollup; the 1-row total attaches via crossJoin like the bigram.
# 2^S fixed point caps exact counts at tri_n < 2^33 per key — fine for
# any training slice whose single most frequent trigram is < 8.5e9.
# --------------------------------------------------------------------------
_PPL3_S = 30
_PPL3_LAMBDAS = ((4, 2, 2), (2, 4, 2), (1, 5, 2), (0, 7, 1))  # sum = 8
_PPL3_L = (1, 5, 2)  # production: measured knee with a live trigram term
_PPL3_KEEP_MAX = 5470  # ~fixture median under the production lambda
# (range 4235..6300, median 5473 at (1,5,2)): the keep decision splits
# the corpus instead of waving everyone through, like _PPL_KEEP_MAX


def _ppl3_ctes() -> str:
    """Trigram/bigram/unigram component probabilities per scored trigram,
    fixed point p·2^S — the shared head of both queries below."""
    return f"""
    t AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    tri AS (
      SELECT doc_id, t[i] AS h1, t[i+1] AS h2, t[i+2] AS x
      FROM t, unnest(range(1, len(t) - 1)) r(i) WHERE i + 2 <= len(t)
    ),
    tc AS (
      SELECT h1, h2, x, CAST(count(*) AS BIGINT) AS tri_n
      FROM tri WHERE doc_id % {_PPL_TRAIN_MOD} = 0 GROUP BY h1, h2, x
    ),
    ctx3 AS (
      SELECT h1, h2, CAST(sum(tri_n) AS BIGINT) AS ctx_n
      FROM tc GROUP BY h1, h2
    ),
    prs3 AS (
      SELECT doc_id, t[i] AS head, t[i + 1] AS next
      FROM t, unnest(range(1, len(t))) r(i) WHERE i < len(t)
    ),
    pc3 AS (
      SELECT head, next, CAST(count(*) AS BIGINT) AS pair_n
      FROM prs3 WHERE doc_id % {_PPL_TRAIN_MOD} = 0 GROUP BY head, next
    ),
    hn3 AS (
      SELECT *, CAST(sum(pair_n) OVER (PARTITION BY head) AS BIGINT)
                  AS head_n
      FROM pc3
    ),
    trtok3 AS (
      SELECT unnest(t) AS tok FROM t WHERE doc_id % {_PPL_TRAIN_MOD} = 0
    ),
    uc3 AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS tok_n FROM trtok3 GROUP BY tok
    ),
    tot3 AS (SELECT CAST(count(*) AS BIGINT) AS tt FROM trtok3),
    comps AS (
      SELECT g.doc_id, g.h2, g.x,
        CASE WHEN c.tri_n IS NOT NULL
          THEN c.tri_n * {1 << _PPL3_S} // x3.ctx_n ELSE 0 END AS p3,
        CASE WHEN h.pair_n IS NOT NULL
          THEN h.pair_n * {1 << _PPL3_S} // h.head_n ELSE 0 END AS p2,
        (coalesce(u.tok_n, 0) + 1) * {1 << _PPL3_S} // (tot3.tt + 1) AS p1,
        CASE WHEN c.tri_n IS NOT NULL THEN 1 ELSE 0 END AS tri_hit,
        CASE WHEN h.pair_n IS NOT NULL THEN 1 ELSE 0 END AS bi_hit,
        h.pair_n AS pair_n, h.head_n AS head_n
      FROM tri g
      LEFT JOIN tc c ON c.h1 = g.h1 AND c.h2 = g.h2 AND c.x = g.x
      LEFT JOIN ctx3 x3 ON x3.h1 = g.h1 AND x3.h2 = g.h2
      LEFT JOIN hn3 h ON h.head = g.h2 AND h.next = g.x
      LEFT JOIN uc3 u ON u.tok = g.x
      CROSS JOIN tot3
    )"""


def _ppl3_q_sql(lams: tuple[int, int, int]) -> str:
    l3, l2, l1 = lams
    return (
        f"{_PPL3_S + 4} - length(bin({l3} * p3 + {l2} * p2 + {l1} * p1))"
    )


# The scored trigram component DF, lazily localCheckpointed — the
# _p5_comps convention one order down: the
# trained component tables are staged artifacts at production, and
# THREE queries (doc_trigram_perplexity, doc_lm_interp_ab,
# doc_lm_smoothing_ab) read the same scored pass instead of each
# rebuilding the tokenize + three-gram-table + four-join pipeline. In
# the bench the dedicated lm_tri_comps setup row pays the build
# (VERDICT r14 ask #3), so consumer entries time the serve path.
@staged("lm_tri_comps")
def _tri_comps(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _tri_comps_build(spark, sf_dir).localCheckpoint(eager=False)


def _tri_comps_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of the ``comps`` CTE: per scored trigram, the fixed
    point component probabilities and hit flags."""
    docs = load_table(spark, sf_dir, "documents")
    t0 = docs.select("doc_id", tokens(F.col("text")).alias("t"))
    t = t0.filter(F.size("t") >= 3)
    tri = t.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 2), "
                "i -> struct(t[i - 1] AS h1, t[i] AS h2, t[i + 1] AS x))"
            )
        ).alias("g"),
    ).select("doc_id", "g.h1", "g.h2", "g.x")
    train3 = tri.filter(F.col("doc_id") % _PPL_TRAIN_MOD == 0)
    tc = train3.groupBy("h1", "h2", "x").agg(
        F.count(F.lit(1)).cast("bigint").alias("tri_n")
    )
    ctx3 = tc.groupBy("h1", "h2").agg(
        F.sum("tri_n").cast("bigint").alias("ctx_n")
    )
    t2 = t0.filter(F.size("t") >= 2)
    prs = t2.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1), "
                "i -> struct(t[i - 1] AS head, t[i] AS next))"
            )
        ).alias("p"),
    ).select("doc_id", "p.head", "p.next")
    pc = (
        prs.filter(F.col("doc_id") % _PPL_TRAIN_MOD == 0)
        .groupBy("head", "next")
        .agg(F.count(F.lit(1)).cast("bigint").alias("pair_n"))
    )
    from pyspark.sql.window import Window as W

    hn = pc.withColumn(
        "head_n", F.sum("pair_n").over(W.partitionBy("head")).cast("bigint")
    )
    trtok = t0.filter(F.col("doc_id") % _PPL_TRAIN_MOD == 0).select(
        F.explode("t").alias("tok")
    )
    uc = trtok.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("tok_n")
    )
    tot = trtok.agg(F.count(F.lit(1)).cast("bigint").alias("tt"))
    two = F.lit(1 << _PPL3_S)
    return (
        tri.join(tc, ["h1", "h2", "x"], "left")
        .join(ctx3, ["h1", "h2"], "left")
        .join(
            hn.select(
                F.col("head").alias("h2"),
                F.col("next").alias("x"),
                "pair_n",
                "head_n",
            ),
            ["h2", "x"],
            "left",
        )
        .join(uc.withColumnRenamed("tok", "x"), "x", "left")
        .crossJoin(tot)  # 1-row scalar attach, hint-free (as the bigram)
        .select(
            "doc_id",
            "h2",
            "x",
            F.when(
                F.col("tri_n").isNotNull(),
                F.expr(f"tri_n * {1 << _PPL3_S} DIV ctx_n"),
            )
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("p3"),
            F.when(
                F.col("pair_n").isNotNull(),
                F.expr(f"pair_n * {1 << _PPL3_S} DIV head_n"),
            )
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("p2"),
            F.expr(
                f"(coalesce(tok_n, 0) + 1) * {1 << _PPL3_S} DIV (tt + 1)"
            )
            .cast("bigint")
            .alias("p1"),
            F.col("tri_n").isNotNull().cast("int").alias("tri_hit"),
            F.col("pair_n").isNotNull().cast("int").alias("bi_hit"),
            # raw bigram counts for the smoothing A/B's KN/backoff rows
            F.col("pair_n").cast("bigint").alias("pair_n"),
            F.col("head_n").cast("bigint").alias("head_n"),
        )
    )


def _ppl3_q_col(lams: tuple[int, int, int]):
    l3, l2, l1 = lams
    return F.lit(_PPL3_S + 4) - F.length(
        F.bin(
            F.lit(l3) * F.col("p3")
            + F.lit(l2) * F.col("p2")
            + F.lit(l1) * F.col("p1")
        )
    ).cast("bigint")


@query(
    "doc_trigram_perplexity",
    oracle=f"""
    WITH {_ppl3_ctes()}
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_trigrams,
           CAST(sum(tri_hit) AS BIGINT) AS n_tri_hit,
           CAST(sum(bi_hit) AS BIGINT) AS n_bi_hit,
           CAST(sum({_ppl3_q_sql(_PPL3_L)}) AS BIGINT) AS q_sum,
           CAST(sum({_ppl3_q_sql(_PPL3_L)}) * 1000 // count(*) AS BIGINT)
             AS ppl_milli,
           (sum({_ppl3_q_sql(_PPL3_L)}) * 1000 // count(*))
             <= {_PPL3_KEEP_MAX} AS keep
    FROM comps GROUP BY doc_id ORDER BY doc_id
    """,
)
def doc_trigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    comps = _tri_comps(spark, sf_dir).withColumn("q", _ppl3_q_col(_PPL3_L))
    return (
        comps.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_trigrams"),
            F.sum("tri_hit").cast("bigint").alias("n_tri_hit"),
            F.sum("bi_hit").cast("bigint").alias("n_bi_hit"),
            F.sum("q").cast("bigint").alias("q_sum"),
            F.expr("sum(q) * 1000 DIV count(*)")
            .cast("bigint")
            .alias("ppl_milli"),
            (F.expr("sum(q) * 1000 DIV count(*)") <= _PPL3_KEEP_MAX).alias(
                "keep"
            ),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# doc_lm_interp_ab — the λ-GRID A/B for the interpolated trigram vs the
# bigram Stupid-Backoff, on HELD-OUT docs (doc_id%4 != 0 — the docs the
# %4 trainer never saw), one hash-gated row per λ: held-out per-gram
# NLL for the mixture, the bigram baseline on the same doc set, and the
# keep/drop deltas (trigram keep at _PPL3_KEEP_MAX vs the bigram gate
# at _PPL_KEEP_MAX; n_flip = docs the two gates disagree on). The
# measured surface is the honest headline: every mixture trails the
# backoff baseline on this fixture, monotonically in trigram weight —
# shipping the measurement instead of the assumption (the IVFPQ
# residual-crossover precedent).
# --------------------------------------------------------------------------
def _ab_oracle() -> str:
    lam_qs = ",\n           ".join(
        f"CAST(sum({_ppl3_q_sql(l)}) AS BIGINT) AS qs_{i},\n           "
        f"CAST(sum({_ppl3_q_sql(l)}) * 1000 // count(*) AS BIGINT)"
        f" AS ppl_{i}"
        for i, l in enumerate(_PPL3_LAMBDAS)
    )
    rows = "\n    UNION ALL\n".join(
        f"""
    SELECT {l[0]} AS l3, {l[1]} AS l2, {l[2]} AS l1,
           CAST(sum(qs_{i}) * 1000 // sum(n3) AS BIGINT) AS tri_nll_milli,
           CAST(sum(b.q_sum) * 1000 // sum(b.n_bigrams) AS BIGINT)
             AS bi_nll_milli,
           CAST(count(*) AS BIGINT) AS n_heldout,
           CAST(sum(CASE WHEN ppl_{i} <= {_PPL3_KEEP_MAX}
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_keep_tri,
           CAST(sum(CASE WHEN b.ppl_milli <= {_PPL_KEEP_MAX}
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_keep_bi,
           CAST(sum(CASE WHEN (ppl_{i} <= {_PPL3_KEEP_MAX})
                         <> (b.ppl_milli <= {_PPL_KEEP_MAX})
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_flip
    FROM per3 JOIN b USING (doc_id)
    WHERE doc_id % {_PPL_TRAIN_MOD} <> 0"""
        for i, l in enumerate(_PPL3_LAMBDAS)
    )
    return f"""
    WITH {_ppl3_ctes()},
    per3 AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n3,
           {lam_qs}
      FROM comps GROUP BY doc_id
    ),
    bq AS (
      SELECT p.doc_id,
             CASE WHEN h.pair_n IS NOT NULL
               THEN CAST(length(bin(h.head_n + 1)) AS BIGINT)
                    - CAST(length(bin(h.pair_n)) AS BIGINT)
               ELSE 1 + CAST(length(bin(tot3.tt + 1)) AS BIGINT)
                    - CAST(length(bin(coalesce(u.tok_n, 0) + 1)) AS BIGINT)
             END AS q
      FROM prs3 p
      LEFT JOIN hn3 h ON h.head = p.head AND h.next = p.next
      LEFT JOIN uc3 u ON u.tok = p.next
      CROSS JOIN tot3
    ),
    b AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
             CAST(sum(q) AS BIGINT) AS q_sum,
             CAST(sum(q) * 1000 // count(*) AS BIGINT) AS ppl_milli
      FROM bq GROUP BY doc_id
    )
    SELECT * FROM ({rows})
    ORDER BY l3 DESC, l2
    """


@query("doc_lm_interp_ab", oracle=_ab_oracle())
def doc_lm_interp_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    comps = _tri_comps(spark, sf_dir)
    for i, lams in enumerate(_PPL3_LAMBDAS):
        comps = comps.withColumn(f"q_{i}", _ppl3_q_col(lams))
    per3 = comps.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n3"),
        *[
            c
            for i in range(len(_PPL3_LAMBDAS))
            for c in (
                F.sum(f"q_{i}").cast("bigint").alias(f"qs_{i}"),
                F.expr(f"sum(q_{i}) * 1000 DIV count(*)")
                .cast("bigint")
                .alias(f"ppl_{i}"),
            )
        ],
    )
    bi = _bi_perdoc(spark, sf_dir).select(
        "doc_id", "n_bigrams", "q_sum", "ppl_milli"
    )
    joined = per3.join(
        bi.withColumnRenamed("q_sum", "bqs").withColumnRenamed(
            "ppl_milli", "bppl"
        ),
        "doc_id",
    ).filter(F.col("doc_id") % _PPL_TRAIN_MOD != 0)
    grid = None
    for i, (l3, l2, l1) in enumerate(_PPL3_LAMBDAS):
        keep_t = F.col(f"ppl_{i}") <= _PPL3_KEEP_MAX
        keep_b = F.col("bppl") <= _PPL_KEEP_MAX
        row = joined.agg(
            F.lit(l3).cast("int").alias("l3"),
            F.lit(l2).cast("int").alias("l2"),
            F.lit(l1).cast("int").alias("l1"),
            F.expr(f"sum(qs_{i}) * 1000 DIV sum(n3)")
            .cast("bigint")
            .alias("tri_nll_milli"),
            F.expr("sum(bqs) * 1000 DIV sum(n_bigrams)")
            .cast("bigint")
            .alias("bi_nll_milli"),
            F.count(F.lit(1)).cast("bigint").alias("n_heldout"),
            F.sum(keep_t.cast("int")).cast("bigint").alias("n_keep_tri"),
            F.sum(keep_b.cast("int")).cast("bigint").alias("n_keep_bi"),
            F.sum((keep_t != keep_b).cast("int"))
            .cast("bigint")
            .alias("n_flip"),
        )
        grid = row if grid is None else grid.unionByName(row)
    return grid.orderBy(F.desc("l3"), "l2")

# --------------------------------------------------------------------------
# doc_lm_smoothing_ab — the SMOOTHING A/B the interp grid above makes
# necessary: its bi_nll_milli baseline is the production gate's own
# difference-of-bitlengths score, whose double floor biases LOW by
# ~0.8 octave/gram vs the mixtures' single-floor fixed-point octave —
# cross-RECIPE NLLs are only comparable under ONE quantization. This
# query scores four smoothing recipes on the SAME gram stream (the
# trigram positions; bigram models condition on h2) under the SAME
# quantization q = (S+1) − length(bin(p·2^S)):
#
#   sb     Stupid-Backoff (p2 if the pair trained, else unigram/2)
#   jm_bi  Jelinek-Mercer bigram     (7·p2 + 1·p1) / 8
#   jm_tri Jelinek-Mercer trigram    (1·p3 + 5·p2 + 2·p1) / 8
#   kn     interpolated Kneser-Ney, absolute discount D=1:
#          (c(h,x)−1)+/c(h) + (N1+(h,·)/c(h)) · (N1+(·,x)+1)/(N1+(·,·)+1)
#          (continuation probability — THE production n-gram smoothing)
#
# Measured held-out (sf0.01, %4 trainer): jm_bi 5486 < jm_tri 5510 <
# sb 5517 ≈ kn 5518 — ONCE FAIRLY QUANTIZED, interpolation beats
# backoff (reversing the interp grid's apparent 4683-vs-5510 verdict,
# which was quantization bias), and KN's discount is a dead heat with
# backoff on a quarter-sized trainer (continuation mass needs more
# bigram types than 7k tokens provide). Keep/flip columns use one
# shared cutoff so gate deltas are recipe-only.
#
# Scale: the trigram component tables are shared with doc_trigram_
# perplexity; KN adds two head/next-keyed aggregates of the trained
# pair table (vocabulary-sized, hint-free) and a 1-row total.
# --------------------------------------------------------------------------
def _smooth_oracle() -> str:
    S = _PPL3_S
    two = 1 << S
    models = {
        "sb": f"""CASE WHEN c.bi_hit = 1 THEN c.p2
                 ELSE c.p1 // 2 END""",
        "jm_bi": "(7 * c.p2 + c.p1) // 8",
        "jm_tri": "(c.p3 + 5 * c.p2 + 2 * c.p1) // 8",
        "kn": f"""CASE WHEN hd.hn IS NOT NULL THEN
                   (CASE WHEN c.pair_n IS NOT NULL
                         THEN (c.pair_n - 1) * {two} // hd.hn
                         ELSE 0 END)
                   + (hd.n1p * {two} // hd.hn)
                     * (coalesce(k.cont_n, 0) + 1) // (ctot.ct + 1)
                 ELSE (coalesce(k.cont_n, 0) + 1) * {two} // (ctot.ct + 1)
                 END""",
    }
    per = ",\n      ".join(
        f"CAST(sum(CASE WHEN doc_id % {_PPL_TRAIN_MOD} <> 0 THEN q_{m}"
        f" ELSE 0 END) AS BIGINT) AS ho_{m},\n      "
        f"CAST(sum(q_{m}) * 1000 // count(*) AS BIGINT) AS ppl_{m}"
        for m in models
    )
    scored = ",\n        ".join(
        f"{S + 1} - length(bin(greatest(({expr}), 1))) AS q_{m}"
        for m, expr in models.items()
    )
    rows = "\n    UNION ALL\n".join(
        f"""
    SELECT '{m}' AS model,
           CAST(sum(ho_{m}) * 1000 // sum(ho_n) AS BIGINT)
             AS heldout_nll_milli,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN ppl_{m} <= {_PPL3_KEEP_MAX}
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
           CAST(sum(CASE WHEN (ppl_{m} <= {_PPL3_KEEP_MAX})
                         <> (ppl_sb <= {_PPL3_KEEP_MAX})
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_flip_vs_sb
    FROM per"""
        for m in models
    )
    return f"""
    WITH {_ppl3_ctes()},
    heads AS (
      SELECT head, CAST(sum(pair_n) AS BIGINT) AS hn,
             CAST(count(*) AS BIGINT) AS n1p
      FROM pc3 GROUP BY head
    ),
    cont AS (
      SELECT next, CAST(count(*) AS BIGINT) AS cont_n
      FROM pc3 GROUP BY next
    ),
    ctot AS (SELECT CAST(count(*) AS BIGINT) AS ct FROM pc3),
    scored AS (
      SELECT c.doc_id,
        {scored}
      FROM comps c
      LEFT JOIN heads hd ON hd.head = c.h2
      LEFT JOIN cont k ON k.next = c.x
      CROSS JOIN ctot
    ),
    per AS (
      SELECT doc_id,
      CAST(CASE WHEN doc_id % {_PPL_TRAIN_MOD} <> 0 THEN count(*)
           ELSE 0 END AS BIGINT) AS ho_n,
      {per}
      FROM scored GROUP BY doc_id
    )
    SELECT * FROM ({rows})
    ORDER BY model
    """


@query("doc_lm_smoothing_ab", oracle=_smooth_oracle())
def doc_lm_smoothing_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    S = _PPL3_S
    two = 1 << S
    comps = _tri_comps(spark, sf_dir)
    # KN side tables off the trained pair table (vocabulary-sized)
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokens(F.col("text")).alias("t")).filter(
        F.size("t") >= 2
    )
    pc = (
        t.filter(F.col("doc_id") % _PPL_TRAIN_MOD == 0)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1), "
                    "i -> struct(t[i - 1] AS head, t[i] AS next))"
                )
            ).alias("p")
        )
        .groupBy("p.head", "p.next")
        .agg(F.count(F.lit(1)).cast("bigint").alias("pn"))
    )
    heads = pc.groupBy("head").agg(
        F.sum("pn").cast("bigint").alias("hn"),
        F.count(F.lit(1)).cast("bigint").alias("n1p"),
    )
    cont = pc.groupBy("next").agg(
        F.count(F.lit(1)).cast("bigint").alias("cont_n")
    )
    ctot = pc.agg(F.count(F.lit(1)).cast("bigint").alias("ct"))
    p_sb = F.when(F.col("bi_hit") == 1, F.col("p2")).otherwise(
        F.expr("p1 DIV 2")
    )
    p_jm_bi = F.expr("(7 * p2 + p1) DIV 8")
    p_jm_tri = F.expr("(p3 + 5 * p2 + 2 * p1) DIV 8")
    scored = (
        comps.join(heads.withColumnRenamed("head", "h2"), "h2", "left")
        .join(cont.withColumnRenamed("next", "x"), "x", "left")
        .crossJoin(ctot)  # 1-row scalar attach
    )
    qcol = lambda p: (  # noqa: E731
        F.lit(S + 1)
        - F.length(F.bin(F.greatest(p, F.lit(1)))).cast("bigint")
    )
    kn_seen = F.when(
        F.col("pair_n").isNotNull(),
        F.expr(f"(pair_n - 1) * {two} DIV hn"),
    ).otherwise(F.lit(0)) + F.expr(
        f"(n1p * {two} DIV hn) * (coalesce(cont_n, 0) + 1) DIV (ct + 1)"
    )
    kn_unseen = F.expr(f"(coalesce(cont_n, 0) + 1) * {two} DIV (ct + 1)")
    scored = scored.select(
        "doc_id",
        qcol(p_sb).alias("q_sb"),
        qcol(p_jm_bi).alias("q_jm_bi"),
        qcol(p_jm_tri).alias("q_jm_tri"),
        qcol(
            F.when(F.col("hn").isNotNull(), kn_seen).otherwise(kn_unseen)
        ).alias("q_kn"),
    )
    ho = F.col("doc_id") % _PPL_TRAIN_MOD != 0
    per = scored.groupBy("doc_id").agg(
        F.when(ho, F.count(F.lit(1)))
        .otherwise(0)
        .cast("bigint")
        .alias("ho_n"),
        *[
            c
            for m in ("sb", "jm_bi", "jm_tri", "kn")
            for c in (
                F.when(ho, F.sum(f"q_{m}"))
                .otherwise(0)
                .cast("bigint")
                .alias(f"ho_{m}"),
                F.expr(f"sum(q_{m}) * 1000 DIV count(*)")
                .cast("bigint")
                .alias(f"ppl_{m}"),
            )
        ],
    )
    grid = None
    for m in ("sb", "jm_bi", "jm_tri", "kn"):
        keep = F.col(f"ppl_{m}") <= _PPL3_KEEP_MAX
        keep_sb = F.col("ppl_sb") <= _PPL3_KEEP_MAX
        row = per.agg(
            F.lit(m).alias("model"),
            F.expr(f"sum(ho_{m}) * 1000 DIV sum(ho_n)")
            .cast("bigint")
            .alias("heldout_nll_milli"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(keep.cast("int")).cast("bigint").alias("n_keep"),
            F.sum((keep != keep_sb).cast("int"))
            .cast("bigint")
            .alias("n_flip_vs_sb"),
        )
        grid = row if grid is None else grid.unionByName(row)
    return grid.orderBy("model")


# --------------------------------------------------------------------------
# doc_5gram_perplexity / doc_lm_5gram_ab — the CCNet 5-GRAM filter the
# trigram family pointed at: Wenzek et al. 2020 score with a 5-gram
# KenLM, and the d11 trigram A/B measured exactly why the %4 quarter
# was not ready for it (only 10,580 of 26,165 scored trigrams hit a
# trained context — the TRAINER, not the order, was the binding
# constraint). So this family grows the trainer to doc_id % 2 == 0
# (the DoReMi reference split, already a fixture convention) and
# interpolates FIVE orders in the same integer fixed point as the
# trigram (p·2^S, S=30; exact integer division in both engines):
# octave weights (λ5,λ4,λ3,λ2,λ1) summing to 16 with λ1 ≥ 1, so
#
#   q = intlog2(16·2^S) − intlog2(Σ λk·pk) = (S+5) − length(bin(mix))
#
# and every per-gram NLL, per-doc score, and keep/drop decision sits
# under the hash gate. doc_lm_5gram_ab is the measured LADDER — four
# arms switching each next order on, scored on HELD-OUT docs
# (doc_id % 2 != 0) — answering "where does the longer context start
# paying" with a gated table; doc_5gram_perplexity is the per-doc
# production query at the only arm whose 5-gram term is alive.
#
# Measured (sf0.01): the %2 trainer fixes the SPARSITY the trigram A/B
# diagnosed — 12,693 of 25,165 scored 5-grams now hit a trained
# 5-gram context (vs 10.6k/26.2k for mere trigrams under %4) — and
# STILL the held-out NLL ladder is monotone toward the bigram:
# (0,0,0,15,1)=5426, +tri=5635, +4g=6066, +5g=6494 milli-octaves/gram.
# The 50% hit rate is memorization (verbatim transplants shared across
# the split), not generalization, so on this corpus the longer context
# never pays for SCORING — the measured lesson is that the 5-gram
# gate's production value here is the near-duplicate detection its low
# held-out tail performs (see the cutoff note), the honest twin of the
# trigram verdict one trainer size up.
#
# Scale: four n-gram count tables + contexts off one tokenized scan
# (map-side partials), scoring is the corpus 5-gram stream
# shuffle-joined against them (long-tail keys — NOT broadcastable,
# hint-free), one doc_id rollup; the trigram family's shape one order
# up, and the trained tables are staged artifacts at production
# exactly like the bigram's.
# --------------------------------------------------------------------------
_PPL5_S = 30
_PPL5_TRAIN_MOD = 2  # DoReMi reference split: half trains, half holds out
_PPL5_LADDER = (
    (0, 0, 0, 15, 1),  # bigram-dominant baseline
    (0, 0, 7, 8, 1),   # + trigram
    (0, 5, 5, 5, 1),   # + 4-gram
    (4, 4, 4, 3, 1),   # + 5-gram
)
_PPL5_L = (4, 4, 4, 3, 1)  # production: the only arm whose 5-gram
# term is alive (the trigram family's production-pick rule)
_PPL5_KEEP_MAX = 6700  # just below the held-out median (6705 at
# sf0.01 under the production lambda; held-out IQR 6578..6833): the
# keep decision splits the held-out half instead of waving everyone
# through. Train-half docs read 1000..1714 (memorized — the %2 LM has
# seen their exact 5-grams), and the held-out LOW tail (min 1259)
# marks verbatim near-transplants of training docs: the 5-gram gate
# doubles as a near-duplicate detector, which is CCNet's actual use


def _ppl5_ctes() -> str:
    """Component probabilities per scored 5-gram, fixed point p·2^S —
    the shared head of both 5-gram queries (orders 5/4/3/2 + add-one
    unigram, all trained on the %2 half)."""
    two = 1 << _PPL5_S
    return f"""
    t AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    g5 AS (
      SELECT doc_id, t[i] AS h1, t[i+1] AS h2, t[i+2] AS h3,
             t[i+3] AS h4, t[i+4] AS x
      FROM t, unnest(range(1, len(t) - 3)) r(i) WHERE i + 4 <= len(t)
    ),
    c5 AS (
      SELECT h1, h2, h3, h4, x, CAST(count(*) AS BIGINT) AS n5
      FROM g5 WHERE doc_id % {_PPL5_TRAIN_MOD} = 0
      GROUP BY h1, h2, h3, h4, x
    ),
    x5 AS (
      SELECT h1, h2, h3, h4, CAST(sum(n5) AS BIGINT) AS ctx5
      FROM c5 GROUP BY h1, h2, h3, h4
    ),
    g4 AS (
      SELECT doc_id, t[i] AS a1, t[i+1] AS a2, t[i+2] AS a3, t[i+3] AS x
      FROM t, unnest(range(1, len(t) - 2)) r(i) WHERE i + 3 <= len(t)
    ),
    c4 AS (
      SELECT a1, a2, a3, x, CAST(count(*) AS BIGINT) AS n4
      FROM g4 WHERE doc_id % {_PPL5_TRAIN_MOD} = 0 GROUP BY a1, a2, a3, x
    ),
    x4 AS (
      SELECT a1, a2, a3, CAST(sum(n4) AS BIGINT) AS ctx4
      FROM c4 GROUP BY a1, a2, a3
    ),
    g3 AS (
      SELECT doc_id, t[i] AS b1, t[i+1] AS b2, t[i+2] AS x
      FROM t, unnest(range(1, len(t) - 1)) r(i) WHERE i + 2 <= len(t)
    ),
    c3 AS (
      SELECT b1, b2, x, CAST(count(*) AS BIGINT) AS n3
      FROM g3 WHERE doc_id % {_PPL5_TRAIN_MOD} = 0 GROUP BY b1, b2, x
    ),
    x3 AS (
      SELECT b1, b2, CAST(sum(n3) AS BIGINT) AS ctx3
      FROM c3 GROUP BY b1, b2
    ),
    g2 AS (
      SELECT doc_id, t[i] AS head, t[i+1] AS x
      FROM t, unnest(range(1, len(t))) r(i) WHERE i + 1 <= len(t)
    ),
    c2 AS (
      SELECT head, x, CAST(count(*) AS BIGINT) AS n2
      FROM g2 WHERE doc_id % {_PPL5_TRAIN_MOD} = 0 GROUP BY head, x
    ),
    x2 AS (
      SELECT head, CAST(sum(n2) AS BIGINT) AS hd_n FROM c2 GROUP BY head
    ),
    tr5tok AS (
      SELECT unnest(t) AS tok FROM t WHERE doc_id % {_PPL5_TRAIN_MOD} = 0
    ),
    u5 AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS tok_n
      FROM tr5tok GROUP BY tok
    ),
    tot5 AS (SELECT CAST(count(*) AS BIGINT) AS tt FROM tr5tok),
    comps5 AS (
      SELECT g.doc_id,
        CASE WHEN c5.n5 IS NOT NULL
          THEN c5.n5 * {two} // x5.ctx5 ELSE 0 END AS p5,
        CASE WHEN c4.n4 IS NOT NULL
          THEN c4.n4 * {two} // x4.ctx4 ELSE 0 END AS p4,
        CASE WHEN c3.n3 IS NOT NULL
          THEN c3.n3 * {two} // x3.ctx3 ELSE 0 END AS p3,
        CASE WHEN c2.n2 IS NOT NULL
          THEN c2.n2 * {two} // x2.hd_n ELSE 0 END AS p2,
        (coalesce(u5.tok_n, 0) + 1) * {two} // (tot5.tt + 1) AS p1,
        CASE WHEN c5.n5 IS NOT NULL THEN 1 ELSE 0 END AS hit5,
        CASE WHEN c4.n4 IS NOT NULL THEN 1 ELSE 0 END AS hit4,
        CASE WHEN c3.n3 IS NOT NULL THEN 1 ELSE 0 END AS hit3,
        CASE WHEN c2.n2 IS NOT NULL THEN 1 ELSE 0 END AS hit2
      FROM g5 g
      LEFT JOIN c5 ON c5.h1 = g.h1 AND c5.h2 = g.h2 AND c5.h3 = g.h3
                  AND c5.h4 = g.h4 AND c5.x = g.x
      LEFT JOIN x5 ON x5.h1 = g.h1 AND x5.h2 = g.h2 AND x5.h3 = g.h3
                  AND x5.h4 = g.h4
      LEFT JOIN c4 ON c4.a1 = g.h2 AND c4.a2 = g.h3 AND c4.a3 = g.h4
                  AND c4.x = g.x
      LEFT JOIN x4 ON x4.a1 = g.h2 AND x4.a2 = g.h3 AND x4.a3 = g.h4
      LEFT JOIN c3 ON c3.b1 = g.h3 AND c3.b2 = g.h4 AND c3.x = g.x
      LEFT JOIN x3 ON x3.b1 = g.h3 AND x3.b2 = g.h4
      LEFT JOIN c2 ON c2.head = g.h4 AND c2.x = g.x
      LEFT JOIN x2 ON x2.head = g.h4
      LEFT JOIN u5 ON u5.tok = g.x
      CROSS JOIN tot5
    )"""


def _ppl5_q_sql(lams: tuple[int, int, int, int, int]) -> str:
    l5, l4, l3, l2, l1 = lams
    return (
        f"{_PPL5_S + 5} - length(bin("
        f"{l5} * p5 + {l4} * p4 + {l3} * p3 + {l2} * p2 + {l1} * p1))"
    )


# The scored component DF, localCheckpointed: the trained n-gram tables
# are staged artifacts at production (the bigram family's contract), and
# BOTH 5-gram queries read one pass
@staged("lm_p5_comps")
def _p5_comps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of the ``comps5`` CTE (session-staged)."""
    docs = load_table(spark, sf_dir, "documents")
    t0 = docs.select("doc_id", tokens(F.col("text")).alias("t"))
    two = 1 << _PPL5_S

    def grams(k: int, names: list[str]):
        fields = ", ".join(
            f"t[i - 1 + {j}] AS {nm}" for j, nm in enumerate(names)
        )
        return (
            t0.filter(F.size("t") >= k)
            .select(
                "doc_id",
                F.explode(
                    F.expr(
                        f"transform(sequence(1, size(t) - {k - 1}), "
                        f"i -> struct({fields}))"
                    )
                ).alias("g"),
            )
            .select("doc_id", "g.*")
        )

    g5 = grams(5, ["h1", "h2", "h3", "h4", "x"])
    g4 = grams(4, ["a1", "a2", "a3", "x"])
    g3 = grams(3, ["b1", "b2", "x"])
    g2 = grams(2, ["head", "x"])
    tr = F.col("doc_id") % _PPL5_TRAIN_MOD == 0
    c5 = g5.filter(tr).groupBy("h1", "h2", "h3", "h4", "x").agg(
        F.count(F.lit(1)).cast("bigint").alias("n5")
    )
    x5 = c5.groupBy("h1", "h2", "h3", "h4").agg(
        F.sum("n5").cast("bigint").alias("ctx5")
    )
    c4 = g4.filter(tr).groupBy("a1", "a2", "a3", "x").agg(
        F.count(F.lit(1)).cast("bigint").alias("n4")
    )
    x4 = c4.groupBy("a1", "a2", "a3").agg(
        F.sum("n4").cast("bigint").alias("ctx4")
    )
    c3 = g3.filter(tr).groupBy("b1", "b2", "x").agg(
        F.count(F.lit(1)).cast("bigint").alias("n3")
    )
    x3 = c3.groupBy("b1", "b2").agg(
        F.sum("n3").cast("bigint").alias("ctx3")
    )
    c2 = g2.filter(tr).groupBy("head", "x").agg(
        F.count(F.lit(1)).cast("bigint").alias("n2")
    )
    x2 = c2.groupBy("head").agg(F.sum("n2").cast("bigint").alias("hd_n"))
    trtok = t0.filter(tr).select(F.explode("t").alias("tok"))
    u5 = trtok.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("tok_n")
    )
    tot = trtok.agg(F.count(F.lit(1)).cast("bigint").alias("tt"))
    return (
        g5.join(c5, ["h1", "h2", "h3", "h4", "x"], "left")
        .join(x5, ["h1", "h2", "h3", "h4"], "left")
        .join(
            c4.select(
                F.col("a1").alias("h2"), F.col("a2").alias("h3"),
                F.col("a3").alias("h4"), "x", "n4",
            ),
            ["h2", "h3", "h4", "x"],
            "left",
        )
        .join(
            x4.select(
                F.col("a1").alias("h2"), F.col("a2").alias("h3"),
                F.col("a3").alias("h4"), "ctx4",
            ),
            ["h2", "h3", "h4"],
            "left",
        )
        .join(
            c3.select(
                F.col("b1").alias("h3"), F.col("b2").alias("h4"), "x", "n3"
            ),
            ["h3", "h4", "x"],
            "left",
        )
        .join(
            x3.select(
                F.col("b1").alias("h3"), F.col("b2").alias("h4"), "ctx3"
            ),
            ["h3", "h4"],
            "left",
        )
        .join(
            c2.select(F.col("head").alias("h4"), "x", "n2"),
            ["h4", "x"],
            "left",
        )
        .join(x2.select(F.col("head").alias("h4"), "hd_n"), "h4", "left")
        .join(u5.withColumnRenamed("tok", "x"), "x", "left")
        .crossJoin(tot)  # 1-row scalar attach, hint-free (family rule)
        .select(
            "doc_id",
            F.when(
                F.col("n5").isNotNull(), F.expr(f"n5 * {two} DIV ctx5")
            ).otherwise(F.lit(0)).cast("bigint").alias("p5"),
            F.when(
                F.col("n4").isNotNull(), F.expr(f"n4 * {two} DIV ctx4")
            ).otherwise(F.lit(0)).cast("bigint").alias("p4"),
            F.when(
                F.col("n3").isNotNull(), F.expr(f"n3 * {two} DIV ctx3")
            ).otherwise(F.lit(0)).cast("bigint").alias("p3"),
            F.when(
                F.col("n2").isNotNull(), F.expr(f"n2 * {two} DIV hd_n")
            ).otherwise(F.lit(0)).cast("bigint").alias("p2"),
            F.expr(f"(coalesce(tok_n, 0) + 1) * {two} DIV (tt + 1)")
            .cast("bigint")
            .alias("p1"),
            F.col("n5").isNotNull().cast("int").alias("hit5"),
            F.col("n4").isNotNull().cast("int").alias("hit4"),
            F.col("n3").isNotNull().cast("int").alias("hit3"),
            F.col("n2").isNotNull().cast("int").alias("hit2"),
        )
        # lazy: the first consumer action materializes it; in the bench
        # that is the dedicated lm_p5_comps setup row, so the build cost
        # is priced visibly and consumers time the serve path
    ).localCheckpoint(eager=False)


def _ppl5_q_col(lams: tuple[int, int, int, int, int]):
    l5, l4, l3, l2, l1 = lams
    return F.lit(_PPL5_S + 5) - F.length(
        F.bin(
            F.lit(l5) * F.col("p5")
            + F.lit(l4) * F.col("p4")
            + F.lit(l3) * F.col("p3")
            + F.lit(l2) * F.col("p2")
            + F.lit(l1) * F.col("p1")
        )
    ).cast("bigint")


@query(
    "doc_5gram_perplexity",
    oracle=f"""
    WITH {_ppl5_ctes()}
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(hit5) AS BIGINT) AS n_hit5,
           CAST(sum(hit4) AS BIGINT) AS n_hit4,
           CAST(sum(hit3) AS BIGINT) AS n_hit3,
           CAST(sum(hit2) AS BIGINT) AS n_hit2,
           CAST(sum({_ppl5_q_sql(_PPL5_L)}) AS BIGINT) AS q_sum,
           CAST(sum({_ppl5_q_sql(_PPL5_L)}) * 1000 // count(*) AS BIGINT)
             AS ppl_milli,
           (sum({_ppl5_q_sql(_PPL5_L)}) * 1000 // count(*))
             <= {_PPL5_KEEP_MAX} AS keep
    FROM comps5 GROUP BY doc_id ORDER BY doc_id
    """,
)
def doc_5gram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    comps = _p5_comps(spark, sf_dir).withColumn("q", _ppl5_q_col(_PPL5_L))
    return (
        comps.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum("hit5").cast("bigint").alias("n_hit5"),
            F.sum("hit4").cast("bigint").alias("n_hit4"),
            F.sum("hit3").cast("bigint").alias("n_hit3"),
            F.sum("hit2").cast("bigint").alias("n_hit2"),
            F.sum("q").cast("bigint").alias("q_sum"),
            F.expr("sum(q) * 1000 DIV count(*)")
            .cast("bigint")
            .alias("ppl_milli"),
            (F.expr("sum(q) * 1000 DIV count(*)") <= _PPL5_KEEP_MAX).alias(
                "keep"
            ),
        )
        .orderBy("doc_id")
    )


def _p5_ab_oracle() -> str:
    qcols = ",\n             ".join(
        f"{_ppl5_q_sql(lams)} AS q{i}"
        for i, lams in enumerate(_PPL5_LADDER, start=1)
    )
    ssum = ",\n             ".join(
        f"CAST(sum(q{i}) AS BIGINT) AS s{i}"
        for i in range(1, len(_PPL5_LADDER) + 1)
    )
    prod = len(_PPL5_LADDER)  # the 5-gram arm is the production arm
    arms = []
    for i, lams in enumerate(_PPL5_LADDER, start=1):
        l5, l4, l3, l2, l1 = lams
        arms.append(
            f"""SELECT {i} AS arm, {l5} AS lam5, {l4} AS lam4,
             {l3} AS lam3, {l2} AS lam2, {l1} AS lam1,
             (SELECT count(*) FROM dq5) AS n_docs,
             (SELECT sum(ng) FROM dq5) AS n_grams,
             (SELECT sum(s{i}) * 1000 // sum(ng) FROM dq5) AS nll_milli,
             (SELECT count(*) FROM dq5
              WHERE s{i} * 1000 // ng <= {_PPL5_KEEP_MAX}) AS n_keep,
             (SELECT count(*) FROM dq5
              WHERE (s{i} * 1000 // ng <= {_PPL5_KEEP_MAX})
                 <> (s{prod} * 1000 // ng <= {_PPL5_KEEP_MAX}))
               AS n_flip"""
        )
    body = "\n      UNION ALL\n      ".join(arms)
    return f"""
    WITH {_ppl5_ctes()},
    dq5 AS MATERIALIZED (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS ng,
             {ssum}
      FROM (SELECT doc_id,
             {qcols}
            FROM comps5 WHERE doc_id % {_PPL5_TRAIN_MOD} <> 0)
      GROUP BY doc_id
    )
    SELECT CAST(arm AS INT) AS arm,
           CAST(lam5 AS INT) AS lam5, CAST(lam4 AS INT) AS lam4,
           CAST(lam3 AS INT) AS lam3, CAST(lam2 AS INT) AS lam2,
           CAST(lam1 AS INT) AS lam1,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_grams AS BIGINT) AS n_grams,
           CAST(nll_milli AS BIGINT) AS nll_milli,
           CAST(n_keep AS BIGINT) AS n_keep,
           CAST(n_flip AS BIGINT) AS n_flip
    FROM ({body})
    ORDER BY arm
    """


@query("doc_lm_5gram_ab", oracle=_p5_ab_oracle())
def doc_lm_5gram_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    comps = _p5_comps(spark, sf_dir).filter(
        F.col("doc_id") % _PPL5_TRAIN_MOD != 0
    )
    for i, lams in enumerate(_PPL5_LADDER, start=1):
        comps = comps.withColumn(f"q{i}", _ppl5_q_col(lams))
    dq = comps.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("ng"),
        *[
            F.sum(f"q{i}").cast("bigint").alias(f"s{i}")
            for i in range(1, len(_PPL5_LADDER) + 1)
        ],
    ).localCheckpoint(eager=False)  # one scored pass, four arms read it
    prod = len(_PPL5_LADDER)
    out = None
    for i, lams in enumerate(_PPL5_LADDER, start=1):
        l5, l4, l3, l2, l1 = lams
        keep_i = F.expr(f"s{i} * 1000 DIV ng") <= _PPL5_KEEP_MAX
        keep_p = F.expr(f"s{prod} * 1000 DIV ng") <= _PPL5_KEEP_MAX
        # the production arm's flips vs itself are identically zero —
        # a literal avoids the trivially-true-predicate analyzer warn
        flips = (
            F.lit(0)
            if i == prod
            else F.sum((keep_i != keep_p).cast("int"))
        )
        row = dq.agg(
            F.lit(i).cast("int").alias("arm"),
            F.lit(l5).cast("int").alias("lam5"),
            F.lit(l4).cast("int").alias("lam4"),
            F.lit(l3).cast("int").alias("lam3"),
            F.lit(l2).cast("int").alias("lam2"),
            F.lit(l1).cast("int").alias("lam1"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("ng").cast("bigint").alias("n_grams"),
            F.expr(f"sum(s{i}) * 1000 DIV sum(ng)")
            .cast("bigint")
            .alias("nll_milli"),
            F.sum(keep_i.cast("int")).cast("bigint").alias("n_keep"),
            flips.cast("bigint").alias("n_flip"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("arm")
