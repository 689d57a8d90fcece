"""Unigram (SentencePiece-style) tokenizer family: Viterbi dp
training/encode, fertility, EM step, vocabulary pruning — split
family-line from plans/text_pipeline.py (r12 module-size hygiene; the
BPE trainer helpers it A/Bs against stay there and are imported).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_din_spark.functions.analysis import tokens
from data_ingestion_din_spark.operators.colocate import staged
from data_ingestion_din_spark.plans.registry import query
from data_ingestion_din_spark.plans.text_pipeline import (
    _BPE_TRAIN_STEPS,
    _TOKS_SQL,
    _bpe_train_ctes,
    _bpe_train_run,
)
from data_ingestion_din_spark.sources.tables import load_table, local_frame

# --------------------------------------------------------------------------
# corpus_unigram_tokenize — the UNIGRAM-LM tokenizer (SentencePiece /
# Kudo 2018 shape) next to BPE: the tokenizer A/B every LLM data team
# runs. Candidate pieces are the corpus's substrings of length
# 1.._UNI_LMAX (8)
# over the distinct-word table, scored by occurrence frequency
# (wn-weighted); the vocabulary is the top-K pieces by (freq desc,
# piece asc) PLUS every single character (the coverage guarantee that
# makes Viterbi total), each carrying the INTEGER octave score
# intlog2(freq) = length(bin(freq)) — the retrieval_bm25/DSIR recipe,
# so the segmentation objective has no float anywhere (no EM: seed
# scores from frequencies, the standard initialization, kept frozen).
# Each word is segmented by Viterbi MINIMIZING the quantized negative
# log-likelihood — cost(piece) = NORM − score(piece) with NORM =
# intlog2(total piece mass), the octave twin of −log p(piece) =
# log(total) − log(freq):
#
#   obj(w) = Σ_pieces (64·cost(piece) + 1)
#
# — the "+1" makes the minimizer prefer FEWER pieces among equal-cost
# segmentations and packs (cost_sum, n_pieces) into ONE integer
# (n_pieces = obj mod 64, cost_sum = obj div 64 — exact while
# n_pieces < 64, guaranteed by the _UNI_WMAX word cap), so the
# per-word DECISION is a single hash-gated BIGINT with no tie
# ambiguity (min over ints is path-independent). A first draft
# MAXIMIZED Σ(64·score−1), which rewards splitting (every extra piece
# adds another large positive score term) and degenerated to
# characters — the sign matters: it is the per-piece normalizer that
# makes longer pieces pay. The oracle unrolls the dp over 1..WMAX
# as CTEs (the corpus_bpe_train unrolled-loop pattern); the Spark side
# runs the identical integer dp as a vocab-sized Arrow kernel
# (mapInPandas — the r8 playbook for tokenizer work) with the top-K
# vocabulary collected as a frozen artifact (the bounded broadcast
# class: k·4-char strings + one int each).
#
# Scale: everything is vocabulary-sized (distinct words), never
# corpus-sized — piece counting is one substring-explode shuffle of the
# word table, the dp touches each word once; applying the tokenizer to
# the corpus would be one words→pieces join, exactly like
# doc_bpe_token_stats.
# --------------------------------------------------------------------------
_UNI_WMAX = 8  # word-length cap (fixture max is 8 at every SF); words
# beyond the cap are excluded on BOTH sides — at production the tail
# above the cap falls back to character pieces
_UNI_LMAX = 8  # pieces long enough to hold whole frequent words
_UNI_VSIZE = 64


def _uni_ctes() -> str:
    """CTE chain documents → uwrd (capped distinct words) → uvocab
    (frozen score table) → udp1..udp{WMAX} → uni (per-word verdicts).
    Shared by the tokenize oracle and the fertility-comparison oracle."""
    ctes = [
        f"""uw0 AS (SELECT unnest({_TOKS_SQL}) AS w FROM documents),
    uwrd AS MATERIALIZED (
      SELECT w, CAST(count(*) AS BIGINT) AS wn FROM uw0
      WHERE length(w) <= {_UNI_WMAX} GROUP BY w
    ),
    usub AS (
      SELECT substr(w, i, l) AS piece, wn
      FROM uwrd,
           unnest(range(1, {_UNI_LMAX + 1})) t(l),
           unnest(range(1, length(w) - l + 2)) r(i)
      WHERE l <= length(w)
    ),
    upf AS MATERIALIZED (
      SELECT piece, CAST(sum(wn) AS BIGINT) AS pf FROM usub GROUP BY piece
    ),
    utop AS (
      SELECT piece, pf FROM upf ORDER BY pf DESC, piece LIMIT {_UNI_VSIZE}
    ),
    uvocab AS MATERIALIZED (
      SELECT piece, CAST(length(bin(pf)) AS BIGINT) AS score
      FROM (SELECT * FROM utop
            UNION
            SELECT piece, pf FROM upf WHERE length(piece) = 1)
    ),
    unorm AS MATERIALIZED (
      SELECT CAST(length(bin(sum(pf))) AS BIGINT) AS nrm FROM upf
    ),
    udp0 AS MATERIALIZED (SELECT w, CAST(0 AS BIGINT) AS obj FROM uwrd)"""
    ]
    for k in range(1, _UNI_WMAX + 1):
        branches = []
        for l in range(1, min(_UNI_LMAX, k) + 1):
            branches.append(
                f"""SELECT d.w, d.obj + 64 * (n.nrm - v.score) + 1 AS cand
        FROM udp{k - l} d
        JOIN uvocab v ON v.piece = substr(d.w, {k - l + 1}, {l})
        CROSS JOIN unorm n
        WHERE length(d.w) >= {k}"""
            )
        body = "\n        UNION ALL ".join(branches)
        ctes.append(
            f"""udp{k} AS MATERIALIZED (
      SELECT w, CAST(min(cand) AS BIGINT) AS obj FROM (
        {body}
      ) GROUP BY w
    )"""
        )
    fin = "\n      UNION ALL ".join(
        f"SELECT w, obj FROM udp{k} WHERE length(w) = {k}"
        for k in range(1, _UNI_WMAX + 1)
    )
    ctes.append(f"ufin AS (\n      {fin}\n    )")
    ctes.append(
        """uni AS (
      SELECT f.w, r.wn,
             CAST(f.obj % 64 AS INT) AS n_pieces,
             CAST(f.obj // 64 AS BIGINT) AS cost_sum,
             f.obj AS obj
      FROM ufin f JOIN uwrd r USING (w)
    )"""
    )
    return ",\n    ".join(ctes)


# (vocab dict, normalizer octave, per-word verdict DF) staged per
# (SparkContext, sf_dir) — consumed by corpus_unigram_tokenize,
# corpus_unigram_fertility, corpus_unigram_encode and the EM step.
@staged("unigram_vocab")
def _uni_run(
    spark: SparkSession, sf_dir: str
) -> tuple[dict, int, DataFrame]:
    docs = load_table(spark, sf_dir, "documents")
    wrd = (
        docs.select(F.explode(tokens(F.col("text"))).alias("w"))
        .filter(F.length("w") <= _UNI_WMAX)
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("wn"))
        # vocab-sized (bounded): one partition, one Arrow batch, one
        # Python worker — not 32 workers for 31 rows
        .coalesce(1)
        # lazy: the vocab collect below is the first consumer
        .localCheckpoint(eager=False)  # feeds piece counting AND the dp
    )
    sub = wrd.select(
        "wn",
        F.explode(
            F.expr(
                f"flatten(transform(sequence(1, {_UNI_LMAX}), "
                "l -> CASE WHEN l <= length(w) THEN "
                "transform(sequence(1, length(w) - l + 1), "
                "i -> substring(w, i, l)) "
                "ELSE array() END))"
            )
        ).alias("piece"),
    )
    pf = sub.groupBy("piece").agg(F.sum("wn").cast("bigint").alias("pf"))
    top = pf.orderBy(F.desc("pf"), "piece").limit(_UNI_VSIZE)
    chars = pf.filter(F.length("piece") == 1)
    # frozen artifact: top-K pieces + the single-char closure — bounded
    # control data (the kmeans-centroid-literal class); nrm is the
    # octave of the total piece mass (the per-piece normalizer)
    vocab = {
        r.piece: r.pf.bit_length()  # == length(bin(pf)), exact
        for r in top.unionByName(chars).distinct().collect()
    }
    nrm = pf.agg(F.sum("pf")).collect()[0][0].bit_length()

    def _viterbi(batches):
        import pandas as pd

        for pdf in batches:
            out = {"w": [], "wn": [], "n_pieces": [], "cost_sum": [],
                   "obj": []}
            for w, wn in zip(pdf["w"], pdf["wn"]):
                n = len(w)
                dp = [0] + [None] * n
                for k in range(1, n + 1):
                    best = None
                    for l in range(1, min(_UNI_LMAX, k) + 1):
                        sc = vocab.get(w[k - l : k])
                        if sc is None or dp[k - l] is None:
                            continue
                        cand = dp[k - l] + 64 * (nrm - sc) + 1
                        if best is None or cand < best:
                            best = cand
                    dp[k] = best
                obj = dp[n]
                out["w"].append(w)
                out["wn"].append(int(wn))
                out["n_pieces"].append(obj % 64)
                out["cost_sum"].append(obj // 64)
                out["obj"].append(obj)
            yield pd.DataFrame(out)

    verdicts = wrd.mapInPandas(
        _viterbi,
        "w string, wn bigint, n_pieces int, cost_sum bigint, obj bigint",
        # lazy: the first consumer query's action materializes it (the
        # staging happens inside that same query's run either way)
    ).localCheckpoint(eager=False)
    return vocab, nrm, verdicts


@query(
    "corpus_unigram_tokenize",
    oracle=f"""
    WITH {_uni_ctes()}
    SELECT w, wn, n_pieces, cost_sum, obj FROM uni ORDER BY w
    """,
)
def corpus_unigram_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, _, verdicts = _uni_run(spark, sf_dir)
    return verdicts.orderBy("w")


# --------------------------------------------------------------------------
# corpus_unigram_fertility — the tokenizer A/B row: unigram-LM vs BPE
# fertility on the identical (capped) word domain, corpus-weighted, in
# one hash-gated row — integer subword sums and two deterministic
# double divisions, joining the staged unigram verdicts against the
# staged BPE training run (neither tokenizer re-trains). Measured
# (sf0.01): fertility_uni 3.127 vs fertility_bpe 4.040 over 27,165
# word occurrences — the 4-round BPE has barely left the character
# baseline while the unigram vocabulary seats whole frequent words
# ('batch' = 1 piece) though its top-64 cutoff still splits some
# ('agg' loses the alphabetical tie at the pf cutoff and re-segments);
# the gap IS the A/B signal the row exists to measure.
# --------------------------------------------------------------------------
@query(
    "corpus_unigram_fertility",
    oracle=f"""
    WITH {_bpe_train_ctes()[0]},
    {_uni_ctes()}
    SELECT CAST(count(*) AS BIGINT) AS n_vocab_words,
           CAST(sum(u.wn) AS BIGINT) AS n_word_occurrences,
           CAST(sum(u.wn * u.n_pieces) AS BIGINT) AS uni_corpus_subwords,
           CAST(sum(u.wn * len(b.toks)) AS BIGINT) AS bpe_corpus_subwords,
           round(CAST(sum(u.wn * u.n_pieces) AS DOUBLE)
                 / CAST(sum(u.wn) AS DOUBLE), 6) AS fertility_uni,
           round(CAST(sum(u.wn * len(b.toks)) AS DOUBLE)
                 / CAST(sum(u.wn) AS DOUBLE), 6) AS fertility_bpe
    FROM uni u JOIN tok{_BPE_TRAIN_STEPS} b ON b.w = u.w
    """,
)
def corpus_unigram_fertility(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    _, _, uni = _uni_run(spark, sf_dir)
    _, bpe = _bpe_train_run(spark, sf_dir)
    j = uni.join(
        bpe.select("w", F.size("toks").alias("bpe_pieces")), "w"
    )
    return j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vocab_words"),
        F.sum("wn").cast("bigint").alias("n_word_occurrences"),
        F.sum(F.col("wn") * F.col("n_pieces"))
        .cast("bigint")
        .alias("uni_corpus_subwords"),
        F.sum(F.col("wn") * F.col("bpe_pieces"))
        .cast("bigint")
        .alias("bpe_corpus_subwords"),
        F.round(
            F.sum(F.col("wn") * F.col("n_pieces")).cast("double")
            / F.sum("wn").cast("double"),
            6,
        ).alias("fertility_uni"),
        F.round(
            F.sum(F.col("wn") * F.col("bpe_pieces")).cast("double")
            / F.sum("wn").cast("double"),
            6,
        ).alias("fertility_bpe"),
    )


# --------------------------------------------------------------------------
# corpus_unigram_encode — the APPLY half of the unigram tokenizer
# (corpus_unigram_tokenize trains/segments the vocabulary; this encodes
# the CORPUS with it, the doc_bpe_token_stats lens for the unigram
# model): every document's whitespace words join the staged per-word
# Viterbi verdicts — a plain hint-free equi-join on the word (the
# verdict table is vocabulary-sized, the growing class) — and roll up
# to per-doc subword counts, total quantized NLL cost, and fertility.
# The per-doc total cost is the integer document NLL under the unigram
# LM — the same quantity doc_ngram_perplexity computes under the
# bigram LM, so the two quality lenses are directly comparable.
#
# Scale: one word-keyed join of the exploded corpus against the
# vocab-sized verdict table + one doc_id rollup — the
# doc_rare_token_ratio shape exactly.
# --------------------------------------------------------------------------
@query(
    "corpus_unigram_encode",
    oracle=f"""
    WITH {_uni_ctes()},
    dw AS (
      SELECT doc_id, unnest({_TOKS_SQL}) AS w FROM documents
    )
    SELECT d.doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(u.n_pieces) AS BIGINT) AS n_subwords,
           CAST(sum(u.cost_sum) AS BIGINT) AS total_cost,
           round(CAST(sum(u.n_pieces) AS DOUBLE) / count(*), 6)
             AS fertility
    FROM dw d JOIN uni u ON u.w = d.w
    GROUP BY d.doc_id
    ORDER BY d.doc_id
    """,
)
def corpus_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    _, _, verdicts = _uni_run(spark, sf_dir)
    dw = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("w")
    )
    n = F.count(F.lit(1))
    return (
        dw.join(verdicts.select("w", "n_pieces", "cost_sum"), "w")
        .groupBy("doc_id")
        .agg(
            n.cast("bigint").alias("n_words"),
            F.sum("n_pieces").cast("bigint").alias("n_subwords"),
            F.sum("cost_sum").cast("bigint").alias("total_cost"),
            F.round(
                F.sum("n_pieces").cast("double") / n, 6
            ).alias("fertility"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# corpus_unigram_em_step — one full EM round of unigram-LM tokenizer
# TRAINING (the step SentencePiece actually iterates; the seed-scored
# corpus_unigram_tokenize is its initialization): E-step = Viterbi-
# segment every word under the current scores and count piece USAGE
# (wn-weighted; the Viterbi posterior approximation of the E-step, as
# in Kudo 2018 §3.2's practical variant); M-step = re-score pieces by
# intlog2(usage) with the normalizer rebuilt from total usage (pieces
# the segmenter never used fall out of the vocabulary — the prune
# step; single chars are floor-scored so coverage survives); then
# re-segment under the new scores. The output row compares round 0 vs
# round 1 — measured (sf0.01): vocabulary 65 → 42 (24 never-used
# pieces pruned + 1 coverage-floor char), corpus NLL cost 558,904 →
# 446,784 (−20%: the M-step concentrates mass on used pieces, the EM
# guarantee), fertility unchanged at 3.127 (the seed segmentation was
# already Viterbi-stable) — textbook EM behavior, hash-gated.
#
# Backtracking determinism: at each backward position, the SMALLEST
# piece length l whose dp predecessor explains the cell's objective is
# chosen — the same rule in the Arrow kernel and the oracle's unrolled
# backtrack CTEs, so the usage table (and hence the M-step and the
# whole round-1 segmentation) is bit-identical in both engines.
#
# Scale: everything stays vocabulary-sized (the E-step is one pass
# over the distinct-word table; usage is a piece-keyed aggregate of
# it; round 1 is a second pass) — the corpus is never touched.
# --------------------------------------------------------------------------
def _uni_segment(w: str, vocab: dict, nrm: int) -> tuple[int, list[str]]:
    """Viterbi obj + backtracked pieces under (vocab, nrm) — the one
    segmentation routine both EM kernels and (logically) the tokenize
    kernel implement; smallest-l backtrack tie-break."""
    n = len(w)
    dp = [0] + [None] * n
    for k in range(1, n + 1):
        best = None
        for l in range(1, min(_UNI_LMAX, k) + 1):
            sc = vocab.get(w[k - l : k])
            if sc is None or dp[k - l] is None:
                continue
            cand = dp[k - l] + 64 * (nrm - sc) + 1
            if best is None or cand < best:
                best = cand
        dp[k] = best
    pieces = []
    pos = n
    while pos > 0:
        for l in range(1, min(_UNI_LMAX, pos) + 1):
            piece = w[pos - l : pos]
            sc = vocab.get(piece)
            if sc is None or dp[pos - l] is None:
                continue
            if dp[pos - l] + 64 * (nrm - sc) + 1 == dp[pos]:
                pieces.append(piece)
                pos -= l
                break
    pieces.reverse()
    return dp[n], pieces


def _uni_usage_sql() -> str:
    """dpall → backtrack bk0..bk{WMAX} → ``usage`` CTE text: the
    wn-weighted piece-usage table of the round-0 Viterbi segmentation
    (smallest-l backtrack tie-break, matching the Arrow kernel) —
    shared by the EM-step and the prune oracles."""
    dpall = " UNION ALL ".join(
        f"SELECT w, {k} AS pos, obj FROM udp{k}"
        for k in range(0, _UNI_WMAX + 1)
    )
    bks = []
    for j in range(1, _UNI_WMAX + 1):
        bks.append(
            f"""bk{j} AS MATERIALIZED (
      SELECT w, piece, pos, obj FROM (
        SELECT b.w, substr(b.w, b.pos - l + 1, l) AS piece,
               b.pos - l AS pos, d.obj,
               row_number() OVER (PARTITION BY b.w ORDER BY l) AS rkb
        FROM bk{j - 1} b
        CROSS JOIN unnest(range(1, {_UNI_LMAX + 1})) t(l)
        JOIN uvocab v ON v.piece = substr(b.w, b.pos - l + 1, l)
        JOIN dpall d ON d.w = b.w AND d.pos = b.pos - l
        CROSS JOIN unorm n
        WHERE b.pos > 0 AND l <= b.pos
          AND d.obj + 64 * (n.nrm - v.score) + 1 = b.obj
      ) WHERE rkb = 1
    )"""
        )
    used = " UNION ALL ".join(
        f"SELECT w, piece FROM bk{j} WHERE piece IS NOT NULL"
        for j in range(1, _UNI_WMAX + 1)
    )
    return f"""dpall AS MATERIALIZED ({dpall}),
    bk0 AS MATERIALIZED (
      SELECT f.w, CAST(NULL AS VARCHAR) AS piece,
             length(f.w) AS pos, f.obj
      FROM ufin f
    ),
    {",".join(bks)},
    usage AS MATERIALIZED (
      SELECT u.piece, CAST(sum(r.wn) AS BIGINT) AS usage
      FROM ({used}) u JOIN uwrd r USING (w)
      GROUP BY u.piece
    )"""


def _uni_em_oracle() -> str:
    intlog2 = lambda x: f"CAST(length(bin({x})) AS BIGINT)"  # noqa: E731
    vdps = [
        "vdp0 AS MATERIALIZED (SELECT w, CAST(0 AS BIGINT) AS obj FROM uwrd)"
    ]
    for k in range(1, _UNI_WMAX + 1):
        branches = []
        for l in range(1, min(_UNI_LMAX, k) + 1):
            branches.append(
                f"""SELECT d.w, d.obj + 64 * (n.nrm - v.score) + 1 AS cand
        FROM vdp{k - l} d
        JOIN vocab2 v ON v.piece = substr(d.w, {k - l + 1}, {l})
        CROSS JOIN unorm2 n
        WHERE length(d.w) >= {k}"""
            )
        body = "\n        UNION ALL ".join(branches)
        vdps.append(
            f"""vdp{k} AS MATERIALIZED (
      SELECT w, CAST(min(cand) AS BIGINT) AS obj FROM (
        {body}
      ) GROUP BY w
    )"""
        )
    vfin = "\n      UNION ALL ".join(
        f"SELECT w, obj FROM vdp{k} WHERE length(w) = {k}"
        for k in range(1, _UNI_WMAX + 1)
    )
    return f"""
    WITH {_uni_ctes()},
    {_uni_usage_sql()},
    vocab2 AS MATERIALIZED (
      SELECT piece, {intlog2('usage')} AS score FROM usage
      UNION ALL
      SELECT v.piece, CAST(1 AS BIGINT) AS score
      FROM uvocab v
      WHERE length(v.piece) = 1
        AND v.piece NOT IN (SELECT piece FROM usage)
    ),
    unorm2 AS MATERIALIZED (
      SELECT {intlog2('sum(usage)')} AS nrm FROM usage
    ),
    {",".join(vdps)},
    vfinu AS (
      {vfin}
    ),
    uni2 AS (
      SELECT f.w, r.wn,
             CAST(f.obj % 64 AS INT) AS n_pieces,
             CAST(f.obj // 64 AS BIGINT) AS cost_sum
      FROM vfinu f JOIN uwrd r USING (w)
    )
    SELECT
      (SELECT CAST(count(*) AS BIGINT) FROM uvocab) AS n_vocab_r0,
      (SELECT CAST(count(*) AS BIGINT) FROM usage) AS n_pieces_used,
      (SELECT CAST(count(*) AS BIGINT) FROM vocab2) AS n_vocab_r1,
      (SELECT CAST(sum(wn * n_pieces) AS BIGINT) FROM uni)
        AS corpus_subwords_r0,
      (SELECT CAST(sum(wn * n_pieces) AS BIGINT) FROM uni2)
        AS corpus_subwords_r1,
      (SELECT CAST(sum(wn * cost_sum) AS BIGINT) FROM uni)
        AS corpus_cost_r0,
      (SELECT CAST(sum(wn * cost_sum) AS BIGINT) FROM uni2)
        AS corpus_cost_r1,
      round((SELECT CAST(sum(wn * n_pieces) AS DOUBLE) / sum(wn) FROM uni),
            6) AS fertility_r0,
      round((SELECT CAST(sum(wn * n_pieces) AS DOUBLE) / sum(wn) FROM uni2),
            6) AS fertility_r1
    """


@query("corpus_unigram_em_step", oracle=_uni_em_oracle())
def corpus_unigram_em_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    vocab, nrm, verdicts = _uni_run(spark, sf_dir)
    wrd = verdicts.select("w", "wn")

    def _pieces_kernel(batches):
        import pandas as pd

        for pdf in batches:
            rows = {"w": [], "wn": [], "piece": []}
            for w, wn in zip(pdf["w"], pdf["wn"]):
                _, pieces = _uni_segment(w, vocab, nrm)
                for p in pieces:
                    rows["w"].append(w)
                    rows["wn"].append(int(wn))
                    rows["piece"].append(p)
            yield pd.DataFrame(rows)

    used = wrd.mapInPandas(
        _pieces_kernel, "w string, wn bigint, piece string"
    )
    # M-step artifacts: piece usage (vocabulary-bounded — the frozen
    # control-data class) collected, re-scored, normalizer rebuilt
    usage = {
        r.piece: int(r.usage)
        for r in used.groupBy("piece")
        .agg(F.sum("wn").alias("usage"))
        .collect()
    }
    vocab2 = {p: u.bit_length() for p, u in usage.items()}
    for p, sc in vocab.items():
        if len(p) == 1 and p not in vocab2:
            vocab2[p] = 1  # coverage floor
    nrm2 = sum(usage.values()).bit_length()

    def _round1_kernel(batches):
        import pandas as pd

        for pdf in batches:
            out = {"w": [], "wn": [], "n_pieces": [], "cost_sum": []}
            for w, wn in zip(pdf["w"], pdf["wn"]):
                obj, pieces = _uni_segment(w, vocab2, nrm2)
                out["w"].append(w)
                out["wn"].append(int(wn))
                out["n_pieces"].append(obj % 64)
                out["cost_sum"].append(obj // 64)
            yield pd.DataFrame(out)

    uni2 = wrd.mapInPandas(
        _round1_kernel, "w string, wn bigint, n_pieces int, cost_sum bigint"
    )

    def agg_row(df: DataFrame, suffix: str) -> DataFrame:
        return df.agg(
            F.sum(F.col("wn") * F.col("n_pieces"))
            .cast("bigint")
            .alias(f"corpus_subwords_{suffix}"),
            F.sum(F.col("wn") * F.col("cost_sum"))
            .cast("bigint")
            .alias(f"corpus_cost_{suffix}"),
            F.round(
                F.sum(F.col("wn") * F.col("n_pieces")).cast("double")
                / F.sum("wn"),
                6,
            ).alias(f"fertility_{suffix}"),
        )
    # 1-row × 1-row audit assembly
    return (
        local_frame(
            spark,
            [(len(vocab), len(usage), len(vocab2))],
            "n_vocab_r0 bigint, n_pieces_used bigint, n_vocab_r1 bigint",
        )
        .crossJoin(agg_row(verdicts, "r0"))
        .crossJoin(agg_row(uni2, "r1"))
        .select(
            "n_vocab_r0",
            "n_pieces_used",
            "n_vocab_r1",
            "corpus_subwords_r0",
            "corpus_subwords_r1",
            "corpus_cost_r0",
            "corpus_cost_r1",
            "fertility_r0",
            "fertility_r1",
        )
    )


# --------------------------------------------------------------------------
# corpus_unigram_prune — the PRUNE step of unigram-LM training (Kudo
# 2018 §3.2 / SentencePiece's seed-shrinking loop; the EM step above
# drops pieces the segmenter never USES, this drops the least USEFUL
# of the used ones): for every used multi-char piece p, the loss delta
# if p were removed is approximated in place — each of p's usage(p)
# occurrences re-segments as p's own best Viterbi split under the
# remaining vocabulary (alt_obj, excluding only the exact piece p),
# versus keeping it whole (own_obj = its one-piece cost). The bottom
# quarter by usage·(alt_obj − own_obj) is marked pruned; single chars
# are protected (coverage). The WHOLE per-piece table — usage, both
# costs, delta, rank, verdict — is hash-gated, so the re-segmentation
# arithmetic and the ranking are pinned, not just the survivor list.
#
# Measured (sf0.01; 18 used multi-char pieces, 4 pruned): the pruned
# set is exactly the low-usage bigrams (ro/at/ta/ca, delta ≈113-121k),
# while whole-word pieces (join/batch/hash — expensive char-level alt
# splits) and the highest-usage bigrams (er/st/or, usage 2.7k) rank
# most protected — the objective separates "cheap to re-segment and
# rarely used" from both kinds of keeper, which is the behavior the
# prune step exists to have.
#
# Scale: vocabulary-sized end to end — the usage table is the
# EM-step's aggregate over distinct words; the alt-cost Viterbi runs
# over ≤64 strings of ≤8 chars (frozen-artifact control data).
# --------------------------------------------------------------------------
def _uni_prune_oracle() -> str:
    adps = [
        "adp0 AS MATERIALIZED (SELECT w, CAST(0 AS BIGINT) AS obj FROM apw)"
    ]
    for k in range(1, _UNI_LMAX + 1):
        branches = []
        for l in range(1, min(_UNI_LMAX, k) + 1):
            branches.append(
                f"""SELECT d.w, d.obj + 64 * (n.nrm - v.score) + 1 AS cand
        FROM adp{k - l} d
        JOIN uvocab v ON v.piece = substr(d.w, {k - l + 1}, {l})
                     AND v.piece <> d.w
        CROSS JOIN unorm n
        WHERE length(d.w) >= {k}"""
            )
        body = "\n        UNION ALL ".join(branches)
        adps.append(
            f"""adp{k} AS MATERIALIZED (
      SELECT w, CAST(min(cand) AS BIGINT) AS obj FROM (
        {body}
      ) GROUP BY w
    )"""
        )
    afin = "\n      UNION ALL ".join(
        f"SELECT w, obj FROM adp{k} WHERE length(w) = {k}"
        for k in range(2, _UNI_LMAX + 1)
    )
    return f"""
    WITH {_uni_ctes()},
    {_uni_usage_sql()},
    apw AS MATERIALIZED (
      SELECT piece AS w FROM usage WHERE length(piece) > 1
    ),
    {",".join(adps)},
    afin AS (
      {afin}
    ),
    pbase AS (
      SELECT u.piece, u.usage,
             64 * (n.nrm - v.score) + 1 AS own_obj,
             f.obj AS alt_obj
      FROM usage u
      JOIN uvocab v USING (piece)
      JOIN afin f ON f.w = u.piece
      CROSS JOIN unorm n
      WHERE length(u.piece) > 1
    ),
    ranked AS (
      SELECT piece, usage, own_obj, alt_obj,
             usage * (alt_obj - own_obj) AS loss_delta,
             row_number() OVER (
               ORDER BY usage * (alt_obj - own_obj), piece) AS rk,
             count(*) OVER () AS nm
      FROM pbase
    )
    SELECT piece, CAST(usage AS BIGINT) AS usage,
           CAST(own_obj AS BIGINT) AS own_obj,
           CAST(alt_obj AS BIGINT) AS alt_obj,
           CAST(loss_delta AS BIGINT) AS loss_delta,
           CAST(rk AS INT) AS rk,
           rk <= nm // 4 AS pruned
    FROM ranked
    ORDER BY rk
    """


@query("corpus_unigram_prune", oracle=_uni_prune_oracle())
def corpus_unigram_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    vocab, nrm, verdicts = _uni_run(spark, sf_dir)

    def _pieces_kernel(batches):
        import pandas as pd

        for pdf in batches:
            rows = {"wn": [], "piece": []}
            for w, wn in zip(pdf["w"], pdf["wn"]):
                _, pieces = _uni_segment(w, vocab, nrm)
                for p in pieces:
                    rows["wn"].append(int(wn))
                    rows["piece"].append(p)
            yield pd.DataFrame(rows)

    usage = {
        r.piece: int(r.usage)
        for r in verdicts.select("w", "wn")
        .mapInPandas(_pieces_kernel, "wn bigint, piece string")
        .groupBy("piece")
        .agg(F.sum("wn").alias("usage"))
        .collect()
    }
    rows = []
    for p, u in usage.items():
        if len(p) <= 1:
            continue
        own = 64 * (nrm - vocab[p]) + 1
        alt, _ = _uni_segment(p, {q: s for q, s in vocab.items() if q != p}, nrm)
        rows.append((p, u, own, alt, u * (alt - own)))
    rows.sort(key=lambda r: (r[4], r[0]))
    nm = len(rows)
    out = [
        (p, u, own, alt, delta, i + 1, (i + 1) <= nm // 4)
        for i, (p, u, own, alt, delta) in enumerate(rows)
    ]
    return local_frame(
        spark,
        out,
        "piece string, usage bigint, own_obj bigint, alt_obj bigint,"
        " loss_delta bigint, rk int, pruned boolean",
    ).orderBy("rk")
