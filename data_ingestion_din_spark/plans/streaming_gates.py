"""Frozen-artifact admission gates at ingest (SURVEY.md §2.11) — the
gate family of the per-family streaming split (shared scaffolding in
streaming_core): the curation funnel plus the quality / DSIR / BPE /
decontamination / SemDeDup / topic-mix / perplexity / Bloom gates.
Every gate freezes its model artifact in an early epoch and scores
later landings with it (streaming_core._frozen_model); a gate with a
batch twin calls the twin's own train and score functions, so only the
state layout and the verdict shape live here. Growing state joins stay
hint-free (the broadcast rule), and each sink is epoch-keyed
replay-idempotent.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_din_spark.operators.colocate import staged
from data_ingestion_din_spark.plans.registry import query
from data_ingestion_din_spark.plans.streaming_indexes import (
    _SII_K,
)
from data_ingestion_din_spark.plans.streaming_core import (
    _epoch_writer,
    _frozen_model,
    _prior_epochs,
    _run_doc_parity_landings,
    _run_split_landings,
)
from data_ingestion_din_spark.sources.tables import load_table, local_frame

# --------------------------------------------------------------------------
# streaming_curation_funnel — the batch curation funnel
# (plans/text_pipeline.corpus_curation_funnel) run INCREMENTALLY, the
# way production ingest actually runs it: each checkpointed availableNow
# landing is scored and gated per batch, exact-deduped against the
# CUMULATIVE seen-fingerprint table (a duplicate of anything previously
# gated+deduped is dropped, even if the budget later cut the original),
# and budget-admitted against the CUMULATIVE per-language token
# consumption — greedy continuation, not a per-batch reset. State lives
# in the sink's own parquet tables (seen fps, per-lang consumed), the
# foreachBatch analog of the Delta/stateful pattern; restart recovery
# is exercised because the two landings run as two separate streams
# over one checkpoint.
#
# Conventions (restated exactly by the oracle): seen-fp state grows
# from the post-gate, post-dedup stage (pre-budget); within-batch
# dedup keeps min doc_id per fp; budget admission orders quality desc,
# doc_id asc per language and admits while cumulative tokens (including
# prior batches' consumption) stay <= the corpus budget.
#
# Scale: per batch this is one fp shuffle + a plain left_anti
# equi-join against the fp state and a per-lang window — the batch
# funnel's shape. The fp state grows with the CORPUS, not the batch,
# so it must never carry a broadcast hint (that would pin billions of
# rows into every executor at 100 TB); with no hint the anti-join
# shuffles only on fp and AQE may still pick broadcast while the state
# is genuinely small. Same rule as
# streaming_indexes._minhash_index_processor: no forced broadcast on any
# state-side join.
# --------------------------------------------------------------------------


def _funnel_processor(out: str, fp_state: str, lang_state: str):
    """Build the foreachBatch funnel processor over the given audit/state
    dirs. Module-level so the replay-idempotence test can drive it
    directly (same batch + same epoch twice must leave audit and state
    byte-identical — the exactly-once contract under foreachBatch's
    at-least-once delivery)."""
    from data_ingestion_din_spark.plans.text_pipeline import (
        _cur_budgeted,
        _cur_cum_tokens,
        _cur_deduped,
        _cur_gated,
        _cur_scored,
    )

    def _plan(batch_df: DataFrame, epoch_id: int) -> dict[str, DataFrame]:
        """Build this batch's output DataFrames (audit rows, new
        fingerprints, per-lang consumption increment) WITHOUT writing
        state — split from the epoch writer so tests can pin the
        per-batch physical plans (tests/test_plan_assertions.py).

        NOT a pure plan builder: it runs eager localCheckpoints (so the
        scored/deduped stages are computed once, not re-derived per
        consumer) and a bounded collect() of per-language consumption —
        it executes jobs, it just writes nothing. The epoch writer never
        passes it an empty (checkpoint-recovery) batch, whose stage rows
        would stamp NULL batch_par into the audit."""
        spark_l = batch_df.sparkSession
        scored = _cur_scored(batch_df).localCheckpoint(eager=True)
        gated = _cur_gated(scored)
        deduped = _cur_deduped(gated)
        # NO broadcast hint here: `seen` is the cumulative corpus-wide
        # fingerprint set (grows every epoch). A plain equi-anti-join
        # shuffles only on fp; AQE is free to broadcast while the state
        # is small but is never forced to once it isn't.
        seen = _prior_epochs(spark_l, fp_state, epoch_id)
        if seen is not None:
            deduped = deduped.join(seen.select("fp"), "fp", "left_anti")
        deduped = deduped.localCheckpoint(eager=True)
        consumed = {}
        prior_lang = _prior_epochs(spark_l, lang_state, epoch_id)
        if prior_lang is not None:
            consumed = {
                r["lang_guess"]: r["c"]
                for r in prior_lang.groupBy("lang_guess")
                .agg(F.sum("consumed").alias("c"))
                .collect()
            }
        cons_expr = F.coalesce(
            *(
                [
                    F.when(
                        F.col("lang_guess") == lg, F.lit(c).cast("bigint")
                    )
                    for lg, c in sorted(consumed.items())
                ]
                + [F.lit(0).cast("bigint")]
            )
        )
        budgeted = _cur_budgeted(
            deduped, _cur_cum_tokens() + cons_expr
        ).localCheckpoint(eager=True)

        # the landing batch is parity-homogeneous and never empty, so one
        # driver-side scalar labels every stage row (a later stage CAN be
        # empty — deriving the label from its own rows would emit NULL)
        par_val = scored.agg(F.min(F.col("doc_id") % 2)).first()[0]

        def stage(ord_: int, name: str, df: DataFrame) -> DataFrame:
            return df.groupBy().agg(
                F.lit(par_val).cast("int").alias("batch_par"),
                F.lit(ord_).cast("int").alias("stage_ord"),
                F.lit(name).alias("stage"),
                F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                F.coalesce(F.sum("n_tokens"), F.lit(0))
                .cast("bigint")
                .alias("n_tokens"),
            )

        audit = (
            stage(0, "input", scored)
            .unionByName(stage(1, "quality_lang_gate", gated))
            .unionByName(stage(2, "exact_dedup_incr", deduped))
            .unionByName(stage(3, "token_budget_incr", budgeted))
        )
        new_cons = sorted(
            (r["lang_guess"], r["t"])
            for r in budgeted.groupBy("lang_guess")
            .agg(F.sum("n_tokens").cast("bigint").alias("t"))
            .collect()
        )
        new_lang = local_frame(spark_l, new_cons, "lang_guess string, consumed bigint")
        return {
            "audit": audit,
            "new_fps": deduped.select("fp"),
            "new_lang": new_lang,
        }

    return _epoch_writer(
        _plan, {"audit": out, "new_fps": fp_state, "new_lang": lang_state}
    )


@staged("curation_funnel_landings")
def _scf_out_dir(spark: SparkSession, sf_dir: str, base: str) -> str:
    out = os.path.join(base, "out")
    _process = _funnel_processor(
        out, os.path.join(base, "state_fps"), os.path.join(base, "state_lang")
    )
    _run_doc_parity_landings(spark, sf_dir, base, _process)
    return out


def _scf_oracle() -> str:
    from data_ingestion_din_spark.plans.text_pipeline import (
        _CUR_BUDGET,
        _STOP_LIST_SQL,
        _TOKS_SQL,
    )

    def funnel_stage(par: int, ord_: int, name: str, src: str) -> str:
        return (
            f"SELECT {par} AS batch_par, {ord_} AS stage_ord,"
            f" '{name}' AS stage,"
            f" CAST(count(*) AS BIGINT) AS n_docs,"
            f" CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS n_tokens"
            f" FROM {src}"
        )

    stages = []
    for par in (0, 1):
        stages += [
            funnel_stage(par, 0, "input", f"(SELECT * FROM scored WHERE par = {par})"),
            funnel_stage(par, 1, "quality_lang_gate", f"(SELECT * FROM gated WHERE par = {par})"),
            funnel_stage(par, 2, "exact_dedup_incr", f"d{par}"),
            funnel_stage(par, 3, "token_budget_incr", f"b{par}"),
        ]
    union = " UNION ALL ".join(stages)
    return f"""
    WITH t AS (SELECT doc_id, text, doc_id % 2 AS par, {_TOKS_SQL} AS toks
               FROM documents),
    s AS (
      SELECT doc_id, par,
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
      SELECT doc_id, par, fp,
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
    d0 AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM gated WHERE par = 0
      ) WHERE rn = 1
    ),
    b0 AS (
      SELECT * FROM (
        SELECT doc_id, lang_guess, n_tokens,
               sum(n_tokens) OVER (
                 PARTITION BY lang_guess
                 ORDER BY quality DESC, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum
        FROM d0
      ) WHERE cum <= {_CUR_BUDGET}
    ),
    d1 AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM gated WHERE par = 1
      ) WHERE rn = 1 AND fp NOT IN (SELECT fp FROM d0)
    ),
    cons AS (
      SELECT lang_guess, sum(n_tokens) AS c FROM b0 GROUP BY lang_guess
    ),
    b1 AS (
      SELECT * FROM (
        SELECT d1.doc_id, d1.lang_guess, d1.n_tokens,
               sum(d1.n_tokens) OVER (
                 PARTITION BY d1.lang_guess
                 ORDER BY d1.quality DESC, d1.doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) + coalesce(cons.c, 0) AS cum
        FROM d1 LEFT JOIN cons ON cons.lang_guess = d1.lang_guess
      ) WHERE cum <= {_CUR_BUDGET}
    )
    SELECT CAST(batch_par AS INT) AS batch_par,
           CAST(stage_ord AS INT) AS stage_ord,
           stage, n_docs, n_tokens
    FROM ({union})
    ORDER BY batch_par, stage_ord
    """


@query("streaming_curation_funnel", oracle=_scf_oracle())
def streaming_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read back the two-batch incremental funnel audit; the oracle
    re-walks both batch funnels with the same cumulative-dedup and
    budget-continuation conventions (see _scf_out_dir), so parity
    proves the foreachBatch state tables survived the checkpointed
    restart between landings."""
    out = _scf_out_dir(spark, sf_dir)
    return (
        spark.read.parquet(out)
        .select("batch_par", "stage_ord", "stage", "n_docs", "n_tokens")
        .orderBy("batch_par", "stage_ord")
    )


# --------------------------------------------------------------------------
# streaming_quality_gate — the model-based quality gate run AT INGEST
# with a FROZEN model, completing the frozen-artifact-at-ingest family
# (IVF quantizer ✓ streaming_ivf_index; the classifier here): the
# FIRST landing trains the vocabulary (top-K words by count in that
# landing, count desc / word asc — the doc_quality_classifier
# construction with hash-derived integer weights) and commits it as
# epoch-keyed state; later landings read the frozen vocab and score
# against it — production never retrains the gate per batch, so batch-2
# docs are scored by batch-1's vocabulary, and the oracle restates
# exactly that (train-on-evens, score-everyone-with-it).
#
# Scale: the vocab is top-K BY CONSTRUCTION → reading it back and
# broadcast-joining it is bounded at K rows regardless of corpus size
# (the legal broadcast class; the corpus-growing tables never get the
# hint). Per landing: one token shuffle for the per-doc sums.
# --------------------------------------------------------------------------
_SQG_K = 400


def _quality_gate_processor(out: str, vocab_state: str, k: int = _SQG_K):
    """foreachBatch processor over (verdicts, vocab-state) dirs —
    module-level for the replay test, like the sibling gates."""
    from data_ingestion_din_spark.plans.curation_queries import (
        _qc_tokens,
        _qc_verdicts,
        _qc_vocab,
    )

    def _plan(batch_df: DataFrame, epoch_id: int):
        tok = _qc_tokens(batch_df)
        vocab, new_vocab = _frozen_model(
            batch_df.sparkSession,
            vocab_state,
            epoch_id,
            lambda: _qc_vocab(tok, k).localCheckpoint(eager=True),
        )
        return {"verdicts": _qc_verdicts(tok, vocab), "new_vocab": new_vocab}

    return _epoch_writer(_plan, {"verdicts": out, "new_vocab": vocab_state})


@staged("quality_gate_landings")
def _sqg_out_dir(spark: SparkSession, sf_dir: str, base: str) -> str:
    out = os.path.join(base, "out")
    _process = _quality_gate_processor(out, os.path.join(base, "vocab"))
    _run_doc_parity_landings(spark, sf_dir, base, _process)
    return out


def _sqg_oracle() -> str:
    from data_ingestion_din_spark.functions.hashing import h64_sql

    wt = f"CAST({h64_sql('w')} % 201 - 100 AS BIGINT)"
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '),
                                        x -> x <> '')) AS w
      FROM documents
    ),
    vocab AS (
      SELECT w, {wt} AS wt
      FROM (
        SELECT w, count(*) AS c FROM tok WHERE doc_id % 2 = 0
        GROUP BY w ORDER BY c DESC, w LIMIT {_SQG_K}
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
    """


@query("streaming_quality_gate", oracle=_sqg_oracle())
def streaming_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read back both landings' verdicts; the oracle restates
    train-vocab-on-landing-1 (even doc_ids) + score-everyone-with-it,
    so hash parity proves the frozen vocabulary survived the
    checkpointed restart and batch 2 was scored by batch 1's model."""
    out = _sqg_out_dir(spark, sf_dir)
    return (
        spark.read.parquet(out)
        .select("doc_id", "n_tok", "oov_tok", "logit_sum", "passed")
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# streaming_dsir_gate — DSIR data selection run AT INGEST with a FROZEN
# model, completing the frozen-artifact-at-ingest family (classifier ✓
# r8, IVF quantizer ✓ r8, DSIR here): the FIRST landing trains the
# hashed-n-gram log-likelihood-ratio table on itself (the
# corpus_dsir_select construction — target sources vs the rest,
# Laplace-smoothed, octave-quantized to INTEGER log2) and commits it as
# epoch-keyed state; later landings read the frozen table and score
# against it — production scores incoming documents with yesterday's
# importance weights, it does not refit the target distribution per
# batch. The oracle restates train-on-evens + score-everyone-with-it.
#
# Scale: the ratio table is ≤B rows BY CONSTRUCTION (B = 512 hash
# buckets) plus one offset row — bounded control data, the legal
# broadcast class (plan-asserted REQUIRED, like the quality gate's
# vocab); the corpus-growing verdicts are append-only. Per landing: one
# gram-explode shuffle to (doc, bucket) counts.
# --------------------------------------------------------------------------


def _dsir_gate_processor(out: str, ratio_state: str):
    """foreachBatch processor over (verdicts, ratio-table-state) dirs —
    module-level for the replay test, like the sibling gates."""
    from data_ingestion_din_spark.plans.curation_queries import (
        _dsir_bucket_counts,
        _dsir_bucket_totals,
        _dsir_offset,
        _dsir_ratio,
        _dsir_totals,
    )

    def _plan(batch_df: DataFrame, epoch_id: int):
        db = _dsir_bucket_counts(batch_df).localCheckpoint(
            eager=True
        )  # feeds training AND scoring

        def train():
            ball = _dsir_bucket_totals(db).localCheckpoint(
                eager=True
            )  # feeds ratio rows AND totals
            # the per-doc length offset is a SCALAR of the training
            # totals — stored as the bkt = -1 row of the same table
            # (h64 % B is non-negative, so -1 cannot collide) so the
            # frozen model is ONE artifact that cannot half-evict
            off = _dsir_totals(ball).select(
                F.lit(-1).cast("bigint").alias("bkt"),
                _dsir_offset().cast("bigint").alias("qlr"),
            )
            return _dsir_ratio(ball).unionByName(off).localCheckpoint(
                eager=True
            )

        state, new_ratio = _frozen_model(
            batch_df.sparkSession, ratio_state, epoch_id, train
        )
        ratio = state.filter(F.col("bkt") >= 0)
        offr = state.filter(F.col("bkt") == -1).select(
            F.col("qlr").alias("off")
        )
        # LEFT join: a bucket the training landing never saw scores 0
        # (the batch query inner-joins — it scores its own training set)
        w = (
            db.join(F.broadcast(ratio), "bkt", "left")
            .groupBy("doc_id")
            .agg(
                F.sum("n").cast("bigint").alias("n_grams"),
                F.sum(F.col("n") * F.coalesce(F.col("qlr"), F.lit(0)))
                .cast("bigint")
                .alias("feat_w"),
            )
        )
        scored = w.crossJoin(F.broadcast(offr)).select(
            "doc_id",
            "n_grams",
            (F.col("feat_w") + F.col("n_grams") * F.col("off"))
            .cast("bigint")
            .alias("weight"),
        )
        verdicts = (
            batch_df.select("doc_id")
            .join(scored, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce(F.col("n_grams"), F.lit(0))
                .cast("bigint")
                .alias("n_grams"),
                F.coalesce(F.col("weight"), F.lit(0))
                .cast("bigint")
                .alias("weight"),
                (F.coalesce(F.col("weight"), F.lit(0)) >= 0).alias(
                    "selected"
                ),
            )
        )
        return {"verdicts": verdicts, "new_ratio": new_ratio}

    return _epoch_writer(_plan, {"verdicts": out, "new_ratio": ratio_state})


@staged("dsir_gate_landings")
def _sdg_out_dir(spark: SparkSession, sf_dir: str, base: str) -> str:
    out = os.path.join(base, "out")
    _process = _dsir_gate_processor(out, os.path.join(base, "ratio"))
    _run_doc_parity_landings(
        spark, sf_dir, base, _process, cols=("doc_id", "source", "text")
    )
    return out


def _sdg_oracle() -> str:
    from data_ingestion_din_spark.functions.hashing import h64_sql
    from data_ingestion_din_spark.plans.curation_queries import (
        _DSIR_B,
        _DSIR_TGT_SQL,
        _TOKS_SQL,
    )

    def intlog2(x: str) -> str:
        return f"CAST(length(bin({x})) AS BIGINT)"

    return f"""
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
      FROM db WHERE doc_id % 2 = 0 GROUP BY bkt
    ),
    tot AS (
      SELECT CAST(sum(t_n) AS BIGINT) AS t_tot,
             CAST(sum(r_n) AS BIGINT) AS r_tot
      FROM ball
    ),
    q AS (
      SELECT bkt,
             {intlog2('t_n + 1')} - {intlog2('r_n + 1')} AS qlr
      FROM ball WHERE r_n >= 1
    ),
    w AS (
      SELECT db.doc_id,
             CAST(sum(db.n) AS BIGINT) AS n_grams,
             CAST(sum(db.n * coalesce(q.qlr, 0)) AS BIGINT) AS feat_w
      FROM db LEFT JOIN q USING (bkt)
      GROUP BY db.doc_id
    ),
    sw AS (
      SELECT w.doc_id, w.n_grams,
             w.feat_w + w.n_grams *
               ({intlog2(f'tot.r_tot + {_DSIR_B}')}
                - {intlog2(f'tot.t_tot + {_DSIR_B}')}) AS weight
      FROM w, tot
    )
    SELECT d.doc_id,
           CAST(coalesce(sw.n_grams, 0) AS BIGINT) AS n_grams,
           CAST(coalesce(sw.weight, 0) AS BIGINT) AS weight,
           coalesce(sw.weight, 0) >= 0 AS selected
    FROM documents d LEFT JOIN sw USING (doc_id)
    ORDER BY d.doc_id
    """


@query("streaming_dsir_gate", oracle=_sdg_oracle())
def streaming_dsir_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read back both landings' selection verdicts; the oracle restates
    train-ratio-table-on-landing-1 (even doc_ids) + score-everyone-with-
    it, so hash parity proves the frozen importance model survived the
    checkpointed restart and batch 2 was weighted by batch 1's model."""
    out = _sdg_out_dir(spark, sf_dir)
    return (
        spark.read.parquet(out)
        .select("doc_id", "n_grams", "weight", "selected")
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# streaming_bpe_gate — the TOKENIZER run AT INGEST with a FROZEN merge
# table, completing the frozen-model-at-ingest family (classifier ✓
# streaming_quality_gate, IVF quantizer ✓ streaming_ivf_index, DSIR
# ratio table ✓ streaming_dsir_gate, IVFPQ ✓ streaming_ivfpq_index; the
# tokenizer was batch-only — corpus_bpe_train/_pipeline): the FIRST
# landing runs the Sennrich training loop on its own words (the
# corpus_bpe_train construction — vocab-sized pair counts, 1-row argmax
# per round) and epoch-commits the merge table; later landings read the
# frozen merges and ENCODE against them — production tokenizes every
# new shard with the released tokenizer, it never retrains per batch —
# and emit per-doc (n_words, n_subwords, n_chars) verdicts. The oracle
# restates train-on-evens (the unrolled _bpe_train_ctes with a parity
# WHERE) chained into encode-everyone (an e-chain applying the SAME
# _BPE_FOLD_SQL text per learned merge), so hash parity proves batch 2
# was tokenized by batch 1's merges across the checkpointed restart.
#
# Scale: the merge table is _BPE_TRAIN_STEPS rows BY CONSTRUCTION —
# reading it back and collecting it is iteration control data (the
# k-means-centroid class), and the merges are applied as fold literals,
# no join at all; per landing the cost is one vocab-sized shuffle plus
# the doc-word ↔ encoded-vocab equi-join (NO broadcast hint — the
# vocabulary grows with the corpus, the forbidden class).
# --------------------------------------------------------------------------


def _bpe_gate_processor(out: str, merges_state: str, steps: int = 4):
    """foreachBatch processor over (verdicts, merge-table-state) dirs —
    module-level for the replay test, like the sibling gates."""
    from data_ingestion_din_spark.functions.analysis import tokens
    from data_ingestion_din_spark.plans.text_pipeline import (
        _bpe_merge_loop,
        _bpe_word_table,
        bpe_merge_fold,
    )

    def _plan(batch_df: DataFrame, epoch_id: int):
        spark_l = batch_df.sparkSession
        words = _bpe_word_table(batch_df).localCheckpoint(eager=True)

        def train():
            merges, _ = _bpe_merge_loop(words, steps)
            return local_frame(
                spark_l, [m[:3] for m in merges], "step int, lft string, rgt string"
            )

        merges, new_merges = _frozen_model(
            spark_l, merges_state, epoch_id, train
        )
        # every epoch encodes the same way: the merge table (≤steps
        # rows, iteration control data) folded over the word table
        cur = words
        for r in sorted(merges.collect(), key=lambda r: r.step):
            cur = cur.withColumn("toks", bpe_merge_fold(r.lft, r.rgt))
        enc = cur.select("w", F.size("toks").cast("bigint").alias("n_sub"))
        doc_w = batch_df.select(
            "doc_id", F.explode(tokens(F.col("text"))).alias("w")
        )
        verdicts = (
            doc_w.join(enc, "w")
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_words"),
                F.sum("n_sub").cast("bigint").alias("n_subwords"),
                F.sum(F.length("w")).cast("bigint").alias("n_chars"),
            )
        )
        return {"verdicts": verdicts, "new_merges": new_merges}

    return _epoch_writer(_plan, {"verdicts": out, "new_merges": merges_state})


@staged("bpe_gate_landings")
def _sbg_out_dir(spark: SparkSession, sf_dir: str, base: str) -> str:
    out = os.path.join(base, "out")
    _process = _bpe_gate_processor(out, os.path.join(base, "merges"))
    _run_doc_parity_landings(spark, sf_dir, base, _process)
    return out


def _sbg_oracle() -> str:
    from data_ingestion_din_spark.plans.text_pipeline import (
        _BPE_FOLD_SQL,
        _BPE_TRAIN_STEPS,
        _TOKS_SQL,
        _bpe_train_ctes,
    )

    ctes, _ = _bpe_train_ctes(where="WHERE doc_id % 2 = 0")
    echain = []
    for r in range(_BPE_TRAIN_STEPS):
        echain.append(f"""e{r + 1} AS (
      SELECT t.w, {_BPE_FOLD_SQL} AS toks
      FROM e{r} t CROSS JOIN m{r} m
    )""")
    return f"""
    WITH {ctes},
    adoc AS (SELECT doc_id, unnest({_TOKS_SQL}) AS w FROM documents),
    dw AS (SELECT DISTINCT w FROM adoc),
    e0 AS (
      SELECT w, list_transform(range(1, length(w) + 1),
                               i -> substr(w, i, 1)) AS toks
      FROM dw
    ),
    {",".join(echain)}
    SELECT a.doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(len(e.toks)) AS BIGINT) AS n_subwords,
           CAST(sum(length(a.w)) AS BIGINT) AS n_chars
    FROM adoc a JOIN e{_BPE_TRAIN_STEPS} e ON a.w = e.w
    GROUP BY a.doc_id
    ORDER BY a.doc_id
    """


@query("streaming_bpe_gate", oracle=_sbg_oracle())
def streaming_bpe_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read back both landings' verdicts; the oracle restates
    train-merges-on-landing-1 (even doc_ids) + encode-everyone-with-them,
    so hash parity proves the frozen merge table survived the
    checkpointed restart and batch 2 was tokenized by batch 1's model."""
    out = _sbg_out_dir(spark, sf_dir)
    return (
        spark.read.parquet(out)
        .select("doc_id", "n_words", "n_subwords", "n_chars")
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# streaming_decontam_gate — benchmark DECONTAMINATION at ingest, the
# frozen-model family's eval-overlap member (classifier ✓ r8, IVF ✓ r8,
# DSIR/BPE/IVFPQ ✓ r9; corpus_decontaminate was batch-only): the first
# landing freezes the benchmark's distinct word 8-gram shingle set (its
# doc_id % 14 == 0 slice — the fixture's stand-in for an eval suite,
# which is BOUNDED control data: benchmarks don't grow with the training
# corpus, so broadcasting the frozen set is the legal class, exactly
# like the quality gate's top-K vocab) and epoch-commits it; every
# landing's non-benchmark docs are shingled once and probed against the
# frozen set via a broadcast left-join, emitting per-doc
# (n_hits, contaminated) verdicts. The frozen set is read and trained
# through streaming_core._frozen_model (exactly-once under replay,
# proven in tests/test_streaming.py).
#
# The oracle restates freeze-on-%14-slice + probe-everyone in SQL, so
# hash parity proves the frozen shingle set survived the checkpointed
# restart and landing 2 was gated by landing 1's benchmark snapshot.
# --------------------------------------------------------------------------


def _decontam_gate_processor(out: str, shingle_state: str, n: int = 8):
    """foreachBatch processor over (verdicts, frozen-shingle-state) dirs
    — module-level for the replay test, like the sibling gates."""
    from data_ingestion_din_spark.functions.analysis import (
        tokens,
        word_shingles,
    )

    def _plan(batch_df: DataFrame, epoch_id: int):
        sh = batch_df.select(
            "doc_id",
            F.explode_outer(
                F.array_distinct(word_shingles(tokens(F.col("text")), n))
            ).alias("shingle"),
        )
        ev, new_state = _frozen_model(
            batch_df.sparkSession,
            shingle_state,
            epoch_id,
            lambda: sh.filter(
                (F.col("doc_id") % 14 == 0) & F.col("shingle").isNotNull()
            )
            .select("shingle")
            .distinct()
            .localCheckpoint(eager=True),
        )
        probed = sh.filter(F.col("doc_id") % 14 != 0).join(
            F.broadcast(ev.withColumn("hit", F.lit(1))), "shingle", "left"
        )
        verdicts = (
            probed.groupBy("doc_id")
            .agg(
                F.coalesce(F.sum("hit"), F.lit(0))
                .cast("bigint")
                .alias("n_hits")
            )
            .withColumn(
                "contaminated", (F.col("n_hits") > 0).cast("int")
            )
        )
        return {"verdicts": verdicts, "new_state": new_state}

    return _epoch_writer(_plan, {"verdicts": out, "new_state": shingle_state})


@staged("decontam_gate_landings")
def _sdc_out_dir(spark: SparkSession, sf_dir: str, base: str) -> str:
    from data_ingestion_din_spark.plans.curation_queries import _DC_N

    out = os.path.join(base, "out")
    # n keyed to the SAME constant the oracle interpolates — retuning
    # _DC_N moves both sides together
    _process = _decontam_gate_processor(
        out, os.path.join(base, "shingles"), n=_DC_N
    )
    _run_doc_parity_landings(spark, sf_dir, base, _process)
    return out


def _sdc_oracle() -> str:
    from data_ingestion_din_spark.plans.curation_queries import (
        _DC_N,
        _DC_SHINGLE,
        _TOKS_SQL,
    )

    return f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents),
    idx AS (
      SELECT doc_id, tk, unnest(range(1, len(tk) - {_DC_N - 2})) AS i
      FROM t WHERE len(tk) >= {_DC_N}
    ),
    sh AS (SELECT DISTINCT doc_id, {_DC_SHINGLE} AS shingle FROM idx),
    ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 14 = 0),
    hits AS (
      SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_hits
      FROM sh s JOIN ev USING (shingle)
      GROUP BY s.doc_id
    )
    SELECT d.doc_id,
           coalesce(h.n_hits, 0) AS n_hits,
           CAST(CASE WHEN coalesce(h.n_hits, 0) > 0 THEN 1 ELSE 0 END
                AS INT) AS contaminated
    FROM t d LEFT JOIN hits h USING (doc_id)
    WHERE d.doc_id % 14 <> 0
    ORDER BY d.doc_id
    """


@query("streaming_decontam_gate", oracle=_sdc_oracle())
def streaming_decontam_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read back both landings' decontamination verdicts; the oracle
    restates freeze-benchmark-shingles-on-landing-1 + probe-everyone,
    so hash parity proves the frozen set survived the checkpointed
    restart and batch 2 was gated by batch 1's benchmark snapshot."""
    out = _sdc_out_dir(spark, sf_dir)
    return (
        spark.read.parquet(out)
        .select("doc_id", "n_hits", "contaminated")
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# streaming_semdedup_gate — SEMANTIC near-duplicate detection at ingest,
# the embedding-space member of the at-ingest dedup family (exact-fp ✓
# funnel, MinHash ✓ r6, pHash ✓ r7, substring ✓ r9; SemDeDup was
# batch-only): the first landing trains the k=8 coarse quantizer on
# itself (the verified integer-exact Lloyd) and freezes it; every
# landing routes its vectors against the frozen centroids
# (assign_to_centroids — k×dims literal, no join) and probes them
# against the CUMULATIVE per-cell member index via a plain CLUSTER
# equi-join — the index grows with the corpus, the forbidden broadcast
# class, so no hint anywhere (plan-asserted) — emitting per-vector
# verdicts (n_cand in-cell candidates, n_near above the cosine gate,
# is_dup). The landing's own vectors then append to the member index.
# This is exactly SemDeDup's cluster-then-compare shape (Abbas et al.
# 2023) run incrementally: cross-cell pairs are never compared — the
# documented recall trade the batch dedup_semantic_kmeans makes too.
#
# Exactness: the near gate is cos >= 0.4 evaluated as the INTEGER
# predicate dot > 0 AND 25*dot^2 >= 4*(a.a)(b.b) over vectors quantized
# at 1e3 — at that scale every product fits int64 (dims=64: dot <=
# 6.4e7, 25*dot^2 <= 1.1e17), so the verdict is bit-portable with no
# decimal/hugeint divergence risk; routing stays on the 1e6-quantized
# kmeans machinery. The oracle restates train-on-evens + route-odds +
# within-cell integer cosine in SQL, so hash parity proves the frozen
# quantizer AND the member index survived the checkpointed restart.
#
# Scale: per landing, O(batch × k·dims) routing + O(in-cell candidate
# pairs) dot products — candidate generation is cell-local everywhere.
# --------------------------------------------------------------------------


def _semdedup_gate_processor(
    out: str, cent_state: str, member_state: str, k: int = _SII_K
):
    """foreachBatch processor over (verdicts, frozen-centroids, member-
    index) dirs — module-level for the replay test, like the siblings."""
    from data_ingestion_din_spark.functions.vectors import (
        quant_dot,
        quantize,
        quantize_milli as q3,
    )
    from data_ingestion_din_spark.operators.similarity import (
        assign_to_centroids,
        kmeans_train,
    )

    def _plan(batch_df: DataFrame, epoch_id: int):
        spark_l = batch_df.sparkSession
        prior = _prior_epochs(spark_l, cent_state, epoch_id)
        rows = [] if prior is None else prior.orderBy("cluster").collect()
        if rows:
            cents = [list(r.qv) for r in rows]
            routed = (
                assign_to_centroids(
                    batch_df.select(
                        "vec_id", quantize(F.col("embedding")).alias("qv")
                    ),
                    cents,
                )
                .select("vec_id", "cluster")
                .join(
                    batch_df.select(
                        "vec_id", q3(F.col("embedding")).alias("q3")
                    ),
                    "vec_id",
                )
            )
            new_cents = None  # frozen — written once by the training epoch
        else:
            assigned, cents = kmeans_train(batch_df, k=k, iters=2)
            routed = assigned.select("vec_id", "cluster").join(
                batch_df.select("vec_id", q3(F.col("embedding")).alias("q3")),
                "vec_id",
            )
            new_cents = local_frame(
                spark_l,
                [(c + 1, cents[c]) for c in range(len(cents))],
                "cluster int, qv array<bigint>",
            )
        routed = routed.localCheckpoint(eager=True)
        members = _prior_epochs(spark_l, member_state, epoch_id)
        if members is not None:
            # plain equi-join on the cell — the member index grows with
            # the corpus (the forbidden broadcast class, never hinted);
            # no prior members (a replayed first landing) joins nothing
            # and coalesces to the same zero verdicts as the else branch
            hits = (
                routed.join(
                    members.select("cluster", F.col("q3").alias("m_q3")),
                    "cluster",
                )
                .select(
                    "vec_id",
                    quant_dot(F.col("q3"), F.col("m_q3")).alias("dot"),
                    quant_dot(F.col("q3"), F.col("q3")).alias("aa"),
                    quant_dot(F.col("m_q3"), F.col("m_q3")).alias("bb"),
                )
                .groupBy("vec_id")
                .agg(
                    F.count(F.lit(1)).cast("bigint").alias("n_cand"),
                    F.sum(
                        F.when(
                            (F.col("dot") > 0)
                            & (
                                25 * F.col("dot") * F.col("dot")
                                >= 4 * F.col("aa") * F.col("bb")
                            ),
                            1,
                        ).otherwise(0)
                    )
                    .cast("bigint")
                    .alias("n_near"),
                )
            )
            verdicts = (
                routed.select("vec_id", "cluster")
                .join(hits, "vec_id", "left")
                .select(
                    "vec_id",
                    "cluster",
                    F.coalesce("n_cand", F.lit(0))
                    .cast("bigint")
                    .alias("n_cand"),
                    F.coalesce("n_near", F.lit(0))
                    .cast("bigint")
                    .alias("n_near"),
                )
            )
        else:
            verdicts = routed.select(
                "vec_id",
                "cluster",
                F.lit(0).cast("bigint").alias("n_cand"),
                F.lit(0).cast("bigint").alias("n_near"),
            )
        verdicts = verdicts.withColumn(
            "is_dup", (F.col("n_near") > 0).cast("int")
        )
        return {
            "verdicts": verdicts,
            "new_members": routed.select("cluster", "q3"),
            "new_cents": new_cents,
        }

    return _epoch_writer(
        _plan,
        {
            "verdicts": out,
            "new_members": member_state,
            "new_cents": cent_state,
        },
    )


@staged("semdedup_gate_landings")
def _ssd_out_dir(spark: SparkSession, sf_dir: str, base: str) -> str:
    out = os.path.join(base, "out")
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    _run_split_landings(
        spark,
        base,
        [emb.filter(F.col("vec_id") % 2 == p) for p in (0, 1)],
        _semdedup_gate_processor(
            out, os.path.join(base, "cents"), os.path.join(base, "members")
        ),
    )
    return out


def _ssd_oracle() -> str:
    from data_ingestion_din_spark.functions.vectors import (
        QUANT_MILLI_SQL as q3,
    )
    from data_ingestion_din_spark.plans.similarity_queries import (
        _KM_DIST,
        _km_ctes,
    )

    return f"""
    WITH {_km_ctes("(SELECT * FROM embeddings WHERE vec_id % 2 = 0)")},
    m AS (
      SELECT a2.vec_id, a2.cluster, {q3} AS q3
      FROM a2 JOIN embeddings e USING (vec_id)
    ),
    ob AS (
      SELECT vec_id,
             list_transform(
               embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
             ) AS qv,
             {q3} AS q3
      FROM embeddings WHERE vec_id % 2 = 1
    ),
    ab AS (
      SELECT q.vec_id, s.cluster, q.q3
      FROM ob q CROSS JOIN c1f s
      QUALIFY row_number() OVER (
        PARTITION BY q.vec_id ORDER BY {_KM_DIST}, s.cluster) = 1
    ),
    cand AS (
      SELECT b.vec_id,
             (SELECT sum(b.q3[i] * m.q3[i]) FROM range(1, 65) r(i)) AS dot,
             (SELECT sum(b.q3[i] * b.q3[i]) FROM range(1, 65) r(i)) AS aa,
             (SELECT sum(m.q3[i] * m.q3[i]) FROM range(1, 65) r(i)) AS bb
      FROM ab b JOIN m USING (cluster)
    ),
    agg AS (
      SELECT vec_id, CAST(count(*) AS BIGINT) AS n_cand,
             CAST(sum(CASE WHEN dot > 0 AND 25*dot*dot >= 4*aa*bb
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_near
      FROM cand GROUP BY vec_id
    )
    SELECT vec_id, CAST(cluster AS INT) AS cluster,
           CAST(0 AS BIGINT) AS n_cand, CAST(0 AS BIGINT) AS n_near,
           CAST(0 AS INT) AS is_dup
    FROM a2
    UNION ALL
    SELECT b.vec_id, CAST(b.cluster AS INT) AS cluster,
           coalesce(g.n_cand, 0) AS n_cand,
           coalesce(g.n_near, 0) AS n_near,
           CAST(CASE WHEN coalesce(g.n_near, 0) > 0 THEN 1 ELSE 0 END
                AS INT) AS is_dup
    FROM ab b LEFT JOIN agg g USING (vec_id)
    ORDER BY vec_id
    """


@query("streaming_semdedup_gate", oracle=_ssd_oracle())
def streaming_semdedup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read back both landings' semantic near-dup verdicts; the oracle
    restates train-on-landing-1 + route-landing-2 + within-cell integer
    cosine, so hash parity proves the frozen quantizer and the member
    index both survived the checkpointed restart."""
    out = _ssd_out_dir(spark, sf_dir)
    return (
        spark.read.parquet(out)
        .select(
            "vec_id",
            F.col("cluster").cast("int").alias("cluster"),
            "n_cand",
            "n_near",
            "is_dup",
        )
        .orderBy("vec_id")
    )


# --------------------------------------------------------------------------
# streaming_tmix_gate — TEMPERATURE-based language sampling at ingest,
# the mixture member of the frozen-policy family (quality ✓ r8, DSIR ✓
# r9, decontam/semantic ✓ r9): production fixes the language mix from a
# planning snapshot and applies it to everything that arrives after —
# retuning rates per batch would make the corpus composition drift with
# arrival order. The first landing computes per-language doc counts,
# n_min, and the T=2 integer micro-thresholds
# (floor(1e6·sqrt(n_min/n_l)) — corpus_temperature_mixture's exact
# recipe) and freezes them; every landing's docs get the salted
# Bernoulli verdict abs(h64('tmix:'||doc_id)) % 1e6 < threshold(lang).
# A language unseen by the planning snapshot has no rate — its docs are
# dropped (kept=0, the conservative production default; the oracle
# restates the same rule via coalesce(thr, 0)).
#
# Scale: the rate table is bounded by the language count (the legal
# broadcast class — hinted and plan-asserted REQUIRED); the per-doc
# verdict is a scan-local predicate.
# --------------------------------------------------------------------------


def _tmix_gate_processor(out: str, rate_state: str):
    """foreachBatch processor over (verdicts, frozen-rate-state) dirs —
    module-level for the replay test, like the sibling gates."""
    from data_ingestion_din_spark.plans.curation_queries import (
        _tmix_keep,
        _tmix_rates,
    )

    def _plan(batch_df: DataFrame, epoch_id: int):
        rates, new_rates = _frozen_model(
            batch_df.sparkSession,
            rate_state,
            epoch_id,
            lambda: _tmix_rates(batch_df)
            .select("lang", "threshold_micros")
            .localCheckpoint(eager=True),
        )
        verdicts = (
            batch_df.select("doc_id", "lang")
            .join(F.broadcast(rates), "lang", "left")
            .select(
                "doc_id",
                "lang",
                F.when(
                    _tmix_keep(F.coalesce("threshold_micros", F.lit(0))), 1
                )
                .otherwise(0)
                .cast("int")
                .alias("kept"),
            )
        )
        return {"verdicts": verdicts, "new_rates": new_rates}

    return _epoch_writer(_plan, {"verdicts": out, "new_rates": rate_state})


@staged("tmix_gate_landings")
def _stg_out_dir(spark: SparkSession, sf_dir: str, base: str) -> str:
    out = os.path.join(base, "out")
    _run_doc_parity_landings(
        spark,
        sf_dir,
        base,
        _tmix_gate_processor(out, os.path.join(base, "rates")),
        cols=("doc_id", "lang"),
    )
    return out


def _stg_oracle() -> str:
    from data_ingestion_din_spark.functions.hashing import h64_sql

    return f"""
    WITH c AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
      FROM documents WHERE doc_id % 2 = 0 GROUP BY lang
    ),
    mn AS (SELECT min(n_docs) AS n_min FROM c),
    r AS (
      SELECT lang,
             CAST(floor(1000000.0 *
                        sqrt(CAST(n_min AS DOUBLE) / n_docs)) AS BIGINT)
               AS thr
      FROM c CROSS JOIN mn
    )
    SELECT d.doc_id, d.lang,
           CAST(CASE WHEN abs({h64_sql("'tmix:' || CAST(doc_id AS VARCHAR)")})
                        % 1000000 < coalesce(r.thr, 0)
                     THEN 1 ELSE 0 END AS INT) AS kept
    FROM documents d LEFT JOIN r USING (lang)
    ORDER BY d.doc_id
    """


@query("streaming_tmix_gate", oracle=_stg_oracle())
def streaming_tmix_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read back both landings' sampling verdicts; the oracle restates
    plan-rates-on-landing-1 + gate-everyone-with-them, so hash parity
    proves the frozen rate table survived the checkpointed restart and
    batch 2 was sampled by batch 1's mixture plan."""
    out = _stg_out_dir(spark, sf_dir)
    return (
        spark.read.parquet(out)
        .select("doc_id", "lang", "kept")
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# streaming_ppl_gate — the PERPLEXITY filter at ingest, the frozen-model
# family's language-model member (classifier ✓ r8, DSIR ✓ r9, BPE ✓ r9,
# decontam/semdedup/tmix ✓ r9; doc_ngram_perplexity is batch-only): the
# first landing trains the integer-octave bigram LM on itself — pair
# counts, backoff unigram counts, and the total-token scalar committed
# as ONE epoch-keyed artifact (kind-discriminated rows: 'p' pairs /
# 'u' unigrams / 't' total — one table cannot half-evict, the DSIR
# bkt=-1 sentinel rationale) — and every later landing is scored
# against the frozen LM with Stupid-Backoff exactly as the batch query
# (q = intlog2(head_n+1)−intlog2(pair_n), backoff 1+intlog2(T+1)−
# intlog2(tok_n+1)), keep = ppl_milli <= cutoff — the same
# lm_queries._bi_lm / _bi_scored code; exactly-once under replay
# (streaming_core._frozen_model), proven in tests/test_streaming.py.
#
# Scale: the frozen LM is vocabulary-sized (bigram long tail), NOT
# bounded control data — so the scoring joins are plain equi-joins with
# no broadcast hint (the growing/unbounded-state rule, plan-asserted);
# the only broadcast is the 1-row total-token scalar. The oracle
# restates train-on-even-docs + score-everyone, so hash parity proves
# the frozen LM survived the checkpointed restart and landing 2 was
# scored by landing 1's model.
# --------------------------------------------------------------------------
_SPPL_KEEP = 4600  # milli-octaves/bigram; splits the fixture under the
# even-half LM (measured median 4574 overall / 4622 held-out)


def _ppl_gate_processor(out: str, lm_state: str):
    """foreachBatch processor over (verdicts, frozen-LM-state) dirs —
    module-level for the replay test, like the sibling gates."""
    from data_ingestion_din_spark.plans.lm_queries import (
        _bi_lm,
        _bi_pairs,
        _bi_scored,
        _bi_tokens,
    )

    def _plan(batch_df: DataFrame, epoch_id: int):
        t0 = _bi_tokens(batch_df)
        prs = _bi_pairs(t0)

        def kind_rows(df: DataFrame, kind: str, k1, k2, cnt: str):
            return df.select(
                F.lit(kind).alias("kind"),
                k1.alias("k1"),
                k2.alias("k2"),
                F.col(cnt).alias("cnt"),
            )

        def train():
            pc, uc, tot = _bi_lm(prs, t0)
            c, none = F.col, F.lit("")
            return (
                kind_rows(pc, "p", c("head"), c("next"), "pair_n")
                .unionByName(kind_rows(uc, "u", c("tok"), none, "tok_n"))
                .unionByName(kind_rows(tot, "t", none, none, "tt"))
                .localCheckpoint(eager=True)
            )

        state, new_state = _frozen_model(
            batch_df.sparkSession, lm_state, epoch_id, train
        )
        kind = F.col("kind")
        # frozen-LM joins inside _bi_scored: PLAIN HINT-FREE equi-joins
        # (the LM is vocabulary-sized, not bounded control data — the
        # growing-state rule)
        scored = _bi_scored(
            prs,
            state.filter(kind == "p").select(
                F.col("k1").alias("head"),
                F.col("k2").alias("next"),
                F.col("cnt").alias("pair_n"),
            ),
            state.filter(kind == "u").select(
                F.col("k1").alias("tok"), F.col("cnt").alias("tok_n")
            ),
            state.filter(kind == "t").select(F.col("cnt").alias("tt")),
        )
        perdoc = scored.groupBy("doc_id").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.sum("bo").cast("bigint").alias("n_backoff"),
            F.sum("q").cast("bigint").alias("q_sum"),
        )
        verdicts = (
            batch_df.select("doc_id")
            .join(perdoc, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce(F.col("n_bigrams"), F.lit(0))
                .cast("bigint")
                .alias("n_bigrams"),
                F.coalesce(F.col("n_backoff"), F.lit(0))
                .cast("bigint")
                .alias("n_backoff"),
                F.expr(
                    "coalesce(q_sum, 0) * 1000"
                    " DIV greatest(coalesce(n_bigrams, 0), 1)"
                )
                .cast("bigint")
                .alias("ppl_milli"),
            )
            .withColumn("keep", F.col("ppl_milli") <= _SPPL_KEEP)
        )
        return {"verdicts": verdicts, "new_state": new_state}

    return _epoch_writer(_plan, {"verdicts": out, "new_state": lm_state})


@staged("ppl_gate_landings")
def _sppl_out_dir(spark: SparkSession, sf_dir: str, base: str) -> str:
    out = os.path.join(base, "out")
    _process = _ppl_gate_processor(out, os.path.join(base, "lm"))
    _run_doc_parity_landings(spark, sf_dir, base, _process)
    return out


def _sppl_oracle() -> str:
    from data_ingestion_din_spark.plans.text_pipeline import _TOKS_SQL

    return f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    prs AS (
      SELECT doc_id, t[i] AS head, t[i + 1] AS next
      FROM t, unnest(range(1, len(t))) r(i)
      WHERE i < len(t)
    ),
    pc AS (
      SELECT head, next, CAST(count(*) AS BIGINT) AS pair_n
      FROM prs WHERE doc_id % 2 = 0 GROUP BY head, next
    ),
    hn AS (
      SELECT *, CAST(sum(pair_n) OVER (PARTITION BY head) AS BIGINT)
                  AS head_n
      FROM pc
    ),
    trtok AS (
      SELECT unnest(t) AS tok FROM t WHERE doc_id % 2 = 0
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
    ),
    pd AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_bigrams,
             CAST(sum(bo) AS BIGINT) AS n_backoff,
             CAST(sum(q) AS BIGINT) AS q_sum
      FROM q GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(pd.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           CAST(coalesce(pd.n_backoff, 0) AS BIGINT) AS n_backoff,
           CAST(coalesce(pd.q_sum, 0) * 1000
                // greatest(coalesce(pd.n_bigrams, 0), 1) AS BIGINT)
             AS ppl_milli,
           (coalesce(pd.q_sum, 0) * 1000
            // greatest(coalesce(pd.n_bigrams, 0), 1)) <= {_SPPL_KEEP}
             AS keep
    FROM documents d LEFT JOIN pd USING (doc_id)
    ORDER BY d.doc_id
    """


@query("streaming_ppl_gate", oracle=_sppl_oracle())
def streaming_ppl_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read back both landings' perplexity verdicts; the oracle restates
    train-LM-on-landing-1 (even doc_ids) + score-everyone-with-it, so
    hash parity proves the frozen bigram LM survived the checkpointed
    restart and landing 2 was scored (and Stupid-Backoff'd) by landing
    1's model."""
    out = _sppl_out_dir(spark, sf_dir)
    return (
        spark.read.parquet(out)
        .select("doc_id", "n_bigrams", "n_backoff", "ppl_milli", "keep")
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# streaming_bloom_gate — the Bloom-filter decontamination gate at
# ingest, the SKETCH form of streaming_decontam_gate: where that gate
# broadcasts the benchmark's full shingle SET, this one freezes the
# corpus_bloom_decontaminate 512-word / 32,256-bit filter (k = 3
# seeded h64 positions, 63 usable bits per word — no sign-bit shifts)
# built from the first landing's benchmark slice (doc_id % 14 == 0)
# and epoch-commits the WORDS — a ≤512-row artifact independent of
# benchmark size, the shape that still broadcasts when the benchmark
# suite is 10⁸ shingles. Every landing's non-benchmark docs probe the
# frozen words (broadcast REQUIRED — bounded class) and emit
# (n_shingles, n_bloom_hits, flagged = hits ≥ 4) verdicts — the
# thresholded doc gate the batch query's measured t-sweep selected
# (any-hit flags 31× too many docs at the measured 2.75% per-shingle
# FPR). Frozen through streaming_core._frozen_model; replay-proven.
#
# The oracle restates build-filter-on-the-%14-slice + probe-everyone,
# so hash parity proves the frozen words survived the checkpointed
# restart and landing 2 was gated by landing 1's filter — including
# every realized false positive, which the seeded hashes make exactly
# reproducible.
# --------------------------------------------------------------------------
_SBLM_T = 4  # doc flag threshold (the batch query's measured knee)


def _bloom_gate_processor(out: str, word_state: str):
    """foreachBatch processor over (verdicts, frozen-words-state) dirs —
    module-level for the replay test, like the sibling gates."""
    from data_ingestion_din_spark.functions.analysis import (
        tokens,
        word_shingles,
    )
    from data_ingestion_din_spark.functions.sketches import (
        bloom_probe,
        bloom_words,
    )
    from data_ingestion_din_spark.plans.curation_queries import _DC_N

    def _plan(batch_df: DataFrame, epoch_id: int):
        sh = batch_df.select(
            "doc_id",
            F.explode_outer(
                F.array_distinct(
                    word_shingles(tokens(F.col("text")), _DC_N)
                )
            ).alias("shingle"),
        )
        words, new_state = _frozen_model(
            batch_df.sparkSession,
            word_state,
            epoch_id,
            lambda: bloom_words(
                sh.filter(
                    (F.col("doc_id") % 14 == 0) & F.col("shingle").isNotNull()
                )
                .select("shingle")
                .distinct()
            ).localCheckpoint(eager=True),
        )
        probe = sh.filter(
            (F.col("doc_id") % 14 != 0) & F.col("shingle").isNotNull()
        )
        perdoc = (
            bloom_probe(probe, words, "doc_id")
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
                F.sum("bloom_hit").cast("bigint").alias("n_bloom_hits"),
            )
        )
        verdicts = (
            batch_df.filter(F.col("doc_id") % 14 != 0)
            .select("doc_id")
            .join(perdoc, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce(F.col("n_shingles"), F.lit(0))
                .cast("bigint")
                .alias("n_shingles"),
                F.coalesce(F.col("n_bloom_hits"), F.lit(0))
                .cast("bigint")
                .alias("n_bloom_hits"),
            )
            .withColumn("flagged", F.col("n_bloom_hits") >= _SBLM_T)
        )
        return {"verdicts": verdicts, "new_state": new_state}

    return _epoch_writer(_plan, {"verdicts": out, "new_state": word_state})


@staged("bloom_gate_landings")
def _sblm_out_dir(spark: SparkSession, sf_dir: str, base: str) -> str:
    out = os.path.join(base, "out")
    _process = _bloom_gate_processor(out, os.path.join(base, "words"))
    _run_doc_parity_landings(spark, sf_dir, base, _process)
    return out


def _sblm_oracle() -> str:
    from data_ingestion_din_spark.functions.sketches import BF_K, BF_WBITS
    from data_ingestion_din_spark.plans.curation_queries import (
        _DC_N,
        _DC_SHINGLE,
        _TOKS_SQL,
        _bf_probe_union_sql,
    )

    return f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents),
    idx AS (
      SELECT doc_id, tk, unnest(range(1, len(tk) - {_DC_N - 2})) AS i
      FROM t WHERE len(tk) >= {_DC_N}
    ),
    sh AS (SELECT DISTINCT doc_id, {_DC_SHINGLE} AS shingle FROM idx),
    ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 14 = 0),
    bpos AS (
      {_bf_probe_union_sql("ev", "shingle")}
    ),
    words AS MATERIALIZED (
      SELECT pos // {BF_WBITS} AS word,
             bit_or(CAST(1 AS BIGINT) << (pos % {BF_WBITS})) AS bits
      FROM bpos GROUP BY 1
    ),
    cor AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 14 <> 0),
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
    pd AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_shingles,
             CAST(sum(bloom_hit) AS BIGINT) AS n_bloom_hits
      FROM persh GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(pd.n_shingles, 0) AS BIGINT) AS n_shingles,
           CAST(coalesce(pd.n_bloom_hits, 0) AS BIGINT) AS n_bloom_hits,
           coalesce(pd.n_bloom_hits, 0) >= {_SBLM_T} AS flagged
    FROM documents d LEFT JOIN pd USING (doc_id)
    WHERE d.doc_id % 14 <> 0
    ORDER BY d.doc_id
    """


@query("streaming_bloom_gate", oracle=_sblm_oracle())
def streaming_bloom_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read back both landings' Bloom verdicts; the oracle restates
    build-the-512-word-filter-on-landing-1's-benchmark-slice +
    probe-everyone, so hash parity proves the frozen sketch survived
    the checkpointed restart — false positives included, exactly
    reproduced by the seeded hashes."""
    out = _sblm_out_dir(spark, sf_dir)
    return (
        spark.read.parquet(out)
        .select("doc_id", "n_shingles", "n_bloom_hits", "flagged")
        .orderBy("doc_id")
    )




# --------------------------------------------------------------------------
# streaming_line_dedup_gate — corpus_line_dedup's at-ingest twin: the
# CCNet line-frequency boilerplate filter maintained across checkpointed
# landings. Unlike the frozen-artifact gates above, line frequency is
# CORPUS-DERIVED GROWING STATE (the semdedup/member-index disposition):
# each landing (a) reads the prior epochs' per-landing frequency
# partials (nd is additive across landings because a doc lands exactly
# once, so distinct-docs-per-line = Σ per-landing distinct counts),
# (b) gates its own docs against prior + own counts — a doc's verdict
# reflects the corpus AS OF ITS LANDING, the only definition an ingest
# pipeline can honor — and (c) epoch-commits its own partial
# (replay-idempotent: the epoch dir is overwritten, not appended).
# Every frequency join is a plain hint-free equi-join on the line hash
# (growing state is never broadcast — plan-asserted like the siblings).
#
# The oracle restates the landing-prefix semantics in SQL: even docs
# (landing 1) gated against line frequency over evens only, odd docs
# against frequency over the whole corpus — so hash parity proves the
# additive state survived the checkpointed restart AND that verdicts
# are prefix-consistent (the Misra-Gries "state ≡ batch prefix"
# contract, transplanted to dedup).
# --------------------------------------------------------------------------
_SLDG_T = 2  # production boilerplate threshold (corpus_line_dedup's grid)


def _line_gate_processor(out: str, freq_state: str):
    """foreachBatch processor over (verdicts, additive-frequency-state)
    dirs — module-level for the replay test, like the sibling gates."""
    from data_ingestion_din_spark.plans.dedup_grids import _doc_lines

    def _plan(batch_df: DataFrame, epoch_id: int):
        hl = _doc_lines(batch_df).localCheckpoint(eager=True)
        own = hl.groupBy("lh").agg(
            F.countDistinct("doc_id").cast("bigint").alias("nd")
        )
        prior = _prior_epochs(batch_df.sparkSession, freq_state, epoch_id)
        parts = own if prior is None else own.unionByName(
            prior.select("lh", "nd")
        )
        freq = parts.groupBy("lh").agg(
            F.sum("nd").cast("bigint").alias("nd_cum")
        )
        verdicts = (
            hl.join(freq, "lh")  # growing state: plain, hint-free
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_lines"),
                F.sum(
                    F.when(F.col("nd_cum") >= _SLDG_T, 1).otherwise(0)
                )
                .cast("bigint")
                .alias("n_boiler"),
            )
            .withColumn(
                "rm_milli",
                F.expr("n_boiler * 1000 DIV n_lines").cast("bigint"),
            )
        )
        return {"verdicts": verdicts, "new_state": own}

    return _epoch_writer(_plan, {"verdicts": out, "new_state": freq_state})


@staged("line_dedup_gate_landings")
def _sldg_out_dir(spark: SparkSession, sf_dir: str, base: str) -> str:
    out = os.path.join(base, "out")
    _process = _line_gate_processor(out, os.path.join(base, "freq"))
    _run_doc_parity_landings(spark, sf_dir, base, _process)
    return out


def _sldg_oracle() -> str:
    from data_ingestion_din_spark.plans.dedup_grids import _line_ctes

    return f"""
    WITH {_line_ctes()},
    f0 AS (
      SELECT lh, count(DISTINCT doc_id) AS nd FROM hl
      WHERE doc_id % 2 = 0 GROUP BY lh
    ),
    f1 AS (
      SELECT lh, count(DISTINCT doc_id) AS nd FROM hl GROUP BY lh
    ),
    j AS (
      SELECT hl.doc_id,
             CASE WHEN hl.doc_id % 2 = 0
               THEN coalesce(f0.nd, 0) ELSE f1.nd END AS nd_cum
      FROM hl
      LEFT JOIN f0 ON f0.lh = hl.lh
      JOIN f1 ON f1.lh = hl.lh
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CASE WHEN nd_cum >= {_SLDG_T} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_boiler,
           CAST(sum(CASE WHEN nd_cum >= {_SLDG_T} THEN 1 ELSE 0 END)
                * 1000 // count(*) AS BIGINT) AS rm_milli
    FROM j GROUP BY doc_id ORDER BY doc_id
    """


@query("streaming_line_dedup_gate", oracle=_sldg_oracle())
def streaming_line_dedup_gate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Read back both landings' line-boilerplate verdicts; the oracle
    restates the landing-prefix frequency semantics (evens gated vs
    evens, odds vs the whole corpus), so hash parity proves the
    additive line-frequency state survived the checkpointed restart."""
    out = _sldg_out_dir(spark, sf_dir)
    return (
        spark.read.parquet(out)
        .select("doc_id", "n_lines", "n_boiler", "rm_milli")
        .orderBy("doc_id")
    )
