"""Incrementally maintained search-index state at ingest (SURVEY.md
§2.11 + the K3/K4 vector-index sinks) — the index family of the
per-family streaming split (shared scaffolding in streaming_core):
MinHash band index, pHash near-dup index, IVF / IVFPQ vector indexes
(frozen quantizer + codebooks, growing posting lists) and the serve
path reading top-k FROM the maintained lists, and the substring
window-fingerprint index.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_din_spark.operators import dedup as D
from data_ingestion_din_spark.operators.colocate import staged
from data_ingestion_din_spark.plans.registry import query
from data_ingestion_din_spark.plans.streaming_core import (
    _epoch_writer,
    _latest_epoch_rows,
    _prior_epochs,
    _run_doc_parity_landings,
    _run_split_landings,
    _write_epoch,
)
from data_ingestion_din_spark.sources.tables import load_table, local_frame

# --------------------------------------------------------------------------
# streaming_minhash_index — NEAR-dup dedup at ingest, the MinHash
# sibling of the funnel's exact-fp dedup and the streaming twin of the
# batch dedup_incremental_batch: each checkpointed availableNow landing
# (8-hash MinHash over 3-gram shingles) probes the cumulative SIGNATURE
# index built by the prior landings with the same kernel probe join and
# nearest_match verdict, verified by signature agreement (>= 4 of 8
# slots == estimated Jaccard >= 0.5 — the production index stores
# signatures, not texts, so the estimate IS the verification it can
# run); its signatures are then appended to the index. State is
# epoch-keyed parquet with idempotent overwrites / prior-epoch reads,
# the same exactly-once-under-replay layout as the curation funnel.
#
# Scale: per landing, cost is O(batch bands + matched index band rows);
# the index grows with the corpus but is touched only through the
# band_key equi-join — exactly how a nightly 100 TB ingest probes its
# materialized band index.
# --------------------------------------------------------------------------
_SMI_HASHES, _SMI_BANDS = 8, 4
_SMI_MIN_AGREE = 4  # >= 4/8 slots == estimated jaccard >= 0.5


def _minhash_index_processor(out: str, sig_state: str):
    """foreachBatch processor over (decisions, signature-index) dirs —
    module-level for the replay test, like _funnel_processor."""
    mh_cols = [f"mh{i}" for i in range(_SMI_HASHES)]
    keys = D.minhash_band_keys(_SMI_HASHES, _SMI_BANDS)
    pair = ("batch_id", "corpus_id")

    def _plan(batch_df: DataFrame, epoch_id: int) -> dict[str, DataFrame]:
        """Build this batch's (decisions, new signatures) without
        writing — exposed for the plan-shape tests."""
        spark_l = batch_df.sparkSession
        sigs = D.shingle_signatures(batch_df, _SMI_HASHES, 3)

        prior = _prior_epochs(spark_l, sig_state, epoch_id)
        # no prior epoch: probe an empty index (folded away at planning)
        index = (
            sigs.where(F.lit(False)) if prior is None else prior
        ).select("doc_id", *mh_cols)
        cand = D.band_candidates(
            sigs.select("doc_id", F.explode(keys).alias("band_key")),
            index.select("doc_id", F.explode(keys).alias("band_key")),
            pair=pair,
        )
        pairs = (
            D.slot_agreement(
                D.pair_sides(cand, sigs, index, pair=pair, cols=mh_cols),
                _SMI_HASHES,
            )
            .filter(F.col("n_agree") >= _SMI_MIN_AGREE)
            .select(*pair, "n_agree")
        )
        return {
            "decisions": D.nearest_match(
                pairs, batch_df.select("doc_id"), "desc", "matched_doc"
            ),
            "new_sigs": sigs.select("doc_id", *mh_cols),
        }

    return _epoch_writer(_plan, {"decisions": out, "new_sigs": sig_state})


@staged("minhash_index_landings")
def _smi_out_dir(spark: SparkSession, sf_dir: str, base: str) -> str:
    out = os.path.join(base, "out")
    _process = _minhash_index_processor(out, os.path.join(base, "sigs"))
    _run_doc_parity_landings(spark, sf_dir, base, _process)
    return out


def _smi_oracle() -> str:
    from data_ingestion_din_spark.functions.hashing import (
        h32_sql,
        minhash_slot_sql,
    )

    # minhash_slot_sql already carries its "AS mh{i}" alias
    slots = ", ".join(minhash_slot_sql(i) for i in range(_SMI_HASHES))

    def band_sql(j: int) -> str:
        r = _SMI_HASHES // _SMI_BANDS
        cols = " || ',' || ".join(
            f"CAST(mh{j * r + i} AS VARCHAR)" for i in range(r)
        )
        return f"md5('b{j}' || ',' || {cols})"

    bands_union = "\n      UNION ALL ".join(
        f"SELECT doc_id, {band_sql(j)} AS band_key FROM sig"
        for j in range(_SMI_BANDS)
    )
    agree = " + ".join(
        f"(CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END)"
        for i in range(_SMI_HASHES)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
      FROM documents
    ),
    idx AS (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM toks),
    sh AS (
      SELECT DISTINCT doc_id,
             t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS shingle
      FROM idx
    ),
    shh AS (SELECT doc_id, {h32_sql("shingle")} AS hb FROM sh),
    sig AS (SELECT doc_id, {slots} FROM shh GROUP BY doc_id),
    bands AS ({bands_union}),
    cand AS (
      SELECT DISTINCT a.doc_id AS batch_id, b.doc_id AS corpus_id
      FROM bands a JOIN bands b
        ON a.band_key = b.band_key
       AND a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
    ),
    ver AS (
      SELECT c.batch_id, c.corpus_id, {agree} AS n_agree
      FROM cand c
      JOIN sig sa ON sa.doc_id = c.batch_id
      JOIN sig sb ON sb.doc_id = c.corpus_id
      WHERE {agree} >= {_SMI_MIN_AGREE}
    ),
    best AS (
      SELECT batch_id, corpus_id, n_agree,
             row_number() OVER (
               PARTITION BY batch_id ORDER BY n_agree DESC, corpus_id
             ) AS rk
      FROM ver
    )
    SELECT d.doc_id,
           (b.corpus_id IS NOT NULL) AS is_dup,
           CAST(b.corpus_id AS BIGINT) AS matched_doc,
           CAST(b.n_agree AS INT) AS n_agree
    FROM documents d
    LEFT JOIN (SELECT * FROM best WHERE rk = 1) b ON b.batch_id = d.doc_id
    ORDER BY d.doc_id
    """


@query("streaming_minhash_index", oracle=_smi_oracle())
def streaming_minhash_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read back the two-landing near-dup verdicts; the oracle restates
    batch-2-vs-batch-1 band candidacy + signature-agreement verification
    (batch-1 docs are all clean — the index was empty), so hash parity
    proves the signature index survived the checkpointed restart."""
    out = _smi_out_dir(spark, sf_dir)
    return (
        spark.read.parquet(out)
        .select("doc_id", "is_dup", "matched_doc", "n_agree")
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# streaming_phash_index — NEAR-dup dedup at ingest for the MEDIA column,
# the pHash sibling of streaming_minhash_index (text ✓ r6; this closes
# the ingest-time dedup story across both modalities): each checkpointed
# availableNow landing's payloads are pHashed ONCE (the Arrow stage runs
# on the batch only, never re-hashing the corpus) and probe the
# cumulative 64-bit-band index built by prior landings through the
# kernel's probe join on (band_id, band_value) — never a broadcast of
# the growing index — verified by total Hamming distance <= K
# (bit_count(xor), integer-exact); the best match is min Hamming, and
# each batch's bands are appended to the index. State is epoch-keyed
# parquet with idempotent overwrites / prior-epoch-only reads — the
# same exactly-once-under-replay layout as the funnel and the MinHash
# index.
#
# Scale: per landing, cost is O(batch bands + matched index band rows);
# the index grows with the corpus but is touched only through the band
# equi-join (shuffle keyed by (band_id, 16-bit value)), exactly how a
# nightly media ingest probes its materialized fingerprint index.
# --------------------------------------------------------------------------


def _phash_index_processor(out: str, ph_state: str):
    """foreachBatch processor over (decisions, band-index) dirs —
    module-level for the replay-idempotence and plan-shape tests, like
    _funnel_processor / _minhash_index_processor."""
    from data_ingestion_din_spark.plans.multimodal_queries import (
        _PH_BAND_COLS,
        _PH_K,
        _ph_bands,
        _ph_hamming,
        media_frame,
    )
    from data_ingestion_din_spark.sources.binary import phash_media

    pair = ("batch_path", "corpus_path")

    def _plan(batch_df: DataFrame, epoch_id: int) -> dict[str, DataFrame]:
        """Build this batch's (decisions, new band hashes) without
        writing — exposed for the plan-shape tests."""
        spark_l = batch_df.sparkSession
        ph = (
            phash_media(media_frame(batch_df))
            .select("path", *_PH_BAND_COLS)
            .localCheckpoint(eager=True)
        )

        prior = _prior_epochs(spark_l, ph_state, epoch_id)
        # no prior epoch: probe an empty index (folded away at planning)
        index = (
            ph.where(F.lit(False)) if prior is None else prior
        ).select("path", *_PH_BAND_COLS)
        # plain equi-join on (bid, bv): the index side grows with the
        # corpus, so — state-side-join rule — no broadcast hint
        cand = D.band_candidates(
            _ph_bands(ph), _ph_bands(index), on=["bid", "bv"], id="path",
            pair=pair,
        )
        pairs = (
            D.pair_sides(
                cand, ph, index, id="path", pair=pair, cols=_PH_BAND_COLS
            )
            .withColumn("hamming", _ph_hamming())
            .filter(F.col("hamming") <= _PH_K)
            .select(*pair, "hamming")
        )
        return {
            "decisions": D.nearest_match(
                pairs, ph.select("path"), "asc", "matched_path"
            ),
            "new_hashes": ph,
        }

    return _epoch_writer(_plan, {"decisions": out, "new_hashes": ph_state})


@staged("phash_index_landings")
def _spi_out_dir(spark: SparkSession, sf_dir: str, base: str) -> str:
    out = os.path.join(base, "out")
    _process = _phash_index_processor(out, os.path.join(base, "phs"))
    _run_doc_parity_landings(spark, sf_dir, base, _process)
    return out


def _spi_oracle() -> str:
    from data_ingestion_din_spark.plans.multimodal_queries import _PH_CTES

    # reuse the batch pHash CTE chain verbatim (m → cells → bits → ph →
    # bands → cand → pairs); band agreement and Hamming are symmetric,
    # so the (odd batch probes even corpus) verdicts are the pairs
    # restricted to odd→even direction. Even-parity docs landed first
    # against an empty index, so they are all clean (LEFT JOIN null).
    return f"""
    WITH {_PH_CTES},
    sym AS (
      SELECT path_a AS bp, path_b AS cp, hamming FROM pairs
      UNION ALL
      SELECT path_b AS bp, path_a AS cp, hamming FROM pairs
    ),
    par AS (SELECT path, doc_id % 2 AS pr FROM m),
    probe AS (
      SELECT s.bp, s.cp, s.hamming
      FROM sym s
      JOIN par a ON a.path = s.bp
      JOIN par b ON b.path = s.cp
      WHERE a.pr = 1 AND b.pr = 0
    ),
    best AS (
      SELECT bp, cp, hamming,
             row_number() OVER (
               PARTITION BY bp ORDER BY hamming, cp
             ) AS rk
      FROM probe
    )
    SELECT m.path,
           (b.cp IS NOT NULL) AS is_dup,
           b.cp AS matched_path,
           CAST(b.hamming AS INT) AS hamming
    FROM m
    LEFT JOIN (SELECT * FROM best WHERE rk = 1) b ON b.bp = m.path
    ORDER BY m.path
    """


@query("streaming_phash_index", oracle=_spi_oracle())
def streaming_phash_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read back the two-landing media near-dup verdicts; the oracle
    restates odd-batch-vs-even-corpus band candidacy + Hamming
    verification from the batch pHash CTEs, so hash parity proves the
    band index survived the checkpointed restart."""
    out = _spi_out_dir(spark, sf_dir)
    return (
        spark.read.parquet(out)
        .select("path", "is_dup", "matched_path", "hamming")
        .orderBy("path")
    )


# --------------------------------------------------------------------------
# streaming_ivf_index — ANN index maintenance at ingest, the streaming
# twin of similarity_ivf_incremental and the third member of the
# at-ingest index family (text MinHash ✓ r6, media pHash ✓ r7, vectors
# here): the FIRST landing (empty state) trains the k=8 coarse
# quantizer on itself (the verified 2-iteration integer-exact Lloyd)
# and commits both its cell assignments and the frozen centroid matrix
# as epoch-keyed state; every later landing reads the centroids
# (bounded k×dims control data — the kmeans-literal rationale, NOT a
# corpus-growing table), routes its vectors with one argmin pass
# (assign_to_centroids: no join, no shuffle on the batch side), and
# appends its assignments. The oracle restates train-on-evens +
# route-odds-against-c1f in SQL (the _km_ctes machinery), so hash
# parity proves the centroid state survived the checkpointed restart
# and the incremental routing ≡ assigning against the same quantizer.
#
# Scale: per landing the cost is O(batch × k·dims) argmin work; the
# assignment state grows with the corpus but is append-only — nothing
# rescans or re-trains it.
# --------------------------------------------------------------------------
_SII_K = 8


def _ivf_index_processor(out: str, cent_state: str, k: int = _SII_K):
    """foreachBatch processor over (assignments, centroid-state) dirs —
    module-level for the replay test, like the other index processors."""
    from data_ingestion_din_spark.functions.vectors import quantize
    from data_ingestion_din_spark.operators.similarity import (
        assign_to_centroids,
        kmeans_train,
    )

    def _plan(batch_df: DataFrame, epoch_id: int):
        """(assignments, centroid rows or None) for this batch, no
        writes — exposed for the plan-shape tests. Executes jobs when
        training (first landing) or reading the centroid state."""
        spark_l = batch_df.sparkSession
        prior = _prior_epochs(spark_l, cent_state, epoch_id)
        rows = [] if prior is None else prior.orderBy("cluster").collect()
        if rows:
            cents = [list(r.qv) for r in rows]
            routed = assign_to_centroids(
                batch_df.select(
                    "vec_id", quantize(F.col("embedding")).alias("qv")
                ),
                cents,
            ).select("vec_id", "cluster")
            return {
                "assignments": routed.withColumn(
                    "incremental", F.lit(True)
                ),
                "new_cents": None,  # frozen — written once by training
            }
        assigned, cents = kmeans_train(batch_df, k=k, iters=2)
        cent_rows = local_frame(
            spark_l,
            [(c + 1, cents[c]) for c in range(len(cents))],
            "cluster int, qv array<bigint>",
        )
        return {
            "assignments": assigned.withColumn(
                "incremental", F.lit(False)
            ),
            "new_cents": cent_rows,
        }

    return _epoch_writer(_plan, {"assignments": out, "new_cents": cent_state})


@staged("ivf_index_landings")
def _sii_out_dir(spark: SparkSession, sf_dir: str, base: str) -> str:
    out = os.path.join(base, "out")
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    _run_split_landings(
        spark,
        base,
        [emb.filter(F.col("vec_id") % 2 == p) for p in (0, 1)],
        _ivf_index_processor(out, os.path.join(base, "cents")),
    )
    return out


def _sii_oracle() -> str:
    from data_ingestion_din_spark.plans.similarity_queries import (
        _KM_DIST,
        _km_ctes,
    )

    return f"""
    WITH {_km_ctes("(SELECT * FROM embeddings WHERE vec_id % 2 = 0)")},
    batch AS (
      SELECT vec_id,
             list_transform(
               embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
             ) AS qv
      FROM embeddings WHERE vec_id % 2 = 1
    ),
    ab AS (
      SELECT q.vec_id, s.cluster
      FROM batch q CROSS JOIN c1f s
      QUALIFY row_number() OVER (
        PARTITION BY q.vec_id ORDER BY {_KM_DIST}, s.cluster) = 1
    )
    SELECT vec_id, CAST(cluster AS INT) AS cluster, FALSE AS incremental
    FROM a2
    UNION ALL
    SELECT vec_id, CAST(cluster AS INT) AS cluster, TRUE AS incremental
    FROM ab
    ORDER BY vec_id
    """


@query("streaming_ivf_index", oracle=_sii_oracle())
def streaming_ivf_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read back both landings' cell assignments; the oracle restates
    train-on-landing-1 + route-landing-2-against-frozen-centroids, so
    parity proves the quantizer state survived the checkpointed restart
    and incremental routing matches the from-scratch assignment."""
    out = _sii_out_dir(spark, sf_dir)
    return (
        spark.read.parquet(out)
        .select(
            "vec_id",
            F.col("cluster").cast("int").alias("cluster"),
            "incremental",
        )
        .orderBy("vec_id")
    )


# --------------------------------------------------------------------------
# streaming_substring_index — exact duplicated-SUBSTRING detection at
# ingest, closing the last dedup modality without an incremental twin
# (exact-fp ✓ funnel, MinHash ✓ r6, pHash ✓ r7, IVF/quality ✓ r8;
# substring was batch-only): each checkpointed availableNow landing is
# window-fingerprinted ONCE (the stride-1 W-token pass of
# operators/dedup.window_fingerprints — batch side only, never
# re-hashing the corpus), its windows are probed against the CUMULATIVE
# fingerprint index built by prior landings via a plain wfp equi-join
# (no broadcast — the index grows with the corpus, the forbidden
# class), matched windows merge into per-doc interval islands (the
# Lee et al. span shape), and the landing's distinct fingerprints are
# appended to the index. Per-doc verdicts (n_spans, dup_tokens) are
# epoch-keyed with idempotent overwrites / prior-epoch-only reads —
# the same exactly-once-under-replay layout as the sibling indexes.
#
# The oracle restates probe-odds-against-even-fingerprints in SQL
# (batch-1 docs are all zero — the index was empty), so hash parity
# proves the fingerprint index survived the checkpointed restart.
#
# Scale: per landing, cost is O(batch windows + matched index rows
# via the equi-join); only MATCHED instances reach the per-doc island
# window.
# --------------------------------------------------------------------------
_SSI_W = 20  # window length in tokens — same as the batch pass (_SSW)


def _substring_index_processor(out: str, wfp_state: str, w: int = _SSI_W):
    """foreachBatch processor over (verdicts, fingerprint-index) dirs —
    module-level for the replay test, like the other index processors."""
    from pyspark.sql.window import Window as W

    def _plan(batch_df: DataFrame, epoch_id: int) -> dict[str, DataFrame]:
        spark_l = batch_df.sparkSession
        wins = D.window_fingerprints(batch_df, w).localCheckpoint(eager=True)
        prior = _prior_epochs(spark_l, wfp_state, epoch_id)
        if prior is not None:
            # plain equi-semi-join: existence in the prior index (the
            # semi join absorbs index duplicates — no distinct pass)
            matched = wins.join(prior.select("wfp"), "wfp", "left_semi")
            dwin = W.partitionBy("doc_id").orderBy("start")
            flagged = matched.withColumn(
                "new_island",
                F.when(
                    F.col("start") - F.lag("start").over(dwin) <= w,
                    F.lit(0),
                ).otherwise(F.lit(1)),
            ).withColumn(
                "island",
                F.sum("new_island").over(
                    dwin.rowsBetween(W.unboundedPreceding, W.currentRow)
                ),
            )
            spans = flagged.groupBy("doc_id", "island").agg(
                F.min("start").alias("span_start"),
                (F.max("start") + F.lit(w - 1)).alias("span_end"),
            )
            per_doc = spans.groupBy("doc_id").agg(
                F.count(F.lit(1)).cast("bigint").alias("n_spans"),
                F.sum(F.col("span_end") - F.col("span_start") + 1)
                .cast("bigint")
                .alias("dup_tokens"),
            )
        else:
            per_doc = local_frame(
                spark_l, [], "doc_id bigint, n_spans bigint, dup_tokens bigint"
            )
        verdicts = (
            batch_df.select("doc_id")
            .join(per_doc, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce(F.col("n_spans"), F.lit(0))
                .cast("bigint")
                .alias("n_spans"),
                F.coalesce(F.col("dup_tokens"), F.lit(0))
                .cast("bigint")
                .alias("dup_tokens"),
            )
        )
        # distinct within the landing bounds index growth; cross-landing
        # duplicates are harmless (the probe is a semi-join)
        return {"verdicts": verdicts, "new_wfps": wins.select("wfp").distinct()}

    return _epoch_writer(_plan, {"verdicts": out, "new_wfps": wfp_state})


@staged("substring_index_landings")
def _ssi_out_dir(spark: SparkSession, sf_dir: str, base: str) -> str:
    out = os.path.join(base, "out")
    _process = _substring_index_processor(out, os.path.join(base, "wfps"))
    _run_doc_parity_landings(spark, sf_dir, base, _process)
    return out


def _ssi_oracle() -> str:
    return f"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
      FROM documents
    ),
    win AS (
      SELECT doc_id, u.w.s AS start, u.w.f AS wfp
      FROM toks,
      UNNEST([{{'s': i,
               'f': md5(array_to_string(t[i:i+{_SSI_W - 1}], ' '))}}
              FOR i IN range(1, greatest(len(t) - {_SSI_W} + 2, 1))]) AS u(w)
      WHERE len(t) >= {_SSI_W}
    ),
    priorw AS (SELECT DISTINCT wfp FROM win WHERE doc_id % 2 = 0),
    inst AS (
      SELECT doc_id, start FROM win
      WHERE doc_id % 2 = 1 AND wfp IN (SELECT wfp FROM priorw)
    ),
    flagged AS (
      SELECT doc_id, start,
             CASE WHEN start - lag(start) OVER w <= {_SSI_W}
                  THEN 0 ELSE 1 END AS new_island
      FROM inst
      WINDOW w AS (PARTITION BY doc_id ORDER BY start)
    ),
    islands AS (
      SELECT doc_id, start,
             sum(new_island) OVER (PARTITION BY doc_id ORDER BY start
                                   ROWS UNBOUNDED PRECEDING) AS island
      FROM flagged
    ),
    spans AS (
      SELECT doc_id, min(start) AS s, max(start) + {_SSI_W - 1} AS e
      FROM islands GROUP BY doc_id, island
    ),
    per_doc AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_spans,
             CAST(sum(e - s + 1) AS BIGINT) AS dup_tokens
      FROM spans GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(p.n_spans, 0) AS BIGINT) AS n_spans,
           CAST(coalesce(p.dup_tokens, 0) AS BIGINT) AS dup_tokens
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
    ORDER BY d.doc_id
    """


@query("streaming_substring_index", oracle=_ssi_oracle())
def streaming_substring_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read back both landings' per-doc duplicated-span verdicts; the
    oracle restates batch-2-windows-vs-batch-1-fingerprint-index (batch-1
    docs are all zero — the index was empty), so hash parity proves the
    fingerprint index survived the checkpointed restart."""
    out = _ssi_out_dir(spark, sf_dir)
    return (
        spark.read.parquet(out)
        .select("doc_id", "n_spans", "dup_tokens")
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# streaming_ivfpq_index — the COMPOSED index maintained at ingest,
# the foreachBatch twin of similarity_ivfpq_incremental and the capstone
# of the at-ingest index family (MinHash ✓ pHash ✓ IVF ✓ quality ✓
# DSIR ✓ substring ✓; the IVF row froze only the coarse quantizer —
# a served IVFPQ index must freeze the PQ CODEBOOKS too): the FIRST
# landing trains both artifacts on itself (the verified integer-exact
# Lloyd + PQ machinery) and epoch-commits centroids AND codebooks;
# every later landing reads the two bounded states (k×dims +
# n_sub·k·d_sub ints — control data, the kmeans-literal rationale),
# routes with one argmin pass and encodes with another
# (pq_encode_qv) — zero joins, zero shuffles, zero retraining on the
# batch side. The appended rows are the index's posting-list entries
# (vec_id, cluster, m, code).
#
# Scale: per landing the cost is O(batch × (k·dims + n_sub·k·d_sub))
# argmin work; the posting lists grow append-only.
# --------------------------------------------------------------------------


def _ivfpq_index_processor(
    out: str, cent_state: str, cb_state: str, k: int = _SII_K
):
    """foreachBatch processor over (postings, centroid-state,
    codebook-state) dirs — module-level for the replay test."""
    from data_ingestion_din_spark.functions.vectors import quantize
    from data_ingestion_din_spark.operators.similarity import (
        assign_to_centroids,
        kmeans_train,
        pq_assign,
        pq_encode_qv,
    )

    def _plan(batch_df: DataFrame, epoch_id: int):
        spark_l = batch_df.sparkSession
        cprior = _prior_epochs(spark_l, cent_state, epoch_id)
        bprior = _prior_epochs(spark_l, cb_state, epoch_id)
        crows = [] if cprior is None else cprior.orderBy("cluster").collect()
        brows = [] if bprior is None else bprior.orderBy("m", "code").collect()
        if crows and brows:
            cents = [list(r.qv) for r in crows]
            n_sub = 1 + max(r.m for r in brows)
            kk = 1 + max(r.code for r in brows) - 1
            cb = [[None] * kk for _ in range(n_sub)]
            for r in brows:
                cb[r.m][r.code - 1] = list(r.sv)
            qv = batch_df.select(
                "vec_id", quantize(F.col("embedding")).alias("qv")
            )
            routed = assign_to_centroids(qv, cents).select(
                "vec_id", "cluster"
            )
            postings = (
                pq_encode_qv(qv, cb)
                .join(routed, "vec_id")
                .select(
                    "vec_id",
                    "cluster",
                    "m",
                    "code",
                    F.lit(True).alias("incremental"),
                )
            )
            return {
                "postings": postings,
                "new_cents": None,  # frozen — written by training only
                "new_cb": None,
            }
        assigned, cents = kmeans_train(batch_df, k=k, iters=2)
        codes, cb = pq_assign(batch_df, n_sub=4, k=4, iters=1)
        postings = codes.join(assigned, "vec_id").select(
            "vec_id", "cluster", "m", "code", F.lit(False).alias("incremental")
        )
        cent_rows = local_frame(
            spark_l,
            [(c + 1, cents[c]) for c in range(len(cents))],
            "cluster int, qv array<bigint>",
        )
        cb_rows = local_frame(
            spark_l,
            [
                (m, c + 1, cb[m][c])
                for m in range(len(cb))
                for c in range(len(cb[m]))
            ],
            "m int, code int, sv array<bigint>",
        )
        return {
            "postings": postings,
            "new_cents": cent_rows,
            "new_cb": cb_rows,
        }

    return _epoch_writer(
        _plan, {"postings": out, "new_cents": cent_state, "new_cb": cb_state}
    )


@staged("ivfpq_stream_index")
def _siq_out_dir(spark: SparkSession, sf_dir: str, base: str) -> str:
    out = os.path.join(base, "out")
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    _run_split_landings(
        spark,
        base,
        [emb.filter(F.col("vec_id") % 2 == p) for p in (0, 1)],
        _ivfpq_index_processor(
            out, os.path.join(base, "cents"), os.path.join(base, "cb")
        ),
    )
    return out


def _siq_oracle() -> str:
    from data_ingestion_din_spark.plans.similarity_queries import (
        _KM_DIST,
        _PQ_D,
        _PQ_DIST,
        _PQ_SUB,
        _km_ctes,
        _pq_ctes,
    )

    return f"""
    WITH {_km_ctes("(SELECT * FROM embeddings WHERE vec_id % 2 = 0)", p="km")},
    bq AS (
      SELECT vec_id,
             list_transform(
               embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
             ) AS qv
      FROM embeddings WHERE vec_id % 2 = 0
    ),
    {_pq_ctes(qsrc="bq")},
    bb AS (
      SELECT vec_id,
             list_transform(
               embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
             ) AS qv
      FROM embeddings WHERE vec_id % 2 = 1
    ),
    ab AS (
      SELECT q.vec_id, s.cluster
      FROM bb q CROSS JOIN kmc1f s
      QUALIFY row_number() OVER (
        PARTITION BY q.vec_id ORDER BY {_KM_DIST}, s.cluster) = 1
    ),
    bsub AS (
      SELECT vec_id, m,
             list_slice(qv, m * {_PQ_D} + 1, m * {_PQ_D} + {_PQ_D}) AS sv
      FROM bb, range(0, {_PQ_SUB}) t(m)
    ),
    bcodes AS (
      SELECT s.vec_id, s.m, c.code
      FROM bsub s JOIN c1f c ON c.m = s.m
      QUALIFY row_number() OVER (
        PARTITION BY s.vec_id, s.m ORDER BY {_PQ_DIST}, c.code) = 1
    )
    SELECT co.vec_id, CAST(a.cluster AS INT) AS cluster,
           CAST(co.m AS INT) AS m, CAST(co.code AS INT) AS code,
           FALSE AS incremental
    FROM codes co JOIN kma2 a ON a.vec_id = co.vec_id
    UNION ALL
    SELECT co.vec_id, CAST(a.cluster AS INT) AS cluster,
           CAST(co.m AS INT) AS m, CAST(co.code AS INT) AS code,
           TRUE AS incremental
    FROM bcodes co JOIN ab a ON a.vec_id = co.vec_id
    ORDER BY vec_id, m
    """


@query("streaming_ivfpq_index", oracle=_siq_oracle())
def streaming_ivfpq_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read back both landings' posting-list entries; the oracle
    restates train-both-artifacts-on-landing-1 + route-and-encode-
    landing-2-against-the-frozen-states, so hash parity proves BOTH the
    quantizer and the codebooks survived the checkpointed restart."""
    out = _siq_out_dir(spark, sf_dir)
    return (
        spark.read.parquet(out)
        .select(
            "vec_id",
            F.col("cluster").cast("int").alias("cluster"),
            F.col("m").cast("int").alias("m"),
            F.col("code").cast("int").alias("code"),
            "incremental",
        )
        .orderBy("vec_id", "m")
    )


# --------------------------------------------------------------------------
# streaming_ivfpq_serve — close the loop: serve a top-k query FROM the
# index streaming_ivfpq_index just maintained. The posting lists (the
# streamed epoch-keyed parquet), the frozen centroid state (routes the
# probe) and the frozen codebook state (builds the probe's ADC table)
# are all read back from the maintained artifacts — nothing is
# recomputed from the corpus except the final exact rerank over the
# ≤20-row shortlist. This is the contract an index maintainer must
# honor: the thing it appends to IS the thing production serves, and
# hash parity against the from-scratch oracle proves it.
#
# Scale: the probe touches ONE cell's posting rows (cluster =
# partition key at scale), scoring is integer lookups, and the only
# full-vector reads are the shortlist's.
# --------------------------------------------------------------------------
def _siq_serve_oracle() -> str:
    from data_ingestion_din_spark.functions.vectors import cosine_exact_sql
    from data_ingestion_din_spark.plans.similarity_queries import (
        _KM_DIST,
        _PQ_D,
        _PQ_DIST,
        _PQ_SUB,
        _km_ctes,
        _pq_ctes,
    )

    return f"""
    WITH {_km_ctes("(SELECT * FROM embeddings WHERE vec_id % 2 = 0)", p="km")},
    bq AS (
      SELECT vec_id,
             list_transform(
               embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
             ) AS qv
      FROM embeddings WHERE vec_id % 2 = 0
    ),
    {_pq_ctes(qsrc="bq")},
    bb AS (
      SELECT vec_id,
             list_transform(
               embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
             ) AS qv
      FROM embeddings WHERE vec_id % 2 = 1
    ),
    ab AS (
      SELECT q.vec_id, s.cluster
      FROM bb q CROSS JOIN kmc1f s
      QUALIFY row_number() OVER (
        PARTITION BY q.vec_id ORDER BY {_KM_DIST}, s.cluster) = 1
    ),
    bsub AS (
      SELECT vec_id, m,
             list_slice(qv, m * {_PQ_D} + 1, m * {_PQ_D} + {_PQ_D}) AS sv
      FROM bb, range(0, {_PQ_SUB}) t(m)
    ),
    bcodes AS (
      SELECT s.vec_id, s.m, c.code
      FROM bsub s JOIN c1f c ON c.m = s.m
      QUALIFY row_number() OVER (
        PARTITION BY s.vec_id, s.m ORDER BY {_PQ_DIST}, c.code) = 1
    ),
    allp AS (
      SELECT co.vec_id, a.cluster, co.m, co.code
      FROM codes co JOIN kma2 a ON a.vec_id = co.vec_id
      UNION ALL
      SELECT co.vec_id, a.cluster, co.m, co.code
      FROM bcodes co JOIN ab a ON a.vec_id = co.vec_id
    ),
    pc AS (SELECT cluster FROM kma2 WHERE vec_id = 0),
    sh AS (
      SELECT p.vec_id, CAST(sum(a.dpart) AS BIGINT) AS adc_dist
      FROM allp p
      JOIN adc a ON a.m = p.m AND a.code = p.code
      CROSS JOIN pc
      WHERE p.vec_id <> 0 AND p.cluster = pc.cluster
      GROUP BY p.vec_id
      ORDER BY adc_dist, p.vec_id
      LIMIT 20
    )
    SELECT e.vec_id, sh.adc_dist,
           {cosine_exact_sql('e.embedding', 'qq.embedding')} AS cos_sim
    FROM sh JOIN embeddings e ON e.vec_id = sh.vec_id
    CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) qq
    ORDER BY cos_sim DESC, e.vec_id
    LIMIT 10
    """


@query("streaming_ivfpq_serve", oracle=_siq_serve_oracle())
def streaming_ivfpq_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_ingestion_din_spark.functions.vectors import cosine_exact
    from data_ingestion_din_spark.operators.similarity import (
        adc_lookup,
        nearest_cells,
        probe_qv,
    )

    out = _siq_out_dir(spark, sf_dir)
    base = os.path.dirname(out)
    # the two frozen artifacts, read back from the MAINTAINED state
    # (bounded control data: k×dims + n_sub·k·d_sub ints)
    crows = (
        spark.read.parquet(os.path.join(base, "cents"))
        .orderBy("cluster")
        .collect()
    )
    brows = (
        spark.read.parquet(os.path.join(base, "cb"))
        .orderBy("m", "code")
        .collect()
    )
    cents = [list(r.qv) for r in crows]
    n_sub = 1 + max(r.m for r in brows)
    cb = [[] for _ in range(n_sub)]
    for r in brows:
        cb[r.m].append(list(r.sv))
    emb = load_table(spark, sf_dir, "embeddings")
    q0 = probe_qv(emb)
    pc = nearest_cells(q0, cents, 1)[0]
    dpart = adc_lookup(q0, cb)
    postings = spark.read.parquet(out).filter(
        (F.col("cluster") == pc) & (F.col("vec_id") != 0)
    )
    shortlist = (
        postings.select("vec_id", dpart.alias("dpart"))
        .groupBy("vec_id")
        .agg(F.sum("dpart").cast("bigint").alias("adc_dist"))
        .orderBy("adc_dist", "vec_id")
        .limit(20)
    )
    probe_vec = F.broadcast(
        emb.filter(F.col("vec_id") == 0).select(
            F.col("embedding").alias("q_embedding")
        )
    )
    return (
        shortlist.join(emb.select("vec_id", "embedding"), "vec_id")
        .crossJoin(probe_vec)
        .select(
            "vec_id",
            "adc_dist",
            cosine_exact(F.col("embedding"), F.col("q_embedding")).alias(
                "cos_sim"
            ),
        )
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(10)
    )




# --------------------------------------------------------------------------
# streaming_ivf_rebalance — IVF cell maintenance under CHURN, the ops
# gap every production ANN service hits that the at-ingest index family
# above leaves open: streaming_ivf_index freezes its k=8 quantizer at
# the first landing and only ever routes appends, so a drifting corpus
# concentrates mass into a few cells and probe cost degrades. This
# query adds the incremental SPLIT: landing 1 trains the quantizer on a
# quarter of the corpus (vec_id % 4 = 0) and commits epoch-keyed
# (assignments + qv, centroids, per-cell masses); landing 2 routes the
# remaining 75% against the frozen centroids (O(batch × k·dims) argmin,
# no shuffle), merges the bounded per-cell mass counters (k rows of
# state + k rows from the batch — never a corpus rescan), and when the
# largest cell's mass exceeds _SIR_TRIG_MILLI per-mille of the mean
# cell mass, splits THAT CELL ONLY: its members are read back from the
# assignment state with a cluster-pushed parquet filter (the
# no-full-corpus-retrain property, plan-asserted in
# tests/test_streaming_rebalance.py), trained k=2 with the exact gated
# Lloyd (operators/similarity.kmeans_train_qv — the same truncating
# integer M-step as every quantizer here), and reassigned to fresh
# sub-cell ids parent*10+{1,2}; the parent id is RETIRED and never
# reused, which is what makes the filter-then-resolve member read sound
# (no vector can leave a cell except through the split that retires it,
# so within the cluster=c slice the latest epoch per vec_id is the
# truth). Split rows land at the same epoch as the landing's routed
# rows and supersede the members' earlier rows under the family's
# latest-epoch resolution; replay of either landing is idempotent
# (epoch-keyed overwrites, prior-epoch-only reads).
#
# The oracle is the batch re-walk verbatim: train-on-quarter
# (_km_ctes), route-the-rest, count masses, pick the offender
# (largest, lowest-id tie-break), unrolled k=2 Lloyd over exactly that
# cell's members, reassign — so hash parity proves the split decision,
# the sub-training and the supersede semantics all survived the
# checkpointed restart.
#
# Scale: per landing O(batch × k·dims) routing + O(k) mass bookkeeping;
# a split costs O(|cell| × 2·dims) training + |cell| rewrite rows —
# never O(corpus). At 100 TB the assignment state is a cluster-
# partitioned table and the same cluster-pushed read serves the split.
# --------------------------------------------------------------------------
_SIR_K = 8
_SIR_TRIG_MILLI = 1150  # split when mass > 1.15x mean cell mass


def _ivf_rebalance_processor(
    out: str,
    cent_state: str,
    mass_state: str,
    k: int = _SIR_K,
    trig_milli: int = _SIR_TRIG_MILLI,
):
    """foreachBatch processor over (assignments+qv, centroids, masses)
    epoch-keyed dirs — module-level for the replay/plan tests."""
    from data_ingestion_din_spark.functions.vectors import quantize
    from data_ingestion_din_spark.operators.similarity import (
        assign_to_centroids,
        kmeans_train,
        kmeans_train_qv,
    )

    def _plan(batch_df: DataFrame, epoch_id: int) -> dict:
        spark_l = batch_df.sparkSession
        qv_b = batch_df.select(
            "vec_id", quantize(F.col("embedding")).alias("qv")
        )
        # train when no PRIOR-epoch centroids exist (the replay trap,
        # streaming_core._frozen_model), decided by the collected rows
        latest = _latest_epoch_rows(
            spark_l, cent_state, ["cluster"], before_epoch=epoch_id
        )
        crows = (
            []
            if latest is None
            else latest.filter(~F.col("retired")).orderBy("cluster").collect()
        )
        if not crows:
            # first landing: train the coarse quantizer on itself
            assigned, cents = kmeans_train(batch_df, k=k, iters=2)
            rows = assigned.join(qv_b, "vec_id").select(
                "vec_id", "cluster", "qv", F.lit("trained").alias("phase")
            )
            masses = {
                int(r.cluster): int(r.n)
                for r in assigned.groupBy("cluster")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            cent_rows = [(c + 1, cents[c], False) for c in range(len(cents))]
            return {
                "assignments": rows,
                "cent_rows": cent_rows,
                "masses": masses,
                "split_cell": None,
                "members": None,
            }
        # later landing: route against the live (non-retired) centroids
        ids = [int(r.cluster) for r in crows]
        id_map = F.array(*[F.lit(i) for i in ids])
        routed = (
            assign_to_centroids(qv_b, [list(r.qv) for r in crows])
            .select(
                "vec_id",
                F.element_at(id_map, F.col("cluster"))
                .cast("int")
                .alias("cluster"),
                "qv",
            )
            .localCheckpoint(eager=True)
        )
        # bounded mass bookkeeping: k prior counters + k batch counts
        prior_mass = {
            int(r.cluster): int(r.mass)
            for r in _latest_epoch_rows(
                spark_l, mass_state, ["cluster"], before_epoch=epoch_id
            ).collect()
        }
        for r in (
            routed.groupBy("cluster").agg(F.count(F.lit(1)).alias("n"))
        ).collect():
            prior_mass[int(r.cluster)] = (
                prior_mass.get(int(r.cluster), 0) + int(r.n)
            )
        masses = prior_mass
        total = sum(masses.values())
        n_cells = len(masses)
        offenders = [
            c
            for c, m in masses.items()
            if m * n_cells * 1000 > total * trig_milli
        ]
        if not offenders:
            return {
                "assignments": routed.withColumn(
                    "phase", F.lit("incremental")
                ),
                "cent_rows": [],
                "masses": masses,
                "split_cell": None,
                "members": None,
            }
        c_split = sorted(offenders, key=lambda c: (-masses[c], c))[0]
        # members of the oversized cell ONLY: cluster-pushed parquet
        # filter on the state (sound under retired-ids-never-reused —
        # see header), plus this landing's routed members
        prior_members = (
            _prior_epochs(spark_l, out, epoch_id)
            .filter(F.col("cluster") == c_split)
            .select("vec_id", "qv")
        )
        members = prior_members.unionByName(
            routed.filter(F.col("cluster") == c_split).select(
                "vec_id", "qv"
            )
        )
        sub_assigned, sub_cents = kmeans_train_qv(members, k=2, iters=2)
        split_rows = (
            sub_assigned.withColumn(
                "cluster",
                (F.lit(c_split * 10) + F.col("cluster")).cast("int"),
            )
            .join(members, "vec_id")
            .select("vec_id", "cluster", "qv", F.lit("split").alias("phase"))
        )
        sub_mass = {
            c_split * 10 + int(r.cluster): int(r.n)
            for r in sub_assigned.groupBy("cluster")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        del masses[c_split]
        masses.update(sub_mass)
        cent_rows = [
            (c_split * 10 + 1, sub_cents[0], False),
            (c_split * 10 + 2, sub_cents[1], False),
            (c_split, [], True),  # retire the parent id, never reused
        ]
        return {
            "assignments": routed.filter(F.col("cluster") != c_split)
            .withColumn("phase", F.lit("incremental"))
            .unionByName(split_rows),
            "cent_rows": cent_rows,
            "masses": masses,
            "split_cell": c_split,
            "members": members,
        }

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # own body, not _epoch_writer: the centroid and mass state are
        # driver-side rows the plan hands back as lists
        spark_l = batch_df.sparkSession
        dfs = _plan(batch_df, epoch_id)
        _write_epoch(dfs["assignments"], out, epoch_id)
        if dfs["cent_rows"]:
            _write_epoch(
                local_frame(
                    spark_l,
                    dfs["cent_rows"],
                    "cluster int, qv array<bigint>, retired boolean",
                ),
                cent_state,
                epoch_id,
            )
        _write_epoch(
            local_frame(
                spark_l, sorted(dfs["masses"].items()), "cluster int, mass bigint"
            ),
            mass_state,
            epoch_id,
        )

    _process.plan = _plan
    return _process


@staged("ivf_rebalance_landings")
def _sir_out_dir(spark: SparkSession, sf_dir: str, base: str) -> str:
    out = os.path.join(base, "out")
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    _run_split_landings(
        spark,
        base,
        [
            emb.filter(F.col("vec_id") % 4 == 0),
            emb.filter(F.col("vec_id") % 4 != 0),
        ],
        _ivf_rebalance_processor(
            out,
            os.path.join(base, "cents"),
            os.path.join(base, "mass"),
        ),
    )
    return out


def _sir_oracle() -> str:
    from data_ingestion_din_spark.plans.similarity_queries import (
        _DIMS_UB,
        _KM_DIST,
        _km_ctes,
    )

    return f"""
    WITH {_km_ctes("(SELECT * FROM embeddings WHERE vec_id % 4 = 0)")},
    batch AS (
      SELECT vec_id,
             list_transform(
               embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
             ) AS qv
      FROM embeddings WHERE vec_id % 4 <> 0
    ),
    ab AS (
      SELECT q.vec_id, q.qv, s.cluster
      FROM batch q CROSS JOIN c1f s
      QUALIFY row_number() OVER (
        PARTITION BY q.vec_id ORDER BY {_KM_DIST}, s.cluster) = 1
    ),
    allr AS (
      SELECT a.vec_id, a.cluster, q.qv, 'trained' AS phase
      FROM a2 a JOIN q USING (vec_id)
      UNION ALL
      SELECT vec_id, cluster, qv, 'incremental' AS phase FROM ab
    ),
    mass AS (
      SELECT cluster, CAST(count(*) AS BIGINT) AS n
      FROM allr GROUP BY cluster
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS t,
                   CAST(count(*) AS BIGINT) AS nc FROM mass),
    trig AS (
      SELECT cluster AS c FROM mass, tot
      WHERE n * nc * 1000 > t * {_SIR_TRIG_MILLI}
      ORDER BY n DESC, cluster LIMIT 1
    ),
    members AS (
      SELECT vec_id, qv FROM allr
      WHERE cluster = (SELECT c FROM trig)
    ),
    sseeds AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) AS cluster,
             qv
      FROM (SELECT * FROM members ORDER BY vec_id LIMIT 2)
    ),
    sa1 AS (
      SELECT q.vec_id, q.qv, s.cluster
      FROM members q CROSS JOIN sseeds s
      QUALIFY row_number() OVER (
        PARTITION BY q.vec_id ORDER BY {_KM_DIST}, s.cluster) = 1
    ),
    sm1 AS (
      SELECT cluster, i AS dim, sum(qv[i]) // count(*) AS c
      FROM sa1, range(1, {_DIMS_UB}) t(i)
      GROUP BY cluster, i
    ),
    sc1 AS (SELECT cluster, list(c ORDER BY dim) AS qv FROM sm1
            GROUP BY cluster),
    sc1f AS (
      SELECT s.cluster, coalesce(c.qv, s.qv) AS qv
      FROM sseeds s LEFT JOIN sc1 c ON s.cluster = c.cluster
    ),
    sa2 AS (
      SELECT q.vec_id, s.cluster
      FROM members q CROSS JOIN sc1f s
      QUALIFY row_number() OVER (
        PARTITION BY q.vec_id ORDER BY {_KM_DIST}, s.cluster) = 1
    )
    SELECT vec_id, CAST(cluster AS INT) AS cluster, phase FROM allr
    WHERE cluster <> coalesce((SELECT c FROM trig), -1)
    UNION ALL
    SELECT vec_id,
           CAST((SELECT c FROM trig) * 10 + cluster AS INT) AS cluster,
           'split' AS phase
    FROM sa2
    ORDER BY vec_id
    """


@query("streaming_ivf_rebalance", oracle=_sir_oracle())
def streaming_ivf_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read back the latest-epoch assignment per vector after the two
    landings; the oracle re-walks train → route → trigger → cell-local
    k=2 split in batch SQL, so parity proves the rebalance decision and
    the split reassignment survived the checkpointed restart."""

    out = _sir_out_dir(spark, sf_dir)
    return (
        _latest_epoch_rows(spark, out, ["vec_id"])
        .select(
            "vec_id",
            F.col("cluster").cast("int").alias("cluster"),
            "phase",
        )
        .orderBy("vec_id")
    )
