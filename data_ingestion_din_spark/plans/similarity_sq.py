"""Scalar-quantization and sweep-audit similarity queries: the SQ8 /
IVFSQ8 compression family, the MRL truncation grid, the IVF nlist
routing sweep, and the IVFPQ rerank-depth sweep — split family-line
from plans/similarity_queries.py (r12 module-size hygiene; the shared
k-means / PQ / sweep helpers stay there and are imported below).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_din_spark.functions.vectors import (
    cosine_exact,
    cosine_exact_sql,
)
from data_ingestion_din_spark.plans.registry import query
from data_ingestion_din_spark.plans.similarity_queries import (
    _DIMS_UB,
    _MP_MASKS,
    _N_PLANES,
    _lsh_bucket_sql,
    _IVF_INC_MOD,
    _IVFPQ_SHORTLIST,
    _PQ_D,
    _PQ_SHORTLIST,
    _SWEEP_N,
    _etop_staged,
    _ivfpq_shortlist,
    _km8,
    _km8_pair,
    _km_ctes,
    _pq_ctes,
    _probe_rerank,
    _rank_cut,
    _recall_row,
    _shortlist_recall,
)
from data_ingestion_din_spark.sources.tables import load_table

# --------------------------------------------------------------------------
# similarity_sq8_topk / similarity_sq8_recall_sweep — SCALAR
# quantization (SQ8), the fifth quantization point on the ANN surface
# next to PQ (Jégou et al. 2011 §II.A's baseline; FAISS
# ScalarQuantizer): each dimension is mapped to one byte against
# per-dim [min, max] trained over the corpus — 4× compression at
# dims=64 float32 vs PQ's 16× — and scoring reconstructs
# (rec = mn + code·(mx−mn)/255, all floor integer arithmetic over the
# 1e6-quantized vectors, so train/encode/score are hash-gated
# end-to-end with no float rotation anywhere, unlike OPQ). Serving is
# the same two-stage protocol as similarity_pq_topk (SQ8 shortlist →
# exact cosine rerank), and the sweep is the same 20-probe recall@10
# protocol as the IVFPQ sweeps (shortlist 20, shared session-staged
# exact side), so the quantization families are compared like for
# like: recall per byte, measured.
#
# Measured (sf0.01, nprobe-free flat scan): mean recall@10 = 1.000 —
# SQ8's 8-bit/dim grid preserves this fixture's distances essentially
# losslessly through the shortlist-20 → exact-rerank protocol, vs the
# PQ sweeps' 0.235-0.25 at nprobe=1 (k=4 codebooks): 4× vs 16×
# compression buying a 4× recall gap — exactly the recall-per-byte
# trade an index owner tunes, measured not assumed. (The 1.0 is the
# flat-scan ceiling: no cell pruning loss is in this number, by
# construction.)
#
# Scale: the trained artifact is 64 (mn, mx) rows — bounded control
# data (broadcast class); encode is one narrow long-format projection;
# the flat ADC scan costs corpus × n_probes like every flat index —
# SQ8 is a COMPRESSION scheme, not a pruning scheme; at 100 TB it
# composes with IVF cells (the ivfpq family's routing) exactly as PQ
# does.
# --------------------------------------------------------------------------
_SQ8_ENC = (
    "mn + ((((v - mn) * 255) DIV greatest(mx - mn, 1)) * (mx - mn)) DIV 255"
)
_SQ8_ENC_SQL = (
    "mn + ((((v - mn) * 255) // greatest(mx - mn, 1)) * (mx - mn)) // 255"
)
_SQ8_CTES = f"""q AS (
      SELECT vec_id,
             list_transform(
               embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
             ) AS qv
      FROM embeddings
    ),
    qd AS (
      SELECT vec_id, i, qv[i] AS v FROM q CROSS JOIN range(1, {_DIMS_UB}) r(i)
    ),
    dim AS (SELECT i, min(v) AS mn, max(v) AS mx FROM qd GROUP BY i),
    enc AS (
      SELECT vec_id, qd.i, {_SQ8_ENC_SQL} AS rec
      FROM qd JOIN dim ON dim.i = qd.i
    )"""


def _sq8_enc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-format SQ8 reconstruction table (vec_id, i, rec): per-dim
    [mn, mx] trained over the corpus (64 bounded rows — the broadcast
    class), then the byte code and its reconstruction in one codegen
    projection. Long format on purpose: the per-dim scalar exprs stay
    in whole-stage codegen (the explode-before-project playbook)."""
    from data_ingestion_din_spark.functions.vectors import quantize

    emb = load_table(spark, sf_dir, "embeddings")
    qd = (
        emb.select("vec_id", quantize(F.col("embedding")).alias("qv"))
        .select("vec_id", F.posexplode("qv").alias("i0", "v"))
        .select("vec_id", (F.col("i0") + 1).alias("i"), "v")
    )
    dim = qd.groupBy("i").agg(
        F.min("v").alias("mn"), F.max("v").alias("mx")
    )
    return (
        qd.join(F.broadcast(dim), "i")
        .select("vec_id", "i", "v", F.expr(_SQ8_ENC).alias("rec"))
    )


@query(
    "similarity_sq8_topk",
    oracle=f"""
    WITH {_SQ8_CTES},
    p AS (SELECT i, v AS pv FROM qd WHERE vec_id = 0),
    d AS (
      SELECT e.vec_id,
             CAST(sum((p.pv - e.rec) * (p.pv - e.rec)) AS BIGINT)
               AS sq_dist
      FROM enc e JOIN p ON p.i = e.i
      WHERE e.vec_id <> 0 GROUP BY e.vec_id
    ),
    sh AS (SELECT * FROM d ORDER BY sq_dist, vec_id LIMIT {_PQ_SHORTLIST})
    SELECT e.vec_id, sh.sq_dist,
           {cosine_exact_sql('e.embedding', 'qq.embedding')} AS cos_sim
    FROM sh JOIN embeddings e ON e.vec_id = sh.vec_id
    CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) qq
    ORDER BY cos_sim DESC, e.vec_id
    LIMIT 10
    """,
)
def similarity_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    enc = _sq8_enc(spark, sf_dir)
    # probe side: the 64 exact per-dim values of vec 0 (bounded)
    p = enc.filter(F.col("vec_id") == 0).select(
        "i", F.col("v").alias("pv")
    )
    shortlist = (
        enc.filter(F.col("vec_id") != 0)
        .join(F.broadcast(p), "i")
        .groupBy("vec_id")
        .agg(
            F.sum((F.col("pv") - F.col("rec")) * (F.col("pv") - F.col("rec")))
            .cast("bigint")
            .alias("sq_dist")
        )
        .orderBy("sq_dist", "vec_id")
        .limit(_PQ_SHORTLIST)
    )
    qq = F.broadcast(
        emb.filter(F.col("vec_id") == 0).select(
            F.col("embedding").alias("q_embedding")
        )
    )
    return (
        shortlist.join(emb.select("vec_id", "embedding"), "vec_id")
        .crossJoin(qq)
        .select(
            "vec_id",
            "sq_dist",
            cosine_exact(F.col("embedding"), F.col("q_embedding")).alias(
                "cos_sim"
            ),
        )
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(10)
    )


def _sq8_sweep_oracle() -> str:
    return f"""
    WITH {_SQ8_CTES},
    pr AS (
      SELECT vec_id AS probe, i, v AS pv FROM qd WHERE vec_id < {_SWEEP_N}
    ),
    d AS (
      SELECT pr.probe, e.vec_id,
             CAST(sum((pr.pv - e.rec) * (pr.pv - e.rec)) AS BIGINT)
               AS sq_dist
      FROM enc e JOIN pr ON pr.i = e.i
      WHERE e.vec_id <> pr.probe GROUP BY pr.probe, e.vec_id
    ),
    sh AS (
      SELECT probe, vec_id FROM d
      QUALIFY row_number() OVER (
        PARTITION BY probe ORDER BY sq_dist, vec_id) <= {_IVFPQ_SHORTLIST}
    ),
    rr AS (
      SELECT sh.probe, sh.vec_id,
             {cosine_exact_sql('e.embedding', 'pe.embedding')} AS cos
      FROM sh
      JOIN embeddings e ON e.vec_id = sh.vec_id
      JOIN embeddings pe ON pe.vec_id = sh.probe
    ),
    itop AS (
      SELECT probe, vec_id FROM rr
      QUALIFY row_number() OVER (
        PARTITION BY probe ORDER BY cos DESC, vec_id) <= 10
    ),
    ex AS (
      SELECT p.vec_id AS probe, e.vec_id,
             {cosine_exact_sql('e.embedding', 'p.embedding')} AS cos
      FROM embeddings e
      CROSS JOIN (SELECT vec_id, embedding FROM embeddings
                  WHERE vec_id < {_SWEEP_N}) p
      WHERE e.vec_id <> p.vec_id
    ),
    etop AS (
      SELECT probe, vec_id FROM ex
      QUALIFY row_number() OVER (
        PARTITION BY probe ORDER BY cos DESC, vec_id) <= 10
    ),
    ov AS (
      SELECT e.probe FROM etop e
      JOIN itop i ON i.probe = e.probe AND i.vec_id = e.vec_id
    )
    SELECT CAST({_SWEEP_N} AS BIGINT) AS n_probes,
           (SELECT CAST(count(*) AS BIGINT) FROM etop) AS n_exact_total,
           (SELECT CAST(count(*) AS BIGINT) FROM ov) AS n_overlap_total,
           round(CAST((SELECT count(*) FROM ov) AS DOUBLE)
                 / (SELECT count(*) FROM etop), 6) AS mean_recall
    """


@query("similarity_sq8_recall_sweep", oracle=_sq8_sweep_oracle())
def similarity_sq8_recall_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    enc = _sq8_enc(spark, sf_dir).localCheckpoint(
        eager=False
    )  # one encode pass feeds probe side and corpus side
    pr = enc.filter(F.col("vec_id") < _SWEEP_N).select(
        F.col("vec_id").alias("probe"), "i", F.col("v").alias("pv")
    )
    d = (
        enc.join(F.broadcast(pr), "i")
        .filter(F.col("vec_id") != F.col("probe"))
        .groupBy("probe", "vec_id")
        .agg(
            F.sum((F.col("pv") - F.col("rec")) * (F.col("pv") - F.col("rec")))
            .cast("bigint")
            .alias("sq_dist")
        )
    )
    return _shortlist_recall(
        spark, sf_dir, _rank_cut(d, "sq_dist", "vec_id", k=_IVFPQ_SHORTLIST)
    )


# --------------------------------------------------------------------------
# similarity_ivfsq8_topk / similarity_ivfsq8_recall_sweep — SQ8
# composed with IVF routing, completing the quantization × routing
# matrix (IVF+PQ ✓, flat SQ8 ✓): candidates are the probe's k=8 cell
# members only (the semi-join hits the SQ8 reconstruction table BEFORE
# any scoring — the same plan contract as similarity_ivfpq_topk), then
# integer SQ8 distance → shortlist → exact cosine rerank.
#
# The sweep is the measurement this composition exists for: flat SQ8
# read 1.000 recall@10 (quantization is near-lossless here), so the
# celled sweep's number is the ROUTING loss in isolation — nprobe=1
# recall is capped by how many true neighbors share the probe's cell,
# the quantity the IVFPQ sweeps could never separate from their
# codebook loss (their 0.235-0.25 at nprobe=1 mixes both). Measured
# (sf0.01): see the comment update after the run — cells claim their
# share of the loss, SQ8 claims ~none.
#
# Scale: one cell's reconstructions scanned per probe; the 64-row
# [mn,mx] artifact and per-probe dim tables broadcast; shortlist-only
# exact rerank — the billion-vector serving shape with 4× compression.
# --------------------------------------------------------------------------
@query(
    "similarity_ivfsq8_topk",
    oracle=f"""
    WITH {_km_ctes(p="km")},
    {_SQ8_CTES},
    p AS (SELECT i, v AS pv FROM qd WHERE vec_id = 0),
    pc AS (SELECT cluster FROM kma2 WHERE vec_id = 0),
    cellv AS (
      SELECT e.vec_id, e.i, e.rec
      FROM enc e JOIN kma2 a ON a.vec_id = e.vec_id CROSS JOIN pc
      WHERE a.cluster = pc.cluster AND e.vec_id <> 0
    ),
    d AS (
      SELECT c.vec_id,
             CAST(sum((p.pv - c.rec) * (p.pv - c.rec)) AS BIGINT)
               AS sq_dist
      FROM cellv c JOIN p ON p.i = c.i
      GROUP BY c.vec_id
    ),
    sh AS (SELECT * FROM d ORDER BY sq_dist, vec_id LIMIT {_IVFPQ_SHORTLIST})
    SELECT e.vec_id, sh.sq_dist,
           {cosine_exact_sql('e.embedding', 'qq.embedding')} AS cos_sim
    FROM sh JOIN embeddings e ON e.vec_id = sh.vec_id
    CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) qq
    ORDER BY cos_sim DESC, e.vec_id
    LIMIT 10
    """,
)
def similarity_ivfsq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    assigned = _km8(spark, sf_dir)
    enc = _sq8_enc(spark, sf_dir)
    pcell = assigned.filter(F.col("vec_id") == 0).collect()[0].cluster
    cell_ids = assigned.filter(
        (F.col("cluster") == F.lit(int(pcell))) & (F.col("vec_id") != 0)
    ).select("vec_id")
    p = enc.filter(F.col("vec_id") == 0).select(
        "i", F.col("v").alias("pv")
    )
    shortlist = (
        # cell restriction BEFORE scoring (the composition's contract)
        enc.join(cell_ids, "vec_id", "left_semi")
        .join(F.broadcast(p), "i")
        .groupBy("vec_id")
        .agg(
            F.sum((F.col("pv") - F.col("rec")) * (F.col("pv") - F.col("rec")))
            .cast("bigint")
            .alias("sq_dist")
        )
        .orderBy("sq_dist", "vec_id")
        .limit(_IVFPQ_SHORTLIST)
    )
    qq = F.broadcast(
        emb.filter(F.col("vec_id") == 0).select(
            F.col("embedding").alias("q_embedding")
        )
    )
    return (
        shortlist.join(emb.select("vec_id", "embedding"), "vec_id")
        .crossJoin(qq)
        .select(
            "vec_id",
            "sq_dist",
            cosine_exact(F.col("embedding"), F.col("q_embedding")).alias(
                "cos_sim"
            ),
        )
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(10)
    )


def _ivfsq8_sweep_oracle() -> str:
    return f"""
    WITH {_km_ctes(p="km")},
    {_SQ8_CTES},
    pr AS (
      SELECT vec_id AS probe, i, v AS pv FROM qd WHERE vec_id < {_SWEEP_N}
    ),
    pcell AS (
      SELECT vec_id AS probe, cluster FROM kma2 WHERE vec_id < {_SWEEP_N}
    ),
    cand AS (
      SELECT p.probe, a.vec_id
      FROM kma2 a JOIN pcell p ON a.cluster = p.cluster
      WHERE a.vec_id <> p.probe
    ),
    d AS (
      SELECT c.probe, c.vec_id,
             CAST(sum((pr.pv - e.rec) * (pr.pv - e.rec)) AS BIGINT)
               AS sq_dist
      FROM cand c
      JOIN enc e ON e.vec_id = c.vec_id
      JOIN pr ON pr.probe = c.probe AND pr.i = e.i
      GROUP BY c.probe, c.vec_id
    ),
    sh AS (
      SELECT probe, vec_id FROM d
      QUALIFY row_number() OVER (
        PARTITION BY probe ORDER BY sq_dist, vec_id) <= {_IVFPQ_SHORTLIST}
    ),
    rr AS (
      SELECT sh.probe, sh.vec_id,
             {cosine_exact_sql('e.embedding', 'pe.embedding')} AS cos
      FROM sh
      JOIN embeddings e ON e.vec_id = sh.vec_id
      JOIN embeddings pe ON pe.vec_id = sh.probe
    ),
    itop AS (
      SELECT probe, vec_id FROM rr
      QUALIFY row_number() OVER (
        PARTITION BY probe ORDER BY cos DESC, vec_id) <= 10
    ),
    ex AS (
      SELECT p.vec_id AS probe, e.vec_id,
             {cosine_exact_sql('e.embedding', 'p.embedding')} AS cos
      FROM embeddings e
      CROSS JOIN (SELECT vec_id, embedding FROM embeddings
                  WHERE vec_id < {_SWEEP_N}) p
      WHERE e.vec_id <> p.vec_id
    ),
    etop AS (
      SELECT probe, vec_id FROM ex
      QUALIFY row_number() OVER (
        PARTITION BY probe ORDER BY cos DESC, vec_id) <= 10
    ),
    ov AS (
      SELECT e.probe FROM etop e
      JOIN itop i ON i.probe = e.probe AND i.vec_id = e.vec_id
    )
    SELECT CAST({_SWEEP_N} AS BIGINT) AS n_probes,
           (SELECT CAST(count(*) AS BIGINT) FROM etop) AS n_exact_total,
           (SELECT CAST(count(*) AS BIGINT) FROM ov) AS n_overlap_total,
           round(CAST((SELECT count(*) FROM ov) AS DOUBLE)
                 / (SELECT count(*) FROM etop), 6) AS mean_recall
    """


@query("similarity_ivfsq8_recall_sweep", oracle=_ivfsq8_sweep_oracle())
def similarity_ivfsq8_recall_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    assigned = _km8(spark, sf_dir)
    enc = _sq8_enc(spark, sf_dir).localCheckpoint(eager=False)
    pcells = assigned.filter(F.col("vec_id") < _SWEEP_N).select(
        F.col("vec_id").alias("probe"), F.col("cluster").alias("pcell")
    )
    pr = enc.filter(F.col("vec_id") < _SWEEP_N).select(
        F.col("vec_id").alias("probe"), "i", F.col("v").alias("pv")
    )
    cand = (
        assigned.join(
            F.broadcast(pcells), F.col("cluster") == F.col("pcell")
        )
        .filter(F.col("vec_id") != F.col("probe"))
        .select("probe", "vec_id")
    )
    d = (
        cand.join(enc, "vec_id")
        .join(F.broadcast(pr), ["probe", "i"])
        .groupBy("probe", "vec_id")
        .agg(
            F.sum((F.col("pv") - F.col("rec")) * (F.col("pv") - F.col("rec")))
            .cast("bigint")
            .alias("sq_dist")
        )
    )
    return _shortlist_recall(
        spark, sf_dir, _rank_cut(d, "sq_dist", "vec_id", k=_IVFPQ_SHORTLIST)
    )


# --------------------------------------------------------------------------
# similarity_sq8_incremental — the SQ8 index under append, with the
# failure mode PQ's incremental row cannot exhibit: a frozen PER-DIM
# [mn, mx] grid CLAMPS appended values that drift outside the trained
# range (a frozen PQ codebook merely encodes them badly; a frozen
# scalar grid saturates). The grid trains on the pre-append base
# (vec_id % 97 != 0) and is never retrained; the appended slice
# (vec_id % 97 == 0) is encoded against it with
# code = clamp((v−mn)·255 div max(mx−mn,1), 0, 255). The audit is 64
# hash-gated per-dim rows: the frozen range, base/batch value counts,
# how many batch values clamped low/high, and the integer sum of
# |v − rec| over the batch — the per-dim drift signal an index owner
# alerts on (rising clamp counts mean the grid needs retraining).
# Measured (sf0.01): 1 of 384 appended values clamps low (the fixture
# batch barely drifts), mean |v−rec| ≈ 1598 at the 1e6 quant scale ≈
# the 8-bit grid step — the audit reads the resolution directly.
#
# Scale: grid training is one base aggregation; the batch side is a
# narrow projection against the 64-row broadcast grid — no retraining,
# no base rescan, no shuffle beyond the 64-row rollup.
# --------------------------------------------------------------------------
_SQ8_INC_ENC = (
    "least(greatest(((v - mn) * 255) DIV greatest(mx - mn, 1),"
    " cast(0 as bigint)), cast(255 as bigint))"
)
_SQ8_INC_ENC_SQL = (
    "least(greatest(((v - mn) * 255) // greatest(mx - mn, 1),"
    " CAST(0 AS BIGINT)), CAST(255 AS BIGINT))"
)


@query(
    "similarity_sq8_incremental",
    oracle=f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(
               embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
             ) AS qv
      FROM embeddings
    ),
    qd AS (
      SELECT vec_id, i, qv[i] AS v FROM q CROSS JOIN range(1, {_DIMS_UB}) r(i)
    ),
    dim AS (
      SELECT i, min(v) AS mn, max(v) AS mx,
             CAST(count(*) AS BIGINT) AS n_base
      FROM qd WHERE vec_id % {_IVF_INC_MOD} <> 0 GROUP BY i
    ),
    b AS (
      SELECT qd.vec_id, qd.i, qd.v, d.mn, d.mx, d.n_base,
             {_SQ8_INC_ENC_SQL} AS code
      FROM qd JOIN dim d ON d.i = qd.i
      WHERE qd.vec_id % {_IVF_INC_MOD} = 0
    ),
    r AS (
      SELECT *, mn + (code * (mx - mn)) // 255 AS rec FROM b
    )
    SELECT CAST(i AS INT) AS dim,
           CAST(mn AS BIGINT) AS mn, CAST(mx AS BIGINT) AS mx,
           CAST(n_base AS BIGINT) AS n_base,
           CAST(count(*) AS BIGINT) AS n_batch,
           CAST(sum(CASE WHEN v < mn THEN 1 ELSE 0 END) AS BIGINT)
             AS clamped_lo,
           CAST(sum(CASE WHEN v > mx THEN 1 ELSE 0 END) AS BIGINT)
             AS clamped_hi,
           CAST(sum(abs(v - rec)) AS BIGINT) AS abs_err_sum
    FROM r
    GROUP BY i, mn, mx, n_base
    ORDER BY dim
    """,
)
def similarity_sq8_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from data_ingestion_din_spark.functions.vectors import quantize

    emb = load_table(spark, sf_dir, "embeddings")
    qd = (
        emb.select("vec_id", quantize(F.col("embedding")).alias("qv"))
        .select("vec_id", F.posexplode("qv").alias("i0", "v"))
        .select("vec_id", (F.col("i0") + 1).alias("i"), "v")
        .localCheckpoint(eager=False)  # feeds grid training AND encode
    )
    dim = (
        qd.filter(F.col("vec_id") % _IVF_INC_MOD != 0)
        .groupBy("i")
        .agg(
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
            F.count(F.lit(1)).cast("bigint").alias("n_base"),
        )
    )
    batch = (
        qd.filter(F.col("vec_id") % _IVF_INC_MOD == 0)
        # the 64-row frozen grid: broadcast REQUIRED (bounded class)
        .join(F.broadcast(dim), "i")
        .withColumn("code", F.expr(_SQ8_INC_ENC))
        .withColumn(
            "rec", F.expr("mn + (code * (mx - mn)) DIV 255")
        )
    )
    return (
        batch.groupBy(
            F.col("i").cast("int").alias("dim"), "mn", "mx", "n_base"
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_batch"),
            F.sum(F.when(F.col("v") < F.col("mn"), 1).otherwise(0))
            .cast("bigint")
            .alias("clamped_lo"),
            F.sum(F.when(F.col("v") > F.col("mx"), 1).otherwise(0))
            .cast("bigint")
            .alias("clamped_hi"),
            F.sum(F.abs(F.col("v") - F.col("rec")))
            .cast("bigint")
            .alias("abs_err_sum"),
        )
        .select(
            "dim",
            F.col("mn").cast("bigint"),
            F.col("mx").cast("bigint"),
            "n_base",
            "n_batch",
            "clamped_lo",
            "clamped_hi",
            "abs_err_sum",
        )
        .orderBy("dim")
    )


# --------------------------------------------------------------------------
# similarity_mrl_dim_grid — the MATRYOSHKA truncation surface
# (Kusupati et al. 2022): MRL-trained embeddings are served at a
# prefix of their dimensions to trade recall for index size, and the
# number an owner needs is recall-vs-dims on THEIR corpus. One
# hash-gated row per d ∈ {8, 16, 32, 64}: top-10 by integer squared L2
# over the FIRST d quantized dimensions (the stated audit metric;
# vectors are unit-norm so the full-dim ranking coincides with the
# exact-cosine truth) against the shared exact top-10, through the
# recall-audit skeleton in similarity_queries (_etop_staged truth,
# _rank_cut, _recall_row). Measured (sf0.01): recall@10 = 0.090 /
# 0.135 / 0.315 / 1.000 at d = 8 / 16 / 32 / 64 — the honest baseline for
# NON-MRL-trained vectors (random unit vectors front-load nothing:
# half the dimensions buys less than a third of the recall), which is
# exactly the "before" column of an MRL adoption decision; the 1.000
# full-dim row doubles as the L2-rank ≡ cosine-rank check on the
# unit-norm fixture.
#
# Scale: one per-dim explode of the corpus joined to the broadcast
# 20-probe slice, with all four prefix distances accumulated in ONE
# grouped pass (sum(CASE WHEN i <= d ...)); the grid adds columns, not
# scans.
# --------------------------------------------------------------------------
_MRL_DIMS = (8, 16, 32, 64)


def _mrl_oracle() -> str:
    dsums = ",\n             ".join(
        f"CAST(sum(CASE WHEN pr.i <= {d} THEN"
        f" (pr.pv - qd.v) * (pr.pv - qd.v) ELSE 0 END) AS BIGINT)"
        f" AS d{d}"
        for d in _MRL_DIMS
    )
    per_d = "\n      UNION ALL\n      ".join(
        f"""SELECT {d} AS dims,
             (SELECT count(*) FROM etop) AS n_exact_total,
             (SELECT count(*) FROM etop e
              JOIN (SELECT probe, vec_id FROM dist
                    QUALIFY row_number() OVER (
                      PARTITION BY probe ORDER BY d{d}, vec_id) <= 10) i
                ON i.probe = e.probe AND i.vec_id = e.vec_id)
               AS n_overlap_total"""
        for d in _MRL_DIMS
    )
    return f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(
               embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
             ) AS qv
      FROM embeddings
    ),
    qd AS (
      SELECT vec_id, i, qv[i] AS v FROM q CROSS JOIN range(1, {_DIMS_UB}) r(i)
    ),
    pr AS (
      SELECT vec_id AS probe, i, v AS pv FROM qd WHERE vec_id < {_SWEEP_N}
    ),
    dist AS (
      SELECT pr.probe, qd.vec_id,
             {dsums}
      FROM qd JOIN pr ON pr.i = qd.i
      WHERE qd.vec_id <> pr.probe GROUP BY pr.probe, qd.vec_id
    ),
    ex AS (
      SELECT p.vec_id AS probe, e.vec_id,
             {cosine_exact_sql('e.embedding', 'p.embedding')} AS cos
      FROM embeddings e
      CROSS JOIN (SELECT vec_id, embedding FROM embeddings
                  WHERE vec_id < {_SWEEP_N}) p
      WHERE e.vec_id <> p.vec_id
    ),
    etop AS (
      SELECT probe, vec_id FROM ex
      QUALIFY row_number() OVER (
        PARTITION BY probe ORDER BY cos DESC, vec_id) <= 10
    )
    SELECT CAST(dims AS INT) AS dims,
           CAST({_SWEEP_N} AS BIGINT) AS n_probes,
           CAST(n_exact_total AS BIGINT) AS n_exact_total,
           CAST(n_overlap_total AS BIGINT) AS n_overlap_total,
           round(CAST(n_overlap_total AS DOUBLE) / n_exact_total, 6)
             AS mean_recall
    FROM (
      {per_d}
    )
    ORDER BY dims
    """


@query("similarity_mrl_dim_grid", oracle=_mrl_oracle())
def similarity_mrl_dim_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_ingestion_din_spark.functions.vectors import quantize

    emb = load_table(spark, sf_dir, "embeddings")
    qd = emb.select(
        "vec_id", F.posexplode(quantize(F.col("embedding")))
    ).select(
        "vec_id", (F.col("pos") + 1).alias("i"), F.col("col").alias("v")
    )
    pr = F.broadcast(
        qd.filter(F.col("vec_id") < _SWEEP_N).select(
            F.col("vec_id").alias("probe"), "i", F.col("v").alias("pv")
        )
    )
    dist = (
        qd.join(pr, "i")
        .filter(F.col("vec_id") != F.col("probe"))
        .groupBy("probe", "vec_id")
        .agg(
            *[
                F.sum(
                    F.when(
                        F.col("i") <= d,
                        (F.col("pv") - F.col("v"))
                        * (F.col("pv") - F.col("v")),
                    ).otherwise(0)
                )
                .cast("bigint")
                .alias(f"d{d}")
                for d in _MRL_DIMS
            ]
        )
    )
    # one grouped pass carries all four prefix distances; each row fans
    # out to its four dims arms, cut together under one (dims, probe)
    # window
    arms = dist.select(
        "probe",
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("dims"), F.col(f"d{d}").alias("dist")
                    )
                    for d in _MRL_DIMS
                ]
            )
        ).alias("a"),
    ).select("probe", "vec_id", "a.dims", "a.dist")
    itop = _rank_cut(arms, "dist", "vec_id", tags=("dims",))
    return _recall_row(
        _etop_staged(spark, sf_dir), itop, dims=list(_MRL_DIMS)
    ).orderBy("dims")


# --------------------------------------------------------------------------
# similarity_ivf_nlist_sweep — the NLIST (cell count) routing curve,
# the last unmeasured ANN denominator: ivfsq8's sweep isolated routing
# loss at the production k=8 (0.485 at nprobe=1); this measures how
# that loss moves with the cell count itself. One hash-gated row per
# k ∈ {4, 8, 16}: shortlist = the probe's OWN cell's members (pure
# nprobe=1 routing, no quantization anywhere), exact cosine rerank,
# the shared 20-probe recall@10 — so the row IS the routing ceiling
# any IVF-composed index inherits at that nlist, next to the mean cell
# size the cells buy (the scan-fraction side of the trade).
#
# Measured (sf0.01): 0.490 / 0.485 / 0.660 at nlist 4 / 8 / 16. Two
# findings: the k=8 row reproduces the IVF×SQ8 sweep's routing number
# exactly (0.485 — the loss-attribution table's denominator confirmed
# from an independent path), and the curve is NON-monotone: sixteen
# cells at 1/16 scan fraction BEAT four cells at 1/4, because on
# structure-free data nprobe=1 recall is dominated by where Lloyd's
# two iterations put the boundaries, not by scan fraction — the
# measured warning against sizing nlist by scan-fraction intuition
# alone.
#
# Scale: two extra Lloyd trainings (k=4, k=16; k=8 reuses the staged
# session quantizer) — each is the same iteration-control shape as
# kmeans_train documents; the sweep side touches only the probes'
# cells.
# --------------------------------------------------------------------------
_NLIST_GRID = (4, 8, 16)


def _nlist_oracle() -> str:
    chains, rows = [], []
    for k in _NLIST_GRID:
        p = f"nl{k}_"
        chains.append(_km_ctes(p=p, k=k))
        rows.append(
            f"""SELECT {k} AS nlist,
           (SELECT CAST(count(*) AS BIGINT) FROM {p}a2)
             // {k} AS mean_cell_rows,
           (SELECT count(*) FROM etop e JOIN (
              SELECT probe, vec_id FROM (
                SELECT pa.vec_id AS probe, a.vec_id,
                       {cosine_exact_sql('e2.embedding', 'pe.embedding')}
                         AS cos
                FROM {p}a2 pa
                JOIN {p}a2 a ON a.cluster = pa.cluster
                             AND a.vec_id <> pa.vec_id
                JOIN embeddings e2 ON e2.vec_id = a.vec_id
                JOIN embeddings pe ON pe.vec_id = pa.vec_id
                WHERE pa.vec_id < {_SWEEP_N}
              ) QUALIFY row_number() OVER (
                  PARTITION BY probe ORDER BY cos DESC, vec_id) <= 10
            ) i ON i.probe = e.probe AND i.vec_id = e.vec_id)
             AS n_overlap_total"""
        )
    body = "\n      UNION ALL\n      ".join(rows)
    return f"""
    WITH {",".join(chains)},
    ex AS (
      SELECT p.vec_id AS probe, e.vec_id,
             {cosine_exact_sql('e.embedding', 'p.embedding')} AS cos
      FROM embeddings e
      CROSS JOIN (SELECT vec_id, embedding FROM embeddings
                  WHERE vec_id < {_SWEEP_N}) p
      WHERE e.vec_id <> p.vec_id
    ),
    etop AS (
      SELECT probe, vec_id FROM ex
      QUALIFY row_number() OVER (
        PARTITION BY probe ORDER BY cos DESC, vec_id) <= 10
    )
    SELECT CAST(nlist AS INT) AS nlist,
           CAST({_SWEEP_N} AS BIGINT) AS n_probes,
           CAST(mean_cell_rows AS BIGINT) AS mean_cell_rows,
           (SELECT CAST(count(*) AS BIGINT) FROM etop) AS n_exact_total,
           CAST(n_overlap_total AS BIGINT) AS n_overlap_total,
           round(CAST(n_overlap_total AS DOUBLE)
                 / (SELECT count(*) FROM etop), 6) AS mean_recall
    FROM ({body})
    ORDER BY nlist
    """


@query("similarity_ivf_nlist_sweep", oracle=_nlist_oracle())
def similarity_ivf_nlist_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from data_ingestion_din_spark.functions.vectors import quantize
    from data_ingestion_din_spark.operators.similarity import (
        kmeans_train_qv,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # one quantize checkpoint + one max-k seed collect feed every
    # fresh training in the grid (each capacity paid both before)
    fresh = [k for k in _NLIST_GRID if k != 8]
    qv = emb.select(
        "vec_id", quantize(F.col("embedding")).alias("qv")
    ).localCheckpoint(eager=False)  # the seed collect materializes it
    seed_rows = (
        qv.orderBy("vec_id").limit(max(fresh)).collect() if fresh else []
    )
    cells, sizes = [], []
    for k in _NLIST_GRID:
        if k == 8:
            assigned = _km8_pair(spark, sf_dir)[0]
        else:
            assigned = kmeans_train_qv(
                qv,
                k=k,
                iters=2,
                base_staged=True,
                seed_cents=[list(r.qv) for r in seed_rows[:k]],
            )[0]
        pa = assigned.filter(F.col("vec_id") < _SWEEP_N).select(
            F.col("vec_id").alias("probe"), F.col("cluster").alias("pc")
        )
        cells.append(
            assigned.join(F.broadcast(pa), F.col("cluster") == F.col("pc"))
            .filter(F.col("vec_id") != F.col("probe"))
            .select("probe", "vec_id", F.lit(k).alias("nlist"))
        )
        sizes.append(
            assigned.agg(
                F.expr(f"count(*) DIV {k}").cast("bigint").alias(
                    "mean_cell_rows"
                )
            ).select(F.lit(k).alias("nlist"), "mean_cell_rows")
        )
    # shortlist = the probe's whole own cell, so the rerank IS the index
    itop = _probe_rerank(spark, sf_dir, reduce(DataFrame.unionByName, cells))
    return (
        _recall_row(_etop_staged(spark, sf_dir), itop, nlist=list(_NLIST_GRID))
        .join(reduce(DataFrame.unionByName, sizes), "nlist")
        .select(
            "nlist",
            "n_probes",
            "mean_cell_rows",
            "n_exact_total",
            "n_overlap_total",
            "mean_recall",
        )
        .orderBy("nlist")
    )


# --------------------------------------------------------------------------
# similarity_ivfpq_rerank_sweep — the RERANK-DEPTH curve, the two-stage
# serving knob every production ANN stack exposes (retrieve C by ADC,
# exact-score the C, return top-k): recall@10 as a function of the
# shortlist depth C at fixed routing (nprobe=1, k=4 codebooks). The
# family's existing sweeps pinned the two asymptotes — 0.235 at the
# production C=20 (similarity_ivfpq_recall_sweep) and 0.485 with no
# quantization at all (the IVF×SQ8 routing-only number, reproduced by
# similarity_ivf_nlist_sweep's k=8 row) — this measures the path
# between them: C=10 is ADC-set quality (rerank cannot change a 10-of-
# 10 set), C=999 caps at the whole cell so the ADC ordering stops
# mattering entirely and the row MUST equal the routing ceiling (a
# cross-family consistency gate, not just a curve point).
#
# Measured (sf0.01): 0.115 / 0.235 / 0.460 / 0.485 at C = 10/20/50/999
# — the ADC-only set (C=10) is HALF the production C=20 number, C=50
# already recovers 95% of the ceiling (0.460 of 0.485), and the C=999
# row equals the routing ceiling exactly, tying the rerank curve to
# the loss-attribution table (routing 0.485 × codebook ≈0.48 at C=20).
# The operational reading: at k=4 codebooks the rerank depth, not the
# code length, is the cheap knob — 2.5× the exact scores buys +0.225
# recall while staying at 1/8 scan fraction.
#
# Scale: the ADC candidate join runs ONCE (checkpointed, 20 probes ×
# one cell's rows); each depth reranks at most C×20 exact cosines —
# the serving cost model is literally the query's own shape.
# --------------------------------------------------------------------------
_RERANK_GRID = (10, 20, 50, 999)


def _rerank_oracle() -> str:
    blocks, rows = [], []
    for c in _RERANK_GRID:
        blocks.append(
            f"""sh{c} AS (
      SELECT probe, vec_id FROM shd
      QUALIFY row_number() OVER (
        PARTITION BY probe ORDER BY adc_dist, vec_id) <= {c}
    ),
    itop{c} AS (
      SELECT probe, vec_id FROM (
        SELECT sh.probe, sh.vec_id,
               {cosine_exact_sql('e.embedding', 'pe.embedding')} AS cos
        FROM sh{c} sh
        JOIN embeddings e ON e.vec_id = sh.vec_id
        JOIN embeddings pe ON pe.vec_id = sh.probe
      ) QUALIFY row_number() OVER (
          PARTITION BY probe ORDER BY cos DESC, vec_id) <= 10
    )"""
        )
        rows.append(
            f"""SELECT CAST({c} AS INT) AS rerank_c,
           (SELECT count(*) FROM etop e
            JOIN itop{c} i ON i.probe = e.probe AND i.vec_id = e.vec_id)
             AS n_overlap_total"""
        )
    body = "\n      UNION ALL\n      ".join(rows)
    return f"""
    WITH {_km_ctes(p="km")},
    {_pq_ctes()},
    pcell AS (
      SELECT vec_id AS probe, cluster FROM kma2 WHERE vec_id < {_SWEEP_N}
    ),
    padc AS (
      SELECT s.vec_id AS probe, c.m, c.code,
             list_sum(list_transform(range(1, {_PQ_D + 1}),
               i -> (s.sv[i] - c.sv[i]) * (s.sv[i] - c.sv[i]))) AS dpart
      FROM c1f c
      JOIN (SELECT vec_id, m, sv FROM sub WHERE vec_id < {_SWEEP_N}) s
        ON s.m = c.m
    ),
    cand AS (
      SELECT p.probe, a.vec_id
      FROM kma2 a JOIN pcell p ON a.cluster = p.cluster
      WHERE a.vec_id <> p.probe
    ),
    shd AS (
      SELECT c.probe, co.vec_id, CAST(sum(d.dpart) AS BIGINT) AS adc_dist
      FROM cand c
      JOIN codes co ON co.vec_id = c.vec_id
      JOIN padc d ON d.probe = c.probe AND d.m = co.m AND d.code = co.code
      GROUP BY c.probe, co.vec_id
    ),
    ex AS (
      SELECT p.vec_id AS probe, e.vec_id,
             {cosine_exact_sql('e.embedding', 'p.embedding')} AS cos
      FROM embeddings e
      CROSS JOIN (SELECT vec_id, embedding FROM embeddings
                  WHERE vec_id < {_SWEEP_N}) p
      WHERE e.vec_id <> p.vec_id
    ),
    etop AS (
      SELECT probe, vec_id FROM ex
      QUALIFY row_number() OVER (
        PARTITION BY probe ORDER BY cos DESC, vec_id) <= 10
    ),
    {",".join(blocks)}
    SELECT rerank_c,
           CAST({_SWEEP_N} AS BIGINT) AS n_probes,
           (SELECT CAST(count(*) AS BIGINT) FROM etop) AS n_exact_total,
           CAST(n_overlap_total AS BIGINT) AS n_overlap_total,
           round(CAST(n_overlap_total AS DOUBLE)
                 / (SELECT count(*) FROM etop), 6) AS mean_recall
    FROM ({body})
    ORDER BY rerank_c
    """


@query("similarity_ivfpq_rerank_sweep", oracle=_rerank_oracle())
def similarity_ivfpq_rerank_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # one pass of ADC ranks shared by every rerank depth — the
    # candidate×ADC join is the expensive side, so checkpoint it (20
    # probes × one cell's rows) instead of recomputing per C; lazy: all
    # depth arms sit in the final action, which materializes it once
    sh = _ivfpq_shortlist(
        spark, sf_dir, "raw", depth=max(_RERANK_GRID)
    ).localCheckpoint(eager=False)
    arms = reduce(
        DataFrame.unionByName,
        [
            sh.filter(F.col("rk") <= c).select(
                "probe", "vec_id", F.lit(c).alias("rerank_c")
            )
            for c in _RERANK_GRID
        ],
    )
    itop = _probe_rerank(spark, sf_dir, arms)
    return _recall_row(
        _etop_staged(spark, sf_dir), itop, rerank_c=list(_RERANK_GRID)
    ).orderBy("rerank_c")


# --------------------------------------------------------------------------
# similarity_lsh_recall_sweep — the statistical upgrade of the 1-probe
# LSH recall audits, mirroring the IVFPQ sweeps: mean recall@10 over
# the first 20 probes for the single-bucket scan vs the Lv et al.
# multiprobe (own bucket + 8 one-bit flips), hash-gated as two rows.
# Measured (sf0.01): single 0.005 / multiprobe 0.12 — the fixture's
# 8-plane buckets hold ~2 vectors, so a single probe is near-blind and
# the 9-bucket probe set buys a 24x recall lift for zero extra memory;
# the one-probe audits above could not see either number. Shares the
# session-staged exact side (_etop_staged) with the IVFPQ sweeps.
# --------------------------------------------------------------------------
def _lsh_sweep_oracle() -> str:
    b = _lsh_bucket_sql("embedding")
    rows = []
    for name, masks in (
        ("single", [0]),
        ("multiprobe", _MP_MASKS),
    ):
        rows.append(
            f"""SELECT '{name}' AS mode, s.* FROM (
    WITH h AS (SELECT vec_id, embedding, {b} AS bucket FROM embeddings),
    p0 AS (
      SELECT vec_id AS probe, embedding AS pe, bucket AS pb
      FROM h WHERE vec_id < {_SWEEP_N}
    ),
    p AS (
      SELECT probe, pe, xor(pb, m) AS bucket FROM p0, unnest({masks}) t(m)
    ),
    cand AS (
      SELECT DISTINCT p.probe, h.vec_id,
             {cosine_exact_sql('h.embedding', 'p.pe')} AS cos
      FROM h JOIN p ON h.bucket = p.bucket AND h.vec_id <> p.probe
    ),
    itop AS (
      SELECT probe, vec_id FROM cand
      QUALIFY row_number() OVER (
        PARTITION BY probe ORDER BY cos DESC, vec_id) <= 10
    ),
    ex AS (
      SELECT p0.probe, e.vec_id,
             {cosine_exact_sql('e.embedding', 'p0.pe')} AS cos
      FROM embeddings e CROSS JOIN p0 WHERE e.vec_id <> p0.probe
    ),
    etop AS (
      SELECT probe, vec_id FROM ex
      QUALIFY row_number() OVER (
        PARTITION BY probe ORDER BY cos DESC, vec_id) <= 10
    )
    SELECT CAST({_SWEEP_N} AS BIGINT) AS n_probes,
           (SELECT CAST(count(*) AS BIGINT) FROM etop) AS n_exact_total,
           (SELECT CAST(count(*) AS BIGINT)
            FROM etop e JOIN itop i
              ON i.probe = e.probe AND i.vec_id = e.vec_id)
             AS n_overlap_total,
           round(CAST((SELECT count(*)
                       FROM etop e JOIN itop i
                         ON i.probe = e.probe AND i.vec_id = e.vec_id)
                      AS DOUBLE)
                 / (SELECT count(*) FROM etop), 6) AS mean_recall
    ) s"""
        )
    body = "\n    UNION ALL\n    ".join(rows)
    return f"""
    SELECT mode, n_probes, n_exact_total, n_overlap_total, mean_recall
    FROM (
    {body}
    )
    ORDER BY mode
    """


@query("similarity_lsh_recall_sweep", oracle=_lsh_sweep_oracle())
def similarity_lsh_recall_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from data_ingestion_din_spark.operators.similarity import lsh_bucket

    emb = load_table(spark, sf_dir, "embeddings")
    hashed = lsh_bucket(emb, n_planes=_N_PLANES, exact=True).localCheckpoint(
        eager=True
    )  # one hash pass feeds both modes
    p0 = hashed.filter(F.col("vec_id") < _SWEEP_N).select(
        F.col("vec_id").alias("probe"), F.col("bucket").alias("pb")
    )

    def mode_cand(name: str, masks: list[int]) -> DataFrame:
        probes = p0.select(
            "probe", "pb", F.explode(F.array(*map(F.lit, masks))).alias("m")
        ).select("probe", F.col("pb").bitwiseXOR(F.col("m")).alias("bucket"))
        return (
            hashed.join(F.broadcast(probes), "bucket")
            .filter(F.col("vec_id") != F.col("probe"))
            .select("probe", "vec_id", F.lit(name).alias("mode"))
        )

    cand = mode_cand("single", [0]).unionByName(
        mode_cand("multiprobe", _MP_MASKS)
    )
    itop = _probe_rerank(spark, sf_dir, cand.distinct())
    return _recall_row(
        _etop_staged(spark, sf_dir), itop, mode=["single", "multiprobe"]
    ).orderBy("mode")
