"""Oracle-checked similarity-search queries over ``embeddings``, wrapping
operators/similarity.py (the DataFrame-native replacement for the
reference's Chroma kNN, backend/services/vector_store.py:263-341).
"""

from __future__ import annotations

import itertools
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from data_ingestion_din_spark.functions.vectors import (
    EMBED_DIMS,
    cosine_exact,
    cosine_exact_sql,
    lsh_bucket_sql,
)

# DuckDB range(1, N+1) bound for per-dimension unrolling — derived from
# the shared constant so a dims change fails in one obvious place
# (functions/vectors.py) instead of silently breaking k-means parity.
_DIMS_UB = EMBED_DIMS + 1
from data_ingestion_din_spark.operators.colocate import staged
from data_ingestion_din_spark.operators.similarity import (
    adc_lookup,
    adc_rows,
    int_array_lit,
    nearest_cells,
    probe_qv,
)
from data_ingestion_din_spark.plans.registry import query
from data_ingestion_din_spark.sources.tables import load_table, local_frame


def _with_query_vec(emb: DataFrame, query_id: int) -> DataFrame:
    """Attach the query vector (row ``query_id``) to every row via a
    broadcast single-row cross join — no driver-side collect, same shape
    the engine uses when the query vector arrives from an embedding UDF."""
    q = (
        emb.filter(F.col("vec_id") == query_id)
        .select(
            F.col("embedding").alias("q_embedding"),
            F.col("label").alias("q_label"),
        )
    )
    return emb.crossJoin(F.broadcast(q))


# --------------------------------------------------------------------------
# similarity_topk — exact brute-force cosine top-10 for query vec_id=0
# (reference O3 vector top-k). TakeOrderedAndProject: per-task heaps, no
# global sort.
# --------------------------------------------------------------------------
@query(
    "similarity_topk",
    oracle=f"""
    SELECT e.vec_id, e.label,
           {cosine_exact_sql('e.embedding', 'q.embedding')} AS cos_sim
    FROM embeddings e,
         (SELECT embedding FROM embeddings WHERE vec_id = 0) q
    WHERE e.vec_id <> 0
    ORDER BY cos_sim DESC, e.vec_id
    LIMIT 10
    """,
)
def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    scored = _with_query_vec(emb, 0).filter(F.col("vec_id") != 0)
    return (
        scored.select(
            "vec_id",
            "label",
            cosine_exact(F.col("embedding"), F.col("q_embedding")).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(10)
    )


# --------------------------------------------------------------------------
# similarity_ivf_label — IVF-style coarse pruning: search only the query's
# label partition. At scale the label is a Parquet partition key → the
# scan skips every other partition at file-listing time.
# --------------------------------------------------------------------------
@query(
    "similarity_ivf_label",
    oracle=f"""
    SELECT e.vec_id, e.label,
           {cosine_exact_sql('e.embedding', 'q.embedding')} AS cos_sim
    FROM embeddings e,
         (SELECT embedding, label FROM embeddings WHERE vec_id = 0) q
    WHERE e.vec_id <> 0 AND e.label = q.label
    ORDER BY cos_sim DESC, e.vec_id
    LIMIT 10
    """,
)
def similarity_ivf_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    scored = (
        _with_query_vec(emb, 0)
        .filter((F.col("vec_id") != 0) & (F.col("label") == F.col("q_label")))
    )
    return (
        scored.select(
            "vec_id",
            "label",
            cosine_exact(F.col("embedding"), F.col("q_embedding")).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(10)
    )


# --------------------------------------------------------------------------
# similarity_lsh_topk — LSH-bucket ANN end to end: random-hyperplane
# signatures (operators/similarity.lsh_bucket, exact integer arithmetic)
# hash both corpus and query; only the query's bucket is scanned, then
# exact-cosine re-ranked. The oracle recomputes the same hyperplane signs
# in SQL, so the candidates→rerank composition itself is checked — the
# 100 TB ANN path (bucket = partition key at scale), not just documented.
# --------------------------------------------------------------------------
_N_PLANES = 8


def _lsh_bucket_sql(e: str, seed: str = "lsh") -> str:
    return lsh_bucket_sql(e, seed, _N_PLANES)


@query(
    "similarity_lsh_topk",
    oracle=f"""
    WITH h AS (
      SELECT vec_id, label, embedding,
             {_lsh_bucket_sql('embedding')} AS bucket
      FROM embeddings
    ),
    q AS (
      SELECT embedding AS q_embedding, bucket AS q_bucket FROM h
      WHERE vec_id = 0
    )
    SELECT h.vec_id, h.label,
           {cosine_exact_sql('h.embedding', 'q.q_embedding')} AS cos_sim
    FROM h, q
    WHERE h.vec_id <> 0 AND h.bucket = q.q_bucket
    ORDER BY cos_sim DESC, h.vec_id
    LIMIT 10
    """,
)
def similarity_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_ingestion_din_spark.operators.similarity import lsh_bucket

    emb = load_table(spark, sf_dir, "embeddings")
    hashed = lsh_bucket(emb, n_planes=_N_PLANES, exact=True)
    q = hashed.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_embedding"), "bucket"
    )
    return (
        hashed.filter(F.col("vec_id") != 0)
        .join(F.broadcast(q), "bucket")
        .select(
            "vec_id",
            "label",
            cosine_exact(F.col("embedding"), F.col("q_embedding")).alias(
                "cos_sim"
            ),
        )
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(10)
    )


# --------------------------------------------------------------------------
# embedding_label_centroids — per-label centroid components (the k-means
# E-step / IVF training aggregate): posexplode dims → decimal-exact mean
# per (label, dim). One shuffle keyed by (label, dim).
# --------------------------------------------------------------------------
@query(
    "embedding_label_centroids",
    oracle=f"""
    WITH d AS (
      SELECT label, embedding, unnest(range(1, {_DIMS_UB})) AS dim
      FROM embeddings
    )
    SELECT label, CAST(dim AS INT) AS dim,
           (CAST(sum(CAST(floor(CAST(embedding[dim] AS DOUBLE) * 1000000)
                          AS BIGINT)) AS DOUBLE) / 1000000.0)
             / CAST(count(*) AS BIGINT) AS centroid,
           CAST(count(*) AS BIGINT) AS n
    FROM d
    GROUP BY label, dim
    ORDER BY label, dim
    """,
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label", F.posexplode(F.col("embedding")).alias("pos", "val")
    ).select("label", (F.col("pos") + 1).cast("int").alias("dim"), "val")
    return (
        exploded.groupBy("label", "dim")
        .agg(
            F.sum(
                F.floor(F.col("val").cast("double") * 1_000_000).cast("bigint")
            ).alias("_s"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "label",
            "dim",
            ((F.col("_s").cast("double") / F.lit(1_000_000.0)) / F.col("n")).alias(
                "centroid"
            ),
            "n",
        )
        .orderBy("label", "dim")
    )


# --------------------------------------------------------------------------
# embedding_kmeans — TWO full Lloyd iterations (k = 8, seeds = lowest
# vec_ids) with integer squared distances and truncated-integer
# centroids, final assignment hash-compared against the oracle's
# unrolled SQL of the same two iterations (operators/similarity.py
# kmeans_train). The IVF training loop — an iterative algorithm — under
# the same bit-exact gate as the one-shot queries; empty clusters keep
# their previous centroid on both sides.
# --------------------------------------------------------------------------
_KM_DIST = (
    f"list_sum(list_transform(range(1, {_DIMS_UB}),"
    " i -> (q.qv[i] - s.qv[i]) * (q.qv[i] - s.qv[i])))"
)


def _km_ctes(src: str = "embeddings", p: str = "", k: int = 8) -> str:
    """The unrolled 2-iteration Lloyd SQL over ``src`` — shared by the
    full-corpus k-means/IVF oracles, the incremental-maintenance oracle
    (which trains on the pre-append base only), and — via the ``p`` CTE
    name prefix — the composed IVF+PQ oracle, whose PQ chain reuses the
    unprefixed names (``k`` parameterizes the cell count for the nlist
    sweep). Table aliases inside each CTE stay ``q``/``s`` so
    ``_KM_DIST`` resolves regardless of prefix."""
    return f"""{p}q AS (
      SELECT vec_id,
             list_transform(
               embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
             ) AS qv
      FROM {src}
    ),
    {p}seeds AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) AS cluster, qv
      FROM {p}q ORDER BY vec_id LIMIT {k}
    ),
    {p}a1 AS (
      SELECT q.vec_id, q.qv, s.cluster
      FROM {p}q q CROSS JOIN {p}seeds s
      QUALIFY row_number() OVER (
        PARTITION BY q.vec_id ORDER BY {_KM_DIST}, s.cluster) = 1
    ),
    {p}m1 AS (
      SELECT cluster, i AS dim, sum(qv[i]) // count(*) AS c
      FROM {p}a1, range(1, {_DIMS_UB}) t(i)
      GROUP BY cluster, i
    ),
    {p}c1 AS (SELECT cluster, list(c ORDER BY dim) AS qv FROM {p}m1
              GROUP BY cluster),
    {p}c1f AS (
      SELECT s.cluster, coalesce(c.qv, s.qv) AS qv
      FROM {p}seeds s LEFT JOIN {p}c1 c ON s.cluster = c.cluster
    ),
    {p}a2 AS (
      SELECT q.vec_id, s.cluster
      FROM {p}q q CROSS JOIN {p}c1f s
      QUALIFY row_number() OVER (
        PARTITION BY q.vec_id ORDER BY {_KM_DIST}, s.cluster) = 1
    )
    """


_KM_CTES = _km_ctes()


@query(
    "embedding_kmeans",
    oracle=f"""
    WITH {_KM_CTES}
    SELECT vec_id, CAST(cluster AS INT) AS cluster FROM a2 ORDER BY vec_id
    """,
)
def embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _km8(spark, sf_dir).orderBy("vec_id")


# The trained k=8 quantizer is consumed by five queries
# (embedding_kmeans, similarity_ivf_kmeans, dedup_semantic_kmeans, the
# ivfpq family) with identical (k, iters) — the trained index is a
# session artifact like the pHash table / banded-pair table, staged
# once per (SparkContext, sf_dir): each consumer pays its own
# resolution, not the Lloyd loop. The (assignment, centroid-matrix)
# PAIR is one cache value under one key so the two halves can never go
# out of sync — a per-half cache let an eviction (or an alternate
# filler) of one half strand the other (review finding r8).
@staged("km8_quantizer")
def _km8_pair(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, list]:
    from data_ingestion_din_spark.operators.similarity import kmeans_train

    assigned, cents = kmeans_train(
        load_table(spark, sf_dir, "embeddings"), k=8, iters=2
    )
    # lazy: the first consumer query's action materializes it (the
    # staging happens inside that same query's run either way)
    return assigned.localCheckpoint(eager=False), cents


def _km8(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _km8_pair(spark, sf_dir)[0]


def _km8_cents(spark: SparkSession, sf_dir: str) -> list:
    return _km8_pair(spark, sf_dir)[1]


# --------------------------------------------------------------------------
# similarity_ivf_kmeans — the IVF story end to end: cells TRAINED by the
# verified k-means (embedding_kmeans), probe routed to its nearest cell,
# exact cosine top-10 within that cell only. At scale `cluster` is the
# table's partition key, so this plan scans one cell's files — IVF
# training + serving under one hash gate.
# --------------------------------------------------------------------------
@query(
    "similarity_ivf_kmeans",
    oracle=f"""
    WITH {_KM_CTES},
    pc AS (SELECT cluster FROM a2 WHERE vec_id = 0)
    SELECT e.vec_id,
           CAST(a.cluster AS INT) AS cluster,
           {cosine_exact_sql('e.embedding', 'qq.embedding')} AS cos_sim
    FROM embeddings e
    JOIN a2 a ON a.vec_id = e.vec_id
    CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) qq
    CROSS JOIN pc
    WHERE e.vec_id <> 0 AND a.cluster = pc.cluster
    ORDER BY cos_sim DESC, e.vec_id
    LIMIT 10
    """,
)
def similarity_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    assigned = _km8(spark, sf_dir)
    probe_cell = assigned.filter(F.col("vec_id") == 0).select(
        F.col("cluster").alias("pc")
    )
    cands = (
        emb.join(assigned, "vec_id")
        .join(F.broadcast(probe_cell), F.col("cluster") == F.col("pc"))
        .filter(F.col("vec_id") != 0)
    )
    scored = cands.crossJoin(
        F.broadcast(
            emb.filter(F.col("vec_id") == 0).select(
                F.col("embedding").alias("q_embedding")
            )
        )
    )
    return (
        scored.select(
            "vec_id",
            F.col("cluster").cast("int").alias("cluster"),
            cosine_exact(F.col("embedding"), F.col("q_embedding")).alias(
                "cos_sim"
            ),
        )
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(10)
    )


# --------------------------------------------------------------------------
# similarity_lsh_recall — ANN quality MEASURED under the gate: overlap of
# the LSH top-k with the exact top-10 for the same probe, as counts + a
# recall ratio. Both sides are deterministic, so even the quality metric
# hash-matches — "measure, don't guess" applied to the ANN path itself.
# --------------------------------------------------------------------------
from data_ingestion_din_spark.plans.registry import ORACLES as _ORACLES  # noqa: E402

_EXACT_SQL = _ORACLES["similarity_topk"]
_LSHK_SQL = _ORACLES["similarity_lsh_topk"]


def _topk_recall(
    spark: SparkSession, sf_dir: str, approx: DataFrame, n_col: str
) -> DataFrame:
    """(n_exact, n_col, n_overlap, recall) of one ANN top-10 for probe
    vec_id 0 against the exact similarity_topk: the overlap rollup on
    vec_id, plus the approximate set's own size as ``n_col``."""
    exact = similarity_topk(spark, sf_dir).select("vec_id")
    approx = approx.select("vec_id")
    return (
        _overlap_rollup(exact, approx, keys=("vec_id",))
        .crossJoin(approx.agg(F.count(F.lit(1)).cast("bigint").alias(n_col)))
        .select(
            F.col("n_truth").alias("n_exact"),
            n_col,
            "n_overlap",
            F.round(
                F.col("n_overlap").cast("double") / F.col("n_truth"), 6
            ).alias("recall"),
        )
    )


@query(
    "similarity_lsh_recall",
    oracle=f"""
    WITH exact AS ({_EXACT_SQL}),
    lsh AS ({_LSHK_SQL}),
    ov AS (SELECT e.vec_id FROM exact e JOIN lsh l ON e.vec_id = l.vec_id)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM exact) AS n_exact,
           (SELECT CAST(count(*) AS BIGINT) FROM lsh) AS n_lsh,
           (SELECT CAST(count(*) AS BIGINT) FROM ov) AS n_overlap,
           round(CAST((SELECT count(*) FROM ov) AS DOUBLE)
                 / (SELECT count(*) FROM exact), 6) AS recall
    """,
)
def similarity_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _topk_recall(
        spark, sf_dir, similarity_lsh_topk(spark, sf_dir), "n_lsh"
    )


# --------------------------------------------------------------------------
# embedding_hard_negatives — contrastive-pair mining for embedding
# training: for each anchor, the top-3 most-similar vectors with a
# DIFFERENT label ("hard negatives" — the pairs that actually teach a
# contrastive loss something; random negatives are trivially separable).
# Anchors are a bounded batch (vec_id < 20 here — in production the
# anchor batch is whatever minibatch is being mined for), broadcast
# against the corpus, exact-cosine scored, then per-anchor top-3 via a
# window whose partitions are single anchors.
#
# Scale: broadcast(20-row anchors) ⋈ corpus is one shuffle-free pass;
# the per-anchor window shuffles on anchor_id (bounded by batch size ×
# corpus candidates; with an ANN pre-cut — similarity_lsh_topk's bucket
# path — the candidate set per anchor is constant-sized).
# --------------------------------------------------------------------------
_HN_ANCHORS = 20
_HN_K = 3


@query(
    "embedding_hard_negatives",
    oracle=f"""
    WITH a AS (
      SELECT vec_id AS anchor_id, label AS anchor_label,
             embedding AS a_emb
      FROM embeddings WHERE vec_id < {_HN_ANCHORS}
    ),
    c AS (
      SELECT a.anchor_id, a.anchor_label, e.vec_id AS neg_id,
             e.label AS neg_label,
             {cosine_exact_sql('a.a_emb', 'e.embedding')} AS cos_sim
      FROM a JOIN embeddings e
        ON e.vec_id <> a.anchor_id AND e.label <> a.anchor_label
    ),
    r AS (
      SELECT *, row_number() OVER (
               PARTITION BY anchor_id ORDER BY cos_sim DESC, neg_id
             ) AS rk
      FROM c
    )
    SELECT CAST(anchor_id AS BIGINT) AS anchor_id,
           CAST(anchor_label AS INT) AS anchor_label,
           CAST(neg_id AS BIGINT) AS neg_id,
           CAST(neg_label AS INT) AS neg_label,
           cos_sim,
           CAST(rk AS INT) AS neg_rank
    FROM r WHERE rk <= {_HN_K}
    ORDER BY anchor_id, neg_rank
    """,
)
def embedding_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    from data_ingestion_din_spark.functions.vectors import cosine_exact

    emb = load_table(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") < _HN_ANCHORS).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("embedding").alias("a_emb"),
    )
    cand = (
        F.broadcast(anchors)
        .join(
            emb,
            (F.col("vec_id") != F.col("anchor_id"))
            & (F.col("label") != F.col("anchor_label")),
        )
        .select(
            "anchor_id",
            "anchor_label",
            F.col("vec_id").alias("neg_id"),
            F.col("label").alias("neg_label"),
            cosine_exact(F.col("a_emb"), F.col("embedding")).alias("cos_sim"),
        )
    )
    w = W.partitionBy("anchor_id").orderBy(F.desc("cos_sim"), "neg_id")
    return (
        cand.withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= _HN_K)
        .select(
            F.col("anchor_id").cast("bigint").alias("anchor_id"),
            F.col("anchor_label").cast("int").alias("anchor_label"),
            F.col("neg_id").cast("bigint").alias("neg_id"),
            F.col("neg_label").cast("int").alias("neg_label"),
            "cos_sim",
            F.col("neg_rank").cast("int").alias("neg_rank"),
        )
        .orderBy("anchor_id", "neg_rank")
    )


# --------------------------------------------------------------------------
# similarity_lsh_multiprobe — multi-probe LSH (Lv et al. 2007): besides
# the query's own bucket, probe the 8 buckets that differ in exactly
# ONE hyperplane sign (bucket XOR 2^i) — the buckets a near neighbor
# most likely fell into when it landed just across one plane. Recall
# rises toward exact top-k at ~9 bucket scans instead of doubling
# table count (the memory-free recall knob next to similarity_lsh_topk's
# single probe and the multi-table construction in
# embedding_near_dup_lsh); tests/test_analysis.py pins that multiprobe
# recall >= single-probe recall on the fixture. Probe set is 9 rows →
# broadcast; the corpus is scanned once with a bucket equi-join.
# --------------------------------------------------------------------------
_MP_MASKS = [0] + [1 << i for i in range(_N_PLANES)]


@query(
    "similarity_lsh_multiprobe",
    oracle=f"""
    WITH h AS (
      SELECT vec_id, label, embedding,
             {_lsh_bucket_sql('embedding')} AS bucket
      FROM embeddings
    ),
    q AS (
      SELECT embedding AS q_embedding, bucket AS q_bucket FROM h
      WHERE vec_id = 0
    ),
    probes AS (
      SELECT q_embedding, xor(q_bucket, m) AS bucket
      FROM q, unnest({_MP_MASKS}) t(m)
    )
    SELECT h.vec_id, h.label,
           {cosine_exact_sql('h.embedding', 'p.q_embedding')} AS cos_sim
    FROM h JOIN probes p ON h.bucket = p.bucket
    WHERE h.vec_id <> 0
    ORDER BY cos_sim DESC, h.vec_id
    LIMIT 10
    """,
)
def similarity_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_ingestion_din_spark.operators.similarity import lsh_bucket

    emb = load_table(spark, sf_dir, "embeddings")
    hashed = lsh_bucket(emb, n_planes=_N_PLANES, exact=True)
    q = hashed.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_embedding"), F.col("bucket").alias("qb")
    )
    probes = q.select(
        "q_embedding",
        "qb",
        F.explode(F.array(*[F.lit(m) for m in _MP_MASKS])).alias("m"),
    ).select(
        "q_embedding", F.col("qb").bitwiseXOR(F.col("m")).alias("bucket")
    )
    return (
        hashed.filter(F.col("vec_id") != 0)
        .join(F.broadcast(probes), "bucket")
        .select(
            "vec_id",
            "label",
            cosine_exact(F.col("embedding"), F.col("q_embedding")).alias(
                "cos_sim"
            ),
        )
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(10)
    )


# --------------------------------------------------------------------------
# similarity_pq_topk — product quantization ANN (Jégou et al. 2011), the
# fourth classic ANN family next to brute-force (similarity_topk), LSH
# (similarity_lsh_topk/multiprobe) and IVF (similarity_ivf_kmeans):
# vectors are compressed to n_sub=4 one-byte-ish codes (k=4 codes per
# 16-dim subspace, trained by one integer-exact Lloyd step per
# subspace), and the probe scores candidates by ADC — a per-subspace
# lookup table of ||q_m − centroid||² distances computed ONCE for the
# probe, so scoring a vector is n_sub integer lookups + adds instead of
# a 64-dim dot product. Serving is the production two-stage shape: ADC
# shortlist (top-50 by approximate distance — ties are real with only
# k^n_sub code words, broken on vec_id) → EXACT cosine rerank of the
# shortlist → top-10 (0.7 recall vs the exact top-10 while scanning 10%
# of the corpus on the fixture; similarity_pq_recall pins it). Training,
# code assignment, the ADC table and both rankings are deterministic →
# the whole path is hash-gated.
#
# Scale: codebooks are n_sub·k·d_sub ints (literals); codes are the
# stored index (4 small ints per vector — the 16× memory cut that makes
# billion-vector search fit); ADC scoring is a narrow projection over
# the codes table, no shuffle until the shortlist TakeOrdered; the
# exact rerank touches only ``_PQ_SHORTLIST`` full vectors.
# --------------------------------------------------------------------------
_PQ_SUB = 4
_PQ_K = 4
_GRID_K = 16  # the k16 operating grid's codebook size
_PQ_SHORTLIST = 50
_PQ_D = EMBED_DIMS // _PQ_SUB
_PQ_DIST = (
    f"list_sum(list_transform(range(1, {_PQ_D + 1}),"
    " i -> (s.sv[i] - c.sv[i]) * (s.sv[i] - c.sv[i])))"
)


def _pq_ctes(qsrc: str | None = None, k: int = _PQ_K) -> str:
    """The PQ training/assignment/ADC CTE chain (q → sub → seeds → a1 →
    m1 → c1/c1f → codes → adc) — shared by similarity_pq_topk, the
    composed IVF+PQ oracle (which brings its own km-prefixed k-means
    chain alongside) and, via ``qsrc``, the residual-encoding oracle:
    when ``qsrc`` names an earlier CTE exposing ``(vec_id, qv)`` integer
    vectors, the chain trains/encodes over THOSE instead of quantizing
    ``embeddings`` — same machinery, different vector space."""
    q_cte = (
        f"q AS (SELECT vec_id, qv FROM {qsrc})"
        if qsrc
        else """q AS (
      SELECT vec_id,
             list_transform(
               embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
             ) AS qv
      FROM embeddings
    )"""
    )
    return f"""{q_cte},
    sub AS (
      SELECT vec_id, m, list_slice(qv, m * {_PQ_D} + 1, m * {_PQ_D} + {_PQ_D}) AS sv
      FROM q, range(0, {_PQ_SUB}) t(m)
    ),
    seeds AS (
      SELECT m, CAST(row_number() OVER (PARTITION BY m ORDER BY vec_id) AS INT)
               AS code, sv
      FROM sub
      QUALIFY row_number() OVER (PARTITION BY m ORDER BY vec_id) <= {k}
    ),
    a1 AS (
      SELECT s.vec_id, s.m, s.sv, c.code
      FROM sub s JOIN seeds c ON c.m = s.m
      QUALIFY row_number() OVER (
        PARTITION BY s.vec_id, s.m ORDER BY {_PQ_DIST}, c.code) = 1
    ),
    m1 AS (
      SELECT m, code, i AS dim, sum(sv[i]) // count(*) AS cv
      FROM a1, range(1, {_PQ_D + 1}) t(i)
      GROUP BY m, code, i
    ),
    c1 AS (SELECT m, code, list(cv ORDER BY dim) AS sv FROM m1
           GROUP BY m, code),
    c1f AS (
      SELECT s.m, s.code, coalesce(c.sv, s.sv) AS sv
      FROM seeds s LEFT JOIN c1 c ON s.m = c.m AND s.code = c.code
    ),
    codes AS (
      SELECT s.vec_id, s.m, c.code
      FROM sub s JOIN c1f c ON c.m = s.m
      QUALIFY row_number() OVER (
        PARTITION BY s.vec_id, s.m ORDER BY {_PQ_DIST}, c.code) = 1
    ),
    adc AS (
      SELECT c.m, c.code AS code,
             list_sum(list_transform(range(1, {_PQ_D + 1}),
               i -> (s.sv[i] - c.sv[i]) * (s.sv[i] - c.sv[i]))) AS dpart
      FROM c1f c JOIN (SELECT m, sv FROM sub WHERE vec_id = 0) s
        ON s.m = c.m
    )"""


# The trained PQ index — (codes DF, codebooks) — is consumed by seven
# queries (pq_topk, the ivfpq family, every recall audit; the 'res'
# space by the residual family): a session artifact like the k=8
# quantizer, staged as ONE pair per (SparkContext, sf_dir, space) so
# each consumer pays resolution, not the training pass, and the codes
# lineage is truncated once. pq_assign is deterministic, so staging
# cannot change any oracle-checked value. The bench stages the k=4 and
# the k=16 (operating-grid) codebooks of both spaces.
@staged(
    "pq_index",
    setup={
        "pq_index_raw": ("raw",),
        "pq_index_res": ("res",),
        "pq_index_raw16": ("raw", _GRID_K),
        "pq_index_res16": ("res", _GRID_K),
    },
)
def _pq_trained(
    spark: SparkSession, sf_dir: str, space: str, k: int = _PQ_K
) -> tuple[DataFrame, list]:
    """space='raw': PQ over quantized embeddings; space='res': PQ over
    residuals against the staged k=8 quantizer (by_residual=true)."""
    from data_ingestion_din_spark.operators.similarity import (
        pq_assign,
        pq_assign_qv,
    )

    if space == "raw":
        codes, cb = pq_assign(
            load_table(spark, sf_dir, "embeddings"),
            n_sub=_PQ_SUB,
            k=k,
            iters=1,
        )
    else:
        codes, cb = pq_assign_qv(
            _residual_qv(spark, sf_dir).select("vec_id", "qv"),
            n_sub=_PQ_SUB,
            k=k,
            iters=1,
        )
    return codes.localCheckpoint(eager=True), cb



@query(
    "similarity_pq_topk",
    oracle=f"""
    WITH {_pq_ctes()},
    sh AS (
      SELECT co.vec_id, CAST(sum(a.dpart) AS BIGINT) AS adc_dist
      FROM codes co JOIN adc a ON a.m = co.m AND a.code = co.code
      WHERE co.vec_id <> 0
      GROUP BY co.vec_id
      ORDER BY adc_dist, co.vec_id
      LIMIT {_PQ_SHORTLIST}
    )
    SELECT e.vec_id, sh.adc_dist,
           {cosine_exact_sql('e.embedding', 'qq.embedding')} AS cos_sim
    FROM sh JOIN embeddings e ON e.vec_id = sh.vec_id
    CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) qq
    ORDER BY cos_sim DESC, e.vec_id
    LIMIT 10
    """,
)
def similarity_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    codes, cb = _pq_trained(spark, sf_dir, "raw")
    dpart = adc_lookup(probe_qv(emb), cb)
    shortlist = (
        codes.filter(F.col("vec_id") != 0)
        .select("vec_id", dpart.alias("dpart"))
        .groupBy("vec_id")
        .agg(F.sum("dpart").cast("bigint").alias("adc_dist"))
        .orderBy("adc_dist", "vec_id")
        .limit(_PQ_SHORTLIST)
    )
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_embedding")
    )
    return (
        shortlist.join(emb, "vec_id")
        .crossJoin(F.broadcast(q))
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
# dedup_semantic_kmeans — SemDeDup (Abbas et al. 2023): semantic
# deduplication by clustering embeddings (the verified integer-exact
# k-means, k=8) and pruning, WITHIN each cluster only, vectors whose
# cosine similarity to a lower-id cluster member exceeds τ=0.4 (the
# fixture's near-dup threshold — embedding_near_dup finds real pairs
# there). The similarity test is division-free determinism: cos ≥ τ ⇔
# dot > 0 ∧ dot² ≥ τ²·‖a‖²·‖b‖² over exact quantized-integer dot
# products, with the two products taken in doubles (each factor is an
# exact integer < 2^53, so the IEEE multiply is bit-identical in both
# engines — no summation-order hazard, no libm).
#
# Scale: this is the embedding-dedup path whose candidate generation is
# CLUSTER-LOCAL — pairwise work is Σ|cell|², never n², and each cell's
# pairs co-locate under one shuffle on `cluster` (the same bound that
# makes SemDeDup run at LAION scale); cluster count scales with the
# corpus so cells stay bounded. embedding_near_dup_lsh is the
# bucket-join variant of the same bound; this is the clustered variant
# with the keep/prune DECISION under the gate.
# --------------------------------------------------------------------------
_SD_TAU2 = 0.16  # τ = 0.4, squared
_SD_DOT = (
    f"list_sum(list_transform(range(1, {_DIMS_UB}),"
    " i -> a.qv[i] * b.qv[i]))"
)
_SD_NSQ = (
    f"list_sum(list_transform(range(1, {_DIMS_UB}), i -> qv[i] * qv[i]))"
)


@query(
    "dedup_semantic_kmeans",
    oracle=f"""
    WITH {_KM_CTES},
    v AS (
      SELECT a.vec_id, a.cluster, q.qv, {_SD_NSQ} AS nsq
      FROM a2 a JOIN q ON q.vec_id = a.vec_id
    ),
    pr AS (
      SELECT b.vec_id AS dup_id, {_SD_DOT} AS dot,
             a.nsq AS na, b.nsq AS nb
      FROM v a JOIN v b
        ON a.cluster = b.cluster AND a.vec_id < b.vec_id
    ),
    p AS (
      SELECT dup_id, CAST(count(*) AS BIGINT) AS n_close
      FROM pr
      WHERE dot > 0
        AND CAST(dot AS DOUBLE) * CAST(dot AS DOUBLE)
            >= {_SD_TAU2!r} * (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
      GROUP BY dup_id
    )
    SELECT v.vec_id, CAST(v.cluster AS INT) AS cluster,
           CAST(coalesce(p.n_close, 0) AS BIGINT) AS n_close,
           coalesce(p.n_close, 0) = 0 AS keep
    FROM v LEFT JOIN p ON p.dup_id = v.vec_id
    ORDER BY v.vec_id
    """,
)
def dedup_semantic_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_ingestion_din_spark.functions.vectors import quantize

    emb = load_table(spark, sf_dir, "embeddings")
    assigned = _km8(spark, sf_dir)
    qv = emb.select("vec_id", quantize(F.col("embedding")).alias("qv"))
    v = assigned.join(qv, "vec_id").select("vec_id", "cluster", "qv")

    # Per-cluster pairwise dots as ONE Arrow boundary + an int64 GEMM —
    # the shape SemDeDup itself uses (per-cluster matmul). The row-wise
    # interpreted-HOF join this replaces spent ~5 s on Σ|cell|² ≈ 3.3 M
    # 64-dim lambda dots at sf0.1; the GEMM does them in BLAS while the
    # Arrow transfer is only the n×dims matrix. Exactness: |qv| ≤ 1e6 →
    # |dot| ≤ 64·1e12 < 2^53, so int64 arithmetic is exact and the
    # int→double casts are lossless; the threshold multiplications
    # replicate the oracle's operation order (dot², then τ²·(na·nb)),
    # each a single IEEE multiply — bit-identical to the SQL.
    def _per_cluster(pdf):
        import numpy as np
        import pandas as pd

        order = np.argsort(pdf["vec_id"].to_numpy())
        ids = pdf["vec_id"].to_numpy()[order]
        m = np.stack(pdf["qv"].to_numpy()[order]).astype(np.int64)
        g = m @ m.T
        nsq = np.diag(g).astype(np.float64)
        gd = g.astype(np.float64)
        close = (g > 0) & (gd * gd >= _SD_TAU2 * (nsq[:, None] * nsq[None, :]))
        n_close = np.triu(close, k=1).sum(axis=0).astype(np.int64)
        return pd.DataFrame(
            {
                "vec_id": ids,
                "cluster": pdf["cluster"].to_numpy()[order],
                "n_close": n_close,
            }
        )

    out = v.groupBy("cluster").applyInPandas(
        _per_cluster, "vec_id long, cluster int, n_close long"
    )
    return (
        out.select(
            "vec_id",
            F.col("cluster").cast("int").alias("cluster"),
            F.col("n_close").cast("bigint").alias("n_close"),
            (F.col("n_close") == 0).alias("keep"),
        )
        .orderBy("vec_id")
    )


# --------------------------------------------------------------------------
# similarity_pq_recall — PQ quality MEASURED under the gate, like
# similarity_lsh_recall: overlap of the PQ shortlist-rerank top-10 with
# the exact top-10 for the same probe. Pins the 0.7-recall-at-10%-scan
# trade-off the PQ comment claims — "measure, don't guess" applied to
# the compressed-index path.
# --------------------------------------------------------------------------
_PQ_SQL = _ORACLES["similarity_pq_topk"]


@query(
    "similarity_pq_recall",
    oracle=f"""
    WITH exact AS ({_EXACT_SQL}),
    pq AS ({_PQ_SQL}),
    ov AS (SELECT e.vec_id FROM exact e JOIN pq p ON e.vec_id = p.vec_id)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM exact) AS n_exact,
           (SELECT CAST(count(*) AS BIGINT) FROM pq) AS n_pq,
           (SELECT CAST(count(*) AS BIGINT) FROM ov) AS n_overlap,
           round(CAST((SELECT count(*) FROM ov) AS DOUBLE)
                 / (SELECT count(*) FROM exact), 6) AS recall
    """,
)
def similarity_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _topk_recall(spark, sf_dir, similarity_pq_topk(spark, sf_dir), "n_pq")


# --------------------------------------------------------------------------
# similarity_ivf_incremental — IVF index maintenance under append, the
# ANN twin of streaming_minhash_index / training_shard_incremental:
# the coarse quantizer is TRAINED ONCE on the pre-append base (vec_id %
# 97 != 0, the same 2-iteration integer-exact Lloyd as embedding_kmeans)
# and then FROZEN — the appended batch (vec_id % 97 == 0) is routed to
# cells with a single argmin pass against the frozen centroid literal,
# never retraining and never rescanning the base. The audited output is
# the post-append index: per-cell base/batch/total counts plus a
# membership fingerprint, so hash parity proves the incremental route ≡
# assigning everything against the same centroids.
#
# Scale: batch routing is a narrow per-row expression over the BATCH
# only (centroid matrix is a bounded k×dims literal); the per-cell
# membership fingerprint is the audit, not the maintenance — production
# keeps cell stats as running counters and this query is the proof they
# stay consistent.
# --------------------------------------------------------------------------
_IVF_INC_MOD = 97


@query(
    "similarity_ivf_incremental",
    oracle=f"""
    WITH {_km_ctes(f"(SELECT * FROM embeddings WHERE vec_id % {_IVF_INC_MOD} <> 0)")},
    batch AS (
      SELECT vec_id,
             list_transform(
               embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
             ) AS qv
      FROM embeddings WHERE vec_id % {_IVF_INC_MOD} = 0
    ),
    ab AS (
      SELECT q.vec_id, s.cluster
      FROM batch q CROSS JOIN c1f s
      QUALIFY row_number() OVER (
        PARTITION BY q.vec_id ORDER BY {_KM_DIST}, s.cluster) = 1
    ),
    merged AS (
      SELECT vec_id, cluster, 0 AS is_batch FROM a2
      UNION ALL
      SELECT vec_id, cluster, 1 AS is_batch FROM ab
    )
    SELECT CAST(cluster AS INT) AS cluster,
           CAST(sum(1 - is_batch) AS BIGINT) AS n_base,
           CAST(sum(is_batch) AS BIGINT) AS n_batch,
           CAST(count(*) AS BIGINT) AS n_total,
           md5(string_agg(CAST(vec_id AS VARCHAR), ',' ORDER BY vec_id))
             AS members_fp
    FROM merged
    GROUP BY cluster
    ORDER BY cluster
    """,
)
def similarity_ivf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_ingestion_din_spark.functions.vectors import quantize
    from data_ingestion_din_spark.operators.similarity import (
        assign_to_centroids,
        kmeans_train,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % _IVF_INC_MOD != 0)
    batch = emb.filter(F.col("vec_id") % _IVF_INC_MOD == 0)
    assigned_base, cents = kmeans_train(base, k=8, iters=2)
    routed = assign_to_centroids(
        batch.select("vec_id", quantize(F.col("embedding")).alias("qv")),
        cents,
    ).select("vec_id", "cluster")
    merged = assigned_base.withColumn(
        "is_batch", F.lit(0)
    ).unionByName(routed.withColumn("is_batch", F.lit(1)))
    return (
        merged.groupBy(F.col("cluster").cast("int").alias("cluster"))
        .agg(
            F.sum(1 - F.col("is_batch")).cast("bigint").alias("n_base"),
            F.sum("is_batch").cast("bigint").alias("n_batch"),
            F.count(F.lit(1)).cast("bigint").alias("n_total"),
            F.md5(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.array_sort(F.collect_list("vec_id")),
                        lambda v: v.cast("string"),
                    ),
                )
            ).alias("members_fp"),
        )
        .orderBy("cluster")
    )


# --------------------------------------------------------------------------
# similarity_ivfpq_topk — the COMPOSED production ANN index (FAISS
# IVFPQ with by_residual=false): IVF routes the probe to its coarse
# cell (the staged k=8 quantizer), PQ's ADC scores ONLY that cell's
# codes (n_sub integer lookups per vector instead of a 64-dim dot),
# shortlist-20 by approximate distance, exact cosine rerank to top-10.
# similarity_ivf_kmeans proves the routing, similarity_pq_topk proves
# ADC — this gates their composition: the cell restriction must hit the
# codes table BEFORE any scoring.
#
# Scale: this is the billion-vector serving shape — the scan touches
# one cell's codes (cluster = partition key at scale), scoring is
# integer lookups against two bounded literals (ADC table k·n_sub, cell
# id 1 row), and only the 20-row shortlist ever loads full vectors.
# --------------------------------------------------------------------------
_IVFPQ_SHORTLIST = 20


@query(
    "similarity_ivfpq_topk",
    oracle=f"""
    WITH {_km_ctes(p="km")},
    {_pq_ctes()},
    pc AS (SELECT cluster FROM kma2 WHERE vec_id = 0),
    sh AS (
      SELECT co.vec_id, CAST(sum(a.dpart) AS BIGINT) AS adc_dist
      FROM codes co
      JOIN kma2 asg ON asg.vec_id = co.vec_id
      JOIN adc a ON a.m = co.m AND a.code = co.code
      CROSS JOIN pc
      WHERE co.vec_id <> 0 AND asg.cluster = pc.cluster
      GROUP BY co.vec_id
      ORDER BY adc_dist, co.vec_id
      LIMIT {_IVFPQ_SHORTLIST}
    )
    SELECT e.vec_id, sh.adc_dist,
           {cosine_exact_sql('e.embedding', 'qq.embedding')} AS cos_sim
    FROM sh JOIN embeddings e ON e.vec_id = sh.vec_id
    CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) qq
    ORDER BY cos_sim DESC, e.vec_id
    LIMIT 10
    """,
)
def similarity_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    assigned = _km8(spark, sf_dir)
    codes, cb = _pq_trained(spark, sf_dir, "raw")
    # probe-side precomputation (the per-query work PQ serving does):
    # 1-row collects for the probe's ADC table and its coarse cell —
    # bounded control data, independent of corpus size
    dpart = adc_lookup(probe_qv(emb), cb)
    pc = assigned.filter(F.col("vec_id") == 0).collect()[0].cluster
    cell_ids = assigned.filter(
        (F.col("cluster") == F.lit(int(pc))) & (F.col("vec_id") != 0)
    ).select("vec_id")
    shortlist = (
        codes.join(cell_ids, "vec_id", "left_semi")
        .select("vec_id", dpart.alias("dpart"))
        .groupBy("vec_id")
        .agg(F.sum("dpart").cast("bigint").alias("adc_dist"))
        .orderBy("adc_dist", "vec_id")
        .limit(_IVFPQ_SHORTLIST)
    )
    probe = F.broadcast(
        emb.filter(F.col("vec_id") == 0).select(
            F.col("embedding").alias("q_embedding")
        )
    )
    return (
        shortlist.join(emb.select("vec_id", "embedding"), "vec_id")
        .crossJoin(probe)
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
# similarity_ivfpq_recall — the composed index's operating point,
# measured like every other lossy ANN path (lsh_recall, pq_recall,
# media_phash_recall): overlap of the IVFPQ top-10 with the exact
# top-10. Composition costs recall twice (cell routing can exclude true
# neighbors PQ would have kept, and vice versa) — this row is the
# number that says what the cell-pruned scan actually buys.
# --------------------------------------------------------------------------
_IVFPQ_SQL = _ORACLES["similarity_ivfpq_topk"]


@query(
    "similarity_ivfpq_recall",
    oracle=f"""
    WITH exact AS ({_EXACT_SQL}),
    ip AS ({_IVFPQ_SQL}),
    ov AS (SELECT e.vec_id FROM exact e JOIN ip p ON e.vec_id = p.vec_id)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM exact) AS n_exact,
           (SELECT CAST(count(*) AS BIGINT) FROM ip) AS n_ivfpq,
           (SELECT CAST(count(*) AS BIGINT) FROM ov) AS n_overlap,
           round(CAST((SELECT count(*) FROM ov) AS DOUBLE)
                 / (SELECT count(*) FROM exact), 6) AS recall
    """,
)
def similarity_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _topk_recall(
        spark, sf_dir, similarity_ivfpq_topk(spark, sf_dir), "n_ivfpq"
    )


# --------------------------------------------------------------------------
# similarity_ivfpq_multiprobe — the production answer to the single-
# probe recall number: ADC over the nprobe=3 NEAREST cells (cells
# ranked by integer probe→centroid distance, cluster-asc tiebreak)
# instead of only the probe's own cell. Cell ranking is a k-row
# driver-side computation against the staged frozen centroids (bounded
# control data); everything downstream is the IVFPQ shape with a 3-cell
# membership semi-join. similarity_ivfpq_mp_recall measures what the
# 3x scan buys over the 0.3 single-probe recall.
# --------------------------------------------------------------------------
_IVFPQ_NPROBE = 3


def _ivfpq_mp_cells_sql() -> str:
    return f"""pcells AS (
      SELECT s.cluster
      FROM kmc1f s CROSS JOIN (SELECT qv FROM kmq WHERE vec_id = 0) q
      ORDER BY {_KM_DIST}, s.cluster
      LIMIT {_IVFPQ_NPROBE}
    )"""


@query(
    "similarity_ivfpq_multiprobe",
    oracle=f"""
    WITH {_km_ctes(p="km")},
    {_pq_ctes()},
    {_ivfpq_mp_cells_sql()},
    sh AS (
      SELECT co.vec_id, CAST(sum(a.dpart) AS BIGINT) AS adc_dist
      FROM codes co
      JOIN kma2 asg ON asg.vec_id = co.vec_id
      JOIN adc a ON a.m = co.m AND a.code = co.code
      WHERE co.vec_id <> 0
        AND asg.cluster IN (SELECT cluster FROM pcells)
      GROUP BY co.vec_id
      ORDER BY adc_dist, co.vec_id
      LIMIT {_IVFPQ_SHORTLIST}
    )
    SELECT e.vec_id, sh.adc_dist,
           {cosine_exact_sql('e.embedding', 'qq.embedding')} AS cos_sim
    FROM sh JOIN embeddings e ON e.vec_id = sh.vec_id
    CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) qq
    ORDER BY cos_sim DESC, e.vec_id
    LIMIT 10
    """,
)
def similarity_ivfpq_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    assigned = _km8(spark, sf_dir)
    cents = _km8_cents(spark, sf_dir)
    codes, cb = _pq_trained(spark, sf_dir, "raw")
    # ONE 1-row probe collect feeds the ADC table and the cell ranking
    q0 = probe_qv(emb)
    dpart = adc_lookup(q0, cb)
    probe_cells = nearest_cells(q0, cents, _IVFPQ_NPROBE)
    cell_ids = assigned.filter(
        F.col("cluster").isin(probe_cells) & (F.col("vec_id") != 0)
    ).select("vec_id")
    shortlist = (
        codes.join(cell_ids, "vec_id", "left_semi")
        .select("vec_id", dpart.alias("dpart"))
        .groupBy("vec_id")
        .agg(F.sum("dpart").cast("bigint").alias("adc_dist"))
        .orderBy("adc_dist", "vec_id")
        .limit(_IVFPQ_SHORTLIST)
    )
    probe = F.broadcast(
        emb.filter(F.col("vec_id") == 0).select(
            F.col("embedding").alias("q_embedding")
        )
    )
    return (
        shortlist.join(emb.select("vec_id", "embedding"), "vec_id")
        .crossJoin(probe)
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
# similarity_ivfpq_mp_recall — recall at nprobe=3 next to the exact
# top-10, completing the operating-point table: single-probe 0.3 →
# what the 3-cell scan recovers.
# --------------------------------------------------------------------------
_IVFPQ_MP_SQL = _ORACLES["similarity_ivfpq_multiprobe"]


@query(
    "similarity_ivfpq_mp_recall",
    oracle=f"""
    WITH exact AS ({_EXACT_SQL}),
    ip AS ({_IVFPQ_MP_SQL}),
    ov AS (SELECT e.vec_id FROM exact e JOIN ip p ON e.vec_id = p.vec_id)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM exact) AS n_exact,
           (SELECT CAST(count(*) AS BIGINT) FROM ip) AS n_ivfpq,
           (SELECT CAST(count(*) AS BIGINT) FROM ov) AS n_overlap,
           round(CAST((SELECT count(*) FROM ov) AS DOUBLE)
                 / (SELECT count(*) FROM exact), 6) AS recall
    """,
)
def similarity_ivfpq_mp_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _topk_recall(
        spark, sf_dir, similarity_ivfpq_multiprobe(spark, sf_dir), "n_ivfpq"
    )


# --------------------------------------------------------------------------
# similarity_ivfpq_residual_topk — IVFPQ with RESIDUAL encoding
# (by_residual=true, the FAISS default and the round-8 verdict's missing
# quality knob): PQ codebooks are trained on ``qv − centroid(cell)``
# instead of the raw vectors, so the codebook spends its entropy on the
# within-cell displacement (residuals cluster near zero) rather than
# re-describing the coarse cell position — the standard reason IVFPQ
# beats flat PQ at equal code size. The probe is residualized against
# ITS OWN cell before the ADC table is built, and the scan stays
# cell-pruned exactly like similarity_ivfpq_topk; everything is integer
# arithmetic (residual of quantized ints is an int), so the composed
# path remains bit-exact against the oracle's rq → PQ chain.
#
# Scale: identical to similarity_ivfpq_topk — one extra narrow
# projection (the zip_with subtraction) at index-build time, zero extra
# cost at serving (the residualized probe is driver-side control data).
# --------------------------------------------------------------------------
_RQ_CTE = f"""rq AS (
      SELECT q.vec_id,
             list_transform(range(1, {_DIMS_UB}), i -> q.qv[i] - c.qv[i])
               AS qv
      FROM kmq q
      JOIN kma2 a ON a.vec_id = q.vec_id
      JOIN kmc1f c ON c.cluster = a.cluster
    )"""


def _residual_qv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cluster, qv) where qv is the integer residual against
    the staged k=8 quantizer's cell centroid."""
    from data_ingestion_din_spark.functions.vectors import quantize

    emb = load_table(spark, sf_dir, "embeddings")
    assigned = _km8(spark, sf_dir)
    cents = _km8_cents(spark, sf_dir)
    qv = emb.select("vec_id", quantize(F.col("embedding")).alias("qv"))
    cent_m = int_array_lit(cents)
    return qv.join(assigned, "vec_id").select(
        "vec_id",
        "cluster",
        F.zip_with(
            F.col("qv"),
            F.element_at(cent_m, F.col("cluster")),
            lambda x, y: x - y,
        ).alias("qv"),
    )


@query(
    "similarity_ivfpq_residual_topk",
    oracle=f"""
    WITH {_km_ctes(p="km")},
    {_RQ_CTE},
    {_pq_ctes(qsrc="rq")},
    pc AS (SELECT cluster FROM kma2 WHERE vec_id = 0),
    sh AS (
      SELECT co.vec_id, CAST(sum(a.dpart) AS BIGINT) AS adc_dist
      FROM codes co
      JOIN kma2 asg ON asg.vec_id = co.vec_id
      JOIN adc a ON a.m = co.m AND a.code = co.code
      CROSS JOIN pc
      WHERE co.vec_id <> 0 AND asg.cluster = pc.cluster
      GROUP BY co.vec_id
      ORDER BY adc_dist, co.vec_id
      LIMIT {_IVFPQ_SHORTLIST}
    )
    SELECT e.vec_id, sh.adc_dist,
           {cosine_exact_sql('e.embedding', 'qq.embedding')} AS cos_sim
    FROM sh JOIN embeddings e ON e.vec_id = sh.vec_id
    CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) qq
    ORDER BY cos_sim DESC, e.vec_id
    LIMIT 10
    """,
)
def similarity_ivfpq_residual_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    assigned = _km8(spark, sf_dir)
    rv = _residual_qv(spark, sf_dir)
    codes, cb = _pq_trained(spark, sf_dir, "res")
    # probe-side control data: ONE 1-row collect yields both the probe's
    # residual (the ADC input — residualized against its own cell, which
    # is also the only cell scanned at nprobe=1) and its coarse cell
    probe = rv.filter(F.col("vec_id") == 0).select("qv", "cluster").collect()[0]
    dpart = adc_lookup(list(probe.qv), cb)
    cell_ids = assigned.filter(
        (F.col("cluster") == F.lit(int(probe.cluster)))
        & (F.col("vec_id") != 0)
    ).select("vec_id")
    shortlist = (
        codes.join(cell_ids, "vec_id", "left_semi")
        .select("vec_id", dpart.alias("dpart"))
        .groupBy("vec_id")
        .agg(F.sum("dpart").cast("bigint").alias("adc_dist"))
        .orderBy("adc_dist", "vec_id")
        .limit(_IVFPQ_SHORTLIST)
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
# similarity_ivfpq_residual_recall — the residual knob's VALUE, measured
# and HASH-GATED next to the non-residual twin at the same nprobe=1:
# both overlaps against the exact top-10 in one row, plus the
# residual_improves boolean — the improvement is part of the oracle
# comparison, not a prose claim.
# --------------------------------------------------------------------------
_IVFPQ_RES_SQL = _ORACLES["similarity_ivfpq_residual_topk"]


def _residual_ab(
    spark: SparkSession,
    sf_dir: str,
    res: DataFrame,
    raw: DataFrame,
    holds: bool,
) -> DataFrame:
    """The residual-vs-raw row over the exact similarity_topk: one
    vec_id rollup of both arms, pivoted to (n_exact, n_residual, n_raw,
    recall_residual, recall_raw) plus residual_improves (n_residual >
    n_raw) or, when ``holds``, residual_holds (>=)."""
    tagged = res.select("vec_id", F.lit("residual").alias("arm")).unionByName(
        raw.select("vec_id", F.lit("raw").alias("arm"))
    )
    exact = similarity_topk(spark, sf_dir).select("vec_id")

    def arm_overlap(arm: str) -> F.Column:
        return F.max(F.when(F.col("arm") == arm, F.col("n_overlap")))

    def recall(col: str) -> F.Column:
        return F.round(F.col(col).cast("double") / F.col("n_exact"), 6)

    res_n, raw_n = F.col("n_residual"), F.col("n_raw")
    return (
        _overlap_rollup(exact, tagged, keys=("vec_id",), arm=["residual", "raw"])
        .agg(
            F.max("n_truth").alias("n_exact"),
            arm_overlap("residual").alias("n_residual"),
            arm_overlap("raw").alias("n_raw"),
        )
        .select(
            "n_exact",
            "n_residual",
            "n_raw",
            recall("n_residual").alias("recall_residual"),
            recall("n_raw").alias("recall_raw"),
            (res_n >= raw_n).alias("residual_holds")
            if holds
            else (res_n > raw_n).alias("residual_improves"),
        )
    )


@query(
    "similarity_ivfpq_residual_recall",
    oracle=f"""
    WITH exact AS ({_EXACT_SQL}),
    res AS ({_IVFPQ_RES_SQL}),
    raw AS ({_IVFPQ_SQL}),
    ovr AS (SELECT e.vec_id FROM exact e JOIN res r ON e.vec_id = r.vec_id),
    ovw AS (SELECT e.vec_id FROM exact e JOIN raw w ON e.vec_id = w.vec_id)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM exact) AS n_exact,
           (SELECT CAST(count(*) AS BIGINT) FROM ovr) AS n_residual,
           (SELECT CAST(count(*) AS BIGINT) FROM ovw) AS n_raw,
           round(CAST((SELECT count(*) FROM ovr) AS DOUBLE)
                 / (SELECT count(*) FROM exact), 6) AS recall_residual,
           round(CAST((SELECT count(*) FROM ovw) AS DOUBLE)
                 / (SELECT count(*) FROM exact), 6) AS recall_raw,
           (SELECT count(*) FROM ovr) > (SELECT count(*) FROM ovw)
             AS residual_improves
    """,
)
def similarity_ivfpq_residual_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _residual_ab(
        spark,
        sf_dir,
        similarity_ivfpq_residual_topk(spark, sf_dir),
        similarity_ivfpq_topk(spark, sf_dir),
        holds=False,
    )


# --------------------------------------------------------------------------
# similarity_ivfpq_residual_multiprobe — residual encoding at nprobe=3,
# the full FAISS serving shape and the subtle part of by_residual=true:
# the probe's residual DIFFERS PER PROBED CELL (q − centroid(L)), so
# each probed cell gets its OWN ADC table and a candidate's approximate
# distance uses the table of the cell it lives in. All three tables are
# k·n_sub integer literals built from driver-side control data (probe
# vector + frozen centroids); candidates still arrive via the cell
# membership join — never all-pairs.
# --------------------------------------------------------------------------
def _residual_mp_padc_sql() -> str:
    """Per-probed-cell ADC: dpart(pcell, m, code) = ||(q0 − cent_pcell)_m
    − codebook[m][code]||² in exact integers."""
    d = _PQ_D
    term = (
        f"q.qv[c.m * {d} + i] - k.qv[c.m * {d} + i] - c.sv[i]"
    )
    return f"""padc AS (
      SELECT pc.cluster AS pcell, c.m, c.code,
             list_sum(list_transform(range(1, {d + 1}),
               i -> ({term}) * ({term}))) AS dpart
      FROM pcells pc
      JOIN kmc1f k ON k.cluster = pc.cluster
      CROSS JOIN c1f c
      CROSS JOIN (SELECT qv FROM kmq WHERE vec_id = 0) q
    )"""


@query(
    "similarity_ivfpq_residual_multiprobe",
    oracle=f"""
    WITH {_km_ctes(p="km")},
    {_RQ_CTE},
    {_pq_ctes(qsrc="rq")},
    {_ivfpq_mp_cells_sql()},
    {_residual_mp_padc_sql()},
    sh AS (
      SELECT co.vec_id, CAST(sum(a.dpart) AS BIGINT) AS adc_dist
      FROM codes co
      JOIN kma2 asg ON asg.vec_id = co.vec_id
      JOIN padc a ON a.pcell = asg.cluster
                 AND a.m = co.m AND a.code = co.code
      WHERE co.vec_id <> 0
      GROUP BY co.vec_id
      ORDER BY adc_dist, co.vec_id
      LIMIT {_IVFPQ_SHORTLIST}
    )
    SELECT e.vec_id, sh.adc_dist,
           {cosine_exact_sql('e.embedding', 'qq.embedding')} AS cos_sim
    FROM sh JOIN embeddings e ON e.vec_id = sh.vec_id
    CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) qq
    ORDER BY cos_sim DESC, e.vec_id
    LIMIT 10
    """,
)
def similarity_ivfpq_residual_multiprobe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    assigned = _km8(spark, sf_dir)
    cents = _km8_cents(spark, sf_dir)
    codes, cb = _pq_trained(spark, sf_dir, "res")
    # driver-side control data: the probe's raw quantized vector (1-row
    # collect) ranks the cells AND residualizes per probed cell
    q0 = probe_qv(emb)
    probe_cells = nearest_cells(q0, cents, _IVFPQ_NPROBE)
    # per-cell ADC literal: candidate rows carry their cluster, so the
    # lookup dispatches on it (a 3-arm CASE over bounded literals)
    dpart = None
    for cl in probe_cells:
        r0 = [int(q0[i]) - cents[cl - 1][i] for i in range(len(q0))]
        arm = adc_lookup(r0, cb)
        dpart = (
            F.when(F.col("cluster") == cl, arm)
            if dpart is None
            else dpart.when(F.col("cluster") == cl, arm)
        )
    cand = codes.join(
        assigned.filter(
            F.col("cluster").isin(probe_cells) & (F.col("vec_id") != 0)
        ),
        "vec_id",
    )
    shortlist = (
        cand.select("vec_id", dpart.alias("dpart"))
        .groupBy("vec_id")
        .agg(F.sum("dpart").cast("bigint").alias("adc_dist"))
        .orderBy("adc_dist", "vec_id")
        .limit(_IVFPQ_SHORTLIST)
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
# similarity_ivfpq_residual_mp_recall — the nprobe=3 operating point
# with residual encoding, hash-gated next to the non-residual
# multiprobe twin. The MEASURED table (sf0.01 fixture, k=4 codes ×
# 4 subspaces): nprobe=1 raw 0.3 / residual 0.4 (residual wins —
# similarity_ivfpq_residual_recall's gated improvement); nprobe=3 raw
# 0.5 / residual 0.4 — a CROSSOVER, reported not hidden: with a 4-code
# codebook the 3-cell candidate pool is wide enough that the coarser
# raw ADC still shortlists the survivors, and the residual gain
# saturates. The capacity question was then MEASURED on the honest
# 20-probe sample (similarity_ivfpq_k16_grid, per-cell residuals):
# k=4 residual wins both probe depths, k=16 residual narrowly trails —
# by_residual pays at small codebooks and washes out as capacity
# rises on this fixture. residual_holds records the measured ordering
# under the gate.
# --------------------------------------------------------------------------
_IVFPQ_RES_MP_SQL = _ORACLES["similarity_ivfpq_residual_multiprobe"]


@query(
    "similarity_ivfpq_residual_mp_recall",
    oracle=f"""
    WITH exact AS ({_EXACT_SQL}),
    res AS ({_IVFPQ_RES_MP_SQL}),
    raw AS ({_IVFPQ_MP_SQL}),
    ovr AS (SELECT e.vec_id FROM exact e JOIN res r ON e.vec_id = r.vec_id),
    ovw AS (SELECT e.vec_id FROM exact e JOIN raw w ON e.vec_id = w.vec_id)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM exact) AS n_exact,
           (SELECT CAST(count(*) AS BIGINT) FROM ovr) AS n_residual,
           (SELECT CAST(count(*) AS BIGINT) FROM ovw) AS n_raw,
           round(CAST((SELECT count(*) FROM ovr) AS DOUBLE)
                 / (SELECT count(*) FROM exact), 6) AS recall_residual,
           round(CAST((SELECT count(*) FROM ovw) AS DOUBLE)
                 / (SELECT count(*) FROM exact), 6) AS recall_raw,
           (SELECT count(*) FROM ovr) >= (SELECT count(*) FROM ovw)
             AS residual_holds
    """,
)
def similarity_ivfpq_residual_mp_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _residual_ab(
        spark,
        sf_dir,
        similarity_ivfpq_residual_multiprobe(spark, sf_dir),
        similarity_ivfpq_multiprobe(spark, sf_dir),
        holds=True,
    )


# --------------------------------------------------------------------------
# similarity_ivfpq_recall_sweep / similarity_ivfpq_residual_recall_sweep
# — the STATISTICAL upgrade of the 1-probe recall audits: mean recall@10
# over the first 20 probe vectors, hash-gated as one row per space. A
# single-probe recall (0.3/0.4/0.5 above) is a coin-flip-grade sample;
# the sweep is the number an index owner would actually track. The
# per-probe ADC tables become a 20·n_sub·k-row DataFrame built from
# driver-side control data and BROADCAST into the scoring join — the
# batched-query serving shape (one scan serves all 20 probes at once,
# each restricted to its own cell).
#
# Scale: probe count is a constant; the exact side is corpus × 20
# (audit-only — production samples probes, which is exactly what this
# does); the IVFPQ side touches only the probes' cells' codes.
# --------------------------------------------------------------------------
_SWEEP_N = 20


# The collected 20 probe vectors per space (quantized for 'raw',
# residualized for 'res'). Probe vectors depend only on the embeddings
# and the staged k=8 quantizer — not on the PQ codebook capacity or
# nprobe — so every sweep/grid cell shares one collect per space (the
# k16 grid alone paid this job five times).
@staged("probe_qv")
def _probe_qv_staged(spark: SparkSession, sf_dir: str, space: str) -> list:
    from data_ingestion_din_spark.functions.vectors import quantize

    if space == "res":
        pv = _residual_qv(spark, sf_dir).select("vec_id", "qv")
    else:
        pv = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", quantize(F.col("embedding")).alias("qv")
        )
    return pv.filter(F.col("vec_id") < _SWEEP_N).collect()


# --------------------------------------------------------------------------
# The recall-audit skeleton. Every recall query in the similarity family
# is the same three steps over its own candidates: cut a top-10 per
# probe (per (arm, probe) when arms are tagged), exact-cosine rerank
# shortlists against the probe embeddings, and roll the overlap with a
# truth set up to one row per arm. The exact truth itself is the first
# user: computed once per session (_etop_staged) and scored against by
# every arm, the reuse idea of incremental top-k search sessions.
# --------------------------------------------------------------------------
def _rank_cut(df: DataFrame, *order, tags=(), k: int = 10) -> DataFrame:
    """The one top-k cut: ``row_number`` over each probe — over
    (*tags, probe) when arms are tagged — in the caller's ``order``,
    kept at rank <= ``k`` (the audited top-10 unless a shortlist depth
    is passed). The rank rides along as ``rk``."""
    w = W.partitionBy(*tags, "probe").orderBy(*order)
    return df.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)


def _probe_rerank(spark: SparkSession, sf_dir: str, cand: DataFrame) -> DataFrame:
    """The one exact-cosine probe rerank: attach the ``_SWEEP_N`` probe
    embeddings as a broadcast, score every candidate with
    ``cosine_exact`` and cut the top-10 per probe by (cos desc, vec_id).

    ``cand`` rows with a ``probe`` column are that probe's shortlist
    (their embeddings are joined here); rows without one are a corpus
    slice carrying its ``embedding``, a candidate of every probe but
    itself — the exact side. Any other column is an arm tag: it rides
    through and splits the cut. Returns (*tags, probe, vec_id, cos)."""
    emb = load_table(spark, sf_dir, "embeddings")
    pemb = F.broadcast(
        emb.filter(F.col("vec_id") < _SWEEP_N).select(
            F.col("vec_id").alias("probe"),
            F.col("embedding").alias("p_embedding"),
        )
    )
    tags = [c for c in cand.columns if c not in ("probe", "vec_id", "embedding")]
    if "probe" in cand.columns:
        pairs = cand.join(emb.select("vec_id", "embedding"), "vec_id").join(
            pemb, "probe"
        )
    else:
        pairs = cand.crossJoin(pemb).filter(F.col("vec_id") != F.col("probe"))
    scored = pairs.select(
        *tags,
        "probe",
        "vec_id",
        cosine_exact(F.col("embedding"), F.col("p_embedding")).alias("cos"),
    )
    return _rank_cut(scored, F.desc("cos"), "vec_id", tags=tags).drop("rk")


def _overlap_rollup(
    truth: DataFrame, approx: DataFrame, keys=("probe", "vec_id"), **arms
) -> DataFrame:
    """The one overlap rollup: (*tags, n_truth, n_overlap), one row per
    arm. ``arms`` maps each tag column of ``approx`` to its values; the
    arms are their product. ``n_overlap`` counts the arm's approximate
    rows found in ``truth`` on ``keys`` — (probe, vec_id) for the probe
    sweeps, vec_id for the single-probe audits. A tag column among
    ``keys`` gives each arm its own truth (tagged the same way);
    otherwise every arm is scored against the whole truth. An arm with
    no overlap, or no rows at all, still gets its row with 0. Without
    arms the result is one untagged row."""
    tags = list(arms)
    own = [t for t in tags if t in keys]
    count = F.count(F.lit(1)).cast("bigint")
    n_truth = truth.groupBy(*own).agg(count.alias("n_truth"))
    n_overlap = (
        approx.select(*keys, *[t for t in tags if t not in keys])
        .join(truth.select(*keys), list(keys))
        .groupBy(*tags)
        .agg(count.alias("n_overlap"))
    )
    if not tags:
        return n_truth.crossJoin(n_overlap)
    grid = local_frame(
        approx.sparkSession,
        list(itertools.product(*arms.values())),
        ", ".join(
            f"{t} {'int' if isinstance(v[0], int) else 'string'}"
            for t, v in arms.items()
        ),
    )
    grid = grid.join(n_truth, own, "left") if own else grid.crossJoin(n_truth)
    zero = F.lit(0).cast("bigint")
    return grid.join(n_overlap, tags, "left").select(
        *tags,
        F.coalesce("n_truth", zero).alias("n_truth"),
        F.coalesce("n_overlap", zero).alias("n_overlap"),
    )


def _recall_row(etop: DataFrame, itop: DataFrame, **arms) -> DataFrame:
    """(*tags, n_probes, n_exact_total, n_overlap_total, mean_recall)
    per arm: the :func:`_overlap_rollup` of the approximate top-10 sets
    ``itop`` against the exact ``etop``, projected to the mean recall@10
    over the ``_SWEEP_N`` probes — the one recall definition the sweep
    family shares (a drift here would silently diverge them)."""
    return _overlap_rollup(etop, itop, **arms).select(
        *arms,
        F.lit(_SWEEP_N).cast("bigint").alias("n_probes"),
        F.col("n_truth").alias("n_exact_total"),
        F.col("n_overlap").alias("n_overlap_total"),
        F.round(
            F.col("n_overlap").cast("double") / F.col("n_truth"), 6
        ).alias("mean_recall"),
    )


# The checkpointed exact top-10 per probe — the sweeps' exact side
# depends only on the embeddings and the probe set, so every (k, nprobe,
# space) sweep shares ONE computation of it.
@staged("sweep_etop")
def _etop_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        _probe_rerank(spark, sf_dir, emb.select("vec_id", "embedding"))
        .select("probe", "vec_id")
        .localCheckpoint(eager=True)
    )


def _ivfpq_shortlist(
    spark: SparkSession,
    sf_dir: str,
    space: str,
    k: int = _PQ_K,
    nprobe: int = 1,
    depth: int = _IVFPQ_SHORTLIST,
) -> DataFrame:
    """The batched 20-probe IVFPQ shortlist: (probe, vec_id, rk) for the
    ``depth`` candidates nearest by ADC distance in each probe's
    ``nprobe`` cells, before the exact rerank."""
    assigned = _km8(spark, sf_dir)
    codes, cb = _pq_trained(spark, sf_dir, space, k=k)
    # probe-side control data: 20 (residualized for 'res') vectors →
    # the 20×n_sub×k ADC rows, shipped as a small broadcast DataFrame.
    # The collect is session-staged per space (_probe_qv_staged): every
    # sweep/grid cell shares it instead of re-running the probe job.
    probe_rows = _probe_qv_staged(spark, sf_dir, space)
    if nprobe == 1:
        pcells = assigned.filter(F.col("vec_id") < _SWEEP_N).select(
            F.col("vec_id").alias("probe"), F.col("cluster").alias("pcell")
        )
    else:
        # multiprobe: rank ALL cells per probe against the frozen
        # centroids driver-side (probe qvs are bounded control data —
        # routing is always on the RAW vector, as in the multiprobe
        # serving queries; the residual space affects only the ADC)
        cents = _km8_cents(spark, sf_dir)
        # in the raw space probe_rows ARE the raw quantized vectors;
        # the residual space reuses the staged raw-probe collect
        raw_rows = (
            probe_rows
            if space == "raw"
            else _probe_qv_staged(spark, sf_dir, "raw")
        )
        pc_rows = [
            (int(r.vec_id), cl)
            for r in raw_rows
            for cl in nearest_cells(r.qv, cents, nprobe)
        ]
        pcells = local_frame(spark, pc_rows, "probe bigint, pcell int")
    # ADC tables (probe-side control data, broadcast). In the residual
    # space at nprobe>1 the probe's residual DIFFERS per probed cell —
    # candidates in cell C were encoded as residuals against cent_C, so
    # the table is keyed (probe, cluster) and scoring dispatches on the
    # candidate's cluster (the similarity_ivfpq_residual_multiprobe
    # shape; scoring every probed cell with the own-cell residual would
    # mis-rank 2/3 of the pool and deflate residual recall).
    if space == "res" and nprobe > 1:
        raw_by_id = {int(r.vec_id): list(r.qv) for r in raw_rows}
        rows = []
        for probe, cl in pc_rows:
            rq = [
                int(raw_by_id[probe][i]) - cents[cl - 1][i]
                for i in range(len(raw_by_id[probe]))
            ]
            rows += adc_rows((probe, cl), rq, cb)
        adc = local_frame(
            spark, rows, "probe bigint, cluster int, m int, code int, dpart bigint"
        )
        adc_keys = ["probe", "cluster", "m", "code"]
    else:
        # nprobe=1 residual: the only probed cell is the probe's own,
        # so the own-cell residual in probe_rows IS the per-cell one;
        # raw space: the ADC is cell-independent
        rows = [
            row for r in probe_rows for row in adc_rows((int(r.vec_id),), r.qv, cb)
        ]
        adc = local_frame(
            spark, rows, "probe bigint, m int, code int, dpart bigint"
        )
        adc_keys = ["probe", "m", "code"]
    cand = (
        assigned.join(
            F.broadcast(pcells), F.col("cluster") == F.col("pcell")
        )
        .filter(F.col("vec_id") != F.col("probe"))
        .select("probe", "vec_id", "cluster")
    )
    shd = (
        cand.join(codes, "vec_id")
        .join(F.broadcast(adc), adc_keys)
        .groupBy("probe", "vec_id")
        .agg(F.sum("dpart").cast("bigint").alias("adc_dist"))
    )
    return _rank_cut(shd, "adc_dist", "vec_id", k=depth).select(
        "probe", "vec_id", "rk"
    )


def _shortlist_recall(
    spark: SparkSession, sf_dir: str, sh: DataFrame
) -> DataFrame:
    """The 20-probe recall row of a two-stage index: exact-rerank its
    per-probe shortlist ``sh`` (probe, vec_id) and score the top-10
    against the staged exact side."""
    itop = _probe_rerank(spark, sf_dir, sh.select("probe", "vec_id"))
    return _recall_row(_etop_staged(spark, sf_dir), itop)


def _sweep_oracle(
    residual: bool, k: int = _PQ_K, nprobe: int = 1
) -> str:
    rq = f"{_RQ_CTE}," if residual else ""
    pq = _pq_ctes(qsrc="rq", k=k) if residual else _pq_ctes(k=k)
    if nprobe == 1:
        pcell = f"""pcell AS (
      SELECT vec_id AS probe, cluster FROM kma2 WHERE vec_id < {_SWEEP_N}
    )"""
    else:
        pcell = f"""pcell AS (
      SELECT probe, cluster FROM (
        SELECT q.vec_id AS probe, s.cluster,
               row_number() OVER (
                 PARTITION BY q.vec_id ORDER BY {_KM_DIST}, s.cluster
               ) AS pr
        FROM kmq q CROSS JOIN kmc1f s
        WHERE q.vec_id < {_SWEEP_N}
      ) WHERE pr <= {nprobe}
    )"""
    if residual and nprobe > 1:
        # the probe's residual DIFFERS per probed cell: table keyed
        # (probe, cluster), scoring dispatches on the candidate's cell
        padc = f"""pres AS (
      SELECT pc.probe, pc.cluster,
             list_transform(range(1, {_DIMS_UB}), i -> q.qv[i] - s.qv[i])
               AS rv
      FROM pcell pc
      JOIN kmq q ON q.vec_id = pc.probe
      JOIN kmc1f s ON s.cluster = pc.cluster
    ),
    padc AS (
      SELECT p.probe, p.cluster, c.m, c.code,
             list_sum(list_transform(range(1, {_PQ_D + 1}),
               i -> (p.rv[c.m * {_PQ_D} + i] - c.sv[i])
                  * (p.rv[c.m * {_PQ_D} + i] - c.sv[i]))) AS dpart
      FROM pres p CROSS JOIN c1f c
    )"""
        adc_join = ("d.probe = c.probe AND d.cluster = c.cluster"
                    " AND d.m = co.m AND d.code = co.code")
    else:
        padc = f"""padc AS (
      SELECT s.vec_id AS probe, c.m, c.code,
             list_sum(list_transform(range(1, {_PQ_D + 1}),
               i -> (s.sv[i] - c.sv[i]) * (s.sv[i] - c.sv[i]))) AS dpart
      FROM c1f c
      JOIN (SELECT vec_id, m, sv FROM sub WHERE vec_id < {_SWEEP_N}) s
        ON s.m = c.m
    )"""
        adc_join = "d.probe = c.probe AND d.m = co.m AND d.code = co.code"
    return f"""
    WITH {_km_ctes(p="km")},
    {rq}
    {pq},
    {pcell},
    {padc},
    cand AS (
      SELECT p.probe, a.vec_id, a.cluster
      FROM kma2 a JOIN pcell p ON a.cluster = p.cluster
      WHERE a.vec_id <> p.probe
    ),
    shd AS (
      SELECT c.probe, co.vec_id, CAST(sum(d.dpart) AS BIGINT) AS adc_dist
      FROM cand c
      JOIN codes co ON co.vec_id = c.vec_id
      JOIN padc d ON {adc_join}
      GROUP BY c.probe, co.vec_id
    ),
    sh AS (
      SELECT probe, vec_id FROM shd
      QUALIFY row_number() OVER (
        PARTITION BY probe ORDER BY adc_dist, vec_id) <= {_IVFPQ_SHORTLIST}
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


@query("similarity_ivfpq_recall_sweep", oracle=_sweep_oracle(False))
def similarity_ivfpq_recall_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _shortlist_recall(
        spark, sf_dir, _ivfpq_shortlist(spark, sf_dir, "raw")
    )


@query(
    "similarity_ivfpq_residual_recall_sweep", oracle=_sweep_oracle(True)
)
def similarity_ivfpq_residual_recall_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _shortlist_recall(
        spark, sf_dir, _ivfpq_shortlist(spark, sf_dir, "res")
    )


# --------------------------------------------------------------------------
# similarity_ivfpq_incremental — the COMPOSED index under append,
# completing index maintenance for IVFPQ (similarity_ivf_incremental
# froze only the coarse quantizer; a real IVFPQ index must also freeze
# the PQ CODEBOOKS): quantizer AND codebooks train once on the
# pre-append base (vec_id % 97 != 0), then the appended slice is routed
# to cells with one argmin pass against the centroid literal AND
# encoded with one argmin pass against the codebook literal
# (operators/similarity.pq_encode_qv) — no retraining, no base rescan,
# no shuffle on the batch side. The audited output is the post-append
# index's POSTING-LIST statistics: per (cluster, m, code) counts of
# base/batch codes — the structure a billion-vector IVFPQ serves from —
# hash-gated against an oracle that trains on the identical base and
# encodes everything against the same frozen artifacts.
# --------------------------------------------------------------------------
@query(
    "similarity_ivfpq_incremental",
    oracle=f"""
    WITH {_km_ctes(f"(SELECT * FROM embeddings WHERE vec_id % {_IVF_INC_MOD} <> 0)", p="km")},
    bq AS (
      SELECT vec_id,
             list_transform(
               embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
             ) AS qv
      FROM embeddings WHERE vec_id % {_IVF_INC_MOD} <> 0
    ),
    {_pq_ctes(qsrc="bq")},
    bb AS (
      SELECT vec_id,
             list_transform(
               embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
             ) AS qv
      FROM embeddings WHERE vec_id % {_IVF_INC_MOD} = 0
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
    merged AS (
      SELECT a.cluster, co.m, co.code, 0 AS is_batch
      FROM codes co JOIN kma2 a ON a.vec_id = co.vec_id
      UNION ALL
      SELECT a.cluster, co.m, co.code, 1 AS is_batch
      FROM bcodes co JOIN ab a ON a.vec_id = co.vec_id
    )
    SELECT CAST(cluster AS INT) AS cluster,
           CAST(m AS INT) AS m,
           CAST(code AS INT) AS code,
           CAST(sum(1 - is_batch) AS BIGINT) AS n_base,
           CAST(sum(is_batch) AS BIGINT) AS n_batch,
           CAST(count(*) AS BIGINT) AS n_total
    FROM merged
    GROUP BY cluster, m, code
    ORDER BY cluster, m, code
    """,
)
def similarity_ivfpq_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from data_ingestion_din_spark.functions.vectors import quantize
    from data_ingestion_din_spark.operators.similarity import (
        assign_to_centroids,
        kmeans_train,
        pq_assign,
        pq_encode_qv,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % _IVF_INC_MOD != 0)
    batch_qv = emb.filter(F.col("vec_id") % _IVF_INC_MOD == 0).select(
        "vec_id", quantize(F.col("embedding")).alias("qv")
    )
    assigned_base, cents = kmeans_train(base, k=8, iters=2)
    base_codes, cb = pq_assign(base, n_sub=_PQ_SUB, k=_PQ_K, iters=1)
    routed = assign_to_centroids(batch_qv, cents).select(
        "vec_id", "cluster"
    )
    batch_codes = pq_encode_qv(batch_qv, cb)
    merged = (
        base_codes.join(assigned_base, "vec_id")
        .select("cluster", "m", "code", F.lit(0).alias("is_batch"))
        .unionByName(
            batch_codes.join(routed, "vec_id").select(
                "cluster", "m", "code", F.lit(1).alias("is_batch")
            )
        )
    )
    return (
        merged.groupBy(
            F.col("cluster").cast("int").alias("cluster"),
            F.col("m").cast("int").alias("m"),
            F.col("code").cast("int").alias("code"),
        )
        .agg(
            F.sum(1 - F.col("is_batch")).cast("bigint").alias("n_base"),
            F.sum("is_batch").cast("bigint").alias("n_batch"),
            F.count(F.lit(1)).cast("bigint").alias("n_total"),
        )
        .orderBy("cluster", "m", "code")
    )


# --------------------------------------------------------------------------
# similarity_range_search — RANGE search (all neighbors within a cosine
# radius) as the complement of top-k: the query dedup thresholds and
# "find everything similar enough" jobs actually run — a top-k cut
# can't answer "how many near-neighbors exist". Five probe vectors
# (vec_id < 5 — a bounded query batch, the control-data class) are
# routed to their nprobe=3 nearest cells against the session-staged
# k=8 quantizer (the multiprobe recipe: probe qvs collected driver-side
# — 5 bounded rows — cells ranked in Python against the centroid
# literal), candidates are the routed cells' members only (semi-join
# before any scoring), and the radius test cos >= 0.3 is the integer
# predicate dot > 0 AND 100·dot² >= 9·aa·bb over 1e3-quantized vectors
# (int64-safe at dims=64). The reported cos_sim is one double
# division over exact integer dot/norms — the cosine_exact recipe.
#
# Scale: per probe the cost is O(members of 3 cells); the probe→cell
# table (15 rows) and probe vectors (5 rows) broadcast; nothing
# all-pairs. The oracle restates routing + radius in SQL, so the cell
# pruning itself is hash-gated (a probe's hit missing because routing
# diverged would break parity).
# --------------------------------------------------------------------------
_RS_NQ = 5
_RS_NPROBE = 3


def _rs_oracle() -> str:
    from data_ingestion_din_spark.functions.vectors import (
        QUANT_MILLI_SQL as q3,
    )

    return f"""
    WITH {_km_ctes()},
    q3t AS (SELECT vec_id, {q3} AS q3 FROM embeddings),
    probes AS (
      SELECT q.vec_id AS query_id, s.cluster,
             row_number() OVER (
               PARTITION BY q.vec_id ORDER BY {_KM_DIST}, s.cluster) AS pr
      FROM q JOIN c1f s ON TRUE
      WHERE q.vec_id < {_RS_NQ}
    ),
    pc AS (SELECT query_id, cluster FROM probes WHERE pr <= {_RS_NPROBE}),
    members AS (
      SELECT a2.vec_id, a2.cluster, q3t.q3 FROM a2 JOIN q3t USING (vec_id)
    ),
    pq3 AS (
      SELECT vec_id AS query_id, q3 AS pq FROM q3t WHERE vec_id < {_RS_NQ}
    ),
    cand AS (
      SELECT p.query_id, m.vec_id, m.cluster,
             (SELECT sum(m.q3[i] * g.pq[i]) FROM range(1, 65) r(i)) AS dot,
             (SELECT sum(m.q3[i] * m.q3[i]) FROM range(1, 65) r(i)) AS aa,
             (SELECT sum(g.pq[i] * g.pq[i]) FROM range(1, 65) r(i)) AS bb
      FROM pc p JOIN members m USING (cluster) JOIN pq3 g USING (query_id)
      WHERE m.vec_id <> p.query_id
    )
    SELECT query_id, vec_id, CAST(cluster AS INT) AS cluster,
           CAST(dot AS DOUBLE) / (sqrt(CAST(aa AS DOUBLE))
                                  * sqrt(CAST(bb AS DOUBLE))) AS cos_sim
    FROM cand
    WHERE dot > 0 AND 100 * dot * dot >= 9 * aa * bb
    ORDER BY query_id, vec_id
    """


@query("similarity_range_search", oracle=_rs_oracle())
def similarity_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_ingestion_din_spark.functions.vectors import (
        quant_dot,
        quantize,
        quantize_milli as q3,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    assigned = _km8(spark, sf_dir)
    cents = _km8_cents(spark, sf_dir)
    probes = (
        emb.filter(F.col("vec_id") < _RS_NQ)
        .select("vec_id", quantize(F.col("embedding")).alias("qv"))
        .collect()  # bounded: the query batch is control data
    )
    rows = [
        (int(r.vec_id), cl)
        for r in probes
        for cl in nearest_cells(r.qv, cents, _RS_NPROBE)
    ]
    pc = local_frame(spark, rows, "query_id bigint, cluster int")
    members = assigned.select("vec_id", "cluster").join(
        emb.select("vec_id", q3(F.col("embedding")).alias("q3")), "vec_id"
    )
    pq3 = emb.filter(F.col("vec_id") < _RS_NQ).select(
        F.col("vec_id").alias("query_id"), q3(F.col("embedding")).alias("pq")
    )
    cand = (
        members.join(F.broadcast(pc), "cluster")
        .join(F.broadcast(pq3), "query_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.col("cluster").cast("int").alias("cluster"),
            quant_dot(F.col("q3"), F.col("pq")).alias("dot"),
            quant_dot(F.col("q3"), F.col("q3")).alias("aa"),
            quant_dot(F.col("pq"), F.col("pq")).alias("bb"),
        )
    )
    return (
        cand.filter(
            (F.col("dot") > 0)
            & (100 * F.col("dot") * F.col("dot") >= 9 * F.col("aa") * F.col("bb"))
        )
        .select(
            "query_id",
            "vec_id",
            "cluster",
            (
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("aa").cast("double"))
                    * F.sqrt(F.col("bb").cast("double"))
                )
            ).alias("cos_sim"),
        )
        .orderBy("query_id", "vec_id")
    )


# --------------------------------------------------------------------------
# similarity_ivfpq_k16_grid — the codebook-capacity HALF of the IVFPQ
# operating surface, measured and hash-gated (4 rows: k=16 codes ×
# nprobe ∈ {1,3} × {raw, residual}), with the residual multiprobe done
# RIGHT: the probe's residual differs per probed cell, so the ADC is
# keyed (probe, cluster) and scoring dispatches on the candidate's
# cell (the similarity_ivfpq_residual_multiprobe shape — an own-cell
# shortcut mis-scores 2/3 of the pool and was caught in self-review
# before this grid's first claim shipped). The corrected 20-probe
# surface: k=4 residual WINS both depths (np=1: 0.25 vs 0.235; np=3:
# 0.26 vs 0.215), k=16 residual narrowly TRAILS (np=1: 0.33 vs 0.34;
# np=3: 0.39 vs 0.415) — on this near-random fixture the residual
# transform pays at small codebooks and washes out as capacity rises,
# i.e. by_residual is a capacity- and data-dependent knob rather than
# a uniform win. Measured, not inherited from FAISS defaults.
#
# Scale: the exact side (corpus × 20 probes) is computed ONCE per
# session (_etop_staged) and shared by every sweep; each grid cell
# touches only its probes' cells' codes.
# --------------------------------------------------------------------------
def _grid_oracle() -> str:
    cells = []
    for np_ in (1, 3):
        for space, res in (("raw", False), ("res", True)):
            cells.append(
                f"""SELECT {_GRID_K} AS codebook_k, {np_} AS nprobe,
       '{space}' AS space, s.*
FROM ({_sweep_oracle(res, k=_GRID_K, nprobe=np_)}) s"""
            )
    body = "\n    UNION ALL\n    ".join(cells)
    return f"""
    SELECT CAST(codebook_k AS INT) AS codebook_k,
           CAST(nprobe AS INT) AS nprobe, space,
           n_probes, n_exact_total, n_overlap_total, mean_recall
    FROM (
    {body}
    )
    ORDER BY nprobe, space
    """


@query("similarity_ivfpq_k16_grid", oracle=_grid_oracle())
def similarity_ivfpq_k16_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    cells = [
        _ivfpq_shortlist(spark, sf_dir, space, k=_GRID_K, nprobe=np_).select(
            "probe",
            "vec_id",
            F.lit(np_).alias("nprobe"),
            F.lit(space).alias("space"),
        )
        for np_ in (1, 3)
        for space in ("raw", "res")
    ]
    itop = _probe_rerank(spark, sf_dir, reduce(DataFrame.unionByName, cells))
    return (
        _recall_row(
            _etop_staged(spark, sf_dir), itop, nprobe=[1, 3], space=["raw", "res"]
        )
        .select(F.lit(_GRID_K).cast("int").alias("codebook_k"), "*")
        .orderBy("nprobe", "space")
    )
