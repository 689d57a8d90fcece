"""Binary quantization (1-bit-per-dimension) vector search — the
extreme end of the compression axis the family already measures (SQ8 =
8 bits/dim, PQ = 2 bits/dim here, MRL = fewer dims): each vector
becomes ONE 64-bit code (sign of each dimension), 32× smaller than the
float vector, searched either symmetrically (Hamming distance between
codes — pure bit ops) or asymmetrically (the full-precision query
dotted against the candidate's signs — the Qdrant/pgvector serving
upgrade that costs nothing extra at query time), each with and without
the exact-rerank stage every production BQ deployment runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_din_spark.functions.vectors import quantize
from data_ingestion_din_spark.plans.registry import query
from data_ingestion_din_spark.plans.similarity_queries import (
    _DIMS_UB,
    _SWEEP_N,
    _etop_staged,
    _probe_rerank,
    _recall_row,
)
from data_ingestion_din_spark.sources.tables import load_table

# --------------------------------------------------------------------------
# similarity_bq_recall_grid — four hash-gated rows over the staged
# 20-probe exact truth:
#   ham@10      — Hamming top-10 of the codes (pure binary search);
#   ham@50+rr   — Hamming top-50 shortlist, exact cosine rerank;
#   asym@10     — top-10 by Σ qv_q[i]·sign(d[i]) (asymmetric dot);
#   asym@50+rr  — its rerank form.
# Bit 63 rides the BIGINT sign (two's complement weight −2^63, the
# simhash convention); Hamming = bit_count(xor), the asymmetric score
# reads each sign back out of the packed code — the CODE is the only
# index-side artifact either arm touches, as in production.
#
# Measured (sf0.01, 20-probe recall@10): ham 0.27 / asym 0.38 raw;
# with the C=50 exact rerank ham 0.66 / asym 0.84. Both production
# claims reproduce: the asymmetric upgrade is worth +110‰ raw and
# +180‰ reranked at zero extra index bytes, and rerank is the bigger
# lever (×2.2-2.4). On the family's recall-per-byte table BQ lands at
# 8 B/vector = 0.84 (reranked) between SQ8's 64 B = 1.000 and PQ's
# 2 B = 0.235 — the compression sweet spot the 2024 vector stores
# ship as their default.
#
# Scale: codes are 8 bytes/vector; both scorings are one corpus scan
# of bit arithmetic; the rerank touches C×20 exact cosines. The grid
# slots BQ into the family's recall-per-byte table next to SQ8 (64 B,
# 1.000) and PQ (2 B here, 0.235-at-C=20).
# --------------------------------------------------------------------------
_BQ_RERANK_C = 50


def _bq_code_sql(src: str) -> str:
    terms = []
    for b in range(64):
        w = (
            "(-9223372036854775807 - 1)"
            if b == 63
            else f"CAST({1 << b} AS BIGINT)"
        )
        terms.append(f"(CASE WHEN {src}[{b + 1}] > 0 THEN {w} ELSE 0 END)")
    return " + ".join(terms)


def _bq_oracle() -> str:
    from data_ingestion_din_spark.functions.vectors import cosine_exact_sql

    asym = (
        f"list_sum(list_transform(range(1, {_DIMS_UB}), i -> "
        "CASE WHEN ((c.code >> (i - 1)) & 1) = 1 OR (i = 64 AND c.code < 0)"
        " THEN p.qv[i] ELSE -p.qv[i] END))"
    )
    arms = []
    for arm, rankcte, c in (
        ("ham@10", "hrank", 10),
        ("ham@50+rr", "hrank", _BQ_RERANK_C),
        ("asym@10", "arank", 10),
        ("asym@50+rr", "arank", _BQ_RERANK_C),
    ):
        rr = "+rr" in arm
        tag = arm.replace("@", "_").replace("+", "_")
        if rr:
            arms.append(
                f"""it_{tag} AS MATERIALIZED (
      SELECT probe, vec_id FROM (
        SELECT s.probe, s.vec_id,
               row_number() OVER (
                 PARTITION BY s.probe
                 ORDER BY {cosine_exact_sql('e.embedding', 'pe.embedding')}
                          DESC, s.vec_id) AS rk2
        FROM (SELECT probe, vec_id FROM {rankcte}
              WHERE rk <= {c}) s
        JOIN embeddings e ON e.vec_id = s.vec_id
        JOIN embeddings pe ON pe.vec_id = s.probe
      ) WHERE rk2 <= 10
    )"""
            )
        else:
            arms.append(
                f"""it_{tag} AS MATERIALIZED (
      SELECT probe, vec_id FROM {rankcte} WHERE rk <= 10
    )"""
            )
    rows = []
    for arm in ("ham@10", "ham@50+rr", "asym@10", "asym@50+rr"):
        tag = arm.replace("@", "_").replace("+", "_")
        rows.append(
            f"""SELECT '{arm}' AS arm,
             (SELECT count(*) FROM etop) AS n_exact_total,
             (SELECT count(*) FROM it_{tag} i
              JOIN etop t ON t.probe = i.probe AND t.vec_id = i.vec_id)
               AS n_overlap_total"""
        )
    body = "\n      UNION ALL\n      ".join(rows)
    return f"""
    WITH gq AS MATERIALIZED (
      SELECT vec_id,
             list_transform(
               embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
             ) AS qv
      FROM embeddings
    ),
    codes AS MATERIALIZED (
      SELECT vec_id, CAST({_bq_code_sql('qv')} AS BIGINT) AS code
      FROM gq
    ),
    probes AS MATERIALIZED (
      SELECT g.vec_id AS probe, g.qv, c.code
      FROM gq g JOIN codes c USING (vec_id)
      WHERE g.vec_id < {_SWEEP_N}
    ),
    hrank AS MATERIALIZED (
      SELECT p.probe, c.vec_id,
             row_number() OVER (
               PARTITION BY p.probe
               ORDER BY bit_count(CAST(xor(p.code, c.code) AS BIT)),
                        c.vec_id) AS rk
      FROM probes p JOIN codes c ON c.vec_id <> p.probe
    ),
    arank AS MATERIALIZED (
      SELECT p.probe, c.vec_id,
             row_number() OVER (
               PARTITION BY p.probe
               ORDER BY {asym} DESC, c.vec_id) AS rk
      FROM probes p JOIN codes c ON c.vec_id <> p.probe
    ),
    ex AS (
      SELECT p.probe, e.vec_id,
             {cosine_exact_sql('e.embedding', 'pe.embedding')} AS cos
      FROM embeddings e
      CROSS JOIN (SELECT vec_id AS probe FROM embeddings
                  WHERE vec_id < {_SWEEP_N}) p
      JOIN embeddings pe ON pe.vec_id = p.probe
      WHERE e.vec_id <> p.probe
    ),
    etop AS MATERIALIZED (
      SELECT probe, vec_id FROM (
        SELECT probe, vec_id, row_number() OVER (
          PARTITION BY probe ORDER BY cos DESC, vec_id) AS rk
        FROM ex
      ) WHERE rk <= 10
    ),
    {",".join(arms)}
    SELECT arm,
           CAST({_SWEEP_N} AS BIGINT) AS n_probes,
           CAST(n_exact_total AS BIGINT) AS n_exact_total,
           CAST(n_overlap_total AS BIGINT) AS n_overlap_total,
           round(CAST(n_overlap_total AS DOUBLE) / n_exact_total, 6)
             AS mean_recall
    FROM ({body})
    ORDER BY arm
    """


@query("similarity_bq_recall_grid", oracle=_bq_oracle())
def similarity_bq_recall_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.select("vec_id", quantize(F.col("embedding")).alias("qv"))

    def code_col() -> F.Column:
        acc = F.lit(0).cast("bigint")
        for b in range(64):
            w = (
                F.lit(-9223372036854775807 - 1)
                if b == 63
                else F.lit(1 << b).cast("bigint")
            )
            acc = acc + F.when(
                F.element_at("qv", b + 1) > 0, w
            ).otherwise(F.lit(0).cast("bigint"))
        return acc

    codes = qv.select(
        "vec_id", code_col().cast("bigint").alias("code")
        # lazy: materialized inside the final action, shared by the
        # probe broadcast and the scored pass
    ).localCheckpoint(eager=False)
    probes = F.broadcast(
        qv.filter(F.col("vec_id") < _SWEEP_N)
        .join(codes, "vec_id")
        .select(
            F.col("vec_id").alias("probe"),
            F.col("qv").alias("pqv"),
            F.col("code").alias("pcode"),
        )
    )
    # the asymmetric score reads signs back out of the packed code —
    # +qv for a set bit, −qv otherwise (bit 63 = the BIGINT sign)
    asym = F.expr(
        "aggregate(sequence(1, 64), CAST(0 AS BIGINT), (acc, i) -> "
        "acc + CASE WHEN ((code >> (i - 1)) & 1) = 1"
        " OR (i = 64 AND code < 0)"
        " THEN element_at(pqv, i) ELSE -element_at(pqv, i) END)"
    )
    scored = codes.crossJoin(probes).filter(
        F.col("vec_id") != F.col("probe")
    ).select(
        "probe",
        "vec_id",
        F.bit_count(
            F.col("pcode").bitwiseXOR(F.col("code"))
        ).alias("ham"),
        asym.alias("adot"),
    )
    # ONE pass over the scored rows computes BOTH rankings (same probe
    # partitioning — one exchange, two in-partition sorts), and each
    # row explodes into the arm tags it belongs to; the four arms then
    # share one shortlist table, one probe rerank (arm rides the window
    # key) and ONE recall rollup.
    wham = W.partitionBy("probe").orderBy("ham", "vec_id")
    wasym = W.partitionBy("probe").orderBy(F.desc("adot"), "vec_id")
    ranked = scored.select(
        "probe",
        "vec_id",
        F.row_number().over(wham).alias("rk_h"),
        F.row_number().over(wasym).alias("rk_a"),
    )
    arm_tags = F.array(
        F.when(F.col("rk_h") <= 10, F.lit("ham@10")),
        F.when(F.col("rk_h") <= _BQ_RERANK_C, F.lit("ham@50+rr")),
        F.when(F.col("rk_a") <= 10, F.lit("asym@10")),
        F.when(F.col("rk_a") <= _BQ_RERANK_C, F.lit("asym@50+rr")),
    )
    tagged = (
        ranked.filter(
            (F.col("rk_h") <= _BQ_RERANK_C)
            | (F.col("rk_a") <= _BQ_RERANK_C)
        )
        .select(
            "probe",
            "vec_id",
            F.explode(
                F.filter(arm_tags, lambda x: x.isNotNull())
            ).alias("arm"),
        )
        # lazy: the raw-shortlist side of the final union materializes
        # it inside the final action; the rerank side then reuses it
        .localCheckpoint(eager=False)
    )
    rerank = F.col("arm").endswith("+rr")
    itops = tagged.filter(~rerank).unionByName(
        _probe_rerank(spark, sf_dir, tagged.filter(rerank)).select(
            "probe", "vec_id", "arm"
        )
    )
    return _recall_row(
        _etop_staged(spark, sf_dir),
        itops,
        arm=["ham@10", "ham@50+rr", "asym@10", "asym@50+rr"],
    ).orderBy("arm")


# --------------------------------------------------------------------------
# retrieval_late_interaction — MULTI-VECTOR retrieval (the ColBERT
# family's MaxSim), the one retrieval shape the registry lacked: a
# document is a SET of vectors (here: each label's ≥40 member vectors
# — the multi-vector stand-in the fixture affords), the query is a set
# of 5 probe vectors, and three scoring strategies are ranked side by
# side, every score an exact integer (per-pair cosines floored to
# micro units BEFORE any aggregation — double summation order would
# gate on ULPs otherwise):
#   maxsim   — Σ_q max_d cos(q,d)   (late interaction: each query
#              vector finds its own best doc vector);
#   meanpool — Σ_q mean_d cos(q,d)  (all-pairs pooling — the strawman
#              MaxSim is usually compared against);
#   centroid — Σ_q cos(q, c_L) with c_L the floor-mean QUANTIZED
#              member centroid (single-vector-per-doc serving — what a
#              plain index does to a multi-vector document).
# One hash-gated row per (strategy, label) with the score and rank —
# the full ranking of every strategy is pinned, so the A/B cannot
# drift silently.
#
# Measured (sf0.01): centroid and meanpool produce the IDENTICAL
# ranking (on near-orthogonal members, the mean of cosines ≈ the
# cosine to the mean), while maxsim re-orders it wholesale (its top
# pick ranks 4th under pooling) — the measured statement of what late
# interaction buys: a document is rewarded for its single best match
# per query vector, not its average, which single-vector serving
# structurally cannot express.
#
# Scale: maxsim/meanpool is one members × 5-probe scan with a
# groupBy(probe, label) max/mean then a label sum — the standard
# late-interaction aggregation tree; centroid is a 10-row artifact.
# --------------------------------------------------------------------------
_LI_NPROBES = 5


def _li_oracle() -> str:
    from data_ingestion_din_spark.functions.vectors import cosine_exact_sql

    cdot = (
        "CAST(list_sum(list_transform(range(1, {ub}), i -> "
        "p.qv[i] * c.cq[i])) AS DOUBLE)"
    ).format(ub=_DIMS_UB)
    cnq = (
        "sqrt(CAST(list_sum(list_transform(range(1, {ub}), i -> "
        "p.qv[i] * p.qv[i])) AS DOUBLE))"
    ).format(ub=_DIMS_UB)
    cnc = (
        "sqrt(CAST(list_sum(list_transform(range(1, {ub}), i -> "
        "c.cq[i] * c.cq[i])) AS DOUBLE))"
    ).format(ub=_DIMS_UB)
    return f"""
    WITH probes AS MATERIALIZED (
      SELECT vec_id AS probe, embedding,
             list_transform(embedding, x ->
               CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
      FROM embeddings WHERE vec_id < {_LI_NPROBES}
    ),
    members AS MATERIALIZED (
      SELECT vec_id, label, embedding,
             list_transform(embedding, x ->
               CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
      FROM embeddings WHERE vec_id >= {_LI_NPROBES}
    ),
    pair AS MATERIALIZED (
      SELECT p.probe, m.label,
             CAST(floor(
               {cosine_exact_sql('m.embedding', 'p.embedding')} * 1000000
             ) AS BIGINT) AS cos_micro
      FROM members m CROSS JOIN probes p
    ),
    perq AS (
      SELECT probe, label,
             max(cos_micro) AS mx,
             CAST(sum(cos_micro) // count(*) AS BIGINT) AS mean_micro
      FROM pair GROUP BY probe, label
    ),
    centu AS (
      SELECT label, i, CAST(sum(qv[i]) // count(*) AS BIGINT) AS cv
      FROM members, range(1, {_DIMS_UB}) t(i)
      GROUP BY label, i
    ),
    centf AS MATERIALIZED (
      SELECT label, list(cv ORDER BY i) AS cq FROM centu GROUP BY label
    ),
    cscore AS (
      SELECT p.probe, c.label,
             CAST(floor({cdot} / ({cnq} * {cnc}) * 1000000) AS BIGINT)
               AS cos_micro
      FROM centf c CROSS JOIN probes p
    ),
    scores AS (
      SELECT 'maxsim' AS strategy, label,
             CAST(sum(mx) AS BIGINT) AS score_micro
      FROM perq GROUP BY label
      UNION ALL
      SELECT 'meanpool', label, CAST(sum(mean_micro) AS BIGINT)
      FROM perq GROUP BY label
      UNION ALL
      SELECT 'centroid', label, CAST(sum(cos_micro) AS BIGINT)
      FROM cscore GROUP BY label
    )
    SELECT strategy, CAST(label AS INT) AS label, score_micro,
           CAST(row_number() OVER (
             PARTITION BY strategy
             ORDER BY score_micro DESC, label) AS INT) AS rank
    FROM scores
    ORDER BY strategy, rank
    """


@query("retrieval_late_interaction", oracle=_li_oracle())
def retrieval_late_interaction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql.window import Window as W

    from data_ingestion_din_spark.functions.vectors import cosine_exact

    emb = load_table(spark, sf_dir, "embeddings")
    probes = F.broadcast(
        emb.filter(F.col("vec_id") < _LI_NPROBES).select(
            F.col("vec_id").alias("probe"),
            F.col("embedding").alias("p_embedding"),
            quantize(F.col("embedding")).alias("pqv"),
        )
    )
    members = emb.filter(F.col("vec_id") >= _LI_NPROBES).select(
        "label", "embedding", quantize(F.col("embedding")).alias("qv")
    )
    pair = members.crossJoin(probes).select(
        "probe",
        "label",
        F.floor(
            cosine_exact(F.col("embedding"), F.col("p_embedding"))
            * 1_000_000
        )
        .cast("bigint")
        .alias("cos_micro"),
    )
    perq = pair.groupBy("probe", "label").agg(
        F.max("cos_micro").alias("mx"),
        F.expr("sum(cos_micro) DIV count(*)")
        .cast("bigint")
        .alias("mean_micro"),
    )
    # floor-mean quantized centroid per label (10-row frozen artifact)
    cents = (
        members.select(
            "label", F.posexplode(F.col("qv")).alias("i", "v")
        )
        .groupBy("label", "i")
        .agg(F.expr("sum(v) DIV count(*)").cast("bigint").alias("cv"))
        .groupBy("label")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("i", "cv"))
            ).alias("pairs")
        )
        .select(
            "label",
            F.expr("transform(pairs, s -> s.cv)").alias("cq"),
        )
    )
    cdot = F.expr(
        "aggregate(zip_with(pqv, cq, (a, b) -> a * b),"
        " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    ).cast("double")
    nq = F.sqrt(
        F.expr(
            "aggregate(zip_with(pqv, pqv, (a, b) -> a * b),"
            " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        ).cast("double")
    )
    nc = F.sqrt(
        F.expr(
            "aggregate(zip_with(cq, cq, (a, b) -> a * b),"
            " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        ).cast("double")
    )
    cscore = cents.crossJoin(probes).select(
        "probe",
        "label",
        F.floor(cdot / (nq * nc) * 1_000_000)
        .cast("bigint")
        .alias("cos_micro"),
    )
    scores = (
        perq.groupBy("label")
        .agg(F.sum("mx").cast("bigint").alias("score_micro"))
        .select(F.lit("maxsim").alias("strategy"), "label", "score_micro")
        .unionByName(
            perq.groupBy("label")
            .agg(F.sum("mean_micro").cast("bigint").alias("score_micro"))
            .select(
                F.lit("meanpool").alias("strategy"),
                "label",
                "score_micro",
            )
        )
        .unionByName(
            cscore.groupBy("label")
            .agg(F.sum("cos_micro").cast("bigint").alias("score_micro"))
            .select(
                F.lit("centroid").alias("strategy"),
                "label",
                "score_micro",
            )
        )
    )
    wr = W.partitionBy("strategy").orderBy(
        F.desc("score_micro"), "label"
    )
    return scores.select(
        "strategy",
        F.col("label").cast("int").alias("label"),
        "score_micro",
        F.row_number().over(wr).cast("int").alias("rank"),
    ).orderBy("strategy", "rank")
