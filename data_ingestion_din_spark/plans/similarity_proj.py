"""Vector-space TRANSFORM measurements: how the coordinate system is
cut, mixed, or trained before an index sees it — Johnson-Lindenstrauss
random projection vs MRL prefix truncation (the dim-reduction axis
next to plans/similarity_bq.py's bit-depth axis), PQ subspace
ALLOCATION (the OPQ question, planted and measured), and the Lloyd
training-budget convergence curve behind every quantizer in the
similarity family.

Reference scope note: the reference serves full-dimension vectors via
Chroma (backend/services/vector_store.py); this surface is the
beyond-reference training-data-pipeline requirement (100 TB corpora
index at reduced width and trained quantizers, or not at all).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_din_spark.functions.hashing import h64, h64_sql
from data_ingestion_din_spark.functions.vectors import cosine_exact_sql
from data_ingestion_din_spark.operators.colocate import staged
from data_ingestion_din_spark.plans.registry import query
from data_ingestion_din_spark.plans.similarity_queries import (
    _DIMS_UB,
    _SWEEP_N,
    _etop_staged,
    _overlap_rollup,
    _rank_cut,
)
from data_ingestion_din_spark.plans.similarity_sq import _MRL_DIMS
from data_ingestion_din_spark.sources.tables import load_table, local_frame

# --------------------------------------------------------------------------
# similarity_rp_dim_grid — the JL random-projection answer to the MRL
# grid's question. similarity_mrl_dim_grid measured what serving a
# PREFIX of an untrained embedding buys: 0.090 / 0.135 / 0.315 / 1.000
# recall@10 at d = 8/16/32/64 — random unit vectors front-load nothing,
# so truncation is near-blind below full width. The classical fix needs
# no training at all: project onto d random ±1 directions
# (Achlioptas 2003's database-friendly JL variant — sign matrices match
# dense Gaussian JL guarantees and are exact in integer arithmetic),
# so every output coordinate mixes all 64 inputs. Whether that mixing
# actually pays on a given corpus is the question this grid measures:
# both strategies run against the shared exact top-10 (_etop_staged)
# and the delta is gated per row.
#
# Construction: s(i, j) = +1 if h64('rp' || i || '_' || j) is even else
# −1 — the same portable md5-derived determinism as the MinHash
# permutation family, identical in both engines; projected coordinate
# p_j = Σ_i s(i,j)·qv_i over the 1e6-quantized vector (|p_j| ≤ 6.4e7;
# prefix squared-L2 sums stay < 2^60 — exact BIGINT in both engines).
# The d-dim serving index is the FIRST d coordinates of the one 64-wide
# projection, exactly parallel to MRL's first-d-dims, so the comparison
# isolates the transform (mix vs truncate) with everything else equal.
#
# Two RP scoring forms sit next to the truncation column, because the
# estimator choice is half the story: rp_l2 ranks by squared L2 in
# projected space (the MRL grid's metric, transplanted), rp_dot ranks
# by the projected dot product — the UNBIASED estimator of the true
# dot (E[SᵀS] = d·I for a sign matrix S), which is what a cosine
# server would actually use.
#
# Measured (sf0.01, 20 probes, recall@10 in integer per-mille,
# rp_l2 / rp_dot / trunc):
#   d=8 :   55 /  65 /   90
#   d=16:  155 / 170 /  135
#   d=32:  200 / 225 /  315
#   d=64:  295 / 310 / 1000
# The textbook "always project" intuition FAILS on this fixture, and
# the reason is the measurement's point: for i.i.d. random coordinates,
# truncation is itself an unbiased distance estimator (coordinate
# sampling is a JL map), so mixing buys no information — it only adds
# the sign matrix's cross-term noise (SᵀS's off-diagonal ±√64·σ²),
# which on near-tie structure-free data shuffles the top-10 badly:
# at full width the identity keeps 1000‰ while the square ±1 projection
# keeps only ~310‰. The dot estimator beats projected-L2 by a steady
# +10-25‰ (norm variance removed) but cannot close that gap. JL's real
# case — energy concentrated in correlated dimensions, where truncation
# discards whole coordinates of signal — is exactly what this fixture
# lacks; the pair of grids (MRL: truncation is blind below full width;
# RP: projection is noise-bound at every width) is the measured "it
# depends on the spectrum" an index owner needs before picking either.
# (Numbers above are the fixture measurement this grid pins; the gate
# recomputes them from scratch in both engines rather than trusting
# this comment.)
#
# Scale: the projection is a fixed 64×64 integer matrix — bounded
# control data, broadcast; here it is applied in the MRL grid's
# audit form (per-dim explode joined to the broadcast sign matrix, one
# groupBy — corpus × 4096 intermediate rows), and a production apply
# replaces that with one Arrow mapInPandas GEMM per batch (the
# SemDeDup per-cluster-GEMM playbook) at corpus × d output rows. The
# probe side is the broadcast 20-row slice; all four prefix distances
# accumulate in ONE grouped pass per strategy, so the grid adds
# columns, not scans.
# --------------------------------------------------------------------------


def _rp_oracle() -> str:
    sign = (
        "CASE WHEN "
        + h64_sql("'rp' || CAST(i AS VARCHAR) || '_' || CAST(j AS VARCHAR)")
        + " % 2 = 0 THEN 1 ELSE -1 END"
    )
    rp_sums = ",\n             ".join(
        f"CAST(sum(CASE WHEN pp.j <= {d} THEN"
        f" (pp.pv - pj.pv) * (pp.pv - pj.pv) ELSE 0 END) AS BIGINT)"
        f" AS d{d},"
        f" CAST(sum(CASE WHEN pp.j <= {d} THEN"
        f" pp.pv * pj.pv ELSE 0 END) AS BIGINT) AS g{d}"
        for d in _MRL_DIMS
    )
    tr_sums = ",\n             ".join(
        f"CAST(sum(CASE WHEN tp.i <= {d} THEN"
        f" (tp.tv - qd.v) * (tp.tv - qd.v) ELSE 0 END) AS BIGINT)"
        f" AS d{d}"
        for d in _MRL_DIMS
    )
    per_d = "\n      UNION ALL\n      ".join(
        f"""SELECT {d} AS dims,
             (SELECT count(*) FROM etop) AS n_exact,
             (SELECT count(*) FROM etop e
              JOIN (SELECT probe, vec_id FROM rdist
                    QUALIFY row_number() OVER (
                      PARTITION BY probe ORDER BY d{d}, vec_id) <= 10) i
                ON i.probe = e.probe AND i.vec_id = e.vec_id) AS rp_ov,
             (SELECT count(*) FROM etop e
              JOIN (SELECT probe, vec_id FROM rdist
                    QUALIFY row_number() OVER (
                      PARTITION BY probe
                      ORDER BY g{d} DESC, vec_id) <= 10) i
                ON i.probe = e.probe AND i.vec_id = e.vec_id) AS rd_ov,
             (SELECT count(*) FROM etop e
              JOIN (SELECT probe, vec_id FROM tdist
                    QUALIFY row_number() OVER (
                      PARTITION BY probe ORDER BY d{d}, vec_id) <= 10) i
                ON i.probe = e.probe AND i.vec_id = e.vec_id) AS tr_ov"""
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
      SELECT vec_id, i, qv[i] AS v
      FROM q CROSS JOIN range(1, {_DIMS_UB}) r(i)
    ),
    signs AS (
      SELECT i, j, {sign} AS s
      FROM range(1, {_DIMS_UB}) a(i) CROSS JOIN range(1, {_DIMS_UB}) b(j)
    ),
    proj AS (
      SELECT qd.vec_id, signs.j,
             CAST(sum(signs.s * qd.v) AS BIGINT) AS pv
      FROM qd JOIN signs ON signs.i = qd.i
      GROUP BY qd.vec_id, signs.j
    ),
    pp AS (
      SELECT vec_id AS probe, j, pv FROM proj WHERE vec_id < {_SWEEP_N}
    ),
    rdist AS (
      SELECT pp.probe, pj.vec_id,
             {rp_sums}
      FROM proj pj JOIN pp ON pp.j = pj.j
      WHERE pj.vec_id <> pp.probe GROUP BY pp.probe, pj.vec_id
    ),
    tp AS (
      SELECT vec_id AS probe, i, v AS tv FROM qd WHERE vec_id < {_SWEEP_N}
    ),
    tdist AS (
      SELECT tp.probe, qd.vec_id,
             {tr_sums}
      FROM qd JOIN tp ON tp.i = qd.i
      WHERE qd.vec_id <> tp.probe GROUP BY tp.probe, qd.vec_id
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
           CAST(n_exact AS BIGINT) AS n_exact_total,
           CAST(rp_ov * 1000 // n_exact AS BIGINT) AS rp_l2_milli,
           CAST(rd_ov * 1000 // n_exact AS BIGINT) AS rp_dot_milli,
           CAST(tr_ov * 1000 // n_exact AS BIGINT) AS trunc_milli,
           CAST((rd_ov - tr_ov) * 1000 // n_exact AS BIGINT)
             AS dot_vs_trunc_milli
    FROM ({per_d})
    ORDER BY dims
    """


@query("similarity_rp_dim_grid", oracle=_rp_oracle())
def similarity_rp_dim_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from data_ingestion_din_spark.functions.vectors import quantize

    emb = load_table(spark, sf_dir, "embeddings")
    qm = emb.select("vec_id", quantize(F.col("embedding")).alias("qv"))
    # Sign matrix: the identical portable-h64 expression evaluated once
    # over the bounded 64×64 grid and collected — 4096 control rows.
    dims = spark.range(1, _DIMS_UB).select(F.col("id").cast("int"))
    signs_df = (
        dims.select(F.col("id").alias("i"))
        .crossJoin(dims.select(F.col("id").alias("j")))
        .select(
            "i",
            "j",
            F.when(
                h64(
                    F.concat(
                        F.lit("rp"),
                        F.col("i").cast("string"),
                        F.lit("_"),
                        F.col("j").cast("string"),
                    )
                )
                % 2
                == 0,
                F.lit(1),
            )
            .otherwise(F.lit(-1))
            .alias("s"),
        )
    )
    nd = _DIMS_UB - 1
    S = np.zeros((nd, nd), dtype=np.int64)
    for r in signs_df.collect():
        S[r.i - 1, r.j - 1] = int(r.s)
    # Probe side: bounded collect (_SWEEP_N rows), projected locally.
    prow = sorted(
        qm.filter(F.col("vec_id") < _SWEEP_N).collect(),
        key=lambda r: int(r.vec_id),
    )
    pids = np.array([int(r.vec_id) for r in prow], dtype=np.int64)
    PV = np.stack([list(r.qv) for r in prow]).astype(np.int64)
    PP = PV @ S
    bc = spark.sparkContext.broadcast((pids, PV, PP, S))
    # ONE Arrow GEMM pass over the corpus (r13: the production apply
    # form the header below documents, now used by the audit itself —
    # the per-dim explode joined to the broadcast sign matrix cost
    # corpus × 4096 intermediate rows plus two (probe × vec × dim)
    # shuffle aggregations; each batch here computes V @ S and emits
    # the per-probe PREFIX distances directly via axis-1 cumsums, so
    # the first shuffle the query pays is the 20·n-row rank window).
    # Integer-exact: pv ≤ 64·1e6, squared-diff prefix sums < 2^60 —
    # identical arithmetic to the oracle's SQL sums.
    d_cols = (
        [f"d{d} long, g{d} long" for d in _MRL_DIMS]
        + [f"t{d} long" for d in _MRL_DIMS]
    )
    out_schema = "probe long, vec_id long, " + ", ".join(d_cols)

    def _dist_batches(batches):
        import pandas as pd

        apids, aPV, aPP, aS = bc.value
        didx = [d - 1 for d in _MRL_DIMS]
        for pdf in batches:
            if not len(pdf):
                continue
            ids_b = pdf["vec_id"].to_numpy().astype(np.int64)
            V = np.stack(pdf["qv"].to_numpy()).astype(np.int64)
            P = V @ aS
            parts = []
            for pi, pid in enumerate(apids):
                mask = ids_b != pid
                if not mask.any():
                    continue
                dp = aPP[pi][None, :] - P[mask]
                csq = np.cumsum(dp * dp, axis=1)
                cdot = np.cumsum(P[mask] * aPP[pi][None, :], axis=1)
                dt = aPV[pi][None, :] - V[mask]
                ctr = np.cumsum(dt * dt, axis=1)
                rec = {
                    "probe": np.full(int(mask.sum()), pid, dtype=np.int64),
                    "vec_id": ids_b[mask],
                }
                # Build columns in the DECLARED schema order (all d/g
                # pairs, then all t columns) so the output is correct
                # under both by-name and by-position pandas column
                # assignment (spark.sql.legacy.execution.pandas
                # .groupedMap.assignColumnsByName) — all fields are
                # long, so a by-position mismatch would transpose
                # silently rather than raise.
                for d, j in zip(_MRL_DIMS, didx):
                    rec[f"d{d}"] = csq[:, j]
                    rec[f"g{d}"] = cdot[:, j]
                for d, j in zip(_MRL_DIMS, didx):
                    rec[f"t{d}"] = ctr[:, j]
                parts.append(pd.DataFrame(rec))
            if parts:
                yield pd.concat(parts, ignore_index=True)

    dist = qm.mapInPandas(_dist_batches, out_schema).localCheckpoint(
        eager=True
    )  # 20·n control-sized rows; the 12 arms below fan out of one scan
    # every (dims, strategy) arm ranks the same checkpointed rows by its
    # own prefix score — the dot estimator negated so all three rank
    # ascending — under one (dims, kind, probe) window
    scores = {"rp_l2": "d{}", "rp_dot": "-g{}", "trunc": "t{}"}
    arms = dist.select(
        "probe",
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("dims"),
                        F.lit(kind).alias("kind"),
                        F.expr(expr.format(d)).alias("score"),
                    )
                    for d in _MRL_DIMS
                    for kind, expr in scores.items()
                ]
            )
        ).alias("a"),
    ).select("probe", "vec_id", "a.dims", "a.kind", "a.score")
    itop = _rank_cut(arms, "score", "vec_id", tags=("dims", "kind"))

    def per_mille(num: F.Column) -> F.Column:
        return (num * 1000 / F.col("n_exact_total")).cast("bigint")

    def kind_overlap(kind: str) -> F.Column:
        return F.max(F.when(F.col("kind") == kind, F.col("n_overlap")))

    rp, rd, tr = F.col("rp_l2"), F.col("rp_dot"), F.col("trunc")
    return (
        _overlap_rollup(
            _etop_staged(spark, sf_dir),
            itop,
            dims=list(_MRL_DIMS),
            kind=list(scores),
        )
        .groupBy("dims")
        .agg(
            F.max("n_truth").alias("n_exact_total"),
            *[kind_overlap(kind).alias(kind) for kind in scores],
        )
        .select(
            "dims",
            F.lit(_SWEEP_N).cast("bigint").alias("n_probes"),
            "n_exact_total",
            per_mille(rp).alias("rp_l2_milli"),
            per_mille(rd).alias("rp_dot_milli"),
            per_mille(tr).alias("trunc_milli"),
            per_mille(rd - tr).alias("dot_vs_trunc_milli"),
        )
        .orderBy("dims")
    )


# --------------------------------------------------------------------------
# similarity_pq_subspace_ab — the OPQ question (Ge et al. 2013: OPQ's
# entire premise is that PQ distortion depends on how VARIANCE is
# allocated across subspaces) isolated to its allocation half, with the
# variance imbalance PLANTED so the answer is measurable on this
# fixture (the vamana_clustered_ab playbook): scale dimension i of the
# quantized vector by (1 + (i-1) div 16), giving four 16-dim blocks of
# 1x/4x/9x/16x variance that align EXACTLY with the contiguous PQ
# subspace split — the adversarial layout OPQ exists to fix — then
# train the identical k=4 PQ twice:
#
#   contiguous: natural dim order — subspace m sees uniform scale m+1,
#               so codebook 3 must cover 16x the energy of codebook 0;
#   balanced:   round-robin permutation (subspace m takes dims
#               m*4+1..m*4+4 of every block) — each subspace sees all
#               four scales, equal total variance. The permutation is
#               a PLAN-TIME literal because the planted scales are
#               known by construction; production estimates per-dim
#               variance first (one pass) and sorts/round-robins — the
#               documented difference, not a semantic one.
#
# Full-dim distances are permutation-invariant, so both layouts serve
# the SAME scaled space against ONE exact truth — the A/B isolates the
# subspace grouping. One row per (layout, subspace): the subspace's
# total quantization error (the OPQ diagnostic: where the distortion
# lives), its per-layout share, and the layout's ADC recall@10 over
# the 20-probe sweep.
#
# Measured (sf0.01): contiguous distortion is the planted staircase —
# error shares 34/136/304/524‰ (subspace 3 alone carries 52% of all
# quantization error) — while balanced flattens it to 246-254‰ each;
# ADC recall@10 is 95‰ contiguous vs 150‰ balanced (+58% relative):
# with k=4 codes per subspace the codebooks are variance-starved
# everywhere, so the gain is real but bounded — the measured magnitude
# of the OPQ allocation effect at this code budget, next to the
# distortion table that explains it. (Pinned by the gate, not this
# comment.)
#
# Scale: two PQ trainings (the pq_assign iteration-control shape), the
# distortion rollup is one (m, code)-joined scan per layout, and the
# probe ADC tables are 20·4·4-row broadcast control data — same
# posture as every PQ sweep.
# --------------------------------------------------------------------------
_PQS_SCALES = 4  # variance blocks: dim i scaled by 1 + (i-1)//16
_PQS_PERM = [
    b * 16 + m * 4 + t + 1
    for m in range(4)
    for b in range(4)
    for t in range(4)
]  # balanced layout: subspace m takes 4 dims of every scale block


def _pqs_ctes(p: str, qsrc: str) -> str:
    """Prefixed PQ train/encode chain over CTE ``qsrc`` (vec_id, qv) —
    the _pq_ctes machinery with a namespace prefix so the A/B can
    instantiate it twice in one statement, plus per-subspace error and
    the 20-probe ADC serving CTEs."""
    from data_ingestion_din_spark.plans.similarity_queries import (
        _PQ_D,
        _PQ_DIST,
        _PQ_K,
        _PQ_SUB,
    )

    return f"""{p}sub AS (
      SELECT vec_id, m,
             list_slice(qv, m * {_PQ_D} + 1, m * {_PQ_D} + {_PQ_D}) AS sv
      FROM {qsrc}, range(0, {_PQ_SUB}) t(m)
    ),
    {p}seeds AS (
      SELECT m, CAST(row_number() OVER (PARTITION BY m ORDER BY vec_id)
                     AS INT) AS code, sv
      FROM {p}sub
      QUALIFY row_number() OVER (PARTITION BY m ORDER BY vec_id)
        <= {_PQ_K}
    ),
    {p}a1 AS (
      SELECT s.vec_id, s.m, s.sv, c.code
      FROM {p}sub s JOIN {p}seeds c ON c.m = s.m
      QUALIFY row_number() OVER (
        PARTITION BY s.vec_id, s.m ORDER BY {_PQ_DIST}, c.code) = 1
    ),
    {p}m1 AS (
      SELECT m, code, i AS dim, sum(sv[i]) // count(*) AS cv
      FROM {p}a1, range(1, {_PQ_D + 1}) t(i)
      GROUP BY m, code, i
    ),
    {p}c1 AS (SELECT m, code, list(cv ORDER BY dim) AS sv FROM {p}m1
              GROUP BY m, code),
    {p}c1f AS (
      SELECT s.m, s.code, coalesce(c.sv, s.sv) AS sv
      FROM {p}seeds s LEFT JOIN {p}c1 c
        ON s.m = c.m AND s.code = c.code
    ),
    {p}codes AS (
      SELECT s.vec_id, s.m, c.code
      FROM {p}sub s JOIN {p}c1f c ON c.m = s.m
      QUALIFY row_number() OVER (
        PARTITION BY s.vec_id, s.m ORDER BY {_PQ_DIST}, c.code) = 1
    ),
    {p}err AS (
      SELECT s.m,
             CAST(sum(list_sum(list_transform(range(1, {_PQ_D + 1}),
               i -> (s.sv[i] - c.sv[i]) * (s.sv[i] - c.sv[i]))))
               AS BIGINT) AS sq_err
      FROM {p}codes k
      JOIN {p}sub s ON s.vec_id = k.vec_id AND s.m = k.m
      JOIN {p}c1f c ON c.m = k.m AND c.code = k.code
      GROUP BY s.m
    ),
    {p}adcp AS (
      SELECT s.vec_id AS probe, c.m, c.code, {_PQ_DIST} AS dpart
      FROM (SELECT vec_id, m, sv FROM {p}sub
            WHERE vec_id < {_SWEEP_N}) s
      JOIN {p}c1f c ON c.m = s.m
    ),
    {p}sh AS (
      SELECT probe, vec_id FROM (
        SELECT a.probe, k.vec_id,
               sum(a.dpart) AS adc_dist,
               row_number() OVER (
                 PARTITION BY a.probe
                 ORDER BY sum(a.dpart), k.vec_id) AS rk
        FROM {p}codes k
        JOIN {p}adcp a ON a.m = k.m AND a.code = k.code
        WHERE k.vec_id <> a.probe
        GROUP BY a.probe, k.vec_id
      ) WHERE rk <= 10
    )"""


def _pq_ab_oracle(arms, extra_cte: str) -> str:
    """Shared PQ-A/B oracle skeleton over the staircase space ``sq``:
    ``arms`` = ((label, prefix, src_cte), ...) instantiates the
    train/encode/error/ADC chain per arm via :func:`_pqs_ctes`;
    ``extra_cte`` defines the second arm's transformed space from
    ``sq``. One exact truth (permutation/sign-invariant full-dim
    distances on ``sq``) serves every arm. Used by
    similarity_pq_subspace_ab and similarity_pq_opq_ab."""
    rows = []
    for label, p, _ in arms:
        rows.append(
            f"""SELECT '{label}' AS layout, e.m, e.sq_err,
             (SELECT count(*) FROM setop t
              JOIN {p}sh s ON s.probe = t.probe AND s.vec_id = t.vec_id)
               AS n_overlap
      FROM {p}err e"""
        )
    body = "\n      UNION ALL\n      ".join(rows)
    arm_ctes = ",\n    ".join(_pqs_ctes(p, src) for _, p, src in arms)
    return f"""
    WITH gq AS (
      SELECT vec_id,
             list_transform(
               embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
             ) AS qv
      FROM embeddings
    ),
    sq AS (
      SELECT vec_id,
             list_transform(range(1, {_DIMS_UB}),
               i -> qv[i] * (1 + (i - 1) // 16)) AS qv
      FROM gq
    ),
    {extra_cte},
    sdist AS (
      SELECT p.vec_id AS probe, e.vec_id,
             list_sum(list_transform(range(1, {_DIMS_UB}),
               i -> (e.qv[i] - p.qv[i]) * (e.qv[i] - p.qv[i]))) AS d2
      FROM sq e
      CROSS JOIN (SELECT vec_id, qv FROM sq
                  WHERE vec_id < {_SWEEP_N}) p
      WHERE e.vec_id <> p.vec_id
    ),
    setop AS (
      SELECT probe, vec_id FROM sdist
      QUALIFY row_number() OVER (
        PARTITION BY probe ORDER BY d2, vec_id) <= 10
    ),
    {arm_ctes},
    tot AS (SELECT layout, sum(sq_err) AS t
            FROM ({body}) GROUP BY layout)
    SELECT b.layout, CAST(b.m AS INT) AS subspace,
           b.sq_err,
           CAST(b.sq_err * 1000 // tot.t AS BIGINT) AS err_share_milli,
           CAST({_SWEEP_N} AS BIGINT) AS n_probes,
           CAST(b.n_overlap * 1000 // (10 * {_SWEEP_N}) AS BIGINT)
             AS recall_milli
    FROM ({body}) b JOIN tot ON tot.layout = b.layout
    ORDER BY b.layout, b.m
    """


def _pqs_oracle() -> str:
    perm = ", ".join(str(i) for i in _PQS_PERM)
    return _pq_ab_oracle(
        (("contiguous", "pc_", "sq"), ("balanced", "pb_", "bq")),
        f"""bq AS (
      SELECT vec_id,
             list_transform([{perm}], i -> qv[i]) AS qv
      FROM sq
    )""",
    )


# (sq, setop, probes) — the staircase space, its guarded exact truth and
# the collected probe vectors are shared by
# similarity_pq_subspace_ab AND similarity_pq_opq_ab (both A/Bs isolate
# one PQ design knob on the SAME planted-variance space against the
# SAME transform-invariant truth), so they are staged once per session
# like _etop_staged / the trained PQ indexes; bench.py records the
# staging as its own setup row. The baseline arm (PQ trained on the
# untransformed sq — "contiguous" in the subspace A/B, "identity" in
# the OPQ A/B) is byte-identical between the two queries, so its
# trained (codes, codebook) pair is staged too.
@staged("pqs_space")
def _pqs_space(spark: SparkSession, sf_dir: str):
    """Staircase-scaled quantized space, its guarded exact truth and the
    driver-side probe vectors. Returns ``(sq, setop, probes)``."""
    from data_ingestion_din_spark.functions.vectors import quantize

    emb = load_table(spark, sf_dir, "embeddings")
    # fixture-size coalesce (the pq_aniso_ab disposition): the guarded
    # audit set is ≤20k rows and the dozen control jobs below otherwise
    # pay 32-task scheduling overhead each
    sq = (
        emb.select(
            "vec_id",
            F.transform(
                quantize(F.col("embedding")),
                lambda x, i: x * (1 + F.floor(i / 16).cast("bigint")),
            ).alias("qv"),
        )
        .coalesce(4)
        .localCheckpoint(eager=False)
    )
    # one exact truth on the scaled space (permutation/sign-invariant),
    # computed as a 20×N integer GEMM over collected control data —
    # the graph family's guarded audit form (the interpreted HOF
    # crossJoin cost ~3× as much, measured)
    import numpy as np

    from data_ingestion_din_spark.operators.dedup import _refuse_all_pairs

    _refuse_all_pairs(emb, 20_000, "staged exact-topk (audit truth)")
    srows = sq.collect()
    sids = np.array([int(r.vec_id) for r in srows], dtype=np.int64)
    smat = np.stack([list(r.qv) for r in srows]).astype(np.int64)
    order = np.argsort(sids)
    sids, smat = sids[order], smat[order]
    pmask = sids < _SWEEP_N
    pm = smat[pmask]
    nsq = (smat * smat).sum(axis=1)
    psq = (pm * pm).sum(axis=1)
    dmat = psq[:, None] + nsq[None, :] - 2 * (pm @ smat.T)
    etop_rows = []
    for ri, pid in enumerate(sids[pmask]):
        row = dmat[ri]
        cand = np.lexsort((sids, row))
        cand = cand[sids[cand] != pid][:10]
        etop_rows += [(int(pid), int(sids[j])) for j in cand]
    setop = local_frame(
        spark, etop_rows, "probe bigint, vec_id bigint"
    ).localCheckpoint(eager=True)
    probes = {
        int(pid): [int(v) for v in smat[ri]]
        for ri, pid in enumerate(sids)
        if pid < _SWEEP_N
    }
    return sq, setop, probes


@staged("pqs_base_arm")
def _pqs_base_trained(spark: SparkSession, sf_dir: str):
    """Baseline-arm PQ training over the staged staircase space sq:
    (checkpointed codes, codebooks)."""
    from data_ingestion_din_spark.operators.similarity import pq_assign_qv

    src = _pqs_space(spark, sf_dir)[0]
    codes, cb = pq_assign_qv(src, n_sub=4, k=4, iters=1)
    return codes.localCheckpoint(eager=True), cb


def _pq_arm(
    spark: SparkSession,
    src: DataFrame,
    pv: dict,
    trained: tuple | None = None,
) -> tuple[DataFrame, DataFrame]:
    """One PQ A/B arm: train the k=4 / 4-subspace / 1-iter PQ on ``src``
    (vec_id, qv) and return its per-subspace quantization error
    (m, sq_err) and its broadcast-ADC distances for the probes (probe,
    vec_id, adc_dist). ``pv`` maps probe id to its vector IN THE ARM'S
    SPACE (the caller applies the arm transform to both ``src`` and the
    probe vectors). ``trained`` short-circuits the training with a
    pre-staged (checkpointed codes, codebooks) pair — the
    session-staged baseline arm both A/Bs share."""
    from data_ingestion_din_spark.operators.similarity import (
        adc_rows,
        pq_assign_qv,
        sq_l2,
        subvectors,
        with_codewords,
    )
    from data_ingestion_din_spark.plans.similarity_queries import _PQ_D

    if trained is not None:
        codes, cb = trained
    else:
        codes, cb = pq_assign_qv(src, n_sub=4, k=4, iters=1)
        # two consumers below (distortion rollup + ADC serving) — one
        # checkpoint so the Lloyd DAG runs once per arm; lazy, both
        # consumers sit in the final action
        codes = codes.localCheckpoint(eager=False)
    serr = (
        with_codewords(spark, codes, subvectors(src, 4, _PQ_D, "vec_id"), cb)
        .select("m", sq_l2(F.col("sv"), F.col("cv")).alias("e"))
        .groupBy("m")
        .agg(F.sum("e").cast("bigint").alias("sq_err"))
    )
    rows = [r for pid, vec in pv.items() for r in adc_rows((pid,), vec, cb)]
    adc = F.broadcast(
        local_frame(spark, rows, "probe bigint, m int, code int, dpart bigint")
    )
    dist = (
        codes.join(adc, ["m", "code"])
        .filter(F.col("vec_id") != F.col("probe"))
        .groupBy("probe", "vec_id")
        .agg(F.sum("dpart").cast("bigint").alias("adc_dist"))
    )
    return serr, dist


def _pq_ab(spark: SparkSession, setop: DataFrame, arms) -> DataFrame:
    """The per-(layout, subspace) rows every PQ A/B emits: ``arms`` =
    ((label, src, pv, trained), ...) per :func:`_pq_arm`; the arms'
    ADC top-10 sets are cut under one (layout, probe) window and rolled
    up against the shared truth ``setop`` in one pass."""
    errs, dists = [], []
    for label, src, pv, trained in arms:
        serr, dist = _pq_arm(spark, src, pv, trained)
        errs.append(serr.withColumn("layout", F.lit(label)))
        dists.append(dist.withColumn("layout", F.lit(label)))
    itop = _rank_cut(
        reduce(DataFrame.unionByName, dists),
        "adc_dist",
        "vec_id",
        tags=("layout",),
    )
    rec = _overlap_rollup(setop, itop, layout=[a[0] for a in arms])
    errs = reduce(DataFrame.unionByName, errs)
    tot = errs.groupBy("layout").agg(F.sum("sq_err").cast("bigint").alias("t"))
    return (
        errs.join(tot, "layout")
        .join(rec, "layout")
        .select(
            "layout",
            F.col("m").cast("int").alias("subspace"),
            "sq_err",
            F.expr("sq_err * 1000 DIV t")
            .cast("bigint")
            .alias("err_share_milli"),
            F.lit(_SWEEP_N).cast("bigint").alias("n_probes"),
            F.expr(f"n_overlap * 1000 DIV (10 * {_SWEEP_N})")
            .cast("bigint")
            .alias("recall_milli"),
        )
        .orderBy("layout", "subspace")
    )


@query("similarity_pq_subspace_ab", oracle=_pqs_oracle())
def similarity_pq_subspace_ab(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    sq, setop, probes = _pqs_space(spark, sf_dir)
    perm_lit = "array(" + ",".join(str(i) for i in _PQS_PERM) + ")"
    bq = sq.select(
        "vec_id",
        F.expr(f"transform({perm_lit}, i -> qv[i - 1])").alias("qv"),
    )
    pvb = {k: [v[i - 1] for i in _PQS_PERM] for k, v in probes.items()}
    base = _pqs_base_trained(spark, sf_dir)
    return _pq_ab(
        spark,
        setop,
        (
            ("contiguous", sq, probes, base),
            ("balanced", bq, pvb, None),
        ),
    )


# --------------------------------------------------------------------------
# similarity_pq_opq_ab — the remaining classical PQ knob after subspace
# ALLOCATION (similarity_pq_subspace_ab) and assignment LOSS
# (similarity_pq_aniso_ab): the ROTATION that decorrelates dimensions
# before the subspace split (OPQ — Ge et al., "Optimized Product
# Quantization", CVPR 2014). Full OPQ alternates an SVD-fit orthogonal
# R with PQ training; the integer-exact portable form priced here is
# the structured transform the RP family already uses (portable-hash
# sign flips + coordinate permutation, see similarity_rp_dim_grid
# above) — a BLIND, data-agnostic orthogonal rotation vs identity, at
# equal code budget (4 subspaces × k=4, 1 Lloyd iter), on the SAME
# planted variance staircase as the subspace A/B, against the SAME
# rotation-invariant exact truth (sign flips and permutations preserve
# full-dim squared distances exactly, so one truth serves both arms).
#
# What the arms isolate: identity = the contiguous worst case
# (subspace m sees only scale block m — codebook 3 must cover 16x the
# energy of codebook 0); rotated = md5-hash-permuted + sign-flipped
# dims, so each output subspace draws a near-uniform mix of the four
# planted scale blocks (this permutation: 2-6 dims per block per
# subspace, vs the subspace A/B's knowing round-robin exact 4) WITHOUT
# seeing the scales — the OPQ claim, that a decorrelating rotation
# recovers the allocation gain data-agnostically, priced next to the
# oracle-permutation upper bound the subspace A/B pins.
#
# Measured (sf0.01): the blind rotation recovers MOST of the knowing
# permutation's gain at this code budget — identity reproduces the
# contiguous staircase (err shares 34/136/304/524‰; subspace 3 alone
# carries 52% of all quantization error; recall@10 95‰); rotated
# flattens distortion to 231-276‰ per subspace and serves recall@10
# 145‰, vs the subspace A/B's exact round-robin at 150‰ — i.e. the
# data-agnostic rotation closes ~91% of the 95→150‰ allocation gap
# while the residual 5‰ is the price of its 2-6-dims-per-block
# imbalance vs the oracle's exact 4. Numbers pinned by the gate, not
# this comment.
#
# Scale: identical posture to similarity_pq_subspace_ab — two PQ
# trainings, per-subspace distortion rollups, 20-probe broadcast ADC;
# the rotation itself is a narrow per-row projection, free at 100 TB.
# --------------------------------------------------------------------------
import hashlib as _hashlib


def _opq_h(s: str) -> int:
    """Plan-time twin of functions.hashing.h64 (md5 first 15 hex chars
    as a 60-bit int) — used only to derive the fixed rotation literals
    below; both engines then consume the same baked lists."""
    return int(_hashlib.md5(s.encode()).hexdigest()[:15], 16)


_OPQ_PERM = sorted(
    range(1, _DIMS_UB), key=lambda i: (_opq_h(f"opq:perm:{i}"), i)
)
_OPQ_SIGN = [
    1 if _opq_h(f"opq:sign:{j}") % 2 == 0 else -1
    for j in range(1, _DIMS_UB)
]


def _pqo_oracle() -> str:
    rot = ", ".join(
        f"({s}) * qv[{p}]" for p, s in zip(_OPQ_PERM, _OPQ_SIGN)
    )
    return _pq_ab_oracle(
        (("identity", "po_", "sq"), ("rotated", "pr_", "rq")),
        f"""rq AS (
      SELECT vec_id, [{rot}] AS qv
      FROM sq
    )""",
    )


@query("similarity_pq_opq_ab", oracle=_pqo_oracle())
def similarity_pq_opq_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    sq, setop, probes = _pqs_space(spark, sf_dir)
    rot_expr = (
        "array("
        + ",".join(
            f"CAST({s} AS BIGINT) * qv[{p - 1}]"
            for p, s in zip(_OPQ_PERM, _OPQ_SIGN)
        )
        + ")"
    )
    rq = sq.select("vec_id", F.expr(rot_expr).alias("qv"))
    pvr = {
        k: [s * v[p - 1] for p, s in zip(_OPQ_PERM, _OPQ_SIGN)]
        for k, v in probes.items()
    }
    base = _pqs_base_trained(spark, sf_dir)
    return _pq_ab(
        spark,
        setop,
        (
            ("identity", sq, probes, base),
            ("rotated", rq, pvr, None),
        ),
    )


# --------------------------------------------------------------------------
# similarity_kmeans_convergence — "two Lloyd iterations" has been this
# repo's coarse-quantizer training budget since the k=8 quantizer first
# shipped, chosen by fiat; this query turns the budget into a measured
# convergence curve. One 4-iteration Lloyd run (same seeds, same
# truncated-integer M-step, same argmin tie-break as kmeans_train)
# with the full history kept: per iteration t, the INERTIA (Σ of each
# vector's integer squared distance to its chosen centroid — the exact
# objective Lloyd descends), its per-mille drop vs the previous
# iteration, how many vectors CHANGED cluster, and the largest cell's
# per-mille share (the routing-balance side the IVF sweeps care
# about). Lloyd guarantees the inertia column is non-increasing — a
# violation would mean the integer M-step broke the descent property,
# so the monotonicity is itself under the gate.
#
# Measured (sf0.01): iteration 2 (the first M-step away from the raw
# seed vectors) drops inertia by 419‰ — seeds are arbitrary corpus
# rows, so the first re-centering does nearly all the work — then the
# curve collapses: +7‰ at iteration 3, +3‰ at 4, movers 82/36/22 of
# 500, cell balance stable at 140-148‰. The production iters=2 budget
# therefore captures ~98% of the 4-iteration descent at half the
# cost — the knee, now as a table instead of a default. (Numbers
# pinned by the gate.)
#
# Scale: per iteration, one narrow argmin scan (k×dims literal, no
# join) + one (cluster, dim) partial-sum shuffle — kmeans_train's
# documented shape; the history adds three more of the same, nothing
# new in kind.
# --------------------------------------------------------------------------
_KMC_T = 4
_KMC_K = 8


def _kmc_oracle() -> str:
    from data_ingestion_din_spark.plans.similarity_queries import (
        _KM_DIST,
    )

    ctes = [
        f"""q AS (
      SELECT vec_id,
             list_transform(
               embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
             ) AS qv
      FROM embeddings
    ),
    seeds AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) AS cluster,
             qv
      FROM q ORDER BY vec_id LIMIT {_KMC_K}
    )"""
    ]
    for t in range(1, _KMC_T + 1):
        src = "seeds" if t == 1 else f"c{t - 1}f"
        ctes.append(
            f"""a{t} AS MATERIALIZED (
      SELECT q.vec_id, q.qv, s.cluster, {_KM_DIST} AS d
      FROM q CROSS JOIN {src} s
      QUALIFY row_number() OVER (
        PARTITION BY q.vec_id ORDER BY {_KM_DIST}, s.cluster) = 1
    )"""
        )
        if t < _KMC_T:
            ctes.append(
                f"""m{t} AS (
      SELECT cluster, i AS dim, sum(qv[i]) // count(*) AS c
      FROM a{t}, range(1, {_DIMS_UB}) ti(i)
      GROUP BY cluster, i
    ),
    c{t} AS (SELECT cluster, list(c ORDER BY dim) AS qv FROM m{t}
             GROUP BY cluster),
    c{t}f AS (
      SELECT p.cluster, coalesce(c.qv, p.qv) AS qv
      FROM {src} p LEFT JOIN c{t} c ON p.cluster = c.cluster
    )"""
            )
    rows = []
    for t in range(1, _KMC_T + 1):
        moved = (
            "0"
            if t == 1
            else f"""(SELECT count(*) FROM a{t} x
              JOIN a{t - 1} y ON y.vec_id = x.vec_id
              WHERE y.cluster <> x.cluster)"""
        )
        drop = (
            "0"
            if t == 1
            else f"""((SELECT sum(d) FROM a{t - 1})
               - (SELECT sum(d) FROM a{t})) * 1000
              // (SELECT sum(d) FROM a{t - 1})"""
        )
        rows.append(
            f"""SELECT {t} AS iter,
             (SELECT CAST(sum(d) AS BIGINT) FROM a{t}) AS inertia,
             CAST({drop} AS BIGINT) AS drop_milli,
             CAST({moved} AS BIGINT) AS n_moved,
             (SELECT CAST(max(cnt) * 1000 // sum(cnt) AS BIGINT)
              FROM (SELECT count(*) AS cnt FROM a{t} GROUP BY cluster))
               AS max_cell_milli"""
        )
    body = "\n      UNION ALL\n      ".join(rows)
    return f"""
    WITH {",".join(ctes)}
    SELECT CAST(iter AS INT) AS iter, inertia, drop_milli, n_moved,
           max_cell_milli
    FROM ({body})
    ORDER BY iter
    """


@query("similarity_kmeans_convergence", oracle=_kmc_oracle())
def similarity_kmeans_convergence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from data_ingestion_din_spark.functions.vectors import quantize
    from data_ingestion_din_spark.operators.similarity import (
        int_array_lit,
        lloyd,
        nearest_code,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # lazy checkpoint: the seed collect below is the first consumer and
    # materializes it (one fewer serial driver job than eager)
    base = emb.select(
        "vec_id", quantize(F.col("embedding")).alias("qv")
    ).localCheckpoint(eager=False)
    cents = [
        list(r.qv) for r in base.orderBy("vec_id").limit(_KMC_K).collect()
    ]

    hist: list[DataFrame] = []

    def assign_with_d(cc: list[list[int]]) -> DataFrame:
        # lazy checkpoint (history: 3 consumers per a_t share the
        # blocks): for t < T the M-step collect is the first consumer
        # and materializes it; for t = T the final action does — four
        # fewer serial driver jobs than the eager form, same plan
        a = nearest_code(
            base,
            "qv",
            int_array_lit(cc),
            "vec_id",
            "qv",
            code="cluster",
            dist="d",
        ).localCheckpoint(eager=False)
        hist.append(a)
        return a

    # empty-cluster convention (both engines): keep the PRIOR
    # iteration's centroid — the oracle's c{t}f coalesces against the
    # previous c{t-1}f/seeds, not the original seed
    lloyd(assign_with_d, cents, "qv", "cluster", _KMC_T - 1)

    grid = None
    for t, a in enumerate(hist, start=1):
        inertia = a.agg(F.sum("d").cast("bigint").alias("inertia"))
        cell = (
            a.groupBy("cluster")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .agg(
                F.expr("CAST(max(cnt) * 1000 DIV sum(cnt) AS BIGINT)")
                .alias("max_cell_milli")
            )
        )
        if t == 1:
            extras = inertia.select(
                F.lit(0).cast("bigint").alias("drop_milli"),
                F.lit(0).cast("bigint").alias("n_moved"),
            )
        else:
            prev = hist[t - 2]
            moved = (
                a.alias("x")
                .join(prev.alias("y"), "vec_id")
                .filter(F.expr("x.cluster <> y.cluster"))
                .agg(F.count(F.lit(1)).cast("bigint").alias("n_moved"))
            )
            pin = prev.agg(F.sum("d").cast("bigint").alias("p_inertia"))
            extras = (
                inertia.crossJoin(pin)
                .select(
                    F.expr(
                        "(p_inertia - inertia) * 1000 DIV p_inertia"
                    )
                    .cast("bigint")
                    .alias("drop_milli")
                )
                .crossJoin(moved)
            )
        row = (
            inertia.crossJoin(extras)
            .crossJoin(cell)
            .select(
                F.lit(t).cast("int").alias("iter"),
                "inertia",
                "drop_milli",
                "n_moved",
                "max_cell_milli",
            )
        )
        grid = row if grid is None else grid.unionByName(row)
    return grid.orderBy("iter")


# --------------------------------------------------------------------------
# similarity_pq_aniso_ab — score-aware (anisotropic) quantization, the
# ScaNN insight (Guo et al. 2020, "Accelerating Large-Scale Inference
# with Anisotropic Vector Quantization") measured against the repo's
# reconstruction-MSE PQ at EQUAL code budget (n_sub=4, k=4 — the
# similarity_pq_topk configuration). ScaNN's premise: for
# maximum-inner-product serving, quantization error PARALLEL to the
# datapoint direction biases every query's score, while orthogonal
# error averages out — so the assignment loss should weight the
# parallel residual component more than MSE does.
#
# Integer-exact per-subspace form: for subvector x and codeword c with
# residual r = x − c, the anisotropic loss
#   L = η·‖r_par‖² + ‖r_orth‖²  (η = parallel weight > 1)
# scaled through by ‖x‖² (positive per-row constant — argmin over c is
# unchanged) becomes the pure-integer comparator
#   L' = ‖r‖²·‖x‖² + (η−1)·(r·x)²
# exact in BIGINT at milli quantization (dims=64, d_sub=16: every
# product ≤ ~3e15). η = 4 is the fixed integer stand-in for ScaNN's
# threshold-derived h_par/h_orth ratio; the per-subspace application
# (weighting against the SUBvector direction, not the full vector) and
# the mean M-step (codewords are not re-optimized for the weighted
# loss) are the documented approximations — the A/B isolates the
# ASSIGNMENT rule, everything else equal.
#
# Both arms train the identical 1-iteration Lloyd (same lowest-vec_id
# seeds, same truncating-mean M-step, same lowest-code tie-break) —
# only the argmin comparator differs (mse: ‖r‖²; aniso: L'). One row
# per arm: total plain reconstruction error (sq_err), total
# anisotropic loss (aniso_err), and ADC recall@10 against the exact
# DOT-PRODUCT top-10 (the MIPS truth ScaNN targets, not L2) over the
# 20-probe sweep, estimated dot = Σ_m probe_m·cb[m][code] per arm.
#
# Measured (sf0.01): aniso_err 4.598e14 vs mse's 4.610e14 — the
# weighted assignment does descend its own objective — but recall@10
# reads 95‰ aniso vs 100‰ mse: on this fixture the ScaNN reweighting
# BUYS NOTHING, and the reason is the measurement's point (the RP
# grid's lesson again): hash embeddings are isotropic, so there is no
# dominant score direction for the parallel weighting to protect, and
# at k=4 the codebooks are too variance-starved for a 4× parallel
# weight to move assignments except on near-ties, where it trades away
# reconstruction breadth. ScaNN's gains live on real embedding spectra
# (correlated dims, concentrated energy); the A/B prices the rule, the
# fixture supplies the null case. Note sq_err: neither arm is at an
# MSE optimum after one iteration from shared seeds, so no ordering is
# guaranteed (measured: aniso 450.3M vs mse 452.1M — aniso happens to
# read LOWER). Numbers pinned by the gate, not this comment.
#
# Scale: two 1-iteration PQ trainings (narrow per-row argmin
# expressions against a 4×4×16-int literal codebook, one (m, code,
# dim) partial-sum shuffle each); the ADC probe tables are 20·4·4-row
# broadcast control data; the exact-dot truth is the guarded collected
# GEMM (audit side only — production serves through the banded/celled
# paths). Same posture as similarity_pq_subspace_ab.
# --------------------------------------------------------------------------
_PQA_W = 3  # η − 1 with η = 4: parallel error weighted 4× orthogonal


def _pqa_loss_sql(p: str) -> dict[str, str]:
    from data_ingestion_din_spark.plans.similarity_queries import _PQ_D

    rng = f"range(1, {_PQ_D + 1})"
    rr = (
        f"list_sum(list_transform({rng},"
        " i -> (s.sv[i] - c.sv[i]) * (s.sv[i] - c.sv[i])))"
    )
    xx = f"list_sum(list_transform({rng}, i -> s.sv[i] * s.sv[i]))"
    rx = (
        f"list_sum(list_transform({rng},"
        " i -> (s.sv[i] - c.sv[i]) * s.sv[i]))"
    )
    loss = rr if p == "am_" else f"({rr}) * ({xx}) + {_PQA_W} * ({rx}) * ({rx})"
    return {"rr": rr, "xx": xx, "rx": rx, "loss": loss}


def _pqa_ctes(p: str) -> str:
    """Prefixed 1-iteration PQ chain assigned by the arm's loss
    (am_ = plain MSE, aa_ = anisotropic), over shared CTEs ``sub`` and
    ``seeds``; emits {p}err (both error totals) and {p}sh (ADC
    dot-product top-10 per probe)."""
    from data_ingestion_din_spark.plans.similarity_queries import _PQ_D

    e = _pqa_loss_sql(p)
    rng = f"range(1, {_PQ_D + 1})"
    return f"""{p}a1 AS (
      SELECT s.vec_id, s.m, s.sv, c.code
      FROM sub s JOIN seeds c ON c.m = s.m
      QUALIFY row_number() OVER (
        PARTITION BY s.vec_id, s.m ORDER BY {e['loss']}, c.code) = 1
    ),
    {p}m1 AS (
      SELECT m, code, i AS dim, sum(sv[i]) // count(*) AS cv
      FROM {p}a1, {rng} t(i)
      GROUP BY m, code, i
    ),
    {p}c1 AS (SELECT m, code, list(cv ORDER BY dim) AS sv FROM {p}m1
              GROUP BY m, code),
    {p}cf AS (
      SELECT s.m, s.code, coalesce(c.sv, s.sv) AS sv
      FROM seeds s LEFT JOIN {p}c1 c
        ON s.m = c.m AND s.code = c.code
    ),
    {p}codes AS (
      SELECT s.vec_id, s.m, c.code
      FROM sub s JOIN {p}cf c ON c.m = s.m
      QUALIFY row_number() OVER (
        PARTITION BY s.vec_id, s.m ORDER BY {e['loss']}, c.code) = 1
    ),
    {p}err AS (
      SELECT CAST(sum({e['rr']}) AS BIGINT) AS sq_err,
             CAST(sum(({e['rr']}) * ({e['xx']})
                      + {_PQA_W} * ({e['rx']}) * ({e['rx']}))
               AS BIGINT) AS aniso_err
      FROM {p}codes k
      JOIN sub s ON s.vec_id = k.vec_id AND s.m = k.m
      JOIN {p}cf c ON c.m = k.m AND c.code = k.code
    ),
    {p}adcp AS (
      SELECT s.vec_id AS probe, c.m, c.code,
             list_sum(list_transform({rng}, i -> s.sv[i] * c.sv[i]))
               AS dpart
      FROM (SELECT vec_id, m, sv FROM sub WHERE vec_id < {_SWEEP_N}) s
      JOIN {p}cf c ON c.m = s.m
    ),
    {p}sh AS (
      SELECT probe, vec_id FROM (
        SELECT a.probe, k.vec_id,
               row_number() OVER (
                 PARTITION BY a.probe
                 ORDER BY sum(a.dpart) DESC, k.vec_id) AS rk
        FROM {p}codes k
        JOIN {p}adcp a ON a.m = k.m AND a.code = k.code
        WHERE k.vec_id <> a.probe
        GROUP BY a.probe, k.vec_id
      ) WHERE rk <= 10
    )"""


def _pqa_oracle() -> str:
    from data_ingestion_din_spark.plans.similarity_queries import (
        _PQ_D,
        _PQ_K,
        _PQ_SUB,
        _SWEEP_N,
    )

    arms = []
    for label, p in (("aniso", "aa_"), ("mse", "am_")):
        arms.append(
            f"""SELECT '{label}' AS arm, e.sq_err, e.aniso_err,
             (SELECT count(*) FROM setop t
              JOIN {p}sh s ON s.probe = t.probe AND s.vec_id = t.vec_id)
               AS n_overlap
      FROM {p}err e"""
        )
    body = "\n      UNION ALL\n      ".join(arms)
    return f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(
               embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)
             ) AS qv
      FROM embeddings
    ),
    sub AS (
      SELECT vec_id, m,
             list_slice(qv, m * {_PQ_D} + 1, m * {_PQ_D} + {_PQ_D}) AS sv
      FROM q, range(0, {_PQ_SUB}) t(m)
    ),
    seeds AS (
      SELECT m, CAST(row_number() OVER (PARTITION BY m ORDER BY vec_id)
                     AS INT) AS code, sv
      FROM sub
      QUALIFY row_number() OVER (PARTITION BY m ORDER BY vec_id)
        <= {_PQ_K}
    ),
    sdot AS (
      SELECT p.vec_id AS probe, e.vec_id,
             list_sum(list_transform(range(1, {_DIMS_UB}),
               i -> e.qv[i] * p.qv[i])) AS dp
      FROM q e
      CROSS JOIN (SELECT vec_id, qv FROM q WHERE vec_id < {_SWEEP_N}) p
      WHERE e.vec_id <> p.vec_id
    ),
    setop AS (
      SELECT probe, vec_id FROM sdot
      QUALIFY row_number() OVER (
        PARTITION BY probe ORDER BY dp DESC, vec_id) <= 10
    ),
    {_pqa_ctes('aa_')},
    {_pqa_ctes('am_')}
    SELECT arm, sq_err, aniso_err,
           CAST({_SWEEP_N} AS BIGINT) AS n_probes,
           CAST(n_overlap * 1000 // (10 * {_SWEEP_N}) AS BIGINT)
             AS recall_milli
    FROM ({body})
    ORDER BY arm
    """


@query("similarity_pq_aniso_ab", oracle=_pqa_oracle())
def similarity_pq_aniso_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from data_ingestion_din_spark.functions.vectors import quantize_milli
    from data_ingestion_din_spark.operators.dedup import _refuse_all_pairs
    from data_ingestion_din_spark.operators.similarity import (
        adc_rows,
        lloyd_update,
        nearest_code,
        pq_book,
        sq_l2,
        subvectors,
        with_codewords,
    )
    from data_ingestion_din_spark.plans.similarity_queries import (
        _PQ_D,
        _PQ_K,
        _PQ_SUB,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    _refuse_all_pairs(emb, 20_000, "staged exact-topk (audit truth)")
    # fixture-size coalesce: the guarded audit set is ≤20k rows, and the
    # dozen control jobs below otherwise pay 32-task scheduling overhead
    # each (measured 11.5 s → ~6 s steady at sf0.1); production encoding
    # keeps the corpus partitioning (pq_encode_qv), this is audit-only.
    # qm itself is NOT checkpointed: its only consumers are the sub
    # checkpoint below (the one materialization of the quantize pass)
    # and the single driver collect that feeds seeds + the guarded GEMM
    # truth — an eager checkpoint here was one more serial job for data
    # each consumer touches once.
    qm = emb.select(
        "vec_id", quantize_milli(F.col("embedding")).alias("qv")
    ).coalesce(4)
    sub = (
        subvectors(qm, _PQ_SUB, _PQ_D, "vec_id")
        .withColumn(
            "xx",
            F.aggregate(
                F.col("sv"), F.lit(0).cast("bigint"), lambda a, v: a + v * v
            ),
        )
        # lazy: the merged M-step collect (msums, below) is the first
        # consumer that runs over sub's own plan and materializes the
        # checkpoint; the qm.collect() seed job reads the un-checkpointed
        # upstream and does NOT touch sub's RDD
        .localCheckpoint(eager=False)
    )
    # ONE driver collect serves seeds, the guarded GEMM truth and the
    # probe vectors (three separate jobs before this round)
    srows = sorted(qm.collect(), key=lambda r: int(r.vec_id))
    seed_rows = srows[:_PQ_K]
    cb0 = [
        [list(r.qv)[m * _PQ_D : (m + 1) * _PQ_D] for r in seed_rows]
        for m in range(_PQ_SUB)
    ]

    def rx(v, c):  # Σ (x − c)·x: the residual's component along x
        return F.aggregate(
            F.zip_with(v, c, lambda x, y: (x - y) * x),
            F.lit(0).cast("bigint"),
            lambda a, t: a + t,
        )

    def aniso(v, c):
        r = rx(v, c)
        return sq_l2(v, c) * F.col("xx") + F.lit(_PQA_W) * r * r

    def dot_py(a, b):  # the MIPS ADC score
        return sum(int(x) * int(y) for x, y in zip(a, b))

    losses = {"aniso": aniso, "mse": sq_l2}

    def _assign(cbm, mode):
        return nearest_code(
            sub, "sv", pq_book(cbm), "vec_id", "m", "sv", loss=losses[mode]
        )

    # ONE merged M-step for both arms: the two comparators' seed
    # assignments union under an arm tag into a single
    # (arm, m, code, dim) rollup — one collect instead of one per arm
    # (the arms read the same sub checkpoint; only the argmin differs)
    a_tagged = None
    for mode in ("aniso", "mse"):
        a1 = _assign(cb0, mode).select(
            F.lit(mode).alias("arm"),
            "m",
            "code",
            F.posexplode("sv").alias("dim", "v"),
        )
        a_tagged = a1 if a_tagged is None else a_tagged.unionByName(a1)
    msums = (
        a_tagged.groupBy("arm", "m", "code", "dim")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    )

    # exact MIPS truth (guarded GEMM over the already-collected control
    # data — the similarity_pq_subspace_ab audit form, dot instead of
    # L2). setop stays a plain LocalRelation: 20×10 driver rows need no
    # checkpoint job to join against.
    sids = np.array([int(r.vec_id) for r in srows], dtype=np.int64)
    smat = np.stack([list(r.qv) for r in srows]).astype(np.int64)
    pmask = sids < _SWEEP_N
    dmat = smat[pmask] @ smat.T
    etop_rows = []
    for ri, pid in enumerate(sids[pmask]):
        row = dmat[ri]
        cand = np.lexsort((sids, -row))
        cand = cand[sids[cand] != pid][:10]
        etop_rows += [(int(pid), int(sids[j])) for j in cand]
    setop = local_frame(spark, etop_rows, "probe bigint, vec_id bigint")
    probes = {
        int(pid): [int(v) for v in smat[ri]]
        for ri, pid in enumerate(sids)
        if pid < _SWEEP_N
    }

    errs, ests = [], []
    for arm in ("aniso", "mse"):
        cb = [
            lloyd_update(
                [r for r in msums if r.arm == arm and r.m == m], cb0[m], "code"
            )
            for m in range(_PQ_SUB)
        ]
        codes = _assign(cb, arm).select("vec_id", "m", "code")
        errs.append(
            with_codewords(spark, codes, sub, cb)
            .select(
                sq_l2(F.col("sv"), F.col("cv")).alias("rr"),
                F.col("xx"),
                rx(F.col("sv"), F.col("cv")).alias("rx"),
            )
            .agg(
                F.sum("rr").cast("bigint").alias("sq_err"),
                F.sum(
                    F.col("rr") * F.col("xx")
                    + F.lit(_PQA_W) * F.col("rx") * F.col("rx")
                )
                .cast("bigint")
                .alias("aniso_err"),
            )
            .withColumn("arm", F.lit(arm))
        )
        rows = [
            r
            for pid, vec in probes.items()
            for r in adc_rows((pid,), vec, cb, score=dot_py)
        ]
        adc = F.broadcast(
            local_frame(spark, rows, "probe bigint, m int, code int, dpart bigint")
        )
        ests.append(
            codes.join(adc, ["m", "code"])
            .filter(F.col("vec_id") != F.col("probe"))
            .groupBy("probe", "vec_id")
            .agg(F.sum("dpart").cast("bigint").alias("est"))
            .withColumn("arm", F.lit(arm))
        )
    itop = _rank_cut(
        reduce(DataFrame.unionByName, ests),
        F.desc("est"),
        "vec_id",
        tags=("arm",),
    )
    # ONE action for BOTH arms: error totals and truth overlaps join
    # under the arm tag
    stats = reduce(DataFrame.unionByName, errs).join(
        _overlap_rollup(setop, itop, arm=["aniso", "mse"]), "arm"
    )
    by_arm = {r.arm: r for r in stats.collect()}
    out_rows = [
        (
            arm,
            int(by_arm[arm].sq_err),
            int(by_arm[arm].aniso_err),
            _SWEEP_N,
            int(by_arm[arm].n_overlap) * 1000 // (10 * _SWEEP_N),
        )
        for arm in ("aniso", "mse")
    ]
    return local_frame(
        spark,
        out_rows,
        "arm string, sq_err bigint, aniso_err bigint, n_probes bigint,"
        " recall_milli bigint",
    ).orderBy("arm")
