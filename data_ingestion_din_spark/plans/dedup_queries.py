"""Oracle-checked dedup queries over the ``documents`` / ``embeddings``
fixtures, wrapping operators/dedup.py. See that module for scale notes.

Oracle construction notes:
- member lists are emitted as a comma-joined string (`string_agg ... ORDER
  BY`) so value hashing never depends on array encoding;
- all integer hashes are the portable md5-based ``h64`` (functions/hashing);
- the simhash oracle SQL is generated programmatically (bit-sum columns:
  16 for the groups fingerprint, 64 for the banded near-pair fingerprint).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_din_spark.functions.hashing import (
    h32_sql,
    h64_sql,
    minhash_slot_sql,
)
from data_ingestion_din_spark.operators import dedup as D
from data_ingestion_din_spark.operators.colocate import staged
from data_ingestion_din_spark.plans.registry import query
from data_ingestion_din_spark.sources.tables import load_table, scan_parallel

_TOKS_SQL = "list_filter(string_split(text, ' '), x -> x <> '')"
_FP_SQL = "md5(lower(regexp_replace(text, '\\s+', ' ', 'g')))"
_N_MINHASH = 4


# --------------------------------------------------------------------------
# dedup_exact — J2/U4 generalized: md5-fingerprint dedup, lowest doc_id
# wins (explicit priority — SURVEY.md §7.4.2 first-match-wins).
# --------------------------------------------------------------------------
@query(
    "dedup_exact",
    oracle=f"""
    SELECT CAST(min(doc_id) AS BIGINT) AS doc_id, fp
    FROM (SELECT doc_id, {_FP_SQL} AS fp FROM documents)
    GROUP BY fp
    ORDER BY doc_id
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        D.exact_dedup(docs)
        .select(F.col("doc_id").cast("bigint").alias("doc_id"), "fp")
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# dedup_wordset — normalized-key dedup: sorted distinct word set. The
# fixture corpus contains genuine word-set duplicates (probe: Jaccard-1.0
# pairs), so this removes rows that exact dedup keeps.
# --------------------------------------------------------------------------
_WORDSET_KEY_SQL = (
    f"md5(array_to_string(list_sort(list_distinct({_TOKS_SQL})), ' '))"
)


@query(
    "dedup_wordset",
    oracle=f"""
    SELECT CAST(min(doc_id) AS BIGINT) AS doc_id, wk
    FROM (SELECT doc_id, {_WORDSET_KEY_SQL} AS wk FROM documents)
    GROUP BY wk
    ORDER BY doc_id
    """,
)
def dedup_wordset(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        D.wordset_dedup(docs)
        .select(F.col("doc_id").cast("bigint").alias("doc_id"), "wk")
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# minhash_signatures — per-doc MinHash signature (4 seeded hash slots over
# the distinct-word shingle set).
# --------------------------------------------------------------------------
@query(
    "minhash_signatures",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {h32_sql("unnest(list_distinct({}))".format(_TOKS_SQL))}
               AS hb
      FROM documents
    )
    SELECT doc_id, {", ".join(minhash_slot_sql(i) for i in range(_N_MINHASH))}
    FROM tok
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_signatures(docs, _N_MINHASH).orderBy("doc_id")


# --------------------------------------------------------------------------
# dedup_minhash_groups — LSH band over the full signature: candidate
# duplicate groups (group_size > 1).
# --------------------------------------------------------------------------
_SIG_CTE = f"""
    tok AS (
      SELECT doc_id, {h32_sql("unnest(list_distinct({}))".format(_TOKS_SQL))}
               AS hb
      FROM documents
    ),
    sig AS (
      SELECT doc_id, {", ".join(minhash_slot_sql(i) for i in range(_N_MINHASH))}
      FROM tok GROUP BY doc_id
    )
"""

_BAND_SQL = (
    "md5("
    + " || ',' || ".join(f"CAST(mh{i} AS VARCHAR)" for i in range(_N_MINHASH))
    + ")"
)


@query(
    "dedup_minhash_groups",
    oracle=f"""
    WITH {_SIG_CTE}
    SELECT band_key,
           CAST(count(*) AS BIGINT) AS group_size,
           string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS members
    FROM (SELECT doc_id, {_BAND_SQL} AS band_key FROM sig)
    GROUP BY band_key
    HAVING count(*) > 1
    ORDER BY band_key
    """,
)
def dedup_minhash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    groups = D.minhash_dup_groups(docs, _N_MINHASH)
    return (
        groups.select(
            "band_key",
            "group_size",
            F.array_join(
                F.transform(F.col("members"), lambda m: m.cast("string")), ","
            ).alias("members"),
        )
        .orderBy("band_key")
    )


# SimHash oracle building blocks (shared by dedup_simhash_near/_groups).
# Bit sources mirror operators/dedup.simhash: two 32-bit halves of ONE md5
# per token (h_lo = hex[1:9), h_hi = hex[9:17)) — 64 independent bits.
_H2_SQL = (
    "SELECT doc_id,"
    " CAST(('0x' || substr(m, 1, 8)) AS BIGINT) AS h_lo,"
    " CAST(('0x' || substr(m, 9, 8)) AS BIGINT) AS h_hi"
    " FROM (SELECT doc_id, md5(tok) AS m FROM tok)"
)


def _bit_src(b: int) -> str:
    return f"(h_lo >> {b}) & 1" if b < 32 else f"(h_hi >> {b - 32}) & 1"


def _bit_weight(b: int) -> str:
    # bit 63 of a signed BIGINT is the sign bit: two's complement weight
    # is -2^63 (identical in Spark — see operators/dedup.simhash).
    if b == 63:
        return "(-9223372036854775807 - 1)"
    return f"{1 << b}::BIGINT"


# raw-bit sums + one count; sign test sum(±1) ≥ 0 ⇔ 2·sum(bit) ≥ n
# (mirrors operators/dedup.simhash exactly)
_BITS = D.SIMHASH_BITS
_BIT_SUMS = ", ".join(
    f"sum({_bit_src(b)}) AS s{b}" for b in range(_BITS)
) + ", count(*) AS n"
_BIT_ASSEMBLE = " + ".join(
    f"(CASE WHEN 2 * s{b} >= n THEN {_bit_weight(b)} ELSE 0 END)"
    for b in range(_BITS)
)


# --------------------------------------------------------------------------
# dedup_minhash_banded — b×r MinHash LSH over 3-gram shingles + exact
# Jaccard verify: the real near-dup construction (finds pairs at j≈0.9
# that whole-signature equality misses). 8 hashes, 4 bands × 2 rows.
# --------------------------------------------------------------------------
_NB_HASHES, _NB_BANDS = 8, 4


def _band_sql(j: int) -> str:
    r = _NB_HASHES // _NB_BANDS
    slots = " || ',' || ".join(
        f"CAST(mh{j * r + i} AS VARCHAR)" for i in range(r)
    )
    return f"md5('b{j}' || ',' || {slots})"


_BANDS_UNION = "\n      UNION ALL ".join(
    f"SELECT doc_id, {_band_sql(j)} AS band_key FROM sig"
    for j in range(_NB_BANDS)
)


# shared by dedup_minhash_banded and dedup_clusters (which resolves the
# same pairs into connected components)
_BANDED_CTES = f"""toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    idx AS (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM toks),
    sh AS (
      SELECT DISTINCT doc_id,
             t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS shingle
      FROM idx
    ),
    shh AS (SELECT doc_id, {h32_sql("shingle")} AS hb FROM sh),
    sig AS (
      SELECT doc_id, {", ".join(minhash_slot_sql(i) for i in range(_NB_HASHES))}
      FROM shh GROUP BY doc_id
    ),
    bands AS ({_BANDS_UNION}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    verified AS (
      SELECT c.doc_a, c.doc_b,
             CAST(i.inter AS DOUBLE) / (sa.n + sb.n - i.inter) AS jaccard
      FROM cand c
      JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
      JOIN sizes sa ON sa.doc_id = c.doc_a
      JOIN sizes sb ON sb.doc_id = c.doc_b
      WHERE CAST(i.inter AS DOUBLE) / (sa.n + sb.n - i.inter) >= 0.5
    )"""


# The verified near-dup pair table is a first-class pipeline artifact
# (four queries consume it: the pair listing, CC clusters, keep-best,
# size histogram) — staged once per (SparkContext, sf_dir) like the
# pHash table (plans/multimodal_queries._phash_table), so consumers pay
# the signature+banding+verify pipeline once per session, not each.
@staged("banded_pairs")
def _banded_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.minhash_banded_pairs(
        load_table(spark, sf_dir, "documents"),
        n_hashes=_NB_HASHES,
        bands=_NB_BANDS,
        shingle_n=3,
        threshold=0.5,
    ).localCheckpoint(eager=True)


@query(
    "dedup_minhash_banded",
    oracle=f"""
    WITH {_BANDED_CTES}
    SELECT doc_a, doc_b, jaccard FROM verified ORDER BY 1, 2
    """,
)
def dedup_minhash_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _banded_pairs(spark, sf_dir).orderBy("doc_a", "doc_b")


# --------------------------------------------------------------------------
# dedup_simhash_near — bit-slice banded SimHash: pairs within Hamming
# distance ≤ 1 (4 bands × 16 bits guarantee recall for distance ≤ 3;
# exact popcount filter keeps ≤ 1). Distance-0-only grouping is
# dedup_simhash_groups. 64-bit fingerprints with 16-bit bands — the
# production ratio. Measured candidate fan-out at sf0.01 (500 docs,
# 124,750 possible pairs): 1,844 pairs (1.5%) at 16-bit bands vs
# 39,329 (32%) at 8-bit bands on the same 64-bit fingerprints — band
# width is the knob that keeps the self-join linear-ish at corpus
# scale. Bit 63 is the BIGINT sign bit (weight −2^63, two's
# complement) — band extraction masks after the arithmetic shift,
# identical in both engines.
# --------------------------------------------------------------------------
_NEAR_BITS = 64
_NEAR_BAND_W = 16
_NEAR_BIT_SUMS = ", ".join(
    f"sum({_bit_src(b)}) AS s{b}" for b in range(_NEAR_BITS)
) + ", count(*) AS n"
_NEAR_BIT_ASSEMBLE = " + ".join(
    f"(CASE WHEN 2 * s{b} >= n THEN {_bit_weight(b)} ELSE 0 END)"
    for b in range(_NEAR_BITS)
)


@query(
    "dedup_simhash_near",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents),
    h AS ({_H2_SQL}),
    s AS (SELECT doc_id, {_NEAR_BIT_SUMS} FROM h GROUP BY doc_id),
    sh AS (
      SELECT doc_id, CAST({_NEAR_BIT_ASSEMBLE} AS BIGINT) AS simhash FROM s
    ),
    bands AS (
      SELECT doc_id, simhash,
             CAST(j AS VARCHAR) || ':'
               || CAST((simhash >> (j * {_NEAR_BAND_W}))
                       & {(1 << _NEAR_BAND_W) - 1} AS VARCHAR) AS band_key
      FROM sh, range(0, 4) t(j)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, a.simhash AS sim_a,
             b.doc_id AS doc_b, b.simhash AS sim_b
      FROM bands a JOIN bands b
        ON a.band_key = b.band_key AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(CAST(xor(sim_a, sim_b) AS BIT)) AS INT) AS hamming
    FROM cand
    WHERE bit_count(CAST(xor(sim_a, sim_b) AS BIT)) <= 1
    ORDER BY doc_a, doc_b
    """,
)
def dedup_simhash_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        D.simhash_near_pairs(docs, bits=_NEAR_BITS, n_bands=4, max_hamming=1)
        .orderBy("doc_a", "doc_b")
    )


# --------------------------------------------------------------------------
# dedup_simhash_groups — 16-bit SimHash over the token multiset; groups of
# identical fingerprints are near-dup candidates.
# --------------------------------------------------------------------------
@query(
    "dedup_simhash_groups",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents),
    h AS ({_H2_SQL}),
    s AS (SELECT doc_id, {_BIT_SUMS} FROM h GROUP BY doc_id),
    sh AS (SELECT doc_id, CAST({_BIT_ASSEMBLE} AS BIGINT) AS simhash FROM s)
    SELECT simhash,
           CAST(count(*) AS BIGINT) AS group_size,
           string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS members
    FROM sh
    GROUP BY simhash
    HAVING count(*) > 1
    ORDER BY simhash
    """,
)
def dedup_simhash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    groups = D.simhash_dup_groups(docs, _BITS)
    return (
        groups.select(
            "simhash",
            "group_size",
            F.array_join(
                F.transform(F.col("members"), lambda m: m.cast("string")), ","
            ).alias("members"),
        )
        .orderBy("simhash")
    )


# --------------------------------------------------------------------------
# ngram_jaccard_top20 — 3-gram shingle Jaccard, top-20 most similar pairs
# via the inverted-index join (no cartesian product).
# --------------------------------------------------------------------------
@query(
    "ngram_jaccard_top20",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    idx AS (
      SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM toks
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS shingle
      FROM idx
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    ORDER BY jaccard DESC, doc_a, doc_b
    LIMIT 20
    """,
)
def ngram_jaccard_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        D.ngram_jaccard_pairs(docs, n=3)
        .orderBy(F.desc("jaccard"), "doc_a", "doc_b")
        .limit(20)
    )


# --------------------------------------------------------------------------
# ngram_jaccard_capped — the SKEW-GUARDED form of the inverted-index
# Jaccard join: shingles appearing in more than ``max_shingle_freq`` docs
# are dropped before the self-join (stop-shingle pruning — the same
# reasoning as salting a hot key, except the hot key carries no near-dup
# signal, so pruning beats salting). This is the form that runs at
# 100 TB: the per-shingle join fan-out is bounded by the cap, so
# worst-case cost is linear in corpus size, not quadratic in hot-shingle
# document frequency. The oracle applies the identical cap, so the
# guard's exact semantics (not just "it runs") are what parity checks.
# --------------------------------------------------------------------------
_JC_CAP = 50


@query(
    "ngram_jaccard_capped",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {{toks}} AS t FROM documents),
    idx AS (
      SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM toks
    ),
    sh0 AS (
      SELECT DISTINCT doc_id,
             t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS shingle
      FROM idx
    ),
    hot AS (
      SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) > {_JC_CAP}
    ),
    sh AS (
      SELECT * FROM sh0 WHERE shingle NOT IN (SELECT shingle FROM hot)
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    ORDER BY jaccard DESC, doc_a, doc_b
    LIMIT 20
    """.format(toks=_TOKS_SQL),
)
def ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        D.ngram_jaccard_pairs(docs, n=3, max_shingle_freq=_JC_CAP)
        .orderBy(F.desc("jaccard"), "doc_a", "doc_b")
        .limit(20)
    )


# --------------------------------------------------------------------------
# embedding_near_dup — embedding-cosine near-duplicate pairs (≥ 0.4;
# fixture max ≈ 0.51). Exact decimal dot products on both sides.
# --------------------------------------------------------------------------
_PAIR_DOT = "CAST((SELECT sum(a.qv[i] * b.qv[i]) FROM range(1, 65) r(i)) AS DOUBLE)"


@query(
    "embedding_near_dup",
    oracle=f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(
               embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
             ) AS qv
      FROM embeddings
    ),
    n AS (
      SELECT vec_id, qv,
             sqrt(CAST((SELECT sum(qv[i] * qv[i]) FROM range(1, 65) r(i))
                       AS DOUBLE)) AS nrm
      FROM q
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           {_PAIR_DOT} / (a.nrm * b.nrm) AS cos_sim
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE {_PAIR_DOT} / (a.nrm * b.nrm) >= 0.4
    ORDER BY id_a, id_b
    """,
)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        D.embedding_near_dup_pairs(emb, threshold=0.4)
        .orderBy("id_a", "id_b")
    )


# --------------------------------------------------------------------------
# embedding_near_dup_lsh — the SCALE path for embedding near-dup: 4
# independent random-hyperplane tables × 4 bits bucket the vectors, pairs
# sharing ≥1 bucket are exact-cosine verified (≥ 0.4). The oracle
# recomputes the same hyperplane signs and quantized cosine in SQL, so the
# candidates→verify composition itself is checked — this (not the
# all-pairs embedding_near_dup) is what runs at 100 TB.
# --------------------------------------------------------------------------
from data_ingestion_din_spark.functions.vectors import lsh_bucket_sql  # noqa: E402

_ND_TABLES = 4
# 6 bits/table: random-pair candidate rate ≈ n_tables/2^6 ≈ 6% (measured
# 112k of 2M pairs at sf0.1) while true near-dups (cos ≥ 0.9, p ≥ 0.85
# per bit) are caught with P ≈ 1−(1−0.85^6)^4 ≈ 86%. 4 bits barely
# pruned (23% candidate rate → verify-bound); the fixture's low-cos
# (≈0.45) pairs are deliberately hard — recall on them is the knob this
# parameter trades, and the oracle checks whatever construction is set.
_ND_PLANES = 6

_ND_BUCKETS = ",\n             ".join(
    f"{lsh_bucket_sql('embedding', f'lsh{t}', _ND_PLANES)} AS bkt{t}"
    for t in range(_ND_TABLES)
)
_ND_ANY_BAND = " OR ".join(
    f"a.bkt{t} = b.bkt{t}" for t in range(_ND_TABLES)
)


@query(
    "embedding_near_dup_lsh",
    oracle=f"""
    WITH h AS (
      SELECT vec_id,
             list_transform(
               embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
             ) AS qv,
             {_ND_BUCKETS}
      FROM embeddings
    ),
    n AS (
      SELECT vec_id, qv,
             sqrt(CAST((SELECT sum(qv[i] * qv[i]) FROM range(1, 65) r(i))
                       AS DOUBLE)) AS nrm,
             bkt0, bkt1, bkt2, bkt3
      FROM h
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           {_PAIR_DOT} / (a.nrm * b.nrm) AS cos_sim
    FROM n a JOIN n b ON a.vec_id < b.vec_id AND ({_ND_ANY_BAND})
    WHERE {_PAIR_DOT} / (a.nrm * b.nrm) >= 0.4
    ORDER BY id_a, id_b
    """,
)
def embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return D.embedding_near_dup_lsh(
        emb, threshold=0.4, n_tables=_ND_TABLES, n_planes=_ND_PLANES
    ).orderBy("id_a", "id_b")


# --------------------------------------------------------------------------
# dedup_clusters — pair→cluster resolution: connected components over the
# banded-minhash near-dup pairs (cluster_id = smallest member). Spark
# runs iterative min-label propagation (operators/dedup.py
# connected_components — the one legitimately iterative algorithm in the
# engine); the oracle computes the same components with a RECURSIVE CTE
# (transitive closure + min over reachable set), so the fixpoint itself
# is hash-checked, not just "it converges".
# --------------------------------------------------------------------------
@query(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_BANDED_CTES},
    edges AS (
      SELECT doc_a AS s, doc_b AS d FROM verified
      UNION ALL
      SELECT doc_b AS s, doc_a AS d FROM verified
    ),
    nodes AS (SELECT DISTINCT s AS node FROM edges),
    reach AS (
      SELECT node, node AS r FROM nodes
      UNION
      SELECT e.s AS node, r.r FROM edges e JOIN reach r ON r.node = e.d
    )
    SELECT CAST(node AS BIGINT) AS doc_id,
           CAST(min(r) AS BIGINT) AS cluster_id
    FROM reach
    GROUP BY node
    ORDER BY doc_id
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = _banded_pairs(spark, sf_dir)
    return (
        D.connected_components(pairs)
        .select(
            F.col("node").cast("bigint").alias("doc_id"),
            F.col("cluster_id").cast("bigint").alias("cluster_id"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# dedup_keep_best — the decision step after clustering: keep ONE member
# per near-dup cluster chosen by QUALITY (longest text wins, min doc_id
# breaks ties), not merely the smallest id — the policy real curation
# uses (the longest member is usually the most complete copy). Spark:
# iterative CC over the banded pairs → broadcast-join doc lengths →
# per-cluster argmax window. Oracle: the RECURSIVE-CTE components +
# the same window, so the keep/drop decision itself is hash-checked.
# --------------------------------------------------------------------------
@query(
    "dedup_keep_best",
    oracle=f"""
    WITH RECURSIVE {_BANDED_CTES},
    edges AS (
      SELECT doc_a AS s, doc_b AS d FROM verified
      UNION ALL
      SELECT doc_b AS s, doc_a AS d FROM verified
    ),
    nodes AS (SELECT DISTINCT s AS node FROM edges),
    reach AS (
      SELECT node, node AS r FROM nodes
      UNION
      SELECT e.s AS node, r.r FROM edges e JOIN reach r ON r.node = e.d
    ),
    clusters AS (
      SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node
    ),
    ranked AS (
      SELECT c.doc_id, c.cluster_id, d.n_chars,
             row_number() OVER (
               PARTITION BY c.cluster_id
               ORDER BY d.n_chars DESC, c.doc_id
             ) AS rk
      FROM clusters c JOIN documents d ON d.doc_id = c.doc_id
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(cluster_id AS BIGINT) AS cluster_id,
           CAST(n_chars AS BIGINT) AS n_chars,
           rk = 1 AS keep
    FROM ranked
    ORDER BY cluster_id, doc_id
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    docs = load_table(spark, sf_dir, "documents")
    pairs = _banded_pairs(spark, sf_dir)
    clusters = D.connected_components(pairs).select(
        F.col("node").alias("doc_id"), "cluster_id"
    )
    sized = clusters.join(
        docs.select("doc_id", "n_chars"), "doc_id"
    )
    w = W.partitionBy("cluster_id").orderBy(F.desc("n_chars"), "doc_id")
    return (
        sized.withColumn("rk", F.row_number().over(w))
        .select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            F.col("cluster_id").cast("bigint").alias("cluster_id"),
            F.col("n_chars").cast("bigint").alias("n_chars"),
            (F.col("rk") == 1).alias("keep"),
        )
        .orderBy("cluster_id", "doc_id")
    )


# --------------------------------------------------------------------------
# chunk_level_dedup — boilerplate removal at sub-document granularity
# (the CommonCrawl-style pass): split every doc into fixed 32-token
# chunks, fingerprint each, keep only the FIRST occurrence corpus-wide
# (min (doc_id, chunk_idx) wins — a row_number over the true tuple, not
# an arithmetic encoding that would silently mis-key past 1000 chunks
# per doc), and report per-doc survival. One shuffle on the fingerprint
# for the per-fp rank, one on doc_id for the rollup — no join, no
# pairwise comparison anywhere; fp groups are tiny (mostly singletons)
# so the within-group sort is O(1) per fingerprint at any corpus size.
# --------------------------------------------------------------------------
_CH_N = 32


@query(
    "chunk_level_dedup",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    chunks AS (
      SELECT doc_id, i AS chunk_idx,
             array_to_string(t[(i * {_CH_N}) + 1 : (i + 1) * {_CH_N}], ' ')
               AS chunk
      FROM toks, range(0, 64) r(i)
      WHERE i * {_CH_N} < len(t)
    ),
    ranked AS (
      SELECT doc_id, chunk_idx,
             row_number() OVER (
               PARTITION BY md5(chunk) ORDER BY doc_id, chunk_idx
             ) AS rn
      FROM chunks
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept
    FROM ranked
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def chunk_level_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    from data_ingestion_din_spark.functions.analysis import tokens

    docs = load_table(spark, sf_dir, "documents")
    # the size-guard filter also keeps the twins aligned on zero-token
    # documents: without it sequence(0, least(63, cast(-0.03 as int)))
    # yields [0] — one phantom empty chunk the oracle's WHERE never emits
    toks = docs.select("doc_id", tokens(F.col("text")).alias("t")).filter(
        F.size("t") > 0
    )
    # chunk_idx bounded by 64 on both sides (fixture docs are far
    # shorter; the bound keeps the oracle's range() finite)
    chunks = (
        toks.select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(
                        F.lit(0),
                        F.least(
                            F.lit(63),
                            ((F.size("t") - 1) / _CH_N).cast("int"),
                        ),
                    ),
                    lambda i: F.array_join(
                        F.slice(F.col("t"), i * _CH_N + 1, _CH_N), " "
                    ),
                )
            ).alias("chunk_idx", "chunk"),
        )
    )
    fp = chunks.select(
        "doc_id", "chunk_idx", F.md5(F.col("chunk")).alias("fp")
    )
    w = W.partitionBy("fp").orderBy("doc_id", "chunk_idx")
    return (
        fp.withColumn("rn", F.row_number().over(w))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# doc_cdc_chunks — content-defined chunking (Rabin-style rolling-hash
# boundaries): a position ends a chunk when the hash of its trailing
# 4-token window ≡ 0 (mod 16), so boundaries move WITH content — insert
# a sentence and only the chunks around it change fingerprint, which is
# why CDC beats fixed-size chunking for incremental dedup/sync. All
# array expressions (whole-stage codegen, shuffle-free until the final
# orderBy); md5 fingerprints per chunk, min/max pinned by the gate.
# --------------------------------------------------------------------------
_CDC_T = "filter(split(text, ' '), x -> x != '')"
_CDC_SPARK = f"""
  CASE WHEN size(t) >= 5 THEN
    filter(sequence(4, size(t) - 1),
           i -> cast(conv(substring(md5(array_join(slice(t, i - 3, 4), ' ')),
                          1, 8), 16, 10) as bigint) % 16 = 0)
  ELSE array() END
"""


@query(
    "doc_cdc_chunks",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    bounds AS (
      SELECT doc_id, t,
             list_filter(range(4, len(t)),
                         i -> {h32_sql("array_to_string(t[i-3:i], ' ')")}
                              % 16 = 0) AS bd
      FROM toks
    ),
    spans AS (
      SELECT doc_id, t,
             list_concat(list_concat([0], bd), [len(t)]) AS b
      FROM bounds
    ),
    fps AS (
      SELECT doc_id, len(t) AS n_tokens,
             list_transform(
               range(1, len(b)),
               j -> md5(array_to_string(t[b[j] + 1 : b[j + 1]], ' '))
             ) AS fp
      FROM spans
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(len(fp) AS BIGINT) AS n_chunks,
           list_aggregate(fp, 'min') AS min_fp,
           list_aggregate(fp, 'max') AS max_fp
    FROM fps
    ORDER BY doc_id
    """,
)
def doc_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    staged = docs.select(
        "doc_id", F.expr(_CDC_T).alias("t")
    ).select("doc_id", "t", F.expr(_CDC_SPARK).alias("bd"))
    spans = staged.select(
        "doc_id",
        "t",
        F.expr(
            "concat(array(0), bd, array(size(t)))"
        ).alias("b"),
    )
    fps = spans.select(
        "doc_id",
        F.expr("size(t)").alias("n_tokens"),
        F.expr(
            "transform(sequence(1, size(b) - 1),"
            " j -> md5(array_join(slice(t, element_at(b, j) + 1,"
            " element_at(b, j + 1) - element_at(b, j)), ' ')))"
        ).alias("fp"),
    )
    return fps.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.expr("size(fp)").cast("bigint").alias("n_chunks"),
        F.expr("array_min(fp)").alias("min_fp"),
        F.expr("array_max(fp)").alias("max_fp"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# doc_winnow_fingerprints — winnowing document fingerprints (the MOSS
# algorithm, Schleimer et al. 2003): hash every 4-token k-gram, slide a
# w=8 window over the hash sequence, keep each window's MINIMUM —
# guaranteed to select at least one fingerprint per w-gram span while
# keeping the selected set sparse and position-robust. Documents shorter
# than one window contribute their single global min. Distinct selected
# hashes per doc, extremes pinned by the gate.
# --------------------------------------------------------------------------
_WN_SPARK_G = """
  CASE WHEN size(t) >= 4 THEN
    transform(sequence(1, size(t) - 3),
              i -> cast(conv(substring(md5(array_join(slice(t, i, 4), ' ')),
                             1, 8), 16, 10) as bigint))
  ELSE array() END
"""
_WN_SPARK_W = """
  CASE WHEN size(g) >= 8 THEN
    transform(sequence(1, size(g) - 7), j -> array_min(slice(g, j, 8)))
  WHEN size(g) > 0 THEN array(array_min(g))
  ELSE array() END
"""


@query(
    "doc_winnow_fingerprints",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    grams AS (
      SELECT doc_id, len(t) AS n_tok,
             list_transform(range(1, greatest(len(t) - 2, 1)),
                            i -> {h32_sql("array_to_string(t[i:i+3], ' ')")})
               AS g
      FROM toks
    ),
    wins AS (
      SELECT doc_id, n_tok, len(g) AS n_grams,
             CASE WHEN len(g) >= 8 THEN
               list_transform(range(1, len(g) - 6),
                              j -> list_aggregate(g[j:j+7], 'min'))
             WHEN len(g) > 0 THEN [list_aggregate(g, 'min')]
             ELSE [] END AS w
      FROM grams
    )
    SELECT doc_id,
           CAST(n_grams AS BIGINT) AS n_grams,
           CAST(len(list_distinct(w)) AS BIGINT) AS n_fingerprints,
           CAST(list_aggregate(w, 'min') AS BIGINT) AS min_fp,
           CAST(list_aggregate(w, 'max') AS BIGINT) AS max_fp
    FROM wins
    ORDER BY doc_id
    """,
)
def doc_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    grams = docs.select(
        "doc_id", F.expr(_CDC_T).alias("t")
    ).select("doc_id", F.expr(_WN_SPARK_G).alias("g"))
    wins = grams.select(
        "doc_id",
        F.expr("size(g)").alias("n_grams"),
        F.expr(_WN_SPARK_W).alias("w"),
    )
    return wins.select(
        "doc_id",
        F.col("n_grams").cast("bigint").alias("n_grams"),
        F.expr("size(array_distinct(w))").cast("bigint").alias(
            "n_fingerprints"
        ),
        F.expr("array_min(w)").cast("bigint").alias("min_fp"),
        F.expr("array_max(w)").cast("bigint").alias("max_fp"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# dedup_incremental_batch — the nightly-ingest dedup decision: an
# incoming batch (doc_id % 10 = 0 plays the new ingest) is checked
# against the EXISTING corpus without ever self-joining the corpus
# (operators/dedup.minhash_banded_pairs_incremental, then the kernel's
# nearest_match verdict: best verified jaccard, or a clean bill).
# At 100 TB the corpus band table is a materialized index the batch
# probes; per-night cost scales with the batch, not the corpus.
# --------------------------------------------------------------------------
@query(
    "dedup_incremental_batch",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    idx AS (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM toks),
    sh AS (
      SELECT DISTINCT doc_id,
             t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS shingle
      FROM idx
    ),
    shh AS (SELECT doc_id, {h32_sql("shingle")} AS hb FROM sh),
    sig AS (
      SELECT doc_id, {", ".join(minhash_slot_sql(i) for i in range(_NB_HASHES))}
      FROM shh GROUP BY doc_id
    ),
    bands AS ({_BANDS_UNION}),
    cand AS (
      SELECT DISTINCT a.doc_id AS batch_id, b.doc_id AS corpus_id
      FROM bands a JOIN bands b
        ON a.band_key = b.band_key
       AND a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS batch_id, b.doc_id AS corpus_id,
             count(*) AS inter
      FROM sh a JOIN sh b
        ON a.shingle = b.shingle
       AND a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
      GROUP BY 1, 2
    ),
    verified AS (
      SELECT c.batch_id, c.corpus_id,
             CAST(i.inter AS DOUBLE) / (sa.n + sb.n - i.inter) AS jaccard
      FROM cand c
      JOIN inter i
        ON i.batch_id = c.batch_id AND i.corpus_id = c.corpus_id
      JOIN sizes sa ON sa.doc_id = c.batch_id
      JOIN sizes sb ON sb.doc_id = c.corpus_id
      WHERE CAST(i.inter AS DOUBLE) / (sa.n + sb.n - i.inter) >= 0.5
    ),
    best AS (
      SELECT batch_id, corpus_id, jaccard,
             row_number() OVER (
               PARTITION BY batch_id ORDER BY jaccard DESC, corpus_id
             ) AS rk
      FROM verified
    )
    SELECT d.doc_id,
           (b.corpus_id IS NOT NULL) AS is_dup,
           CAST(b.corpus_id AS BIGINT) AS matched_doc,
           b.jaccard
    FROM documents d
    LEFT JOIN (SELECT * FROM best WHERE rk = 1) b ON b.batch_id = d.doc_id
    WHERE d.doc_id % 10 = 0
    ORDER BY d.doc_id
    """,
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    pairs = D.minhash_banded_pairs_incremental(
        batch, corpus, n_hashes=_NB_HASHES, bands=_NB_BANDS,
        shingle_n=3, threshold=0.5,
    )
    return D.nearest_match(
        pairs, batch.select("doc_id"), "desc", "matched_doc"
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# dedup_cluster_size_hist — the dedup-tuning observability table: the
# near-dup cluster size distribution (how much of the corpus collapses,
# and into how-big clusters), including the singleton bucket for docs
# with no near-dup at all. Reading this histogram is how a curation
# operator picks thresholds before committing to a corpus-wide delete;
# cost on top of the CC pipeline is one tiny groupBy on cluster_id then
# on size.
# --------------------------------------------------------------------------
@query(
    "dedup_cluster_size_hist",
    oracle=f"""
    WITH RECURSIVE {_BANDED_CTES},
    edges AS (
      SELECT doc_a AS s, doc_b AS d FROM verified
      UNION ALL
      SELECT doc_b AS s, doc_a AS d FROM verified
    ),
    nodes AS (SELECT DISTINCT s AS node FROM edges),
    reach AS (
      SELECT node, node AS r FROM nodes
      UNION
      SELECT e.s AS node, r.r FROM edges e JOIN reach r ON r.node = e.d
    ),
    clusters AS (
      SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node
    ),
    csizes AS (
      SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
      FROM clusters GROUP BY cluster_id
    ),
    hist AS (
      SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
      FROM csizes GROUP BY cluster_size
      UNION ALL
      SELECT CAST(1 AS BIGINT),
             (SELECT CAST(count(*) AS BIGINT) FROM documents)
               - (SELECT CAST(coalesce(count(*), 0) AS BIGINT) FROM clusters)
    )
    SELECT cluster_size, CAST(sum(n_clusters) AS BIGINT) AS n_clusters
    FROM hist
    GROUP BY cluster_size
    ORDER BY cluster_size
    """,
)
def dedup_cluster_size_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = _banded_pairs(spark, sf_dir)
    clusters = D.connected_components(pairs)
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    hist = sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters")
    )
    n_docs = docs.count()  # iteration-control scalar, like the CC rounds
    n_clustered = clusters.count()
    singletons = (
        docs.sparkSession.range(1)
        .select(
            F.lit(1).cast("bigint").alias("cluster_size"),
            F.lit(n_docs - n_clustered).cast("bigint").alias("n_clusters"),
        )
    )
    return (
        hist.unionByName(singletons)
        .groupBy("cluster_size")
        .agg(F.sum("n_clusters").cast("bigint").alias("n_clusters"))
        .orderBy("cluster_size")
    )


# --------------------------------------------------------------------------
# dedup_minhash_estimate_audit — estimator-vs-truth: for every banded
# candidate pair, the signature-based Jaccard ESTIMATE (fraction of
# matching minhash slots — what a production pipeline would trust at
# scale to skip the exact verify) next to the exact shingle Jaccard and
# the signed error. This is the table that justifies (or refutes)
# dropping the verify stage at a given signature width; 8 slots is
# deliberately coarse so the fixture shows real estimator error. Cost on
# top of the banded join: two signature-table lookups per candidate.
# --------------------------------------------------------------------------
_EST_SLOT_MATCHES = " + ".join(
    f"(CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END)"
    for i in range(_NB_HASHES)
)


@query(
    "dedup_minhash_estimate_audit",
    oracle=f"""
    WITH {_BANDED_CTES},
    est AS (
      SELECT c.doc_a, c.doc_b,
             CAST(({_EST_SLOT_MATCHES}) AS DOUBLE) / {_NB_HASHES}
               AS est_jaccard
      FROM cand c
      JOIN sig a ON a.doc_id = c.doc_a
      JOIN sig b ON b.doc_id = c.doc_b
    ),
    ex AS (
      SELECT c.doc_a, c.doc_b,
             CAST(coalesce(i.inter, 0) AS DOUBLE)
               / (sa.n + sb.n - coalesce(i.inter, 0)) AS jaccard
      FROM cand c
      LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
      JOIN sizes sa ON sa.doc_id = c.doc_a
      JOIN sizes sb ON sb.doc_id = c.doc_b
    )
    SELECT e.doc_a, e.doc_b, e.est_jaccard, x.jaccard,
           e.est_jaccard - x.jaccard AS err
    FROM est e JOIN ex x ON x.doc_a = e.doc_a AND x.doc_b = e.doc_b
    ORDER BY e.doc_a, e.doc_b
    """,
)
def dedup_minhash_estimate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    keys = D.minhash_band_keys(_NB_HASHES, _NB_BANDS)
    docs = load_table(spark, sf_dir, "documents")
    sigs = D.shingle_signatures(scan_parallel(docs), _NB_HASHES, 3)
    cand = D.band_candidates(
        sigs.select("doc_id", F.explode(keys).alias("band_key"))
    )
    mh = [f"mh{i}" for i in range(_NB_HASHES)]
    joined = D.pair_sides(cand, sigs, cols=["sh", *mh])
    verified = D.slot_agreement(D.shingle_jaccard(joined), _NB_HASHES)
    est = F.col("n_agree").cast("double") / _NB_HASHES
    return verified.select(
        "doc_a",
        "doc_b",
        est.alias("est_jaccard"),
        "jaccard",
        (est - F.col("jaccard")).alias("err"),
    ).orderBy("doc_a", "doc_b")


# --------------------------------------------------------------------------
# doc_tfidf_cosine_topk — SPARSE lexical similarity, completing the
# similarity matrix (dense embedding cosine exists exact + LSH + IVF +
# PQ; set overlap exists as Jaccard/MinHash; this is the tf-idf
# vector-space model in between): per-(doc, term) weights w = tf · idf2
# with the integer log2 idf (same recipe as retrieval_bm25), pairwise
# dot products accumulated through an inverted-index equi-join on the
# term — never an all-pairs product — and cosine normalization applied
# once per surviving pair. Weights/dots/norms² are exact BIGINTs; the
# only float steps are two IEEE sqrts of exact integers, one multiply,
# one divide — identical bit patterns in both engines.
#
# Scale: terms with df > 50 are dropped before the self-join (the
# ngram_jaccard_capped stop-term guard — join fan-out bounded per term,
# total cost linear in corpus size); doc norms join back on doc_id.
# --------------------------------------------------------------------------
_TFIDF_DF_CAP = 50


@query(
    "doc_tfidf_cosine_topk",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    n_docs AS (SELECT CAST(count(*) AS BIGINT) AS n FROM toks),
    tf AS (
      SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
      GROUP BY doc_id, tok
    ),
    df AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok
    ),
    w AS (
      SELECT tf.doc_id, tf.tok,
             tf.tf * length(bin(n_docs.n // df.df)) AS w
      FROM tf JOIN df USING (tok) CROSS JOIN n_docs
      WHERE df.df <= {_TFIDF_DF_CAP}
    ),
    norms AS (
      SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS n2 FROM w GROUP BY doc_id
    ),
    dots AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(sum(a.w * b.w) AS BIGINT) AS dot
      FROM w a JOIN w b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, dot,
           round(CAST(dot AS DOUBLE)
                 / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))),
                 6) AS cosine
    FROM dots
    JOIN norms na ON na.doc_id = doc_a
    JOIN norms nb ON nb.doc_id = doc_b
    ORDER BY CAST(dot AS DOUBLE)
             / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
             DESC, doc_a, doc_b
    LIMIT 20
    """,
)
def doc_tfidf_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_ingestion_din_spark.functions.analysis import tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens(F.col("text")).alias("t"))
    n_docs = toks.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    tf = (
        toks.select("doc_id", F.explode("t").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    df_t = tf.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    w = (
        tf.join(df_t.filter(F.col("df") <= _TFIDF_DF_CAP), "tok")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "tok",
            (F.col("tf") * F.expr("length(bin(n div df))")).alias("w"),
        )
        # staged: feeds three branches (norms + both join sides); without
        # the checkpoint each branch recomputes the tf/df pipeline (plan
        # audit showed 30 Exchanges -> 4 after staging); lazy — all three
        # consumers sit in the final action, which materializes it once
        .localCheckpoint(eager=False)
    )
    norms = w.groupBy("doc_id").agg(
        F.sum(F.col("w") * F.col("w")).cast("bigint").alias("n2")
    )
    a = w.select(F.col("doc_id").alias("doc_a"), "tok", F.col("w").alias("wa"))
    b = w.select(F.col("doc_id").alias("doc_b"), "tok", F.col("w").alias("wb"))
    dots = (
        a.join(b, "tok")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).cast("bigint").alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("n2").alias("na2"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("n2").alias("nb2"))
    cosine = F.col("dot").cast("double") / (
        F.sqrt(F.col("na2").cast("double")) * F.sqrt(F.col("nb2").cast("double"))
    )
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "dot",
            F.round(cosine, 6).alias("cosine"),
        )
        .orderBy(F.desc(cosine), "doc_a", "doc_b")
        .limit(20)
    )


# --------------------------------------------------------------------------
# dedup_substring_spans — exact duplicated-substring detection, the
# Spark form of the suffix-array dedup in Lee et al. 2021 ("Deduplicating
# Training Data Makes Language Models Better"): every W-token window is
# fingerprinted at stride 1; windows whose fingerprint occurs in >= 2
# distinct docs are duplicated; per doc, overlapping/adjacent duplicated
# windows merge into maximal spans (interval islands). W=20 is sized to
# the fixture (docs are 10-99 tokens, median 56); production uses the
# paper's 50 — it's a parameter of operators/dedup.duplicated_spans.
# Non-vacuous at sf0.01: 45/500 docs carry duplicated spans.
#
# Scale: window volume is O(corpus tokens); the dup filter and semi-join
# share the wfp key (one shuffle), only duplicated instances reach the
# per-doc island window, and nothing is broadcast (the dup-fingerprint
# set grows with the corpus).
# --------------------------------------------------------------------------
_SSW = 20  # window length in tokens


# The merged-span table feeds three queries (spans listing, removal,
# per-lang stats) — staged once per (SparkContext, sf_dir) like the
# banded-pair table above.
@staged("substring_spans")
def _substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.duplicated_spans(
        load_table(spark, sf_dir, "documents"), _SSW
    ).localCheckpoint(eager=True)

def _win_ctes(
    include_toks: bool = True, w: int = _SSW, prefix: str = ""
) -> str:
    """The window-fingerprint → duplicated-span CTE chain. With
    ``include_toks=False`` the chain starts at ``win`` and binds to a
    ``toks(doc_id, t)`` CTE the caller already provides (the funnel
    composes it after _BANDED_CTES, whose ``toks`` is identical) —
    parameterized here instead of string-slicing the SQL so a drift in
    either definition is a structural error, not a silent mismatch.
    ``w``/``prefix`` parameterize the window length and namespace the
    CTE names so the W-grid can chain several window lengths in one
    statement (the b×r-grid pattern)."""
    toks = (
        f"""toks AS (
      SELECT doc_id, {_TOKS_SQL} AS t FROM documents
    ),
    """
        if include_toks
        else ""
    )
    p = prefix
    return f"""
    {toks}{p}win AS (
      SELECT doc_id, u.w.s AS start, u.w.f AS wfp
      FROM toks,
      UNNEST([{{'s': i,
               'f': md5(array_to_string(t[i:i+{w - 1}], ' '))}}
              FOR i IN range(1, greatest(len(t) - {w} + 2, 1))]) AS u(w)
    ),
    {p}dup AS (
      SELECT wfp FROM {p}win GROUP BY wfp
      HAVING count(DISTINCT doc_id) >= 2
    ),
    {p}inst AS (
      SELECT doc_id, start FROM {p}win SEMI JOIN {p}dup USING (wfp)
    ),
    {p}flagged AS (
      SELECT doc_id, start,
             CASE WHEN start - lag(start) OVER w <= {w}
                  THEN 0 ELSE 1 END AS new_island
      FROM {p}inst
      WINDOW w AS (PARTITION BY doc_id ORDER BY start)
    ),
    {p}islands AS (
      SELECT doc_id, start,
             sum(new_island) OVER (PARTITION BY doc_id ORDER BY start
                                   ROWS UNBOUNDED PRECEDING) AS island
      FROM {p}flagged
    ),
    {p}spans AS (
      SELECT doc_id,
             CAST(min(start) AS INT) AS span_start,
             CAST(max(start) + {w - 1} AS INT) AS span_end,
             CAST(count(*) AS BIGINT) AS n_windows
      FROM {p}islands GROUP BY doc_id, island
    )
"""


_WIN_CTE = _win_ctes()


@query(
    "dedup_substring_spans",
    oracle=f"""
    WITH {_WIN_CTE}
    SELECT doc_id, span_start, span_end, n_windows
    FROM spans
    ORDER BY doc_id, span_start
    """,
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _substring_spans(spark, sf_dir)
        .select(
            "doc_id",
            F.col("span_start").cast("int").alias("span_start"),
            F.col("span_end").cast("int").alias("span_end"),
            "n_windows",
        )
        .orderBy("doc_id", "span_start")
    )


# --------------------------------------------------------------------------
# dedup_substring_stats — per-language duplicated-substring load: how many
# docs carry duplicated spans and what fraction of the corpus' tokens they
# cover (the number Lee et al. report per corpus). Integer token counts
# only — the division happens downstream — so the arithmetic is exact on
# both engines. Merged spans never overlap, so summing span lengths IS
# the per-doc covered-token count.
# --------------------------------------------------------------------------
@query(
    "dedup_substring_stats",
    oracle=f"""
    WITH {_WIN_CTE},
    per_doc AS (
      SELECT doc_id,
             CAST(sum(span_end - span_start + 1) AS BIGINT) AS dup_tok
      FROM spans GROUP BY doc_id
    )
    SELECT d.lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(p.dup_tok) AS BIGINT) AS affected_docs,
           CAST(coalesce(sum(p.dup_tok), 0) AS BIGINT) AS dup_tokens,
           CAST(sum(len({_TOKS_SQL})) AS BIGINT) AS total_tokens
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
    GROUP BY d.lang
    ORDER BY lang
    """,
)
def dedup_substring_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_ingestion_din_spark.functions.analysis import tokens

    docs = load_table(spark, sf_dir, "documents")
    per_doc = (
        _substring_spans(spark, sf_dir)
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("span_end") - F.col("span_start") + 1)
            .cast("bigint")
            .alias("dup_tok")
        )
    )
    return (
        docs.select("doc_id", "lang", F.size(tokens(F.col("text"))).alias("nt"))
        .join(per_doc, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.count("dup_tok").cast("bigint").alias("affected_docs"),
            F.coalesce(F.sum("dup_tok"), F.lit(0))
            .cast("bigint")
            .alias("dup_tokens"),
            F.sum("nt").cast("bigint").alias("total_tokens"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# dedup_substring_removal — detection → ACTION: excise every token
# covered by a cross-document duplicated span (the strict variant of
# Lee et al.'s removal — all occurrences go, not all-but-one; the
# conservative policy when the span is boilerplate). Emits per doc the
# original/removed token counts and an md5 fingerprint of the residual
# text, so the rewrite itself is hash-checked, including docs the
# remover must NOT touch. Token-position filtering is an indexed
# higher-order lambda in BOTH engines (1-based index, spans inclusive)
# — a pure projection, no extra shuffle past the span build.
# --------------------------------------------------------------------------
@query(
    "dedup_substring_removal",
    oracle=f"""
    WITH {_WIN_CTE},
    spd AS (
      SELECT doc_id, list({{'s': span_start, 'e': span_end}}) AS spans
      FROM spans GROUP BY doc_id
    ),
    base AS (
      SELECT d.doc_id, {_TOKS_SQL} AS t,
             coalesce(p.spans, CAST([] AS STRUCT(s INT, e INT)[])) AS spans
      FROM documents d LEFT JOIN spd p USING (doc_id)
    ),
    cut AS (
      SELECT doc_id, t,
             list_filter(t, (x, i) ->
               len(list_filter(spans, sp -> i >= sp.s AND i <= sp.e)) = 0)
               AS kept
      FROM base
    )
    SELECT doc_id,
           CAST(len(t) AS BIGINT) AS n_tok,
           CAST(len(t) - len(kept) AS BIGINT) AS n_removed,
           md5(coalesce(array_to_string(kept, ' '), '')) AS residual_fp
    FROM cut
    ORDER BY doc_id
    """,
)
def dedup_substring_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_ingestion_din_spark.functions.analysis import tokens

    docs = load_table(spark, sf_dir, "documents")
    spd = (
        _substring_spans(spark, sf_dir)
        .groupBy("doc_id")
        .agg(
            F.collect_list(
                F.struct(
                    F.col("span_start").cast("int").alias("s"),
                    F.col("span_end").cast("int").alias("e"),
                )
            ).alias("spans")
        )
    )
    base = docs.select("doc_id", tokens(F.col("text")).alias("t")).join(
        spd, "doc_id", "left"
    )
    empty = F.array().cast("array<struct<s:int,e:int>>")
    spans = F.coalesce(F.col("spans"), empty)
    kept = F.filter(
        "t",
        lambda x, i: ~F.exists(
            spans, lambda sp: (i + 1 >= sp.s) & (i + 1 <= sp.e)
        ),
    )
    return (
        base.select(
            "doc_id",
            F.size("t").cast("bigint").alias("n_tok"),
            (F.size("t") - F.size(kept)).cast("bigint").alias("n_removed"),
            F.md5(F.concat_ws(" ", kept)).alias("residual_fp"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# corpus_leakage_safe_split — train/val splitting that cannot leak
# near-duplicates across the boundary (Lee et al. 2021's headline
# hazard: a test document whose near-dup sits in train inflates eval).
# Every doc's split GROUP is its near-dup cluster (the banded-MinHash
# components; singletons group as themselves), and the hash split is a
# function of the GROUP id — so a whole cluster lands on one side by
# construction. The one-row audit proves it: straddling near-dup pairs
# under the grouped split (MUST be 0) next to the count the naive
# per-doc split would have leaked (non-zero on the fixture — the
# hazard is real, not hypothetical).
#
# Scale: clusters come from the staged pair table + CC (already
# bounded); the split itself is a pure hash expression — no extra
# shuffle beyond the audit's pair join.
# --------------------------------------------------------------------------
_LSS_SEED = "gsplit:"


@query(
    "corpus_leakage_safe_split",
    oracle=f"""
    WITH RECURSIVE {_BANDED_CTES},
    edges AS (
      SELECT doc_a AS s, doc_b AS d FROM verified
      UNION ALL
      SELECT doc_b AS s, doc_a AS d FROM verified
    ),
    nodes AS (SELECT DISTINCT s AS node FROM edges),
    reach AS (
      SELECT node, node AS r FROM nodes
      UNION
      SELECT e.s AS node, r.r FROM edges e JOIN reach r ON r.node = e.d
    ),
    clusters AS (
      SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node
    ),
    g AS (
      SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS grp
      FROM documents d LEFT JOIN clusters c USING (doc_id)
    ),
    s AS (
      SELECT doc_id, grp,
             CASE WHEN {h64_sql("CAST(grp AS VARCHAR)", _LSS_SEED)} % 10 < 8
                  THEN 'train' ELSE 'val' END AS split,
             CASE WHEN {h64_sql("CAST(doc_id AS VARCHAR)", _LSS_SEED)} % 10 < 8
                  THEN 'train' ELSE 'val' END AS naive_split
      FROM g
    ),
    leak AS (
      SELECT
        CAST(sum(CASE WHEN a.split <> b.split THEN 1 ELSE 0 END) AS BIGINT)
          AS leak_grouped,
        CAST(sum(CASE WHEN a.naive_split <> b.naive_split THEN 1 ELSE 0 END)
          AS BIGINT) AS leak_naive
      FROM verified v
      JOIN s a ON a.doc_id = v.doc_a
      JOIN s b ON b.doc_id = v.doc_b
    )
    SELECT
      (SELECT CAST(count(*) AS BIGINT) FROM s WHERE split = 'train')
        AS n_train,
      (SELECT CAST(count(*) AS BIGINT) FROM s WHERE split = 'val') AS n_val,
      (SELECT CAST(count(DISTINCT grp) AS BIGINT) FROM s
        WHERE split = 'train') AS groups_train,
      (SELECT CAST(count(DISTINCT grp) AS BIGINT) FROM s WHERE split = 'val')
        AS groups_val,
      leak_grouped, leak_naive
    FROM leak
    """,
)
def corpus_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_ingestion_din_spark.functions.hashing import h64

    docs = load_table(spark, sf_dir, "documents")
    pairs = _banded_pairs(spark, sf_dir)
    clusters = D.connected_components(pairs).select(
        F.col("node").alias("doc_id"), "cluster_id"
    )
    g = docs.select("doc_id").join(clusters, "doc_id", "left").select(
        "doc_id", F.coalesce("cluster_id", "doc_id").alias("grp")
    )

    def split_of(col):
        return F.when(
            h64(col.cast("string"), _LSS_SEED) % 10 < 8, "train"
        ).otherwise("val")

    s = g.select(
        "doc_id",
        "grp",
        split_of(F.col("grp")).alias("split"),
        split_of(F.col("doc_id")).alias("naive_split"),
    ).localCheckpoint(eager=False)  # feeds the counts and both audit
    # sides — all in the final action (lazy: no separate driver job)
    sa = s.select(F.col("doc_id").alias("doc_a"),
                  F.col("split").alias("sa"),
                  F.col("naive_split").alias("na"))
    sb = s.select(F.col("doc_id").alias("doc_b"),
                  F.col("split").alias("sb"),
                  F.col("naive_split").alias("nb"))
    leak = (
        pairs.join(sa, "doc_a").join(sb, "doc_b")
        .agg(
            F.sum(F.when(F.col("sa") != F.col("sb"), 1).otherwise(0))
            .cast("bigint")
            .alias("leak_grouped"),
            F.sum(F.when(F.col("na") != F.col("nb"), 1).otherwise(0))
            .cast("bigint")
            .alias("leak_naive"),
        )
    )
    counts = s.agg(
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0))
        .cast("bigint")
        .alias("n_train"),
        F.sum(F.when(F.col("split") == "val", 1).otherwise(0))
        .cast("bigint")
        .alias("n_val"),
        F.countDistinct(F.when(F.col("split") == "train", F.col("grp")))
        .cast("bigint")
        .alias("groups_train"),
        F.countDistinct(F.when(F.col("split") == "val", F.col("grp")))
        .cast("bigint")
        .alias("groups_val"),
    )
    return counts.crossJoin(leak)


# --------------------------------------------------------------------------
# corpus_dedup_funnel — the FULL dedup stack composed end to end the way
# corpus_curation composes its quality funnel (and ask_pipeline its
# serving path): exact fingerprint dedup → near-dup cluster resolution
# with keep-best (longest member wins) → duplicated-substring excision
# on the survivors, each stage emitting an audit row (docs, tokens).
# Dedup decisions are corpus-wide maps (the staged pair/span tables)
# APPLIED to the funnel's surviving set — the way production composes
# dedup passes (compute the map once, apply it in the pipeline) — and
# the oracle restates exactly that composition, so the STAGE ARITHMETIC
# (who survives, how many tokens remain) is hash-gated, not just each
# technique in isolation.
#
# Scale: reuses the staged pair + span artifacts (no recompute), one
# fp shuffle for stage 1, CC over surviving pairs only, and per-stage
# audits are count/sum aggregates.
# --------------------------------------------------------------------------
_WIN_TAIL = _win_ctes(include_toks=False)

# Stage CTEs and audit rows shared VERBATIM by corpus_dedup_funnel and
# corpus_dedup_funnel_full (the Spark side shares _funnel_stages; this
# is the oracle-side equivalent — one SQL restatement, so a fix to the
# funnel arithmetic cannot land in only one of the two hash gates).
_FUNNEL_STAGE_CTES = f"""base AS (
      SELECT doc_id, n_chars, len({_TOKS_SQL}) AS n_tok,
             {_FP_SQL} AS fp
      FROM documents
    ),
    s1 AS (
      SELECT * FROM base
      QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1
    ),
    edges AS (
      SELECT v.doc_a AS s, v.doc_b AS d FROM verified v
      JOIN s1 a ON a.doc_id = v.doc_a JOIN s1 b ON b.doc_id = v.doc_b
      UNION ALL
      SELECT v.doc_b AS s, v.doc_a AS d FROM verified v
      JOIN s1 a ON a.doc_id = v.doc_a JOIN s1 b ON b.doc_id = v.doc_b
    ),
    nodes AS (SELECT DISTINCT s AS node FROM edges),
    reach AS (
      SELECT node, node AS r FROM nodes
      UNION
      SELECT e.s AS node, r.r FROM edges e JOIN reach r ON r.node = e.d
    ),
    clusters AS (
      SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node
    ),
    ranked AS (
      SELECT s1.doc_id, c.cluster_id,
             row_number() OVER (
               PARTITION BY c.cluster_id
               ORDER BY s1.n_chars DESC, s1.doc_id
             ) AS rk
      FROM s1 JOIN clusters c ON c.doc_id = s1.doc_id
    ),
    s2 AS (
      SELECT s1.* FROM s1
      LEFT JOIN ranked r ON r.doc_id = s1.doc_id
      WHERE r.doc_id IS NULL OR r.rk = 1
    ),
    per_doc AS (
      SELECT doc_id,
             CAST(sum(span_end - span_start + 1) AS BIGINT) AS dup_tok
      FROM spans GROUP BY doc_id
    ),
    s3 AS (
      SELECT s2.doc_id,
             s2.n_tok - coalesce(p.dup_tok, 0) AS n_tok
      FROM s2 LEFT JOIN per_doc p ON p.doc_id = s2.doc_id
    )"""

_FUNNEL_AUDIT_03 = """SELECT 0 AS stage_ord, 'input' AS stage,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tok) AS BIGINT) AS n_tokens FROM base
      UNION ALL
      SELECT 1, 'exact_dedup', CAST(count(*) AS BIGINT),
             CAST(sum(n_tok) AS BIGINT) FROM s1
      UNION ALL
      SELECT 2, 'near_dup_keep_best', CAST(count(*) AS BIGINT),
             CAST(sum(n_tok) AS BIGINT) FROM s2
      UNION ALL
      SELECT 3, 'substring_removal', CAST(count(*) AS BIGINT),
             CAST(sum(n_tok) AS BIGINT) FROM s3"""



@query(
    "corpus_dedup_funnel",
    oracle=f"""
    WITH RECURSIVE {_BANDED_CTES},
    {_WIN_TAIL},
    {_FUNNEL_STAGE_CTES},
    audit AS (
      {_FUNNEL_AUDIT_03}
    )
    SELECT CAST(stage_ord AS INT) AS stage_ord, stage, n_docs, n_tokens
    FROM audit ORDER BY stage_ord
    """,
)
def corpus_dedup_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    base, s1, s2, s3 = _funnel_stages(spark, sf_dir)
    return (
        _funnel_stage_row(0, "input", base)
        .unionByName(_funnel_stage_row(1, "exact_dedup", s1))
        .unionByName(_funnel_stage_row(2, "near_dup_keep_best", s2))
        .unionByName(_funnel_stage_row(3, "substring_removal", s3))
        .orderBy("stage_ord")
    )


def _funnel_stage_row(ord_: int, name: str, df: DataFrame) -> DataFrame:
    return df.groupBy().agg(
        F.lit(ord_).cast("int").alias("stage_ord"),
        F.lit(name).alias("stage"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
    )


def _funnel_stages(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """The funnel's first four frames (input, exact-dedup survivors,
    keep-best survivors, substring-excised token counts) — shared by
    corpus_dedup_funnel and its semantic extension so the two audits
    can never drift apart."""
    from pyspark.sql.window import Window as W

    from data_ingestion_din_spark.functions.analysis import (
        fingerprint,
        tokens,
    )

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        "n_chars",
        F.size(tokens(F.col("text"))).cast("bigint").alias("n_tok"),
        fingerprint(F.col("text")).alias("fp"),
    ).localCheckpoint(eager=False)  # feeds all four stage audits
    # (lazy: the CC edge count or the final action materializes it)
    s1 = (
        base.withColumn(
            "rn", F.row_number().over(W.partitionBy("fp").orderBy("doc_id"))
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
        .localCheckpoint(eager=False)
    )
    pairs = _banded_pairs(spark, sf_dir)
    surv = s1.select("doc_id")
    pairs2 = (
        pairs.join(surv.withColumnRenamed("doc_id", "doc_a"), "doc_a", "left_semi")
        .join(surv.withColumnRenamed("doc_id", "doc_b"), "doc_b", "left_semi")
    )
    clusters = D.connected_components(pairs2).select(
        F.col("node").alias("doc_id"), "cluster_id"
    )
    ranked = s1.join(clusters, "doc_id").withColumn(
        "rk",
        F.row_number().over(
            W.partitionBy("cluster_id").orderBy(F.desc("n_chars"), "doc_id")
        ),
    )
    dropped = ranked.filter(F.col("rk") > 1).select("doc_id")
    s2 = s1.join(dropped, "doc_id", "left_anti").localCheckpoint(
        eager=False
    )
    per_doc = (
        _substring_spans(spark, sf_dir)
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("span_end") - F.col("span_start") + 1)
            .cast("bigint")
            .alias("dup_tok")
        )
    )
    s3 = s2.join(per_doc, "doc_id", "left").select(
        "doc_id",
        (F.col("n_tok") - F.coalesce("dup_tok", F.lit(0))).alias("n_tok"),
    )
    return base, s1, s2, s3


# --------------------------------------------------------------------------
# corpus_dedup_funnel_full — the funnel extended with the SEMANTIC pass,
# completing all four dedup modalities in ONE audited composition:
# exact fingerprint → near-dup keep-best → substring excision →
# SemDeDup (Abbas et al. 2023: within a k-means cell, a doc with a
# lower-id neighbor above the cosine gate is dropped — cell-local
# candidates, never all-pairs). The embedding space maps to documents
# by the fixture's vec_id == doc_id key (the multimodal_clip_gate
# pairing); the cosine gate is the division-free integer predicate
# dot > 0 AND 25·dot² >= 4·(a·a)(b·b) over 1e3-quantized vectors
# (every product fits int64 — the streaming_semdedup_gate recipe), and
# the cells come from the session-staged verified k=8 Lloyd run, so
# the stage adds ~zero recompute. Stages 0-3 are the SAME frames as
# corpus_dedup_funnel (shared helper — the audits cannot drift); the
# oracle restates the whole five-row arithmetic, so who survives each
# stage and how many tokens remain is hash-gated end to end.
# --------------------------------------------------------------------------
def _funnel_full_oracle() -> str:
    from data_ingestion_din_spark.functions.vectors import (
        QUANT_MILLI_SQL as q3,
    )
    from data_ingestion_din_spark.plans.similarity_queries import _km_ctes

    return f"""
    WITH RECURSIVE {_BANDED_CTES},
    {_WIN_TAIL},
    {_km_ctes()},
    {_FUNNEL_STAGE_CTES},
    q3t AS (SELECT vec_id, {q3} AS q3 FROM embeddings),
    cells AS (
      SELECT a2.vec_id AS doc_id, a2.cluster, q3t.q3
      FROM a2 JOIN q3t USING (vec_id)
    ),
    sc AS (
      SELECT c.doc_id, c.cluster, c.q3
      FROM cells c JOIN s3 ON s3.doc_id = c.doc_id
    ),
    semdrop AS (
      SELECT DISTINCT b.doc_id
      FROM sc a JOIN sc b ON a.cluster = b.cluster AND a.doc_id < b.doc_id
      WHERE (SELECT sum(a.q3[i] * b.q3[i]) FROM range(1, 65) r(i)) > 0
        AND 25 * (SELECT sum(a.q3[i] * b.q3[i]) FROM range(1, 65) r(i))
               * (SELECT sum(a.q3[i] * b.q3[i]) FROM range(1, 65) r(i))
            >= 4 * (SELECT sum(a.q3[i] * a.q3[i]) FROM range(1, 65) r(i))
                 * (SELECT sum(b.q3[i] * b.q3[i]) FROM range(1, 65) r(i))
    ),
    s4 AS (
      SELECT s3.* FROM s3 LEFT JOIN semdrop d USING (doc_id)
      WHERE d.doc_id IS NULL
    ),
    audit AS (
      {_FUNNEL_AUDIT_03}
      UNION ALL
      SELECT 4, 'semantic_dedup', CAST(count(*) AS BIGINT),
             CAST(sum(n_tok) AS BIGINT) FROM s4
    )
    SELECT CAST(stage_ord AS INT) AS stage_ord, stage, n_docs, n_tokens
    FROM audit ORDER BY stage_ord
    """


@query("corpus_dedup_funnel_full", oracle=_funnel_full_oracle())
def corpus_dedup_funnel_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_ingestion_din_spark.functions.vectors import quantize_milli
    from data_ingestion_din_spark.plans.similarity_queries import _km8

    base, s1, s2, s3 = _funnel_stages(spark, sf_dir)
    s3 = s3.localCheckpoint(eager=False)  # feeds its audit + the sem
    # pass — both in the final action (lazy: no separate driver job)
    q3t = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"),
        quantize_milli(F.col("embedding")).alias("q3"),
    )
    cells = _km8(spark, sf_dir).select(
        F.col("vec_id").alias("doc_id"), "cluster"
    ).join(q3t, "doc_id")
    sc = cells.join(s3.select("doc_id"), "doc_id", "left_semi")

    # Per-cluster pairwise gate as ONE Arrow boundary + an int64 GEMM
    # (the dedup_semantic_kmeans kernel shape — the interpreted-HOF
    # pair join it replaces spent ~5 s on Σ|cell|² lambda dots at
    # sf0.1). Exactness: |q3| ≤ ~1e3 at dims=64 → dot ≤ 6.4e7,
    # 25·dot² ≤ 1.1e17 and 4·aa·bb ≤ 1.6e16 both fit int64, so the
    # whole predicate is integer arithmetic — bit-identical to the
    # oracle's SQL.
    def _sem_dropped(pdf):
        import numpy as np
        import pandas as pd

        order = np.argsort(pdf["doc_id"].to_numpy())
        ids = pdf["doc_id"].to_numpy()[order]
        m = np.stack(pdf["q3"].to_numpy()[order]).astype(np.int64)
        g = m @ m.T
        nsq = np.diag(g)
        close = (g > 0) & (25 * g * g >= 4 * (nsq[:, None] * nsq[None, :]))
        dropped = np.triu(close, k=1).any(axis=0)
        return pd.DataFrame({"doc_id": ids[dropped]})

    semdrop = sc.groupBy("cluster").applyInPandas(
        _sem_dropped, "doc_id long"
    )
    s4 = s3.join(semdrop, "doc_id", "left_anti")
    return (
        _funnel_stage_row(0, "input", base)
        .unionByName(_funnel_stage_row(1, "exact_dedup", s1))
        .unionByName(_funnel_stage_row(2, "near_dup_keep_best", s2))
        .unionByName(_funnel_stage_row(3, "substring_removal", s3))
        .unionByName(_funnel_stage_row(4, "semantic_dedup", s4))
        .orderBy("stage_ord")
    )
