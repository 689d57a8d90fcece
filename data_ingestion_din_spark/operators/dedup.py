"""Deduplication operators: exact, normalized-key, MinHash, SimHash, n-gram
Jaccard, embedding near-dup.

Generalizes the reference's two dedup sites — content-hash table dedup
(ingestion/table_extractor.py:98-108, J2) and chunk fingerprint dedup
(backend/services/chunking.py:394-412, U4) — into the full near-dup family
a training-data pipeline needs (BASELINE.json north star).

Scale notes (100 TB posture):

- Exact/normalized dedup is one hash-partitioned shuffle on the key; the
  winner is chosen with ``row_number`` over an explicit priority ordering
  (NOT ``dropDuplicates``, whose kept row is partition-order-dependent —
  SURVEY.md §7.4.2 first-match-wins).
- MinHash signatures are pure array expressions (no shuffle, no UDF);
  LSH banding turns O(n²) near-dup search into an equi-join on band
  keys — each band shuffle carries only (key, id).
- The inverted-index Jaccard join shuffles on shingle; a frequency cap on
  hot shingles (stop-shingle pruning) bounds skew — the same reasoning as
  salting a hot join key.
- Embedding near-dup at scale goes through the LSH/IVF candidates from
  operators/similarity.py; the all-pairs form here is the correctness
  baseline.

The banded-LSH kernel (every banded near-dup join in the engine is built
on it):

- :func:`shingle_signatures` — distinct word n-gram shingle set, empty
  sets dropped, MinHash slots, one lazy ``localCheckpoint``;
- :func:`minhash_band_keys` — the MinHash band-key recipe
  (``md5('b{j}', r slots)``, r = n_hashes / bands);
- :func:`band_candidates` — the band equi-join: a self-join keeping
  ``a.id < b.id``, or a probe × index join, then distinct pairs, with
  payload columns carried through the join;
- :func:`pair_sides`, :func:`shingle_jaccard`, :func:`slot_agreement` —
  the verify step: look each candidate's two sides up once, then exact
  shingle Jaccard or MinHash slot agreement;
- :func:`nearest_match` — an incremental probe's verdict: each probe's
  best verified match, or a clean bill.

SimHash, hyperplane and pHash callers build their own band-key columns
and use the same join and verdict.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from data_ingestion_din_spark.functions.analysis import (
    fingerprint,
    tokens,
    word_shingles,
)
from data_ingestion_din_spark.functions.hashing import with_minhash
from data_ingestion_din_spark.sources.tables import local_frame, scan_parallel

SIMHASH_BITS = 16


def keep_first_by(df: DataFrame, key, order_cols: list) -> DataFrame:
    """Deterministic keep-first dedup: one row per ``key``, winner = first
    under ``order_cols`` (explicit priority — J2's first-seen semantics)."""
    w = W.partitionBy(key).orderBy(*order_cols)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact dedup on the content fingerprint (md5 of normalized text),
    lowest doc_id wins."""
    keyed = docs.withColumn("fp", fingerprint(F.col("text")))
    return keep_first_by(keyed, F.col("fp"), [F.col("doc_id")])


def wordset_key(text_col) -> F.Column:
    """Normalized dedup key: md5 over the sorted distinct word set —
    catches bag-of-words duplicates that exact hashing misses."""
    toks = tokens(text_col)
    return F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(toks))))


def wordset_dedup(docs: DataFrame) -> DataFrame:
    keyed = docs.withColumn("wk", wordset_key(F.col("text")))
    return keep_first_by(keyed, F.col("wk"), [F.col("doc_id")])


def minhash_signatures(docs: DataFrame, n_hashes: int = 4) -> DataFrame:
    """Per-doc MinHash signature over the distinct-word shingle set.

    Distinct single-word shingles make signature equality ⇔ (w.h.p.)
    word-set equality, which is exactly the duplicate class the fixture
    corpus contains; word n-gram shingles (functions/analysis.word_shingles)
    plug into the same construction for order-sensitive near-dup.
    """
    sh = F.array_distinct(tokens(F.col("text")))
    return with_minhash(scan_parallel(docs), sh, n_hashes, keep=["doc_id"])


def minhash_dup_groups(docs: DataFrame, n_hashes: int = 4) -> DataFrame:
    """LSH with one band of width ``n_hashes``: docs agreeing on the whole
    signature form a candidate duplicate group. Returns groups with >1 doc
    (band_key, group_size, member doc_ids sorted)."""
    sigs = minhash_signatures(docs, n_hashes)
    band = F.md5(F.concat_ws(",", *[F.col(f"mh{i}") for i in range(n_hashes)]))
    return (
        sigs.withColumn("band_key", band)
        .groupBy("band_key")
        .agg(
            F.count(F.lit(1)).alias("group_size"),
            F.array_sort(F.collect_list("doc_id")).alias("members"),
        )
        .filter(F.col("group_size") > 1)
    )


def simhash(docs: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """SimHash over the token multiset: per bit, sign of Σ(±1) across token
    hashes; bits assemble into an integer fingerprint. Implemented as
    explode → one groupBy(doc_id) with ``bits`` conditional sums — a single
    shuffle keyed by doc_id, all JVM-side.

    Bit sources: two 32-bit halves of ONE md5 per token (bits 0-31 from
    hex[1:9), bits 32-63 from hex[9:17)) — 64 independent random bits,
    supporting the full production-width 64-bit fingerprint. Bit 63 of a
    signed BIGINT is the sign bit: its term is −2^63 (two's complement),
    mirrored exactly in the DuckDB oracle.
    """
    if bits > 64:
        raise ValueError("simhash supports at most 64 bits")
    tok = (
        scan_parallel(docs)
        .select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
        # md5 staged as its OWN projection: both halves read it, and
        # CollapseProject keeps the barrier for a non-cheap multiply-
        # referenced expression (PLANS.md rule 8) — one md5 per token,
        # not two.
        .select("doc_id", F.md5(F.col("tok")).alias("m"))
        .select(
            "doc_id",
            F.conv(F.substring("m", 1, 8), 16, 10).cast("bigint").alias("h_lo"),
            F.conv(F.substring("m", 9, 8), 16, 10).cast("bigint").alias("h_hi"),
        )
    )

    def bit(b: int) -> F.Column:
        src = F.col("h_lo") if b < 32 else F.col("h_hi")
        return F.shiftright(src, b % 32).bitwiseAND(1)

    # sum raw bits (no per-row CASE) plus one token count; the classic
    # sign test sum(±1) ≥ 0 is exactly 2·sum(bit) ≥ n — same integers,
    # ``bits`` fewer branch expressions per row.
    bit_sums = [F.sum(bit(b)).alias(f"s{b}") for b in range(bits)]
    summed = tok.groupBy("doc_id").agg(
        *bit_sums, F.count(F.lit(1)).alias("n")
    )
    sim = None
    for b in range(bits):
        weight = F.lit(-(1 << 63)) if b == 63 else F.lit(1 << b)
        term = F.when(
            F.col(f"s{b}") * 2 >= F.col("n"), weight
        ).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return summed.select("doc_id", sim.cast("bigint").alias("simhash"))


# --------------------------------------------------------------------------
# The banded-LSH kernel (see the module docstring).
# --------------------------------------------------------------------------
def shingle_signatures(
    docs: DataFrame, n_hashes: int, shingle_n: int, *keep: str
) -> DataFrame:
    """(doc_id, *keep, sh, mh0..mh{n_hashes-1}) for every doc whose
    distinct word ``shingle_n``-gram set ``sh`` is non-empty.

    Lazily local-checkpointed: the signature frame feeds several plan
    branches (both sides of the band join and the verify lookups);
    without staging, Spark recomputes the shingle + MinHash pipeline
    per branch (measured 4x cost at sf0.1). At cluster scale this is
    the staged-table / dataset-cache shape; localCheckpoint is its
    single-JVM equivalent. Partitioning is the caller's: batch callers
    pass ``scan_parallel(docs)``, a streaming micro-batch passes itself.
    """
    sh = F.array_distinct(word_shingles(tokens(F.col("text")), shingle_n))
    base = docs.select("doc_id", *keep, sh.alias("sh")).filter(
        F.size("sh") > 0
    )
    return with_minhash(base, F.col("sh"), n_hashes).localCheckpoint(
        eager=False
    )


def minhash_band_keys(n_hashes: int, bands: int) -> F.Column:
    """The ``bands`` MinHash band keys of a signature row as one array:
    band j = md5('b{j}', mh[j*r], ..., mh[j*r + r - 1]) with
    r = n_hashes / bands. The band tag keeps equal slot values in
    different bands from colliding."""
    r, rest = divmod(n_hashes, bands)
    if rest:
        raise ValueError("bands must divide n_hashes")
    return F.array(
        *[
            F.md5(
                F.concat_ws(
                    ",",
                    F.lit(f"b{j}"),
                    *[F.col(f"mh{j * r + i}").cast("string") for i in range(r)],
                )
            )
            for j in range(bands)
        ]
    )


def band_candidates(
    left: DataFrame,
    right: DataFrame | None = None,
    *,
    on="band_key",
    id: str = "doc_id",
    pair: tuple[str, str] = ("doc_a", "doc_b"),
    carry=(),
) -> DataFrame:
    """Distinct candidate pairs of items sharing at least one band.

    ``left`` (and ``right``) hold banded rows: one per (item, band), with
    the item's ``id``, the band key column(s) ``on`` and any ``carry``
    payload columns. With no ``right`` this is the self-join: each
    unordered pair once, as ``a.id < b.id``. With ``right`` it is the
    probe: left (probe) rows against right (index) rows only, so two
    probe rows are never paired and the index is never self-joined.

    Returns distinct (pair[0], pair[1], a_<c>..., b_<c>...): a carried
    column rides through the join, so no lookup join is needed for it.
    P[candidate] = 1-(1-p^r)^b for per-row agreement p, so low-similarity
    pairs are never joined (no cartesian).
    """
    keys = [on] if isinstance(on, str) else list(on)
    a = left.alias("a")
    b = (left if right is None else right).alias("b")
    cond = [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys]
    if right is None:
        cond.append(F.col(f"a.{id}") < F.col(f"b.{id}"))
    return (
        a.join(b, functools.reduce(operator.and_, cond))
        .select(
            F.col(f"a.{id}").alias(pair[0]),
            F.col(f"b.{id}").alias(pair[1]),
            *[F.col(f"a.{c}").alias(f"a_{c}") for c in carry],
            *[F.col(f"b.{c}").alias(f"b_{c}") for c in carry],
        )
        .distinct()
    )


def pair_sides(
    pairs: DataFrame,
    left: DataFrame,
    right: DataFrame | None = None,
    *,
    id: str = "doc_id",
    pair: tuple[str, str] = ("doc_a", "doc_b"),
    cols=(),
) -> DataFrame:
    """Attach both sides' ``cols`` to candidate ``pairs`` for the verify
    step: a_<c> from ``left`` by pair[0], b_<c> from ``right`` (default
    ``left``) by pair[1]. Two hash joins on the ids, after the distinct,
    so only candidate items are looked up."""
    def side(df: DataFrame, key: str, tag: str) -> DataFrame:
        return df.select(
            F.col(id).alias(key), *[F.col(c).alias(f"{tag}_{c}") for c in cols]
        )

    return pairs.join(side(left, pair[0], "a"), pair[0]).join(
        side(left if right is None else right, pair[1], "b"), pair[1]
    )


def shingle_jaccard(pairs: DataFrame) -> DataFrame:
    """Append the exact Jaccard of the ``a_sh`` / ``b_sh`` shingle sets
    as ``jaccard``: |A∩B| / (|A| + |B| - |A∩B|), the intersection size
    staged once per pair."""
    return pairs.withColumn(
        "_inter", F.size(F.array_intersect(F.col("a_sh"), F.col("b_sh")))
    ).withColumn(
        "jaccard",
        F.col("_inter").cast("double")
        / (F.size("a_sh") + F.size("b_sh") - F.col("_inter")),
    )


def slot_agreement(pairs: DataFrame, n_hashes: int) -> DataFrame:
    """Append ``n_agree`` (int): how many of the ``a_mh<i>`` / ``b_mh<i>``
    MinHash slots agree — n_agree / n_hashes estimates the Jaccard from
    signatures alone (what an index that stores no texts can verify)."""
    agree = sum(
        F.when(F.col(f"a_mh{i}") == F.col(f"b_mh{i}"), 1).otherwise(0)
        for i in range(n_hashes)
    )
    return pairs.withColumn("n_agree", agree.cast("int"))


def nearest_match(
    pairs: DataFrame, probes: DataFrame, order: str, matched: str
) -> DataFrame:
    """An incremental probe's verdict. ``pairs`` holds verified
    (probe id, match id, score) rows, ``probes`` the one probe-id column.
    Each probe's best match is the best score (``order`` "desc": higher
    wins, "asc": lower wins), ties to the lower match id. Returns
    (probe id, is_dup, ``matched``, score) for every probe; a probe with
    no verified pair reads is_dup = false and nulls."""
    pid, mid, score = pairs.columns
    first = F.desc(score) if order == "desc" else F.asc(score)
    w = W.partitionBy(pid).orderBy(first, mid)
    best = (
        pairs.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select(pid, mid, score)
    )
    (key,) = probes.columns
    return probes.join(best, F.col(key) == F.col(pid), "left").select(
        key,
        F.col(mid).isNotNull().alias("is_dup"),
        F.col(mid).alias(matched),
        score,
    )


def minhash_banded_pairs(
    docs: DataFrame,
    n_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Multi-band MinHash LSH over word n-gram shingles with an exact
    Jaccard verify stage — the real near-dup construction (b bands × r
    rows; single-band ``minhash_dup_groups`` only finds whole-signature
    matches): signatures, band self-join, exact shingle Jaccard on the
    candidates, keep pairs ≥ ``threshold``.

    At 100 TB the band join shuffles only (16-byte key, doc_id) rows and
    the verify join touches only candidate docs — the standard
    MinHash-LSH scale shape. Returns (doc_a, doc_b, jaccard).
    """
    keys = minhash_band_keys(n_hashes, bands)
    sigs = shingle_signatures(scan_parallel(docs), n_hashes, shingle_n)
    cand = band_candidates(
        sigs.select("doc_id", F.explode(keys).alias("band_key"))
    )
    return (
        shingle_jaccard(pair_sides(cand, sigs, cols=["sh"]))
        .select("doc_a", "doc_b", "jaccard")
        .filter(F.col("jaccard") >= threshold)
    )


def simhash_dup_groups(docs: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """Candidate near-dup groups = identical simhash (Hamming distance 0;
    banding over bit-slices generalizes to distance ≤ k)."""
    return (
        simhash(docs, bits)
        .groupBy("simhash")
        .agg(
            F.count(F.lit(1)).alias("group_size"),
            F.array_sort(F.collect_list("doc_id")).alias("members"),
        )
        .filter(F.col("group_size") > 1)
    )


def simhash_near_pairs(
    docs: DataFrame,
    bits: int = SIMHASH_BITS,
    n_bands: int = 4,
    max_hamming: int = 1,
) -> DataFrame:
    """SimHash near-dup pairs within Hamming distance ``max_hamming`` via
    bit-slice banding (``simhash_dup_groups`` is distance-0 only).

    The fingerprint is sliced into ``n_bands`` contiguous bit bands; a pair
    within Hamming distance ≤ n_bands−1 must agree on ≥1 whole band
    (pigeonhole), so :func:`band_candidates` finds every such pair, the
    fingerprints riding through the join; an exact popcount filter
    (``bit_count(a XOR b)``) keeps pairs ≤ ``max_hamming``.

    At 100 TB: each band row is (band_idx:value, doc_id, simhash) — a
    narrow shuffle; band width drives the self-join fan-out (dense bands
    collide on unrelated docs). The registered query runs the production
    ratio — 64-bit fingerprints, 4 × 16-bit bands. Measured on the
    sf0.01 fixture (500 docs, 124,750 possible pairs): 16-bit bands
    produce 1,844 candidate pairs (1.5%) vs 39,329 (32%) for 8-bit
    bands on the same 64-bit fingerprints. Returns
    (doc_a, doc_b, hamming).
    """
    if max_hamming > n_bands - 1:
        raise ValueError("banding only guarantees recall for k <= n_bands-1")
    width = bits // n_bands
    sh = simhash(docs, bits)
    band_keys = F.array(
        *[
            F.concat(
                F.lit(f"{j}:"),
                F.shiftright(F.col("simhash"), j * width)
                .bitwiseAND(F.lit((1 << width) - 1))
                .cast("string"),
            )
            for j in range(n_bands)
        ]
    )
    cand = band_candidates(
        sh.select("doc_id", "simhash", F.explode(band_keys).alias("band_key")),
        carry=["simhash"],
    )
    ham = F.bit_count(
        F.col("a_simhash").bitwiseXOR(F.col("b_simhash"))
    ).cast("int")
    return cand.select("doc_a", "doc_b", ham.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    max_shingle_freq: int | None = None,
    max_rows: int | None = None,
) -> DataFrame:
    """All-pairs n-gram Jaccard via inverted-index join (no cartesian):
    explode distinct shingles → self-join on shingle → |A∩B| = pair count,
    |A∪B| = |A|+|B|−|A∩B|.

    ``max_shingle_freq`` drops shingles occurring in more than that many
    docs (stop-shingle pruning) — the standard skew guard at scale; None
    keeps exact semantics for oracle comparison BUT leaves posting lists
    unbounded (quadratic on hot shingles), so the uncapped form refuses
    inputs larger than ``max_rows`` (default ``ALL_PAIRS_MAX_ROWS``;
    capped runs skip the guard — their candidate set is bounded by
    construction).
    """
    if max_shingle_freq is None:
        _refuse_all_pairs(
            docs,
            ALL_PAIRS_MAX_ROWS if max_rows is None else max_rows,
            "ngram_jaccard_pairs(max_shingle_freq=...) — the capped path",
        )

    sh = scan_parallel(docs).select(
        "doc_id",
        F.explode(
            F.array_distinct(word_shingles(tokens(F.col("text")), n))
        ).alias("shingle"),
    )
    if max_shingle_freq is not None:
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_shingle_freq)
            .select("shingle")
        )
        sh = sh.join(hot, "shingle", "left_anti")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, F.col("a.shingle") == F.col("b.shingle"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("inter"))
            ).alias("jaccard"),
        )
    )


def embedding_near_dup_lsh(
    emb: DataFrame,
    threshold: float = 0.4,
    n_tables: int = 4,
    n_planes: int = 6,
) -> DataFrame:
    """Embedding near-dup pairs via multi-table random-hyperplane LSH —
    the scale path for :func:`embedding_near_dup_pairs` (reference has no
    ANN at all; Chroma kNN is backend/services/vector_store.py:263-341).

    Every vector is hashed with ``n_tables`` independent hyperplane
    tables (``n_planes`` bits each, exact integer projections so the
    oracle reproduces the signs bit-for-bit); the band key is
    ``table:bucket``. For cosine s, P[candidate] = 1 − (1 − p^n_planes)
    ^n_tables with p = 1 − arccos(s)/π, so true near-dups (s ≥ 0.9) are
    found w.h.p. while unrelated pairs rarely collide. Candidates are
    verified by exact quantized cosine ≥ ``threshold`` (each side's
    quantized vector + norm computed once, pre-join).

    At 100 TB the bucket join shuffles only (table:bucket, vec_id) rows
    and the verify join touches candidates only — same shape as
    minhash_banded_pairs. Returns (id_a, id_b, cos_sim).
    """
    from data_ingestion_din_spark.functions.vectors import quant_dot, quantize
    from data_ingestion_din_spark.operators.similarity import (
        _plane_coefs,
        int_array_lit,
    )

    # All n_tables × n_planes hyperplanes as ONE 2D literal matrix and ONE
    # projection pass: the quantized vector is staged first (projection
    # barrier — multi-referenced non-cheap alias), so each projection is
    # a zip_with over two attribute arrays. Fusing beats n_tables separate
    # lsh_bucket passes: one expression tree, one quantize, no repeated
    # codegen of near-identical projections.
    coefs = [
        _plane_coefs(f"lsh{t}", b, 64)
        for t in range(n_tables)
        for b in range(n_planes)
    ]
    base = scan_parallel(emb).select(
        "vec_id", quantize(F.col("embedding")).alias("qv")
    )
    projected = base.select(
        "vec_id",
        "qv",
        F.transform(
            int_array_lit(coefs),
            lambda row: F.aggregate(
                # coalesce: sub-64-dim vectors pad with NULL in zip_with;
                # trailing coefficients contribute 0 (dims upper bound)
                F.zip_with(
                    F.col("qv"),
                    row,
                    lambda x, c: F.coalesce(
                        x * c, F.lit(0).cast("bigint")
                    ),
                ),
                F.lit(0).cast("bigint"),
                lambda acc, v: acc + v,
            ),
        ).alias("_pj"),
    )

    def bkt(t: int):
        bits = [
            F.when(
                F.get(F.col("_pj"), t * n_planes + b) >= 0, F.lit(1 << b)
            ).otherwise(F.lit(0))
            for b in range(n_planes)
        ]
        total = bits[0]
        for x in bits[1:]:
            total = total + x
        return total.cast("int").alias(f"bkt{t}")

    staged = projected.select(
        "vec_id",
        "qv",
        F.sqrt(quant_dot(F.col("qv"), F.col("qv")).cast("double")).alias("nrm"),
        *[bkt(t) for t in range(n_tables)],
        # one hash+quantize pass feeds three branches (both join sides of
        # the band self-join and the verify lookups)
    ).localCheckpoint(eager=False)
    band_keys = F.array(
        *[
            F.concat(F.lit(f"{t}:"), F.col(f"bkt{t}").cast("string"))
            for t in range(n_tables)
        ]
    )
    cand = band_candidates(
        staged.select("vec_id", F.explode(band_keys).alias("band_key")),
        id="vec_id",
        pair=("id_a", "id_b"),
    )
    pairs = pair_sides(
        cand, staged, id="vec_id", pair=("id_a", "id_b"), cols=["qv", "nrm"]
    )
    cos = quant_dot(F.col("a_qv"), F.col("b_qv")).cast("double") / (
        F.col("a_nrm") * F.col("b_nrm")
    )
    return pairs.select("id_a", "id_b", cos.alias("cos_sim")).filter(
        F.col("cos_sim") >= threshold
    )


# Edge-count ceiling for resolving components driver-side. The CC input
# is the near-dup EDGE LIST — already reduced by banding to a small
# fraction of the corpus — and below this cap it is bounded control data,
# the same rationale that lets k-means collect its k×dims centroids.
# Real driver envelope at the cap: the Arrow transfer is two flat
# columns (~16 B/edge for int64 ids → 8 MB); the transient Python
# structures dominate — the union-find parent/roots dicts plus the
# result labels over ≤2·cap nodes at ~100 B/dict entry ≈ 150 MB worst
# case. That fits a default 4 GB driver with ample headroom; above the
# cap the distributed min-label + pointer-jumping loop runs instead.
DRIVER_CC_MAX_EDGES = 500_000


def _union_find(rows) -> dict:
    """Driver-side union-find (path-halving + union by root id is NOT
    used for ranks — the final relabel uses component minima, so any
    forest shape gives identical output). Returns {node: component_min}."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = r, parent[x]
        return r

    for s, d in rows:
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[rs] = rd
    roots: dict = {}
    for x in {n for p in rows for n in p}:
        roots.setdefault(find(x), []).append(x)
    return {x: min(members) for members in roots.values() for x in members}


def connected_components(
    pairs: DataFrame,
    a: str = "doc_a",
    b: str = "doc_b",
    max_iter: int = 25,
    driver_cap_edges: int = DRIVER_CC_MAX_EDGES,
) -> DataFrame:
    """Resolve near-dup PAIRS into duplicate CLUSTERS: connected
    components, cluster_id = smallest member id. This is the step every
    production dedup needs after LSH — pairs (a,b),(b,c) must collapse
    to ONE surviving doc, which pairwise winners alone cannot decide.

    Two physical strategies, same exact output:

    - **edge list ≤ driver_cap_edges**: collect the edges and union-find
      on the driver. The input here is near-dup PAIRS (post-banding),
      not the corpus — under the cap it is bounded control data, and the
      driver resolve replaces O(diameter) shuffle rounds with one
      collect (a 17-round pHash chain cost ~5 s of pure round overhead).
    - **above the cap**: iterative distributed min-label propagation
      with pointer-jumping compression (label(v) ← label(label(v)) each
      round), O(log diameter) rounds, each round a bounded shuffle of
      (node, label) pairs, materialized with localCheckpoint to truncate
      lineage. The driver sees ONE count per round (convergence check).

    Raises ``RuntimeError`` if labels are still changing after
    ``max_iter`` distributed rounds — a silent non-fixpoint would return
    WRONG cluster ids, violating the engine's exactness contract. With
    pointer jumping, max_iter=25 covers diameters beyond 2^20.

    Returns (node, cluster_id) for every node appearing in ``pairs``.
    """
    edges = pairs.select(
        F.col(a).alias("src"), F.col(b).alias("dst")
    ).localCheckpoint(eager=False)  # the cap count materializes it
    if edges.count() <= driver_cap_edges:
        # Arrow transfer: two flat columns (~16 B/edge for int64) instead
        # of collect()'s per-edge Row objects (~0.5 kB each near the cap)
        tbl = edges.toArrow()
        rows = list(
            zip(tbl.column("src").to_pylist(), tbl.column("dst").to_pylist())
        )
        labels = _union_find(rows)
        spark = pairs.sparkSession
        node_t = edges.schema["src"].dataType
        from pyspark.sql.types import StructField, StructType

        schema = StructType(
            [
                StructField("node", node_t, False),
                StructField("cluster_id", node_t, False),
            ]
        )
        return local_frame(spark, sorted(labels.items()), schema)
    adj = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=False)
    labels = (
        adj.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=False)
    )
    changed = -1  # for the max_iter=0 degenerate case
    for _ in range(max_iter):
        nbr = adj.join(
            labels.withColumnRenamed("node", "dst"), "dst"
        ).select(F.col("src").alias("node"), "label", F.lit(False).alias("own"))
        # the node's own previous label rides through the min-groupBy as
        # a tagged max, so the convergence check below reads the ALREADY
        # CHECKPOINTED result (no join, no shuffle) — labels only ever
        # decrease, so new < old ⇔ this node changed
        nbr_min = (
            labels.withColumn("own", F.lit(True))
            .union(nbr)
            .groupBy("node")
            .agg(
                F.min("label").alias("label"),
                F.max(F.when(F.col("own"), F.col("label"))).alias("old"),
            )
        )
        # pointer-jumping compression: label(v) <- label(label(v)).
        # Every label value is itself a node (labels start as node ids
        # and propagate as mins of node ids), and label(u) <= u, so the
        # jump only ever decreases labels — neighbor-min alone needs
        # O(diameter) rounds (a 16-hop pHash chain took 17), min+jump
        # needs O(log diameter). The fixpoint is unchanged: stable
        # labels are constant across edges and idempotent under the
        # jump, i.e. the component min.
        hop = nbr_min.select(
            F.col("node").alias("l_node"), F.col("label").alias("l_label")
        )
        new_labels = (
            nbr_min.join(hop, nbr_min["label"] == hop["l_node"], "left")
            .select(
                "node",
                F.coalesce("l_label", "label").alias("label"),
                "old",
            )
            # lazy: the convergence count below is the first consumer
            # and materializes it (one driver job per round, not two)
            .localCheckpoint(eager=False)
        )
        changed = new_labels.filter(F.col("label") < F.col("old")).count()
        labels = new_labels.select("node", "label")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge within {max_iter} "
            f"iterations ({changed} labels still changing) — component "
            "diameter exceeds max_iter; raise max_iter"
        )
    return labels.select(
        F.col("node"), F.col("label").alias("cluster_id")
    )


ALL_PAIRS_MAX_ROWS = 20_000


def _refuse_all_pairs(df: DataFrame, max_rows: int, scale_path: str) -> None:
    """Refuse O(n²) baselines above ``max_rows`` input rows instead of
    silently launching a quadratic job (the classic cluster-killer).
    Costs one column-pruned count() action — negligible next to the
    quadratic join it is guarding, and these baselines exist only for
    oracle comparison at small SF anyway."""
    n = df.count()
    if n > max_rows:
        raise ValueError(
            f"all-pairs baseline refused: {n} input rows > cap {max_rows} "
            f"(O(n²) at this size); use {scale_path} instead, or raise "
            "max_rows explicitly if you really mean it"
        )


def embedding_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.4,
    max_rows: int = ALL_PAIRS_MAX_ROWS,
) -> DataFrame:
    """Embedding-cosine near-dup pairs above ``threshold`` (quantized
    integer arithmetic — oracle-comparable, see functions/vectors.py).
    All-pairs baseline; the LSH/IVF path in operators/similarity.py
    supplies candidates at scale. Refuses inputs larger than
    ``max_rows`` (see :func:`_refuse_all_pairs`).

    Each side's quantized vector and norm are computed ONCE before the
    pair join (3× fewer dot products than a naive per-pair cosine)."""
    _refuse_all_pairs(emb, max_rows, "embedding_near_dup_lsh")
    from data_ingestion_din_spark.functions.vectors import (
        quant_dot,
        quant_norm,
        quantize,
    )

    q = emb.select(
        "vec_id",
        quantize(F.col("embedding")).alias("qv"),
        quant_norm(F.col("embedding")).alias("nrm"),
    )
    a = q.select(
        F.col("vec_id").alias("id_a"),
        F.col("qv").alias("qa"),
        F.col("nrm").alias("na"),
    )
    b = q.select(
        F.col("vec_id").alias("id_b"),
        F.col("qv").alias("qb"),
        F.col("nrm").alias("nb"),
    )
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    cos = quant_dot(F.col("qa"), F.col("qb")).cast("double") / (
        F.col("na") * F.col("nb")
    )
    return pairs.select("id_a", "id_b", cos.alias("cos_sim")).filter(
        F.col("cos_sim") >= threshold
    )


def minhash_banded_pairs_incremental(
    batch: DataFrame,
    corpus: DataFrame,
    n_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Incoming-batch vs existing-corpus near-dup pairs — the NIGHTLY
    INCREMENTAL shape :func:`minhash_banded_pairs` is missing: when a
    new ingest lands, the corpus must never be self-joined again.
    Candidates here are band-key matches strictly BETWEEN the two sides
    (batch bands ⋈ corpus bands), so the per-ingest cost is
    O(batch·bands + matched corpus band rows) and the corpus side is
    touched only through the band-key equi-join — at 100 TB the corpus
    band table is a materialized artifact keyed by band_key, and each
    night's batch probes it like an index.

    Same kernel as the full self-join form, with the probe join of
    :func:`band_candidates`; returns (batch_id, corpus_id,
    jaccard ≥ ``threshold``).
    """
    keys = minhash_band_keys(n_hashes, bands)
    tagged = batch.select(
        "doc_id", F.lit(True).alias("is_batch"), "text"
    ).unionByName(
        corpus.select("doc_id", F.lit(False).alias("is_batch"), "text")
    )
    sigs = shingle_signatures(
        scan_parallel(tagged), n_hashes, shingle_n, "is_batch"
    )
    banded = sigs.select(
        "doc_id", "is_batch", F.explode(keys).alias("band_key")
    )
    pair = ("batch_id", "corpus_id")
    cand = band_candidates(
        banded.filter(F.col("is_batch")),
        banded.filter(~F.col("is_batch")),
        pair=pair,
    )
    return (
        shingle_jaccard(pair_sides(cand, sigs, pair=pair, cols=["sh"]))
        .select(*pair, "jaccard")
        .filter(F.col("jaccard") >= threshold)
    )


def window_fingerprints(docs: DataFrame, w: int) -> DataFrame:
    """One row per w-token window at stride 1: (doc_id, start, wfp).

    The Spark form of the suffix-array scan in "Deduplicating Training
    Data Makes Language Models Better" (Lee et al., 2021): every length-w
    token window is fingerprinted, so a substring duplicated across
    documents shows up as a fingerprint collision. Volume is O(corpus
    tokens) — one 16-byte hash per token position — built as a pure
    array expression (transform over sequence + slice), no UDF, no
    shuffle until the fingerprint groupBy.

    ``start`` is 1-based; the window covers tokens [start, start+w-1].

    Physical shape: explode the start positions FIRST, then fingerprint
    in the projection — slice/concat_ws/md5 are codegen-able scalar
    expressions there, where the same chain inside a ``transform``
    lambda is interpreted per element (measured 6x slower at sf0.1:
    2.5 s HOF vs 0.4 s exploded). The n>=w filter keeps ``sequence``
    ascending (sequence(1, 0) would count DOWN, not empty).
    """
    t = tokens(F.col("text"))
    base = docs.select("doc_id", t.alias("t")).filter(F.size("t") >= w)
    return base.select(
        "doc_id",
        "t",
        F.explode(F.sequence(F.lit(1), F.size("t") - w + 1)).alias("start"),
    ).select(
        "doc_id",
        "start",
        F.md5(F.concat_ws(" ", F.slice("t", F.col("start"), w))).alias("wfp"),
    )


def duplicated_spans(docs: DataFrame, w: int, min_docs: int = 2) -> DataFrame:
    """Maximal cross-document duplicated token spans per document.

    Pipeline: window fingerprints → fingerprints seen in >= min_docs
    distinct docs → surviving window instances → per-doc interval merge
    (overlapping/adjacent same-length windows form islands). Returns
    (doc_id, span_start, span_end, n_windows), span bounds inclusive.

    Scale: one shuffle on wfp (the HAVING aggregate and the semi-join
    share the key so they co-partition), then one shuffle on doc_id for
    the island windows — and only DUPLICATED instances reach it, which
    at a healthy dup rate is a small fraction of the corpus. No
    broadcast hints: the dup-fingerprint side grows with the corpus.
    """
    wins = window_fingerprints(docs, w)
    dup = (
        wins.groupBy("wfp")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("wfp")
    )
    inst = wins.join(dup, "wfp", "left_semi")
    dwin = W.partitionBy("doc_id").orderBy("start")
    flagged = inst.withColumn(
        "new_island",
        F.when(
            F.col("start") - F.lag("start").over(dwin) <= w, F.lit(0)
        ).otherwise(F.lit(1)),
    ).withColumn(
        "island",
        F.sum("new_island").over(
            dwin.rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    return flagged.groupBy("doc_id", "island").agg(
        F.min("start").alias("span_start"),
        (F.max("start") + F.lit(w - 1)).alias("span_end"),
        F.count(F.lit(1)).cast("bigint").alias("n_windows"),
    ).drop("island")
