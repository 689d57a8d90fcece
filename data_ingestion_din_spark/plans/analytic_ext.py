"""Extended analytic surface: batch kNN, grouping sets/cube, ranked
distribution windows, set operations, sanitize pipeline.

These complete the "free with Spark SQL" families SURVEY.md §2.5/§2.8
notes the reference lacks (grouping sets, intersect/except, ntile) and
the batch form of retrieval (many query vectors at once — the realistic
serving shape for the reference's /ask endpoint under load)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from data_ingestion_din_spark.functions.text import (
    normalize_section_title,
    sanitize_doc_id,
    sanitize_html,
)
from data_ingestion_din_spark.functions.vectors import cosine_exact_sql
from data_ingestion_din_spark.functions.hashing import h64, h64_sql
from data_ingestion_din_spark.functions.sketches import (  # noqa: F401
    CMS_D as _CMS_D,  # re-exported: the streaming CMS tests size by it
    cms_bucket,
    cms_cells,
    cms_estimate,
    cms_grid,
    cms_hash,
    cms_rows,
)
from data_ingestion_din_spark.plans._exact import dec_to_double, dec_to_double_sql
from data_ingestion_din_spark.plans.registry import query
from data_ingestion_din_spark.sources.tables import load_table, local_frame

# --------------------------------------------------------------------------
# similarity_batch_topk — k queries × corpus in ONE job (the /ask-under-
# load shape): broadcast the probe set, per-query rank window, top-3 each
# --------------------------------------------------------------------------
N_PROBES = 5
TOP_K = 3


@query(
    "similarity_batch_topk",
    oracle=f"""
    WITH scored AS (
      SELECT q.vec_id AS query_id, e.vec_id, e.label,
             {cosine_exact_sql('e.embedding', 'q.embedding')} AS cos_sim
      FROM embeddings e
      JOIN embeddings q ON q.vec_id < {N_PROBES}
      WHERE e.vec_id >= {N_PROBES}
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, vec_id) AS rnk
      FROM scored
    )
    SELECT query_id, vec_id, label, cos_sim, CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= {TOP_K}
    ORDER BY query_id, rnk
    """,
)
def similarity_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch kNN: the probe set broadcasts (tiny), the corpus scans once,
    per-query ranks come from one window on query_id — corpus is read and
    scored in a single pass regardless of probe count.

    Each side's quantized vector and norm are computed ONCE before the
    probe cross join (inlining cosine_exact would quantize + self-dot the
    corpus vector per probe — 3× the array passes); the per-pair work is
    a single integer dot product. Identical arithmetic to cosine_exact,
    so the oracle is unchanged."""
    from data_ingestion_din_spark.functions.vectors import (
        quant_dot,
        quant_norm,
        quantize,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        quantize(F.col("embedding")).alias("qv"),
        quant_norm(F.col("embedding")).alias("nrm"),
    )
    probes = emb.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("query_id"),
        F.col("qv").alias("pqv"),
        F.col("nrm").alias("pnrm"),
    )
    corpus = emb.filter(F.col("vec_id") >= N_PROBES)
    scored = corpus.crossJoin(F.broadcast(probes)).select(
        "query_id",
        "vec_id",
        "label",
        (
            quant_dot(F.col("qv"), F.col("pqv")).cast("double")
            / (F.col("nrm") * F.col("pnrm"))
        ).alias("cos_sim"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), "vec_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= TOP_K)
        .orderBy("query_id", "rnk")
    )


# --------------------------------------------------------------------------
# revenue_cube — GROUPING SETS/cube over (nation, segment): the grouping
# machinery SURVEY §2.5 notes the reference has none of
# --------------------------------------------------------------------------
@query(
    "revenue_cube",
    oracle=f"""
    SELECT coalesce(n.n_name, '<all>') AS nation,
           coalesce(c.c_mktsegment, '<all>') AS segment,
           CAST(count(*) AS BIGINT) AS n_orders,
           {dec_to_double_sql("sum(CAST(o.o_totalprice AS DECIMAL(12,2)))", 2)}
             AS revenue
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY GROUPING SETS ((n.n_name, c.c_mktsegment), (n.n_name), ())
    ORDER BY nation, segment
    """,
)
def revenue_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    joined = orders.join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey
    ).join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    rolled = joined.rollup("n_name", "c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        dec_to_double(
            F.sum(F.col("o_totalprice").cast("decimal(12,2)")), 2
        ).alias("revenue"),
    )
    return rolled.select(
        F.coalesce(F.col("n_name"), F.lit("<all>")).alias("nation"),
        F.coalesce(F.col("c_mktsegment"), F.lit("<all>")).alias("segment"),
        "n_orders",
        "revenue",
    ).orderBy("nation", "segment")


# --------------------------------------------------------------------------
# events_value_quartiles — ntile + exact-rank distribution per event type
# --------------------------------------------------------------------------
@query(
    "events_value_quartiles",
    oracle="""
    WITH t AS (
      SELECT event_type, event_id, value,
             ntile(4) OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS quartile
      FROM events
    )
    SELECT event_type, CAST(quartile AS INT) AS quartile,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(value) AS DOUBLE) AS lo,
           CAST(max(value) AS DOUBLE) AS hi
    FROM t
    GROUP BY event_type, quartile
    ORDER BY event_type, quartile
    """,
)
def events_value_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile window (complete ordering key so bucket boundaries are
    engine-independent) + per-bucket min/max — the ranked-distribution
    shape of quality-score binning over a training corpus."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy("value", "event_id")
    t = ev.withColumn("quartile", F.ntile(4).over(w).cast("int"))
    return (
        t.groupBy("event_type", "quartile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("value").cast("double").alias("lo"),
            F.max("value").cast("double").alias("hi"),
        )
        .orderBy("event_type", "quartile")
    )


# --------------------------------------------------------------------------
# repeat_buyers_96_not_97 — INTERSECT / EXCEPT at table granularity
# (SURVEY §2.8: absent from the reference, native in Spark)
# --------------------------------------------------------------------------
@query(
    "repeat_buyers_96_not_97",
    oracle="""
    WITH y96 AS (
      SELECT DISTINCT o_custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1997-01-01'
    ),
    y95 AS (
      SELECT DISTINCT o_custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        AND o_orderdate < TIMESTAMP '1996-01-01'
    ),
    y97 AS (
      SELECT DISTINCT o_custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        AND o_orderdate < TIMESTAMP '1998-01-01'
    )
    SELECT o_custkey FROM (
      SELECT * FROM y95 INTERSECT SELECT * FROM y96
      EXCEPT
      SELECT * FROM y97
    )
    ORDER BY o_custkey
    """,
)
def repeat_buyers_96_not_97(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")

    def buyers(y: int) -> DataFrame:
        return (
            orders.filter(
                (F.col("o_orderdate") >= F.lit(f"{y}-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit(f"{y + 1}-01-01").cast("timestamp"))
            )
            .select("o_custkey")
            .distinct()
        )

    return (
        buyers(1995)
        .intersect(buyers(1996))
        .subtract(buyers(1997))
        .orderBy("o_custkey")
    )


# --------------------------------------------------------------------------
# doc_sanitize_normalize — HTML sanitization + section-title normalization
# + doc-id sanitization (§2.9 families) on injected dirty inputs
# --------------------------------------------------------------------------
_H_SAN = h64_sql("'san:' || CAST(doc_id AS VARCHAR)")


@query(
    "doc_sanitize_normalize",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             CASE WHEN {_H_SAN} % 3 = 0
               THEN '<div onclick=evil() href="javascript:x()">'
                    || '<script>bad()</script>ok</div>'
               ELSE '<p>plain</p>' END AS html,
             '  2.1) ' || upper(substr(text, 1, 40)) || '   extra  ' AS title,
             'Doc ' || CAST(doc_id AS VARCHAR) || ' ภาษาไทย #' AS raw_id
      FROM documents
    )
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(html, '(?is)<script[^>]*>.*?</script>', '', 'g'),
               '(?i)\\son\\w+\\s*=', ' data-blocked=', 'g'),
             '(?i)javascript:', '', 'g') AS clean_html,
           substr(trim(regexp_replace(
             regexp_replace(title, '^\\s*(\\d+(\\.\\d+)*|[A-Z])[\\.\\)]\\s*', ''),
             '\\s+', ' ', 'g')), 1, 150) AS norm_title,
           regexp_replace(
             regexp_replace(lower(trim(raw_id)), '\\s+', '_', 'g'),
             '[^a-z0-9_\\-฀-๿]', '', 'g') AS clean_id
    FROM t
    ORDER BY doc_id
    """,
)
def doc_sanitize_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9: script/event-handler/javascript: neutralization (duplicated
    twice in the reference), leading-numbering strip + 150-char truncate
    for section titles, and the thrice-duplicated doc-id sanitizer —
    one expression each, exercised on injected dirty inputs."""
    docs = load_table(spark, sf_dir, "documents")
    h = h64(F.concat(F.lit("san:"), F.col("doc_id").cast("string")))
    html = F.when(
        h % 3 == 0,
        F.lit(
            '<div onclick=evil() href="javascript:x()">'
            "<script>bad()</script>ok</div>"
        ),
    ).otherwise(F.lit("<p>plain</p>"))
    title = F.concat(
        F.lit("  2.1) "),
        F.upper(F.substring("text", 1, 40)),
        F.lit("   extra  "),
    )
    raw_id = F.concat(
        F.lit("Doc "), F.col("doc_id").cast("string"), F.lit(" ภาษาไทย #")
    )
    return docs.select(
        "doc_id",
        sanitize_html(html).alias("clean_html"),
        normalize_section_title(title).alias("norm_title"),
        sanitize_doc_id(raw_id).alias("clean_id"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# corpus_cms_heavy_hitters — Count-Min-Sketch frequency estimation, the
# frequency-sketch sibling of the KMV distinct sketch
# (events_kmv_distinct): d=4 seeded hash rows × w=256 buckets; every
# token occurrence increments one counter per row; a token's estimate is
# the MIN over its d counters (Cormac & Muthukrishnan 2005 — always an
# OVERestimate, never under). The sketch here is built FROM the exact
# per-token counts (explode d rows per distinct token, sum counts into
# (row, bucket)) — identical counters to streaming per-occurrence
# increments, one shuffle cheaper — then probed for the exact top-30
# tokens so the gate checks estimate >= exact and the exact collision
# structure of the seeded hashes, bit-for-bit in both engines.
#
# Scale: the sketch is d*w = 1024 rows regardless of corpus size — the
# point of CMS. Building it is one (row, bucket) shuffle over distinct
# tokens; at 100 TB the same plan holds (partial aggregation does the
# heavy lifting map-side), and the probe join broadcasts the 1024-row
# sketch.
# --------------------------------------------------------------------------
_CMS_W = 256
_CMS_TOPK = 30
_TOKS_CMS_SQL = "list_filter(string_split(text, ' '), x -> x <> '')"


@query(
    "corpus_cms_heavy_hitters",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS_CMS_SQL} AS toks FROM documents),
    occ AS (SELECT unnest(toks) AS tok FROM t),
    exact AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS n FROM occ GROUP BY tok
    ),
    rows_ AS (SELECT unnest([0, 1, 2, 3]) AS r),
    cells AS (
      SELECT r.r, {h64_sql("'cms' || CAST(r.r AS VARCHAR) || ':' || e.tok")}
               % {_CMS_W} AS bucket,
             e.tok, e.n
      FROM exact e, rows_ r
    ),
    cms AS (
      SELECT r, bucket, CAST(sum(n) AS BIGINT) AS counter
      FROM cells GROUP BY r, bucket
    ),
    probe AS (
      SELECT tok, n FROM exact ORDER BY n DESC, tok LIMIT {_CMS_TOPK}
    ),
    est AS (
      SELECT p.tok, p.n, min(c.counter) AS cms_estimate
      FROM probe p
      JOIN cells pc ON pc.tok = p.tok
      JOIN cms c ON c.r = pc.r AND c.bucket = pc.bucket
      GROUP BY p.tok, p.n
    )
    SELECT tok, n AS exact_count, CAST(cms_estimate AS BIGINT) AS cms_estimate
    FROM est
    ORDER BY exact_count DESC, tok
    """,
)
def corpus_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_ingestion_din_spark.functions.analysis import tokens

    docs = load_table(spark, sf_dir, "documents")
    exact = (
        docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    cells = cms_cells(exact, _CMS_W, "tok", "n")
    probe = exact.orderBy(F.desc("n"), "tok").limit(_CMS_TOPK)
    est = cms_estimate(
        probe.join(cells.select("tok", "r", "bucket"), "tok"), cms_grid(cells)
    )
    return est.select(
        "tok",
        F.col("n").alias("exact_count"),
        "cms_estimate",
    ).orderBy(F.desc("exact_count"), "tok")


# --------------------------------------------------------------------------
# corpus_length_percentiles — EXACT per-language length percentiles
# (p25/p50/p75/p95) by middle-rank selection over the sorted stratum
# (the same exact-median mechanism as blocks_sections' page-median font,
# generalized to arbitrary ranks) — no approx_percentile, whose sketch
# state is engine-specific and could never pass the hash gate. One
# shuffle on lang; rank windows reuse that partitioning.
# Rank convention: the lower-nearest rank ceil(p·n) clamped to [1, n] on
# both engines.
# --------------------------------------------------------------------------
_PCTS = (25, 50, 75, 95)


def _pct_rank_sql(p: int) -> str:
    return f"greatest(1, CAST(ceil(n * {p} / 100.0) AS BIGINT))"


@query(
    "corpus_length_percentiles",
    oracle=f"""
    WITH t AS (
      SELECT lang, CAST(n_chars AS BIGINT) AS len FROM documents
    ),
    ranked AS (
      SELECT lang, len,
             row_number() OVER (PARTITION BY lang ORDER BY len) AS rk,
             count(*) OVER (PARTITION BY lang) AS n
      FROM t
    )
    SELECT lang, CAST(max(n) AS BIGINT) AS n_docs,
           {", ".join(
             f"CAST(max(CASE WHEN rk = {_pct_rank_sql(p)} THEN len END) "
             f"AS BIGINT) AS p{p}" for p in _PCTS
           )}
    FROM ranked
    GROUP BY lang
    ORDER BY lang
    """,
)
def corpus_length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("lang", F.col("n_chars").cast("bigint").alias("len"))
    wp = W.partitionBy("lang")
    ranked = t.select(
        "lang",
        "len",
        F.row_number().over(wp.orderBy("len")).alias("rk"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )

    def pick(p: int):
        target = F.greatest(
            F.lit(1), F.ceil(F.col("n") * p / 100.0).cast("bigint")
        )
        return (
            F.max(F.when(F.col("rk") == target, F.col("len")))
            .cast("bigint")
            .alias(f"p{p}")
        )

    return (
        ranked.groupBy("lang")
        .agg(
            F.max("n").cast("bigint").alias("n_docs"),
            *[pick(p) for p in _PCTS],
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# events_anomaly_zscore — per-type z-score outliers: mean/std from
# decimal-exact sums (variance = (Σx² − (Σx)²/n)/(n−1) over
# DECIMAL(30,8) partials, so both engines compute the IDENTICAL double
# before the IEEE-exact sqrt/division), flag |z| > 3. The shape every
# metrics pipeline runs; one shuffle on event_type for the stats, the
# corpus re-scan joins the tiny stats table broadcast.
# --------------------------------------------------------------------------
@query(
    "events_anomaly_zscore",
    oracle="""
    WITH stats AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sx,
             CAST(sum(CAST(value AS DECIMAL(18,4))
                      * CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sxx
      FROM events GROUP BY event_type
    ),
    s2 AS (
      SELECT event_type, n, sx / n AS mean,
             sqrt((sxx - sx * sx / n) / (n - 1)) AS std
      FROM stats WHERE n > 1
    )
    SELECT e.event_id, e.event_type, e.value,
           (e.value - s.mean) / s.std AS z
    FROM events e JOIN s2 s ON s.event_type = e.event_type
    WHERE abs((e.value - s.mean) / s.std) > 3
    ORDER BY e.event_id
    """,
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    d = F.col("value").cast("decimal(18,4)")
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(d).cast("double").alias("sx"),
        F.sum(d * d).cast("double").alias("sxx"),
    )
    s2 = stats.filter(F.col("n") > 1).select(
        "event_type",
        (F.col("sx") / F.col("n")).alias("mean"),
        F.sqrt(
            (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
            / (F.col("n") - 1)
        ).alias("std"),
    )
    z = (F.col("value") - F.col("mean")) / F.col("std")
    return (
        ev.join(F.broadcast(s2), "event_type")
        .select("event_id", "event_type", "value", z.alias("z"))
        .filter(F.abs(F.col("z")) > 3)
        .orderBy("event_id")
    )


# --------------------------------------------------------------------------
# events_anomaly_mad — the ROBUST outlier gate next to the z-score one
# above: median / MAD (median absolute deviation) instead of mean /
# std, the estimator that survives the very outliers it hunts (one
# 1e6 spike drags a mean-based 3σ gate open; it moves a median not at
# all). Exact integer arithmetic end to end: values in cents via the
# DECIMAL conversion recipe, LOWER median at rank (n+1)//2 under
# (value, event_id) order — deterministic, no interpolation — and the
# flag is dev·10000 > 44478·MAD, the integer-scaled |x−med| >
# 3·1.4826·MAD (1.4826 = the normal-consistency constant, so the MAD
# gate calibrates to the same 3σ meaning). One row per event_type:
# median, MAD, MAD-flag count, and the z-score gate's count on the
# same rows — the robustness A/B in one relation.
#
# Measured (sf0.01, per type n≈2000): median ≈ 34-36, MAD ≈ 23-25,
# and the MAD gate flags ~3× MORE rows than the z gate (107-124 vs
# 33-41) — the textbook divergence on right-skewed data: the tail
# inflates σ, so the 3σ threshold widens itself while the MAD
# threshold holds, which is precisely the self-blinding failure mode
# a robust gate exists to remove.
#
# Scale: two window passes over one event_type shuffle for the two
# exact medians (the corpus_length_percentiles mechanism), then one
# broadcast-stats re-scan — same shape as the z-score gate.
# --------------------------------------------------------------------------
@query(
    "events_anomaly_mad",
    oracle="""
    WITH v AS (
      SELECT event_id, event_type,
             CAST(CAST(value AS DECIMAL(18,4)) * 100 AS BIGINT) AS vc,
             value
      FROM events
    ),
    med AS (
      SELECT event_type, vc AS med_c FROM (
        SELECT event_type, vc,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY vc, event_id) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM v
      ) WHERE rn = (n + 1) // 2
    ),
    dev AS (
      SELECT v.event_id, v.event_type, abs(v.vc - m.med_c) AS dev_c
      FROM v JOIN med m USING (event_type)
    ),
    mad AS (
      SELECT event_type, dev_c AS mad_c FROM (
        SELECT event_type, dev_c,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY dev_c, event_id) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM dev
      ) WHERE rn = (n + 1) // 2
    ),
    zs AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sx,
             CAST(sum(CAST(value AS DECIMAL(18,4))
                      * CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sxx
      FROM events GROUP BY event_type
    ),
    z2 AS (
      SELECT event_type, n, sx / n AS mean,
             sqrt((sxx - sx * sx / n) / (n - 1)) AS std
      FROM zs WHERE n > 1
    )
    SELECT d.event_type,
           CAST(any_value(z2.n) AS BIGINT) AS n,
           CAST(any_value(m.med_c) AS BIGINT) AS med_c,
           CAST(any_value(a.mad_c) AS BIGINT) AS mad_c,
           CAST(sum(CASE WHEN d.dev_c * 10000 > 44478 * a.mad_c
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_flag_mad,
           CAST(sum(CASE WHEN abs((v.value - z2.mean) / z2.std) > 3
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_flag_z
    FROM dev d
    JOIN v ON v.event_id = d.event_id
    JOIN med m ON m.event_type = d.event_type
    JOIN mad a ON a.event_type = d.event_type
    JOIN z2 ON z2.event_type = d.event_type
    GROUP BY d.event_type
    ORDER BY d.event_type
    """,
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_id",
        "event_type",
        (F.col("value").cast("decimal(18,4)") * 100)
        .cast("bigint")
        .alias("vc"),
        "value",
    )

    def lower_median(df: DataFrame, col: str, out: str) -> DataFrame:
        wr = W.partitionBy("event_type").orderBy(col, "event_id")
        wn = W.partitionBy("event_type")
        return (
            df.withColumn("rn", F.row_number().over(wr))
            .withColumn("n", F.count(F.lit(1)).over(wn))
            .filter(F.col("rn") == F.expr("(n + 1) DIV 2"))
            .select("event_type", F.col(col).alias(out))
        )

    med = lower_median(v, "vc", "med_c")
    dev = v.join(F.broadcast(med), "event_type").withColumn(
        "dev_c", F.abs(F.col("vc") - F.col("med_c"))
    )
    mad = lower_median(dev, "dev_c", "mad_c")
    d = F.col("value").cast("decimal(18,4)")
    zstats = (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(d).cast("double").alias("sx"),
            F.sum(d * d).cast("double").alias("sxx"),
        )
        .filter(F.col("n") > 1)
        .select(
            "event_type",
            "n",
            (F.col("sx") / F.col("n")).alias("mean"),
            F.sqrt(
                (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
                / (F.col("n") - 1)
            ).alias("std"),
        )
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .join(F.broadcast(zstats), "event_type")
        .groupBy("event_type")
        .agg(
            F.first("n").alias("n"),
            F.first("med_c").cast("bigint").alias("med_c"),
            F.first("mad_c").cast("bigint").alias("mad_c"),
            F.sum(
                F.when(
                    F.col("dev_c") * 10000 > 44478 * F.col("mad_c"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_flag_mad"),
            F.sum(
                F.when(
                    F.abs(
                        (F.col("value") - F.col("mean")) / F.col("std")
                    )
                    > 3,
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_flag_z"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# events_ewma_halving — integer EWMA (α = 1/2) per user in event-time
# order: e₀ = v₀, eₙ = (eₙ₋₁ + vₙ) // 2 on cent-quantized values — the
# classic streaming smoother in the one fixed-point form whose floor
# arithmetic both engines reproduce bit-exactly (a float α would gate
# on accumulated ULPs). The accumulator depends on every prior row, so
# (like pack_sequences / W5 chunking) it is not a window function: the
# engine runs the per-key mapInPandas walk, the oracle re-walks each
# user's stream with a RECURSIVE CTE, and EVERY row's smoothed value
# is hash-gated — 10k rows of pinned carry arithmetic, not a summary.
#
# Scale: one shuffle on user_id, sort within partitions, one Arrow
# pass with state carried across batches — the walker key bounds
# parallelism by user count, which at event scale is ample.
# --------------------------------------------------------------------------
@query(
    "events_ewma_halving",
    oracle="""
    WITH numbered AS MATERIALIZED (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             CAST(CAST(value AS DECIMAL(18,4)) * 100 AS BIGINT) AS vc,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    walk AS (
      WITH RECURSIVE w AS (
        SELECT user_id, event_id, ts_us, vc, rn, vc AS ewma_c
        FROM numbered WHERE rn = 1
        UNION ALL
        SELECT b.user_id, b.event_id, b.ts_us, b.vc, b.rn,
               (w.ewma_c + b.vc) // 2
        FROM w JOIN numbered b
          ON b.user_id = w.user_id AND b.rn = w.rn + 1
      )
      SELECT * FROM w
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(event_id AS BIGINT) AS event_id,
           CAST(ts_us AS BIGINT) AS ts_us,
           CAST(vc AS BIGINT) AS vc,
           CAST(ewma_c AS BIGINT) AS ewma_c
    FROM walk
    ORDER BY user_id, event_id
    """,
)
def events_ewma_halving(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        (F.col("value").cast("decimal(18,4)") * 100)
        .cast("bigint")
        .alias("vc"),
    )

    def walk(batches: Iterator) -> Iterator:
        import pandas as pd

        state = {"key": None, "ewma": 0}
        out: list[tuple] = []
        cols = ["user_id", "event_id", "ts_us", "vc", "ewma_c"]
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                if row.user_id != state["key"]:
                    state.update(key=row.user_id, ewma=int(row.vc))
                else:
                    # DuckDB's integer // truncates toward zero on
                    # negatives where Python floors — truncate to match
                    # the oracle (latent only: fixture values are >= 0)
                    acc = state["ewma"] + int(row.vc)
                    state["ewma"] = abs(acc) // 2 * (1 if acc >= 0 else -1)
                out.append(
                    (
                        int(row.user_id),
                        int(row.event_id),
                        int(row.ts_us),
                        int(row.vc),
                        state["ewma"],
                    )
                )
            if len(out) >= 10_000:
                yield pd.DataFrame(out, columns=cols)
                out = []
        yield pd.DataFrame(out, columns=cols)

    return (
        ev.repartition("user_id")
        .sortWithinPartitions("user_id", "ts_us", "event_id")
        .mapInPandas(
            walk,
            "user_id bigint, event_id bigint, ts_us bigint, vc bigint,"
            " ewma_c bigint",
        )
        .orderBy("user_id", "event_id")
    )


# --------------------------------------------------------------------------
# corpus_mg_heavy_hitters — Misra-Gries, the DETERMINISTIC heavy-hitter
# summary next to the Count-Min sketch above (CMS overestimates with
# randomized hashing; MG underestimates with NO randomness, which is
# why its walk and its merge can sit under a hash gate at all): k = 8
# counters maintained over each of 4 logical shards of the word stream
# (docs 0..99, (doc_id, position) order — MG is order-dependent, so
# the stream order IS part of the contract), then the Agarwal et al.
# 2012 mergeable-summaries rule: sum counters across shards and, if
# more than k survive, subtract the (k+1)-th largest combined count.
# Per surviving word the output pins the estimate, the exact count,
# the error, and the n/(k+1) guarantee; a trailing anti-join emits any
# word whose true count EXCEEDS the guarantee yet is missing from the
# summary — rows that must never exist (their absence is hash-pinned).
#
# Scale: per-shard state is k counters regardless of stream length
# (the mapInPandas walker yields 4×≤8 rows); the merge is driver-side
# control data; only the exact audit side scans the corpus.
# --------------------------------------------------------------------------
_MG_K = 8
_MG_SHARDS = 4
_MG_DOCS = 100


def _mg_oracle() -> str:
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKS_CMS_SQL}) AS w,
             generate_subscripts({_TOKS_CMS_SQL}, 1) AS pos
      FROM documents WHERE doc_id < {_MG_DOCS}
    ),
    numbered AS MATERIALIZED (
      SELECT doc_id % {_MG_SHARDS} AS shard, w,
             row_number() OVER (PARTITION BY doc_id % {_MG_SHARDS}
                                ORDER BY doc_id, pos) AS rn
      FROM toks
    ),
    walk AS MATERIALIZED (
      WITH RECURSIVE mg AS (
        SELECT shard, rn,
               [{{'w': w, 'c': CAST(1 AS BIGINT)}}] AS st
        FROM numbered WHERE rn = 1
        UNION ALL
        SELECT b.shard, b.rn,
          CASE
            WHEN len(list_filter(mg.st, s -> s.w = b.w)) > 0
              THEN list_transform(mg.st, s -> CASE WHEN s.w = b.w
                     THEN {{'w': s.w, 'c': s.c + 1}} ELSE s END)
            WHEN len(mg.st) < {_MG_K}
              THEN list_append(mg.st, {{'w': b.w, 'c': CAST(1 AS BIGINT)}})
            ELSE list_filter(
                   list_transform(mg.st, s -> {{'w': s.w, 'c': s.c - 1}}),
                   s -> s.c > 0)
          END
        FROM mg JOIN numbered b ON b.shard = mg.shard AND b.rn = mg.rn + 1
      )
      SELECT shard, st FROM (
        SELECT shard, st,
               row_number() OVER (PARTITION BY shard ORDER BY rn DESC)
                 AS rk
        FROM mg
      ) WHERE rk = 1
    ),
    combined AS MATERIALIZED (
      SELECT e.w, CAST(sum(e.c) AS BIGINT) AS c
      FROM walk, unnest(walk.st) t(e)
      GROUP BY e.w
    ),
    thr AS (
      SELECT CASE WHEN (SELECT count(*) FROM combined) > {_MG_K}
        THEN (SELECT c FROM combined
              ORDER BY c DESC, w LIMIT 1 OFFSET {_MG_K})
        ELSE 0 END AS t
    ),
    summary AS (
      SELECT w, c - thr.t AS est FROM combined CROSS JOIN thr
      WHERE c - thr.t > 0
    ),
    exact AS MATERIALIZED (
      SELECT w, CAST(count(*) AS BIGINT) AS true_cnt FROM toks GROUP BY w
    ),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM toks)
    SELECT CAST(-1 AS INT) AS shard, s.w AS word,
           CAST(s.est AS BIGINT) AS est,
           e.true_cnt, CAST(e.true_cnt - s.est AS BIGINT) AS err,
           CAST(nn.n // {_MG_K + 1} AS BIGINT) AS bound,
           (e.true_cnt - s.est) <= nn.n // {_MG_K + 1} AS within_bound,
           FALSE AS missed_heavy
    FROM summary s JOIN exact e ON e.w = s.w CROSS JOIN nn
    UNION ALL
    SELECT CAST(-1 AS INT), e.w, CAST(NULL AS BIGINT), e.true_cnt,
           CAST(NULL AS BIGINT),
           CAST(nn.n // {_MG_K + 1} AS BIGINT),
           CAST(NULL AS BOOLEAN), TRUE
    FROM exact e CROSS JOIN nn
    WHERE e.true_cnt > nn.n // {_MG_K + 1}
      AND e.w NOT IN (SELECT w FROM summary)
    UNION ALL
    SELECT CAST(walk.shard AS INT), t.e.w, CAST(t.e.c AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS BOOLEAN), FALSE
    FROM walk, unnest(walk.st) t(e)
    ORDER BY shard, missed_heavy, est DESC NULLS LAST, word
    """


@query("corpus_mg_heavy_hitters", oracle=_mg_oracle())
def corpus_mg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    from data_ingestion_din_spark.functions.analysis import tokens

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _MG_DOCS
    )
    stream = docs.select(
        (F.col("doc_id") % _MG_SHARDS).alias("shard"),
        "doc_id",
        F.posexplode(tokens(F.col("text"))).alias("pos", "w"),
    )

    def walk(batches: Iterator) -> Iterator:
        import pandas as pd

        state: dict = {"key": None, "mg": {}}
        out: list[tuple] = []

        def flush() -> None:
            for w, c in state["mg"].items():
                out.append((state["key"], w, c))
            state["mg"] = {}

        for pdf in batches:
            for row in pdf.itertuples(index=False):
                if row.shard != state["key"]:
                    if state["key"] is not None:
                        flush()
                    state["key"] = row.shard
                mg = state["mg"]
                w = row.w
                if w in mg:
                    mg[w] += 1
                elif len(mg) < _MG_K:
                    mg[w] = 1
                else:
                    for kk in list(mg):
                        mg[kk] -= 1
                        if mg[kk] == 0:
                            del mg[kk]
            # state carries across Arrow batches; flush only at key
            # change / end
        if state["key"] is not None:
            flush()
        import pandas as pd

        yield pd.DataFrame(out, columns=["shard", "w", "c"])

    summaries = (
        stream.repartition("shard")
        .sortWithinPartitions("shard", "doc_id", "pos")
        .mapInPandas(walk, "shard bigint, w string, c bigint")
        .collect()
    )
    shard_rows = local_frame(
        spark,
        [(int(r.shard), r.w, int(r.c)) for r in summaries],
        "shard int, word string, est bigint",
    ).select(
        "shard",
        "word",
        "est",
        F.lit(None).cast("bigint").alias("true_cnt"),
        F.lit(None).cast("bigint").alias("err"),
        F.lit(None).cast("bigint").alias("bound"),
        F.lit(None).cast("boolean").alias("within_bound"),
        F.lit(False).alias("missed_heavy"),
    )
    combined: dict[str, int] = {}
    for r in summaries:
        combined[r.w] = combined.get(r.w, 0) + int(r.c)
    if len(combined) > _MG_K:
        t = sorted(
            combined.items(), key=lambda kv: (-kv[1], kv[0])
        )[_MG_K][1]
    else:
        t = 0
    summary = {w: c - t for w, c in combined.items() if c - t > 0}
    exact = (
        stream.groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("true_cnt"))
        # lazy: the n collect below is the first consumer
        .localCheckpoint(eager=False)
    )
    n = int(
        exact.agg(F.sum("true_cnt").cast("bigint").alias("n")).first()[0]
    )
    bound = n // (_MG_K + 1)
    sdf = local_frame(
        spark, [(w, c) for w, c in summary.items()], "w string, est bigint"
    )
    hit = (
        sdf.join(exact, "w")
        .select(
            F.lit(-1).cast("int").alias("shard"),
            F.col("w").alias("word"),
            "est",
            "true_cnt",
            (F.col("true_cnt") - F.col("est")).cast("bigint").alias("err"),
            F.lit(bound).cast("bigint").alias("bound"),
            ((F.col("true_cnt") - F.col("est")) <= bound).alias(
                "within_bound"
            ),
            F.lit(False).alias("missed_heavy"),
        )
    )
    missed = (
        exact.filter(F.col("true_cnt") > bound)
        .join(sdf, "w", "left_anti")
        .select(
            F.lit(-1).cast("int").alias("shard"),
            F.col("w").alias("word"),
            F.lit(None).cast("bigint").alias("est"),
            "true_cnt",
            F.lit(None).cast("bigint").alias("err"),
            F.lit(bound).cast("bigint").alias("bound"),
            F.lit(None).cast("boolean").alias("within_bound"),
            F.lit(True).alias("missed_heavy"),
        )
    )
    return (
        hit.unionByName(missed)
        .unionByName(shard_rows)
        .orderBy(
            "shard", "missed_heavy", F.desc_nulls_last("est"), "word"
        )
    )


# --------------------------------------------------------------------------
# corpus_cms_width_grid — the CMS WIDTH knob measured, completing the
# sketch-knob grids (HLL registers ✓ events_hll_precision_grid,
# quantile bits-per-bin ✓ dq_quantile_sketch_grid, Bloom threshold ✓
# the t-sweep, MinHash b×r ✓, SimHash band width ✓ — CMS's w was the
# one sketch parameter still fixed by fiat at 256). One row per
# w ∈ {64, 256, 1024} at the production d=4: the top-30 probe's total
# overestimate mass, its per-mille share of the exact mass, the count
# of EXACT estimates (min-row collision-free), the worst single
# overestimate, and the standard ε·N guarantee rendered integer-safe
# as 3·N // w (3 > e, so the bound column is conservative in the same
# direction as the theorem; libm's e is the documented exclusion) with
# the count of probes violating it — which the Cormode-Muthukrishnan
# guarantee says should be ~0 at d=4 (failure prob (1/2)^4 per probe).
#
# The point of the grid: CMS error scales as 1/w (linear state for
# linear error — unlike HLL's 1/√m). Measured (sf0.01, ~2.8k distinct
# tokens): w=64 puts 64‰ overestimate mass on the top-30 (two probes
# carry it: max_over 886 of sum_over 1740; 28/30 still exact), while
# w=256 and w=1024 are ALREADY lossless on the probe set — at a
# 2.8k-token vocabulary, 4×256 counters leave heavy hitters
# collision-free with high probability, so the production w=256 is
# validated as "exact here, 1/w beyond"; zero bound violations at any
# width (the d=4 guarantee holds with room).
#
# Scale: the sketch is d·w rows regardless of corpus size; the three
# widths share ONE exact per-token aggregation (the grid adds columns
# and 3 tiny shuffles, not corpus scans).
# --------------------------------------------------------------------------
_CMSG_WS = (64, 256, 1024)


def _cms_grid_oracle() -> str:
    per_w = []
    for w in _CMSG_WS:
        per_w.append(
            f"""SELECT {w} AS w,
             (SELECT CAST(sum(n) AS BIGINT) FROM exact) AS n_total,
             CAST(sum(e.n) AS BIGINT) AS sum_exact_top,
             CAST(sum(e.est - e.n) AS BIGINT) AS sum_over,
             CAST(sum(e.est - e.n) * 1000 // sum(e.n) AS BIGINT)
               AS over_milli,
             CAST(sum(CASE WHEN e.est = e.n THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_exact_est,
             CAST(max(e.est - e.n) AS BIGINT) AS max_over,
             CAST(3 * (SELECT sum(n) FROM exact) // {w} AS BIGINT)
               AS bound_3n_w,
             CAST(sum(CASE WHEN e.est - e.n >
                    3 * (SELECT sum(n) FROM exact) // {w}
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_bound_violations
      FROM (
        SELECT p.tok, p.n, min(c.counter) AS est
        FROM probe p
        JOIN (
          SELECT r.r,
                 {h64_sql("'cms' || CAST(r.r AS VARCHAR) || ':' || e.tok")}
                   % {w} AS bucket,
                 e.tok
          FROM exact e, rows_ r
        ) pc ON pc.tok = p.tok
        JOIN (
          SELECT r, bucket, CAST(sum(n) AS BIGINT) AS counter
          FROM (
            SELECT r.r AS r,
                   {h64_sql("'cms' || CAST(r.r AS VARCHAR) || ':' || e.tok")}
                     % {w} AS bucket,
                   e.n
            FROM exact e, rows_ r
          ) GROUP BY r, bucket
        ) c ON c.r = pc.r AND c.bucket = pc.bucket
        GROUP BY p.tok, p.n
      ) e"""
        )
    body = "\n      UNION ALL\n      ".join(per_w)
    return f"""
    WITH t AS (SELECT doc_id, {_TOKS_CMS_SQL} AS toks FROM documents),
    occ AS (SELECT unnest(toks) AS tok FROM t),
    exact AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS n FROM occ GROUP BY tok
    ),
    rows_ AS (SELECT unnest([0, 1, 2, 3]) AS r),
    probe AS (
      SELECT tok, n FROM exact ORDER BY n DESC, tok LIMIT {_CMS_TOPK}
    )
    SELECT CAST(w AS INT) AS w, n_total, sum_exact_top, sum_over,
           over_milli, n_exact_est, max_over, bound_3n_w,
           n_bound_violations
    FROM ({body})
    ORDER BY w
    """


@query("corpus_cms_width_grid", oracle=_cms_grid_oracle())
def corpus_cms_width_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_ingestion_din_spark.functions.analysis import tokens

    docs = load_table(spark, sf_dir, "documents")
    exact = (
        docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .localCheckpoint(eager=False)  # three widths, one scan
    )
    n_total = exact.agg(F.sum("n").cast("bigint").alias("n_total"))
    probe = exact.orderBy(F.desc("n"), "tok").limit(_CMS_TOPK)
    # one hash per (r, tok), shared by all three widths
    base_cells = cms_rows(exact, "tok", "n").withColumn("h", cms_hash())
    grid = None
    for w in _CMSG_WS:
        cells = base_cells.withColumn("bucket", cms_bucket(F.col("h"), w))
        est = cms_estimate(
            probe.join(cells.select("tok", "r", "bucket"), "tok"),
            cms_grid(cells),
            name="est",
        )
        row = (
            est.crossJoin(n_total)
            .agg(
                F.first("n_total").alias("n_total"),
                F.sum("n").cast("bigint").alias("sum_exact_top"),
                F.sum(F.col("est") - F.col("n"))
                .cast("bigint")
                .alias("sum_over"),
                F.sum(
                    F.when(F.col("est") == F.col("n"), 1).otherwise(0)
                )
                .cast("bigint")
                .alias("n_exact_est"),
                F.max(F.col("est") - F.col("n"))
                .cast("bigint")
                .alias("max_over"),
                F.sum(
                    F.when(
                        F.col("est") - F.col("n")
                        > F.expr(f"3 * n_total DIV {w}"),
                        1,
                    ).otherwise(0)
                )
                .cast("bigint")
                .alias("n_bound_violations"),
            )
            .select(
                F.lit(w).cast("int").alias("w"),
                "n_total",
                "sum_exact_top",
                "sum_over",
                F.expr("sum_over * 1000 DIV sum_exact_top")
                .cast("bigint")
                .alias("over_milli"),
                "n_exact_est",
                "max_over",
                F.expr(f"3 * n_total DIV {w}")
                .cast("bigint")
                .alias("bound_3n_w"),
                "n_bound_violations",
            )
        )
        grid = row if grid is None else grid.unionByName(row)
    return grid.orderBy("w")


# --------------------------------------------------------------------------
# events_cusum_changepoint — CUSUM drift detection (Page 1954), the
# anomaly-family member the spike detectors cannot replace: the
# z-score/MAD gates flag single outlier cells, but a small PERSISTENT
# shift (a partner doubling its event rate, a source half-silenced)
# stays under any per-cell threshold while its cumulative sum grows
# without bound — CUSUM is the sequential statistic built for exactly
# that. Integer form over per-type hourly counts in milli-units:
#
#   S⁺_t = max(0, S⁺_{t-1} + x_t·1000 − μ_milli − k_milli)   (upward)
#   S⁻_t = max(0, S⁻_{t-1} + μ_milli − k_milli − x_t·1000)   (downward)
# with the IN-CONTROL mean μ taken over the pre-shift hours only (a
# whole-series mean absorbs the drift it is supposed to detect —
# measured: it inflated μ by 21% and halved sensitivity), the
# allowance k = μ // 4 (the textbook δ/2 for the 0.5·μ shift this
# audit targets) and threshold h = 5·μ_milli ≈ 5σ√μ on the fixture's
# Poisson-like counts. The (k, h) pair was SIMULATED before shipping:
# (μ/20, 2μ) alarmed on 40% of in-control hours; (μ/4, 5μ) yields
# ZERO raw alarms and planted detection 6-15 hours after the shift.
#
# Detection is only meaningful against a KNOWN shift, so the query
# runs the identical walk on two series (the vamana_clustered_ab
# playbook): 'raw' — the fixture's stationary hourly counts, where the
# honest expectation is few-to-no alarms — and 'planted', the same
# counts with +50% added to every hour from Jan 16 on (a deterministic
# transform both engines apply), where the walk must alarm shortly
# after the shift. One row per (series, type): the per-type mean,
# alarm counts in both directions, the first upward-alarm hour rank,
# and the detection delay vs the planted shift rank — the "how fast
# does CUSUM see a 1.5× drift" number, measured.
#
# Scale: hourly rollup is one (type, hour) shuffle; the walk is a
# per-type Arrow pass over ~720 rows/type (the EWMA walker shape); the
# oracle re-walks with a recursive CTE.
# --------------------------------------------------------------------------
_CUSUM_SHIFT_DAY = "2024-01-16"  # planted +50% from here on


def _cusum_oracle() -> str:
    return f"""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hr,
             CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY event_type, date_trunc('hour', ts)
    ),
    series AS (
      SELECT 'raw' AS series, event_type, hr, x FROM hourly
      UNION ALL
      SELECT 'planted', event_type, hr,
             CASE WHEN hr >= TIMESTAMP '{_CUSUM_SHIFT_DAY}'
                  THEN x + x // 2 ELSE x END
      FROM hourly
    ),
    numbered AS MATERIALIZED (
      SELECT series, event_type, hr, x,
             row_number() OVER (PARTITION BY series, event_type
                                ORDER BY hr) AS rn
      FROM series
    ),
    mu AS (
      SELECT series, event_type,
             CAST(sum(CASE WHEN hr < TIMESTAMP '2024-01-16'
                      THEN x * 1000 END)
                  // count(CASE WHEN hr < TIMESTAMP '2024-01-16'
                           THEN 1 END) AS BIGINT) AS mu_milli,
             CAST(count(*) AS BIGINT) AS n_hours
      FROM numbered GROUP BY series, event_type
    ),
    walk AS (
      WITH RECURSIVE w AS (
        SELECT n.series, n.event_type, n.rn,
               greatest(CAST(0 AS BIGINT),
                 n.x * 1000 - m.mu_milli - m.mu_milli // 4) AS s_up,
               greatest(CAST(0 AS BIGINT),
                 m.mu_milli - m.mu_milli // 4 - n.x * 1000) AS s_dn
        FROM numbered n JOIN mu m
          ON m.series = n.series AND m.event_type = n.event_type
        WHERE n.rn = 1
        UNION ALL
        SELECT b.series, b.event_type, b.rn,
               greatest(CAST(0 AS BIGINT),
                 w.s_up + b.x * 1000 - m.mu_milli - m.mu_milli // 4),
               greatest(CAST(0 AS BIGINT),
                 w.s_dn + m.mu_milli - m.mu_milli // 4 - b.x * 1000)
        FROM w
        JOIN numbered b ON b.series = w.series
          AND b.event_type = w.event_type AND b.rn = w.rn + 1
        JOIN mu m ON m.series = b.series
          AND m.event_type = b.event_type
      )
      SELECT * FROM w
    ),
    shift AS (
      SELECT series, event_type,
             coalesce(min(CASE WHEN hr >= TIMESTAMP '{_CUSUM_SHIFT_DAY}'
                           THEN rn END), 0) AS shift_rn
      FROM numbered GROUP BY series, event_type
    )
    SELECT w.series, w.event_type, m.n_hours, m.mu_milli,
           CAST(sum(CASE WHEN w.s_up > 5 * m.mu_milli THEN 1 ELSE 0 END)
                AS BIGINT) AS n_alarms_up,
           CAST(sum(CASE WHEN w.s_dn > 5 * m.mu_milli THEN 1 ELSE 0 END)
                AS BIGINT) AS n_alarms_dn,
           CAST(coalesce(min(CASE WHEN w.s_up > 5 * m.mu_milli
                             THEN w.rn END), 0) AS BIGINT)
             AS first_up_rn,
           CAST(CASE WHEN w.series = 'planted'
                  AND min(CASE WHEN w.s_up > 5 * m.mu_milli
                          THEN w.rn END) IS NOT NULL
                THEN min(CASE WHEN w.s_up > 5 * m.mu_milli
                         THEN w.rn END) - any_value(sh.shift_rn)
                ELSE 0 END AS BIGINT) AS detect_delay
    FROM walk w
    JOIN mu m ON m.series = w.series AND m.event_type = w.event_type
    JOIN shift sh ON sh.series = w.series
      AND sh.event_type = w.event_type
    GROUP BY w.series, w.event_type, m.n_hours, m.mu_milli
    ORDER BY w.series, w.event_type
    """


@query("events_cusum_changepoint", oracle=_cusum_oracle())
def events_cusum_changepoint(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from collections.abc import Iterator

    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
        .localCheckpoint(eager=False)  # both series read it
    )
    shift_ts = F.lit(_CUSUM_SHIFT_DAY).cast("timestamp")
    series = hourly.select(
        F.lit("raw").alias("series"), "event_type", "hr", "x"
    ).unionByName(
        hourly.select(
            F.lit("planted").alias("series"),
            "event_type",
            "hr",
            F.when(
                F.col("hr") >= shift_ts,
                F.col("x") + F.expr("x DIV 2"),
            )
            .otherwise(F.col("x"))
            .alias("x"),
        )
    )
    from pyspark.sql.window import Window as W

    numbered = series.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("series", "event_type").orderBy("hr")
        ),
    ).localCheckpoint(eager=False)  # three consumers: mu, shift, walk
    mu = numbered.groupBy("series", "event_type").agg(
        F.expr(
            "CAST(sum(CASE WHEN hr < TIMESTAMP '2024-01-16'"
            " THEN x * 1000 END)"
            " DIV count(CASE WHEN hr < TIMESTAMP '2024-01-16'"
            " THEN 1 END) AS BIGINT)"
        ).alias("mu_milli"),
        F.count(F.lit(1)).cast("bigint").alias("n_hours"),
    )
    shift = numbered.groupBy("series", "event_type").agg(
        F.coalesce(
            F.min(F.when(F.col("hr") >= shift_ts, F.col("rn"))),
            F.lit(0),
        )
        .cast("bigint")
        .alias("shift_rn")
    )
    walked_in = numbered.join(mu, ["series", "event_type"]).select(
        "series", "event_type", "rn", "x", "mu_milli"
    )

    def walk(batches: Iterator) -> Iterator:
        import pandas as pd

        state = {"key": None, "up": 0, "dn": 0}
        out: list[tuple] = []
        cols = ["series", "event_type", "rn", "s_up", "s_dn"]
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                key = (row.series, row.event_type)
                if key != state["key"]:
                    state.update(key=key, up=0, dn=0)
                k = int(row.mu_milli) // 4
                state["up"] = max(
                    0, state["up"] + int(row.x) * 1000 - int(row.mu_milli) - k
                )
                state["dn"] = max(
                    0, state["dn"] + int(row.mu_milli) - k - int(row.x) * 1000
                )
                out.append(
                    (row.series, row.event_type, int(row.rn),
                     state["up"], state["dn"])
                )
            if len(out) >= 10_000:
                yield pd.DataFrame(out, columns=cols)
                out = []
        yield pd.DataFrame(out, columns=cols)

    walked = (
        walked_in.repartition("series", "event_type")
        .sortWithinPartitions("series", "event_type", "rn")
        .mapInPandas(
            walk,
            "series string, event_type string, rn bigint,"
            " s_up bigint, s_dn bigint",
        )
    )
    agg = (
        walked.join(mu, ["series", "event_type"])
        .groupBy("series", "event_type", "n_hours", "mu_milli")
        .agg(
            F.sum(
                F.when(F.col("s_up") > 5 * F.col("mu_milli"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_alarms_up"),
            F.sum(
                F.when(F.col("s_dn") > 5 * F.col("mu_milli"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_alarms_dn"),
            F.coalesce(
                F.min(
                    F.when(
                        F.col("s_up") > 5 * F.col("mu_milli"), F.col("rn")
                    )
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("first_up_rn"),
        )
    )
    return (
        agg.join(shift, ["series", "event_type"])
        .select(
            "series",
            "event_type",
            "n_hours",
            "mu_milli",
            "n_alarms_up",
            "n_alarms_dn",
            "first_up_rn",
            F.when(
                (F.col("series") == "planted") & (F.col("first_up_rn") > 0),
                F.col("first_up_rn") - F.col("shift_rn"),
            )
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("detect_delay"),
        )
        .orderBy("series", "event_type")
    )


# --------------------------------------------------------------------------
# events_dispersion_audit — the index-of-dispersion (variance-to-mean,
# Fisher 1950) per event type over hourly counts: the assumption audit
# behind every count-based detector in this repo (the z-gate's sigma,
# CUSUM's k = mu/4 and h = 5*mu were sized on "hourly counts are
# Poisson-like, var ~= mean" — this query measures whether they are).
# Exact integer form: D_milli = 1000 * n * (n*Sxx - Sx^2)
# // (Sx * n * (n-1)) simplified to (n*Sxx - Sx*Sx) * 1000
# // (Sx * (n-1)) — population-free sample variance over mean, no
# doubles anywhere. Verdict columns: dispersion per-mille (1000 =
# exactly Poisson), over/under flags outside the [800, 1250] band
# (the practical equivalence interval; a CV-style exact band is not
# derivable without chi-square quantiles, which are libm — the
# documented exclusion class, so the band is a declared constant).
#
# Measured (sf0.01): all five types sit at 737-870 per-mille — hourly
# counts are mildly UNDER-dispersed vs Poisson (the fixture's uniform
# generator spreads events more evenly than a Poisson process), with
# purchase (737) and signup (793) crossing the 800 flag line. The
# CUSUM/z thresholds sized on var = mean are therefore conservative
# here — alarms rarer than the Poisson design point, consistent with
# the CUSUM raw series' zero alarms.
#
# Scale: one (type, hour) shuffle + a 5-row rollup.
# --------------------------------------------------------------------------
_DISP_LO, _DISP_HI = 800, 1250


@query(
    "events_dispersion_audit",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hr,
             CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY event_type, date_trunc('hour', ts)
    ),
    st AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(x * x) AS BIGINT) AS sxx
      FROM hourly GROUP BY event_type
    )
    SELECT event_type, n,
           CAST(sx * 1000 // n AS BIGINT) AS mean_milli,
           CAST((n * sxx - sx * sx) * 1000 // (sx * (n - 1)) AS BIGINT)
             AS dispersion_milli,
           (n * sxx - sx * sx) * 1000 // (sx * (n - 1)) > {_DISP_HI}
             AS over_dispersed,
           (n * sxx - sx * sx) * 1000 // (sx * (n - 1)) < {_DISP_LO}
             AS under_dispersed
    FROM st ORDER BY event_type
    """,
)
def events_dispersion_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    st = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    disp = F.expr("(n * sxx - sx * sx) * 1000 DIV (sx * (n - 1))")
    return st.select(
        "event_type",
        "n",
        F.expr("sx * 1000 DIV n").cast("bigint").alias("mean_milli"),
        disp.cast("bigint").alias("dispersion_milli"),
        (disp > _DISP_HI).alias("over_dispersed"),
        (disp < _DISP_LO).alias("under_dispersed"),
    ).orderBy("event_type")
