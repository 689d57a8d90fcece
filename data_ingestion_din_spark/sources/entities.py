"""Reference-shaped entity tables (FIXTURES.md §B) derived deterministically
from the driver's ``documents`` parquet — in BOTH engines.

The reference's most distinctive operators run over ``text_blocks`` /
``table_blocks`` entities (ingestion/schema.py:101-331), but the driver
fixtures only ship scalar tables. This module derives those entities from
``documents`` with closed-form, hash-seeded expressions implemented twice:
once as Spark Columns (:func:`text_blocks`, :func:`table_blocks`) and once
as DuckDB CTE SQL (:data:`TEXT_BLOCKS_CTES`, :data:`TABLE_BLOCKS_CTES`) —
every derived value is integer/md5 arithmetic, so the two engines produce
bit-identical entity tables and the block/table operators become
oracle-checkable end-to-end.

Geometry model for text blocks (exercises every §2.6 code path):
- 8 tokens per block, 12 blocks per page, 6 lines × 2 columns
  (pairs share a y-band → reading-order W1 must interleave columns);
- per-page "dense" flag: line spacing 18 px (adjacent-merge W4 fires)
  vs 120 px (always breaks);
- ~1/17 blocks get font 18 vs body 10-11 → heading detection W2/A1;
- ~1/19 blocks are moved into the top header band → noise filter F2.

Table model (exercises §2.3-2.5 table paths): per doc 2 tables with
Thai / English / empty headers (header election W7), a junk row before the
header (election argmax), embedded section rows (sub-table split W6),
ragged + empty cells (pad/prune F4), money cells with comma grouping,
``(...)`` negatives and Thai currency suffix (parse F10), duplicated row
content across tables (dedup J2) and camelot/vision sources sharing pages
(conflict anti-join J1, trust gate A2).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_din_spark.functions.hashing import h64, h64_sql
from data_ingestion_din_spark.operators.colocate import staged
from data_ingestion_din_spark.sources.tables import load_table, scan_parallel

# --------------------------------------------------------------------------
# text_blocks
# --------------------------------------------------------------------------

TOKENS_PER_BLOCK = 8
BLOCKS_PER_PAGE = 12
PAGE_HEIGHT = 842.0


# Entities are staged tables: the rows-as-arrays construction is a deep
# expression tree (md5 per cell inside nested transforms); downstream
# higher-order ops reference `rows` many times and Catalyst's project
# collapsing would inline the whole tree per reference (exponential
# analysis time). An eager localCheckpoint materializes each entity once
# per (session, sf_dir) and truncates the lineage.
@staged("text_blocks", setup={"entity_tables": ()})
def text_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive the ``text_blocks`` entity table (FIXTURES.md B.1 subset:
    id, doc_id, page, content, bbox, font_size, intent) — staged like
    ``table_blocks`` (one md5-heavy derivation per (session, sf_dir),
    then every consumer reads the materialized table)."""
    return _text_blocks(spark, sf_dir).localCheckpoint(eager=True)


def _text_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = scan_parallel(load_table(spark, sf_dir, "documents"))
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    n_blocks = F.greatest(
        F.ceil(F.size(toks) / F.lit(float(TOKENS_PER_BLOCK))).cast("bigint"),
        F.lit(1),
    )
    b = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        toks.alias("toks"),
        F.explode(F.sequence(F.lit(0).cast("bigint"), n_blocks - 1)).alias("idx"),
    )
    content = F.concat_ws(
        " ",
        F.slice(
            F.col("toks"),
            (F.col("idx") * TOKENS_PER_BLOCK + 1).cast("int"),
            TOKENS_PER_BLOCK,
        ),
    )
    h = h64(F.concat(F.col("doc_id"), F.lit(":"), F.col("idx").cast("string")))
    page = (F.floor(F.col("idx") / BLOCKS_PER_PAGE) + 1).cast("int")
    g = b.select(
        "doc_id",
        "idx",
        content.alias("content"),
        h.alias("h"),
        page.alias("page"),
        F.floor((F.col("idx") % BLOCKS_PER_PAGE) / 2).cast("bigint").alias("pair"),
        (F.col("idx") % 2).alias("colm"),
    )
    ph = h64(F.concat(F.col("doc_id"), F.lit(":p"), F.col("page").cast("string")))
    dense = (ph % 2) == 0
    noise_seed = (F.col("h") % 19) == 0
    y0 = (
        F.when(noise_seed, 10 + F.col("h") % 4)
        .otherwise(
            80
            + F.col("pair") * F.when(dense, F.lit(18)).otherwise(F.lit(120))
            + F.col("h") % 4
        )
        .cast("double")
    )
    x0 = (50 + F.col("colm") * 260 + F.col("h") % 9).cast("double")
    font = (
        F.when(F.col("h") % 17 == 0, F.lit(36))
        .otherwise(20 + F.col("h") % 3)
        .cast("double")
        / 2
    )
    intent = F.filter(
        F.array(F.lit("table"), F.lit("join"), F.lit("scan")),
        lambda k: F.col("content").contains(k),
    )
    return g.select(
        F.concat(F.lit("txt_"), F.lpad(F.col("idx").cast("string"), 4, "0")).alias(
            "id"
        ),
        "doc_id",
        "page",
        "content",
        F.array(x0, y0, x0 + 230, y0 + 14).alias("bbox"),
        font.alias("font_size"),
        intent.alias("intent"),
    )


# DuckDB twin: CTE chain ending in a `text_blocks` relation with scalar
# geometry columns (x0, y0; x1 = x0 + 230, y1 = y0 + 14).
_H_BLOCK = h64_sql("doc_id || ':' || CAST(idx AS VARCHAR)")
_H_PAGE = h64_sql("doc_id || ':p' || CAST(page AS VARCHAR)")

TEXT_BLOCKS_CTES = f"""
tb_base AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
),
tb_idx AS (
  SELECT doc_id, toks,
         unnest(range(0, greatest(CAST(ceil(len(toks) / {TOKENS_PER_BLOCK}.0)
                                       AS BIGINT), 1))) AS idx
  FROM tb_base
),
tb_geo AS (
  SELECT doc_id, idx,
         array_to_string(
           list_slice(toks, idx * {TOKENS_PER_BLOCK} + 1,
                      idx * {TOKENS_PER_BLOCK} + {TOKENS_PER_BLOCK}), ' '
         ) AS content,
         {_H_BLOCK} AS h,
         CAST(idx // {BLOCKS_PER_PAGE} + 1 AS INT) AS page,
         (idx % {BLOCKS_PER_PAGE}) // 2 AS pair,
         idx % 2 AS colm
  FROM tb_idx
),
tb_geo2 AS (
  SELECT *,
         {_H_PAGE} % 2 = 0 AS dense,
         h % 19 = 0 AS noise_seed
  FROM tb_geo
),
text_blocks AS MATERIALIZED (
  SELECT 'txt_' || lpad(CAST(idx AS VARCHAR), 4, '0') AS id,
         doc_id, page, content,
         CAST(CASE WHEN noise_seed THEN 10 + h % 4
              ELSE 80 + pair * (CASE WHEN dense THEN 18 ELSE 120 END) + h % 4
              END AS DOUBLE) AS y0,
         CAST(50 + colm * 260 + h % 9 AS DOUBLE) AS x0,
         CAST(CASE WHEN h % 17 = 0 THEN 36 ELSE 20 + h % 3 END AS DOUBLE) / 2
           AS font_size,
         list_filter(['table', 'join', 'scan'], k -> contains(content, k))
           AS intent
  FROM tb_geo2
)"""


# --------------------------------------------------------------------------
# table_blocks
# --------------------------------------------------------------------------

HEADERS_TH = ("วันที่", "รายการ", "ถอน", "ฝาก", "คงเหลือ")
HEADERS_EN = ("Date", "Description", "Debit", "Credit", "Balance")
DESC_WORDS = ("transfer", "fee", "payment", "invoice")
TABLES_PER_DOC = 2
WIDTH = 5


def _money(ch: Column) -> Column:
    """Deterministic money string from a hash: integer-only construction
    (no float formatting) — '1,234.56', '(987.65)', '12.03 บาท' forms."""
    cents = ch % 1_000_000
    ip = F.floor(cents / 100).cast("bigint").cast("string")
    fr = F.lpad((cents % 100).cast("string"), 2, "0")
    grouped = F.when(
        F.length(ip) == 4,
        F.concat(F.substring(ip, 1, 1), F.lit(","), F.substring(ip, 2, 3)),
    ).otherwise(ip)
    base = F.concat(grouped, F.lit("."), fr)
    base = F.when(ch % 7 == 0, F.concat(F.lit("("), base, F.lit(")"))).otherwise(base)
    return F.when(ch % 5 == 0, F.concat(base, F.lit(" บาท"))).otherwise(base)


def _money_sql(ch: str) -> str:
    return f"""(
      CASE WHEN ({ch}) % 5 = 0 THEN m.base || ' บาท' ELSE m.base END
    )""".replace(
        "m.base",
        f"""(CASE WHEN ({ch}) % 7 = 0
          THEN '(' || m.num || ')' ELSE m.num END)""".replace(
            "m.num",
            f"""((CASE WHEN length(CAST(({ch}) % 1000000 // 100 AS VARCHAR)) = 4
               THEN substr(CAST(({ch}) % 1000000 // 100 AS VARCHAR), 1, 1) || ','
                    || substr(CAST(({ch}) % 1000000 // 100 AS VARCHAR), 2, 3)
               ELSE CAST(({ch}) % 1000000 // 100 AS VARCHAR) END)
              || '.' || lpad(CAST(({ch}) % 100 AS VARCHAR), 2, '0'))""",
        ),
    )


def _cell(doc: Column, tsrc: Column, r: Column, c: Column) -> Column:
    """One data cell: column 1 date, 2 description, 3-4 money-or-empty,
    5 money."""
    ch = h64(
        F.concat_ws(
            ":",
            doc,
            tsrc.cast("string"),
            r.cast("string"),
            c.cast("string"),
        )
    )
    date = F.concat(
        F.lit("2024-"),
        F.lpad((1 + ch % 12).cast("string"), 2, "0"),
        F.lit("-"),
        F.lpad((1 + ch % 28).cast("string"), 2, "0"),
    )
    desc = F.element_at(
        F.array(*[F.lit(w) for w in DESC_WORDS]), (ch % 4 + 1).cast("int")
    )
    money = _money(ch)
    maybe_money = F.when(ch % 11 == 0, F.lit("")).otherwise(money)
    return (
        F.when(c == 1, date)
        .when(c == 2, desc)
        .when(c == 5, money)
        .otherwise(maybe_money)
    )


def _cell_sql(ch: str) -> str:
    return f"""CASE
      WHEN c = 1 THEN '2024-' || lpad(CAST(1 + ({ch}) % 12 AS VARCHAR), 2, '0')
                 || '-' || lpad(CAST(1 + ({ch}) % 28 AS VARCHAR), 2, '0')
      WHEN c = 2 THEN (['transfer', 'fee', 'payment', 'invoice'])[({ch}) % 4 + 1]
      WHEN c = 5 THEN {_money_sql(ch)}
      WHEN ({ch}) % 11 = 0 THEN ''
      ELSE {_money_sql(ch)}
    END"""


@staged("table_blocks", setup={"entity_tables": ()})
def table_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive the ``table_blocks`` entity table (FIXTURES.md B.2 subset:
    id, doc_id, page, columns, rows, source, numeric_trust,
    source_priority). Materialized once per (session, sf_dir)."""
    return _table_blocks(spark, sf_dir).localCheckpoint(eager=True)


def _table_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = scan_parallel(load_table(spark, sf_dir, "documents"))
    b = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.explode(F.sequence(F.lit(0), F.lit(TABLES_PER_DOC))).alias("t"),
    )
    th = h64(F.concat(F.col("doc_id"), F.lit(":t"), F.col("t").cast("string")))
    # t = TABLES_PER_DOC is a degenerate 1×1 mini-table emitted for ~1/4 of
    # docs — junk-filter (F5) fodder
    b = b.select("doc_id", "t", th.alias("th")).filter(
        (F.col("t") < TABLES_PER_DOC) | (F.col("th") % 4 == 0)
    )
    # duplicate-row-content pairs: table 1 reuses table 0's row content
    tsrc = F.when((F.col("t") == 1) & (F.col("th") % 4 == 0), F.lit(0)).otherwise(
        F.col("t")
    )
    sh = h64(F.concat(F.col("doc_id"), F.lit(":t"), tsrc.cast("string")))
    b = b.select("doc_id", "t", "th", tsrc.alias("tsrc"), sh.alias("sh"))

    mode = F.col("th") % 3  # 0=thai header, 1=english, 2=empty (election)
    src_mode = F.col("sh") % 3
    n_rows = (3 + F.col("sh") % 4).cast("int")
    doc, tsrc_c = F.col("doc_id"), F.col("tsrc")

    def data_row(r: Column) -> Column:
        rh = h64(F.concat_ws(":", doc, tsrc_c.cast("string"), r.cast("string")))
        full = F.transform(
            F.sequence(F.lit(1), F.lit(WIDTH)),
            lambda c: _cell(doc, tsrc_c, r, c),
        )
        section_row = F.concat(
            F.array(F.concat(F.lit("Section "), r.cast("string"))),
            F.array_repeat(F.lit(""), WIDTH - 1),
        )
        ragged = F.slice(full, 1, WIDTH - 1)
        return (
            F.when(rh % 6 == 0, section_row)
            .when(rh % 5 == 0, ragged)
            .otherwise(full)
        )

    data_rows = F.transform(F.sequence(F.lit(1), n_rows), data_row)
    header_en = F.array(*[F.lit(hdr) for hdr in HEADERS_EN])
    junk_row = F.concat(
        F.array(F.lit(""), F.lit("x")), F.array_repeat(F.lit(""), WIDTH - 2)
    )
    # empty-header tables carry their header (and sometimes a junk row
    # above it) as leading data rows → W7 election must recover it
    prefix = F.when(
        src_mode == 2,
        F.when(F.col("sh") % 2 == 0, F.array(junk_row, header_en)).otherwise(
            F.array(header_en)
        ),
    ).otherwise(F.array().cast("array<array<string>>"))
    junk = F.col("t") == TABLES_PER_DOC
    rows = F.when(
        junk, F.array(F.array(F.concat(F.lit("x"), F.col("doc_id"))))
    ).otherwise(F.concat(prefix, data_rows))

    columns = (
        F.when(junk, F.array(F.lit("note")))
        .when(mode == 0, F.array(*[F.lit(hdr) for hdr in HEADERS_TH]))
        .when(mode == 1, header_en)
        .otherwise(F.array_repeat(F.lit(""), WIDTH))
    )
    source = F.when(F.col("th") % 3 == 0, F.lit("vision")).otherwise(
        F.lit("camelot")
    )
    return b.select(
        F.concat(F.lit("tbl_"), F.col("doc_id"), F.lit("_"), F.col("t")).alias(
            "id"
        ),
        "doc_id",
        (1 + F.col("th") % 2).cast("int").alias("page"),
        columns.alias("columns"),
        rows.alias("rows"),
        source.alias("source"),
        F.when(source == "vision", F.lit("low")).otherwise(F.lit("high")).alias(
            "numeric_trust"
        ),
        # vision ran first in the reference → wins first-seen dedup (J2)
        F.when(source == "vision", F.lit(0)).otherwise(F.lit(1)).alias(
            "source_priority"
        ),
    )


_TH = h64_sql("doc_id || ':t' || CAST(t AS VARCHAR)")
_SH = h64_sql("doc_id || ':t' || CAST(tsrc AS VARCHAR)")
_RH = h64_sql("doc_id || ':' || CAST(tsrc AS VARCHAR) || ':' || CAST(r AS VARCHAR)")
_CH = h64_sql(
    "doc_id || ':' || CAST(tsrc AS VARCHAR) || ':' || CAST(r AS VARCHAR)"
    " || ':' || CAST(c AS VARCHAR)"
)
_HDR_TH = "['" + "', '".join(HEADERS_TH) + "']"
_HDR_EN = "['" + "', '".join(HEADERS_EN) + "']"

TABLE_BLOCKS_CTES = f"""
xt_seed AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, unnest([0, 1, 2]) AS t
  FROM documents
),
xt_h AS (
  SELECT doc_id, t, {_TH} AS th FROM xt_seed
),
xt_src AS (
  SELECT doc_id, t, th,
         CASE WHEN t = 1 AND th % 4 = 0 THEN 0 ELSE t END AS tsrc
  FROM xt_h
  WHERE t < 2 OR th % 4 = 0
),
xt_sh AS (
  SELECT doc_id, t, th, tsrc, {_SH} AS sh FROM xt_src
),
xt_rows AS MATERIALIZED (
  SELECT doc_id, t, th, tsrc, sh,
         list_concat(
           CASE WHEN sh % 3 = 2 THEN
             CASE WHEN sh % 2 = 0
                  THEN [['', 'x', '', '', ''], {_HDR_EN}]
                  ELSE [{_HDR_EN}] END
           ELSE CAST([] AS VARCHAR[][]) END,
           list_transform(range(1, CAST(3 + sh % 4 AS BIGINT) + 1), r ->
             CASE
               WHEN ({_RH}) % 6 = 0
                 THEN ['Section ' || CAST(r AS VARCHAR), '', '', '', '']
               WHEN ({_RH}) % 5 = 0
                 THEN list_transform(range(1, 5), c -> {_cell_sql(_CH)})
               ELSE list_transform(range(1, 6), c -> {_cell_sql(_CH)})
             END)
         ) AS rows
  FROM xt_sh
),
table_blocks AS MATERIALIZED (
  SELECT 'tbl_' || doc_id || '_' || CAST(t AS VARCHAR) AS id,
         doc_id,
         CAST(1 + th % 2 AS INT) AS page,
         CASE WHEN t = 2 THEN ['note']
              WHEN th % 3 = 0 THEN {_HDR_TH}
              WHEN th % 3 = 1 THEN {_HDR_EN}
              ELSE ['', '', '', '', ''] END AS columns,
         CASE WHEN t = 2 THEN [['x' || doc_id]] ELSE rows END AS rows,
         CASE WHEN th % 3 = 0 THEN 'vision' ELSE 'camelot' END AS source,
         CASE WHEN th % 3 = 0 THEN 'low' ELSE 'high' END AS numeric_trust,
         CASE WHEN th % 3 = 0 THEN 0 ELSE 1 END AS source_priority
  FROM xt_rows
)"""
