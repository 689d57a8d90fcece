"""Cross-engine property tests (hypothesis): expression twins that feed
the hash gate must agree on ARBITRARY inputs, not just fixture shapes.
This is the divergence class round reviews kept finding by hand (e.g.
calendar-invalid dates NULLing in Spark while crashing DuckDB); these
tests hunt it automatically.

Each example evaluates a whole generated batch in ONE Spark job + one
DuckDB query, so a handful of examples covers hundreds of adversarial
strings without per-row job overhead.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from data_ingestion_din_spark.functions.dates import (
    THAI_MONTHS,
    parse_date_any,
    parse_date_any_sql,
)
from data_ingestion_din_spark.functions.hashing import h64, h64_sql
from data_ingestion_din_spark.functions.text import clean_text, clean_text_sql

# NUL is not representable in DuckDB VARCHAR literals/operations the
# same way, and lone surrogates (category Cs) are not valid Unicode
# scalar values at all — Java strings carry them as UTF-16 artifacts but
# they cannot round-trip through UTF-8, so they are outside any engine's
# contract. Everything else (astral plane, Thai, combining marks) must
# round-trip identically through both engines.
_chars = st.characters(
    blacklist_characters="\x00", blacklist_categories=("Cs",)
)
_texts = st.text(alphabet=_chars, max_size=40)

date_ish = st.one_of(
    _texts,
    st.builds(
        lambda d, m, y: f"{d}/{m}/{y}",
        st.integers(0, 40),
        st.integers(0, 20),
        st.integers(1000, 3000),
    ),
    st.builds(
        lambda y, m, d: f"{y:04d}-{m:02d}-{d:02d}",
        st.integers(1, 9999),
        st.integers(0, 99),
        st.integers(0, 99),
    ),
    st.builds(
        lambda d, mn, y: f"{d} {mn} {y}",
        st.integers(0, 40),
        st.sampled_from(THAI_MONTHS + ["xxx", "ก.พ"]),
        st.integers(1800, 2800),
    ),
)


def _duck(vals: list[str], select_exprs: str) -> list[tuple]:
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"s": pd.Series(vals, dtype="object")}))
    return con.execute(f"SELECT {select_exprs} FROM t").fetchall()


@settings(max_examples=5, deadline=None)
@given(st.lists(date_ish, min_size=20, max_size=40))
def test_date_parse_twins_agree(spark, vals):
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    p = parse_date_any(F.col("s"))
    got = [
        (r.kind, r.iso)
        for r in df.select(
            p.getField("kind").alias("kind"), p.getField("iso").alias("iso")
        ).collect()
    ]
    kind, iso = parse_date_any_sql("s")
    want = _duck(vals, f"{kind}, {iso}")
    assert got == [tuple(w) for w in want]


@settings(max_examples=5, deadline=None)
@given(st.lists(_texts, min_size=20, max_size=40))
def test_clean_text_twins_agree(spark, vals):
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    got = [
        r.c for r in df.select(clean_text(F.col("s")).alias("c")).collect()
    ]
    want = [w[0] for w in _duck(vals, clean_text_sql("s"))]
    assert got == want


@settings(max_examples=5, deadline=None)
@given(st.lists(_texts.filter(lambda s: s != ""), min_size=20, max_size=40))
def test_h64_three_way_agreement(spark, vals):
    """The portable hash must agree Spark == DuckDB == the Python twin
    the L12 judge client uses (ai/judge._h64) — the whole oracle-gated
    judge pipeline rests on this three-way identity."""
    from data_ingestion_din_spark.ai.judge import _h64 as py_h64

    df = spark.createDataFrame([(v,) for v in vals], "s string")
    got = [r.h for r in df.select(h64(F.col("s")).alias("h")).collect()]
    want = [w[0] for w in _duck(vals, h64_sql("s"))]
    assert got == want
    assert got == [py_h64(v) for v in vals]


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.lists(_texts.filter(bool), min_size=1, max_size=12),
        min_size=5,
        max_size=15,
    )
)
def test_minhash_signature_twins_agree(spark, shingle_sets):
    """MinHash slots (md5 base hash + affine permutations) must agree
    Spark vs DuckDB for arbitrary shingle sets — every LSH dedup oracle
    rests on this."""
    from data_ingestion_din_spark.functions.hashing import (
        h32_sql,
        minhash_slot_sql,
        with_minhash,
    )

    n = 4
    rows = [(i, s) for i, s in enumerate(shingle_sets)]
    df = spark.createDataFrame(rows, "doc_id int, sh array<string>")
    got = {
        r.doc_id: tuple(r[f"mh{i}"] for i in range(n))
        for r in with_minhash(df, F.col("sh"), n, keep=["doc_id"]).collect()
    }
    con = duckdb.connect()
    con.register(
        "e",
        pd.DataFrame(
            {
                "doc_id": [i for i, s in rows for _ in s],
                "shingle": pd.Series(
                    [x for _, s in rows for x in s], dtype="object"
                ),
            }
        ),
    )
    slots = ", ".join(minhash_slot_sql(i) for i in range(n))
    want = {
        r[0]: tuple(r[1:])
        for r in con.execute(
            f"""WITH h AS (SELECT doc_id, {h32_sql("shingle")} AS hb FROM e)
            SELECT doc_id, {slots} FROM h GROUP BY doc_id"""
        ).fetchall()
    }
    assert got == want


# --------------------------------------------------------------------------
# HLL register rank: every HLL gate rests on length(bin(h div m))
# rendering identically in Spark and DuckDB for ANY 60-bit hash value.
# Property-check the kernel's rank (functions/sketches.hll_rank) over the
# full domain (not just fixture user_ids), at every register count in
# use, against the Python ground truth bit_length().
# --------------------------------------------------------------------------
@settings(max_examples=8, deadline=None)
@given(st.lists(st.integers(0, (1 << 60) - 1), min_size=1, max_size=120))
def test_hll_rank_twins_agree(spark, hs):
    from data_ingestion_din_spark.functions.sketches import hll_rank

    pdf = pd.DataFrame({"i": range(len(hs)), "h": hs})
    sdf = spark.createDataFrame(pdf)
    con = duckdb.connect()
    con.register("t", pdf)
    for m in (16, 64, 256):  # the register counts the HLL queries use
        p = m.bit_length() - 1
        top = 61 - p
        expect = [
            top - (h >> p).bit_length() if (h >> p) > 0 else top for h in hs
        ]
        got_spark = [
            r.rnk
            for r in sdf.select("i", hll_rank(m).alias("rnk"))
            .orderBy("i")
            .collect()
        ]
        got_duck = [
            r[0]
            for r in con.execute(
                f"SELECT CASE WHEN h // {m} = 0 THEN {top}"
                f"            ELSE {top} - length(bin(h // {m})) END"
                " FROM t ORDER BY i"
            ).fetchall()
        ]
        assert got_spark == expect
        assert got_duck == expect


# ---------------------------------------------------------------------------
# BPE merge-pass fold twins: the Spark aggregate() and DuckDB
# list_reduce() formulations in corpus_bpe_encode must produce the same
# token sequence for ARBITRARY words — including pathological runs
# ("ththth", "aaan") where greedy left-to-right order is what defines
# the answer.
# ---------------------------------------------------------------------------
# min_size=1: tokenization filters empty strings before the fold, and
# DuckDB's list_reduce errors on an empty list (precondition documented
# at _bpe_pass_duck)
_bpe_words = st.text(
    alphabet=st.sampled_from("theandinors"), min_size=1, max_size=14
)


@settings(max_examples=5, deadline=None)
@given(st.lists(_bpe_words, min_size=10, max_size=30))
def test_bpe_fold_twins_agree(spark, words):
    from data_ingestion_din_spark.plans.text_pipeline import (
        _bpe_chain,
        _bpe_pass_duck,
        _bpe_pass_spark,
    )

    df = spark.createDataFrame([(w,) for w in words], "w string")
    enc = df.withColumn(
        "c",
        F.expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))"),
    )
    from data_ingestion_din_spark.plans.text_pipeline import _BPE_MERGES

    cur = "c"
    for step, (a, b) in enumerate(_BPE_MERGES):
        nxt = f"c{step}"
        enc = enc.withColumn(nxt, F.expr(_bpe_pass_spark(cur, a, b)))
        cur = nxt
    got = [r[0] for r in enc.select(cur).collect()]

    chars = "list_transform(range(1, length(s) + 1), i -> substr(s, i, 1))"
    chain = _bpe_chain(chars, lambda c, a, b: _bpe_pass_duck(c, a, b))
    want = [r[0] for r in _duck(words, chain)]
    assert [list(x) for x in got] == [list(x) for x in want]


# ---------------------------------------------------------------------------
# BPE pass fusion: corpus_bpe_encode applies merges 1-7 in ONE fused
# left-to-right scan and (r,e) as a second scan (8 interpreted passes
# -> 2; 12.4 s -> 3.5 s steady at sf0.1). The fusion is only legal
# because those rules cannot interact (see _bpe_fused_pass_spark); this
# pins fused == the 8 sequential passes for arbitrary words, including
# the (e,r)/(r,e) conflict shapes ("rer", "rere") that force rule 8
# into its own scan.
# ---------------------------------------------------------------------------
def _bpe_seq_py(word):
    toks = list(word)
    from data_ingestion_din_spark.plans.text_pipeline import _BPE_MERGES

    for a, b in _BPE_MERGES:
        out = []
        for x in toks:
            if out and out[-1] == a and x == b:
                out[-1] = a + b
            else:
                out.append(x)
        toks = out
    return toks


@settings(max_examples=5, deadline=None)
@given(st.lists(_bpe_words, min_size=10, max_size=30))
def test_bpe_fused_scan_matches_sequential(spark, words):
    from data_ingestion_din_spark.plans.text_pipeline import (
        _BPE_MERGES,
        _bpe_fused_pass_spark,
    )

    words = words + ["rer", "rere", "ther", "erer"]  # conflict shapes
    df = spark.createDataFrame([(w,) for w in words], "w string")
    enc = (
        df.withColumn(
            "c",
            F.expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))"),
        )
        .withColumn("c0", F.expr(_bpe_fused_pass_spark("c", _BPE_MERGES[:7])))
        .withColumn("c1", F.expr(_bpe_fused_pass_spark("c0", _BPE_MERGES[7:])))
    )
    got = {r[0]: list(r[1]) for r in enc.select("w", "c1").collect()}
    assert got == {w: _bpe_seq_py(w) for w in words}


# --------------------------------------------------------------------------
# Round-8 operators
# --------------------------------------------------------------------------
_url_piece = st.builds(
    lambda scheme, www, host, port, path, slash, q, utm_pos, frag: (
        scheme
        + "://"
        + www
        + host
        + port
        + "/"
        + path
        + slash
        + (
            "?" + "&".join(
                (["utm_src=a"] if utm_pos == 0 else [])
                + ([q] if q else [])
                + (["utm_c=b"] if utm_pos == 1 else [])
                + (["utm_x=1", "utm_y=2"] if utm_pos == 2 else [])
            )
            if (q or utm_pos >= 0)
            else ""
        )
        + frag
    ),
    st.sampled_from(["http", "https", "HTTP", "HTTPS", "ftp"]),
    st.sampled_from(["", "www.", "WWW."]),
    st.sampled_from(["Ex.com", "ex.com", "a.b.Ex.COM", "www.com"]),
    st.sampled_from(["", ":80", ":443", ":8080"]),
    st.sampled_from(["p", "Docs/9", "r?x", "u=https://www.b.com"]),
    st.sampled_from(["", "/", "//"]),
    st.sampled_from(["", "ref=1", "id=www.q"]),
    st.sampled_from([-1, 0, 1, 2]),
    st.sampled_from(["", "#f", "#a#b"]),
)


@settings(max_examples=5, deadline=None)
@given(st.lists(_url_piece, min_size=20, max_size=40))
def test_canonical_url_twins_agree(spark, vals):
    """The canonicalizer's Spark and DuckDB twins must agree on
    adversarial compositions (mixed-case schemes, WWW variants,
    embedded URLs in paths/queries, consecutive utm params, multi
    fragments, double slashes) — the class the inline review caught by
    hand (global-vs-once www strip)."""
    from data_ingestion_din_spark.functions.urls import (
        canonical_url,
        canonical_url_sql,
    )

    df = spark.createDataFrame([(v,) for v in vals], "s string")
    got = [
        r.c for r in df.select(canonical_url(F.col("s")).alias("c")).collect()
    ]
    want = [w[0] for w in _duck(vals, canonical_url_sql("s"))]
    assert got == want


def _spans_reference(texts, w):
    """Brute-force duplicated_spans: hash every w-token window, keep
    windows whose text occurs in >= 2 docs, merge per doc."""
    wins = {}
    per_doc = {}
    for d, t in enumerate(texts):
        toks = [x for x in t.split(" ") if x]
        for i in range(len(toks) - w + 1):
            key = " ".join(toks[i : i + w])
            wins.setdefault(key, set()).add(d)
            per_doc.setdefault(d, []).append((i + 1, key))
    out = []
    for d, lst in per_doc.items():
        starts = sorted(i for i, k in lst if len(wins[k]) >= 2)
        if not starts:
            continue
        s0, prev, n = starts[0], starts[0], 1
        for i in starts[1:]:
            if i - prev <= w:
                prev, n = i, n + 1
            else:
                out.append((d, s0, prev + w - 1, n))
                s0, prev, n = i, i, 1
        out.append((d, s0, prev + w - 1, n))
    return sorted(out)


_span_word = st.sampled_from(["a", "b", "c", "d"])
_span_text = st.lists(_span_word, min_size=0, max_size=12).map(" ".join)


@settings(max_examples=8, deadline=None)
@given(st.lists(_span_text, min_size=2, max_size=6), st.integers(2, 4))
def test_duplicated_spans_matches_reference(spark, texts, w):
    """Exact-substring span detection == a brute-force Python reference
    on random tiny corpora over a 4-letter alphabet (dense collisions:
    within-doc repeats, adjacency merges, full-doc coverage)."""
    from data_ingestion_din_spark.operators.dedup import duplicated_spans

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = sorted(
        (r.doc_id, r.span_start, r.span_end, r.n_windows)
        for r in duplicated_spans(docs, w).collect()
    )
    assert got == _spans_reference(texts, w)


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)),
        min_size=1,
        max_size=25,
    )
)
def test_union_find_matches_distributed_cc(spark, edges):
    """Hybrid CC: the driver union-find and the distributed
    min-label+jump loop must produce identical clusters on random
    graphs (self-loops, parallel edges, multi-component)."""
    from data_ingestion_din_spark.operators.dedup import (
        _union_find,
        connected_components,
    )

    drv = _union_find(edges)
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    dist = {
        r.node: r.cluster_id
        for r in connected_components(pairs, driver_cap_edges=0).collect()
    }
    assert drv == dist


_vec = st.lists(
    st.floats(min_value=-2.0, max_value=2.0, allow_nan=False, width=32),
    min_size=64,
    max_size=64,
)


@settings(max_examples=5, deadline=None)
@given(st.lists(_vec, min_size=4, max_size=8))
def test_milli_cosine_gate_three_way_agreement(spark, vecs):
    """The 1e3-quantized integer cosine gate (25·dot² >= 4·aa·bb — the
    semdedup/funnel/range-search predicate) agrees across (a) Spark
    quantize_milli + quant_dot, (b) the DuckDB QUANT_MILLI_SQL twin,
    and (c) a pure-Python big-int reference — so a transform/cast bug
    in any restatement breaks here before it can corrupt a hash gate.
    Also pins the int64 headroom claim: every product is re-checked
    against the exact Python integers (unbounded), so silent overflow
    in the Spark/DuckDB arithmetic would surface as a mismatch."""
    import math

    from data_ingestion_din_spark.functions.vectors import (
        QUANT_MILLI_SQL,
        quant_dot,
        quantize_milli,
    )

    pairs = [
        (i, j) for i in range(len(vecs)) for j in range(i + 1, len(vecs))
    ]

    def pyq(v):
        return [math.floor(float(x) * 1000) for x in v]

    want = []
    for i, j in pairs:
        qa, qb = pyq(vecs[i]), pyq(vecs[j])
        dot = sum(x * y for x, y in zip(qa, qb))
        aa = sum(x * x for x in qa)
        bb = sum(x * x for x in qb)
        want.append((dot, dot > 0 and 25 * dot * dot >= 4 * aa * bb))

    df = spark.createDataFrame(
        [(i, vecs[i], vecs[j]) for idx, (i, j) in enumerate(pairs)],
        "i int, a array<float>, b array<float>",
    )
    qa = quantize_milli(F.col("a"))
    qb = quantize_milli(F.col("b"))
    got = [
        (r.dot, bool(r.near))
        for r in df.select(
            quant_dot(qa, qb).alias("dot"),
            (
                (quant_dot(qa, qb) > 0)
                & (
                    25 * quant_dot(qa, qb) * quant_dot(qa, qb)
                    >= 4 * quant_dot(qa, qa) * quant_dot(qb, qb)
                )
            ).alias("near"),
        ).collect()
    ]
    assert got == want

    # DuckDB twin over the same pairs — float32 lists round-trip
    # losslessly through pandas float32
    con = duckdb.connect()
    con.register(
        "pairs_t",
        pd.DataFrame(
            {
                "a": [
                    np.array(vecs[i], dtype=np.float32) for i, _ in pairs
                ],
                "b": [
                    np.array(vecs[j], dtype=np.float32) for _, j in pairs
                ],
            }
        ),
    )
    duck = con.execute(
        f"""
        WITH q AS (
          SELECT {QUANT_MILLI_SQL.replace('embedding', 'a')} AS qa,
                 {QUANT_MILLI_SQL.replace('embedding', 'b')} AS qb
          FROM pairs_t
        ),
        d AS (
          SELECT (SELECT sum(qa[i] * qb[i]) FROM range(1, 65) r(i)) AS dot,
                 (SELECT sum(qa[i] * qa[i]) FROM range(1, 65) r(i)) AS aa,
                 (SELECT sum(qb[i] * qb[i]) FROM range(1, 65) r(i)) AS bb
          FROM q
        )
        SELECT dot, dot > 0 AND 25 * dot * dot >= 4 * aa * bb FROM d
        """
    ).fetchall()
    assert [(int(d), bool(n)) for d, n in duck] == want
