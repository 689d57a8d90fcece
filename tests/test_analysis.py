"""Unit tests for text analysis + hashing expressions."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_ingestion_din_spark.functions.analysis import (
    fingerprint,
    lang_id,
    quality_score,
    regex_token_count,
    tokens,
    word_shingles,
)
from data_ingestion_din_spark.functions.hashing import h32, h64, with_minhash


def test_tokens_and_shingles(spark):
    df = spark.createDataFrame([("a b  c d",), ("x",), ("",)], ["x"])
    toks = df.select(tokens(F.col("x")).alias("t"))
    assert [r.t for r in toks.collect()] == [["a", "b", "c", "d"], ["x"], []]
    sh = df.select(word_shingles(tokens(F.col("x")), 3).alias("s"))
    assert [r.s for r in sh.collect()] == [["a b c", "b c d"], [], []]


def test_regex_token_count(spark):
    df = spark.createDataFrame([("hello, world! ไทย 42",)], ["x"])
    # tokens: hello , world ! ไทย 42  → 6
    assert df.select(regex_token_count(F.col("x"))).collect()[0][0] == 6


def test_lang_id(spark):
    df = spark.createDataFrame(
        [("the quick brown fox jumps over the lazy dog",),
         ("ข้อมูลการเงินของกระทรวง",),
         ("zzz qqq www",)],
        ["x"],
    )
    out = [r[0] for r in df.select(lang_id(F.col("x"), tokens(F.col("x")))).collect()]
    assert out == ["en", "th", "unk"]


def test_quality_score_monotonicity(spark):
    good = "the value of a part is the sum of the line items in the order " * 3
    bad = "@@ ## !!"
    df = spark.createDataFrame([(good,), (bad,)], ["x"])
    out = [
        r[0]
        for r in df.select(
            quality_score(F.col("x"), tokens(F.col("x")))
        ).collect()
    ]
    assert out[0] > 0.8 and out[1] < 0.3


def test_fingerprint_normalizes_whitespace_and_case(spark):
    df = spark.createDataFrame([("A  B\tC",), ("a b c",)], ["x"])
    fps = [r[0] for r in df.select(fingerprint(F.col("x"))).collect()]
    assert fps[0] == fps[1]


def test_h64_known_value(spark):
    # Cross-engine anchor: DuckDB CAST(('0x'||substr(md5('mh0:spark'),1,15))
    # AS BIGINT) = 523004158102432530.
    v = spark.range(1).select(h64(F.lit("spark"), "mh0:")).collect()[0][0]
    assert v == 523004158102432530


def test_minhash_slots_differ(spark):
    # Each slot uses its own (a, b) affine map, so slots must (w.h.p.)
    # differ on the same input.
    df = spark.createDataFrame([(["a", "b", "c"],)], ["sh"])
    row = with_minhash(df, F.col("sh"), 4, keep=[]).collect()[0]
    assert len({row.mh0, row.mh1, row.mh2, row.mh3}) == 4


def test_minhash_permutation_invariance(spark):
    # MinHash is a set signature: order must not matter.
    df = spark.createDataFrame([(["a", "b", "c"],), (["c", "a", "b"],)], ["sh"])
    rows = with_minhash(df, F.col("sh"), 2, keep=[]).collect()
    assert rows[0] == rows[1]


def test_minhash_matches_manual_affine(spark):
    # Bit-for-bit parity with the documented construction: md5-based 32-bit
    # base hash, then min((a*h + b) % (2^31 - 1)) per slot.
    from data_ingestion_din_spark.functions.hashing import MH_AB, MH_MOD

    df = spark.createDataFrame([(["a", "b", "c"],)], ["sh"])
    row = with_minhash(df, F.col("sh"), 2, keep=[]).collect()[0]
    bases = [
        r[0]
        for r in df.select(F.explode("sh").alias("t"))
        .select(h32(F.col("t")))
        .collect()
    ]
    for i in range(2):
        a, b = MH_AB[i]
        assert row[f"mh{i}"] == min((a * h + b) % MH_MOD for h in bases)


def test_cms_overestimates_and_is_bounded(spark):
    """CMS invariants: every estimate >= the exact count (min over
    counters can only collide upward) and the sketch itself never
    exceeds d*w cells regardless of vocabulary size."""
    from conftest import SF_SMOKE

    from data_ingestion_din_spark.functions.analysis import tokens
    from data_ingestion_din_spark.functions.sketches import (
        CMS_D,
        cms_cells,
        cms_grid,
    )
    from data_ingestion_din_spark.plans import QUERIES
    from data_ingestion_din_spark.plans.analytic_ext import _CMS_W
    from data_ingestion_din_spark.sources.tables import load_table

    sf = SF_SMOKE
    rows = QUERIES["corpus_cms_heavy_hitters"](spark, sf).collect()
    assert rows
    assert all(r.cms_estimate >= r.exact_count for r in rows)
    # the heavy-hitter top-1 should be nearly collision-free at this w
    top = rows[0]
    assert top.cms_estimate < top.exact_count * 2
    exact = (
        load_table(spark, sf, "documents")
        .select(F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # sf0.001 has 31 distinct tokens, fewer than any width in use; a
    # width of 16 puts the vocabulary above w, where only hashing into
    # w columns keeps the grid within d*w cells
    w_small = 16
    assert exact.count() > w_small
    for w in (w_small, _CMS_W):
        grid = cms_grid(cms_cells(exact, w, "tok", "n"))
        assert grid.count() <= CMS_D * w


def test_stream_join_cross_run_matches(spark):
    """The second availableNow run must contribute matches (errors
    joining click state buffered before the restart) — otherwise the
    query proves nothing about cross-checkpoint join state."""
    from pyspark.sql import functions as F

    from data_ingestion_din_spark.plans import QUERIES
    from data_ingestion_din_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    out = QUERIES["streaming_stream_join"](spark, sf)
    ev = load_table(spark, sf, "events")
    lo, hi = ev.agg(
        F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts"))
    ).first()
    mid = lo + (hi - lo) // 2
    n_run2 = out.filter(F.col("error_us") >= mid).count()
    n_total = out.count()
    assert n_total > 0
    assert 0 < n_run2 < n_total


def test_multiprobe_recall_dominates_single_probe(spark):
    """Multi-probe candidates are a superset of the single bucket's, so
    its recall vs the exact top-10 can never be lower — and on the
    fixture it should actually find at least as many true neighbors."""
    from data_ingestion_din_spark.plans import QUERIES

    sf = "/root/testdata/sf0.01"
    exact = {
        r.vec_id for r in QUERIES["similarity_topk"](spark, sf).collect()
    }
    single = {
        r.vec_id for r in QUERIES["similarity_lsh_topk"](spark, sf).collect()
    }
    multi = {
        r.vec_id
        for r in QUERIES["similarity_lsh_multiprobe"](spark, sf).collect()
    }
    assert len(multi & exact) >= len(single & exact)
    assert single <= multi or len(multi) == 10  # superset candidates
