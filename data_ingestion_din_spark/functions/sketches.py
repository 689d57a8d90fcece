"""Portable sketch expressions: HyperLogLog registers, Count-Min cells and
the packed-word Bloom filter, each stated once for every query that
builds one. All three hash with :func:`~.hashing.h64` (60-bit md5 prefix),
so every register, counter and filter word is bit-identical to the
DuckDB oracle's.

HyperLogLog, ``m = 2^p`` registers. A hash ``h`` splits into the bucket
``pmod(h, m)`` and the remaining ``60 − p`` bits ``h div m``; the rank is
``(61 − p) − length(bin(h div m))``, or the top value ``61 − p`` when
``h div m = 0``. It is ``h div m``, not ``h / m``: the double division
would round a 60-bit hash above 2^53 before the floor. ``bin()`` renders
the same minimal binary in both engines, so registers are integer-exact.
The harmonic mean is the scaled sum
``S = Σ 2^(32 − min(r, 32)) + (m − used)·2^32`` (an unused register is
rank 0), exact in BIGINT in any summation order; the estimate is ONE
final double division ``alpha(m)·m²·2^32 / S``, so only the estimate
itself sits under the hash gate. Raw estimator, no small-range linear
counting: that correction needs libm ``ln``.

Count-Min, ``CMS_D`` rows × ``w`` columns. Row ``r`` sends token ``t`` to
``pmod(h64("cms" || r || ":" || t), w)``; a cell's counter sums the
counts landing there, and a token's estimate is the min over its
``CMS_D`` counters, never below the exact count.

Bloom filter, ``BF_K`` positions in ``BF_M`` bits. Position ``j`` of a
shingle is ``h64(shingle, seed="bl{j}:") % BF_M``. The bits pack into
``BF_WORDS`` BIGINT words of 63 bits each, so the sign bit is never set
and no shift overflows in either engine. The filter is the
``(word, bit_or(mask))`` table; a shingle is a member when all ``BF_K``
of its position bits are set.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_ingestion_din_spark.functions.hashing import h64

# --------------------------------------------------------------------------
# HyperLogLog
# --------------------------------------------------------------------------


def hll_num(m: int) -> float:
    """The estimator numerator ``alpha(m)·m²·2^32`` (one double literal)."""
    alpha = {16: 0.673, 32: 0.697, 64: 0.709}.get(m, 0.7213 / (1 + 1.079 / m))
    return alpha * m * m * 4294967296.0


def hll_top(m: int) -> int:
    """The rank of an all-zero remainder: ``61 − p`` for ``m = 2^p``."""
    return 61 - (m.bit_length() - 1)


def hll_bucket(m: int) -> Column:
    """The register index of hash column ``h``."""
    return F.pmod(F.col("h"), F.lit(m))


def hll_rank(m: int) -> Column:
    """The register rank of hash column ``h``."""
    w = F.expr(f"h div {m}")
    top = hll_top(m)
    return F.when(w == 0, F.lit(top)).otherwise(F.lit(top) - F.length(F.bin(w)))


def hll_scaled_sum(m: int | Column) -> Column:
    """The aggregate ``S`` over a group's used registers ``r``; ``m`` is
    the register count, a literal or a per-group column."""
    m = F.lit(m) if isinstance(m, int) else m
    return (
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 32 - least(r, 32))"))
        + (m - F.count(F.lit(1))) * F.lit(4294967296)
    ).cast("bigint")


# --------------------------------------------------------------------------
# Count-Min
# --------------------------------------------------------------------------
CMS_D = 4  # rows (independent seeded hashes)


def cms_rows(df: DataFrame, *keep: str) -> DataFrame:
    """``keep`` columns with each row exploded once per sketch row ``r``."""
    return df.select(
        *keep, F.explode(F.array(*[F.lit(r) for r in range(CMS_D)])).alias("r")
    )


def cms_hash() -> Column:
    """The row-seeded token hash ``h64("cms" || r || ":" || tok)``."""
    return h64(
        F.concat(F.lit("cms"), F.col("r").cast("string"), F.lit(":"), F.col("tok"))
    )


def cms_bucket(h: Column, w: int) -> Column:
    """The column of row hash ``h`` in a width-``w`` sketch."""
    return F.pmod(h, F.lit(w))


def cms_cells(df: DataFrame, w: int, *keep: str) -> DataFrame:
    """(``keep``…, r, bucket) per row of ``df`` and sketch row; ``keep``
    must include ``tok``."""
    return cms_rows(df, *keep).select(
        *keep, "r", cms_bucket(cms_hash(), w).alias("bucket")
    )


def cms_grid(cells: DataFrame, n: str | None = "n") -> DataFrame:
    """(r, bucket, counter): the sum of ``n`` per cell, or the row count
    when ``n`` is None (one row per occurrence)."""
    c = F.count(F.lit(1)) if n is None else F.sum(n)
    return cells.groupBy("r", "bucket").agg(c.cast("bigint").alias("counter"))


def cms_estimate(
    cells: DataFrame, grid: DataFrame, name: str = "cms_estimate"
) -> DataFrame:
    """(tok, n, ``name``): the min counter over each probed token's
    cells; the d·w-row grid is broadcast."""
    return (
        cells.join(F.broadcast(grid), ["r", "bucket"])
        .groupBy("tok", "n")
        .agg(F.min("counter").cast("bigint").alias(name))
    )


# --------------------------------------------------------------------------
# Packed-word Bloom filter
# --------------------------------------------------------------------------
BF_WORDS = 512
BF_WBITS = 63  # bits used per int64 word — bit 63 (sign) never set
BF_M = BF_WORDS * BF_WBITS
BF_K = 3


def _positions(df: DataFrame, *keep: str) -> DataFrame:
    """(``keep``…, shingle, pos): one row per shingle and hash position."""
    pos = F.explode(
        F.array(
            *[(h64(F.col("shingle"), seed=f"bl{j}:") % BF_M) for j in range(BF_K)]
        )
    ).alias("pos")
    return df.select(*keep, "shingle", pos)


def _word() -> Column:
    return (F.col("pos") / BF_WBITS).cast("bigint")


def bloom_words(shingles: DataFrame) -> DataFrame:
    """The filter over a ``shingle`` column: (word, bits)."""
    return (
        _positions(shingles)
        .select(
            _word().alias("word"),
            F.expr(
                f"shiftleft(cast(1 as bigint), cast(pos % {BF_WBITS} as int))"
            ).alias("mask"),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )


def bloom_probe(df: DataFrame, words: DataFrame, *keep: str) -> DataFrame:
    """(``keep``…, shingle, bloom_hit): 1 when every position bit of the
    shingle is set in ``words``. The ≤``BF_WORDS``-row filter is bounded
    control data, so it is broadcast."""
    return (
        _positions(df, *keep)
        .withColumn("word", _word())
        .join(F.broadcast(words), "word", "left")
        .withColumn(
            "hit",
            F.coalesce(
                F.expr(f"shiftright(bits, cast(pos % {BF_WBITS} as int)) & 1"),
                F.lit(0),
            ),
        )
        .groupBy(*keep, "shingle")
        .agg(F.when(F.sum("hit") == BF_K, 1).otherwise(0).alias("bloom_hit"))
    )
