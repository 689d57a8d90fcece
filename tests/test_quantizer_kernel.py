"""Unit tests for the integer-exact quantizer kernel in
operators/similarity.py: the truncating M-step division against DuckDB's
``//``, the empty-code rule, the lowest-code argmin tie-break, the
driver ADC / cell-ranking twins against numpy, the nested BIGINT literal
text, and the k-means / PQ training loops against a plain-Python Lloyd."""

from __future__ import annotations

import duckdb
import numpy as np

from data_ingestion_din_spark.operators.similarity import (
    _int_array_sql,
    adc_rows,
    adc_table,
    int_array_lit,
    kmeans_train_qv,
    lloyd,
    lloyd_update,
    nearest_cells,
    nearest_code,
    pq_assign_qv,
    pq_encode_qv,
    tdiv,
)


def test_tdiv_matches_duckdb_integer_division():
    """Residual vectors are negative, so the centroid mean must round
    toward zero as DuckDB's ``//`` does, not floor as Python's."""
    pairs = [(s, n) for s in range(-23, 24) for n in (1, 2, 3, 4, 7)]
    pairs += [(-(10**15) - 7, 3), (10**15 + 7, 3), (-5, -2), (5, -2)]
    sql = " UNION ALL ".join(
        f"SELECT {i} AS i, CAST({s} AS BIGINT) // CAST({n} AS BIGINT) AS q"
        for i, (s, n) in enumerate(pairs)
    )
    want = dict(duckdb.sql(sql).fetchall())
    got = {i: tdiv(s, n) for i, (s, n) in enumerate(pairs)}
    assert got == want
    assert tdiv(-7, 2) == -3 and tdiv(7, 2) == 3


def test_lloyd_update_empty_code_keeps_prior():
    book = [[1, 2], [3, 4], [-5, 6]]
    rows = [
        {"code": 1, "dim": 0, "s": -7, "n": 2},
        {"code": 1, "dim": 1, "s": 9, "n": 2},
        {"code": 3, "dim": 0, "s": 10, "n": 4},
        {"code": 3, "dim": 1, "s": -10, "n": 4},
    ]
    assert lloyd_update(rows, book, "code") == [[-3, 4], [3, 4], [2, -2]]


def test_nearest_code_ties_go_to_lowest_code(spark):
    df = spark.createDataFrame(
        [(0, [0, 0]), (1, [2, 2]), (2, [0, 3])], "vec_id bigint, qv array<bigint>"
    )
    # vec 0 is at squared distance 1 from codes 2-5 (code 2 wins), vec 1
    # sits on code 1, vec 2 is at distance 4 from codes 3 and 5 (code 3)
    book = int_array_lit([[2, 2], [1, 0], [0, 1], [-1, 0], [0, 1]])
    got = {
        r.vec_id: (r.code, r.d)
        for r in nearest_code(df, "qv", book, "vec_id", dist="d").collect()
    }
    assert got == {0: (2, 1), 1: (1, 0), 2: (3, 4)}


def test_adc_table_and_nearest_cells_match_numpy():
    rng = np.random.default_rng(7)
    vec = rng.integers(-50, 50, size=8)
    book = rng.integers(-50, 50, size=(2, 3, 4))
    book[1, 2] = book[1, 0]  # a duplicated codeword: tied ADC entries
    want = ((vec.reshape(2, 1, 4) - book) ** 2).sum(-1)
    got = adc_table(list(vec), book.tolist())
    assert got == want.tolist()
    assert got[1][0] == got[1][2]
    dot = adc_table(list(vec), book.tolist(), score=lambda a, b: int(np.dot(a, b)))
    assert dot == (vec.reshape(2, 1, 4) * book).sum(-1).tolist()
    assert adc_rows((9,), list(vec), book.tolist()) == [
        (9, m, c + 1, int(want[m, c])) for m in range(2) for c in range(3)
    ]

    cents = rng.integers(-5, 5, size=(6, 8))
    cents[4] = cents[1]  # tied cells: the lower id must rank first
    cents[5] = cents[1]
    q = cents[1] + 1
    d = ((cents - q) ** 2).sum(-1)
    for n in (1, 3, 6):
        want_cells = (np.lexsort((np.arange(6), d))[:n] + 1).tolist()
        assert nearest_cells(list(q), cents.tolist(), n) == want_cells
    assert nearest_cells(list(q), cents.tolist(), 3)[:3] == [2, 5, 6]


def _old_int_matrix_lit_sql(rows):
    inner = ",".join("array(" + ",".join(f"{v}L" for v in r) + ")" for r in rows)
    return f"array({inner})"


def _old_codebook_lit_sql(cbm):
    # the body pq_assign_qv, pq_encode_qv and similarity_pq_aniso_ab each
    # hand-copied for their 3-D codebook literal
    return (
        "array("
        + ",".join(
            "array("
            + ",".join("array(" + ",".join(f"{v}L" for v in c) + ")" for c in codes)
            + ")"
            for codes in cbm
        )
        + ")"
    )


def test_nested_int_array_lit_text_matches_deleted_builders():
    vec = [3, -1, 0, 12345678901]
    mat = [[1, -2, 3], [0, 0, 0], [-7, 8, 9]]
    cb = [[[1, 2], [-3, 4]], [[0, -6], [7, 8]], [[9, 9], [-9, -9]]]
    assert _int_array_sql(vec) == "array(" + ",".join(f"{v}L" for v in vec) + ")"
    assert _int_array_sql(mat) == _old_int_matrix_lit_sql(mat)
    assert _int_array_sql(cb) == _old_codebook_lit_sql(cb)
    assert _int_array_sql(np.array(vec).tolist()) == _int_array_sql(vec)


# --- training loops against a plain-Python Lloyd ---------------------------
def _ref_tdiv(s: int, n: int) -> int:
    q = abs(s) // abs(n)
    return q if (s >= 0) == (n > 0) else -q


def _ref_lloyd(vecs: list[list[int]], k: int, m_steps: int):
    """Assign (argmin, lowest code on ties), then ``m_steps`` times:
    truncated means (empty code keeps its prior), reassign."""
    book = [list(v) for v in vecs[:k]]

    def assign(b):
        return [
            min(range(k), key=lambda c: (sum((x - y) ** 2 for x, y in zip(v, b[c])), c))
            for v in vecs
        ]

    codes = assign(book)
    for _ in range(m_steps):
        new = []
        for c in range(k):
            mem = [v for v, a in zip(vecs, codes) if a == c]
            new.append(
                [_ref_tdiv(sum(col), len(mem)) for col in zip(*mem)]
                if mem
                else book[c]
            )
        book = new
        codes = assign(book)
    return [c + 1 for c in codes], book


def _vectors():
    rng = np.random.default_rng(11)
    v = rng.integers(-40, 25, size=(24, 8))
    v[1] = v[0]  # duplicate seeds: code 2 stays empty, keeps its prior
    return v.tolist()


def test_kmeans_train_qv_matches_reference_lloyd(spark):
    vecs = _vectors()
    qv = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id bigint, qv array<bigint>"
    )
    for iters in (1, 2, 3):
        assigned, cents = kmeans_train_qv(qv, k=4, iters=iters)
        want_codes, want_cents = _ref_lloyd(vecs, 4, iters - 1)
        got = dict(assigned.select("vec_id", "cluster").collect())
        assert [got[i] for i in range(len(vecs))] == want_codes
        assert cents == want_cents
        if iters == 1:  # the tied seeds leave cluster 2 empty ...
            assert 2 not in got.values()
        if iters == 2:  # ... so the M-step keeps its prior centroid
            assert cents[1] == vecs[0]


def test_pq_assign_and_encode_match_reference_lloyd(spark):
    vecs = _vectors()
    qv = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id bigint, qv array<bigint>"
    )
    codes, cb = pq_assign_qv(qv, n_sub=2, k=3, iters=2)
    got = {(r.vec_id, r.m): r.code for r in codes.collect()}
    enc = {(r.vec_id, r.m): r.code for r in pq_encode_qv(qv, cb).collect()}
    assert enc == got
    for m in range(2):
        sub = [v[m * 4 : (m + 1) * 4] for v in vecs]
        want_codes, want_book = _ref_lloyd(sub, 3, 2)
        assert cb[m] == want_book
        assert [got[(i, m)] for i in range(len(vecs))] == want_codes


def test_lloyd_runs_one_more_assignment_than_m_steps(spark):
    df = spark.createDataFrame(
        [(0, [0, 0]), (1, [4, 4]), (2, [5, 5])], "vec_id bigint, qv array<bigint>"
    )
    calls = []

    def assign(book):
        calls.append(book)
        return nearest_code(df, "qv", int_array_lit(book), "vec_id", "qv", code="c")

    _, book = lloyd(assign, [[0, 0], [4, 4]], "qv", "c", 2)
    assert len(calls) == 3
    assert calls[1] == [[0, 0], [4, 4]] and book == [[0, 0], [4, 4]]
    calls.clear()
    lloyd(assign, [[0, 0], [5, 5]], "qv", "c", 0)
    assert calls == [[[0, 0], [5, 5]]]
