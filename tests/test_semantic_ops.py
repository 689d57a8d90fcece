"""Invariant tests for the round-5 semantic/sketch additions: product
quantization, SemDeDup pruning, HLL distinct estimation, bigram LM
familiarity, and the BPE merge-step statistic. Oracle parity runs in
scripts/verify_local.py; these pin the operator-level semantics with an
independent reformulation (division-based cosine vs the queries'
multiplicative test, driver-side ADC recompute, estimator error bounds).
"""

from __future__ import annotations

import pyspark.sql.functions as F

from data_ingestion_din_spark.plans import QUERIES

SF = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"


def test_pq_codes_complete_and_bounded(spark):
    from data_ingestion_din_spark.operators.similarity import pq_assign
    from data_ingestion_din_spark.sources.tables import load_table

    emb = load_table(spark, SF, "embeddings")
    n = emb.count()
    codes, cb = pq_assign(emb, n_sub=4, k=4, iters=1)
    rows = codes.collect()
    assert len(rows) == n * 4
    assert all(1 <= r.code <= 4 for r in rows)
    assert len(cb) == 4 and all(len(c) == 4 for c in cb)
    assert all(len(cent) == 16 for c in cb for cent in c)


def test_pq_adc_dist_matches_driver_recompute(spark):
    """adc_dist from the query = Σ_m ||q0_m − cb[m][code_m(v)]||²
    recomputed in plain Python from the collected codes/codebooks."""
    from data_ingestion_din_spark.operators.similarity import pq_assign
    from data_ingestion_din_spark.functions.vectors import quantize
    from data_ingestion_din_spark.sources.tables import load_table

    emb = load_table(spark, SF, "embeddings")
    codes, cb = pq_assign(emb, n_sub=4, k=4, iters=1)
    q0 = (
        emb.filter(F.col("vec_id") == 0)
        .select(quantize(F.col("embedding")).alias("qv"))
        .collect()[0]
        .qv
    )
    code_map = {
        (r.vec_id, r.m): r.code for r in codes.collect()
    }
    expected = {}
    vec_ids = {v for v, _ in code_map}
    for v in vec_ids:
        if v == 0:
            continue
        expected[v] = sum(
            sum(
                (int(q0[m * 16 + i]) - cb[m][code_map[(v, m)] - 1][i]) ** 2
                for i in range(16)
            )
            for m in range(4)
        )
    rows = QUERIES["similarity_pq_topk"](spark, SF).collect()
    assert rows  # top-10 non-empty
    for r in rows:
        assert expected[r.vec_id] == r.adc_dist
    # exact-cosine rerank ordering, descending with vec_id tiebreak
    keys = [(-r.cos_sim, r.vec_id) for r in rows]
    assert keys == sorted(keys)
    # every returned vec sits inside the ADC shortlist (top-50 by
    # (adc_dist, vec_id))
    shortlist = {
        v for v, _ in sorted(expected.items(), key=lambda kv: (kv[1], kv[0]))[:50]
    }
    assert all(r.vec_id in shortlist for r in rows)


def test_semdedup_prune_agrees_with_exact_cosine(spark):
    """Re-derive keep/prune with the division-based exact cosine: a vec
    is pruned iff some lower-id same-cluster member has cos >= 0.4."""
    from data_ingestion_din_spark.functions.vectors import cosine_exact
    from data_ingestion_din_spark.operators.similarity import kmeans_train
    from data_ingestion_din_spark.sources.tables import load_table

    emb = load_table(spark, SF, "embeddings")
    out = {
        r.vec_id: (r.cluster, r.n_close, r.keep)
        for r in QUERIES["dedup_semantic_kmeans"](spark, SF).collect()
    }
    assigned = kmeans_train(emb, k=8, iters=2)[0]
    v = assigned.join(emb, "vec_id")
    a = v.select(
        F.col("vec_id").alias("a_id"),
        F.col("cluster").alias("ac"),
        F.col("embedding").alias("a_emb"),
    )
    b = v.select(
        F.col("vec_id").alias("b_id"),
        F.col("cluster").alias("bc"),
        F.col("embedding").alias("b_emb"),
    )
    close = (
        a.join(b, (F.col("ac") == F.col("bc")) & (F.col("a_id") < F.col("b_id")))
        .withColumn("cos", cosine_exact(F.col("a_emb"), F.col("b_emb")))
        .filter(F.col("cos") >= 0.4)
        .groupBy("b_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    expect_n = {r.b_id: r.n for r in close}
    for vec_id, (_, n_close, keep) in out.items():
        assert n_close == expect_n.get(vec_id, 0)
        assert keep == (n_close == 0)
    # clusters in the output match the verified k-means assignment
    clusters = {r.vec_id: r.cluster for r in assigned.collect()}
    for vec_id, (cluster, _, _) in out.items():
        assert clusters[vec_id] == cluster


def test_hll_estimate_error_bounded(spark):
    """m=64 registers → standard error 1.04/√64 = 13%; assert every
    per-type estimate is within 3σ (≈40%) of the exact count."""
    rows = QUERIES["events_hll_distinct"](spark, SF01).collect()
    assert rows
    for r in rows:
        assert r.n_buckets <= 64
        rel = abs(r.hll_estimate - r.n_exact) / r.n_exact
        assert rel < 0.4, f"{r.event_type}: {r.hll_estimate} vs {r.n_exact}"


def test_bigram_lm_score_bounds(spark):
    rows = QUERIES["doc_bigram_lm_score"](spark, SF).collect()
    assert rows
    for r in rows:
        # every doc bigram occurs at least once corpus-wide (itself)
        assert r.freq_sum >= r.n_bigrams
        assert r.avg_pair_freq >= 1.0
        assert 0.0 <= r.common_ratio <= 1.0


def test_bpe_merge_step_ranking(spark):
    rows = QUERIES["corpus_bpe_merge_step"](spark, SF).collect()
    assert [r.rk for r in rows] == list(range(1, len(rows) + 1))
    assert all(len(r.pair) == 2 for r in rows)
    ns = [r.n for r in rows]
    assert ns == sorted(ns, reverse=True)
    assert len({r.pair for r in rows}) == len(rows)


def test_phrase_mining_score_recompute(spark):
    """Re-derive the Mikolov phrase score driver-side from raw token
    streams and pin the top-k list (order and values)."""
    import collections

    from data_ingestion_din_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents").select("text").collect()
    uni: collections.Counter = collections.Counter()
    pairs: collections.Counter = collections.Counter()
    for r in docs:
        toks = [t for t in r.text.split(" ") if t]
        uni.update(toks)
        pairs.update(zip(toks, toks[1:]))
    big_n = sum(uni.values())
    scored = [
        (
            (pn - 5) * big_n / (uni[h] * uni[x]),
            h,
            x,
            pn,
        )
        for (h, x), pn in pairs.items()
        if pn >= 10
    ]
    expect = sorted(scored, key=lambda s: (-s[0], s[1], s[2]))[:30]
    rows = QUERIES["corpus_phrase_mining"](spark, SF).collect()
    assert len(rows) == len(expect)
    for r, (score, h, x, pn) in zip(rows, expect):
        assert (r.head, r.next, r.pair_n) == (h, x, pn)
        assert abs(r.score - score) < 1e-9


def test_textrank_matches_driver_recompute(spark):
    """Re-run the three integer PageRank iterations in plain Python from
    raw token streams and pin the top-20 (tokens, scaled ranks, order)."""
    import collections

    from data_ingestion_din_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents").select("text").collect()
    pairs: collections.Counter = collections.Counter()
    for r in docs:
        toks = [t for t in r.text.split(" ") if t]
        pairs.update(zip(toks, toks[1:]))
    edges: collections.Counter = collections.Counter()
    for (h, x), n in pairs.items():
        if n >= 5:
            edges[(h, x)] += n
            edges[(x, h)] += n
    s: collections.Counter = collections.Counter()
    for (src, _), w in edges.items():
        s[src] += w
    r_cur = {tok: 1_000_000 for tok in s}
    for _ in range(3):
        inc: collections.Counter = collections.Counter()
        for (src, dst), w in edges.items():
            inc[dst] += (r_cur[src] * w) // s[src]
        r_cur = {tok: 150_000 + (85 * v) // 100 for tok, v in inc.items()}
    expect = sorted(r_cur.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    rows = QUERIES["corpus_textrank_keywords"](spark, SF).collect()
    assert [(r.token, r.rank_scaled) for r in rows] == expect
    assert [r.rk for r in rows] == list(range(1, len(rows) + 1))


def test_ngram_perplexity_backoff_and_split(spark):
    """The %4-trainer calibration claims: (1) held-out docs genuinely
    exercise the Stupid-Backoff path, (2) train-slice docs never do
    (their bigrams are in the LM by construction), (3) the cutoff
    splits the corpus rather than waving everyone through, (4) the
    milli-octave normalization is internally consistent."""
    rows = QUERIES["doc_ngram_perplexity"](spark, SF01).collect()
    assert rows
    in_train = [r for r in rows if r.doc_id % 4 == 0]
    held_out = [r for r in rows if r.doc_id % 4 != 0]
    assert all(r.n_backoff == 0 for r in in_train)
    assert sum(r.n_backoff for r in held_out) > 0
    kept = {r.keep for r in rows}
    assert kept == {True, False}, "cutoff must split the corpus"
    for r in rows:
        assert 0 <= r.n_backoff <= r.n_bigrams
        assert r.ppl_milli == r.q_sum * 1000 // r.n_bigrams
        assert r.keep == (r.ppl_milli <= 4650)


def test_unigram_viterbi_optimality_bruteforce(spark):
    """The mapInPandas Viterbi must return the TRUE minimum of
    obj = Σ(64·(nrm−score)+1) over every segmentation whose pieces are
    all in the vocabulary — brute-forced per word (≤ 2^7 splits at
    WMAX=8), using the same frozen vocab/normalizer the kernel got."""
    from itertools import product

    from data_ingestion_din_spark.plans.unigram_queries import (
        _UNI_LMAX,
        _uni_run,
    )

    vocab, nrm, verdicts = _uni_run(spark, SF01)
    got = {r.w: (r.obj, r.n_pieces, r.cost_sum) for r in verdicts.collect()}
    # derive nrm from any single-piece word: obj = 64*(nrm-score)+1

    def brute(w):
        n = len(w)
        best = None
        # bitmask of split points between chars
        for mask in product([0, 1], repeat=n - 1):
            cuts = [0] + [i + 1 for i, b in enumerate(mask) if b] + [n]
            pieces = [w[a:b] for a, b in zip(cuts, cuts[1:])]
            if any(len(p) > _UNI_LMAX or p not in vocab for p in pieces):
                continue
            obj = sum(64 * (nrm - vocab[p]) + 1 for p in pieces)
            if best is None or obj < best:
                best = obj
        return best

    for w, (obj, n_pieces, cost_sum) in got.items():
        assert obj == brute(w), w
        assert obj == 64 * cost_sum + n_pieces, w


def test_unigram_em_step_improves_likelihood(spark):
    """One EM round must not hurt: unused pieces prune out of the
    vocabulary and the corpus-weighted integer NLL does not increase
    (the EM monotonicity the M-step buys, surviving the octave
    quantization on this fixture)."""
    r = QUERIES["corpus_unigram_em_step"](spark, SF01).collect()[0]
    assert r.n_vocab_r1 <= r.n_vocab_r0
    assert r.n_pieces_used <= r.n_vocab_r1
    assert r.corpus_cost_r1 <= r.corpus_cost_r0
    assert r.fertility_r1 <= r.fertility_r0 + 1e-9


def test_kmeans_train_qv_staged_base_and_seeds_exact(spark):
    """The nlist sweep's shared-staging shortcuts (pre-checkpointed
    base + caller-supplied max-k seed slice) must reproduce the default
    training byte-for-byte: same assignments, same centroids."""
    from data_ingestion_din_spark.functions.vectors import quantize
    from data_ingestion_din_spark.operators.similarity import (
        kmeans_train_qv,
    )
    from data_ingestion_din_spark.sources.tables import load_table

    emb = load_table(spark, SF, "embeddings")
    qv = emb.select("vec_id", quantize(F.col("embedding")).alias("qv"))
    base = qv.localCheckpoint(eager=True)
    seed_rows = base.orderBy("vec_id").limit(16).collect()
    for k in (4, 16):
        a_def, c_def = kmeans_train_qv(qv, k=k, iters=2)
        a_st, c_st = kmeans_train_qv(
            base,
            k=k,
            iters=2,
            base_staged=True,
            seed_cents=[list(r.qv) for r in seed_rows[:k]],
        )
        assert c_def == c_st
        assert sorted(map(tuple, a_def.collect())) == sorted(
            map(tuple, a_st.collect())
        )
