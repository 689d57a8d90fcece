"""Plan-assertion tests for the most expensive registered queries —
PLANS.md's prose claims (shuffle counts, broadcast choices, no
cartesians) turned into enforced invariants, generalizing
tests/test_colocate.py's zero-Exchange check. A future edit that
degrades a plan (drops a broadcast hint, adds an Exchange, introduces a
CartesianProduct) fails here before it ever reaches a bench run.

Counts are taken from the ADAPTIVE INITIAL plan (explain "simple") at
local[4]: Exchange bounds are ≤ (AQE can only remove, the bound catches
additions), required broadcasts are ≥, cartesian/nested-loop joins must
be absent except where a documented 1-row/constant-side probe exists.
"""

from __future__ import annotations

import contextlib
import io

from data_ingestion_din_spark.plans import QUERIES

SF = "/root/testdata/sf0.001"


def _plan_stats(df) -> dict[str, int]:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="simple")
    lines = buf.getvalue().splitlines()

    def n(tok: str) -> int:
        return sum(1 for ln in lines if tok in ln)

    return {
        "exchange": n("Exchange"),
        "bhj": n("BroadcastHashJoin"),
        "cartesian": n("CartesianProduct") + n("BroadcastNestedLoopJoin"),
        "map_in_pandas": n("MapInPandas"),
        "smj": n("SortMergeJoin"),
        "existing_rdd": n("ExistingRDD"),
        "range_partitioning": n("rangepartitioning"),
    }


def _stats(name: str, spark) -> dict[str, int]:
    return _plan_stats(QUERIES[name](spark, SF))


def test_embedding_near_dup_lsh_plan(spark):
    s = _stats("embedding_near_dup_lsh", spark)
    # multi-table LSH: banded candidates only — never all-pairs
    assert s["cartesian"] == 0, s
    assert s["exchange"] <= 5, s
    assert s["bhj"] >= 1, s


def test_ngram_jaccard_capped_plan(spark):
    s = _stats("ngram_jaccard_capped", spark)
    # inverted-index join; the stop-shingle cap keeps it equi-join-only
    assert s["cartesian"] == 0, s
    assert s["exchange"] <= 22, s


def test_dedup_simhash_near_plan(spark):
    s = _stats("dedup_simhash_near", spark)
    # 16-bit band equi-join, Hamming verify on candidates only
    assert s["cartesian"] == 0, s
    assert s["exchange"] <= 6, s


def test_doc_semantic_chunks_plan(spark):
    s = _stats("doc_semantic_chunks", spark)
    # exactly ONE Python boundary (the stateful partition walk)
    assert s["map_in_pandas"] == 1, s
    assert s["cartesian"] == 0, s
    assert s["exchange"] <= 5, s


def test_q21_waiting_suppliers_plan(spark):
    s = _stats("q21_waiting_suppliers", spark)
    # EXISTS/NOT-EXISTS decorrelated to hash semi/anti joins — no
    # correlated re-execution, no nested loop
    assert s["cartesian"] == 0, s
    assert s["exchange"] <= 7, s
    assert s["bhj"] >= 1, s


def test_events_funnel_plan(spark):
    s = _stats("events_funnel", spark)
    # the 1-shuffle funnel: user partitioning + final singleton agg
    assert s["exchange"] <= 2, s
    assert s["cartesian"] == 0, s


def test_corpus_decontaminate_plan(spark):
    s = _stats("corpus_decontaminate", spark)
    # eval shingles are the BROADCAST side; corpus never shuffles
    # before the contamination count
    assert s["bhj"] >= 1, s
    assert s["cartesian"] == 0, s
    assert s["exchange"] <= 5, s


def test_q9_product_profit_plan(spark):
    s = _stats("q9_product_profit", spark)
    # the only nested-loop joins are the partsupp derivation's
    # documented broadcast constant sides (4-row range, 1-row count)
    assert s["cartesian"] <= 2, s
    assert s["bhj"] >= 3, s
    assert s["exchange"] <= 11, s


def test_blocks_merged_plan(spark):
    s = _stats("blocks_merged", spark)
    assert s["cartesian"] == 0, s
    assert s["exchange"] <= 5, s


def test_validation_issues_plan(spark):
    s = _stats("validation_issues", spark)
    assert s["cartesian"] == 0, s
    assert s["exchange"] <= 7, s


# ---- round-4 additions (VERDICT r4 ask #7) ----


def test_dedup_keep_best_plan(spark):
    s = _stats("dedup_keep_best", spark)
    # CC over banded candidates + broadcast-joined length argmax: the
    # doc-length side broadcasts, nothing goes cartesian
    assert s["cartesian"] == 0, s
    assert s["bhj"] >= 1, s
    assert s["exchange"] <= 4, s


def test_chunk_level_dedup_plan(spark):
    s = _stats("chunk_level_dedup", spark)
    # exactly the two data shuffles: fp-rank window, per-doc rollup
    # (+ the final presentation sort)
    assert s["cartesian"] == 0, s
    assert s["exchange"] <= 3, s
    assert s["smj"] == 0, s  # join-free since the row_number rewrite


def test_table_transactions_dated_plan(spark):
    s = _stats("table_transactions_dated", spark)
    # pure regexp+integer chain past the entity derivation: NO joins
    assert s["cartesian"] == 0 and s["bhj"] == 0 and s["smj"] == 0, s
    assert s["exchange"] <= 2, s


def test_corpus_mixture_epochs_plan(spark):
    s = _stats("corpus_mixture_epochs", spark)
    # per-row epoch explode + small-key groupBy — no joins
    assert s["cartesian"] == 0 and s["smj"] == 0, s
    assert s["exchange"] <= 3, s


def test_corpus_distinctive_terms_plan(spark):
    s = _stats("corpus_distinctive_terms", spark)
    # one (lang, term) shuffle chain + broadcast 5-row lang sizes
    assert s["cartesian"] == 0, s
    assert s["bhj"] >= 1, s
    assert s["exchange"] <= 6, s


# ---- round-5 additions ----


def test_overlay_boxes_plan(spark):
    s = _stats("overlay_boxes", spark)
    # three narrow entity scans unioned: zero joins, only the
    # presentation sort exchanges
    assert s["cartesian"] == 0 and s["bhj"] == 0 and s["smj"] == 0, s
    assert s["exchange"] <= 1, s


def test_eval_judged_scores_plan(spark):
    s = _stats("eval_judged_scores", spark)
    # exactly ONE Python boundary: the judge inference stage
    assert s["map_in_pandas"] == 1, s
    assert s["cartesian"] == 0, s
    assert s["exchange"] <= 1, s


def test_eval_judged_summary_plan(spark):
    s = _stats("eval_judged_summary", spark)
    # judged frame is STAGED (localCheckpoint) so the summary's two
    # union branches do NOT each re-run the judge — the plan reads the
    # staged result (0 visible MapInPandas; the stage runs once at
    # checkpoint materialization)
    assert s["map_in_pandas"] == 0, s
    assert s["exchange"] <= 3, s


def test_corpus_pack_sequences_sharded_plan(spark):
    s = _stats("corpus_pack_sequences_sharded", spark)
    # one (lang, shard) repartition + the single walker boundary
    assert s["map_in_pandas"] == 1, s
    assert s["cartesian"] == 0 and s["smj"] == 0, s
    assert s["exchange"] <= 2, s


def test_retrieval_hybrid_rrf_plan(spark):
    s = _stats("retrieval_hybrid_rrf", spark)
    buf_df = QUERIES["retrieval_hybrid_rrf"](spark, SF)
    plan = _plan_stats(buf_df)
    # the only nested-loop is the broadcast 1-row query-vector attach;
    # candidate cuts are TakeOrderedAndProject (per-task heaps), fusion
    # joins two <=N-row sides
    assert s["cartesian"] <= 1, s
    assert s["exchange"] <= 2, s
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        buf_df.explain(mode="simple")
    assert buf.getvalue().count("TakeOrderedAndProject") >= 3


def test_doc_rare_token_ratio_plan(spark):
    s = _stats("doc_rare_token_ratio", spark)
    # token-df shuffle + join-back + doc rollup: equi-joins only
    assert s["cartesian"] == 0, s
    assert s["exchange"] <= 5, s


def test_dedup_incremental_batch_plan(spark):
    s = _stats("dedup_incremental_batch", spark)
    # batch bands probe corpus bands via equi-join only — no corpus
    # self-join, no cartesian; verify + argmax + left join bounded
    assert s["cartesian"] == 0, s
    assert s["exchange"] <= 9, s


def test_events_latest_snapshot_plan(spark):
    s = _stats("events_latest_snapshot", spark)
    # one shuffle on the upsert key + presentation sort; join-free
    assert s["cartesian"] == 0 and s["smj"] == 0 and s["bhj"] == 0, s
    assert s["exchange"] <= 2, s


def test_corpus_bigram_lm_plan(spark):
    s = _stats("corpus_bigram_lm", spark)
    # one (head, next) shuffle; head totals via window on the same
    # partitioning — join-free
    assert s["cartesian"] == 0 and s["smj"] == 0 and s["bhj"] == 0, s
    assert s["exchange"] <= 3, s


def test_corpus_length_percentiles_plan(spark):
    s = _stats("corpus_length_percentiles", spark)
    assert s["cartesian"] == 0 and s["smj"] == 0 and s["bhj"] == 0, s
    assert s["exchange"] <= 2, s


def test_events_anomaly_zscore_plan(spark):
    s = _stats("events_anomaly_zscore", spark)
    # per-type stats re-join the corpus BROADCAST, never shuffled
    assert s["bhj"] >= 1 and s["smj"] == 0, s
    assert s["cartesian"] == 0, s
    assert s["exchange"] <= 3, s


def test_corpus_langid_confusion_plan(spark):
    s = _stats("corpus_langid_confusion", spark)
    # the only nested-loop is the broadcast 5-row profile-array attach;
    # scoring itself is explode-free (no corpus-sized hits shuffle)
    assert s["cartesian"] <= 1, s
    assert s["exchange"] <= 7, s


def test_dedup_semantic_kmeans_plan(spark):
    s = _stats("dedup_semantic_kmeans", spark)
    # cluster-local pairwise: cluster equi-join (sort-merge at scale),
    # NEVER a cartesian all-pairs
    assert s["cartesian"] == 0, s
    assert s["exchange"] <= 5, s


def test_similarity_pq_topk_plan(spark):
    s = _stats("similarity_pq_topk", spark)
    # ADC scoring is a narrow projection over codes; the only nested-loop
    # is the documented broadcast 1-row probe-vector attach
    assert s["cartesian"] <= 1, s
    assert s["exchange"] <= 3, s
    assert s["bhj"] >= 1, s


def test_doc_bigram_lm_score_plan(spark):
    s = _stats("doc_bigram_lm_score", spark)
    # pair-count shuffle + pair-key join back + doc rollup
    assert s["cartesian"] == 0, s
    assert s["exchange"] <= 4, s


def test_events_hll_distinct_plan(spark):
    s = _stats("events_hll_distinct", spark)
    # register build: distinct + (type, bucket) max + type rollup; exact
    # side joins back — constant sketch state per group, no cartesian
    assert s["cartesian"] == 0, s
    assert s["exchange"] <= 6, s


def test_dq_completeness_hll_ab_plan(spark):
    s = _stats("dq_completeness_hll_ab", spark)
    # one dedup exchange on (cid, h), the register rollup (which also
    # counts the exact distinct hashes), the per-(cid, m) sum, and the
    # broadcast of the local names relation; the <= 100 result rows sort
    # in one partition, so no range exchange and no sampling job
    assert s["existing_rdd"] == 0, s
    assert s["range_partitioning"] == 0, s
    assert s["exchange"] <= 4, s
    assert s["bhj"] == 1, s


def test_corpus_bpe_merge_step_plan(spark):
    s = _stats("corpus_bpe_merge_step", spark)
    # word-vocab shuffle + pair shuffle; top-k is TakeOrdered before the
    # 20-row rank window
    assert s["cartesian"] == 0, s
    assert s["exchange"] <= 2, s


def test_corpus_phrase_mining_plan(spark):
    s = _stats("corpus_phrase_mining", spark)
    # pair + unigram count shuffles, token-key joins back; the only
    # nested-loop is the broadcast 1-row corpus-total attach
    assert s["cartesian"] <= 1, s
    assert s["exchange"] <= 8, s


def test_corpus_textrank_keywords_plan(spark):
    s = _stats("corpus_textrank_keywords", spark)
    # vocabulary-sized graph: 3 iterations of edge-rank equi-join +
    # dst aggregation, no cartesian anywhere in the loop
    assert s["cartesian"] == 0, s
    assert s["exchange"] <= 13, s


def test_retrieval_bm25_plan(spark):
    s = _stats("retrieval_bm25", spark)
    # df side and corpus-stats scalar are broadcast; the only
    # nested-loop is the documented 1-row stats crossJoin
    assert s["bhj"] >= 2, s
    assert s["cartesian"] <= 1, s
    assert s["exchange"] <= 8, s


def test_bloom_join_prune_plan(spark):
    s = _stats("bloom_join_prune", spark)
    # bit set broadcast — the probe side never shuffles on the join key;
    # nested-loops are only the three 1-row summary-scalar crossJoins
    assert s["bhj"] >= 2, s
    assert s["cartesian"] <= 3, s
    assert s["exchange"] <= 9, s


def test_events_scd2_intervals_plan(spark):
    s = _stats("events_scd2_intervals", spark)
    # ONE user_id shuffle serves lag + version counter + lead (plus the
    # final presentation orderBy)
    assert s["exchange"] <= 2, s
    assert s["cartesian"] == 0, s


def test_events_histogram_quantiles_plan(spark):
    s = _stats("events_histogram_quantiles", spark)
    # per-type stats / histogram rows are broadcast to the probe sides
    assert s["bhj"] >= 3, s
    assert s["cartesian"] == 0, s
    assert s["exchange"] <= 9, s


def test_corpus_bpe_encode_plan(spark):
    s = _stats("corpus_bpe_encode", spark)
    # vocabulary agg + token rollup only; the 8 fold passes are narrow
    assert s["exchange"] <= 2, s
    assert s["cartesian"] == 0, s


def test_doc_tfidf_cosine_topk_plan(spark):
    s = _stats("doc_tfidf_cosine_topk", spark)
    # staged weight table feeds three branches; inverted-index equi-join
    # only — never an all-pairs product
    assert s["cartesian"] == 0, s
    assert s["exchange"] <= 6, s


def test_ingest_quarantine_plan(spark):
    s = _stats("ingest_quarantine", spark)
    # parse + route at scan speed; one small-cardinality agg
    assert s["exchange"] <= 2, s
    assert s["cartesian"] == 0, s


def test_user_erasure_plan(spark):
    s = _stats("user_erasure", spark)
    # erased sets broadcast into semi-joins; nested loops are only the
    # four 1-row audit-scalar crossJoins
    assert s["bhj"] >= 3, s
    assert s["cartesian"] <= 4, s
    assert s["exchange"] <= 15, s


def test_corpus_bigram_generate_plan(spark):
    # Final plan: the seed agg and all 6 decode probes are staged 1-row
    # localCheckpoints, so the union is 7 trivial scans + one ordering
    # Exchange. Dropping the staging re-inlines every earlier step into
    # every later one (measured: 28 Exchanges / 21 BroadcastHashJoins /
    # 28 TakeOrderedAndProject with 7 copies of the corpus token
    # shuffle) and fails the bounds here.
    s = _stats("corpus_bigram_generate", spark)
    assert s["exchange"] <= 2, s
    assert s["bhj"] == 0, s
    assert s["cartesian"] == 0, s
    assert s["smj"] == 0, s

    # Per-step probe shape (hidden behind the checkpoint in the final
    # plan): 1-row broadcast probe equi-joined into the bigram table,
    # argmax via TakeOrderedAndProject — never a shuffle join.
    from pyspark.sql import functions as F

    from data_ingestion_din_spark.plans.text_pipeline import _decode_step

    pc = spark.createDataFrame(
        [("a", "b", 3), ("b", "c", 2)], "head string, next string, pair_n bigint"
    )
    cur = spark.createDataFrame([("a", 3)], "token string, cnt bigint")
    p = _plan_stats(_decode_step(pc, cur, stage=False))
    assert p["bhj"] >= 1, p
    assert p["smj"] == 0, p
    assert p["cartesian"] == 0, p


def test_media_phash_near_dup_plan(spark):
    # banded Hamming candidate join: equi-join on (band_id, band_value)
    # over the staged pHash table — never an all-pairs product; the one
    # Python (Arrow) boundary runs at staging, so the final plan has no
    # MapInPandas and only the explode/join/agg exchanges
    s = _stats("media_phash_near_dup", spark)
    assert s["cartesian"] == 0, s
    assert s["map_in_pandas"] == 0, s  # staged before the self-join
    assert s["exchange"] <= 6, s


def test_media_phash_clusters_plan(spark):
    # CC output + one equi-join for payload sizes + the keep-best
    # window; the iterative label propagation happens at construction
    # (checkpointed), so the final plan carries no cartesian and no
    # Python boundary
    s = _stats("media_phash_clusters", spark)
    assert s["cartesian"] == 0, s
    assert s["map_in_pandas"] == 0, s
    assert s["exchange"] <= 8, s


def test_dq_expectations_plan(spark):
    # fused per-table aggregation: 12 non-join expectations ride 6
    # table scans (explode of a 1-row multi-metric agg), plus 2 scans
    # per FK anti-join; un-fusing back to one-scan-per-check pushes the
    # scan count past this bound
    s = _plan_stats(QUERIES["dq_expectations"](spark, SF))
    assert s["cartesian"] == 0, s
    assert s["bhj"] >= 3, s  # the three FK checks broadcast a side
    buf_scans = _scan_count(QUERIES["dq_expectations"](spark, SF))
    assert buf_scans <= 12, buf_scans


def _scan_count(df) -> int:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="simple")
    return sum(
        1 for ln in buf.getvalue().splitlines() if "Scan parquet" in ln
    )


def test_ask_pipeline_plan(spark):
    s = _stats("ask_pipeline", spark)
    # composed /ask serving path: the only nested-loop is the broadcast
    # 1-row probe-vector attach; candidate cuts are TakeOrderedAndProject
    # heaps; the ≤30-row candidate list broadcasts back for the guard —
    # no extra shuffles past the top-k beyond the ≤10-row budget window
    assert s["cartesian"] <= 1, s
    assert s["bhj"] >= 1, s
    assert s["exchange"] <= 3, s
    assert s["smj"] == 0, s
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        QUERIES["ask_pipeline"](spark, SF).explain(mode="simple")
    assert buf.getvalue().count("TakeOrderedAndProject") >= 2
    # the source scope must reach the documents parquet scan as a
    # pushed filter — a plan that reads the whole corpus and filters
    # post-scan is wrong at 100 TB
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        QUERIES["ask_pipeline"](spark, SF).explain(mode="formatted")
    assert "In(source" in buf.getvalue()


# ---------------------------------------------------------------------------
# foreachBatch per-batch plan shapes (VERDICT r6 #6): drive each streaming
# processor's plan() on a static batch against real epoch-0 state and pin
# Exchange bounds, no cartesians, and — the state-side-join rule — ZERO
# forced broadcast hints anywhere in the batch plans (the replay tests
# prove the state machinery; these prove a refactor can't silently pin a
# corpus-growing state table into executor memory again).
# ---------------------------------------------------------------------------


def _hint_count(df) -> int:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="extended")
    return buf.getvalue().count("strategy=broadcast")


def _batch_fixtures(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 6
    b0 = spark.createDataFrame(
        [(0, base), (2, "totally different words here " * 8)],
        "doc_id bigint, text string",
    )
    b1 = spark.createDataFrame(
        [(1, base), (3, "unrelated third payload " * 10)],
        "doc_id bigint, text string",
    )
    return b0, b1


def test_funnel_processor_batch_plan(spark, tmp_path):
    from data_ingestion_din_spark.plans.streaming_gates import _funnel_processor

    p = _funnel_processor(
        str(tmp_path / "o"), str(tmp_path / "f"), str(tmp_path / "l")
    )
    b0, b1 = _batch_fixtures(spark)
    p(b0, 0)
    dfs = p.plan(b1, 1)
    for df in dfs.values():
        s = _plan_stats(df)
        assert s["cartesian"] == 0, s
        assert _hint_count(df) == 0  # state-side anti-join stays plain
    assert _plan_stats(dfs["audit"])["exchange"] <= 4


def test_minhash_index_processor_batch_plan(spark, tmp_path):
    from data_ingestion_din_spark.plans.streaming_indexes import _minhash_index_processor

    p = _minhash_index_processor(str(tmp_path / "o"), str(tmp_path / "s"))
    b0, b1 = _batch_fixtures(spark)
    p(b0, 0)
    dfs = p.plan(b1, 1)
    for df in dfs.values():
        s = _plan_stats(df)
        assert s["cartesian"] == 0, s
        assert _hint_count(df) == 0
    assert _plan_stats(dfs["decisions"])["exchange"] <= 7


def test_phash_index_processor_batch_plan(spark, tmp_path):
    from data_ingestion_din_spark.plans.streaming_indexes import _phash_index_processor

    p = _phash_index_processor(str(tmp_path / "o"), str(tmp_path / "p"))
    b0, b1 = _batch_fixtures(spark)
    p(b0, 0)
    dfs = p.plan(b1, 1)
    for df in dfs.values():
        s = _plan_stats(df)
        assert s["cartesian"] == 0, s
        assert _hint_count(df) == 0
    assert _plan_stats(dfs["decisions"])["exchange"] <= 7


def test_scd2_processor_batch_plan(spark, tmp_path):
    from pyspark.sql import functions as F

    from data_ingestion_din_spark.plans.streaming_cdc import _scd2_processor

    p = _scd2_processor(str(tmp_path / "o"))
    ev0 = spark.createDataFrame(
        [(7, 1, "a", "2024-01-01 00:00:00"), (7, 2, "b", "2024-01-01 01:00:00")],
        "user_id bigint, event_id bigint, event_type string, ts_s string",
    ).select("user_id", "event_id", "event_type", F.to_timestamp("ts_s").alias("ts"))
    ev1 = spark.createDataFrame(
        [(7, 3, "b", "2024-01-02 00:00:00")],
        "user_id bigint, event_id bigint, event_type string, ts_s string",
    ).select("user_id", "event_id", "event_type", F.to_timestamp("ts_s").alias("ts"))
    p(ev0, 0)
    rows = p.plan(ev1, 1)
    s = _plan_stats(rows)
    assert s["cartesian"] == 0, s
    assert s["exchange"] <= 4, s
    assert _hint_count(rows) == 0


def test_dedup_substring_spans_plan(spark):
    s = _stats("dedup_substring_spans", spark)
    # window fingerprints: one wfp shuffle shared by the dup aggregate
    # and the semi-join, one doc_id shuffle for the island window —
    # never a cartesian, nothing broadcast-forced (dup set grows with
    # the corpus)
    assert s["cartesian"] == 0, s
    assert s["exchange"] <= 6, s


def test_dedup_substring_removal_plan(spark):
    s = _stats("dedup_substring_removal", spark)
    # spans pipeline + one left join back to documents; the token
    # excision itself is a pure indexed-lambda projection
    assert s["cartesian"] == 0, s
    assert s["exchange"] <= 8, s


def test_doc_quality_classifier_plan(spark):
    s = _stats("doc_quality_classifier", spark)
    # the top-K vocab is bounded by construction → broadcast join is
    # REQUIRED here (the one correct broadcast of a derived table)
    assert s["bhj"] >= 1, s
    assert s["cartesian"] == 0, s
    assert s["exchange"] <= 6, s


def test_similarity_ivf_incremental_plan(spark):
    s = _stats("similarity_ivf_incremental", spark)
    # batch routing against the frozen centroid LITERAL: no join at all
    # on the batch side, so no cartesian and no broadcast requirement;
    # the merged per-cell audit is one shuffle + final sort
    assert s["cartesian"] == 0, s
    assert s["exchange"] <= 5, s


def test_ivf_index_processor_batch_plan(spark, tmp_path):
    from data_ingestion_din_spark.plans.streaming_indexes import _ivf_index_processor

    p = _ivf_index_processor(str(tmp_path / "o"), str(tmp_path / "c"), k=2)

    def vec(base):
        return [float(base)] * 8

    b0 = spark.createDataFrame(
        [(0, vec(0.0)), (1, vec(0.01)), (10, vec(5.0))],
        "vec_id bigint, embedding array<float>",
    )
    p(b0, 0)
    b1 = spark.createDataFrame(
        [(20, vec(0.02))], "vec_id bigint, embedding array<float>"
    )
    dfs = p.plan(b1, 1)
    # routing epoch: pure argmin against the centroid LITERAL — no join
    # machinery at all on the batch side, no forced broadcasts
    s = _plan_stats(dfs["assignments"])
    assert s["cartesian"] == 0, s
    assert s["exchange"] == 0, s
    assert _hint_count(dfs["assignments"]) == 0
    assert dfs["new_cents"] is None  # frozen after the training epoch


def test_similarity_ivfpq_topk_plan(spark):
    s = _stats("similarity_ivfpq_topk", spark)
    # cell semi-join prunes the codes BEFORE ADC scoring; the only
    # nested loop is the documented 1-row broadcast probe attach
    assert s["cartesian"] <= 1, s
    assert s["exchange"] <= 6, s


def test_quality_gate_processor_batch_plan(spark, tmp_path):
    from data_ingestion_din_spark.plans.streaming_gates import _quality_gate_processor

    p = _quality_gate_processor(
        str(tmp_path / "o"), str(tmp_path / "v"), k=3
    )
    b0 = spark.createDataFrame(
        [(0, "alpha beta alpha"), (2, "beta gamma")],
        "doc_id bigint, text string",
    )
    p(b0, 0)
    b1 = spark.createDataFrame(
        [(1, "alpha novel")], "doc_id bigint, text string"
    )
    dfs = p.plan(b1, 1)
    s = _plan_stats(dfs["verdicts"])
    # scoring epoch: frozen top-K vocab broadcast (the bounded class —
    # this broadcast is REQUIRED), one shuffle for the per-doc sums
    assert s["cartesian"] == 0, s
    assert s["bhj"] >= 1, s
    assert s["exchange"] <= 3, s
    assert dfs["new_vocab"] is None  # frozen after the training epoch


def test_rank_topk_global_window_sits_above_limit(spark):
    """Every partition-less row_number window in the registry must see a
    ≤k-row input: rank_topk makes that structural, and this pins the
    physical shape — the WindowExec's subtree contains the
    TakeOrderedAndProject cut (parents print before children, so the
    Window line precedes it). A refactor that ranks before the Limit
    reorders the nodes and fails here (VERDICT r8 "What's wrong" #1)."""
    for name in (
        "corpus_dsir_select",
        "corpus_phrase_mining",
        "corpus_textrank_keywords",
        "corpus_bpe_merge_step",
    ):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            QUERIES[name](spark, SF).explain(mode="simple")
        lines = buf.getvalue().splitlines()
        win = [i for i, ln in enumerate(lines) if "Window" in ln]
        assert win, f"{name}: expected a Window node"
        cut = [
            i for i, ln in enumerate(lines) if "TakeOrderedAndProject" in ln
        ]
        assert cut and min(cut) > min(win), (
            f"{name}: global window must be fed by TakeOrderedAndProject "
            f"(window at line {min(win)}, cut at {cut})"
        )


def test_corpus_dsir_select_plan(spark):
    s = _stats("corpus_dsir_select", spark)
    # B-row ratio table and 1-row totals attach as broadcasts; the only
    # Exchanges are the (doc, bucket) count shuffle (paid once — the
    # checkpoint feeds both consumers), the B-row distribution agg, and
    # the final TakeOrdered. crossJoin(1-row totals) is the documented
    # constant-side probe.
    assert s["bhj"] >= 1, s
    assert s["cartesian"] <= 1, s
    assert s["exchange"] <= 6, s


def test_substring_index_processor_batch_plan(spark, tmp_path):
    from data_ingestion_din_spark.plans.streaming_indexes import _substring_index_processor

    p = _substring_index_processor(
        str(tmp_path / "o"), str(tmp_path / "w"), w=3
    )
    b0, b1 = _batch_fixtures(spark)
    p(b0, 0)
    dfs = p.plan(b1, 1)
    for df in dfs.values():
        s = _plan_stats(df)
        assert s["cartesian"] == 0, s
        # the fingerprint index grows with the corpus — the state-side
        # probe join must stay a PLAIN equi-join, never broadcast-forced
        assert _hint_count(df) == 0
    assert _plan_stats(dfs["verdicts"])["exchange"] <= 8


def test_dsir_gate_processor_batch_plan(spark, tmp_path):
    from data_ingestion_din_spark.plans.streaming_gates import _dsir_gate_processor

    p = _dsir_gate_processor(str(tmp_path / "o"), str(tmp_path / "r"))
    b0 = spark.createDataFrame(
        [(0, "src0", "alpha beta alpha"), (2, "web", "alpha gamma delta")],
        "doc_id bigint, source string, text string",
    )
    p(b0, 0)
    b1 = spark.createDataFrame(
        [(1, "web", "alpha novel")],
        "doc_id bigint, source string, text string",
    )
    dfs = p.plan(b1, 1)
    s = _plan_stats(dfs["verdicts"])
    # scoring epoch: the ≤B-row frozen ratio table broadcast is REQUIRED
    # (the bounded class); the only nested loop is the 1-row offset attach
    assert s["bhj"] >= 1, s
    assert s["cartesian"] <= 1, s
    assert s["exchange"] <= 5, s
    assert dfs["new_ratio"] is None  # frozen after the training epoch


def test_similarity_ivfpq_residual_topk_plan(spark):
    s = _stats("similarity_ivfpq_residual_topk", spark)
    # same composed shape as the raw twin: cell semi-join prunes the
    # codes BEFORE ADC scoring; the only nested loop is the documented
    # 1-row broadcast probe attach
    assert s["cartesian"] <= 1, s
    assert s["exchange"] <= 8, s


def test_similarity_ivfpq_residual_multiprobe_plan(spark):
    s = _stats("similarity_ivfpq_residual_multiprobe", spark)
    # per-cell ADC dispatch is a 3-arm CASE over bounded literals; the
    # candidates arrive via the cluster membership equi-join
    assert s["cartesian"] <= 1, s
    assert s["exchange"] <= 8, s


def test_multimodal_clip_gate_plan(spark):
    s = _stats("multimodal_clip_gate", spark)
    # cross-modality pairing is a doc_id EQUI-join (image and caption
    # co-partition on the pair key) — never all-pairs, nothing
    # broadcast-forced on a corpus-growing side
    assert s["cartesian"] == 0, s
    assert s["exchange"] <= 8, s


def test_corpus_bpe_pipeline_plan(spark):
    s = _stats("corpus_bpe_pipeline", spark)
    # the composition reads the staged training run's final checkpoint:
    # one token rollup shuffle + the top-k cut, no joins
    assert s["cartesian"] == 0 and s["smj"] == 0, s
    assert s["exchange"] <= 2, s


def test_similarity_ivfpq_recall_sweep_plan(spark):
    # batched-probe serving shape: the 20-probe ADC table and the probe
    # cell/embedding tables are the broadcast sides; candidates arrive
    # via the cell membership equi-join; the only nested loops are the
    # bounded constant sides (the 20-row probe attach on the exact side
    # and the two 1-row summary-aggregate crossJoins)
    s = _stats("similarity_ivfpq_recall_sweep", spark)
    assert s["bhj"] >= 2, s
    assert s["cartesian"] <= 3, s
    assert s["exchange"] <= 18, s


def test_similarity_ivfpq_incremental_plan(spark):
    # append maintenance: routing AND encoding are narrow argmin
    # expressions against frozen literals — the batch side carries no
    # join machinery beyond the vec_id equi-joins that attach cluster
    # to codes; no cartesian anywhere
    s = _stats("similarity_ivfpq_incremental", spark)
    assert s["cartesian"] == 0, s
    assert s["exchange"] <= 10, s


def test_ivfpq_index_processor_batch_plan(spark, tmp_path):
    from data_ingestion_din_spark.plans.streaming_indexes import _ivfpq_index_processor

    p = _ivfpq_index_processor(
        str(tmp_path / "o"), str(tmp_path / "c"), str(tmp_path / "b"), k=2
    )

    def vec(base):
        return [float(base)] * 8

    b0 = spark.createDataFrame(
        [(0, vec(0.0)), (1, vec(0.01)), (2, vec(5.0)), (3, vec(5.01))],
        "vec_id bigint, embedding array<float>",
    )
    p(b0, 0)
    b1 = spark.createDataFrame(
        [(20, vec(0.02))], "vec_id bigint, embedding array<float>"
    )
    dfs = p.plan(b1, 1)
    # routing+encoding epoch: argmin against two frozen LITERALS, the
    # only join is the vec_id equi-join attaching cluster to codes —
    # no cartesian, no forced broadcasts, at most the one join shuffle
    s = _plan_stats(dfs["postings"])
    assert s["cartesian"] == 0, s
    assert s["exchange"] <= 3, s
    assert _hint_count(dfs["postings"]) == 0
    assert dfs["new_cents"] is None and dfs["new_cb"] is None


def test_streaming_ivfpq_serve_plan(spark):
    # serving from the maintained posting lists: one cell-filtered scan
    # of the postings + the shortlist rerank; the only nested loop is
    # the broadcast 1-row probe attach
    s = _stats("streaming_ivfpq_serve", spark)
    assert s["cartesian"] <= 1, s
    assert s["exchange"] <= 4, s


def test_bpe_gate_processor_batch_plan(spark, tmp_path):
    from data_ingestion_din_spark.plans.streaming_gates import _bpe_gate_processor

    p = _bpe_gate_processor(str(tmp_path / "o"), str(tmp_path / "m"), steps=2)
    b0 = spark.createDataFrame(
        [(0, "abab abab ab"), (2, "ab cd")], "doc_id bigint, text string"
    )
    p(b0, 0)
    b1 = spark.createDataFrame(
        [(1, "abab xy")], "doc_id bigint, text string"
    )
    dfs = p.plan(b1, 1)
    s = _plan_stats(dfs["verdicts"])
    # encoding epoch: the frozen merges are applied as fold LITERALS (no
    # join machinery for the model at all); the only join is the
    # doc-word ↔ encoded-vocab equi-join, which must NOT carry a
    # broadcast hint — the vocabulary grows with the corpus
    assert s["cartesian"] == 0, s
    assert _hint_count(dfs["verdicts"]) == 0
    assert dfs["new_merges"] is None  # frozen after the training epoch


def test_rollup_processor_batch_plan(spark, tmp_path):
    from pyspark.sql import functions as F

    from data_ingestion_din_spark.plans.streaming_sketches import _rollup_processor

    p = _rollup_processor(str(tmp_path / "s"))
    b0 = spark.createDataFrame(
        [("click", "2024-01-01 10:05:00", 1.5)],
        "event_type string, ts_s string, value double",
    ).select(
        F.col("ts_s").cast("timestamp").alias("ts"), "event_type", "value"
    )
    p(b0, 0)
    b1 = spark.createDataFrame(
        [("view", "2024-01-01 11:05:00", 2.0)],
        "event_type string, ts_s string, value double",
    ).select(
        F.col("ts_s").cast("timestamp").alias("ts"), "event_type", "value"
    )
    merged = p.plan(b1, 1)
    s = _plan_stats(merged)
    # merge epoch: landing partials ∪ prior state re-summed — no join
    # machinery at all, and the state side (grows with rollup history)
    # must never carry a broadcast hint
    assert s["cartesian"] == 0, s
    assert _hint_count(merged) == 0


def test_events_interval_overlap_join_plan(spark):
    s = _stats("events_interval_overlap_join", spark)
    # the whole point: binned equi-join, never a nested-loop theta join
    assert s["cartesian"] == 0, s
    assert s["exchange"] <= 6, s


def test_corpus_heaps_law_plan(spark):
    s = _stats("corpus_heaps_law", spark)
    # 1-row min/max span joins back via broadcast; no global window ever
    # sees corpus-sized input (the running sums ride 10 bucket rows).
    # The span side is 1 row by construction, so its two
    # BroadcastNestedLoopJoin appearances (d is consumed twice) are the
    # documented constant-side class, not all-pairs.
    assert s["cartesian"] <= 2, s
    assert s["bhj"] + s["cartesian"] >= 1, s
    assert s["exchange"] <= 10, s


def test_dq_schema_drift_plan(spark):
    s = _stats("dq_schema_drift", spark)
    # two fused 1-row profiles, ONE evaluation each (the stacked explode
    # replaces a per-column union that would rescan per branch); the
    # 1-row x 1-row join is the documented constant-side class
    assert s["cartesian"] <= 1, s
    assert s["exchange"] <= 8, s
    assert s["smj"] == 0, s


def test_decontam_gate_processor_batch_plan(spark, tmp_path):
    from data_ingestion_din_spark.plans.streaming_gates import _decontam_gate_processor

    p = _decontam_gate_processor(str(tmp_path / "o"), str(tmp_path / "s"))
    b0 = spark.createDataFrame(
        [(14, "w0 w1 w2 w3 w4 w5 w6 w7"), (0, "a b c d e f g h i")],
        "doc_id bigint, text string",
    )
    p(b0, 0)
    b1 = spark.createDataFrame(
        [(1, "w0 w1 w2 w3 w4 w5 w6 w7 tail")], "doc_id bigint, text string"
    )
    dfs = p.plan(b1, 1)
    s = _plan_stats(dfs["verdicts"])
    # scoring epoch: frozen benchmark shingles broadcast (benchmarks are
    # bounded control data — this broadcast is REQUIRED), one shuffle
    # for the per-doc hit counts
    assert s["cartesian"] == 0, s
    assert s["bhj"] >= 1, s
    assert s["exchange"] <= 3, s
    assert dfs["new_state"] is None  # frozen after the training epoch


def test_semdedup_gate_processor_batch_plan(spark, tmp_path):
    from data_ingestion_din_spark.plans.streaming_gates import _semdedup_gate_processor

    p = _semdedup_gate_processor(
        str(tmp_path / "o"), str(tmp_path / "c"), str(tmp_path / "m"), k=2
    )
    dims = 64
    b0 = spark.createDataFrame(
        [(0, [0.5] * dims), (2, [0.5 * (-1) ** i for i in range(dims)])],
        "vec_id bigint, embedding array<float>",
    )
    p(b0, 0)
    b1 = spark.createDataFrame(
        [(1, [0.49] * dims)], "vec_id bigint, embedding array<float>"
    )
    dfs = p.plan(b1, 1)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        dfs["verdicts"].explain(mode="extended")
    txt = buf.getvalue()
    s = _plan_stats(dfs["verdicts"])
    # the member index grows with the corpus — the forbidden broadcast
    # class must never be hinted on its join
    assert "strategy=broadcast" not in txt, txt[-2000:]
    assert s["cartesian"] == 0, s
    assert dfs["new_cents"] is None  # frozen after the training epoch


def test_tmix_gate_processor_batch_plan(spark, tmp_path):
    from data_ingestion_din_spark.plans.streaming_gates import _tmix_gate_processor

    p = _tmix_gate_processor(str(tmp_path / "o"), str(tmp_path / "r"))
    b0 = spark.createDataFrame(
        [(0, "en"), (2, "en"), (6, "th")], "doc_id bigint, lang string"
    )
    p(b0, 0)
    b1 = spark.createDataFrame([(1, "th")], "doc_id bigint, lang string")
    dfs = p.plan(b1, 1)
    s = _plan_stats(dfs["verdicts"])
    # scoring epoch: frozen lang-count-bounded rate table broadcast (the
    # legal class — REQUIRED); the verdict itself is scan-local
    assert s["cartesian"] == 0, s
    assert s["bhj"] >= 1, s
    assert s["exchange"] <= 1, s
    assert dfs["new_rates"] is None  # frozen after the training epoch


def test_media_segment_dedup_plan(spark):
    s = _stats("media_segment_dedup", spark)
    # fingerprint-local candidates: one wfp shuffle shared by the dup
    # filter and the hit count (staged table), never all-pairs media;
    # the decode boundary runs once before the stage (0 visible
    # MapInPandas — base is checkpointed)
    assert s["cartesian"] == 0, s
    # two equi-joins: wfp-keyed dup probe + path-keyed verdict join-back
    assert s["smj"] <= 2, s
    assert s["map_in_pandas"] == 0, s
    assert s["exchange"] <= 7, s


def test_corpus_dedup_funnel_full_plan(spark):
    s = _stats("corpus_dedup_funnel_full", spark)
    # the semantic stage is CELL-LOCAL (within-cluster self-join on the
    # staged k-means assignment) — never all-pairs across the corpus
    assert s["cartesian"] == 0, s
    assert s["exchange"] <= 14, s


def test_corpus_eval_attribution_plan(spark):
    s = _stats("corpus_eval_attribution", spark)
    # benchmark-sized eval (doc_id, shingle) pairs broadcast; the corpus
    # side never shuffles before the per-eval-doc rollup
    assert s["cartesian"] == 0, s
    assert s["bhj"] >= 1, s
    assert s["exchange"] <= 6, s


def test_similarity_range_search_plan(spark):
    s = _stats("similarity_range_search", spark)
    # cell-routed candidates only: the probe->cell table and probe
    # vectors broadcast; no all-pairs scan
    assert s["cartesian"] == 0, s
    assert s["bhj"] >= 2, s
    assert s["exchange"] <= 6, s


def test_profile_gate_processor_batch_plan(spark, tmp_path):
    from data_ingestion_din_spark.plans.streaming_sketches import _profile_gate_processor

    p = _profile_gate_processor(str(tmp_path / "o"), str(tmp_path / "b"))
    schema = (
        "doc_id bigint, text string, lang string, source string,"
        " n_chars bigint"
    )
    p(spark.createDataFrame([(2, "a", "en", "s", 1)], schema), 0)
    dfs = p.plan(spark.createDataFrame([(1, "b", "en", "t", 1)], schema), 1)
    s = _plan_stats(dfs["audit"])
    # the frozen baseline is column-count-sized (bounded) — broadcast
    # REQUIRED; the landing profile itself is one fused aggregation
    assert s["cartesian"] == 0, s
    assert s["bhj"] >= 1, s
    assert s["exchange"] <= 2, s
    assert dfs["new_baseline"] is None  # frozen after epoch 0


def test_ppl_gate_processor_batch_plan(spark, tmp_path):
    from data_ingestion_din_spark.plans.streaming_gates import _ppl_gate_processor

    p = _ppl_gate_processor(str(tmp_path / "o"), str(tmp_path / "lm"))
    b0 = spark.createDataFrame(
        [(0, "alpha beta alpha"), (2, "alpha gamma delta")],
        "doc_id bigint, text string",
    )
    p(b0, 0)
    b1 = spark.createDataFrame(
        [(1, "alpha novel")], "doc_id bigint, text string"
    )
    dfs = p.plan(b1, 1)
    # frozen-LM joins are HINT-FREE plain equi-joins (the LM is
    # vocabulary-sized, not bounded control data — the growing-state
    # rule); the only nested loop is the 1-row total-token scalar attach
    assert _hint_count(dfs["verdicts"]) == 0
    s = _plan_stats(dfs["verdicts"])
    assert s["cartesian"] <= 1, s
    assert dfs["new_state"] is None  # frozen after the training epoch


def test_anomaly_gate_processor_batch_plan(spark, tmp_path):
    from pyspark.sql import functions as F

    from data_ingestion_din_spark.plans.streaming_sketches import _anomaly_gate_processor

    p = _anomaly_gate_processor(str(tmp_path / "o"), str(tmp_path / "s"))

    def ev(rows):
        return spark.createDataFrame(
            rows, "event_type string, ts_s string"
        ).select("event_type", F.col("ts_s").cast("timestamp").alias("ts"))

    p(ev([("click", "2024-01-01 08:05:00")]), 0)
    dfs = p.plan(ev([("click", "2024-01-01 09:05:00")]), 1)
    # judging epoch: batch partials ⟂ per-type stats of the maintained
    # state via a HINT-FREE equi-join (the state grows with history);
    # the merge side is union + re-sum, no join machinery
    assert _hint_count(dfs["verdicts"]) == 0
    assert _hint_count(dfs["new_state"]) == 0
    s = _plan_stats(dfs["verdicts"])
    assert s["cartesian"] == 0, s


def test_dedup_minhash_br_grid_plan(spark):
    s = _stats("dedup_minhash_br_grid", spark)
    # three band self-joins + the guarded truth join, all plain equi-
    # joins; the only nested loops are the 1-row aggregate assemblies
    # (per-config tp attach + the final truth-count attach)
    assert s["cartesian"] <= 4, s
    df = QUERIES["dedup_minhash_br_grid"](spark, SF)
    assert _hint_count(df) == 0


def test_doc_ngram_perplexity_plan(spark):
    # the registered query reads the session-staged _bi_perdoc checkpoint
    # (a Scan ExistingRDD), so assert on the unstaged build — the plan
    # that actually materializes it
    from data_ingestion_din_spark.plans.lm_queries import _bi_perdoc_build

    s = _plan_stats(_bi_perdoc_build(spark, SF))
    # pair-table train shuffle + two scoring equi-joins (pair table and
    # backoff unigram table — both corpus-vocabulary-sized, so NOTHING
    # is broadcast-forced) + the doc rollup; the only nested loop is
    # the 1-row total-token scalar attach
    assert s["cartesian"] <= 1, s
    assert _hint_count(_bi_perdoc_build(spark, SF)) == 0
    df = QUERIES["doc_ngram_perplexity"](spark, SF)
    assert _hint_count(df) == 0


def test_similarity_sq8_plan(spark):
    s = _stats("similarity_sq8_topk", spark)
    # the 64-row per-dim [mn,mx] table and the 64-row probe-dim table
    # are bounded control data: broadcast REQUIRED (the frozen-artifact
    # class); the only nested loop is the 1-row probe-embedding attach
    assert s["bhj"] >= 1, s
    assert s["cartesian"] <= 1, s
    sw = _stats("similarity_sq8_recall_sweep", spark)
    assert sw["bhj"] >= 1, sw
    assert sw["cartesian"] <= 1, sw


def test_quantile_and_cms_maintainer_plans(spark, tmp_path):
    """Both additive maintainers: landing partials ∪ prior state
    re-summed — no join machinery, and the state side (grows with
    history) never carries a broadcast hint."""
    from pyspark.sql import functions as F

    from data_ingestion_din_spark.plans.streaming_sketches import (
        _cms_processor,
        _quantile_processor,
    )

    qp = _quantile_processor(str(tmp_path / "q"))
    qp(spark.createDataFrame([(0, 10)], "doc_id bigint, n_chars bigint"), 0)
    merged = qp.plan(
        spark.createDataFrame([(1, 99)], "doc_id bigint, n_chars bigint"), 1
    )
    s = _plan_stats(merged)
    assert s["cartesian"] == 0 and _hint_count(merged) == 0, s

    cp = _cms_processor(str(tmp_path / "c"))
    cp(spark.createDataFrame([(0, "a b")], "doc_id bigint, text string"), 0)
    merged = cp.plan(
        spark.createDataFrame([(1, "a c")], "doc_id bigint, text string"), 1
    )
    s = _plan_stats(merged)
    assert s["cartesian"] == 0 and _hint_count(merged) == 0, s


def test_cdc_merge_processor_batch_plan(spark, tmp_path):
    from pyspark.sql import functions as F

    from data_ingestion_din_spark.plans.streaming_cdc import _cdc_merge_processor

    p = _cdc_merge_processor(str(tmp_path / "o"))
    rows0 = [
        (7, 1, "a", "2024-01-01 00:00:00", 1.0, '{"k": 3}'),
        (7, 2, "b", "2024-01-01 01:00:00", 2.0, '{"k": 5}'),
    ]
    rows1 = [(7, 2400, "b", "2024-01-02 00:00:00", 3.0, '{"k": 5}')]

    def frame(rows):
        return spark.createDataFrame(
            rows,
            "user_id bigint, event_id bigint, event_type string, "
            "ts_s string, value double, props string",
        ).select(
            "user_id",
            "event_id",
            "event_type",
            F.to_timestamp("ts_s").alias("ts"),
            "value",
            "props",
        )

    p(frame(rows0), 0)
    merged = p.plan(frame(rows1), 1)
    s = _plan_stats(merged)
    # one key shuffle over (batch ∪ touched prior rows); the growing
    # state side must never be broadcast
    assert s["cartesian"] == 0, s
    assert _hint_count(merged) == 0
    # prior-state window read + semi-join + winner window + in_base
    # agg + final key join
    assert s["exchange"] <= 7, s


def test_line_gate_processor_batch_plan(spark, tmp_path):
    from data_ingestion_din_spark.plans.streaming_gates import (
        _line_gate_processor,
    )

    p = _line_gate_processor(str(tmp_path / "o"), str(tmp_path / "freq"))
    b0, b1 = _batch_fixtures(spark)
    p(b0, 0)
    dfs = p.plan(b1, 1)
    # line-frequency state GROWS with the corpus: both the prior-state
    # union and the verdict join must stay hint-free plain equi-joins,
    # and nothing in the gating path is a cartesian
    assert _hint_count(dfs["verdicts"]) == 0
    assert _hint_count(dfs["new_state"]) == 0
    s = _plan_stats(dfs["verdicts"])
    assert s["cartesian"] == 0, s


def test_cusum_gate_processor_batch_plan(spark, tmp_path):
    from pyspark.sql import functions as F

    from data_ingestion_din_spark.plans.streaming_sketches import (
        _cusum_gate_processor,
    )

    p = _cusum_gate_processor(str(tmp_path / "o"), str(tmp_path / "s"))

    def ev(rows):
        return spark.createDataFrame(
            rows, "event_type string, ts_s string"
        ).select("event_type", F.col("ts_s").cast("timestamp").alias("ts"))

    p(ev([("click", "2024-01-01 08:05:00"), ("click", "2024-01-01 09:05:00")]), 0)
    dfs = p.plan(ev([("click", "2024-01-16 10:05:00")]), 1)
    # per-type walk state is bounded but joins stay hint-free (family
    # convention); no cartesian anywhere in the gating path
    assert _hint_count(dfs["verdicts"]) == 0
    assert _hint_count(dfs["new_state"]) == 0
    s = _plan_stats(dfs["verdicts"])
    assert s["cartesian"] == 0, s


def _plan_text(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="simple")
    return buf.getvalue()


def test_ranked_prefix_matches_global_window(spark):
    """ranked_prefix == the partition-less window it replaces, on a
    multi-partition input with an awkward row count; and its plan is
    the range-partitioned two-phase shape (no whole-input single
    partition sort)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from data_ingestion_din_spark.operators.ranking import ranked_prefix

    df = spark.range(0, 997, 1, 8).select(
        (F.col("id") * 37 % 1000).alias("k"),
        F.col("id").alias("tie"),
        (F.col("id") % 7).alias("v"),
    )
    got = (
        ranked_prefix(df, ["k", "tie"], sums={"cv": "v"}, rk_col="r")
        .select("k", "tie", "r", "cv")
        .collect()
    )
    w = W.orderBy("k", "tie")
    exp = (
        df.withColumn("r", F.row_number().over(w).cast("bigint"))
        .withColumn(
            "cv",
            F.sum("v")
            .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
            .cast("bigint"),
        )
        .select("k", "tie", "r", "cv")
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, exp))
    plan = _plan_text(ranked_prefix(df, ["k", "tie"], rk_col="r"))
    assert "rangepartitioning" in plan, plan


def test_global_window_rewrites_are_range_partitioned(spark):
    """The r12 partition-less-window rewrites stay two-phase: the
    corpus-sized rank/prefix consumers plan a range partitioning, and
    the theta K-smallest builders plan TakeOrderedAndProject heaps
    instead of a whole-stream single-partition sort."""
    for name in (
        "events_gini_concentration",
        "corpus_pack_split_ab",
    ):
        plan = _plan_text(QUERIES[name](spark, SF))
        assert "rangepartitioning" in plan, (name, plan)


def test_asof_processor_batch_plan(spark, tmp_path):
    from datetime import datetime

    from data_ingestion_din_spark.plans.streaming_cdc import _asof_processor

    p = _asof_processor(str(tmp_path / "o"))
    schema = (
        "user_id bigint, event_id bigint, event_type string, ts timestamp"
    )
    t = lambda s: datetime.fromisoformat(s)  # noqa: E731
    p(
        spark.createDataFrame(
            [
                (1, 1, "error", t("2024-01-01 10:00:00")),
                (1, 2, "click", t("2024-01-01 10:01:00")),
            ],
            schema,
        ),
        0,
    )
    att, nstate = p.plan(
        spark.createDataFrame(
            [(1, 3, "click", t("2024-01-01 11:00:00"))], schema
        ),
        1,
    )
    # per-user latest-error state GROWS with the user population: the
    # state seed join and the attribution union must stay hint-free
    # plain equi-joins (family convention), no cartesian anywhere
    assert _hint_count(att) == 0
    assert _hint_count(nstate) == 0
    s = _plan_stats(att)
    assert s["cartesian"] == 0, s


def test_ranked_prefix_ab_plan_pins(spark):
    """The ranked-prefix price sheet (ADVICE r13 relocation): the
    exchange counts that used to ride inside ranked_prefix_ab's DuckDB
    oracle — (total Exchange, SinglePartition, rangepartitioning) per
    arm from the adaptive INITIAL plan — are pinned HERE, so a Spark
    upgrade that replans an arm fails as a plan-pin failure instead of
    an apparent data-correctness failure. The oracle now gates only the
    data checksums."""
    from data_ingestion_din_spark.plans.events_ext import (
        _RPA_PINS,
        _exchange_counts,
        _rpa_arms,
    )

    for arm, df in _rpa_arms(spark, SF):
        assert _exchange_counts(df) == _RPA_PINS[arm], arm
