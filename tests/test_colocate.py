"""Plan-asserting tests for the 100 TB shuffle levers: bucketed
co-located joins (no Exchange) and salted skew-safe aggregation
(identical results to the direct groupBy)."""

from __future__ import annotations

from datetime import timezone

from pyspark.sql import functions as F

from data_ingestion_din_spark.operators.colocate import (
    salted_agg_sum,
    write_bucketed,
)
from data_ingestion_din_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def _executed_plan(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_bucketed_join_has_no_exchange(spark):
    li = load_table(spark, SF, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    orders = load_table(spark, SF, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    write_bucketed(li, "li_bucketed", "l_orderkey", 8)
    write_bucketed(orders, "ord_bucketed", "o_orderkey", 8)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("li_bucketed").join(
            spark.table("ord_bucketed"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = _executed_plan(joined)
        # co-located bucketed sides: sort-merge join with ZERO shuffle
        assert "Exchange" not in plan, plan
        assert joined.count() > 0
        # and the same join WITHOUT bucketing does shuffle both sides
        li2 = load_table(spark, SF, "lineitem").select(
            "l_orderkey", "l_extendedprice"
        )
        ord2 = load_table(spark, SF, "orders").select(
            "o_orderkey", "o_orderpriority"
        )
        unbucketed = li2.join(
            ord2, F.col("l_orderkey") == F.col("o_orderkey")
        )
        assert "Exchange" in _executed_plan(unbucketed)
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS li_bucketed")
        spark.sql("DROP TABLE IF EXISTS ord_bucketed")


def test_bucketed_agg_has_no_exchange(spark):
    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    write_bucketed(li, "li_agg_bucketed", "l_orderkey", 8)
    try:
        agg = (
            spark.table("li_agg_bucketed")
            .groupBy("l_orderkey")
            .agg(F.sum("l_quantity").alias("q"))
        )
        assert "Exchange" not in _executed_plan(agg), _executed_plan(agg)
        assert agg.count() > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS li_agg_bucketed")


def test_salted_agg_matches_direct(spark):
    li = load_table(spark, SF, "lineitem")
    direct = (
        li.groupBy("l_returnflag")  # 3 distinct values: maximal skew key
        .agg(
            F.sum("l_quantity").alias("l_quantity"),
            F.sum("l_extendedprice").alias("l_extendedprice"),
        )
        .orderBy("l_returnflag")
        .collect()
    )
    salted = (
        salted_agg_sum(
            li, ["l_returnflag"], ["l_quantity", "l_extendedprice"], n_salts=7
        )
        .orderBy("l_returnflag")
        .collect()
    )
    assert [r.l_returnflag for r in direct] == [r.l_returnflag for r in salted]
    for d, s in zip(direct, salted):
        # sums of integer-valued / 2-decimal doubles: exact either path
        assert abs(d.l_quantity - s.l_quantity) < 1e-6
        assert abs(d.l_extendedprice - s.l_extendedprice) < 1e-4


def test_salted_partials_actually_split(spark):
    """The salt must split a hot key across multiple partial groups —
    otherwise the operator silently degenerates to the direct groupBy."""
    from data_ingestion_din_spark.operators.colocate import salt_col

    li = load_table(spark, SF, "lineitem").repartition(4)
    n_partials = (
        li.withColumn("_salt", salt_col(F.col("l_returnflag"), 7))
        .groupBy("l_returnflag", "_salt")
        .count()
        .count()
    )
    assert n_partials > 3  # more partial groups than distinct keys


def test_q3_bucketed_plan_has_no_shuffle(spark):
    """The registered q3_bucketed_colocated query must plan with ZERO
    shuffle Exchange: the fact-fact join reads co-located buckets, the
    groupBy key set contains the bucket key, and the top-k is
    TakeOrderedAndProject. Only the customer broadcast may exchange.
    Auto-broadcast is disabled so the fact-fact join exercises the
    bucketed sort-merge path even at test scale (at real scale the
    planner picks it naturally)."""
    from data_ingestion_din_spark.plans import QUERIES

    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = QUERIES["q3_bucketed_colocated"](spark, SF)
        plan = _executed_plan(df)
        assert "Exchange hashpartitioning" not in plan, plan
        assert "Exchange rangepartitioning" not in plan, plan
        assert "SelectedBucketsCount" in plan, plan
        assert "TakeOrderedAndProject" in plan, plan
        assert df.count() <= 10
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_salt_spreads_single_input_partition(spark):
    """A single-partition upstream (the small-file scan case) must still
    spread a hot key across salts — the spark_partition_id salt
    degenerated to one salt value here."""
    from data_ingestion_din_spark.operators.colocate import salt_col

    one_part = load_table(spark, SF, "lineitem").coalesce(1)
    n_salts = (
        one_part.select(salt_col(F.col("l_returnflag"), 7).alias("s"))
        .select("s")
        .distinct()
        .count()
    )
    assert n_salts == 7


def test_salted_agg_on_skewed_fixture(spark):
    """Salted vs direct aggregation on a deliberately skewed key
    (~5/6 of all rows collapse onto one hot key): identical sums, and
    the hot key's partial groups each carry a bounded share of its rows
    (no single reducer task sees the whole hot key)."""
    li = load_table(spark, SF, "lineitem")
    skewed = li.withColumn(
        "skey",
        F.when(F.col("l_orderkey") % 6 != 0, F.lit("HOT")).otherwise(
            F.col("l_returnflag")
        ),
    )
    direct = {
        r.skey: r.q
        for r in skewed.groupBy("skey")
        .agg(F.sum("l_quantity").alias("q"))
        .collect()
    }
    from data_ingestion_din_spark.operators.colocate import (
        salt_col,
        salted_agg_sum,
    )

    salted = {
        r.skey: r.l_quantity
        for r in salted_agg_sum(skewed, ["skey"], ["l_quantity"], n_salts=8)
        .collect()
    }
    assert set(direct) == set(salted)
    for k in direct:
        assert abs(direct[k] - salted[k]) < 1e-6
    hot_total = skewed.filter(F.col("skey") == "HOT").count()
    partial_sizes = [
        r.n
        for r in skewed.withColumn("_salt", salt_col(F.col("skey"), 8))
        .filter(F.col("skey") == "HOT")
        .groupBy("_salt")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ]
    assert len(partial_sizes) > 1
    assert max(partial_sizes) < hot_total


def test_partitioned_documents_prunes_at_scan(spark):
    from data_ingestion_din_spark.operators.colocate import (
        partitioned_documents,
    )

    path = partitioned_documents(spark, SF)
    pruned = spark.read.parquet(path).filter(F.col("lang") == "en")
    plan = _executed_plan(pruned)
    # the lang predicate must reach the scan as a PartitionFilter (file
    # listing prunes non-en directories), not a post-scan Filter
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters")[1].split("\n")[0]
    assert "lang" in seg, seg
    # pruned read only sees en rows; full read sees every language
    full = spark.read.parquet(path)
    n_en = pruned.count()
    assert 0 < n_en < full.count()
    assert pruned.select("lang").distinct().collect()[0].lang == "en"


def test_cleanup_age_gate_spares_live_dirs(tmp_path):
    """A fresh sibling dir (concurrently LIVE session) must survive
    cleanup; only dirs past the staleness age are removed (the round-4
    race: deleting a live sibling's staging broke it for the rest of its
    session)."""
    import os

    from data_ingestion_din_spark.operators.colocate import (
        cleanup_stale_app_dirs,
    )

    root = str(tmp_path)
    for name in ("app_current", "app_live", "app_stale"):
        os.makedirs(os.path.join(root, name, "t"))
    old = os.path.join(root, "app_stale")
    os.utime(old, (1, 1))  # mtime = epoch → far past any threshold
    cleanup_stale_app_dirs(root, "app_current")
    left = sorted(os.listdir(root))
    assert left == ["app_current", "app_live"], left


def test_bucketed_cache_rematerializes_after_deletion(spark):
    """If a sibling (or tmp wipe) deletes this session's staged bucketed
    tables, the cache hit must detect the loss and re-materialize instead
    of failing with FileNotFoundException for the session's lifetime."""
    import shutil

    from data_ingestion_din_spark.operators import colocate

    o_tbl, l_tbl = colocate.bucketed_fact_tables(spark, SF)
    n_before = spark.table(l_tbl).count()
    # simulate the victim side of the race: staged files vanish while the
    # in-memory cache still claims they exist
    loc = (
        spark.sql(f"DESCRIBE FORMATTED {l_tbl}")
        .filter(F.col("col_name") == "Location")
        .collect()[0]
        .data_type
    ).removeprefix("file:")
    shutil.rmtree(loc, ignore_errors=True)
    o2, l2 = colocate.bucketed_fact_tables(spark, SF)
    assert (o2, l2) == (o_tbl, l_tbl)
    assert spark.table(l2).count() == n_before


def test_partitioned_docs_rematerialize_after_deletion(spark):
    import shutil

    from data_ingestion_din_spark.operators.colocate import (
        partitioned_documents,
    )

    path = partitioned_documents(spark, SF)
    n = spark.read.parquet(path).count()
    shutil.rmtree(path, ignore_errors=True)
    path2 = partitioned_documents(spark, SF)
    assert spark.read.parquet(path2).count() == n


def test_staging_growth_bounded_across_sessions(spark, tmp_path,
                                                monkeypatch):
    """Hygiene: a second session's first staging use removes PAST-AGE
    session dirs, so artifact growth across sequential sessions is
    bounded (one live-age window's worth), never unbounded."""
    import os
    import tempfile as _tf

    from data_ingestion_din_spark.operators import colocate

    monkeypatch.setattr(_tf, "gettempdir", lambda: str(tmp_path))
    root = os.path.join(str(tmp_path), "spark_graft_bucketed_fact_tables")
    # fake remnant of a long-dead session
    dead = os.path.join(root, "app_dead_session", "sf")
    os.makedirs(dead)
    os.utime(os.path.dirname(dead), (1, 1))
    os.utime(dead, (1, 1))
    staged_facts = colocate.STAGED["bucketed_fact_tables"]
    staged_facts.cache_clear()
    try:
        colocate.bucketed_fact_tables(spark, SF)
        apps = sorted(os.listdir(root))
        assert "app_dead_session" not in apps, apps
        assert len(apps) == 1, apps  # exactly the current session's dir
    finally:
        # restore real-tempdir staging so later tests' cache hits don't
        # point at pytest's transient tmp_path
        monkeypatch.undo()
        staged_facts.cache_clear()
        colocate.bucketed_fact_tables(spark, SF)


def test_aqe_skew_join_splits_hot_partition(spark):
    """The third shuffle-skew lever next to bucketing and salting: AQE's
    runtime skew-join split. A join whose left side collapses ~90% of
    rows onto one key must execute as SortMergeJoin(skew=true) with the
    hot partition split across tasks (AQEShuffleRead ... skewed) once
    the skew thresholds see it — the lever that saves a 100 TB join
    from one straggler task, verified against the EXECUTED adaptive
    plan, not the static one."""
    left = spark.range(0, 2_000_000).select(
        F.when(F.col("id") % 10 != 0, F.lit(0))
        .otherwise(F.col("id"))
        .alias("k"),
        F.col("id").alias("v"),
    )
    right = spark.range(0, 50_000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("w")
    )
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
            "256KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "256KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        agg = left.join(right, "k").groupBy().count()
        assert agg.collect()[0]["count"] == 1_805_000
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:800]
        assert "skewed" in plan, plan[:800]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_zorder_layout_skips_files_on_2d_box(spark):
    """Read parquet footer statistics of the z-ordered events layout and
    of a plain time-sorted layout, and prove the z-order claim: for the
    events_zorder_box predicate (narrow user slice x wide time slice),
    file-level (user_id, ts) min/max ranges let a reader skip MORE files
    under z-order than under time-sort — where every file spans nearly
    the full user range and only time prunes."""
    import glob
    import os
    import tempfile

    import pyarrow.parquet as pq
    import pyspark.sql.functions as F

    from data_ingestion_din_spark.operators.colocate import (
        _Z_FILES,
        zordered_events,
    )
    from data_ingestion_din_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.01"
    zpath = zordered_events(spark, sf)

    ev = load_table(spark, sf, "events")
    lo_u, hi_u, lo_t, hi_t = ev.select(
        F.min("user_id"), F.max("user_id"),
        F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts")),
    ).collect()[0]
    u_lo = lo_u + (hi_u - lo_u) * 2 // 5
    u_hi = lo_u + (hi_u - lo_u) * 9 // 20
    t_lo = lo_t + (hi_t - lo_t) * 1 // 4
    t_hi = lo_t + (hi_t - lo_t) * 3 // 4

    tpath = os.path.join(
        tempfile.mkdtemp(prefix="zorder_cmp_"), "time_sorted"
    )
    (
        ev.repartitionByRange(_Z_FILES, "ts")
        .sortWithinPartitions("ts")
        .write.mode("overwrite")
        .parquet(tpath)
    )

    def files_needed(path: str) -> tuple[int, int]:
        needed, total = 0, 0
        for f in sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)):
            md = pq.ParquetFile(f).metadata
            schema_names = [md.schema.column(i).name for i in range(md.num_columns)]
            iu = schema_names.index("user_id")
            it = schema_names.index("ts")
            mins_u, maxs_u, mins_t, maxs_t = [], [], [], []
            for rg in range(md.num_row_groups):
                su = md.row_group(rg).column(iu).statistics
                stt = md.row_group(rg).column(it).statistics
                mins_u.append(su.min); maxs_u.append(su.max)
                # parquet timestamp stats are UTC instants but arrive as
                # naive datetimes; naive .timestamp() would reinterpret
                # them in the host's local timezone and shift the box
                # bounds relative to unix_micros (ADVICE r5)
                mins_t.append(
                    int(stt.min.replace(tzinfo=timezone.utc).timestamp() * 1e6)
                )
                maxs_t.append(
                    int(stt.max.replace(tzinfo=timezone.utc).timestamp() * 1e6)
                )
            total += 1
            if (
                min(mins_u) <= u_hi and max(maxs_u) >= u_lo
                and min(mins_t) <= t_hi and max(maxs_t) >= t_lo
            ):
                needed += 1
        assert total >= _Z_FILES // 2  # layout really is multi-file
        return needed, total

    z_needed, z_total = files_needed(zpath)
    t_needed, t_total = files_needed(tpath)
    # time-sorted: the wide time slice intersects most files, and user
    # stats can't prune; z-order must touch strictly fewer files
    assert z_needed < t_needed, (z_needed, z_total, t_needed, t_total)
    # and meaningfully so: at most half the files the time layout reads
    assert z_needed * 2 <= t_needed, (z_needed, t_needed)


def test_compact_small_files(spark, tmp_path):
    from data_ingestion_din_spark.operators.colocate import (
        compact_small_files,
    )

    src = str(tmp_path / "fragmented")
    dst = str(tmp_path / "compacted")
    df = spark.range(0, 10_000).selectExpr(
        "id", "CAST(id % 97 AS STRING) AS k", "id * 3 AS v"
    )
    # simulate micro-batch debris: 64 files for a few hundred KB
    df.repartition(64).write.parquet(src)
    stats = compact_small_files(spark, src, dst, target_bytes=1 << 20)
    assert stats["files_before"] == 64
    assert stats["files_after"] < stats["files_before"]
    assert stats["files_after"] <= 2

    # row multiset preserved exactly: order-insensitive fingerprint
    def fp(path):
        import pyspark.sql.functions as F

        return (
            spark.read.parquet(path)
            .select(
                F.md5(F.concat_ws("|", "id", "k", "v")).alias("h")
            )
            .agg(F.sum(F.conv(F.substring("h", 1, 15), 16, 10).cast("decimal(38,0)")))
            .collect()[0][0]
        )

    assert fp(src) == fp(dst)
    # compaction must not lose bytes to more than metadata overhead
    assert stats["bytes_after"] > 0


def test_salted_join_matches_plain_join_with_dup_keys(spark):
    """salted_join must be a pure physical rewrite of the inner join —
    including MULTISET semantics when the same key repeats on both
    sides (each big row × each small dup pairs exactly once), and a
    hot key's big-side rows must actually spread across salts."""
    import io
    import contextlib

    from data_ingestion_din_spark.operators.colocate import salted_join

    big = spark.createDataFrame(
        [(k, i) for i, k in enumerate([1] * 40 + [2, 2, 3])],
        "k bigint, big_val int",
    )
    small = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c"), (4, "d")], "sk bigint, small_val string"
    )
    got = sorted(
        (r.k, r.big_val, r.small_val)
        for r in salted_join(big, small, "k", "sk", n_salts=4).collect()
    )
    want = sorted(
        (r.k, r.big_val, r.small_val)
        for r in big.join(small, big.k == small.sk).collect()
    )
    assert got == want and len(want) == 40 * 2 + 2

    # the join condition really carries the salt sub-key
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        salted_join(big, small, "k", "sk", n_salts=4).explain()
    assert "_salt" in buf.getvalue()
