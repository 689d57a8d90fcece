"""Co-location and skew operators: bucketed joins, salted aggregation.

These are the two 100 TB shuffle levers PLANS.md's scale rules name but
no query exercises on the small fixtures (broadcast wins there). Each is
a production-shaped operator with a plan-asserting test
(tests/test_colocate.py) so the lever is demonstrated, not just
documented.

- **Bucketed co-located join** (`write_bucketed` + a join of two tables
  bucketed on the join key): both sides' files are hash-partitioned into
  the same bucket layout at WRITE time, so the join plan has NO Exchange
  on either side — the single biggest shuffle saving available to a
  fact-fact join that repeats across jobs (e.g. lineitem ⋈ orders every
  night). The reference has no table layout control at all (per-document
  JSON files); this is pure Spark-side capability.
- **Salted two-phase aggregation** (`salted_agg_sum`): for algebraic
  aggregates on a skewed key, shuffle once on (key, salt) — splitting a
  hot key across ``n_salts`` reducers — then combine the partials with a
  second tiny shuffle on key alone. Same result as the direct groupBy
  (test-asserted); bounded per-task input regardless of key skew. AQE's
  skew-join splitting covers joins, but a skewed *aggregation* key needs
  salting (or partial-agg push-down, which stops helping when the hot
  key dominates single partitions).
"""

from __future__ import annotations

import functools
import inspect
import os
import re
import tempfile
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int = 8,
    path: str | None = None,
) -> None:
    """Persist ``df`` as a bucketed+sorted table (managed, or external at
    ``path``). Joins and aggregations on ``bucket_col`` between tables
    sharing a bucket count then plan with zero Exchange (verified in
    tests/test_colocate.py and the registered ``q3_bucketed_colocated``
    query)."""
    w = (
        df.write.bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .mode("overwrite")
        .format("parquet")
    )
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table_name)


# A sibling dir younger than this is treated as potentially LIVE and
# never deleted: sessions here run minutes-to-hours, so 6 h of slack
# protects every concurrent bench/pytest/verify combination while still
# bounding cross-day disk growth.
STALE_AGE_SEC = 6 * 3600


def cleanup_stale_app_dirs(
    root: str, keep: str, max_age_sec: float = STALE_AGE_SEC
) -> None:
    """Delete per-application artifact directories under ``root`` left by
    PREVIOUS Spark applications (``keep`` is the current application's
    sanitized dir name). Session-scoped staging otherwise accumulates
    unboundedly across sessions. Called on first staging use per session.

    Deletion is AGE-GATED: a sibling dir is removed only when its mtime
    is older than ``max_age_sec`` — a fresh dir belongs to a concurrently
    LIVE session whose in-memory staging caches still point at it, and
    deleting it would break that session for its remaining lifetime (the
    round-4 reproduced race). As a second line of defense the staging
    registry (:func:`staged`) re-checks path results on a cache hit and
    re-materializes if they vanished (:func:`_dir_ok`)."""
    import shutil
    import time

    try:
        entries = os.listdir(root)
    except OSError:
        return
    now = time.time()
    for d in entries:
        if d == keep:
            continue
        p = os.path.join(root, d)
        try:
            if now - os.path.getmtime(p) <= max_age_sec:
                continue
        except OSError:
            continue  # raced away already
        shutil.rmtree(p, ignore_errors=True)


def _dir_ok(path: str) -> bool:
    """True when a staged artifact directory still exists and is
    non-empty — the cache-hit revalidation guard: an in-memory staging
    cache entry whose files were deleted externally (stale-dir cleanup
    by an aggressive sibling, manual tmp wipe) must trigger
    re-materialization, not a FileNotFoundException mid-query."""
    try:
        return bool(os.listdir(path))
    except OSError:
        return False


def app_dir_path(spark: SparkSession, sf_dir: str, root_name: str) -> str:
    """Pure path derivation for an app-scoped staged artifact —
    ``$TMPDIR/<root_name>/<sanitized app id>/<sanitized sf tag>`` — with
    NO filesystem side effects."""
    app = re.sub(r"[^A-Za-z0-9]+", "_", spark.sparkContext.applicationId)
    tag = re.sub(r"[^a-z0-9]+", "_", sf_dir.lower()).strip("_")
    return os.path.join(tempfile.gettempdir(), root_name, app, tag)


def fresh_app_dir(spark: SparkSession, sf_dir: str, root_name: str) -> str:
    """App-scoped staged-artifact base dir (:func:`app_dir_path`) with
    the staging lifecycle applied — stale sibling-app dirs under the
    root cleaned (age-gated), the base itself removed. Only the staging
    registry calls this: a builder declaring ``base`` receives one, so
    the lifecycle lives in one place."""
    import shutil

    base = app_dir_path(spark, sf_dir, root_name)
    root, app = os.path.dirname(os.path.dirname(base)), os.path.basename(
        os.path.dirname(base)
    )
    cleanup_stale_app_dirs(root, app)
    shutil.rmtree(base, ignore_errors=True)
    return base


# The one session-staging registry: name -> staged builder, in
# registration (import) order. bench.py stages every entry as a setup row.
STAGED: dict[str, Callable] = {}


def _paths(result) -> list[str]:
    """The absolute-path strings a staged result carries (itself, or the
    members of a tuple result) — the dirs a cache hit must revalidate."""
    items = result if isinstance(result, tuple) else (result,)
    return [x for x in items if isinstance(x, str) and os.path.isabs(x)]


def staged(name: str, setup: dict[str, tuple] | None = None):
    """Register ``build(spark, sf_dir, *args)`` as a session-staged
    artifact: built once per (applicationId, sf_dir, *args) and reused by
    every later call in that SparkContext.

    - Entries of other (stopped) SparkContexts are dropped on each call:
      their checkpointed blocks died with the JVM, and keeping them would
      grow the cache across in-process session restarts.
    - Path results (a str, or the str members of a tuple) are revalidated
      with :func:`_dir_ok` on a hit and rebuilt if the files vanished.
    - A builder declaring a ``base`` parameter gets a fresh
      :func:`fresh_app_dir` under ``spark_graft_<name>``, so two artifacts
      can never share a directory.
    - The builder owns its ``localCheckpoint(eager=...)`` choice.

    ``setup`` maps bench setup-row names to argument tuples; it defaults
    to one row ``name`` for builders that take no further arguments.
    The wrapper's ``cache_clear()`` empties its cache."""

    def deco(build: Callable) -> Callable:
        if name in STAGED:
            raise ValueError(f"duplicate staged artifact name: {name}")
        sig = inspect.signature(build)
        wants_base = "base" in sig.parameters
        # the caller-facing signature: the registry supplies ``base``
        params = [p for p in sig.parameters.values() if p.name != "base"]
        call_sig = sig.replace(parameters=params)
        cache: dict[tuple, object] = {}

        @functools.wraps(build)
        def get(spark: SparkSession, sf_dir: str, *args, **kwargs):
            bound = call_sig.bind(spark, sf_dir, *args, **kwargs)
            bound.apply_defaults()
            kw = dict(list(bound.arguments.items())[2:])
            app = spark.sparkContext.applicationId
            for k in [k for k in cache if k[0] != app]:
                del cache[k]
            key = (app, sf_dir, *kw.values())
            if key in cache and all(_dir_ok(p) for p in _paths(cache[key])):
                return cache[key]
            if wants_base:
                kw["base"] = fresh_app_dir(spark, sf_dir, f"spark_graft_{name}")
            cache[key] = build(spark, sf_dir, **kw)
            return cache[key]

        no_args = all(p.default is not p.empty for p in params[2:])
        get.setup = setup if setup is not None else ({name: ()} if no_args else {})
        get.cache_clear = cache.clear
        STAGED[name] = get
        return get

    return deco


N_FACT_BUCKETS = 8


@staged("bucketed_fact_tables")
def _bucketed_fact_dirs(
    spark: SparkSession, sf_dir: str, base: str, n_buckets: int = N_FACT_BUCKETS
) -> tuple[str, str]:
    from data_ingestion_din_spark.sources.tables import load_table

    tag = os.path.basename(base)
    paths = []
    for src, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
        tbl = f"{src}_bkt_{tag}"
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        paths.append(os.path.join(base, tbl))
        write_bucketed(
            load_table(spark, sf_dir, src), tbl, key, n_buckets, path=paths[-1]
        )
    return tuple(paths)


def bucketed_fact_tables(
    spark: SparkSession, sf_dir: str, n_buckets: int = N_FACT_BUCKETS
) -> tuple[str, str]:
    """Materialize ``orders`` and ``lineitem`` bucketed+sorted on the
    orderkey, once per (session, sf_dir); returns the two table names.

    This is the layout a nightly fact-fact pipeline pays for ONCE so that
    every subsequent orderkey join/aggregation plans with zero shuffle
    Exchange (see ``q3_bucketed_colocated``). External parquet tables
    under the system temp dir, tagged by the session — re-registration
    is idempotent within a session and cannot collide across sessions."""
    paths = _bucketed_fact_dirs(spark, sf_dir, n_buckets)
    return tuple(os.path.basename(p) for p in paths)


def salt_col(key: Column, n_salts: int) -> Column:
    """Deterministic salt in [0, n_salts): hashing the key row-content is
    NOT usable (same key → same salt defeats the point), so salt on
    ``monotonically_increasing_id`` — (partition_id << 33) | row_index —
    whose low bits cycle through consecutive rows. A hot key spreads
    across reducers even when the upstream scan produced a SINGLE input
    partition (a plain ``spark_partition_id`` salt silently degenerates
    to one salt value there — the small-file scan case
    sources/tables.scan_parallel documents), while staying deterministic
    for a fixed partition layout."""
    return F.pmod(F.monotonically_increasing_id(), F.lit(n_salts))


def salted_agg_sum(
    df: DataFrame,
    key_cols: list[str],
    sum_cols: list[str],
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase skew-safe sum: groupBy(key, salt) partials, then
    groupBy(key) combine. Algebraic aggregates only (sum/count/min/max
    compose; avg = sum+count then divide)."""
    partial = (
        df.withColumn("_salt", salt_col(F.col(key_cols[0]), n_salts))
        .groupBy(*key_cols, "_salt")
        .agg(*[F.sum(c).alias(c) for c in sum_cols])
    )
    return partial.groupBy(*key_cols).agg(
        *[F.sum(c).alias(c) for c in sum_cols]
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    big_key: str,
    small_key: str,
    n_salts: int = 16,
) -> DataFrame:
    """Skew-safe inner equi-join: salt the BIG side's rows into
    ``n_salts`` sub-keys and replicate the SMALL side once per salt
    value, so a hot key's probe rows land on ``n_salts`` reducers
    instead of one. The niche is the dim table that is too big to
    broadcast but ≪ the fact table: replication costs ``n_salts ×
    |small|`` shuffle rows — a constant factor on the cheap side —
    while the hot key's reduce-side work parallelizes by ``n_salts``.
    (When the small side DOES fit in memory, broadcast instead — no
    shuffle at all; when neither fits, AQE's skew split handles the
    sort-merge path. This is the middle regime, and the standard recipe
    Spark lacks as a built-in.)

    Semantics are exactly inner-join-on-equal-keys: every (big row,
    small row) key match pairs exactly once because the big row carries
    ONE salt and the small copy with THAT salt exists exactly once.
    """
    sb = big.withColumn("_salt_b", salt_col(F.col(big_key), n_salts))
    rs = small.withColumn(
        "_salt_s",
        F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)).cast("array<long>")),
    )
    return (
        sb.join(
            rs,
            (sb[big_key] == rs[small_key])
            & (sb["_salt_b"] == rs["_salt_s"]),
        )
        .drop("_salt_b", "_salt_s")
    )


# Partition-pruned corpus layout: the scan-layout lever next to
# bucketing. Written once per (application, sf_dir), like the bucketed
# facts above.
@staged("partitioned_documents")
def partitioned_documents(spark: SparkSession, sf_dir: str, base: str) -> str:
    """Materialize the ``documents`` table partitioned by ``lang``
    (hive-style ``lang=xx/`` directories) once per session; returns the
    path. A language-filtered query over this layout prunes at FILE
    LISTING time — the scan node's PartitionFilters carries the
    predicate and non-matching directories are never opened
    (plan-asserted in tests/test_colocate.py). At 100 TB this is the
    difference between reading one language's share and reading the
    whole corpus to filter it."""
    from data_ingestion_din_spark.sources.tables import load_table

    (
        load_table(spark, sf_dir, "documents")
        .write.mode("overwrite")
        .partitionBy("lang")
        .parquet(base)
    )
    return base


# Z-order (Morton-curve) clustered layout: the third layout lever next
# to bucketing (join co-location) and hive partitioning (single-key
# pruning). Interleaving the bits of two scaled dimensions makes file
# and row-group min/max ranges tight BOXES in (user, time) space, so a
# 2-D box predicate skips most files on BOTH dimensions — a time-sorted
# layout prunes time ranges but every file spans the full user range.
_Z_FILES = 16


def _spread16_sql(x: str) -> str:
    """Interleave-ready bit spread of a 16-bit value (classic Morton
    magic numbers): abcdefgh... -> a0b0c0d0... as one SQL expression."""
    e = f"(({x}) & 65535)"
    for shift, mask in ((8, 0x00FF00FF), (4, 0x0F0F0F0F), (2, 0x33333333), (1, 0x55555555)):
        e = f"((({e}) | (({e}) << {shift})) & {mask})"
    return e


def zorder_value(dim_a: str, dim_b: str) -> Column:
    """Morton z-value of two 16-bit-scaled dimensions (SQL column names
    or expressions); bit-interleaved so close (a, b) pairs get close
    z-values."""
    return F.expr(
        f"{_spread16_sql(dim_a)} | ({_spread16_sql(dim_b)} << 1)"
    )


@staged("zordered_events")
def zordered_events(spark: SparkSession, sf_dir: str, base: str) -> str:
    """Materialize ``events`` z-ordered on (user_id, ts) into
    ``_Z_FILES`` range-partitioned, z-sorted parquet files, once per
    (session, sf_dir); returns the path. Dimensions are min-max scaled
    to 16 bits from stats collected at layout-build time (a few driver
    ints — the one-time cost a nightly layout job pays). Each output
    file's (user_id, ts) min/max then bounds a tight 2-D box, which is
    what lets a box predicate skip files on both dimensions
    (tests/test_colocate.py reads the parquet footers and proves the
    skip rate vs a time-sorted layout)."""
    from data_ingestion_din_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    lo_u, hi_u, lo_t, hi_t = ev.select(
        F.min("user_id"),
        F.max("user_id"),
        F.min(F.unix_micros("ts")),
        F.max(F.unix_micros("ts")),
    ).collect()[0]
    u16 = (
        f"cast((user_id - {lo_u}) * 65535 div {max(hi_u - lo_u, 1)}"
        " as bigint)"
    )
    t16 = (
        f"cast((unix_micros(ts) - {lo_t}) * 65535"
        f" div {max(hi_t - lo_t, 1)} as bigint)"
    )
    # File boundaries ALIGNED to Morton-curve prefixes (_zcell = top 4
    # bits of the 32-bit z): each output file's (user, time) min/max is
    # then exactly one 25%x25% grid cell — a sampled range-partition on
    # z balances row counts instead but its sampling error makes files
    # straddle cell boundaries, which measurably inflates the touched-
    # file count for a box probe (7/16 straddled vs 4/16 aligned on the
    # fixture). Rows stay z-sorted within each file so ROW-GROUP stats
    # nest sub-boxes inside the file box.
    (
        ev.withColumn("_z", zorder_value(u16, t16))
        .withColumn("_zcell", F.expr(f"_z div {1 << 28}"))
        .repartition(F.col("_zcell"))
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .partitionBy("_zcell")
        .parquet(base)
    )
    return base


def _parquet_files(path: str) -> list[tuple[str, int]]:
    out = []
    for base, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(base, f)
                try:
                    out.append((p, os.path.getsize(p)))
                except OSError:
                    pass
    return out


def compact_small_files(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    target_bytes: int = 128 * 1024 * 1024,
) -> dict[str, int]:
    """Small-file compaction — the OPTIMIZE/maintenance operation every
    streaming or per-batch writer eventually needs (each micro-batch /
    task emits its own file; a 100 TB table fed by thousands of
    micro-batches degrades every later scan with open/footer overhead
    and tiny row groups). Reads the fragmented parquet directory,
    re-writes it as ceil(total_bytes / target_bytes) files via
    ``coalesce`` (a NARROW repartitioning: no shuffle — input splits are
    concatenated into the target file count), and reports before/after
    file counts and bytes.

    Content is preserved exactly (row multiset — asserted in
    tests/test_colocate.py via order-insensitive fingerprint); layout
    metadata (file count, ordering within files) is not, which is the
    contract of table-maintenance compaction everywhere (Delta OPTIMIZE,
    Iceberg rewrite_data_files)."""
    files = _parquet_files(src_dir)
    total = sum(sz for _, sz in files)
    n_out = max(1, -(-total // target_bytes))
    df = spark.read.parquet(src_dir)
    df.coalesce(n_out).write.mode("overwrite").parquet(dst_dir)
    after = _parquet_files(dst_dir)
    return {
        "files_before": len(files),
        "bytes_before": total,
        "files_after": len(after),
        "bytes_after": sum(sz for _, sz in after),
    }
