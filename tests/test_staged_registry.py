"""JVM-free unit tests of the session-staging registry
(``operators/colocate.staged``): a ``SimpleNamespace`` stands in for the
SparkSession, since the registry reads only
``spark.sparkContext.applicationId``."""

from __future__ import annotations

import os
import shutil
import tempfile
from types import SimpleNamespace

import pytest

from data_ingestion_din_spark.operators import colocate


def _session(app: str) -> SimpleNamespace:
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app))


@pytest.fixture
def registry(monkeypatch, tmp_path):
    """An empty registry whose staged dirs land under ``tmp_path``."""
    monkeypatch.setattr(colocate, "STAGED", {})
    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    return colocate.STAGED


def test_hit_and_miss_per_app_sf_dir_and_args(registry):
    calls = []

    @colocate.staged("t_frame")
    def build(spark, sf_dir, k: int = 4):
        calls.append((sf_dir, k))
        return object()

    a = _session("app-1")
    first = build(a, "/d/sf1")
    assert build(a, "/d/sf1") is first
    assert build(a, "/d/sf1", 4) is first  # default and explicit arg agree
    assert build(a, "/d/sf1", k=4) is first
    assert build(a, "/d/sf2") is not first  # new sf_dir: miss
    assert build(a, "/d/sf1", 16) is not first  # new args: miss
    assert calls == [("/d/sf1", 4), ("/d/sf2", 4), ("/d/sf1", 16)]
    assert registry["t_frame"] is build
    assert build.setup == {"t_frame": ()}


def test_other_apps_entries_are_evicted(registry):
    calls = []

    @colocate.staged("t_evict")
    def build(spark, sf_dir):
        calls.append(spark.sparkContext.applicationId)
        return object()

    old = build(_session("app-old"), "/d/sf1")
    new = build(_session("app-new"), "/d/sf1")
    assert new is not old
    # the stopped app's entry is gone: asking for it again rebuilds
    assert build(_session("app-old"), "/d/sf1") is not old
    assert calls == ["app-old", "app-new", "app-old"]


def test_vanished_dir_is_rebuilt(registry, tmp_path):
    calls = []

    @colocate.staged("t_dir")
    def build(spark, sf_dir, base):
        calls.append(base)
        out = os.path.join(base, "out")
        os.makedirs(out)
        open(os.path.join(out, "part-0"), "w").close()
        return out, [1, 2]

    a = _session("app-1")
    out, extra = build(a, "/d/sf1")
    assert out.startswith(os.path.join(str(tmp_path), "spark_graft_t_dir"))
    assert build(a, "/d/sf1") == (out, extra)
    assert len(calls) == 1  # hit: dir still there
    shutil.rmtree(out)
    assert build(a, "/d/sf1")[0] == out
    assert os.listdir(out) == ["part-0"]  # rebuilt
    assert len(calls) == 2


def test_duplicate_name_is_rejected(registry):
    @colocate.staged("t_dup")
    def first(spark, sf_dir):
        return 1

    with pytest.raises(ValueError, match="t_dup"):

        @colocate.staged("t_dup")
        def second(spark, sf_dir):
            return 2


def test_parametrised_builder_has_no_default_setup_row(registry):
    @colocate.staged("t_param")
    def needs_arg(spark, sf_dir, space):
        return space

    @colocate.staged("t_rows", setup={"row_a": ("a",), "row_b": ("b",)})
    def with_rows(spark, sf_dir, space):
        return space

    assert needs_arg.setup == {}
    assert with_rows.setup == {"row_a": ("a",), "row_b": ("b",)}


# The bench setup rows of the hand-wired list the registry replaced: each
# must still be emitted, now derived from the registered builders.
_SETUP_ROWS = """
entity_tables bucketed_fact_tables partitioned_documents zordered_events
shard_export tsi_export phash_table banded_pairs substring_spans
pq_index_raw pq_index_res pq_index_raw16 pq_index_res16 sweep_etop
pqs_space lm_bi_perdoc lm_tri_comps lm_p5_comps ivfpq_stream_index
graph_ann_edges sjoin_outer_landings sjoin_full_landings smg_landings
cdcm_landings sth_landings swl_landings ingest_corpus first_seen_landings
stream_join_landings session_window_landings dedup_watermark_landings
scd2_stream_landings asof_stream_landings snapshot_landings
curation_funnel_landings quality_gate_landings dsir_gate_landings
bpe_gate_landings decontam_gate_landings semdedup_gate_landings
tmix_gate_landings minhash_index_landings phash_index_landings
ivf_index_landings ivf_rebalance_landings substring_index_landings
hll_registers_landings rollup_state_landings profile_gate_landings
""".split()


def test_package_registry_keeps_bench_setup_rows():
    import data_ingestion_din_spark.plans  # noqa: F401 - populates it

    rows = [r for b in colocate.STAGED.values() for r in b.setup]
    assert len(_SETUP_ROWS) == 49
    assert not set(_SETUP_ROWS) - set(rows), sorted(set(_SETUP_ROWS) - set(rows))
