"""The benchmark's workloads.

Each workload has the same shape:

- ``setup(ctx, rdir)`` generates its inputs under ``rdir`` and prepares
  what a user would have ready before the first operation;
- ``warm(ctx)`` runs untimed operations so caches fill before measuring;
- ``op(ctx, i, traced)`` runs operation ``i`` — a batch pass, one
  upload — and returns ``Op`` with its latency (the
  timed region only), the items it handled and whether its result passed
  the correctness gate (checked after the clock stops);
- ``layer_metrics(ctx, traced_ops)`` turns the spans of the traced
  operations into per-layer metrics.

Every call into the engine goes through a layer's public function, inside a
span named after that layer.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np

from perfbench import checks, gen

# registered queries of an ingest pass, with the span that times them
INGEST_QUERIES = (
    ("pipeline_e2e", "plans.pipeline_e2e"),
    ("html_tables_parse", "operators.tables"),
    ("corpus_curation", "operators.curation"),
)
# registered audit queries run at the end of each pass: the data-quality
# A/B (the slowest entry of the query catalog), then three relational
# shapes
AUDIT_QUERIES = (
    "dq_completeness_hll_ab",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
)
# /ask request pairs (one exact, one ann) served in each pass
ASK_PAIRS = 1

SCALES = {
    "full": {
        "ingest_docs": 1000,
        "upload_docs": 100,
        "uploads_per_cycle": 5,
    },
    "smoke": {
        "ingest_docs": 200,
        "upload_docs": 50,
        "uploads_per_cycle": 3,
    },
}


@dataclass
class Ctx:
    spark: object
    tracer: object
    seed: int
    scale: dict
    perturb: bool
    notes: dict = field(default_factory=dict)


@dataclass
class Op:
    seconds: float
    items: int
    ok: bool


MB = 1024.0 * 1024.0


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _dir_stats(path: str) -> tuple[int, int]:
    """(files, bytes) of the data files under ``path``."""
    n = size = 0
    for root, _, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


class Workload:
    """Operations come in granules (one pass; a cycle of uploads). A run
    stops only at a granule boundary. A traced run runs an untraced, a
    traced and an untraced granule, and compares the traced one with the
    untraced median for the overhead. A ``cold`` workload times its first
    operation in a JVM that has run no query; its traced run traces that
    operation for the layer metrics, then runs an untraced and a traced
    warm one for the overhead (the traced one comes second, so it reads
    slightly low while the JIT still warms)."""

    granule = 1
    warm_ops = 0
    cold = False

    @property
    def trace_ops(self) -> int:
        return 3 if self.cold else 3 * self.granule

    def traced(self, i: int) -> bool:
        if self.cold:
            return i in (0, 2)
        return i // self.granule == 1

    def warm(self, ctx: "Ctx") -> None:
        """Untimed operations that let caches fill before measuring."""
        for i in range(self.warm_ops):
            if not self.op(ctx, i, False).ok:
                raise RuntimeError(f"warm-up result failed its check: {ctx.notes}")

    def p50_ms_by_kind(self, ops: dict[int, "Op"]) -> dict[str, float]:
        return {}


# ------------------------------------------------------------ ingest_batch
@dataclass
class Corpus:
    docs: list[dict]
    vecs: np.ndarray
    labels: np.ndarray
    tables: dict
    probes: np.ndarray
    twin: checks.SimilarityTwin


class IngestBatch(Workload):
    """The paper's batch job, ingest → index → serve → audit, over a seeded
    corpus in which 10% of documents are verbatim re-submissions and 5%
    near-duplicates. A pass runs the registered ``INGEST_QUERIES``,
    classifies the documents with ``NullModel`` (the Arrow ``mapInPandas``
    path) and writes them as training shards; serves ``ASK_PAIRS`` /ask
    request pairs, probing the ingested embeddings with fixture embeddings
    that are not among them: an ``exact`` request
    (full-scan quantized cosine) and an ``ann`` request (one LSH bucket,
    re-ranked), each collected to the driver; and ends with the registered
    ``AUDIT_QUERIES`` over the same input directory. Every query result is
    written to parquet."""

    # a batch job is a job of its own, so its user pays the cold start
    # (code generation, JIT, Python workers) on every run: no warm-up
    cold = True

    def setup(self, ctx: Ctx, rdir: str) -> None:
        rng = np.random.default_rng(ctx.seed)
        self.corpus = self._corpus(rng, ctx.scale["ingest_docs"])
        self.rdir = rdir
        self.expected = None
        self.written: dict[int, tuple[int, int]] = {}
        self.asks: dict[int, list[dict]] = {}

    @staticmethod
    def _corpus(rng: np.random.Generator, n: int) -> Corpus:
        docs = gen.documents(rng, n, resubmit_share=0.10, near_dup_share=0.05)
        vecs, labels, probes = gen.embeddings(rng, n, ASK_PAIRS)
        tables = gen.relational(rng)
        return Corpus(docs, vecs, labels, tables, probes, checks.SimilarityTwin(vecs))

    def _input_dir(self, i: int) -> str:
        # every pass reads a directory of its own: the engine stages derived
        # entities per (session, input dir), and a pass must ingest afresh
        d = os.path.join(self.rdir, f"in_{i}")
        c = self.corpus
        gen.write_input_dir(d, c.docs, c.vecs, c.labels, c.tables)
        self.input_bytes = _dir_stats(d)[1]
        return d

    def op(self, ctx: Ctx, i: int, traced: bool) -> Op:
        in_dir = self._input_dir(i)
        out_dir = os.path.join(self.rdir, f"out_{i}")
        t0 = time.perf_counter()
        with ctx.tracer.span("ingest.pass", request=i):
            if traced:
                self._stage_spans(ctx, in_dir)
            self._run_queries(ctx, in_dir, out_dir, INGEST_QUERIES, traced)
            self._classify_and_shard(ctx, in_dir, out_dir, traced)
            answers = self._serve(ctx, in_dir)
            self._run_queries(ctx, in_dir, out_dir, [(q, "plans." + q) for q in AUDIT_QUERIES], traced)
        dt = time.perf_counter() - t0
        ok = self._check(ctx, in_dir, out_dir) & self._check_asks(ctx, i, answers)
        if traced:
            self.written[i] = _dir_stats(out_dir)
        shutil.rmtree(out_dir, ignore_errors=True)
        shutil.rmtree(in_dir, ignore_errors=True)
        return Op(dt, len(self.corpus.docs), ok)

    @staticmethod
    def _run_queries(ctx: Ctx, in_dir: str, out_dir: str, queries, traced: bool) -> None:
        """Each registered query of ``queries`` written to parquet. Traced,
        the query's result is materialised inside its own span and written
        inside a ``sinks.write`` span."""
        from data_ingestion_din_spark.plans import QUERIES

        T = ctx.tracer
        for name, span in queries:
            path = os.path.join(out_dir, name)
            if not traced:
                QUERIES[name](ctx.spark, in_dir).write.parquet(path)
                continue
            with T.span(span):
                df = QUERIES[name](ctx.spark, in_dir).localCheckpoint(eager=True)
            with T.span("sinks.write"):
                df.write.parquet(path)

    @staticmethod
    def _stage_spans(ctx: Ctx, in_dir: str) -> None:
        """Traced passes only: the entity scans, and the block, chunking
        and dedup operators timed through their public calls. The scans
        are the engine's staged entities, which the queries then reuse; the
        operator calls are extra work that ``pipeline_e2e`` repeats inside
        its own plan (its dedup keeps the first chunk of each content
        fingerprint by ``doc_id``, ``chunk_seq``)."""
        from pyspark.sql import functions as F

        from data_ingestion_din_spark.operators.blocks import (
            detect_headings,
            flag_header_footer_noise,
            page_font_median,
            propagate_sections,
            reading_order,
        )
        from data_ingestion_din_spark.operators.chunking import semantic_chunks
        from data_ingestion_din_spark.operators.dedup import keep_first_by
        from data_ingestion_din_spark.sources.entities import table_blocks, text_blocks

        T, spark = ctx.tracer, ctx.spark
        with T.span("sources.scan"):
            tb = text_blocks(spark, in_dir)
            table_blocks(spark, in_dir)
        with T.span("operators.blocks"):
            b = propagate_sections(
                detect_headings(page_font_median(flag_header_footer_noise(reading_order(tb))))
            ).localCheckpoint(eager=True)
        with T.span("operators.chunking"):
            chunks = semantic_chunks(b.filter(~F.col("noise"))).localCheckpoint(eager=True)
        with T.span("operators.dedup"):
            keep_first_by(
                chunks, F.col("content_fp"), [F.col("doc_id"), F.col("chunk_seq")]
            ).write.format("noop").mode("overwrite").save()

    @staticmethod
    def _classify_and_shard(ctx: Ctx, in_dir: str, out_dir: str, traced: bool):
        from data_ingestion_din_spark.ai.classify import classify_documents
        from data_ingestion_din_spark.ai.infer import NullModel
        from data_ingestion_din_spark.sinks.shards import write_training_shards
        from data_ingestion_din_spark.sources.tables import load_table

        T = ctx.tracer
        with T.span("ai.classify"):
            docs = load_table(ctx.spark, in_dir, "documents")
            classified = classify_documents(
                docs, model=NullModel(), passthrough=("doc_id", "lang", "text")
            )
            if traced:
                classified = classified.localCheckpoint(eager=True)
        with T.span("sinks.write"):
            return write_training_shards(
                classified, "doc_id", os.path.join(out_dir, "shards"), n_shards=8
            )

    def _serve(self, ctx: Ctx, in_dir: str) -> list[tuple[list[int], list[int], float, float]]:
        """/ask request pairs against the ingested embeddings: for each
        probe, (exact ids, ann ids, exact seconds, ann seconds)."""
        from data_ingestion_din_spark.sources.tables import load_table

        index = load_table(ctx.spark, in_dir, "embeddings")
        out = []
        for q in self.corpus.probes:
            t0 = time.perf_counter()
            exact = _ask(ctx, index, "exact", q)
            t1 = time.perf_counter()
            ann = _ask(ctx, index, "ann", q)
            out.append((exact, ann, t1 - t0, time.perf_counter() - t1))
        return out

    def _check_asks(self, ctx: Ctx, i: int, answers) -> bool:
        """Exact ids and ranks must equal the numpy twin's; ann ids and
        ranks must equal the twin's top-k inside the query's LSH bucket."""
        twin, ok, samples = self.corpus.twin, True, []
        for q, (exact, ann, t_exact, t_ann) in zip(self.corpus.probes, answers):
            if ctx.perturb:
                exact[0], exact[1] = exact[1], exact[0]
            truth = twin.exact(q)
            want_ann, scored = twin.ann(q)
            if exact != truth or ann != want_ann:
                ctx.notes.setdefault("problems", []).append(f"ask {i}: {exact} / {ann}")
                ok = False
            samples.append(
                {
                    "exact_ms": 1e3 * t_exact,
                    "ann_ms": 1e3 * t_ann,
                    "rows_scored": scored,
                    "recall": len(set(ann) & set(truth)) / len(truth),
                }
            )
        self.asks[i] = samples
        return ok

    def _check(self, ctx: Ctx, in_dir: str, out_dir: str) -> bool:
        import pandas as pd

        if self.expected is None:
            self.expected = _ingest_expected(in_dir, self.corpus.docs)
        ok = True
        for name in [q for q, _ in INGEST_QUERIES] + list(AUDIT_QUERIES):
            got = pd.read_parquet(os.path.join(out_dir, name))
            problems = checks.frame_problems(got, self.expected[name])
            if problems:
                ctx.notes.setdefault("problems", []).append(f"{name}: {problems[:2]}")
                ok = False
        shards = pd.read_parquet(os.path.join(out_dir, "shards"))
        shards["shard"] = shards["shard"].astype(int)
        problems = checks.frame_problems(
            shards[["doc_id", "lang", "text", "doc_class", "shard"]],
            self.expected["shards"],
        )
        if problems:
            ctx.notes.setdefault("problems", []).append(f"shards: {problems[:2]}")
            ok = False
        return ok

    def layer_metrics(self, ctx: Ctx, traced: list[int]) -> dict:
        T = ctx.tracer
        out = {}
        layers = (
            "sources.scan",
            "operators.blocks",
            "operators.chunking",
            "operators.dedup",
            "operators.tables",
            "operators.curation",
            "ai.classify",
            "sinks.write",
            "plans.pipeline_e2e",
            *("plans." + q for q in AUDIT_QUERIES),
        )
        for layer in layers:
            per_pass = [
                sum(s.seconds for s in T.spans if s.name == layer and s.request == r)
                for r in traced
            ]
            out[layer + "_s"] = _median(per_pass)
        out["sources.input_mb"] = self.input_bytes / MB
        out["sinks.files_written"] = _median([self.written[r][0] for r in traced])
        out["sinks.bytes_written_mb"] = _median([self.written[r][1] / MB for r in traced])
        for kind in ("exact", "ann"):
            for part in ("plan", "exec"):
                name = f"operators.similarity.{kind}_{part}"
                spans = [s.seconds for s in T.spans if s.name == name and s.request in traced]
                out[name + "_ms"] = 1e3 * _median(spans)
        asks = [a for r in traced for a in self.asks[r]]
        out["operators.similarity.ann_rows_scored"] = _median([a["rows_scored"] for a in asks])
        out["operators.similarity.ann_recall_at_10"] = statistics.mean(a["recall"] for a in asks)
        return out

    def p50_ms_by_kind(self, ops: dict[int, Op]) -> dict[str, float]:
        return {
            kind: _median([a[f"{kind}_ms"] for i in ops for a in self.asks[i]])
            for kind in ("exact", "ann")
        }


def _ask(ctx: Ctx, index, kind: str, q: np.ndarray) -> list[int]:
    """One /ask request: build the top-10 plan for probe ``q`` and collect
    its ids to the driver."""
    from data_ingestion_din_spark.operators.similarity import (
        brute_force_topk,
        double_array_lit,
        lsh_topk,
    )

    T = ctx.tracer
    with T.span(f"operators.similarity.{kind}_plan"):
        qvec = double_array_lit([float(x) for x in q])
        if kind == "exact":
            df = brute_force_topk(index, qvec, k=10, exact=True)
        else:
            df = lsh_topk(index, qvec, k=10)
    with T.span(f"operators.similarity.{kind}_exec"):
        return [r["vec_id"] for r in df.collect()]


def _ingest_expected(in_dir: str, docs: list[dict]) -> dict:
    """Oracle results for one ingest input: the registered DuckDB SQL for
    each query, and the shards as the driver computes them — ``NullModel``
    on each document's first 4000 characters, routed by the md5 shard
    hash."""
    import pandas as pd

    from data_ingestion_din_spark.ai.infer import NullModel
    from data_ingestion_din_spark.plans import ORACLES

    names = [q for q, _ in INGEST_QUERIES] + list(AUDIT_QUERIES)
    out = {name: checks.duck_frame(in_dir, ORACLES[name]) for name in names}
    shards = pd.DataFrame(docs)[["doc_id", "lang", "text"]]
    shards["doc_class"] = NullModel().predict_batch([t[:4000] for t in shards["text"]])
    shards["shard"] = [checks.h64(f"shard:{i}") % 8 for i in shards["doc_id"]]
    out["shards"] = shards
    return out


# ----------------------------------------------------------- upload_stream
class UploadStream(Workload):
    """One uploader landing parquet batches; each upload runs the ingest
    stream (anti-join upsert + append) and the first-seen stateful stream
    to termination. From the second upload of a cycle on, 20% of each
    upload re-lands earlier documents verbatim and 10% repeats earlier text
    under a new id. A cycle is a fixed run of uploads into fresh landing,
    corpus and checkpoint directories, so every run sees the same corpus
    growth whatever its speed. Uploads are small (the per-upload cost is
    mostly stream start, planning and commit), so a run holds several."""

    # the first upload in a JVM is cold (code generation, JIT, Python
    # workers) and the next ones still speed up; three untimed uploads
    # reach the flatter part of that curve
    warm_ops = 3

    def setup(self, ctx: Ctx, rdir: str) -> None:
        rng = np.random.default_rng(ctx.seed)
        self.granule = ctx.scale["uploads_per_cycle"]
        self.uploads = gen.uploads(
            rng,
            ctx.scale["uploads_per_cycle"],
            ctx.scale["upload_docs"],
            reland_share=0.20,
            resubmit_share=0.10,
        )
        self.rdir = rdir
        self.progress: dict[int, dict] = {}
        self._corpus_rows = 0

    def _paths(self, cycle: int) -> dict[str, str]:
        base = os.path.join(self.rdir, f"cycle_{cycle}")
        return {k: os.path.join(base, k) for k in ("landing", "corpus", "ck_ingest", "ck_seen", "seen")}

    def op(self, ctx: Ctx, i: int, traced: bool) -> Op:
        from pyspark.sql import functions as F

        from data_ingestion_din_spark.functions.analysis import fingerprint
        from data_ingestion_din_spark.streaming.ingest import DOCUMENTS_SCHEMA, start_ingest_stream
        from data_ingestion_din_spark.streaming.stateful import first_seen_stream

        k = len(self.uploads)
        cycle, u = divmod(i, k)
        p = self._paths(cycle)
        if u == 0:
            for c in (cycle - 1, cycle):
                shutil.rmtree(os.path.dirname(self._paths(c)["landing"]), ignore_errors=True)
            os.makedirs(p["landing"])
        gen.write_documents(os.path.join(p["landing"], f"upload_{u:03d}.parquet"), self.uploads[u])
        spark, T = ctx.spark, ctx.tracer
        t0 = time.perf_counter()
        with T.span("upload", request=i):
            with T.span("streaming.ingest"):
                q1 = start_ingest_stream(spark, p["landing"], p["corpus"], p["ck_ingest"])
                T.adopt(str(q1.runId))
                q1.awaitTermination()
            with T.span("streaming.stateful"):
                stream = (
                    spark.readStream.schema(DOCUMENTS_SCHEMA)
                    .parquet(p["landing"])
                    .select("doc_id", fingerprint(F.col("text")).alias("fp"))
                )
                q2 = (
                    first_seen_stream(stream, "fp")
                    .writeStream.outputMode("append")
                    .format("parquet")
                    .option("path", p["seen"])
                    .option("checkpointLocation", p["ck_seen"])
                    .trigger(availableNow=True)
                    .start()
                )
                T.adopt(str(q2.runId))
                q2.awaitTermination()
        dt = time.perf_counter() - t0
        for q in (q1, q2):
            if q.exception() is not None:
                raise RuntimeError(f"stream failed: {q.exception()}")
        if traced:
            self.progress[i] = self._progress(spark, p, u, q1, q2)
        ok = True
        if u == k - 1:
            ok = self._check(ctx, p)
        return Op(dt, len(self.uploads[u]), ok)

    def _progress(self, spark, p: dict[str, str], u: int, q1, q2) -> dict:
        """Stream progress of one traced upload, plus how many of its
        chunks the upsert appended (read after the clock stopped)."""
        from data_ingestion_din_spark.streaming.ingest import DOCUMENTS_SCHEMA, chunk_documents

        corpus_rows = spark.read.parquet(p["corpus"]).count()
        batch = spark.createDataFrame(
            [tuple(r[f.name] for f in DOCUMENTS_SCHEMA.fields) for r in self.uploads[u]],
            DOCUMENTS_SCHEMA,
        )
        before = self._corpus_rows if u else 0
        self._corpus_rows = corpus_rows
        return {
            "ingest": [json.loads(x.json) for x in q1.recentProgress],
            "stateful": [json.loads(x.json) for x in q2.recentProgress],
            "corpus_added": corpus_rows - before,
            "batch_chunks": chunk_documents(batch).count(),
            "corpus_files": _dir_stats(p["corpus"])[0],
        }

    def _check(self, ctx: Ctx, p: dict[str, str]) -> bool:
        """Gate a finished cycle: the corpus equals ``chunk_documents`` over
        the distinct landed documents in batch, and the first-seen output
        equals ``keep_first_by`` over the landed rows in arrival order."""
        from pyspark.sql import functions as F
        from pyspark.sql.types import IntegerType, StructField, StructType

        from data_ingestion_din_spark.functions.analysis import fingerprint
        from data_ingestion_din_spark.operators.dedup import keep_first_by
        from data_ingestion_din_spark.streaming.ingest import DOCUMENTS_SCHEMA, chunk_documents

        spark = ctx.spark
        landed = [dict(r, upload=u) for u, batch in enumerate(self.uploads) for r in batch]
        rows = spark.createDataFrame(
            [tuple(r[f.name] for f in DOCUMENTS_SCHEMA.fields) + (r["upload"],) for r in landed],
            StructType([*DOCUMENTS_SCHEMA.fields, StructField("upload", IntegerType())]),
        )
        docs = rows.drop("upload").dropDuplicates(["doc_id"])
        want_corpus = chunk_documents(docs).toPandas()
        got_corpus = spark.read.parquet(p["corpus"]).toPandas()
        if ctx.perturb:
            got_corpus = got_corpus.iloc[1:]
        keyed = rows.select("doc_id", "upload", fingerprint(F.col("text")).alias("fp"))
        want_seen = keep_first_by(keyed, F.col("fp"), [F.col("upload"), F.col("doc_id")]).select("doc_id", "fp").toPandas()
        got_seen = spark.read.parquet(p["seen"]).toPandas()
        problems = checks.frame_problems(got_corpus, want_corpus)
        if got_corpus["chunk_id"].duplicated().any():
            problems.append("corpus holds a chunk_id twice")
        problems += checks.frame_problems(got_seen, want_seen)
        if problems:
            ctx.notes.setdefault("problems", []).append(f"upload cycle: {problems[:3]}")
        return not problems

    def layer_metrics(self, ctx: Ctx, traced: list[int]) -> dict:
        prog = [self.progress[i] for i in traced]
        ingest_s = ctx.tracer.by_request("streaming.ingest")

        def med(fn) -> float:
            return _median([fn(pr) for pr in prog])

        def dur(stream: str, key: str):
            return lambda pr: sum(x["durationMs"].get(key, 0) for x in pr[stream])

        def state(key: str):
            return lambda pr: sum(
                o.get(key, 0) for x in pr["stateful"] for o in x.get("stateOperators", [])
            )

        out = {
            # time the ingest query spends outside its micro-batches:
            # start, source listing between batches, stop
            "streaming.ingest.start_ms": _median(
                [1e3 * ingest_s[i] - dur("ingest", "triggerExecution")(self.progress[i]) for i in traced]
            )
        }
        for key, name in (
            ("triggerExecution", "trigger_ms"),
            ("addBatch", "add_batch_ms"),
            ("latestOffset", "latest_offset_ms"),
            ("queryPlanning", "planning_ms"),
            ("walCommit", "wal_commit_ms"),
        ):
            out["streaming.ingest." + name] = med(dur("ingest", key))
        out["streaming.upsert_skipped_ratio"] = med(
            lambda pr: 1.0 - pr["corpus_added"] / max(1, pr["batch_chunks"])
        )
        out["streaming.corpus_files"] = med(lambda pr: pr["corpus_files"])
        out["streaming.stateful.trigger_ms"] = med(dur("stateful", "triggerExecution"))
        out["streaming.stateful.state_commit_ms"] = med(state("commitTimeMs"))
        out["streaming.stateful.state_rows"] = med(
            lambda pr: pr["stateful"][-1]["stateOperators"][0]["numRowsTotal"]
        )
        out["streaming.stateful.state_mb"] = med(state("memoryUsedBytes")) / MB
        # first-seen keys each emit one row: the share of landed rows let through
        out["streaming.stateful.rows_out_ratio"] = med(
            lambda pr: state("numRowsUpdated")(pr) / max(1, sum(x["numInputRows"] for x in pr["stateful"]))
        )
        return out


WORKLOADS = {
    "ingest_batch": IngestBatch,
    "upload_stream": UploadStream,
}
