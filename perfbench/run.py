"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload ingest_batch --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The run sets up once and reports it as
``setup_s``: launch the JVM and start a Spark session at ``local[<cores>]``,
generate the inputs from the seed, prepare what the workload serves from,
and run the workload's untimed warm-up operations. It then runs
operations one after another (one closed-loop client) until ``--seconds``
(default: ``run_seconds`` of ``BENCHMARK.json``) have passed, checking
every result. With ``--trace 0`` the last line carries the end-to-end
metrics of ``BENCHMARK.json``; with ``--trace 1`` operations alternate
untraced and traced and the last line carries the per-layer metrics.

Everything the run writes stays under ``.perfbench/`` in the checkout: the
per-run work directory (removed at exit), a results file per run and, when
traced, the spans.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_args(argv: list[str], run_seconds: float) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=run_seconds)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "smoke"), default="full")
    p.add_argument(
        "--perturb",
        action="store_true",
        help="corrupt one checked result (the smoke test's proof that the gate fires)",
    )
    return p.parse_args(argv)


def read_env() -> int:
    """Cores for ``local[n]``: ``SPARK_GRAFT_CPUS`` if set, else the cores
    this process may run on. Parsed before any work starts."""
    raw = os.environ.get("SPARK_GRAFT_CPUS")
    if raw is None:
        return len(os.sched_getaffinity(0))
    try:
        cpus = int(raw)
    except ValueError:
        raise SystemExit(f"SPARK_GRAFT_CPUS={raw!r} is not an integer")
    if cpus < 1:
        raise SystemExit(f"SPARK_GRAFT_CPUS={raw!r} must be at least 1")
    return cpus


def read_spec() -> dict:
    """The checkout's BENCHMARK.json, reduced to what a run needs."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {
        "end_to_end": {m["name"]: m["unit"] for m in spec["end_to_end"]},
        "per_layer": {m["name"]: m["unit"] for m in spec["per_layer"]},
        "workloads": [w["name"] for w in spec["workloads"]],
        "run_seconds": float(spec["run_seconds"]),
    }


def isolate(work: str, cpus: int) -> None:
    """Point every scratch location of Python, the JVM and Spark into the
    run's work directory, and let Python workers import the engine."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    # HotSpot writes its perf-counter file to /tmp whatever java.io.tmpdir
    # says, in every JVM the launcher starts
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    java_opts = f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(
        [
            "--conf",
            f"spark.driver.extraJavaOptions={java_opts}",
            "--conf",
            f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "pyspark-shell",
        ]
    )
    import tempfile

    tempfile.tempdir = tmp


def stop_spark(spark) -> None:
    """Stop the session and the gateway JVM, and wait for the JVM to end."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(args: argparse.Namespace, cpus: int, work: str, session: dict) -> dict:
    """Set up, measure and check one workload. ``session["spark"]`` always
    holds the live session, so the caller can stop it whatever happens."""
    from data_ingestion_din_spark.session import get_spark

    from perfbench.tracing import Tracer, jvm_heap_peak_mb
    from perfbench.workloads import SCALES, WORKLOADS, Ctx

    wl = WORKLOADS[args.workload]()
    t0 = time.perf_counter()
    spark = session["spark"] = get_spark(f"perfbench-{args.workload}")
    start_s = time.perf_counter() - t0
    ctx = Ctx(spark, Tracer(spark, False), args.seed, SCALES[args.scale], False)
    wl.setup(ctx, work)
    t1 = time.perf_counter()
    wl.warm(ctx)
    warm_s = time.perf_counter() - t1
    setup_s = time.perf_counter() - t0

    ctx.perturb = args.perturb
    min_ops = wl.trace_ops if args.trace else wl.granule
    ops, traced_ops = {}, []
    t_run = time.perf_counter()
    i = 0
    while i < min_ops or i % wl.granule or time.perf_counter() - t_run < args.seconds:
        traced = bool(args.trace) and wl.traced(i)
        ctx.tracer.enabled = traced
        ops[i] = wl.op(ctx, i, traced)
        if traced:
            traced_ops.append(i)
        i += 1
    ctx.tracer.enabled = False

    plain = {j: o for j, o in ops.items() if j not in traced_ops}
    result = {
        "attempted": len(ops),
        "failed": sum(not o.ok for o in ops.values()),
        "cpus": cpus,
        "setup_s": setup_s,
        "session_start_s": start_s,
        "warm_up_s": warm_s,
        "run_wall_s": time.perf_counter() - t_run,
        "ops": [{"i": j, "seconds": o.seconds, "items": o.items, "ok": o.ok} for j, o in ops.items()],
        "notes": ctx.notes,
        "p50_ms_by_kind": wl.p50_ms_by_kind(plain),
    }
    if args.trace:
        T = ctx.tracer
        layer_ops = traced_ops[:1] if wl.cold else traced_ops
        counters = T.counters(
            [k for k, s in enumerate(T.spans) if s.parent is None and s.request in layer_ops]
        )
        n = len(layer_ops)
        busy = sum(ops[j].seconds for j in layer_ops)
        layer = {f"spark.{k}": v / n for k, v in counters.items()}
        layer["spark.core_busy_share"] = counters["exec_run_s"] / (busy * cpus)
        # a cold workload's layers are read from its cold operation, like
        # its end-to-end metrics; the warm pair gives the overhead
        layer.update(wl.layer_metrics(ctx, layer_ops))
        layer["session.start_s"] = start_s
        layer["session.driver_rss_peak_mb"] = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        layer["session.jvm_heap_peak_mb"] = jvm_heap_peak_mb(spark)
        t_med = statistics.median(ops[j].seconds for j in traced_ops[1 if wl.cold else 0 :])
        u_med = statistics.median(o.seconds for o in plain.values())
        layer["trace.overhead_pct"] = 100.0 * (t_med / u_med - 1.0)
        result["metrics"] = layer
        result["spans"] = T
    else:
        lat = [o.seconds for o in plain.values()]
        result["metrics"] = {
            "setup_s": setup_s,
            "p50_ms": 1e3 * statistics.median(lat),
            "items_per_s": sum(o.items for o in plain.values()) / sum(lat),
        }
    return result


def main(argv: list[str]) -> int:
    try:
        spec = read_spec()
    except (OSError, ValueError, KeyError, TypeError) as e:
        print(f"cannot read BENCHMARK.json: {e}", file=sys.stderr)
        return 2
    args = parse_args(argv, spec["run_seconds"])
    cpus = read_env()
    if args.workload not in spec["workloads"]:
        print(f"unknown workload {args.workload!r}; choose from {spec['workloads']}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import importlib.util

    if importlib.util.find_spec("data_ingestion_din_spark") is None:
        print("the engine package data_ingestion_din_spark is not in this checkout", file=sys.stderr)
        return 2

    stamp = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, "work", f"{stamp}-{os.getpid()}")
    results_dir = os.path.join(base, "results")
    os.makedirs(results_dir, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    isolate(work, cpus)
    session: dict = {}
    try:
        result = run(args, cpus, work, session)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        try:
            stop_spark(session.get("spark"))
        finally:
            shutil.rmtree(work, ignore_errors=True)

    units = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = result.pop("metrics")
    # per-layer metrics of layers this workload does not exercise read 0
    result["not_exercised"] = sorted(set(units) - set(values))
    if not args.trace and result["not_exercised"]:
        print(f"metrics not produced: {result['not_exercised']}", file=sys.stderr)
        return 1
    line = {
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in units.items()},
    }
    tracer = result.pop("spans", None)
    if tracer is not None:
        result["spans_file"] = os.path.join(results_dir, stamp + ".spans.json")
        tracer.write(result["spans_file"])
    result["line"] = line
    with open(os.path.join(results_dir, stamp + ".json"), "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
