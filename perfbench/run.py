"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload query_cached --seed 1 --seconds 4

Run it from the root of a source tree that holds ``pysearchlite_spark/``.
Everything the run writes stays under ``.perfbench/`` in that root: the
per-run work directory (deleted at exit: generated pages, indexes, Spark
temporary files, the event log) and, for ``--trace 1``, the span file
``.perfbench/traces/<workload>-<seed>.jsonl``.

``--trace 0`` measures the end-to-end metrics with nothing wrapped.
``--trace 1`` runs the same set-up and loop with the layer entry points
patched (``tracing.install``) and Spark's event log on, and reports the
per-layer metrics. It then measures the tracing
overhead on the query path: the loop's last query set, run in alternating
untraced and traced passes (``workloads.overhead``).

The metric names and units come from BENCHMARK.json in that root.
Lines starting with ``#`` are the human-readable report: every metric with
its unit and sample count, the workload-specific numbers, the controls and
the environment. The last line is the JSON result.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

CONTROL_REPS = 3


def declared_metrics() -> dict:
    """name -> unit of the end-to-end (key 0) and per-layer (key 1) metrics
    BENCHMARK.json declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
            1: {m["name"]: m["unit"] for m in bench["per_layer"]}}


def parse_args(argv=None):
    from workloads import WORKLOADS
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def git_sha() -> str:
    head = os.path.join(ROOT, ".git", "HEAD")
    if not os.path.isfile(head):
        return "n/a"
    with open(head) as fh:
        ref = fh.read().strip()
    if ref.startswith("ref: "):
        path = os.path.join(ROOT, ".git", ref[5:])
        if not os.path.isfile(path):
            return "n/a"
        with open(path) as fh:
            return fh.read().strip()[:12]
    return ref[:12]


def isolate(work: str, trace: bool) -> None:
    """Point every temporary path of Python, the JVM and Spark into the work
    directory, and make the program importable by Spark's Python
    workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CONSOLE_PROGRESS"] = "false"
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    conf = [f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"]
    if trace:
        log = os.path.join(work, "eventlog")
        os.makedirs(log)
        conf += ["spark.eventLog.enabled=true",
                 f"spark.eventLog.dir=file://{log}",
                 "spark.eventLog.compress=false"]
    args = []
    for c in conf:
        args += ["--conf", c]
    java = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        args) + f" --driver-java-options '{java}' pyspark-shell"
    os.chdir(work)


def controls(ctx) -> dict:
    """Same-window host controls: the Spark job floor and a fixed numpy
    workload."""
    import numpy as np
    floor, cpu = [], []
    for _ in range(CONTROL_REPS):
        with ctx.call("bench.control"):
            t0 = time.perf_counter()
            ctx.spark.range(1000).count()
            floor.append(time.perf_counter() - t0)
        x = np.random.Generator(np.random.PCG64(0)).random(1_000_000)
        t0 = time.perf_counter()
        np.sort(x)
        cpu.append(time.perf_counter() - t0)
    return {"control.spark_floor_ms": statistics.median(floor) * 1e3,
            "control.cpu_ms": statistics.median(cpu) * 1e3}


def run(args) -> dict:
    from corpus import Vocabulary
    from oracle import TokenTable
    from tracing import Tracer, install
    from workloads import Ctx, WORKLOADS

    setup, warm, loop = WORKLOADS[args.workload]
    trace = bool(args.trace)
    tracer = Tracer(enabled=trace)
    t0 = time.perf_counter()
    from pysearchlite_spark.session import get_spark
    spark = get_spark(f"perfbench-{args.workload}",
                      master=f"local[{nproc()}]")
    spark.sparkContext.setLogLevel("ERROR")
    if trace:
        install(tracer, spark)
    vocab = Vocabulary()
    ctx = Ctx(spark, os.getcwd(), args.seed, args.seconds, tracer, vocab,
              TokenTable(vocab.surfaces))
    try:
        return measure(args, ctx, setup, warm, loop, t0)
    finally:
        stop_spark(spark)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits when stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def measure(args, ctx, setup, warm, loop, t0) -> dict:
    from layers import MOVES, kernel_rates, span_metrics
    from tracing import (EventLog, jvm_peak_rss_mb, proc_peak_rss_mb,
                         reset_peak_rss)
    from workloads import Result, overhead

    trace, tracer, spark = bool(args.trace), ctx.tracer, ctx.spark
    st = setup(ctx)
    res = Result()
    if warm is not None:
        warm(ctx, st, res)
    setup_s = time.perf_counter() - t0
    ctl = controls(ctx)
    # the benchmark's own heap (pages, oracle, expected answers) moves to
    # the permanent generation, so collections in the loop only traverse
    # what the program allocates
    gc.collect()
    gc.freeze()

    layer = {}
    tracer.phase = "loop"
    if not reset_peak_rss():
        print("# driver_peak_rss_mb covers set-up: clear_refs refused")
    loop(ctx, st, res)
    rss = proc_peak_rss_mb()
    if trace:
        tracer.phase = "overhead"
        layer["trace.overhead_pct"] = overhead(ctx, st, res)
        tracer.restore()
        layer["spark.jvm_peak_rss_mb"] = jvm_peak_rss_mb(spark)
        layer.update(kernel_rates(st["pages"], ctx.table))
    spark.stop()  # flushes the event log

    res.e2e["setup_s"] = setup_s
    res.e2e["driver_peak_rss_mb"] = rss
    res.report["fail_ratio"] = (res.failed / max(res.attempted, 1), "ratio",
                                res.attempted)
    if trace:
        log = EventLog(os.path.join(ctx.work, "eventlog"))
        layer.update(span_metrics(tracer, log, nproc()))
        layer["engine.preload_s"] = res.info.get("preload_s", 0.0)
        layer["engine.cache_rows"] = res.info.get("cache_rows", 0.0)
        layer["codec.postings_bytes"] = res.info.get("postings_bytes", 0.0)
        layer["sources.catalog.segments_live"] = res.info.get(
            "segments_live", 0.0)
        layer["plans.deletes.tombstones_pending"] = res.info.get(
            "tombstones_pending", 0.0)
        layer["plans.compaction.bytes_rewritten"] = res.info.get(
            "compaction_bytes", 0.0)
        layer.update(ctl)
        res.report["spark.jobs_without_call_span"] = (
            float(log.orphans(tracer)), "count", len(log.jobs))
        traces = os.path.join(ROOT, ".perfbench", "traces")
        tracer.write(os.path.join(traces,
                                  f"{args.workload}-{args.seed}.jsonl"))
    units = declared_metrics()
    values = layer if trace else res.e2e
    metrics = {k: {"value": float(values[k]), "unit": u}
               for k, u in units[args.trace].items()}

    res.n.update(setup_s=1, driver_peak_rss_mb=1)
    for k, u in units[0].items():
        print(f"# {k} = {res.e2e[k]:.6g} {u} (n={res.n[k]})")
    for k, (v, u, n) in sorted(res.report.items()):
        print(f"# {k} = {v:.6g} {u} (n={n})")
    for k, v in sorted(ctl.items()):
        print(f"# {k} = {v:.6g} ms (n={CONTROL_REPS})")
    if trace:
        for k, u in units[1].items():
            print(f"# layer {k} = {layer[k]:.6g} {u} (moves {MOVES[k]})")
    import pyspark
    print(f"# env workload={args.workload} seed={args.seed} "
          f"seconds={args.seconds:g} trace={args.trace} nproc={nproc()} "
          f"spark={pyspark.__version__} git={git_sha()}")
    return {"correct": res.failed == 0, "attempted": res.attempted,
            "failed": res.failed, "metrics": metrics}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "pysearchlite_spark",
                                       "__init__.py")):
        print(f"perfbench: no pysearchlite_spark/ under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench", "work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        isolate(work, bool(args.trace))
        out = run(args)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
