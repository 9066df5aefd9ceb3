"""Benchmark entry point.

    python3 perfbench/run.py --workload release_etl --seed 1 --seconds 5 --trace 0

Run from the repository root.  One process, one SparkSession at
local[$(nproc)], one client issuing operations in a closed loop.  Inputs
are generated from ``--seed`` under ``.perfbench_work/`` in the current
directory, which also holds every file the run writes, and is removed at
the end.  Progress and a summary go to stderr; the last line of stdout is
the JSON result.  See perfbench/README.md for the metrics.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("release_etl", "corpus_serve")
LAYERS = (
    "session",
    "catalog",
    "staging",
    "sources",
    "inference",
    "flatten",
    "schemas",
    "plans.pipeline",
    "plans.publish",
    "diff",
    "streaming",
    "operators.dedup",
    "operators.similarity",
    "operators.textstats",
)
SETUP_REPEATS = 3


T_START = time.perf_counter()


def log(msg: str) -> None:
    print(f"[{time.perf_counter() - T_START:7.2f}] {msg}", file=sys.stderr, flush=True)


def _prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and the package write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))  # as `nproc` counts
    os.environ["SPARK_GRAFT_DRIVER_JAVA_OPTS"] = f"-XX:+UseG1GC -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - last resort: never leave the JVM behind
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    needed = [os.path.join(ROOT, p) for p in ("nextgenetl_spark/__init__.py", "tools/check.py", "bench.py")]
    missing = [p for p in needed if not os.path.exists(p)]
    if missing:
        log(f"perfbench: run from the repository root; missing {missing}")
        return 2

    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.dirname(HERE))
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only once no other workload's run uses it
        except OSError:
            pass


def _run(args, work: str) -> int:
    import bench
    from nextgenetl_spark.session import get_spark
    from perfbench.harness import Harness, median, peak_rss_bytes, tail
    from perfbench.trace import Span, StatusStoreReader, Tracer

    saved = list(sys.path)
    from tools.check import table_hash

    sys.path[:] = saved  # tools/check.py prepends a fixed checkout path; keep imports in this one

    log("imported")
    pool = ThreadPoolExecutor(max_workers=1)
    # the health probe samples CPU steal for a second; it overlaps session start
    health_pre = pool.submit(bench._box_health)
    t_sess = time.time()
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t0
    health_pre = health_pre.result()
    try:
        tracer = Tracer(StatusStoreReader(spark) if args.trace else None)
        if tracer.enabled:
            tracer.spans.append(Span("session", t_sess, time.time()))
            tracer.jobs.extend(tracer.reader.new_jobs())
        h = Harness(tracer, log)
        wl = _workload(args.workload)(spark, h, table_hash, work, args.seed)

        setup_times = []
        for rep in range(SETUP_REPEATS):
            tracer.enabled = bool(args.trace) and rep == SETUP_REPEATS - 1
            t0 = time.perf_counter()
            wl.setup(rep)
            setup_times.append(time.perf_counter() - t0)
        setup_s = session_s + median(setup_times)
        log(f"setup: session {session_s:.2f}s + median {median(setup_times):.2f}s of {setup_times}")

        # the cold pass, then warm passes until --seconds have passed and
        # the workload has its warm passes; a traced run alternates traced
        # and untraced warm passes, so it needs two of them to have one of
        # each
        passes = []
        deadline = None
        min_warm = max(wl.WARM_PASSES, 1 + args.trace)
        while len(passes) <= min_warm or time.perf_counter() < deadline:
            i = len(passes)
            if i:
                _settle(spark)
            traced = bool(args.trace) and i % 2 == 0
            tracer.enabled = traced
            rec = h.run_pass(lambda i=i: wl.run_pass(i), wl.output_roots(), traced)
            rec.input_rows, rec.input_bytes = wl.pass_inputs(i)
            passes.append(rec)
            if deadline is None:
                deadline = time.perf_counter() + args.seconds
            log(
                f"pass {i}: {rec.wall_s:.2f}s ops={len(rec.ops)} queries={len(rec.queries)} "
                f"appends={len(rec.appends)} written={rec.written} traced={traced}"
            )
        tracer.enabled = False
    finally:
        health_post = pool.submit(bench._box_health)
        _stop_spark(spark)
        pool.shutdown()
        log("stopped")
    health_post = health_post.result()

    warm = passes[1:]
    ops = [x for p in warm for x in p.ops]
    queries = [x for p in warm for x in p.queries]
    appends = [x for p in warm for x in p.appends]
    op_tail, op_p, op_n = tail(ops)
    q_tail, q_p, q_n = tail(queries)
    pass_s = median([p.wall_s for p in warm])
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "passes": len(passes),
        "setup_repeats_s": setup_times,
        "session_s": session_s,
        "op_tail": {"percentile": op_p, "samples": op_n},
        "query_tail": {"percentile": q_p, "samples": q_n},
        "warm_samples_s": {
            "ops": [round(x, 4) for x in ops],
            "queries": [round(x, 4) for x in queries],
            "appends": [round(x, 4) for x in appends],
        },
        "error_rate": h.failed / max(1, h.attempted),
        "peak_rss_mib": peak_rss_bytes() / 2**20,
        "failures": h.failures[:20],
        "box_health_pre": health_pre,
        "box_health_post": health_post,
        "box_health_ok": bench._box_health_ok(health_pre, health_post),
    }
    if args.trace:
        metrics = _layer_metrics(tracer, passes, wl.counters)
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "first_pass_s": (passes[0].wall_s, "s"),
            "pass_s": (pass_s, "s"),
            "rows_per_s": (median([p.input_rows for p in warm]) / pass_s, "1/s"),
            "op_p50_s": (median(ops), "s"),
            "op_tail_s": (op_tail, "s"),
            "query_p50_ms": (1000.0 * median(queries), "ms"),
            "query_tail_ms": (1000.0 * q_tail, "ms"),
            "append_p50_s": (median(appends), "s"),
            "write_amp": (sum(p.written for p in warm) / sum(p.input_bytes for p in warm), "ratio"),
        }
    for name, (value, unit) in metrics.items():
        log(f"  {name:<44} {value:>14.6g} {unit}")
    log("detail: " + json.dumps(detail, default=str))
    print(
        json.dumps(
            {
                "correct": h.failed == 0,
                "attempted": h.attempted,
                "failed": h.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


def _settle(spark) -> None:
    """Let the JVM finish what the previous pass left behind before the next
    is timed: collect both heaps, then wait until JIT compilation has been
    idle for half a second (five seconds at most).  Without it the first
    op of a warm pass paid a varying share of the cold pass's collection
    and compilation."""
    gc.collect()
    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    jit = jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    last, give_up = jit.getTotalCompilationTime(), time.perf_counter() + 5.0
    while time.perf_counter() < give_up:
        time.sleep(0.5)
        now = jit.getTotalCompilationTime()
        if now == last:
            return
        last = now


def _workload(name: str):
    if name == "release_etl":
        from perfbench.release_etl import ReleaseEtl

        return ReleaseEtl
    from perfbench.corpus_serve import CorpusServe

    return CorpusServe


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def _layer_metrics(tracer, passes, counters: dict) -> dict:
    """Per-layer totals over the traced setup and the traced passes; the
    ratios named in README.md (0 where the workload never calls the layer);
    and the tracing overhead: the median traced warm pass minus the median
    untraced warm pass of the same run."""
    from perfbench.trace import attribute_jobs, layer_totals

    spans, jobs = tracer.spans, tracer.jobs
    totals = layer_totals(spans, jobs, list(LAYERS))
    units = {"calls": "count", "self_s": "s", "jobs": "count", "tasks": "count", "driver_gap_s": "s",
             "shuffle_write_bytes": "bytes", "spill_bytes": "bytes", "failed": "count"}
    out = {f"{layer}.{f}": (totals[layer][f], unit) for layer in LAYERS for f, unit in units.items()}

    by_span = attribute_jobs(spans, jobs)
    loads = [i for i, s in enumerate(spans) if s.layer == "catalog"]
    dense = [i for i, s in enumerate(spans) if s.layer == "operators.similarity" and s.parent is not None
             and spans[s.parent].layer == "request"]
    c = counters.get
    out["catalog.memo_hit_ratio"] = (_ratio(sum(1 for i in loads if not by_span.get(i)), len(loads)), "ratio")
    out["plans.pipeline.skip_fresh_ratio"] = (_ratio(c("steps_fresh", 0), c("steps", 0)), "ratio")
    out["plans.publish.short_circuit_ratio"] = (_ratio(c("publish_skipped", 0), c("publish_calls", 0)), "ratio")
    out["staging.reuse_ratio"] = (_ratio(c("staging_reused", 0), c("staging_calls", 0)), "ratio")
    out["operators.dedup.pair_yield"] = (_ratio(c("dedup_pairs", 0), c("dedup_candidates", 0)), "ratio")
    out["operators.similarity.jobs_per_query"] = (
        _ratio(sum(len(by_span.get(i, [])) for i in dense), len(dense)), "count")
    out["operators.similarity.recall_at_k"] = (_ratio(c("recall_sum", 0), c("recall_n", 0)), "ratio")
    out["sources.rows_per_s"] = (_ratio(c("source_rows_traced", 0), totals["sources"]["self_s"]), "1/s")
    out["streaming.batches"] = (_ratio(c("stream_batches", 0), c("stream_runs", 0)), "count")
    traced = [p.wall_s for p in passes[1:] if p.traced]
    plain = [p.wall_s for p in passes[1:] if not p.traced]
    out["trace.overhead_s"] = (statistics.median(traced) - statistics.median(plain), "s")
    return out


if __name__ == "__main__":
    sys.exit(main())
