#!/usr/bin/env python3
"""Benchmark of the BM25 index engine, one workload per invocation.

Run from the repository root:

    python3 perfbench/run.py --workload serve_wand --seed 1 --seconds 10 --trace 0

Workloads (see workloads.py): ``serve_wand`` and ``frontdoor``.
The seed feeds the corpus synthesis and the query streams; the engine
receives only the generated inputs. The run sets up (JVM start, corpus
synthesis, set-up index build, oracle build, warm-up), measures for
``--seconds``, then checks every output against an exhaustive oracle.

Standard output ends with two JSON lines: a report with every figure of
the run under its name (host facts, Spark sizing, set-up parts, each query's
latency and percentiles with sample counts, failures, and in a traced run the layer
spans and plan fingerprints), then the result line
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are BENCHMARK.json's ``end_to_end`` list; with ``--trace 1`` they
are its ``per_layer`` list, measured by spans around each layer's calls
and Spark's per-stage metrics. Run both with one seed to get the tracing
overhead (the report's ``e2e`` section is filled in either mode).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("serve_wand", "frontdoor")


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _import_library() -> bool:
    """Put the checkout first on sys.path and make sure the engine is
    imported from it, not from anywhere else."""
    if sys.path and os.path.abspath(sys.path[0]) == HERE:
        sys.path.pop(0)  # the package's own modules are not top-level
    sys.path.insert(0, ROOT)
    try:
        import lucene_solr_spark
    except ImportError as e:
        print(f"perfbench: lucene_solr_spark is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return False
    if not os.path.abspath(lucene_solr_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: lucene_solr_spark was imported from "
              f"{lucene_solr_spark.__file__}, outside {ROOT}", file=sys.stderr)
        return False
    return True


def _start_spark(work: str, cores: int, mem_mb: int, traced: bool):
    """Host-fitted session: cores and driver memory go through the
    environment variables session.py reads; every file Spark, the JVM and
    the Python workers write lands under ``work``."""
    tmp = f"{work}/tmp"
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEM": f"{mem_mb}m",
        "SPARK_LOCAL_DIRS": f"{work}/spark-local",
        "TMPDIR": tmp,
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
    })
    tempfile.tempdir = None
    from lucene_solr_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        # the heap is reserved and touched up front, as on a long-running
        # server, so peak memory does not hinge on when the heap grew
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{mem_mb}m -XX:+AlwaysPreTouch"
        ),
        "spark.sql.warehouse.dir": f"{work}/warehouse",
    }
    if traced:  # keep every job and stage for the end-of-run readout
        conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
    return get_spark("perfbench", extra_conf=conf)


def _stop_spark(spark) -> None:
    """Stop Spark, end the JVM and wait for it and its Python workers."""
    from pyspark import SparkContext

    from perfbench import host

    started = host.descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    host.wait_gone(started)


def _percentile(sorted_vals: list, q: float) -> tuple:
    """Nearest-rank percentile and the number of samples above it."""
    rank = max(1, math.ceil(q * len(sorted_vals)))
    return sorted_vals[rank - 1], len(sorted_vals) - rank


def _tail(sorted_vals: list, beyond: int = 10) -> dict:
    """The highest whole percentile with at least ``beyond`` samples above
    it, or nothing when there are too few samples."""
    n = len(sorted_vals)
    pct = math.floor(100 * (n - beyond) / n) if n > beyond else 0
    if pct < 50:
        return {}
    value, _ = _percentile(sorted_vals, pct / 100)
    return {"query_tail_pct": pct, "query_tail_ms": value * 1e3}


def _e2e(run, turns: int, peak_rss_mb: float, setup_s: float) -> dict:
    lat = sorted(run.latencies)
    p90, beyond = _percentile(lat, 0.9)
    return {
        "setup_s": setup_s,
        "build_turns_per_s": turns / run.build_s,
        "index_bytes_per_input_byte": run.index_ratio,
        "stored_bytes_per_input_byte": run.stored_ratio,
        "query_p50_ms": statistics.median(lat) * 1e3,
        "query_p90_ms": p90 * 1e3,
        "query_p90_samples_beyond": beyond,
        **_tail(lat),
        "queries_per_s": len(lat) / run.window_s,
        "samples": len(lat),
        "latencies_ms": [x * 1e3 for x in run.latencies],
        "window_s": run.window_s,
        "failed_ops_frac": len(run.failures) / run.attempted,
        "peak_rss_mb": peak_rss_mb,
    }


def main(argv=None) -> int:
    args = _parse(argv)
    t_start = time.perf_counter()
    if not _import_library():
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    from perfbench import host, layers, trace, workloads

    facts = host.host_facts()
    cores = facts["nproc"]
    mem_mb = host.driver_memory_mb(facts["mem_total_mb"])
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    os.makedirs(work)
    try:
        with host.TreeRssSampler() as rss:
            spark = _start_spark(work, cores, mem_mb, bool(args.trace))
            try:
                jvm_s = time.perf_counter() - t_start
                tracer = trace.Tracer(spark.sparkContext, enabled=bool(args.trace))
                run = workloads.Run(args.workload, spark, work, args.seed, args.seconds,
                                    tracer)
                try:
                    workloads.WORKLOADS[args.workload](run)
                finally:
                    tracer.unwrap_all()
                per_layer, traced = {}, {}
                if args.trace:
                    stages = trace.StageMetrics(spark.sparkContext)
                    per_layer = layers.layer_metrics(run, stages)
                    per_layer["jvm.heap_peak_mb"] = trace.jvm_heap_peak_mb(spark.sparkContext)
                    traced = {
                        "spans": len(tracer.spans),
                        "accounting": layers.span_accounting(tracer),
                        "plans": run.plans,
                    }
            finally:
                _stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if not run.latencies:
        print(f"perfbench: no operation completed: {run.failures[:3]}", file=sys.stderr)
        return 1

    setup_s = run.timed_start - t_start
    e2e = _e2e(run, workloads.CORPUS_TURNS, rss.peak_mb, setup_s)
    for part in ("synth_s", "index_s", "oracle_s"):
        per_layer[f"setup.{part}"] = run.setup[part]
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = per_layer if args.trace else e2e
    metrics = {
        m["name"]: {"value": float(source.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in wanted
    }
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": facts,
        "spark": {"cores": cores, "driver_memory_mb": mem_mb},
        "setup": {"jvm_s": jvm_s, **run.setup, "total_s": setup_s},
        "e2e": e2e, "failures": run.failures[:5], "layers": per_layer, "traced": traced,
    }
    print(json.dumps({"report": report}, default=float))
    print(json.dumps({
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
