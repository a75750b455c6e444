"""The workloads: set-up, timed phase and output checks.

- serve_wand: the set-up builds the segmented index with
              ``build_segmented_index`` and persists its blocks, as a
              resident searcher would; then four closed-loop clients call
              ``search_wand`` (k=10).
- frontdoor:  the set-up runs ``Searcher.build(with_positions=True)``;
              then one closed-loop client sends query strings through
              ``Searcher.search``, the public entry point, whose flat
              ``IndexTables`` executor serve_wand never runs.

Each set-up's index build is timed on its own (``build_turns_per_s``).
"""

from __future__ import annotations

import glob
import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

import lucene_solr_spark.index.segments as seg
from lucene_solr_spark.searcher import Searcher
from lucene_solr_spark.search.wand import search_wand
from lucene_solr_spark.sources.synth import synth_transcripts

from . import queries
from .layers import install_wrappers, plan_shapes
from .oracle import Oracle, load_corpus

K = 10
WAND_CLIENTS = 4
CORPUS_TURNS = 20_000
# Fixed regardless of core count. bench.py's 64 segments x 32 buckets suit
# its 100k+ turn corpora; at this size that layout is mostly per-task
# overhead (about 10 s per build on 4 cores), too slow for the runs to fit.
LAYOUT = {"num_segments": 16, "seg_group_size": 4, "n_buckets": 16}
WARM_SEED_OFFSET = 1_000_003  # warm-up queries come from another stream
FRONTDOOR_WARM_QUERIES = 2  # term and phrase, the shapes every timed phase runs


class Run:
    """State and results of one benchmark run."""

    def __init__(self, workload: str, spark, work: str, seed: int, seconds: float, tracer):
        self.workload = workload
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.index_dir = f"{work}/index"
        self.setup: dict = {}       # set-up part -> seconds
        self.build_s = 0.0          # wall time of the set-up's index build
        self.index_ratio = 0.0      # at-rest index bytes / corpus bytes
        self.stored_ratio = 0.0     # stored-field bytes / corpus bytes
        self.timed_start = 0.0      # perf_counter when set-up ended and timing began
        self.window_s = 0.0         # wall time of the timed phase
        self.latencies: list = []   # seconds, of the queries that did not raise
        self.attempted = 0
        self.failures: list = []
        self.plans: dict = {}       # traced runs: shape -> plan fingerprint

    def record(self, ok: bool, why: str) -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(why)

    def stage_corpus(self):
        t = time.perf_counter()
        path = f"{self.work}/corpus"
        synth_transcripts(self.spark, CORPUS_TURNS, seed=self.seed).write.parquet(path)
        self.setup["synth_s"] = time.perf_counter() - t
        self.corpus_bytes = _parquet_bytes(path)
        return self.spark.read.parquet(path), path

    def build_oracle(self, corpus_dir: str) -> Oracle:
        t = time.perf_counter()
        oracle = Oracle(*load_corpus(corpus_dir))
        self.setup["oracle_s"] = time.perf_counter() - t
        return oracle

    def build_oracle_during(self, corpus_dir: str, warm_up) -> Oracle:
        """Build the oracle on a second thread while ``warm_up`` runs. The
        oracle is Python work on one core, the warm-up Spark work; neither
        is timed, and overlapping them leaves more of a run's time to the
        timed phase."""
        with ThreadPoolExecutor(max_workers=1) as pool:
            oracle = pool.submit(self.build_oracle, corpus_dir)
            warm_up()
            return oracle.result()

    def check_index(self, what: str, got: dict, oracle: Oracle) -> None:
        want = {k: oracle.stats()[k] for k in got}
        self.record(got == want, f"{what}: index stats {got} != oracle {want}")

    def measure_index(self) -> None:
        """At rest: postings, dictionary and norms; stored fields apart."""
        d = self.index_dir
        at_rest = sum(
            _parquet_bytes(p)
            for p in glob.glob(f"{d}/merged-*/postings")
            + glob.glob(f"{d}/merged-*/dictionary")
            + glob.glob(f"{d}/segments/*/norms.parquet")
        )
        self.index_ratio = at_rest / self.corpus_bytes
        self.stored_ratio = _parquet_bytes(f"{d}/stored") / self.corpus_bytes


def _parquet_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )


def _segmented_stats(idx) -> dict:
    return {
        "doc_count": idx.doc_count,
        "sum_total_term_freq": idx.sum_total_term_freq,
        "max_doc": idx.max_doc,
        "n_terms": idx.dictionary.count(),
    }


def _closed_loop(clients: int, stream, execute, deadline=None, limit=None) -> list:
    """Closed-loop clients: each sends its next query once the previous one
    has returned. Stops at ``deadline`` (perf_counter) or after ``limit``
    queries. Returns [(query, rows or None, latency_s, error or None)]."""
    lock = threading.Lock()
    results: list = []
    sent = [0]

    def client():
        while True:
            with lock:
                if (deadline is not None and time.perf_counter() >= deadline) or (
                    limit is not None and sent[0] >= limit
                ):
                    return
                sent[0] += 1
                q = next(stream)
            t = time.perf_counter()
            try:
                rows, err = execute(q), None
            except Exception as e:  # counted as a failed operation
                rows, err = None, f"{type(e).__name__}: {e}"
            lat = time.perf_counter() - t
            with lock:
                results.append((q, rows, lat, err))

    threads = [threading.Thread(target=client) for _ in range(clients)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    return results


def _timed_queries(run: Run, clients: int, stream, execute, answer) -> None:
    """The timed phase, then every answer checked against the oracle."""
    run.timed_start = time.perf_counter()
    results = _closed_loop(clients, stream, execute, deadline=run.timed_start + run.seconds)
    run.window_s = time.perf_counter() - run.timed_start
    for q, rows, lat, err in results:
        if err is not None:
            run.record(False, f"{q}: {err}")
            continue
        run.latencies.append(lat)
        want = answer(q)
        run.record(rows == want, f"{q}: got {rows[:3]}... want {want[:3]}...")


def _rows(df) -> list:
    return [(int(r["doc_id"]), np.float32(r["score"])) for r in df.collect()]


def _wand_execute(run: Run, idx):
    def execute(q):
        with run.tracer.span("query") as op:
            if op is not None:
                cache = idx.df_cache or {}
                op["shape"] = q["shape"]
                op["lookups"] = len(q["terms"])
                op["cache_hits"] = sum(t in cache for t in q["terms"])
            with run.tracer.span("wand.plan"):
                df = search_wand(idx, q["terms"], q["mode"], k=K, min_should_match=q["msm"])
            with run.tracer.span("wand.exec"):
                return _rows(df)

    return execute


def serve_wand_workload(run: Run) -> None:
    corpus, corpus_dir = run.stage_corpus()
    install_wrappers(run.tracer)
    t = time.perf_counter()
    idx = seg.build_segmented_index(corpus, run.index_dir, **LAYOUT)
    run.build_s = time.perf_counter() - t
    idx.blocks = idx.blocks.persist()
    idx.blocks.count()
    run.setup["index_s"] = time.perf_counter() - t
    execute = _wand_execute(run, idx)
    # concurrent warm-up: the first concurrent queries run slower
    oracle = run.build_oracle_during(corpus_dir, lambda: _closed_loop(
        WAND_CLIENTS, queries.wand_queries(run.seed + WARM_SEED_OFFSET), execute,
        limit=3 * WAND_CLIENTS,
    ))
    run.check_index(run.index_dir, _segmented_stats(idx), oracle)
    run.measure_index()
    _timed_queries(
        run, WAND_CLIENTS, queries.wand_queries(run.seed), execute,
        lambda q: oracle.wand(q["mode"], q["terms"], q["msm"], K),
    )
    if run.tracer.enabled:
        run.plans = plan_shapes({
            q["shape"]: search_wand(idx, q["terms"], q["mode"], k=K, min_should_match=q["msm"])
            for q in queries.wand_canonical()
        }, run.work)


def _frontdoor_execute(run: Run, searcher: Searcher):
    def execute(q):
        with run.tracer.span("query") as op:
            with run.tracer.span("searcher.plan"):
                df = searcher.search(q["q"], k=K, mm=q["mm"])
            with run.tracer.span("searcher.exec"):
                rows = _rows(df)
            if op is not None:
                op["shape"] = q["shape"]
                op["hits"] = len(rows)
        return rows

    return execute


def frontdoor_workload(run: Run) -> None:
    corpus, corpus_dir = run.stage_corpus()
    install_wrappers(run.tracer)
    t = time.perf_counter()
    searcher = Searcher.build(corpus, with_positions=True, index_dir=run.index_dir)
    run.setup["index_s"] = run.build_s = time.perf_counter() - t
    if run.tracer.enabled:
        # before any query: the plans show the cached tables' adaptive
        # plans, which the queries run before them would change
        run.plans = plan_shapes({
            q["shape"]: searcher.search(q["q"], k=K, mm=q["mm"])
            for q in queries.frontdoor_canonical()
        }, run.work)
    execute = _frontdoor_execute(run, searcher)
    # warm-up: a shape runs up to a third slower the first time it runs in
    # a fresh JVM, and a run's timed phase completes only two or three
    # queries, so the warm-up runs the two shapes every timed phase runs,
    # from another seeded stream, one client per query. A third timed
    # query (+a +b) runs cold; the median of three does not see it.
    warm = queries.frontdoor_queries(run.seed + WARM_SEED_OFFSET, load_corpus(corpus_dir)[0])
    oracle = run.build_oracle_during(corpus_dir, lambda: _closed_loop(
        FRONTDOOR_WARM_QUERIES, warm, execute, limit=FRONTDOOR_WARM_QUERIES,
    ))
    flat = searcher.tables
    run.check_index(
        "flat tables",
        {"doc_count": flat.doc_count, "sum_total_term_freq": flat.sum_total_term_freq,
         "max_doc": flat.max_doc},
        oracle,
    )
    run.check_index(run.index_dir, _segmented_stats(searcher.pos_index), oracle)
    run.measure_index()
    _timed_queries(
        run, 1, queries.frontdoor_queries(run.seed, oracle.texts), execute,
        lambda q: oracle.frontdoor(q, K),
    )


WORKLOADS = {
    "serve_wand": serve_wand_workload,
    "frontdoor": frontdoor_workload,
}
