"""Per-layer metrics of a traced run, from its spans and Spark stages.

Layers are the repository's modules. Build layers come from the set-up's
index build (``index.docid``/``index.builder``, ``index.segments`` with
the ``index.codec`` encode, the stored-fields write, ``index.merge``,
``index.snapshot``); query layers from the timed phase (``search.wand``
on serve_wand; ``searcher``, ``search.executor`` and ``search.phrase``
on frontdoor). A layer a workload does not run reads 0.
"""

from __future__ import annotations

import glob
import json

import lucene_solr_spark.index.merge as merge_mod
import lucene_solr_spark.index.segments as seg
import lucene_solr_spark.index.snapshot as snapshot_mod
import lucene_solr_spark.plans.explain as explain

from .trace import StageMetrics, exchange_count


def install_wrappers(tracer) -> None:
    """Spans around build_segmented_index and the public functions it
    calls (no-op unless the tracer is enabled)."""
    tracer.wrap(seg, "build_segmented_index", "build")
    tracer.wrap(seg, "tokenized_docs", "docid")
    tracer.wrap(seg, "build_segments", "segments")
    tracer.wrap(merge_mod, "merge_segments", "merge")
    tracer.wrap(snapshot_mod, "commit_snapshot", "snapshot.commit")
    tracer.wrap(seg, "read_segmented_index", "snapshot.read")


def plan_shapes(dfs: dict, work: str) -> dict:
    """shape -> normalized plan hash and shuffle Exchange count. The plans
    name files under the run's own directory, which differs from run to
    run and checkout to checkout; that prefix is normalized out too, so
    the hash changes only with the plan's shape."""
    from bench import _plan_fingerprint

    raw = explain.formatted_plan
    explain.formatted_plan = lambda df: raw(df).replace(work, "WORK")
    try:
        return {
            shape: {"fingerprint": _plan_fingerprint(df), "exchanges": exchange_count(df)}
            for shape, df in dfs.items()
        }
    finally:
        explain.formatted_plan = raw


def _dur(spans: list) -> float:
    return sum(s["end"] - s["start"] for s in spans)


def _mean(total: float, n: int) -> float:
    return total / n if n else 0.0


def _groups(spans: list) -> list:
    return [s["group"] for s in spans]


def _build_layers(tr, sm: StageMetrics, index_dir: str) -> dict:
    builds = tr.named("build")
    if not builds:
        return {}
    kids: dict = {}
    for s in tr.children(builds[0]):
        kids.setdefault(s["name"], []).append(s)
    docid = sm.group(_groups(kids.get("docid", [])))
    segs = sm.group(_groups(kids.get("segments", [])))
    merge = sm.group(_groups(kids.get("merge", [])))
    # the stored-fields write runs on a thread that inherits the job group
    # of build_segmented_index itself, so its jobs are the build's own
    stored = sm.group(builds[0]["group"])
    manifests = {"posting_bytes": 0, "n_postings": 0}
    for path in glob.glob(f"{index_dir}/segments/*/manifest.json"):
        with open(path) as f:
            m = json.load(f)
        for key in manifests:
            manifests[key] += m[key]

    def skew(g):
        stages = g["stage_list"]
        return sm.task_skew(max(stages, key=lambda s: s["run_ms"])) if stages else 1.0

    return {
        "docid.wall_s": _dur(kids.get("docid", [])),
        "docid.jobs": docid["jobs"],
        "docid.shuffle_write_bytes": docid["shuffle_write_bytes"],
        "segments.wall_s": _dur(kids.get("segments", [])),
        "segments.exec_run_s": segs["run_ms"] / 1e3,
        "segments.exec_cpu_s": segs["cpu_ns"] / 1e9,
        "segments.task_skew": skew(segs),
        "segments.posting_bytes": manifests["posting_bytes"],
        "segments.n_postings": manifests["n_postings"],
        "stored.exec_run_s": stored["run_ms"] / 1e3,
        "stored.output_bytes": stored["output_bytes"],
        "merge.wall_s": _dur(kids.get("merge", [])),
        "merge.exec_run_s": merge["run_ms"] / 1e3,
        "merge.exec_cpu_s": merge["cpu_ns"] / 1e9,
        "merge.task_skew": skew(merge),
        "merge.shuffle_write_bytes": merge["shuffle_write_bytes"],
        "merge.shuffle_read_bytes": merge["shuffle_read_bytes"],
        "merge.output_bytes": merge["output_bytes"],
        "snapshot.wall_s": _dur(kids.get("snapshot.commit", []) + kids.get("snapshot.read", [])),
    }


def _query_ops(run, keep=lambda shape: True) -> list:
    """The timed phase's query spans (warm-up queries excluded)."""
    return [
        s for s in run.tracer.named("query")
        if s["start"] >= run.timed_start and keep(s.get("shape"))
    ]


def _child_spans(tr, ops: list, name: str) -> list:
    sids = {op["sid"] for op in ops}
    return [s for s in tr.named(name) if s["parent"] in sids]


def _mean_exchanges(plans: list) -> float:
    return _mean(sum(p["exchanges"] for p in plans), len(plans))


def _wand_layers(run, sm: StageMetrics) -> dict:
    tr = run.tracer
    ops = _query_ops(run)
    n = len(ops)
    plan = _child_spans(tr, ops, "wand.plan")
    exe = _child_spans(tr, ops, "wand.exec")
    gp = sm.group(_groups(plan))
    ge = sm.group(_groups(exe))
    # scan stage: writes the blocks that pass the term filter into the
    # Exchange on seg_group; leaf stage: reads them, runs the leaf kernel
    # and the per-leaf top-k
    leaf = [s for s in ge["stage_list"] if s["shuffle_write_bytes"] == 0]
    return {
        "wand.plan.wall_ms": _mean(_dur(plan) * 1e3, n),
        "wand.dict.jobs_per_query": _mean(gp["jobs"], n),
        "wand.dict.cache_hit_ratio": _mean(
            sum(op["cache_hits"] for op in ops), sum(op["lookups"] for op in ops)
        ),
        "wand.exec.wall_ms": _mean(_dur(exe) * 1e3, n),
        "wand.scan.blocks_per_query": _mean(ge["shuffle_write_records"], n),
        "wand.exchange.count": _mean_exchanges(list(run.plans.values())),
        "wand.exchange.bytes_per_query": _mean(ge["shuffle_write_bytes"], n),
        "wand.leaf.exec_run_ms": _mean(sum(s["run_ms"] for s in leaf), n),
        "wand.stages_per_query": _mean(ge["stages"], n),
        "wand.tasks_per_query": _mean(ge["tasks"], n),
        "wand.sched_wait_ms": _mean(ge["sched_wait_ms"], n),
    }


def _searcher_layers(run, sm: StageMetrics) -> dict:
    tr = run.tracer
    ops = _query_ops(run, lambda shape: shape != "phrase")
    n = len(ops)
    plan = _child_spans(tr, ops, "searcher.plan")
    exe = _child_spans(tr, ops, "searcher.exec")
    g_all = sm.group(_groups(plan + exe))
    ge = sm.group(_groups(exe))
    # the phrase shape is a required phrase plus one optional term, so its
    # exec also scores that term on the flat tables and joins the two
    ph_ops = _query_ops(run, lambda shape: shape == "phrase")
    ph_exe = _child_spans(tr, ph_ops, "searcher.exec")
    return {
        "searcher.exec.wall_ms": _mean(_dur(exe) * 1e3, n),
        "searcher.jobs_per_query": _mean(g_all["jobs"], n),
        "searcher.exchange.count": _mean_exchanges(
            [p for shape, p in run.plans.items() if shape != "phrase"]
        ),
        "searcher.shuffle_bytes_per_query": _mean(g_all["shuffle_write_bytes"], n),
        # records the query's stages read, from scans and from shuffles
        "searcher.rows_scanned_per_hit": _mean(
            ge["input_records"] + ge["shuffle_read_records"],
            sum(op["hits"] for op in ops),
        ),
        "phrase.exec.wall_ms": _mean(_dur(ph_exe) * 1e3, len(ph_ops)),
        "phrase.blocks_per_query": _mean(
            sm.group(_groups(ph_exe))["input_records"], len(ph_ops)
        ),
    }


def layer_metrics(run, sm: StageMetrics) -> dict:
    out = _build_layers(run.tracer, sm, run.index_dir)
    if run.workload == "serve_wand":
        out.update(_wand_layers(run, sm))
    if run.workload == "frontdoor":
        out.update(_searcher_layers(run, sm))
    return out


def span_accounting(tr) -> dict:
    """How much of each top-level operation span the self times of its
    spans account for, and the share left in the operation's own code."""
    cover, own = [], []
    for op in (s for s in tr.spans if s["parent"] is None):
        total = op["end"] - op["start"]
        if total <= 0:
            continue
        selfs = {s["sid"]: tr.self_seconds(s) for s in tr.subtree(op)}
        cover.append(sum(selfs.values()) / total)
        own.append(selfs[op["sid"]] / total)
    if not cover:
        return {}
    own.sort()
    return {
        "ops": len(cover),
        "self_sum_over_op_min": min(cover),
        "self_sum_over_op_max": max(cover),
        "op_own_share_median": own[len(own) // 2],
    }
