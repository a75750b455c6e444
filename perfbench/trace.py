"""Spans around the calls into each layer, and Spark's per-stage metrics.

Every span comes from the benchmark's own code: the workloads open spans
around the calls they make, and ``Tracer.wrap`` replaces a library
function by a wrapper that opens a span around the original, for the
length of a traced run only. Each span runs its Spark jobs under its own
job group, so the status store attributes every stage to exactly one
span. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import re
import threading
import time
from contextlib import contextmanager

_GROUP = "spark.jobGroup.id"
_GROUP_PREFIX = "perfbench-"


class Tracer:
    """Records spans (name, start, end, parent, op) when enabled; a
    disabled tracer yields ``None`` and records nothing."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next_id = 0
        self._patched: list = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            self._next_id += 1
            sid = self._next_id
        parent = stack[-1] if stack else None
        rec = {
            "sid": sid,
            "name": name,
            "parent": parent["sid"] if parent else None,
            "op": parent["op"] if parent else sid,
            "group": f"{_GROUP_PREFIX}{sid}",
        }
        prev_group = self.sc.getLocalProperty(_GROUP)
        self.sc.setLocalProperty(_GROUP, rec["group"])
        stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty(_GROUP, prev_group)
            with self._lock:
                self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a wrapper that runs it inside a span."""
        if not self.enabled:
            return
        fn = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, fn))

    def unwrap_all(self) -> None:
        while self._patched:
            owner, attr, fn = self._patched.pop()
            setattr(owner, attr, fn)

    def named(self, name: str) -> list:
        return [s for s in self.spans if s["name"] == name]

    def children(self, rec: dict) -> list:
        return [s for s in self.spans if s["parent"] == rec["sid"]]

    def self_seconds(self, rec: dict) -> float:
        """The span's duration minus the part its child spans cover."""
        covered, reach = 0.0, rec["start"]
        for s in sorted(self.children(rec), key=lambda s: s["start"]):
            lo, hi = max(s["start"], reach), min(s["end"], rec["end"])
            if hi > lo:
                covered += hi - lo
                reach = hi
        return rec["end"] - rec["start"] - covered

    def subtree(self, rec: dict) -> list:
        out, todo = [], [rec]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(self.children(cur))
        return out


def _opt_ms(opt) -> int | None:
    return opt.get().getTime() if opt.isDefined() else None


class StageMetrics:
    """Per-stage metrics of every job run under a span's job group, read
    from Spark's status store (works with ``spark.ui.enabled=false``)."""

    def __init__(self, sc):
        self._sc = sc
        jvm = sc._jvm
        store = sc._jsc.sc().statusStore()
        self._store = store
        self.jobs_by_group: dict = {}
        jobs = store.jobsList(jvm.java.util.ArrayList())
        for i in range(jobs.size()):
            job = jobs.apply(i)
            grp = job.jobGroup()
            if not grp.isDefined() or not grp.get().startswith(_GROUP_PREFIX):
                continue
            ids = job.stageIds()
            self.jobs_by_group.setdefault(grp.get(), []).append(
                [ids.apply(x) for x in range(ids.size())]
            )
        wanted = {
            sid for jobs_ in self.jobs_by_group.values() for ids in jobs_ for sid in ids
        }
        self.stages: dict = {}
        listed = store.stageList(
            jvm.java.util.ArrayList(), False, False,
            sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
        )
        for i in range(listed.size()):
            s = listed.apply(i)
            sid = s.stageId()
            if sid not in wanted:
                continue
            prev = self.stages.get(sid)
            if prev is not None and prev["attempt"] > s.attemptId():
                continue
            sub, first = _opt_ms(s.submissionTime()), _opt_ms(s.firstTaskLaunchedTime())
            self.stages[sid] = {
                "stage": sid,
                "attempt": s.attemptId(),
                "skipped": s.status().toString() == "SKIPPED",
                "tasks": s.numTasks(),
                "run_ms": s.executorRunTime(),
                "cpu_ns": s.executorCpuTime(),
                "input_records": s.inputRecords(),
                "output_bytes": s.outputBytes(),
                "shuffle_write_bytes": s.shuffleWriteBytes(),
                "shuffle_write_records": s.shuffleWriteRecords(),
                "shuffle_read_bytes": s.shuffleReadBytes(),
                "shuffle_read_records": s.shuffleReadRecords(),
                "sched_wait_ms": (first - sub) if sub is not None and first is not None else 0,
            }

    def group(self, groups) -> dict:
        """Totals over the non-skipped stages of the given job groups."""
        if isinstance(groups, str):
            groups = [groups]
        jobs = [ids for g in groups for ids in self.jobs_by_group.get(g, [])]
        stage_ids = sorted({sid for ids in jobs for sid in ids})
        stages = [
            self.stages[s] for s in stage_ids
            if s in self.stages and not self.stages[s]["skipped"]
        ]
        out = {"jobs": len(jobs), "stages": len(stages), "stage_list": stages}
        for key in (
            "tasks", "run_ms", "cpu_ns", "input_records", "output_bytes",
            "shuffle_write_bytes", "shuffle_write_records",
            "shuffle_read_bytes", "shuffle_read_records", "sched_wait_ms",
        ):
            out[key] = sum(s[key] for s in stages)
        return out

    def task_skew(self, stage: dict) -> float:
        """Max ÷ median task executor run time of one stage."""
        q = self._sc._gateway.new_array(self._sc._jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summary = self._store.taskSummary(stage["stage"], stage["attempt"], q)
        if not summary.isDefined():
            return 1.0
        run = summary.get().executorRunTime()
        median, peak = run.apply(0), run.apply(1)
        return peak / median if median > 0 else 1.0


def exchange_count(df) -> int:
    """Shuffle Exchange nodes in the physical plan's tree (not yet run,
    so the plan is the one AQE starts from)."""
    from lucene_solr_spark.plans.explain import formatted_plan

    tree = formatted_plan(df).split("\n\n", 1)[0]
    return len(re.findall(r"\bExchange \(\d+\)", tree))


def jvm_heap_peak_mb(sc) -> float:
    """Sum over the JVM's heap pools of each pool's peak usage."""
    pools = sc._jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
    return sum(
        p.getPeakUsage().getUsed() for p in pools if p.getType().name() == "HEAP"
    ) / 2**20
