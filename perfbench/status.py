"""Spark status-store readers: per-run job, stage and plan figures.

Both stores are populated by Spark's own listeners whether or not the UI is
enabled, so reading them runs no extra job:

* the core store (``SparkContext.statusStore``) lists jobs with their stage
  ids, and each stage's last attempt carries task run/CPU/GC time, shuffle
  bytes, spill and submission/completion times;
* the SQL store lists query executions with their final (post-AQE) plan.
"""

from __future__ import annotations

import re

from py4j.protocol import Py4JJavaError


def _opt_ms(opt) -> int | None:
    return opt.get().getTime() if opt.isDefined() else None


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


class StatusStore:
    """Reads the figures of the jobs and queries run since a ``mark()``."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def _drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()

    def mark(self) -> tuple[int, int]:
        """The last job id and query execution id seen so far."""
        self._drain()
        return (max([j.jobId() for j in self._jobs()], default=-1),
                max([e.executionId() for e in self._execs()], default=-1))

    def _jobs(self) -> list:
        return _seq(self._sc.statusStore().jobsList(None))

    def _execs(self) -> list:
        return _seq(self._sql.executionsList())

    def window(self, mark: tuple[int, int], t0_ms: float, t1_ms: float) -> dict:
        """Totals over the jobs run since ``mark``; ``t0_ms``/``t1_ms``
        bound the caller's wall-clock window (epoch ms) for the driver gap."""
        self._drain()
        store = self._sc.statusStore()
        jobs = [j for j in self._jobs() if j.jobId() > mark[0]]
        out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "failed_tasks": 0,
               "task_run_s": 0.0, "task_cpu_s": 0.0, "gc_s": 0.0,
               "spill_mb": 0.0, "shuffle_mb": 0.0}
        spans = []
        seen = set()
        for j in jobs:
            out["failed_tasks"] += j.numFailedTasks()
            for sid in _seq(j.stageIds()):
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:
                    continue  # evicted past spark.ui.retainedStages (long runs)
                if str(st.status()) != "COMPLETE":
                    continue  # skipped: its shuffle output was reused
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                out["failed_tasks"] += st.numFailedTasks()
                out["task_run_s"] += st.executorRunTime() / 1e3
                out["task_cpu_s"] += st.executorCpuTime() / 1e9
                out["gc_s"] += st.jvmGcTime() / 1e3
                out["spill_mb"] += st.diskBytesSpilled() / 1e6
                out["shuffle_mb"] += st.shuffleWriteBytes() / 1e6
                s0, s1 = _opt_ms(st.submissionTime()), _opt_ms(st.completionTime())
                if s0 is not None and s1 is not None and s1 > s0:
                    spans.append((max(s0, t0_ms), min(s1, t1_ms)))
        busy, end = 0.0, t0_ms
        for s0, s1 in sorted(spans):
            if s1 > end:
                busy += s1 - max(s0, end)
                end = s1
        out["driver_gap_s"] = max(0.0, (t1_ms - t0_ms - busy) / 1e3)
        return out

    def plans(self, mark: tuple[int, int]) -> list[str]:
        """Final physical plans of the queries run since ``mark``."""
        self._drain()
        return [e.physicalPlanDescription() for e in self._execs()
                if e.executionId() > mark[1]]


_NODE = re.compile(r"^\((\d+)\) (\w+)")
_TREE_ID = re.compile(r"\((\d+)\)")


def _final_nodes(plan: str) -> set[str]:
    """Node ids of the executed tree: every node outside an adaptive plan's
    ``Initial Plan`` branch (adaptive plans nest, e.g. under a cached
    relation, so the branch is found by its indentation)."""
    live, dead_from = set(), None
    for line in plan.split("\n\n", 1)[0].splitlines():
        start = len(line) - len(line.lstrip(" :+-|"))
        if dead_from is not None and start >= dead_from:
            continue
        dead_from = None
        if "== Initial Plan ==" in line:
            dead_from = start
        else:
            live.update(_TREE_ID.findall(line))
    return live


def plan_counts(plans: list[str]) -> dict:
    """Shuffle exchanges, exchanges whose rows carry a ``sketch*`` column,
    sorts and broadcast exchanges in the executed plans."""
    out = {"exchanges": 0, "sketch_exchanges": 0, "sorts": 0, "broadcasts": 0}
    for plan in plans:
        live = _final_nodes(plan)
        for block in plan.split("\n\n"):
            m = _NODE.match(block.strip())
            if not m or m.group(1) not in live:
                continue
            name = m.group(2)
            if name == "Exchange":
                out["exchanges"] += 1
                inputs = re.search(r"^Input \[\d+\]: \[(.*)\]$", block, re.M)
                if inputs and re.search(r"(^|, )sketch\w*#", inputs.group(1)):
                    out["sketch_exchanges"] += 1
            elif name == "Sort":
                out["sorts"] += 1
            elif name == "BroadcastExchange":
                out["broadcasts"] += 1
    return out
