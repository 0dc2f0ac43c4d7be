"""In-memory span tracer for the benchmark.

A span wraps one call into an engine layer and records its name
(``layer.call``), start, end, parent span and run id. With tracing on, each
span also owns a Spark job group (``sc.setJobGroup``) so the jobs, stages and
tasks the call launched are read back from ``statusTracker`` when it ends.
Job counts are *self* counts: a nested span takes over the job group, so a
job is charged to the innermost open span only.

Spans stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._sc = None
        self._next = 0

    def bind(self, sc) -> None:
        """Attach the current SparkContext (re-bound after a session restart)."""
        self._sc = sc

    @contextmanager
    def span(self, name: str, **attrs):
        """Yield a dict the caller may add attributes to. Untraced runs
        still yield a dict, so workload code reads the same either way."""
        if not self.enabled:
            yield dict(attrs)
            return
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        rec = {
            "run": self.run_id,
            "id": self._next,
            "parent": parent["id"] if parent else None,
            "name": name,
            "start": time.perf_counter(),
            **attrs,
        }
        group = f"{self.run_id}-{rec['id']}"
        if self._sc is not None:
            self._sc.setJobGroup(group, name)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            rec.update(self._job_counts(group))
            if self._sc is not None and parent is not None:
                self._sc.setJobGroup(f"{self.run_id}-{parent['id']}", parent["name"])
            self.spans.append(rec)

    def _job_counts(self, group: str) -> dict:
        if self._sc is None:
            return {"jobs": 0, "stages": 0, "tasks": 0}
        try:
            st = self._sc.statusTracker()
            job_ids = st.getJobIdsForGroup(group)
        except Exception:  # the context was stopped inside the span
            return {"jobs": 0, "stages": 0, "tasks": 0}
        stages = tasks = 0
        for j in job_ids:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                si = st.getStageInfo(s)
                if si is not None and si.numTasks:
                    stages += 1
                    tasks += si.numTasks
        return {"jobs": len(job_ids), "stages": stages, "tasks": tasks}

    # -- analysis -----------------------------------------------------------
    def finished(self) -> list[dict]:
        """Spans with duration, self time and inclusive job counts."""
        by_parent: dict[int | None, list[dict]] = {}
        for s in self.spans:
            by_parent.setdefault(s["parent"], []).append(s)

        def fill(s: dict) -> None:
            kids = by_parent.get(s["id"], [])
            for k in kids:
                fill(k)
            s["dur"] = s["end"] - s["start"]
            s["self"] = s["dur"] - _covered(s["start"], s["end"], kids)
            for key in ("jobs", "stages", "tasks"):
                s["all_" + key] = s[key] + sum(k["all_" + key] for k in kids)

        for root in by_parent.get(None, []):
            fill(root)
        return self.spans

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _covered(start: float, end: float, kids: list[dict]) -> float:
    """Length of [start, end] covered by the union of the child intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for k in sorted(kids, key=lambda k: k["start"]):
        s, e = max(k["start"], start), min(k["end"], end)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
