"""Spans around calls into the program's layers, timed from outside.

A span records its layer, name, start, end, parent span and the request id
shared by every span of one query or edit.  Each span runs its calls in a
Spark job group of its own, so jobs, tasks and failed tasks are counted per
span from ``SparkContext.statusTracker()`` once the run ends.  Spans stay in
memory and are written out as JSON at the end of a traced run.

With tracing off every method is a no-op, so the untraced run pays nothing.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager

LAYERS = (
    "session", "sources", "query", "plans", "relations",
    "indexing", "streaming", "similarity", "dedup", "operators",
)


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.sc = None
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._request: str | None = None
        self._patched: list[tuple[object, str, object]] = []
        self._next_id = 0

    # ------------------------------------------------------------ recording
    @contextmanager
    def request(self, rid: str):
        prev, self._request = self._request, rid
        try:
            yield
        finally:
            self._request = prev

    @contextmanager
    def span(self, layer: str, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        self._next_id += 1
        rec = {
            "id": self._next_id,
            "layer": layer,
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "request": self._request,
            **attrs,
        }
        rec["group"] = f"e2ebench-{rec['id']}"
        self._stack.append(rec)
        self._set_group(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            self.spans.append(rec)

    def _set_group(self, rec: dict | None) -> None:
        if self.sc is None:
            return
        if rec is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(rec["group"], f"{rec['layer']}:{rec['name']}")

    def wrap(self, owner, attr: str, layer: str) -> None:
        """Replace ``owner.attr`` with a version that runs inside a span
        (traced runs only); ``restore()`` puts the original back."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*a, **kw):
            with self.span(layer, attr):
                return orig(*a, **kw)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # ------------------------------------------------------------ read-out
    def count_jobs(self) -> None:
        """Attach jobs / tasks / failed tasks of each span's own job group."""
        if not self.enabled or self.sc is None:
            return
        time.sleep(0.5)  # let the listener bus catch up with the last jobs
        st = self.sc.statusTracker()
        for rec in self.spans:
            jobs = st.getJobIdsForGroup(rec["group"])
            tasks = failed = 0
            for j in jobs:
                info = st.getJobInfo(j)
                for sid in info.stageIds if info else ():
                    stage = st.getStageInfo(sid)
                    if stage:
                        tasks += stage.numTasks
                        failed += stage.numFailedTasks
            rec.update(jobs=len(jobs), tasks=tasks, failed_tasks=failed)

    def children(self) -> dict[int | None, list[dict]]:
        out: dict[int | None, list[dict]] = {}
        for rec in self.spans:
            out.setdefault(rec["parent"], []).append(rec)
        return out

    def inclusive(self, rec: dict, key: str, kids=None) -> float:
        """``key`` summed over a span and all its descendants."""
        kids = kids if kids is not None else self.children()
        return rec.get(key, 0) + sum(self.inclusive(c, key, kids) for c in kids.get(rec["id"], []))

    def layer_metrics(self) -> dict[str, float]:
        """Per layer: self time (duration minus what child spans cover; calls
        are sequential, so children never overlap), jobs, tasks, failed tasks."""
        kids = self.children()
        out: dict[str, float] = {}
        for layer in LAYERS:
            mine = [r for r in self.spans if r["layer"] == layer]
            self_s = sum(
                (r["end"] - r["start"]) - sum(c["end"] - c["start"] for c in kids.get(r["id"], []))
                for r in mine
            )
            out[f"{layer}.self_s"] = self_s
            for key in ("jobs", "tasks", "failed_tasks"):
                out[f"{layer}.{key}"] = sum(r.get(key, 0) for r in mine)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump(self.spans, f)
