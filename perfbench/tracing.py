"""Spans recorded from outside the program, around calls into its layers.

Each span sets a Spark job group while it is open (the innermost span
wins), so every Spark job a layer submits is attributed to that layer.
Stage metrics (tasks, executor run time, JVM GC, shuffle bytes written)
come from Spark's status store at the end of the run; no event log is
written. Spans are kept in memory and summarised once.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._opened = 0
        self._patches: list[tuple[object, str, object]] = []

    # -- spans ----------------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": f"perfbench-{self._opened}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "tags": {},
            "start": time.perf_counter(),
        }
        self._opened += 1
        self._stack.append(rec)
        self.sc.setJobGroup(rec["id"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)
            if parent is not None:
                self.sc.setJobGroup(parent["id"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    # -- patching the layers' public calls ------------------------------------
    def wrap(self, owner, attr: str, name, after=None) -> None:
        """Record a span around ``owner.attr``. ``name`` is a string or a
        function of the call's arguments; ``after(rec, args, kwargs)``
        may add tags once the call returns."""
        raw = owner.__dict__[attr]
        is_cm = isinstance(raw, classmethod)
        fn = raw.__func__ if is_cm else raw
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            label = name(args, kwargs) if callable(name) else name
            with tracer.span(label) as rec:
                out = fn(*args, **kwargs)
                if rec is not None and after is not None:
                    after(rec, args, kwargs)
                return out

        setattr(owner, attr, classmethod(traced) if is_cm else traced)
        self._patches.append((owner, attr, raw))

    def unwrap_all(self) -> None:
        for owner, attr, raw in reversed(self._patches):
            setattr(owner, attr, raw)
        self._patches.clear()

    # -- summaries ------------------------------------------------------------
    def attribute_jobs(self) -> None:
        """Add self (non-nested) Spark job counts and stage metrics to
        every span, from the status store."""
        store = self.sc._jsc.sc().statusStore()
        by_id = {s["id"]: s for s in self.spans}
        for s in self.spans:
            s.update(jobs=0, tasks=0, task_s=0.0, gc_s=0.0, shuffle_write_mb=0.0)
        seen_stages: set[int] = set()
        jobs = store.jobsList(None)
        for i in range(jobs.length()):
            job = jobs.apply(i)
            group = job.jobGroup()
            rec = by_id.get(group.get()) if group.isDefined() else None
            if rec is None:
                continue
            rec["jobs"] += 1
            stage_ids = job.stageIds()
            for k in range(stage_ids.length()):
                sid = stage_ids.apply(k)
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                st = store.lastStageAttempt(sid)
                if st.status().toString() != "COMPLETE":
                    continue
                rec["tasks"] += st.numTasks()
                rec["task_s"] += st.executorRunTime() / 1000.0
                rec["gc_s"] += st.jvmGcTime() / 1000.0
                rec["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20

    def children(self, rec: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == rec["id"]]

    def inclusive(self, rec: dict, key: str) -> float:
        return rec.get(key, 0) + sum(self.inclusive(c, key) for c in self.children(rec))

    def under(self, rec: dict, prefix: str) -> bool:
        """True when some ancestor's name starts with ``prefix``."""
        by_id = {s["id"]: s for s in self.spans}
        p = by_id.get(rec["parent"])
        while p is not None:
            if p["name"].startswith(prefix):
                return True
            p = by_id.get(p["parent"])
        return False

    def named(self, prefix: str, outside: str | None = None) -> list[dict]:
        return [
            s
            for s in self.spans
            if s["name"].startswith(prefix) and not (outside and self.under(s, outside))
        ]


def duration(rec: dict) -> float:
    return rec["end"] - rec["start"]


def dir_stats(path: str | Path) -> tuple[int, int]:
    """(parquet data files, bytes) under a written directory."""
    files = nbytes = 0
    for f in Path(path).rglob("*"):
        if f.is_file() and not f.name.startswith((".", "_")):
            files += 1
            nbytes += f.stat().st_size
    return files, nbytes
