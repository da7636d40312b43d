"""Spans, Spark job accounting and layer counters for the benchmark.

Everything is measured from outside the package: the recorder times the
benchmark's own calls into each layer, and with tracing on it also

- puts each top-level span in its own Spark job group and reads that
  group's job count from the ``statusTracker`` when the span ends,
- wraps the public ``fsio.NativeFS`` methods (op counts and time),
- wraps the tracker's planning step, CDC discovery and CDC read,
- wraps the table services' public refresh functions,
- turns the Spark event log on and, after the session stops, assigns
  every job to the spans whose interval holds its submission time.

Spans stay in memory (name, start, end, parent) and are written out
when the run ends. Every wrapper is removed again by ``uninstall``.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import Counter
from contextlib import contextmanager

FS_METHODS = (
    "exists",
    "getFileStatus",
    "listStatus",
    "listFiles",
    "delete",
    "mkdirs",
    "create",
    "open",
    "getContentSummary",
    "rename",
)
_MISSING = object()


class Recorder:
    """Span recorder. ``traced=False`` keeps only the timing the
    end-to-end metrics need, so the plain run pays no tracing cost."""

    def __init__(self, traced: bool):
        self.traced = traced
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self.fs_ops: Counter = Counter()
        self.fs_time = 0.0
        self._undo: list = []
        self.sc = None

    # -- spans -------------------------------------------------------------

    @contextmanager
    def span(self, name: str, **attrs):
        """Time the body as one span, nested under the open span of the
        main thread. Top-level spans get their own Spark job group."""
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None}
        rec.update(attrs)
        self.spans.append(rec)
        group = None
        if self.traced and self.sc is not None and not self._stack:
            group = f"perfbench-{sid}"
            self.sc.setJobGroup(group, name)
        self._stack.append(sid)
        rec["fs_before"] = self.fs_snapshot() if self.traced else None
        rec["t0"] = time.time()
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["t1"] = time.time()
            self._stack.pop()
            if group is not None:
                rec["group_jobs"] = len(self.sc.statusTracker().getJobIdsForGroup(group))
            if self.traced:
                before = rec.pop("fs_before")
                now = self.fs_snapshot()
                rec["fs_ops"] = {k: now[0][k] - before[0].get(k, 0) for k in now[0]}
                rec["fs_s"] = now[1] - before[1]
            else:
                rec.pop("fs_before")

    def wall(self, rec: dict) -> float:
        return rec["end"] - rec["start"]

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and "end" in s]

    def children(self, rec: dict, name: str) -> list[dict]:
        return [s for s in self.spans if s["parent"] == rec["id"] and s["name"] == name]

    def descendants(self, name: str, top_ids: set[int]) -> list[dict]:
        """Finished spans called ``name`` nested anywhere under one of
        the spans ``top_ids``."""
        out = []
        for s in self.named(name):
            p = s["parent"]
            while p is not None and p not in top_ids:
                p = self.spans[p]["parent"]
            if p is not None:
                out.append(s)
        return out

    # -- wrappers ------------------------------------------------------------

    def fs_snapshot(self) -> tuple[dict, float]:
        with self._lock:
            return dict(self.fs_ops), self.fs_time

    def patch(self, owner, attr: str, wrapper) -> None:
        """Set ``owner.attr`` to ``wrapper`` until ``uninstall``."""
        self._undo.append((owner, attr, vars(owner).get(attr, _MISSING)))
        setattr(owner, attr, wrapper)

    def wrap_call(self, owner, attr: str, span_name: str) -> None:
        """Replace ``owner.attr`` by a version that runs in a span."""
        orig = getattr(owner, attr)

        def wrapped(*a, **k):
            if threading.current_thread() is not threading.main_thread():
                return orig(*a, **k)
            with self.span(span_name):
                return orig(*a, **k)

        self.patch(owner, attr, wrapped)

    def install_fs_counters(self) -> None:
        """Count and time every public ``NativeFS`` call (outermost call
        only, so a method built on another is counted once)."""
        from rds_to_datalake_project_spark import fsio

        for name in FS_METHODS:
            orig = getattr(fsio.NativeFS, name)

            def wrapped(fs_self, *a, _orig=orig, _name=name, **k):
                depth = getattr(self._local, "depth", 0)
                if depth:
                    return _orig(fs_self, *a, **k)
                self._local.depth = 1
                t0 = time.perf_counter()
                try:
                    return _orig(fs_self, *a, **k)
                finally:
                    dt = time.perf_counter() - t0
                    self._local.depth = 0
                    with self._lock:
                        self.fs_ops[_name] += 1
                        self.fs_time += dt

            self.patch(fsio.NativeFS, name, wrapped)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            if orig is _MISSING:
                delattr(owner, attr)
            else:
                setattr(owner, attr, orig)
        self._undo.clear()

    # -- output ----------------------------------------------------------------

    def dump(self, path: str, extra: dict | None = None) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **(extra or {})}, f)


def parse_event_log(log_dir: str) -> list[tuple[float, float, str | None]]:
    """Spark jobs from an uncompressed event log directory:
    ``(submit_epoch_s, end_epoch_s, job_group)`` per completed job."""
    jobs, starts = [], {}
    for root, _dirs, files in os.walk(log_dir):
        for fn in files:
            with open(os.path.join(root, fn), errors="replace") as f:
                for line in f:
                    if '"SparkListenerJob' not in line[:60]:
                        continue
                    ev = json.loads(line)
                    if ev["Event"] == "SparkListenerJobStart":
                        props = ev.get("Properties") or {}
                        starts[ev["Job ID"]] = (
                            ev["Submission Time"] / 1000.0,
                            props.get("spark.jobGroup.id"),
                        )
                    elif ev["Event"] == "SparkListenerJobEnd":
                        st = starts.pop(ev["Job ID"], None)
                        if st:
                            jobs.append((st[0], ev["Completion Time"] / 1000.0, st[1]))
    jobs.sort()
    return jobs


def job_stats(jobs, t0: float, t1: float) -> dict:
    """Jobs submitted inside ``[t0, t1]`` (epoch seconds): count, summed
    job time, and driver gap (the part of the interval no job covers)."""
    inside = [(s, e) for s, e, _g in jobs if t0 <= s <= t1]
    busy, cur_s, cur_e = 0.0, None, None
    for s, e in inside:  # union of job intervals, clipped to the span
        s, e = max(s, t0), min(e, t1)
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                busy += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        busy += cur_e - cur_s
    return {
        "jobs": len(inside),
        "job_s": sum(e - s for s, e in inside),
        "gap_s": max(0.0, (t1 - t0) - busy),
    }
