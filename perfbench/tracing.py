"""Spans around the calls into the program's modules, kept in memory and
written once when the run ends.

A span records its name, parent, root (the client operation it belongs
to), start and end, counters, and the Spark job group it ran under. Each
span sets its own job group, so a Spark job is attributed to the innermost
span that launched it; the job count comes from
``statusTracker().getJobIdsForGroup`` and the stage/task totals from
Spark's event log (``stage_totals``).

Module attributes are wrapped at call time (``Tracer.wrap``); a layer
boundary that is only a module-level helper is wrapped the same way. A
helper a later version of the program removes is skipped, and its metrics
read 0.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id -> duration minus the part of it covered by child spans
    (children clipped to the parent, overlaps merged)."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        ivs = sorted((max(c["start"], s["start"]), min(c["end"], s["end"]))
                     for c in children.get(s["id"], []))
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in ivs:
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


class Tracer:
    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._undo: list[tuple[object, str, object]] = []
        self.absent: list[str] = []

    # -- spans ---------------------------------------------------------
    @contextmanager
    def span(self, name: str, group: bool = True):
        """Open a span. group=False skips the span's own job group (and its
        two gateway calls) for layers that run only on the driver; a job
        such a span launched would count under its parent."""
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name,
               "parent": parent["id"] if parent else None,
               "root": parent["root"] if parent else len(self.spans),
               "group": f"perfbench-{len(self.spans)}",
               "counts": {}, "jobs": 0}
        self.spans.append(rec)
        prev = None
        group = group and self.sc is not None
        if group:
            prev = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if group:
                rec["jobs"] = len(
                    self.sc.statusTracker().getJobIdsForGroup(rec["group"]))
                self.sc.setLocalProperty("spark.jobGroup.id", prev)

    def count(self, key: str, n: float = 1) -> None:
        """Add to a counter of the innermost open span."""
        if self._stack:
            c = self._stack[-1]["counts"]
            c[key] = c.get(key, 0) + n

    # -- wrapping --------------------------------------------------------
    def wrap(self, module, attr: str, name: str, counter=None,
             span: bool = True, group: bool = True) -> None:
        """Replace module.attr by a wrapper that opens a span ``name``
        (or, with span=False, only counts calls on the open span).
        ``counter(args, result) -> {key: n}`` adds result-derived counts;
        ``group`` is passed to ``span``."""
        fn = getattr(module, attr, None)
        if fn is None:
            self.absent.append(f"{module.__name__}.{attr}")
            return

        @functools.wraps(fn)
        def wrapper(*args, **kw):
            if not span:
                self.count(name + ".calls")
                return fn(*args, **kw)
            with self.span(name, group=group) as rec:
                out = fn(*args, **kw)
                if counter is not None:
                    for k, v in counter(args, out).items():
                        rec["counts"][k] = rec["counts"].get(k, 0) + v
                return out

        setattr(module, attr, wrapper)
        self._undo.append((module, attr, fn))

    def unwrap_all(self) -> None:
        while self._undo:
            module, attr, fn = self._undo.pop()
            setattr(module, attr, fn)

    # -- aggregation -------------------------------------------------------
    def per_root(self) -> list[dict]:
        """One record per root span: its name, wall ms, the job groups of
        its subtree (the root's own first), and per span name in the
        subtree the summed self ms, inclusive ms, jobs, calls and counters."""
        selfs = self_times(self.spans)
        roots: dict[int, dict] = {}
        for s in self.spans:
            if s.get("end") is None:
                continue
            r = roots.setdefault(s["root"], {"layers": {}, "groups": []})
            if s["id"] == s["root"]:
                r["name"] = s["name"]
                r["wall_ms"] = (s["end"] - s["start"]) * 1e3
            r["groups"].append(s["group"])
            lay = r["layers"].setdefault(s["name"], {"ms": 0.0, "incl_ms": 0.0,
                                                     "jobs": 0, "calls": 0})
            lay["ms"] += selfs[s["id"]] * 1e3
            lay["incl_ms"] += (s["end"] - s["start"]) * 1e3
            lay["jobs"] += s["jobs"]
            lay["calls"] += 1
            for k, v in s["counts"].items():
                lay[k] = lay.get(k, 0) + v
        return [r for r in roots.values() if "name" in r]

    def dump(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "absent": self.absent,
                       **(extra or {})}, f)


def stage_totals(event_log_paths: list[str]) -> dict[str, dict]:
    """job group -> totals over the stages its jobs ran, from uncompressed
    Spark event log files (one JSON event per line): jobs, stages, tasks,
    executor run / CPU / GC seconds, shuffle read / write and spill MB."""
    stage_group: dict[int, str] = {}
    tot: dict[str, dict] = {}

    def t(group):
        return tot.setdefault(group, {
            "jobs": 0, "stages": 0, "tasks": 0, "executor_run_s": 0.0,
            "executor_cpu_s": 0.0, "gc_s": 0.0, "shuffle_read_mb": 0.0,
            "shuffle_write_mb": 0.0, "spill_mb": 0.0})

    for ev in _events(event_log_paths):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                continue
            t(group)["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageCompleted":
            group = stage_group.get(ev["Stage Info"]["Stage ID"])
            if group is not None:
                t(group)["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"))
            m = ev.get("Task Metrics")
            if group is None or not m:
                continue
            g = t(group)
            g["tasks"] += 1
            g["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            g["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            rd = m.get("Shuffle Read Metrics", {})
            g["shuffle_read_mb"] += (rd.get("Remote Bytes Read", 0)
                                     + rd.get("Local Bytes Read", 0)) / 2**20
            g["shuffle_write_mb"] += m.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0) / 2**20
            g["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                              + m.get("Disk Bytes Spilled", 0)) / 2**20
    return tot


def _events(paths: list[str]):
    for path in paths:
        with open(path) as f:
            for line in f:
                yield json.loads(line)
