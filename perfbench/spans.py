"""Spans, py4j counts and Spark job attribution for the traced run.

A :class:`Tracer` records one span per call into an engine layer: layer,
name, parent, wall interval and the py4j round-trips made while it was the
innermost span. Every span sets its own Spark job group, so after the pass
the jobs and stages the Spark status API reports can be attributed to the
span that submitted them. Spans stay in memory until :meth:`Tracer.collect`.

Entry points are traced by replacing the attribute they are looked up
through (``module.func``, ``Class.method`` or ``dict[key]``) with a
wrapper; :meth:`Tracer.restore` puts every original back.
"""

from __future__ import annotations

import functools
import json
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone


class Span:
    __slots__ = ("id", "parent", "layer", "name", "t0", "t1", "py4j", "group", "extra")

    def __init__(self, sid: int, parent: int | None, layer: str, name: str):
        self.id, self.parent, self.layer, self.name = sid, parent, layer, name
        self.t0 = self.t1 = 0.0
        self.py4j = 0
        self.group = f"pb-{sid}"
        self.extra: dict = {}

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object, bool]] = []
        self._own = False  # True while the tracer itself talks to the JVM
        self._paused = False  # True while the benchmark checks outputs
        client = spark.sparkContext._gateway._gateway_client
        original = client.send_command

        def counting_send(*args, **kwargs):
            if self._stack and not (self._own or self._paused):
                self._stack[-1].py4j += 1
            return original(*args, **kwargs)

        client.send_command = counting_send
        self._patched.append((client, "send_command", original, False))

    def _set_group(self, span: Span | None) -> None:
        self._own = True
        try:
            sc = self.spark.sparkContext
            if span is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            else:
                sc.setJobGroup(span.group, f"{span.layer}:{span.name}")
        finally:
            self._own = False

    @contextmanager
    def span(self, layer: str, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), parent.id if parent else None, layer, name)
        self.spans.append(s)
        self._set_group(s)
        self._stack.append(s)
        s.t0 = time.time()
        try:
            yield s
        finally:
            s.t1 = time.time()
            self._stack.pop()
            self._set_group(parent)

    @contextmanager
    def paused(self):
        """Record no spans and count no py4j calls inside the block."""
        self._paused = True
        try:
            yield
        finally:
            self._paused = False

    def wrap(self, owner, attr: str, layer: str, name: str | None = None, after=None) -> None:
        """Trace every call made through ``owner.attr`` (or ``owner[attr]``
        when ``owner`` is a dict). ``after(span, args, result)`` runs once
        the span has closed, to record counts on ``span.extra``."""
        is_item = isinstance(owner, dict)
        fn = owner[attr] if is_item else getattr(owner, attr)
        label = name or attr

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if self._paused:
                return fn(*args, **kwargs)
            with self.span(layer, label) as s:
                result = fn(*args, **kwargs)
            if after is not None:
                self._own = True
                try:
                    after(s, args, result)
                finally:
                    self._own = False
            return result

        if is_item:
            owner[attr] = traced
        else:
            setattr(owner, attr, traced)
        self._patched.append((owner, attr, fn, is_item))

    def restore(self) -> None:
        for owner, attr, fn, is_item in reversed(self._patched):
            if is_item:
                owner[attr] = fn
            else:
                setattr(owner, attr, fn)
        self._patched.clear()

    # -- attribution -----------------------------------------------------

    def collect(self, settle_s: float = 10.0) -> dict[int, dict]:
        """Per span id: the Spark jobs and stages submitted under its
        group — ``{"jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s",
        "shuffle_bytes", "intervals"}`` — read from the status REST API
        once the listener has seen every job finish."""
        sc = self.spark.sparkContext
        base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        groups = {s.group: s.id for s in self.spans}
        deadline = time.time() + settle_s
        while True:
            jobs = [j for j in _get(f"{base}/jobs") if j.get("jobGroup") in groups]
            if all(j["status"] != "RUNNING" for j in jobs) or time.time() > deadline:
                break
            time.sleep(0.1)
        stages = {s["stageId"]: s for s in _get(f"{base}/stages") if s["status"] == "COMPLETE"}
        out: dict[int, dict] = {}
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            acc = out.setdefault(groups[j["jobGroup"]], {
                "jobs": 0, "stages": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
                "gc_s": 0.0, "shuffle_bytes": 0, "intervals": [],
            })
            acc["jobs"] += 1
            for sid in j["stageIds"]:
                st = stages.pop(sid, None)  # a reused stage counts once, for the job that ran it
                if st is None:
                    continue
                acc["stages"] += 1
                acc["tasks"] += st["numCompleteTasks"]
                acc["run_s"] += st["executorRunTime"] / 1e3
                acc["cpu_s"] += st["executorCpuTime"] / 1e9
                acc["gc_s"] += st.get("jvmGcTime", 0) / 1e3
                acc["shuffle_bytes"] += st["shuffleReadBytes"] + st["shuffleWriteBytes"]
                if st.get("submissionTime") and st.get("completionTime"):
                    acc["intervals"].append(
                        (_epoch(st["submissionTime"]), _epoch(st["completionTime"]))
                    )
        return out


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.load(resp)


def _epoch(stamp: str) -> float:
    return (
        datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%fGMT")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Seconds of ``[lo, hi]`` covered by the union of ``intervals``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the time its direct children cover (spans are
    strictly nested: one client thread)."""
    child = {s.id: 0.0 for s in spans}
    for s in spans:
        if s.parent is not None:
            child[s.parent] += s.dur
    return {s.id: s.dur - child[s.id] for s in spans}


def descendants(spans: list[Span], root: int) -> set[int]:
    """Ids of ``root`` and every span nested under it."""
    out = {root}
    for s in spans:  # parents are always recorded before their children
        if s.parent in out:
            out.add(s.id)
    return out
