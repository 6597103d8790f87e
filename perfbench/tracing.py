"""In-memory span tracer for the benchmark's traced run.

A span records (name, start, end, parent, run id) around a call into one
layer's public function. Every span opens its own Spark job group, so the
jobs a span launched directly are ``statusTracker.getJobIdsForGroup``;
tasks and shuffle bytes are deltas of the driver executor's totals in the
JVM status store between span start and end (inclusive of child spans).
The listener bus is drained at both ends so the status store is current.

Spans are kept in a list and written out once, when the run ends. With
tracing disabled a span records only its name, parent and clock readings
(no job group, no status-store reads), which gives every run's artifact a
phase breakdown at no measurable cost; per-layer metrics use traced spans
only.
"""

from __future__ import annotations

import contextlib
import time


class Tracer:
    def __init__(self, spark, run_id: str, enabled: bool):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    # -- status store ------------------------------------------------------
    def _drain(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _totals(self) -> tuple[int, int]:
        """(completed tasks, shuffle write bytes) of the local executor."""
        ex = self.sc._jsc.sc().statusStore().executorSummary("driver")
        return int(ex.completedTasks()), int(ex.totalShuffleWrite())

    def _set_group(self, span: dict | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(span["group"], span["name"])

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "run_id": self.run_id,
            "traced": self.enabled,
            **attrs,
        }
        self.spans.append(rec)
        if not self.enabled:
            self._stack.append(rec)
            rec["start"] = time.perf_counter()
            try:
                yield rec
            finally:
                rec["end"] = time.perf_counter()
                self._stack.pop()
            return
        rec["group"] = f"{self.run_id}:{rec['id']}"
        self._drain()
        tasks0, shuf0 = self._totals()
        self._stack.append(rec)
        self._set_group(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)
            self._drain()
            tasks1, shuf1 = self._totals()
            st = self.sc.statusTracker()
            rec["own_jobs"] = len(st.getJobIdsForGroup(rec["group"]))
            rec["tasks"] = tasks1 - tasks0
            rec["shuffle_write_bytes"] = shuf1 - shuf0

    # -- queries over recorded spans ----------------------------------------
    def children(self, span: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span["id"]]

    def named(self, name: str, under: str | None = None) -> list[dict]:
        """Spans called ``name``; with ``under``, only those that have an
        ancestor called ``under``."""
        out = [s for s in self.spans if s["name"] == name and s["traced"] and "end" in s]
        if under is not None:
            out = [s for s in out if self._has_ancestor(s, under)]
        return out

    def _has_ancestor(self, span: dict, name: str) -> bool:
        p = span["parent"]
        while p is not None:
            if self.spans[p]["name"] == name:
                return True
            p = self.spans[p]["parent"]
        return False

    def jobs(self, span: dict) -> int:
        """Jobs launched inside the span, its children's included."""
        return span.get("own_jobs", 0) + sum(self.jobs(c) for c in self.children(span))

    @staticmethod
    def duration(span: dict) -> float:
        return span["end"] - span["start"]

    def self_time(self, span: dict) -> float:
        """Span duration minus the time its (sequential) children cover."""
        return self.duration(span) - sum(
            self.duration(c) for c in self.children(span) if "end" in c
        )

    def dump(self) -> list[dict]:
        return [
            {k: v for k, v in s.items() if k != "group"}
            | {"self_s": self.self_time(s)}
            for s in self.spans
            if "end" in s
        ]
