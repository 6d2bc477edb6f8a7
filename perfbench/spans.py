"""Spans recorded by the benchmark around its own calls into each layer.

A disabled tracer costs one attribute check per span. An enabled one gives
every span its own Spark job group, so after the span the status tracker
says which jobs (and how many tasks) the span caused. It also reads JVM
GC time at both ends of every span. Spans stay in memory until the run
writes them out.
"""

from __future__ import annotations

import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._sc = None

    def attach(self, sc) -> None:
        """Start reading job, task and GC counts from this SparkContext."""
        if not self.enabled:
            return
        self._sc = sc
        self._tracker = sc.statusTracker()
        self._bus = sc._jsc.sc().listenerBus()
        jvm = sc._jvm
        self._gc_beans = list(
            jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        )

    def gc_s(self) -> float:
        if self._sc is None:
            return 0.0
        return sum(b.getCollectionTime() for b in self._gc_beans) / 1000.0

    @contextmanager
    def span(self, name: str, **attrs):
        """Time ``name``; yields the span record (or None when disabled) so
        the caller can attach attributes measured inside it."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "parent": parent["id"] if parent else None,
            "name": name,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        group = f"pb-{rec['id']}"
        if self._sc is not None:
            self._sc.setJobGroup(group, name)
        gc0 = self.gc_s()
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._sc is not None:
                self._close_counts(rec, group, gc0)
                if parent is not None:
                    self._sc.setJobGroup(f"pb-{parent['id']}", parent["name"])
                else:
                    self._sc._jsc.clearJobGroup()

    def _close_counts(self, rec: dict, group: str, gc0: float) -> None:
        # The status store is fed by the listener bus: drain it so every
        # job and task the span caused is visible before counting.
        self._bus.waitUntilEmpty()
        jobs = self._tracker.getJobIdsForGroup(group)
        tasks = 0
        for jid in jobs:
            info = self._tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                stage = self._tracker.getStageInfo(sid)
                if stage is not None:
                    tasks += stage.numCompletedTasks
        rec["jobs"] = len(jobs)
        rec["tasks"] = tasks
        rec["gc_s"] = self.gc_s() - gc0

    def catalog_snapshot(self, rec: dict | None) -> None:
        """Cache residency right now: persisted RDDs and their cached MB."""
        if rec is None or self._sc is None:
            return
        jsc = self._sc._jsc
        infos = jsc.sc().getRDDStorageInfo()
        rec["persisted_rdds"] = jsc.getPersistentRDDs().size()
        rec["cached_mb"] = sum(i.memSize() + i.diskSize() for i in infos) / 2**20
