"""Spans around calls into the program, with Spark stage metrics.

A span records name, start, end, parent span and run id, and is tagged
with its own Spark job group. Attribution of Spark work to a span does
not rely on the group, though: the program sets its own job groups
inside ``run_validation.main`` and fans out from worker threads (whose
jobs do not inherit the caller's group), so each span owns the jobs
whose ids were allocated while it was open. Spans run one at a time
(closed loop), so the id windows never overlap.

Stage metrics come from the driver's AppStatusStore (the same numbers
the Spark UI shows), read through py4j after the listener bus drained.
Every stage is counted once, under the first span that ran it.
Spans stay in memory and are written to a file when the run ends.
"""

from __future__ import annotations

import json
import time
import uuid
from contextlib import contextmanager

STAGE_FIELDS = {
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "shuffle_write_records": ("shuffleWriteRecords", 1),
    "spill_bytes": (("memoryBytesSpilled", "diskBytesSpilled"), 1),
}


class StatusStore:
    """Read-only view of the Spark status store for one SparkContext."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()

    def drain(self) -> None:
        # listener events are applied asynchronously; wait until every
        # event of the finished jobs reached the store
        self._sc.listenerBus().waitUntilEmpty()

    def next_job_id(self) -> int:
        """The id the scheduler gives the next job (ids are sequential)."""
        return self._sc.dagScheduler().nextJobId()

    def stages_of_jobs(self, lo: int, hi: int) -> list[int]:
        """Stage ids of the jobs with lo <= jobId < hi."""
        out = []
        for jid in range(lo, hi):
            try:
                sids = self._store.job(jid).stageIds()
            except Exception:  # not in the store (never submitted)
                continue
            out.extend(sids.apply(k) for k in range(sids.size()))
        return out

    def stage_metrics(self, sid: int) -> dict | None:
        try:
            st = self._store.lastStageAttempt(sid)
        except Exception:  # skipped stage: never attempted, no data
            return None
        out = {}
        for name, (getter, scale) in STAGE_FIELDS.items():
            getters = getter if isinstance(getter, tuple) else (getter,)
            out[name] = sum(getattr(st, g)() for g in getters) * scale
        return out

    def app_executor_run_s(self) -> float:
        """Executor run time of every stage of every job of the app."""
        total = 0.0
        for sid in set(self.stages_of_jobs(0, self.next_job_id())):
            m = self.stage_metrics(sid)
            total += m["executor_run_s"] if m else 0.0
        return total


class Tracer:
    """Collects spans; a disabled tracer only times the calls."""

    def __init__(self, enabled: bool = False):
        self.enabled = enabled
        self.spark = None
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[tuple[str, str]] = []
        self._seen_stages: set[int] = set()
        self._store = None

    def bind(self, spark) -> None:
        """Attach to a SparkContext; spans opened before this only time
        the call (the session does not exist yet)."""
        self.spark = spark
        if self.enabled:
            self._store = StatusStore(spark)
            self._seen_stages = set()

    @contextmanager
    def span(self, name: str, group: bool = True, **attrs):
        """Time the body; when bound to Spark, tag its jobs with a job
        group (unless ``group`` is False) and attribute their stages."""
        rec = {"name": name, "run": self.run_id,
               "parent": self._stack[-1][0] if self._stack else None,
               "id": uuid.uuid4().hex[:12], **attrs}
        lo = -1
        traced = self._store is not None
        if traced:
            rec["app"] = self.spark.sparkContext.applicationId
            self._store.drain()
            lo = self._store.next_job_id()
            if group:
                self._set_group(name)
        self._stack.append((rec["id"], name))
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["end"] = time.time()
            self._stack.pop()
            if traced:
                if group:
                    self._set_group(self._stack[-1][1] if self._stack
                                    else None)
                self._attribute(rec, lo)
            self.spans.append(rec)

    def _set_group(self, name) -> None:
        sc = self.spark.sparkContext
        if name is None:
            sc.setJobGroup("", "")
        else:
            sc.setJobGroup(f"perfbench:{name}", name)

    def _attribute(self, rec: dict, lo: int) -> None:
        self._store.drain()
        hi = self._store.next_job_id()
        totals = {k: 0.0 for k in STAGE_FIELDS}
        n_stages = 0
        for sid in self._store.stages_of_jobs(lo, hi):
            if sid in self._seen_stages:
                continue
            self._seen_stages.add(sid)
            m = self._store.stage_metrics(sid)
            if m is None:
                continue
            n_stages += 1
            for k, v in m.items():
                totals[k] += v
        rec.update(totals, jobs=max(0, hi - lo), stages=n_stages)

    def coverage(self) -> float:
        """Executor time attributed to spans / the app's total executor
        time (each stage is attributed once, so spans sum exactly)."""
        self._store.drain()
        total = self._store.app_executor_run_s()
        app = self.spark.sparkContext.applicationId
        covered = sum(s["executor_run_s"] for s in self.spans
                      if s.get("app") == app)
        return covered / total if total else float("nan")

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s, sort_keys=True, default=str) + "\n")
