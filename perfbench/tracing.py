"""Spans and Spark stage counters, recorded from outside the program.

Every span is timed around a call into one layer's public function. A
span that runs Spark work tags it with ``SparkContext.setJobGroup`` and
afterwards reads the stage data of that group's jobs from the status
store (this works with the Spark UI disabled). Spans stay in memory and
are written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import statistics
import time

from py4j.protocol import Py4JJavaError

STAGE_FIELDS = (
    "jobs", "stages", "stages_skipped", "tasks", "task_s", "task_cpu_s",
    "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "input_rows",
)


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def tail(values) -> tuple[float, float, int]:
    """(value, percentile, n) of the highest percentile that leaves at
    least ten samples beyond it; with fewer than eleven samples this is
    the largest sample at percentile 100."""
    v = sorted(values)
    n = len(v)
    if n == 0:
        return 0.0, 0.0, 0
    if n < 11:
        return v[-1], 100.0, n
    k = n - 11  # index with exactly ten samples above it
    return v[k], round(100.0 * (k + 1) / n, 1), n


class Tracer:
    """In-memory span store. With ``enabled`` false every method is a
    no-op apart from handing out ids, so untraced runs pay nothing."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self._sc = spark.sparkContext
        self._ids = itertools.count(1)
        self.spans: list[dict] = []

    def new_id(self) -> str:
        return f"s{next(self._ids)}"

    @contextlib.contextmanager
    def span(self, name: str, parent: str | None = None):
        """Time a block and, when enabled, tag its Spark jobs with the
        span id. Stage counters are read later, by :meth:`settle`, so
        the status-store queries stay off the timed path."""
        rec = {"id": self.new_id(), "name": name, "parent": parent}
        if self.enabled:
            self._sc.setJobGroup(rec["id"], name, False)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["s"] = time.perf_counter() - t0
            if self.enabled:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self.spans.append(rec)

    def settle(self) -> None:
        """Attach stage counters to every span that has none yet."""
        for rec in self.spans:
            if "jobs" not in rec:
                rec.update(self.stage_counters(rec["id"]))

    def stage_counters(self, group: str) -> dict:
        """Sum the status-store stage data of every job in ``group``."""
        tracker = self._sc.statusTracker()
        store = self._sc._jsc.sc().statusStore()
        out = dict.fromkeys(STAGE_FIELDS, 0.0)
        seen = set()
        for job in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = tracker.getJobInfo(job)
            for sid in info.stageIds if info else ():
                if sid in seen:
                    continue
                seen.add(sid)
                out["stages"] += 1
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # never attempted: a reused shuffle
                    st = None
                if st is None or st.status().toString() == "SKIPPED":
                    out["stages_skipped"] += 1
                    continue
                out["tasks"] += st.numTasks()
                out["task_s"] += st.executorRunTime() / 1e3
                out["task_cpu_s"] += st.executorCpuTime() / 1e9
                out["shuffle_read_mb"] += st.shuffleReadBytes() / 2**20
                out["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
                out["spill_mb"] += (
                    st.memoryBytesSpilled() + st.diskBytesSpilled()
                ) / 2**20
                out["input_rows"] += st.inputRecords()
        return out

    def of(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1, default=str)
