"""Reader for Spark's JSON event log, attributing work to time spans.

The session must write one plain file per application
(``spark.eventLog.rolling.enabled=false``, ``spark.eventLog.compress=false``;
Spark 4 defaults to rolling zstd files).  Jobs are attributed by their
submission time and tasks by their launch time, because AQE query-stage
jobs are submitted from Spark's own threads and carry no job group.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field

PY_SENT = "data sent to Python workers"


@dataclass
class Task:
    launch_ms: int
    finish_ms: int
    run_ms: int
    gc_ms: int
    shuffle_write: int
    input_bytes: int
    spill: int
    python_bytes: int


@dataclass
class EventLog:
    """Incremental reader: ``poll`` appends the events written since the
    previous call."""
    path: str
    jobs: list = field(default_factory=list)    # submission times (ms)
    tasks: list = field(default_factory=list)   # Task records
    _offset: int = 0

    @classmethod
    def open(cls, log_dir: str, app_id: str) -> "EventLog":
        paths = [p for p in glob.glob(os.path.join(log_dir, app_id + "*"))
                 if os.path.isfile(p)]
        if len(paths) != 1:
            raise RuntimeError(f"expected one plain event log for {app_id} "
                               f"in {log_dir}, found {paths}")
        return cls(paths[0])

    def poll(self, spark=None) -> "EventLog":
        if spark is not None:
            drain(spark)
        with open(self.path, "rb") as fh:
            fh.seek(self._offset)
            chunk = fh.read()
        # keep a trailing partial line for the next poll
        end = chunk.rfind(b"\n") + 1
        self._offset += end
        for line in chunk[:end].splitlines():
            self._add(json.loads(line))
        return self

    def _add(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            self.jobs.append(int(ev["Submission Time"]))
        elif kind == "SparkListenerTaskEnd":
            ti = ev.get("Task Info") or {}
            tm = ev.get("Task Metrics") or {}
            py = sum(int(a.get("Update", 0)) for a in ti.get("Accumulables", [])
                     if a.get("Name") == PY_SENT and "Update" in a)
            self.tasks.append(Task(
                launch_ms=int(ti.get("Launch Time", 0)),
                finish_ms=int(ti.get("Finish Time", 0)),
                run_ms=int(tm.get("Executor Run Time", 0)),
                gc_ms=int(tm.get("JVM GC Time", 0)),
                shuffle_write=int((tm.get("Shuffle Write Metrics") or {})
                                  .get("Shuffle Bytes Written", 0)),
                input_bytes=int((tm.get("Input Metrics") or {}).get("Bytes Read", 0)),
                spill=int(tm.get("Memory Bytes Spilled", 0))
                + int(tm.get("Disk Bytes Spilled", 0)),
                python_bytes=py))

    def jobs_in(self, t0_ms: float, t1_ms: float) -> int:
        return sum(1 for t in self.jobs if t0_ms <= t < t1_ms)

    def tasks_in(self, t0_ms: float, t1_ms: float) -> list:
        return [t for t in self.tasks if t0_ms <= t.launch_ms < t1_ms]


def drain(spark) -> None:
    """Wait until the listener bus has delivered every posted event.  The
    log writer runs on the bus and flushes on every stage and job end, so
    after this the file holds every finished job's events."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def busy_ms(tasks, t0_ms: float, t1_ms: float) -> float:
    """Milliseconds of [t0, t1) during which at least one task ran."""
    spans = sorted((max(t.launch_ms, t0_ms), min(t.finish_ms, t1_ms))
                   for t in tasks)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in spans:
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
