"""Layer spans and Spark job accounting for the traced run.

The untraced run uses :data:`NO_TRACE`, whose spans are empty context
managers, so end-to-end figures carry no tracing cost. The traced run
uses :class:`Tracer`: every op and every wrapped layer call gets its own
Spark job group ``pb.<op>.<layer>``, so after the run

- job counts per group come from ``statusTracker``;
- stage and task counts per op come from ``statusTracker`` too;
- task metrics (executor run/CPU time, GC, shuffle write, spill,
  failed tasks) come from the uncompressed, unrolled event log.
"""

from __future__ import annotations

import glob
import json
import time
from contextlib import contextmanager, nullcontext


class _NoTrace:
    enabled = False

    def op(self, i: int):
        return nullcontext()

    def layer(self, name: str):
        return nullcontext()

    def count(self, name: str, value: float = 1) -> None:
        pass


NO_TRACE = _NoTrace()

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


class Tracer:
    enabled = True

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.ops: dict[int, dict] = {}  # op -> {"wall": s, "layers": {..}, "counts": {..}}
        self._op: int | None = None
        self._group: str | None = None

    def _set_group(self, group: str | None) -> None:
        self._group = group
        if group is None:
            self.sc._jsc.clearJobGroup()
        else:
            self.sc.setJobGroup(group, group)

    @contextmanager
    def op(self, i: int):
        rec = self.ops.setdefault(i, {"wall": 0.0, "layers": {}, "counts": {}})
        self._op = i
        self._set_group(f"pb.{i}.op")
        t0 = time.perf_counter()
        try:
            yield
        finally:
            rec["wall"] += time.perf_counter() - t0
            self._set_group(None)
            self._op = None

    @contextmanager
    def layer(self, name: str):
        if self._op is None:  # a layer call outside any op (e.g. a check)
            yield
            return
        prev = self._group
        self._set_group(f"pb.{self._op}.{name}")
        t0 = time.perf_counter()
        try:
            yield
        finally:
            layers = self.ops[self._op]["layers"]
            layers[name] = layers.get(name, 0.0) + time.perf_counter() - t0
            self._set_group(prev)

    def count(self, name: str, value: float = 1) -> None:
        if self._op is not None:
            counts = self.ops[self._op]["counts"]
            counts[name] = counts.get(name, 0) + value

    # ---------------------------------------------------------- after run

    def drain_listener(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store holds all jobs of the run."""
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:
            time.sleep(2.0)

    def job_counts(self, ops: list[int]) -> dict[int, dict]:
        """Per op: jobs per layer group, plus stages and tasks that ran
        (a stage skipped because its shuffle output was reused has no
        completed task and is not counted)."""
        st = self.sc.statusTracker()
        out = {}
        for i in ops:
            rec = {"jobs": {}, "stages": 0, "tasks": 0}
            stage_ids = set()
            for name in ["op", *self.ops[i]["layers"]]:
                jids = list(st.getJobIdsForGroup(f"pb.{i}.{name}"))
                rec["jobs"][name] = len(jids)
                for jid in jids:
                    info = st.getJobInfo(jid)
                    if info is not None:
                        stage_ids.update(info.stageIds)
            for sid in stage_ids:
                si = st.getStageInfo(sid)
                if si is not None and si.numCompletedTasks > 0:
                    rec["stages"] += 1
                    rec["tasks"] += si.numCompletedTasks
            out[i] = rec
        return out


def task_metrics(event_dir: str) -> dict[int, dict]:
    """Task metrics summed per op, parsed from the event log that
    ``spark.stop()`` finished writing into ``event_dir``."""
    stage_op: dict[int, int] = {}
    out: dict[int, dict] = {}
    for path in glob.glob(f"{event_dir}/*"):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerStageSubmitted":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                    if group.startswith("pb."):
                        stage_op[ev["Stage Info"]["Stage ID"]] = int(group.split(".")[1])
                elif kind == "SparkListenerTaskEnd":
                    op = stage_op.get(ev["Stage ID"])
                    if op is None:
                        continue
                    m = ev.get("Task Metrics") or {}
                    rec = out.setdefault(op, dict.fromkeys(
                        ("run_s", "cpu_s", "gc_s", "shuffle_write_bytes",
                         "spill_bytes", "failed_tasks"), 0))
                    rec["run_s"] += m.get("Executor Run Time", 0) / 1e3
                    rec["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    rec["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    rec["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics") or {}
                    ).get("Shuffle Bytes Written", 0)
                    rec["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    reason = (ev.get("Task End Reason") or {}).get("Reason")
                    rec["failed_tasks"] += reason != "Success"
    return out
