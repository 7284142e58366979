"""Reader for Spark's JSON-lines event log (uncompressed, not rolled).

Spark numbers are attributed by ``spark.job.description``: the benchmark
sets a description around every program call it times, and the stages and
tasks those jobs launch carry it in their properties. Jobs the program
labels itself (the build's ``"build: dictionary writes"`` thread) keep the
program's label.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field

PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
PY_RUN = "time to run Python workers"  # milliseconds
# "time to initialize Python workers" is left out on purpose: it grows
# across identical runs and its sum exceeds wall time.


@dataclass
class LabelStats:
    """Spark work launched under one job description."""

    jobs: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    python_run_s: float = 0.0
    python_sent_bytes: int = 0
    python_returned_bytes: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    # stage id -> task run times (ms) and the stage's [submitted, completed]
    stage_runs: dict[int, list[int]] = field(default_factory=dict)
    stage_span: dict[int, list[int]] = field(default_factory=dict)

    def task_skew(self) -> float:
        """max / median task run time in the stage with the longest wall."""
        walls = {
            sid: span[1] - span[0]
            for sid, span in self.stage_span.items()
            if len(span) == 2 and sid in self.stage_runs
        }
        if not walls:
            return 0.0
        runs = self.stage_runs[max(walls, key=lambda s: (walls[s], -s))]
        med = statistics.median(runs)
        return max(runs) / max(med, 1.0)


def read_events(path: str):
    with open(path, encoding="utf-8") as f:
        for line in f:
            line = line.strip()
            if line:
                yield json.loads(line)


def _description(props: dict | None) -> str | None:
    return (props or {}).get("spark.job.description")


def _accum(task_info: dict, name: str) -> int:
    total = 0
    for a in task_info.get("Accumulables") or ():
        if a.get("Name") == name:
            total += int(a.get("Update") or 0)
    return total


def aggregate(events) -> dict[str, LabelStats]:
    """Fold an event stream into per-description totals."""
    stage_label: dict[int, str] = {}
    out: dict[str, LabelStats] = {}

    def stats_for(label: str | None) -> LabelStats | None:
        if label is None:
            return None
        return out.setdefault(label, LabelStats())

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            st = stats_for(_description(ev.get("Properties")))
            if st is not None:
                st.jobs += 1
        elif kind == "SparkListenerStageSubmitted":
            label = _description(ev.get("Properties"))
            sid = ev["Stage Info"]["Stage ID"]
            if label is not None:
                stage_label[sid] = label
                st = stats_for(label)
                st.stage_span[sid] = [ev["Stage Info"].get("Submission Time") or 0]
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            st = stats_for(stage_label.get(sid))
            if st is not None and sid in st.stage_span:
                span = st.stage_span[sid][:1]
                span.append(ev["Stage Info"].get("Completion Time") or span[0])
                st.stage_span[sid] = span
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            st = stats_for(stage_label.get(sid))
            tm = ev.get("Task Metrics")
            if st is None or not tm:
                continue
            info = ev.get("Task Info") or {}
            run_ms = int(tm.get("Executor Run Time") or 0)
            st.tasks += 1
            st.executor_run_s += run_ms / 1e3
            st.executor_cpu_s += int(tm.get("Executor CPU Time") or 0) / 1e9
            st.gc_s += int(tm.get("JVM GC Time") or 0) / 1e3
            sw = tm.get("Shuffle Write Metrics") or {}
            st.shuffle_write_bytes += int(sw.get("Shuffle Bytes Written") or 0)
            sr = tm.get("Shuffle Read Metrics") or {}
            st.shuffle_read_bytes += int(sr.get("Remote Bytes Read") or 0) + int(
                sr.get("Local Bytes Read") or 0
            )
            st.spill_bytes += int(tm.get("Memory Bytes Spilled") or 0) + int(
                tm.get("Disk Bytes Spilled") or 0
            )
            st.python_sent_bytes += _accum(info, PY_SENT)
            st.python_returned_bytes += _accum(info, PY_RETURNED)
            st.python_run_s += _accum(info, PY_RUN) / 1e3
            st.stage_runs.setdefault(sid, []).append(run_ms)
    return out
