"""Per-job-group stage profile from a Spark JSON-lines event log.

Spark writes one JSON event per line when ``spark.eventLog.enabled``
is true (``spark.eventLog.compress=false`` keeps it plain text). This
parser maps each ``SparkListenerStageCompleted`` event's accumulables
to the job group that submitted the stage (the ``spark.jobGroup.id``
local property, set with ``SparkContext.setJobGroup``), and each job's
submission/completion times to the same group.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field

GROUP_PROPERTY = "spark.jobGroup.id"
UNGROUPED = ""

# accumulable name -> (GroupProfile field, scale to the field's unit)
_ACCUMULABLES = {
    "internal.metrics.executorRunTime": ("executor_run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("executor_cpu_s", 1e-9),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_mb", 2**-20),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_mb", 2**-20),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_mb", 2**-20),
    "internal.metrics.diskBytesSpilled": ("spill_mb", 2**-20),
}
_PEAK_MEMORY = "internal.metrics.peakExecutionMemory"


@dataclass
class GroupProfile:
    """Stage and job totals of one job group."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    single_task_stages: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    spill_mb: float = 0.0
    # Largest per-stage peak execution memory (the stage accumulable
    # sums its tasks' peaks).
    peak_exec_mem_mb: float = 0.0
    job_intervals: list[tuple[int, int]] = field(default_factory=list)

    @property
    def jobs_wall_s(self) -> float:
        """Wall time covered by at least one of the group's jobs."""
        covered, end = 0, None
        for s, e in sorted(self.job_intervals):
            if end is None or s > end:
                covered += e - s
                end = e
            elif e > end:
                covered += e - end
                end = e
        return covered / 1000.0


def _number(value) -> float:
    return float(value) if not isinstance(value, str) else float(value.strip() or 0)


def parse(lines) -> dict[str, GroupProfile]:
    """Group profiles from an iterable of event-log lines.

    Stages and jobs submitted outside any job group land under
    :data:`UNGROUPED`. Stages that never complete (skipped stages of a
    reused shuffle) are not counted.
    """
    stage_group: dict[int, str] = {}
    job_start: dict[int, tuple[str, int]] = {}
    groups: dict[str, GroupProfile] = defaultdict(GroupProfile)
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get(GROUP_PROPERTY, UNGROUPED)
            job_start[ev["Job ID"]] = (group, ev["Submission Time"])
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerJobEnd":
            started = job_start.pop(ev["Job ID"], None)
            if started is not None:
                group, t0 = started
                prof = groups[group]
                prof.jobs += 1
                prof.job_intervals.append((t0, ev["Completion Time"]))
        elif kind == "SparkListenerStageSubmitted":
            props = ev.get("Properties") or {}
            if GROUP_PROPERTY in props:
                stage_group[ev["Stage Info"]["Stage ID"]] = props[GROUP_PROPERTY]
        elif kind == "SparkListenerTaskEnd":
            reason = (ev.get("Task End Reason") or {}).get("Reason")
            if reason != "Success":
                groups[stage_group.get(ev["Stage ID"], UNGROUPED)].failed_tasks += 1
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            prof = groups[stage_group.get(info["Stage ID"], UNGROUPED)]
            prof.stages += 1
            prof.tasks += info["Number of Tasks"]
            prof.single_task_stages += info["Number of Tasks"] == 1
            for acc in info.get("Accumulables", []):
                name = acc.get("Name")
                if name in _ACCUMULABLES:
                    attr, scale = _ACCUMULABLES[name]
                    setattr(prof, attr, getattr(prof, attr) + _number(acc["Value"]) * scale)
                elif name == _PEAK_MEMORY:
                    prof.peak_exec_mem_mb = max(
                        prof.peak_exec_mem_mb, _number(acc["Value"]) * 2**-20
                    )
    return dict(groups)


def parse_file(path: str) -> dict[str, GroupProfile]:
    with open(path, encoding="utf-8") as fh:
        return parse(fh)
