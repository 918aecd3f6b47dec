"""Per-tag Spark metrics from an uncompressed, non-rolling event log.

The benchmark tags every call into a layer with ``setJobGroup(<tag>)``.
Spark copies the job group into each job's properties, so reading the
event log back attributes every task, and every SQL metric a task
reported, to the tag that launched it.

Only the standard library is used. The log must be written with
``spark.eventLog.compress=false`` and ``spark.eventLog.rolling.enabled=false``
(see :data:`EVENT_LOG_CONF`); Spark 4 otherwise writes zstd-compressed,
rolling logs.

Units, as Spark writes them: ``Executor Run Time`` in ms, ``Executor CPU
Time`` in ns, shuffle and spill sizes in bytes. The SQL metric ``time to
run Python workers`` arrives as a per-task update in ms on pyspark 4.1.2
(``test_eventlog.py`` pins this down on a real job).
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field

PYTHON_TIME_METRIC = "time to run Python workers"
UNTAGGED = "(untagged)"

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session conf that writes one plain JSON-lines event log into ``log_dir``."""
    os.makedirs(log_dir, exist_ok=True)
    return {**EVENT_LOG_CONF, "spark.eventLog.dir": "file://" + os.path.abspath(log_dir)}


@dataclass
class TagMetrics:
    tasks: int = 0
    task_s: float = 0.0
    cpu_s: float = 0.0
    python_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    # stage id -> task run times (s), for max/median skew
    stage_task_s: dict[int, list[float]] = field(default_factory=dict)

    @property
    def skew(self) -> float:
        """max/median task run time in the tag's busiest stage (the one
        with the largest summed task time); 0.0 when the tag ran no task."""
        if not self.stage_task_s:
            return 0.0
        times = sorted(max(self.stage_task_s.values(), key=sum))
        n = len(times)
        median = times[n // 2] if n % 2 else (times[n // 2 - 1] + times[n // 2]) / 2
        return times[-1] / max(median, 1e-3)


def find_event_log(log_dir: str) -> str:
    """The single application log in ``log_dir`` (finished or in progress)."""
    logs = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {logs}")
    return logs[0]


def parse_event_log(path: str) -> dict[str, TagMetrics]:
    """Sum task metrics per job group. Tasks of jobs without a group
    land under :data:`UNTAGGED`."""
    stage_tag: dict[int, str] = {}
    out: dict[str, TagMetrics] = {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            if not line.strip():
                continue
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                tag = props.get("spark.jobGroup.id") or UNTAGGED
                for sid in ev.get("Stage IDs", []):
                    stage_tag[sid] = tag
            elif kind == "SparkListenerTaskEnd":
                _add_task(out, stage_tag.get(ev.get("Stage ID"), UNTAGGED), ev)
    return out


def _add_task(out: dict[str, TagMetrics], tag: str, ev: dict) -> None:
    tm = ev.get("Task Metrics") or {}
    info = ev.get("Task Info") or {}
    m = out.setdefault(tag, TagMetrics())
    run_s = tm.get("Executor Run Time", 0) / 1e3
    m.tasks += 1
    m.task_s += run_s
    m.cpu_s += tm.get("Executor CPU Time", 0) / 1e9
    sw = tm.get("Shuffle Write Metrics") or {}
    m.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / 2**20
    m.spill_mb += tm.get("Disk Bytes Spilled", 0) / 2**20
    m.stage_task_s.setdefault(ev.get("Stage ID"), []).append(run_s)
    for acc in info.get("Accumulables", []):
        if acc.get("Name") == PYTHON_TIME_METRIC:
            m.python_s += float(acc.get("Update", 0)) / 1e3
