"""Spark event-log parser: per-job-group stage/task/shuffle/spill/GC
figures and SQL-execution attribution, read offline from the JSON-lines
log the traced run writes (``spark.eventLog.enabled``).

Job groups are set by the benchmark (``SparkContext.setJobGroup``) around
each call it makes, so every number here is attributed to a call without
any tracing inside the program.
"""

from __future__ import annotations

import json
import re
import statistics
from collections import defaultdict
from dataclasses import dataclass, field

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"
# the formatted plan lists each node's arguments in its own section:
#   (6) Execute InsertIntoHadoopFsRelationCommand
#   Input: []
#   Arguments: file:/path/to/target, false, [partition_id#134], Parquet, ...
_WRITE_RE = re.compile(r"\) Execute InsertIntoHadoopFsRelationCommand\n.*?Arguments: (\S+?),", re.DOTALL)
_PY_STAGE_RE = re.compile(r"MapInPandas|MapInArrow|PythonMapInArrow")


@dataclass
class Stage:
    stage_id: int
    attempt: int
    group: str | None = None
    submitted: int = 0
    completed: int = 0
    python: bool = False
    task_ms: list[int] = field(default_factory=list)
    run_ms: int = 0
    gc_ms: int = 0
    shuffle_write: int = 0
    spill_disk: int = 0
    retried: int = 0

    @property
    def wall_s(self) -> float:
        return max(0, self.completed - self.submitted) / 1000.0


@dataclass
class SqlExec:
    exec_id: int
    start: int
    end: int = 0
    plan: str = ""
    group: str | None = None

    @property
    def wall_s(self) -> float:
        return max(0, self.end - self.start) / 1000.0

    @property
    def write_target(self) -> str | None:
        m = _WRITE_RE.search(self.plan)
        return re.sub(r"^file:", "", m.group(1)) if m else None


class EventLog:
    def __init__(self, path: str):
        self.stages: dict[tuple[int, int], Stage] = {}
        self.sql: dict[int, SqlExec] = {}
        stage_group: dict[int, str | None] = {}
        exec_group: dict[int, str | None] = {}
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                    eid = props.get("spark.sql.execution.id")
                    if eid is not None and group is not None:
                        exec_group.setdefault(int(eid), group)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = self._stage(info["Stage ID"], info.get("Stage Attempt ID", 0))
                    st.submitted = info.get("Submission Time") or 0
                    st.completed = info.get("Completion Time") or 0
                    scopes = " ".join(r.get("Scope") or "" for r in info.get("RDD Info", []))
                    st.python = bool(_PY_STAGE_RE.search(scopes + " " + info.get("Stage Name", "")))
                elif kind == "SparkListenerTaskEnd":
                    st = self._stage(ev["Stage ID"], ev.get("Stage Attempt ID", 0))
                    ti = ev.get("Task Info") or {}
                    tm = ev.get("Task Metrics") or {}
                    st.task_ms.append((ti.get("Finish Time") or 0) - (ti.get("Launch Time") or 0))
                    st.run_ms += tm.get("Executor Run Time", 0)
                    st.gc_ms += tm.get("JVM GC Time", 0)
                    st.shuffle_write += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    st.spill_disk += tm.get("Disk Bytes Spilled", 0)
                    if ti.get("Attempt", 0) > 0 or ti.get("Failed") or ti.get("Speculative"):
                        st.retried += 1
                elif kind == _SQL_START:
                    eid = int(ev["executionId"])
                    self.sql[eid] = SqlExec(eid, ev.get("time", 0), plan=ev.get("physicalPlanDescription", ""))
                elif kind == _SQL_END:
                    eid = int(ev["executionId"])
                    if eid in self.sql:
                        self.sql[eid].end = ev.get("time", 0)
        for (sid, _), st in self.stages.items():
            st.group = stage_group.get(sid)
        for eid, ex in self.sql.items():
            ex.group = exec_group.get(eid)

    def _stage(self, sid: int, attempt: int) -> Stage:
        key = (sid, attempt)
        if key not in self.stages:
            self.stages[key] = Stage(sid, attempt)
        return self.stages[key]

    def group_stages(self, group: str) -> list[Stage]:
        return [s for s in self.stages.values() if s.group == group]

    def group_sql(self, group: str) -> list[SqlExec]:
        return [e for e in self.sql.values() if e.group == group]

    def summary(self, group: str) -> dict:
        """Spark-wide figures for one job group."""
        stages = self.group_stages(group)
        tasks = [t for s in stages for t in s.task_ms]
        py = [s for s in stages if s.python]
        py_tasks = [t for s in py for t in s.task_ms]
        med = statistics.median(py_tasks) if py_tasks else 0
        return {
            "stages": len(stages),
            "tasks": len(tasks),
            "task_s": sum(s.run_ms for s in stages) / 1000.0,
            "task_max_over_median": (max(py_tasks) / med) if med else 0.0,
            "python_stage_s": sum(s.wall_s for s in py),
            "shuffle_write_mb": sum(s.shuffle_write for s in stages) / 1e6,
            "spill_mb": sum(s.spill_disk for s in stages) / 1e6,
            "gc_s": sum(s.gc_ms for s in stages) / 1000.0,
            "retried_tasks": sum(s.retried for s in stages)
            + sum(1 for s in stages if s.attempt > 0),
        }

    def attribute_writes(self, group: str, paths: dict[str, str], read_phase: tuple[str, str]) -> dict:
        """Seconds per phase for one job group. ``paths`` maps a phase name
        to the path prefix its writes target; a plan that writes nothing but
        scans ``read_phase[1]`` is counted as ``read_phase[0]``."""
        out: dict[str, float] = defaultdict(float)
        for ex in self.group_sql(group):
            target = ex.write_target
            if target is not None:
                # longest prefix wins: "<ckpt>_staged_p16" also starts with "<ckpt>"
                best = max(
                    (p for p in paths.items() if target.rstrip("/").startswith(p[1].rstrip("/"))),
                    key=lambda p: len(p[1]),
                    default=None,
                )
                if best is not None:
                    out[best[0]] += ex.wall_s
            elif read_phase[1] in ex.plan:
                out[read_phase[0]] += ex.wall_s
        return dict(out)
