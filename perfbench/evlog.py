"""Spark event-log summary per job group.

The traced run gives every span its own Spark job group, so each job —
and through it each stage and task — belongs to exactly one span.
``summarize`` folds an uncompressed JSON-lines event log into, per job
group: jobs, stages, tasks, shuffle bytes written and read, JVM GC
time, executor CPU time, task run time and idle core-seconds
(cores × stage wall − Σ task run time, summed over the group's stages:
the capacity a straggler leaves unused).

    python3 perfbench/evlog.py <event-log-file> [cores]
"""

from __future__ import annotations

import json
import sys
from collections import defaultdict

GROUP_PROP = "spark.jobGroup.id"


def _empty() -> dict:
    return {"jobs": 0, "stages": 0, "tasks": 0, "shuffle_write_bytes": 0,
            "shuffle_read_bytes": 0, "gc_ms": 0, "executor_cpu_ns": 0,
            "run_ms": 0, "stage_wall_ms": 0, "idle_core_ms": 0}


def summarize(lines, cores: int) -> dict:
    """{job group: totals} from event-log lines (str or parsed dicts).
    Stages are counted once even when several jobs share them; a stage
    belongs to the group of the first job that lists it."""
    stage_group: dict = {}
    stage_wall: dict = {}
    stage_run = defaultdict(int)
    out: dict = defaultdict(_empty)
    for line in lines:
        e = json.loads(line) if isinstance(line, str) else line
        ev = e.get("Event")
        if ev == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get(GROUP_PROP) or ""
            out[group]["jobs"] += 1
            for sid in e.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif ev == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            sub, done = si.get("Submission Time"), si.get("Completion Time")
            if sub is not None and done is not None:
                stage_wall[si["Stage ID"]] = done - sub
        elif ev == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            tm = e.get("Task Metrics") or {}
            g = out[stage_group.get(sid, "")]
            g["tasks"] += 1
            g["gc_ms"] += tm.get("JVM GC Time", 0)
            g["executor_cpu_ns"] += tm.get("Executor CPU Time", 0)
            run = tm.get("Executor Run Time", 0)
            g["run_ms"] += run
            stage_run[sid] += run
            sw = tm.get("Shuffle Write Metrics") or {}
            g["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            sr = tm.get("Shuffle Read Metrics") or {}
            g["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                        + sr.get("Local Bytes Read", 0))
    for sid, wall in stage_wall.items():
        g = out[stage_group.get(sid, "")]
        g["stages"] += 1
        g["stage_wall_ms"] += wall
        g["idle_core_ms"] += idle_core_ms(cores, wall, stage_run[sid])
    return dict(out)


def idle_core_ms(cores: int, stage_wall_ms: float, task_run_ms: float) -> float:
    """Core-time a stage held but did not use: cores × wall − Σ run,
    floored at 0 (task run time can exceed wall × cores by the clock
    granularity of short tasks)."""
    return max(0.0, cores * stage_wall_ms - task_run_ms)


def read(path: str) -> list[str]:
    with open(path) as f:
        return [line for line in f if line.strip()]


if __name__ == "__main__":
    n_cores = int(sys.argv[2]) if len(sys.argv) > 2 else 1
    for grp, tot in sorted(summarize(read(sys.argv[1]), n_cores).items()):
        print(json.dumps({"group": grp, **tot}))
