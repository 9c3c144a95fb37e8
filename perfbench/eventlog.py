"""Stdlib reader for Spark's JSON-lines event log.

The benchmark's traced run starts Spark with

    spark.eventLog.enabled=true
    spark.eventLog.compress=false
    spark.eventLog.rolling.enabled=false

and runs every call into a layer under ``setJobGroup("<workload>.<layer>")``.
``read_log`` folds the log into one record per job group:

- job, stage and task counts;
- executor run time, executor CPU time and their difference (time tasks
  spent not on a CPU: I/O, Python workers, locks);
- shuffle read/write, input, output and spill bytes;
- the longest and median task of the group's busiest stage;
- SQL operator metrics (scan rows and files, Python-worker bytes, join
  output rows, broadcast size, generated rows), resolved through the
  plans in the SQL execution events and summed per operator kind.

``phase_cpu`` reads the same log a second way, from the stage-completed
aggregates of the jobs submitted with a given local property, so the
per-layer task sums can be checked against the executor work of the
traced cycles.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict

# operator kinds, by the plan node name Spark writes in the log
_KINDS = (
    ("scan", lambda n: n.startswith("Scan ") or n.startswith("FileScan")),
    ("python", lambda n: "Python" in n or "InPandas" in n or "InArrow" in n),
    ("bcast", lambda n: n == "BroadcastExchange"),
    ("exchange", lambda n: n.endswith("Exchange")),
    ("join", lambda n: n.endswith("Join") or n == "CartesianProduct"),
    ("generate", lambda n: n == "Generate"),
)


def _kind(node_name: str) -> str | None:
    for kind, match in _KINDS:
        if match(node_name):
            return kind
    return None


def _walk_plan(info: dict, out: dict[int, tuple[str, str]]) -> None:
    kind = _kind(info.get("nodeName", ""))
    if kind is not None:
        for m in info.get("metrics", ()):
            out[int(m["accumulatorId"])] = (kind, m["name"])
    for child in info.get("children", ()):
        _walk_plan(child, out)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _new_record() -> dict:
    return {
        "jobs": 0,
        "stages": set(),
        "tasks": 0,
        "run_s": 0.0,
        "cpu_s": 0.0,
        "spill_bytes": 0,
        "shuffle_write_bytes": 0,
        "shuffle_read_bytes": 0,
        "input_bytes": 0,
        "output_bytes": 0,
        "job_wall_s": 0.0,
        "ops": defaultdict(float),
        "_stage_tasks": defaultdict(list),
    }


def read_log(path: str) -> dict[str, dict]:
    """One record per job group (``None`` for jobs run outside any)."""
    groups: dict = defaultdict(_new_record)
    stage_group: dict[int, str | None] = {}
    job_group: dict[int, str | None] = {}
    job_start: dict[int, float] = {}
    exec_group: dict[int, str | None] = {}
    acc_names: dict[int, tuple[str, str]] = {}
    pending_driver: list[tuple[int, int, float]] = []
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            name = ev["Event"]
            if name == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                g = props.get("spark.jobGroup.id")
                jid = ev["Job ID"]
                job_group[jid] = g
                job_start[jid] = ev.get("Submission Time", 0)
                rec = groups[g]
                rec["jobs"] += 1
                for sid in ev.get("Stage IDs", ()):
                    stage_group[sid] = g
                    rec["stages"].add(sid)
                eid = props.get("spark.sql.execution.id")
                if eid is not None:
                    exec_group.setdefault(int(eid), g)
            elif name == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in job_start:
                    groups[job_group[jid]]["job_wall_s"] += (
                        ev.get("Completion Time", 0) - job_start[jid]
                    ) / 1e3
            elif name == "SparkListenerTaskEnd":
                rec = groups[stage_group.get(ev["Stage ID"])]
                tm = ev.get("Task Metrics") or {}
                info = ev.get("Task Info") or {}
                rec["tasks"] += 1
                rec["run_s"] += tm.get("Executor Run Time", 0) / 1e3
                rec["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                rec["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
                sw = tm.get("Shuffle Write Metrics") or {}
                rec["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                sr = tm.get("Shuffle Read Metrics") or {}
                rec["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                rec["input_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
                rec["output_bytes"] += (tm.get("Output Metrics") or {}).get(
                    "Bytes Written", 0
                )
                rec["_stage_tasks"][ev["Stage ID"]].append(
                    (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1e3
                )
                for acc in info.get("Accumulables", ()):
                    aid = int(acc.get("ID", -1))
                    if aid in acc_names:
                        rec["ops"][acc_names[aid]] += _num(acc.get("Update"))
            elif name.endswith("SQLExecutionStart") or name.endswith(
                "SQLAdaptiveExecutionUpdate"
            ):
                _walk_plan(ev.get("sparkPlanInfo") or {}, acc_names)
                if name.endswith("SQLExecutionStart"):
                    exec_group.setdefault(int(ev["executionId"]), ev.get("jobGroupId"))
            elif name.endswith("SparkListenerDriverAccumUpdates"):
                eid = int(ev["executionId"])
                for aid, val in ev.get("accumUpdates", ()):
                    pending_driver.append((eid, int(aid), _num(val)))
    # driver-side metrics (files read, broadcast size) may arrive before
    # their plan's accumulator names; resolve them once the log is read
    for eid, aid, val in pending_driver:
        if aid in acc_names:
            groups[exec_group.get(eid)]["ops"][acc_names[aid]] += val
    for rec in groups.values():
        stage_tasks = rec.pop("_stage_tasks")
        busiest = max(stage_tasks.values(), key=sum, default=[])
        rec["task_max_s"] = max(busiest, default=0.0)
        rec["task_median_s"] = statistics.median(busiest) if busiest else 0.0
        rec["stages"] = len(rec["stages"])
        rec["wait_s"] = max(rec["run_s"] - rec["cpu_s"], 0.0)
        rec["ops"] = dict(rec["ops"])
    return dict(groups)


def phase_cpu(path: str, key: str, value: str) -> float:
    """Executor CPU seconds of the jobs whose local property ``key`` was
    ``value`` when they were submitted, from the per-stage aggregates of
    the stage-completed events (not the task events)."""
    stages: set[int] = set()
    cpu: dict[tuple[int, int], float] = {}  # (stage, attempt) -> seconds
    with open(path, encoding="utf-8") as f:
        for line in f:
            if '"SparkListenerJobStart"' in line:
                ev = json.loads(line)
                if (ev.get("Properties") or {}).get(key) == value:
                    stages.update(ev.get("Stage IDs", ()))
            elif '"SparkListenerStageCompleted"' in line:
                info = json.loads(line)["Stage Info"]
                if info["Stage ID"] not in stages:
                    continue
                for acc in info.get("Accumulables", ()):
                    if acc.get("Name") == "internal.metrics.executorCpuTime":
                        cpu[info["Stage ID"], info.get("Stage Attempt ID", 0)] = (
                            _num(acc.get("Value")) / 1e9
                        )
    return sum(cpu.values())


def merge_layers(groups: dict[str, dict], workload: str) -> dict[str, dict]:
    """Fold ``<workload>.<layer>[.<part>]`` groups into one record per layer."""
    layers: dict[str, dict] = {}
    prefix = workload + "."
    for g, rec in groups.items():
        if not g or not g.startswith(prefix):
            continue
        layer = g[len(prefix):].split(".")[0]
        out = layers.setdefault(layer, {"ops": defaultdict(float), "busiest": []})
        for k, v in rec.items():
            if k == "ops":
                for key, val in v.items():
                    out["ops"][key] += val
            elif k in ("task_max_s", "task_median_s"):
                continue
            else:
                out[k] = out.get(k, 0) + v
        out["busiest"].append((rec["task_max_s"], rec["task_median_s"]))
    for out in layers.values():
        skews = [mx / md for mx, md in out.pop("busiest") if md > 0]
        out["task_skew"] = max(skews, default=0.0)
        out["ops"] = dict(out["ops"])
    return layers
