"""Spark event log → per-stage task metrics → ``operators.*`` layer samples.

Stages are attributed to the traced call that launched them through the
job group the tracer sets (:func:`colorbench.trace.group_id`). The color
operator's stages are those of ``write_data("images")`` jobs: index, PIP
and the color chain run fused in that job's one Python crossing. The kNN
operator's stages are those of ``write_data("knn")`` jobs.
"""

from __future__ import annotations

import glob
import json
import os
from statistics import median

from colorbench.trace import parse_group

#: SQL metrics of the Python crossing, as named in task accumulables
_PY_METRICS = {
    "time to start Python workers": "py_start_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
    "data sent to Python workers": "to_py_b",
    "data returned from Python workers": "from_py_b",
}


def read_events(path: str):
    """Events of one application's log: a plain file or a v2 log directory."""
    files = [path]
    if os.path.isdir(path):
        files = sorted(
            glob.glob(os.path.join(path, "events_*")),
            key=lambda f: int(os.path.basename(f).split("_")[1]),
        )
    for name in files:
        with open(name) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def stages(events) -> dict[tuple[int, int], dict]:
    """(stage id, attempt) → {group, submit_ms, complete_ms, tasks: [...]}."""
    group_of_stage: dict[int, str | None] = {}
    out: dict[tuple[int, int], dict] = {}

    def stage(sid: int, attempt: int) -> dict:
        return out.setdefault(
            (sid, attempt),
            {"group": group_of_stage.get(sid), "tasks": [],
             "submit_ms": None, "complete_ms": None},
        )

    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            for sid in e.get("Stage IDs", []):
                group_of_stage[sid] = group
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            s = stage(info["Stage ID"], info["Stage Attempt ID"])
            s["submit_ms"] = info.get("Submission Time")
            s["complete_ms"] = info.get("Completion Time")
        elif kind == "SparkListenerTaskEnd":
            info = e["Task Info"]
            m = e.get("Task Metrics") or {}
            task = {
                "attempt": info["Attempt"],
                "failed": bool(info.get("Failed")) or bool(info.get("Killed")),
                "finish_ms": info["Finish Time"],
                "gc_ms": m.get("JVM GC Time", 0),
                "shuffle_write_b": (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                ),
            }
            for key in _PY_METRICS.values():
                task[key] = 0
            for acc in info.get("Accumulables", []):
                key = _PY_METRICS.get(acc.get("Name"))
                if key:
                    task[key] += int(acc.get("Update") or 0)
            stage(e["Stage ID"], e["Stage Attempt ID"])["tasks"].append(task)
    return out


def operator_samples(
    stage_map: dict, kinds: dict[int, str], level: int
) -> dict[str, list[float]]:
    """Layer samples from the stages of traced operations.

    ``kinds`` maps an operation index to ``cold``, ``warmup`` or ``warm``.
    Timings and sizes come from warm operations, except Python worker
    start-up, which is paid by the cold operation. Task retries count
    every stage of the log.
    """
    out: dict[str, list[float]] = {
        k: []
        for k in (
            "color.tail_s", "color.python_init_s", "color.python_run_s",
            "color.gc_s", "color.tasks_per_core", "color.to_python_mib",
            "color.from_python_mib", "color.task_retries", "knn.shuffle_mib",
        )
    }
    to_py: dict[int, float] = {}
    from_py: dict[int, float] = {}
    knn_shuffle: dict[int, float] = {}
    retries = 0
    for s in stage_map.values():
        tasks = s["tasks"]
        retries += sum(1 for t in tasks if t["attempt"] > 0 or t["failed"])
        g = parse_group(s["group"])
        if g is None or not tasks:
            continue
        op, _phase, output, _chunk = g
        kind = kinds.get(op)
        if output == "images" and kind == "cold":
            out["color.python_init_s"] += [
                (t["py_start_ms"] + t["py_init_ms"]) / 1e3 for t in tasks
            ]
        if kind != "warm":
            continue
        if output == "images":
            finishes = [t["finish_ms"] for t in tasks]
            if s["complete_ms"] is not None:
                out["color.tail_s"].append((s["complete_ms"] - median(finishes)) / 1e3)
            out["color.tasks_per_core"].append(len(tasks) / level)
            out["color.python_run_s"] += [t["py_run_ms"] / 1e3 for t in tasks]
            out["color.gc_s"] += [t["gc_ms"] / 1e3 for t in tasks]
            to_py[op] = to_py.get(op, 0) + sum(t["to_py_b"] for t in tasks) / 2**20
            from_py[op] = from_py.get(op, 0) + sum(t["from_py_b"] for t in tasks) / 2**20
        elif output == "knn":
            knn_shuffle[op] = knn_shuffle.get(op, 0) + sum(
                t["shuffle_write_b"] for t in tasks
            ) / 2**20
    out["color.to_python_mib"] = list(to_py.values())
    out["color.from_python_mib"] = list(from_py.values())
    out["knn.shuffle_mib"] = list(knn_shuffle.values())
    out["color.task_retries"] = [retries]
    return out
