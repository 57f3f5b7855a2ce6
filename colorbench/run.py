"""Benchmark entry point.

    python3 colorbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Writes only under ``.colorbench/`` there.
Builds the workload's input table from the seed, then runs fresh Spark
sessions one at a time, each in its own process group:

- ``--trace 0``: two sessions at the workload's level. Both time set-up and
  their cold operation; the second then runs the workload's warm-ups and
  times its warm operations (a fixed count, and for at least
  ``--seconds``). Prints every end-to-end metric.
- ``--trace 1``: a traced full session (spans + Spark event log) and, for
  ``flagship``, a traced session at ``local[1]`` (one warm-up, two timed
  operations) for the 1→4 scaling efficiency; then in-process kernel
  timings. Prints every per-layer metric.
  The tracing overhead is ``trace.images_per_s`` against the untraced
  ``images_per_s`` of the same seed.

The last stdout line is the result; the line before it lists every
operation with its host readings. A session that is killed, hangs past the
run's deadline or loses its JVM counts its unfinished operation as failed.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time
from dataclasses import dataclass, field
from statistics import median

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from colorbench import hostmon  # noqa: E402
from colorbench.eventlog import operator_samples, read_events, stages  # noqa: E402
from colorbench.stats import summarize  # noqa: E402
from colorbench.workloads import WORKLOADS, Workload, row_indices, write_table  # noqa: E402

WORK = os.path.join(ROOT, ".colorbench")
#: the whole run, sessions included, ends within this many seconds
DEADLINE_S = 170.0
#: time left for aggregation after the last session
TAIL_S = 12.0
#: driver JVM heap, through the program's SPARK_GRAFT_DRIVER_MEM knob. The
#: 48g default lets G1 grow the heap by gigabytes at moments that differ
#: from run to run, so peak RSS would measure GC timing (known defect
#: driver-heap-48g in colorbench/layers.json)
DRIVER_MEM = "2g"


@dataclass
class Session:
    label: str
    level: int
    trace: bool
    setup_s: float | None = None
    ops: list[dict] = field(default_factory=list)
    dir: str = ""


def _submit_args(sdir: str, trace: bool) -> str:
    args = [
        "--driver-java-options",
        f"-Djava.io.tmpdir={sdir}/tmp -XX:-UsePerfData",
    ]
    if trace:
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{sdir}/events",
            "--conf", "spark.eventLog.compress=false",
        ]
    return shlex.join(args + ["pyspark-shell"])


def _stop_tree(p: subprocess.Popen, pids: set[int], graceful: bool) -> None:
    """Stop the session and everything it started; wait until all have ended.

    The JVM's Python worker daemon runs in its own process group, so every
    pid seen in the tree is signalled, not only the session's group.
    """
    if graceful:
        end = time.monotonic() + 10
        while time.monotonic() < end and any(hostmon.alive(x) for x in pids):
            time.sleep(0.1)
    for pid in pids | {p.pid}:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    try:
        os.killpg(p.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    p.wait()
    end = time.monotonic() + 10
    while time.monotonic() < end and any(hostmon.alive(x) for x in pids):
        time.sleep(0.1)


def run_session(
    s: Session, warmups: int, timed: int, w: Workload, seed: int, table: str,
    seconds: float, deadline: float,
) -> Session:
    s.dir = os.path.join(WORK, "run", s.label)
    for sub in ("tmp", "local", "events"):
        os.makedirs(os.path.join(s.dir, sub), exist_ok=True)
    progress = os.path.join(s.dir, "progress.jsonl")
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        SPARK_LOCAL_DIRS=os.path.join(s.dir, "local"),
        TMPDIR=os.path.join(s.dir, "tmp"),
        PYSPARK_SUBMIT_ARGS=_submit_args(s.dir, s.trace),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
    )
    cmd = [
        sys.executable, "-m", "colorbench.session", "--workload", w.name,
        "--seed", str(seed), "--table", table, "--level", str(s.level),
        "--warmups", str(warmups), "--timed", str(timed),
        "--seconds", str(seconds), "--trace", str(int(s.trace)),
        "--progress", progress,
    ]
    timeout = deadline - time.monotonic()
    reason = sampler = None
    if timeout < 5:
        reason = "not started: the run's deadline has passed"
    else:
        with open(os.path.join(s.dir, "session.log"), "w") as log:
            p = subprocess.Popen(
                cmd, cwd=s.dir, env=env, stdout=log, stderr=subprocess.STDOUT,
                start_new_session=True,
            )
            sampler = hostmon.Sampler(p.pid)
            sampler.start()
            rc = None
            try:
                rc = p.wait(timeout=timeout)
                if rc < 0:
                    reason = f"session killed by signal {-rc}"
                elif rc > 0:
                    reason = f"session exited with code {rc}"
            except subprocess.TimeoutExpired:
                reason = f"session killed at the run's deadline, after {timeout:.0f} s"
            finally:
                sampler.stop()
                # a session that did not exit by itself, or the run being
                # terminated, stops the tree at once
                _stop_tree(p, sampler.seen, graceful=rc == 0)

    recs = []
    if os.path.exists(progress):
        with open(progress) as f:
            recs = [json.loads(line) for line in f if line.strip()]
    for r in recs:
        if r["step"] == "setup":
            s.setup_s = r["setup_s"]
        elif r["step"] == "op":
            low = sampler and sampler.mem_available_min(r["t0"], r["t1"])
            if low:
                r["mem_available_min_mib"] = low
            s.ops.append(r)
    if not recs or recs[-1]["step"] != "end":
        # the operation in flight when the session ended never reported
        s.ops.append({
            "step": "op", "kind": "interrupted",
            "error": reason or "session ended without finishing",
        })
    # the session's outputs and Spark's local files, whatever state they are in
    for sub in ("out", "snap", "local", "tmp"):
        shutil.rmtree(os.path.join(s.dir, sub), ignore_errors=True)
    return s


def _ok(sessions: list[Session], kind: str) -> list[dict]:
    return [o for s in sessions for o in s.ops if o["kind"] == kind and "error" not in o]


def end_to_end(sessions: list[Session], w: Workload, in_bytes: int) -> dict | None:
    setups = [s.setup_s for s in sessions if s.setup_s is not None]
    cold, warm = _ok(sessions, "cold"), _ok(sessions, "warm")
    if not (setups and cold and warm):
        return None
    return {
        "setup_s": (median(setups), "s"),
        "cold_s": (median(o["wall_s"] for o in cold), "s"),
        "images_per_s": (w.rows / median(o["wall_s"] for o in warm), "img/s"),
        "core_s_per_kimg": (
            median(o["cpu_s"] for o in warm) / (w.rows / 1000), "core-s"
        ),
        # the JVM's own memory grows over a session (it did so under a 1g
        # heap as under 2g), so the highest peak is read over the same fixed
        # set of timed operations in every run
        "peak_rss_mib": (max(o.get("peak_rss_mib", 0) for o in warm), "MiB"),
        "out_bytes_per_in_byte": (
            median(o["out_bytes"] for o in warm) / in_bytes, "B/B"
        ),
    }


def _rate(s: Session, w: Workload) -> float:
    """Warm images/s of one session, 0 without a successful warm operation."""
    walls = [o["wall_s"] for o in _ok([s], "warm")]
    return w.rows / median(walls) if walls else 0.0


def per_layer(
    sessions: list[Session], w: Workload, seed: int, table: str
) -> dict:
    from colorbench.inproc import kernel_samples, knn_pairs

    traced = sessions[0]
    kinds = {o["index"]: o["kind"] for o in traced.ops if "index" in o}
    walls = {o["index"]: o["wall_s"] for o in _ok([traced], "warm")}
    with open(os.path.join(traced.dir, "spans.json")) as f:
        spans = [sp for sp in json.load(f) if sp["op"] in walls]

    def span_s(layer: str) -> list[float]:
        return [sp["t1"] - sp["t0"] for sp in spans if sp["layer"] == layer]

    samples = {
        "pipeline.resume_s": [
            t for o in _ok([traced], "warm") for t in o["resume_walls"]
        ],
        "pipeline.chunk_plan_s": span_s("pipeline.chunk_plan"),
        "pipeline.driver_s": [
            walls[op] - sum(sp["t1"] - sp["t0"] for sp in spans if sp["op"] == op)
            for op in walls
        ],
        "sources.catalog.write_images_s": span_s("write:images"),
        "sources.catalog.write_assignments_s": span_s("write:assignments"),
        "sources.catalog.commit_s": span_s("catalog.commit"),
        "sources.snapshots.add_files_s": span_s("snapshots.add_files"),
        "operators.knn.write_s": span_s("write:knn"),
    }
    logs = [os.path.join(traced.dir, "events", d) for d in os.listdir(
        os.path.join(traced.dir, "events"))]
    ev = {}
    for path in logs:
        ev.update(stages(read_events(path)))
    op_layers = operator_samples(ev, kinds, traced.level)
    for key in ("tail_s", "python_init_s", "python_run_s", "gc_s"):
        samples[f"operators.color.{key}"] = op_layers[f"color.{key}"]
    samples.update(kernel_samples(w, table))

    def med(vals, default=0.0):
        return median(vals) if vals else default

    def reruns(op: int) -> float:
        """chunks run by the resume call ÷ chunks uncommitted at the crash."""
        ran = sum(1 for sp in spans if sp["op"] == op and sp["phase"] == "resume"
                  and sp["layer"] == "write:images")
        committed = sum(1 for sp in spans if sp["op"] == op and sp["phase"] == "run"
                        and sp["layer"] == "write:images")
        left = w.n_chunks - committed
        return ran / left if left else float(ran == 0)

    def growth(op: int) -> float:
        adds = [sp["t1"] - sp["t0"] for sp in spans
                if sp["op"] == op and sp["layer"] == "snapshots.add_files"]
        half = len(adds) // 2
        return (sum(adds[-half:]) / sum(adds[:half])) if half else 0.0

    rate = _rate(traced, w)
    # 0 when the local[1] session is not in the plan or did not finish
    rate1 = _rate(sessions[1], w) if len(sessions) > 1 else 0.0
    scaling = rate / (w.level * rate1) if rate1 else 0.0
    all_ops = [o for s in sessions for o in s.ops if "steal_frac" in o]
    samples.update({
        "pipeline.resume_rerun_ratio": med([reruns(op) for op in walls]),
        "pipeline.scaling_eff_1_4": scaling,
        "sources.snapshots.commit_growth": med([growth(op) for op in walls]),
        "operators.color.tasks_per_core": med(op_layers["color.tasks_per_core"]),
        "operators.color.to_python_mib": med(op_layers["color.to_python_mib"]),
        "operators.color.from_python_mib": med(op_layers["color.from_python_mib"]),
        "operators.color.task_retries": op_layers["color.task_retries"][0],
        "operators.knn.shuffle_mib": med(op_layers["knn.shuffle_mib"]),
        "operators.knn.pairs": knn_pairs(w, row_indices(w, seed)),
        "host.steal_frac": med([o["steal_frac"] for o in all_ops]),
        "host.mem_available_min_mib": min(
            (o["mem_available_min_mib"] for o in all_ops if "mem_available_min_mib" in o),
            default=0.0,
        ),
        "trace.images_per_s": rate,
    })
    return layer_metrics(samples)


def layer_defs() -> list[dict]:
    with open(os.path.join(ROOT, "colorbench", "layers.json")) as f:
        return json.load(f)["layers"]


#: metrics a timing layer expands to: suffix → unit (None: the layer's own)
TIMING_SUFFIXES = {"": None, ".tail": None, ".tail_pct": "pct", ".n": "count"}


def layer_metrics(raw: dict) -> dict:
    """name → (value, unit) for every layer of layers.json, in its order.

    ``raw`` holds a sample list per timing layer and a number per value
    layer.
    """
    out = {}
    for d in layer_defs():
        if d["kind"] == "timing":
            for suffix, v in summarize(raw[d["name"]]).items():
                out[d["name"] + suffix] = (v, TIMING_SUFFIXES[suffix] or d["unit"])
        else:
            out[d["name"]] = (raw[d["name"]], d["unit"])
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # terminated from outside: unwind, so that the running session's tree is
    # stopped on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    started = time.monotonic()
    deadline = started + DEADLINE_S - TAIL_S

    w = WORKLOADS[args.workload]
    levels = {w.level, 1} if args.trace and w.name == "flagship" else {w.level}
    usable = len(os.sched_getaffinity(0))
    if max(levels) > usable:
        print(f"refused: {w.name} runs at local[{max(levels)}] but this process "
              f"may use only {usable} cores", file=sys.stderr)
        return 3
    if not os.path.isfile(os.path.join(ROOT, "rio_color_spark", "__init__.py")):
        print(f"refused: the rio_color_spark package is not under {ROOT}",
              file=sys.stderr)
        return 2

    shutil.rmtree(os.path.join(WORK, "run"), ignore_errors=True)
    table = os.path.join(WORK, "run", "input")
    in_bytes = write_table(w, args.seed, table)

    full = (w.warmups, w.timed)
    if args.trace:
        plan = [("traced", w.level, True, full)]
        if w.name == "flagship":
            # an ungated diagnostic; kept short, because at local[1] every
            # operation takes about four times as long
            plan.append(("traced_l1", 1, True, (1, 2)))
    else:
        plan = [("s0", w.level, False, (0, 0)), ("s1", w.level, False, full)]
    sessions = [
        run_session(Session(label, level, trace), *counts, w, args.seed, table,
                    args.seconds, deadline)
        for label, level, trace, counts in plan
    ]

    ops = [dict(o, session=s.label) for s in sessions for o in s.ops]
    failed = sum(1 for o in ops if "error" in o)
    correct = not any(o.get("error", "").startswith("check:") for o in ops)
    keep = ("session", "index", "kind", "wall_s", "resume_s", "cpu_s",
            "peak_rss_mib", "steal_frac", "mem_available_min_mib", "error")
    print(json.dumps({"operations": [{k: o[k] for k in keep if k in o} for o in ops]}))

    if args.trace:
        metrics = per_layer(sessions, w, args.seed, table) if _rate(sessions[0], w) else None
    else:
        metrics = end_to_end(sessions, w, in_bytes)
    shutil.rmtree(table, ignore_errors=True)
    if metrics is None:
        print("no result: a session produced no timed operations", file=sys.stderr)
        return 1
    print(json.dumps({
        "correct": correct,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
