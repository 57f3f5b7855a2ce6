"""One fresh Spark session of a benchmark run (a child process of run.py).

Pins itself to ``--level`` cores, times the package import plus
``get_spark``, runs the cold operation, then ``--warmups`` untimed warm
operations and ``--timed`` timed ones, going on while fewer than
``--seconds`` have passed since timing began (``--timed 0``: the cold
operation only). Every operation is checked for correctness. One JSON
record per step is appended to ``--progress`` as soon as it is known, so a
killed session still leaves what it measured.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import time
from statistics import median

from colorbench import hostmon
from colorbench.check import check_output
from colorbench.workloads import WORKLOADS, ops_of, packed_polygons, row_indices

#: resume calls per operation of a workload without a crash. Its resume
#: call is the idempotent re-run, a few milliseconds of driver work; every
#: wall is kept for ``pipeline.resume_s``. Few, because they count in the
#: operation's wall.
RERUNS = 10


def _du(*paths: str) -> int:
    total = 0
    for root in paths:
        for d, _, files in os.walk(root):
            total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def _jvm_exit(spark) -> str | None:
    """How the session's JVM ended, or None if it still runs.

    Waits briefly: a killed JVM breaks the gateway connection before the
    kernel has finished tearing the process down.
    """
    try:
        rc = spark.sparkContext._gateway.proc.wait(timeout=3)
    except subprocess.TimeoutExpired:
        return None
    return f"jvm exited by signal {-rc}" if rc < 0 else f"jvm exited with code {rc}"


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--table", required=True)
    ap.add_argument("--level", type=int, required=True)
    ap.add_argument("--warmups", type=int, required=True)
    ap.add_argument("--timed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--progress", required=True)
    args = ap.parse_args(argv)

    w = WORKLOADS[args.workload]
    cores = sorted(os.sched_getaffinity(0))
    os.sched_setaffinity(0, cores[: args.level])
    work = os.getcwd()
    out = os.path.join(work, "out")
    snap = os.path.join(work, "snap") if w.snapshots else None
    progress = open(args.progress, "a", buffering=1)

    def emit(**rec) -> None:
        progress.write(json.dumps(dict(rec, at=time.monotonic())) + "\n")

    t0 = time.monotonic()
    from rio_color_spark.pipeline import run_pipeline
    from rio_color_spark.session import get_spark

    spark = get_spark(master=f"local[{args.level}]")
    emit(step="setup", setup_s=time.monotonic() - t0)

    tracer = None
    if args.trace:
        from colorbench.trace import Tracer

        tracer = Tracer(spark)
        tracer.install()

    packed = packed_polygons(w)
    ops = ops_of(w)
    indices = row_indices(w, args.seed)
    kw = dict(
        ops=ops, n_chunks=w.n_chunks, knn_k=w.knn_k, knn_level=w.knn_level,
        snapshot_base=snap,
    )

    def phase(name: str) -> None:
        if tracer:
            tracer.phase = name

    def operation() -> tuple[list[float], list[str]]:
        """The workload's call sequence; (resume call walls, problems).

        Without a crash, the resume call repeats :data:`RERUNS` times.
        """
        problems = []
        phase("run")
        if w.fail_after is None:
            run_pipeline(spark, args.table, out, packed, **kw)
        else:
            try:
                run_pipeline(spark, args.table, out, packed, fail_after=w.fail_after, **kw)
                problems.append("the crash call returned without its simulated crash")
            except RuntimeError as e:
                if "simulated crash" not in str(e):
                    raise
        phase("resume")
        walls = []
        for _ in range(1 if w.fail_after else RERUNS):
            t = time.monotonic()
            run_pipeline(spark, args.table, out, packed, **kw)
            walls.append(time.monotonic() - t)
        return walls, problems

    def one(index: int, kind: str) -> bool:
        """Run and check one operation; False when the session cannot go on."""
        for d in (out, snap):
            if d:
                shutil.rmtree(d, ignore_errors=True)
        if tracer:
            tracer.op = index
        me = os.getpid()
        rec = {"step": "op", "index": index, "kind": kind}
        hostmon.reset_peak_rss(hostmon.tree(me))
        cpu0, st0 = hostmon.tree_cpu_s(me), hostmon.cpu_counters()
        rec["t0"] = time.monotonic()
        try:
            rec["resume_walls"], problems = operation()
        except Exception as e:  # a failed operation is a measurement
            rec["t1"] = time.monotonic()
            dead = _jvm_exit(spark)
            rec["error"] = dead or f"{type(e).__name__}: {str(e)[:400]}"
            emit(**rec)
            return dead is None
        rec["t1"] = time.monotonic()
        rec["wall_s"] = rec["t1"] - rec["t0"]
        rec["resume_s"] = median(rec["resume_walls"])
        rec["cpu_s"] = hostmon.tree_cpu_s(me) - cpu0
        rec["peak_rss_mib"] = hostmon.peak_rss_mib(hostmon.tree(me))
        rec["steal_frac"] = hostmon.steal_frac(st0, hostmon.cpu_counters())
        rec["out_bytes"] = _du(*(d for d in (out, snap) if d))
        problems += check_output(
            out, indices, ops, packed, knn_k=w.knn_k, n_chunks=w.n_chunks,
            snapshot_base=snap,
        )
        if problems:
            rec["error"] = "check: " + "; ".join(problems[:5])
        emit(**rec)
        return True

    index = 0
    alive = one(index, "cold")
    if args.timed:
        for _ in range(args.warmups):
            index += 1
            alive = alive and one(index, "warmup")
        start = time.monotonic()
        timed = 0
        while alive and (timed < args.timed or time.monotonic() - start < args.seconds):
            index += 1
            timed += 1
            alive = one(index, "warm")
    if tracer:
        tracer.dump(os.path.join(work, "spans.json"))
    if alive:
        spark.stop()
    emit(step="end")


if __name__ == "__main__":
    main()
