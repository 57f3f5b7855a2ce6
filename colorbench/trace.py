"""Spans around calls into the program's public functions, kept in memory.

Installed only in traced sessions. Each span records the layer it timed,
the operation and phase (``run`` or ``resume`` call) it ran in, and its
wall interval. Calls that launch Spark jobs run under a job group named
after their span, so the event log's stages can be attributed to the call
that launched them (see :mod:`colorbench.eventlog`).
"""

from __future__ import annotations

import functools
import json
import time

#: job group prefix; the rest is ``op:phase:output:chunk``
GROUP_PREFIX = "cb"


def group_id(op: int, phase: str, output: str, chunk: int) -> str:
    return f"{GROUP_PREFIX}:{op}:{phase}:{output}:{chunk}"


def parse_group(group: str | None) -> tuple[int, str, str, int] | None:
    """(op, phase, output, chunk) of a job group set by the tracer, else None."""
    parts = (group or "").split(":")
    if len(parts) != 5 or parts[0] != GROUP_PREFIX:
        return None
    return int(parts[1]), parts[2], parts[3], int(parts[4])


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.op = -1
        self.phase = ""

    def install(self) -> None:
        from rio_color_spark import pipeline
        from rio_color_spark.sources.catalog import CheckpointedWriter
        from rio_color_spark.sources.snapshots import SnapshotTable

        self._wrap(pipeline, "chunk_plan", lambda *a, **k: "pipeline.chunk_plan")
        self._wrap(CheckpointedWriter, "write_data", self._write_layer, jobs=True)
        self._wrap(CheckpointedWriter, "commit_chunk", lambda *a, **k: "catalog.commit")
        self._wrap(CheckpointedWriter, "committed", lambda *a, **k: "catalog.commit")
        self._wrap(SnapshotTable, "add_files", lambda *a, **k: "snapshots.add_files")

    @staticmethod
    def _write_args(*args, **kwargs) -> tuple[str, int]:
        """(output name, chunk) of a ``CheckpointedWriter.write_data`` call."""
        bound = dict(zip(("self", "df", "name", "chunk"), args), **kwargs)
        return bound["name"], bound["chunk"]

    def _write_layer(self, *args, **kwargs) -> str:
        return f"write:{self._write_args(*args, **kwargs)[0]}"

    def _wrap(self, owner, attr: str, layer_of, jobs: bool = False) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapped(*args, **kwargs):
            layer = layer_of(*args, **kwargs)
            if jobs:
                name, chunk = self._write_args(*args, **kwargs)
                gid = group_id(self.op, self.phase, name, chunk)
                self.sc.setJobGroup(gid, gid)
            t0 = time.monotonic()
            try:
                return orig(*args, **kwargs)
            finally:
                t1 = time.monotonic()
                if jobs:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                self.spans.append(
                    {"layer": layer, "op": self.op, "phase": self.phase,
                     "t0": t0, "t1": t1}
                )

        setattr(owner, attr, wrapped)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
