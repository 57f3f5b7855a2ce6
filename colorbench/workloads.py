"""Workload definitions and their seed-generated input tables.

Each workload is a closed loop with one client: an *operation* is the call
sequence below followed by its correctness check, and the next operation
starts only after both are done. Every operation ends with a *resume call*:
the same ``run_pipeline`` call again on the same output base. After a
simulated crash it runs the uncommitted chunks; after a complete run it is
the idempotent re-run, which must find every chunk committed.
"""

from __future__ import annotations

import os
import random
import shutil
from dataclasses import dataclass

#: input files per table, one row group each
FILES = 48


@dataclass(frozen=True)
class Workload:
    name: str
    #: ``local[level]``; the session is pinned to this many cores
    level: int
    rows: int
    polygons: int
    #: DSL chain; None means ``pipeline.FLAGSHIP_OPS``
    ops: str | None
    n_chunks: int
    #: chunk commits before the simulated crash (None: no crash)
    fail_after: int | None
    knn_k: int
    knn_level: int
    #: maintain a SnapshotTable over the output as well
    snapshots: bool
    #: untimed warm operations run before timing starts, in each session
    #: that times warm operations (a fixed rule, the same on every commit)
    warmups: int
    #: fewest timed warm operations per such session. A warm operation
    #: still speeds up for several passes after the warm-ups, so the count
    #: is fixed to keep the timed passes at the same places on that curve
    #: in every run; the run's ``--seconds`` is shorter than these passes.
    timed: int


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="flagship",
            level=4,
            rows=12_000,
            polygons=40,
            ops=None,
            n_chunks=1,
            fail_after=None,
            knn_k=0,
            knn_level=4,
            snapshots=False,
            warmups=3,
            timed=3,
        ),
        Workload(
            name="spatial_resume",
            level=4,
            rows=2_400,
            polygons=2_000,
            ops="gamma rgb 1.8",
            n_chunks=2,
            fail_after=1,
            knn_k=8,
            knn_level=6,
            snapshots=True,
            warmups=1,
            timed=2,
        ),
    )
}


def ops_of(w: Workload) -> str:
    if w.ops is not None:
        return w.ops
    from rio_color_spark.pipeline import FLAGSHIP_OPS

    return FLAGSHIP_OPS


def window_start(seed: int) -> int:
    """First row index of the seed's window of the synthetic images table.

    Rows 0 and 1 are the reference's golden fixtures; every window starts
    past them.
    """
    return 2 + random.Random(seed).randrange(10**9)


def row_indices(w: Workload, seed: int):
    import numpy as np

    start = window_start(seed)
    return np.arange(start, start + w.rows, dtype=np.int64)


def write_table(w: Workload, seed: int, path: str) -> int:
    """Write the workload's input table for ``seed``; returns its bytes.

    Rows come from ``sources.images.generate_pandas`` (the generator behind
    ``write_images``) for the seed's row window, written with the same
    parquet options as ``write_images`` (lz4, no dictionary), in
    :data:`FILES` files of one row group each.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from rio_color_spark.sources.images import generate_pandas

    schema = pa.schema(
        [
            ("image_id", pa.string()),
            ("bytes", pa.binary()),
            ("w", pa.int32()),
            ("h", pa.int32()),
            ("fmt", pa.string()),
            ("caption", pa.string()),
            ("phash", pa.int64()),
        ]
    )
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    idx = row_indices(w, seed)
    total = 0
    for i, part in enumerate(np.array_split(idx, FILES)):
        table = pa.Table.from_pandas(
            generate_pandas(part), schema=schema, preserve_index=False
        )
        name = os.path.join(path, f"part-{i:05d}.parquet")
        pq.write_table(
            table,
            name,
            compression="lz4",
            use_dictionary=False,
            row_group_size=len(part),
        )
        total += os.path.getsize(name)
    return total


def packed_polygons(w: Workload):
    from rio_color_spark.sources.polygons import packed_polygons as pack

    return pack(w.polygons)
