"""In-process layer timings on one 2048-row batch of a workload's own rows.

The functions are the ones the fused color/index operator calls per Arrow
batch; timing them here, without Spark, isolates each kernel's cost.
"""

from __future__ import annotations

import glob
import os
import time

import numpy as np
import pyarrow.parquet as pq

from colorbench.workloads import FILES, Workload, packed_polygons

#: rows per batch, as the session sets ``arrow.maxRecordsPerBatch``
BATCH = 2048
#: per-kernel timing budget; each kernel runs 10..100 times within it
BUDGET_S = 1.0


def _batch(table_dir: str):
    files = sorted(glob.glob(os.path.join(table_dir, "*.parquet")))
    parts, n = [], 0
    for f in files:
        parts.append(pq.read_table(f).to_pandas())
        n += len(parts[-1])
        if n >= BATCH:
            break
    import pandas as pd

    return pd.concat(parts, ignore_index=True).iloc[:BATCH]


def _time_ms(fn) -> list[float]:
    t = time.perf_counter()
    fn()
    first = time.perf_counter() - t
    reps = int(min(100, max(10, BUDGET_S / max(first, 1e-6))))
    out = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        out.append((time.perf_counter() - t) * 1e3)
    return out


def kernel_samples(w: Workload, table_dir: str) -> dict[str, list[float]]:
    from rio_color_spark.functions import cells, tiles
    from rio_color_spark.functions.colorspace import saturate_rgb_from_linear
    from rio_color_spark.functions.pip import pip_multi
    from rio_color_spark.functions.utils import to_math_type
    from rio_color_spark.sources import codec
    from rio_color_spark.sources.images import lonlat_from_phash

    pdf = _batch(table_dir)
    bufs = pdf["bytes"].to_numpy()
    keys = list(zip(pdf["h"], pdf["w"], pdf["fmt"]))
    groups = {k: [i for i, kk in enumerate(keys) if kk == k] for k in set(keys)}

    def decode():
        return [
            codec.stack_decode([bufs[i] for i in sel], h, wd, fmt)
            for (h, wd, fmt), sel in groups.items()
        ]

    rgb = [to_math_type(a[:, :3]) for a in decode()]

    def saturate():
        for a in rgb:
            saturate_rgb_from_linear(a[:, 0], a[:, 1], a[:, 2], 1.15)

    lon, lat = lonlat_from_phash(pdf["phash"].to_numpy())
    packed = packed_polygons(w)

    def tile():
        tx, ty = tiles.tile_xy(lon, lat, 12)
        tiles.pack_tile(tx, ty, 12)

    return {
        "sources.codec.decode_ms": _time_ms(decode),
        "functions.colorspace.saturate_ms": _time_ms(saturate),
        "functions.pip.pip_ms": _time_ms(lambda: pip_multi(lon, lat, packed)),
        "functions.tiles.tile_ms": _time_ms(tile),
        "functions.cells.cell_ms": _time_ms(lambda: cells.encode_cell(lon, lat, 12)),
    }


def knn_pairs(w: Workload, indices: np.ndarray) -> int:
    """Candidate pairs the kNN ring join produces over all chunks.

    Mirrors the pipeline's call: cells at level 12 coarsened to
    ``knn_level``, each image joined with every other image of its chunk in
    its deduplicated 9-cell neighborhood. Chunk k holds input files
    k, k + n_chunks, ... (the pipeline's file stripes).
    """
    if not w.knn_k:
        return 0
    from rio_color_spark.functions import cells
    from rio_color_spark.sources.images import lonlat_from_phash, phash_for

    lon, lat = lonlat_from_phash(phash_for(indices))
    cell = cells.encode_cell(lon, lat, 12) >> np.int64(2 * (12 - w.knn_level))
    file_of = np.concatenate(
        [np.full(len(p), i) for i, p in enumerate(np.array_split(indices, FILES))]
    )
    pairs = 0
    for k in range(w.n_chunks):
        c = cell[file_of % w.n_chunks == k]
        hood = np.sort(
            np.concatenate([c[:, None], cells.neighbor_ring(c, w.knn_level)], axis=1),
            axis=1,
        )
        uniq, count = np.unique(c, return_counts=True)
        per = dict(zip(uniq.tolist(), count.tolist()))
        for row in hood:
            pairs += sum(per.get(v, 0) for v in set(row.tolist()))
        pairs -= len(c)  # an image is not its own neighbor
    return pairs
