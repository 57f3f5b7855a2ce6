"""Per-operation correctness check of a pipeline output base.

Reads the written parquet directly (pyarrow, no Spark) and compares it with
what the program's own functions give in-process for the same input rows:

- row counts: one images row per input row, one assignments row per
  (image, containing polygon) pair;
- the images output equals the input as an ``image_id`` set, without
  duplicates: what one uninterrupted run writes, so a resume after a crash
  must produce exactly it;
- a fixed sample of output payloads is bit-identical to ``compile_chain``
  applied in-process to the same rows, and their ``poly_ids`` equal
  ``functions.pip.pip_multi``;
- kNN ranks lie in 1..k, with at most k rows per image;
- with a snapshot table, its log registers every chunk exactly once.
"""

from __future__ import annotations

import glob
import json
import os

import numpy as np
import pyarrow.parquet as pq

#: sampled rows per check (fixed positions in the window)
SAMPLE = 48


def _read(out_base: str, name: str, columns: list[str]):
    files = sorted(glob.glob(os.path.join(out_base, name, "chunk=*", "*.parquet")))
    if not files:
        return None
    return pq.ParquetDataset(files).read(columns=columns)


def sample_positions(rows: int) -> np.ndarray:
    return np.unique(np.linspace(0, rows - 1, SAMPLE).astype(np.int64))


def check_output(
    out_base: str,
    indices: np.ndarray,
    ops: str,
    packed,
    knn_k: int = 0,
    n_chunks: int = 1,
    snapshot_base: str | None = None,
) -> list[str]:
    """Problems found in ``out_base`` for input rows ``indices`` (empty: correct)."""
    from rio_color_spark.functions.pip import pip_multi
    from rio_color_spark.functions.utils import scale_dtype, to_math_type
    from rio_color_spark.plans.dsl import compile_chain
    from rio_color_spark.sources import codec
    from rio_color_spark.sources.images import generate_pandas, lonlat_from_phash

    problems: list[str] = []
    images = _read(out_base, "images", ["image_id", "bytes", "fmt", "poly_ids"])
    if images is None:
        return ["no images output"]
    ids = images.column("image_id").to_pylist()
    want_ids = {f"img{n:08d}" for n in indices.tolist()}
    if len(ids) != len(indices):
        problems.append(f"images rows {len(ids)} != input rows {len(indices)}")
    if len(set(ids)) != len(ids):
        problems.append(f"{len(ids) - len(set(ids))} duplicate image_id rows")
    if set(ids) != want_ids:
        problems.append(
            f"image_id set differs from the input: {len(want_ids - set(ids))} "
            f"missing, {len(set(ids) - want_ids)} unexpected"
        )

    poly_ids = images.column("poly_ids").to_pylist()
    assignments = _read(out_base, "assignments", ["image_id"])
    n_assign = 0 if assignments is None else assignments.num_rows
    if n_assign != sum(len(p or ()) for p in poly_ids):
        problems.append(
            f"assignments rows {n_assign} != poly_ids entries "
            f"{sum(len(p or ()) for p in poly_ids)}"
        )

    row_of = {i: r for r, i in enumerate(ids)}
    sample = indices[sample_positions(len(indices))]
    src = generate_pandas(sample)
    fused = compile_chain(ops)
    lon, lat = lonlat_from_phash(src["phash"].to_numpy())
    want_polys = pip_multi(lon, lat, packed)
    payloads = images.column("bytes")
    fmts = images.column("fmt")
    for k, rec in enumerate(src.itertuples(index=False)):
        r = row_of.get(rec.image_id)
        if r is None:
            continue  # already reported as missing
        arr = codec.decode(rec.bytes, rec.w, rec.h, rec.fmt)
        want = scale_dtype(fused(to_math_type(arr)), arr.dtype)
        if payloads[r].as_py() != want.tobytes() or fmts[r].as_py() != rec.fmt:
            problems.append(f"{rec.image_id}: payload differs from compile_chain")
        if list(poly_ids[r] or ()) != want_polys[k]:
            problems.append(f"{rec.image_id}: poly_ids differ from pip_multi")

    if knn_k:
        knn = _read(out_base, "knn", ["image_id", "rank"])
        if knn is None:
            problems.append("no knn output")
        else:
            rank = knn.column("rank").to_numpy()
            if rank.size and (rank.min() < 1 or rank.max() > knn_k):
                problems.append(
                    f"knn rank outside 1..{knn_k}: {rank.min()}..{rank.max()}"
                )
            per_image = np.unique(knn.column("image_id").to_numpy(), return_counts=True)[1]
            if per_image.size and per_image.max() > knn_k:
                problems.append(f"an image has {per_image.max()} > {knn_k} neighbors")

    if snapshot_base is not None:
        problems += _check_snapshot_log(snapshot_base, n_chunks)
    return problems


def _check_snapshot_log(base: str, n_chunks: int) -> list[str]:
    metas = sorted(glob.glob(os.path.join(base, "metadata", "v*.metadata.json")))
    if not metas:
        return ["no snapshot table"]
    with open(metas[-1]) as f:
        snaps = json.load(f)["snapshots"]
    chunks = [s["summary"].get("pipeline_chunk") for s in snaps]
    chunks = [c for c in chunks if c is not None]
    if sorted(chunks) != list(range(n_chunks)):
        return [f"snapshot log chunks {sorted(chunks)} != 0..{n_chunks - 1} once each"]
    return []
