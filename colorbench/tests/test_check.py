"""The per-operation correctness check accepts a correct output base and
rejects each kind of corruption. Outputs are built in-process (no Spark)
with the layout ``run_pipeline`` writes."""

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from colorbench.check import check_output
from rio_color_spark.functions.pip import pip_multi
from rio_color_spark.functions.utils import scale_dtype, to_math_type
from rio_color_spark.plans.dsl import compile_chain
from rio_color_spark.sources import codec
from rio_color_spark.sources.images import generate_pandas, lonlat_from_phash
from rio_color_spark.sources.polygons import packed_polygons

OPS = "gamma rgb 1.8, saturation 1.15"
K = 3
INDICES = np.arange(5_000_000, 5_000_040, dtype=np.int64)
PACKED = packed_polygons(2000)


def _expected():
    src = generate_pandas(INDICES)
    fused = compile_chain(OPS)
    payloads = []
    for r in src.itertuples(index=False):
        arr = codec.decode(r.bytes, r.w, r.h, r.fmt)
        payloads.append(scale_dtype(fused(to_math_type(arr)), arr.dtype).tobytes())
    lon, lat = lonlat_from_phash(src["phash"].to_numpy())
    return {
        "image_id": src["image_id"].tolist(),
        "bytes": payloads,
        "fmt": src["fmt"].tolist(),
        "poly_ids": pip_multi(lon, lat, PACKED),
    }


def _write(out, images, rank=None, snapshot_chunks=(0,)):
    """Write images/assignments/knn as one chunk, plus a snapshot log."""
    def put(name, cols):
        d = os.path.join(out, name, "chunk=0")
        os.makedirs(d, exist_ok=True)
        pq.write_table(pa.table(cols), os.path.join(d, "part-0.parquet"))

    put("images", images)
    put("assignments", {"image_id": [i for i, p in zip(images["image_id"], images["poly_ids"])
                                     for _ in p]})
    ids = images["image_id"]
    put("knn", {"image_id": ids, "rank": rank or [1 + i % K for i in range(len(ids))]})
    meta = os.path.join(out, "snap", "metadata")
    os.makedirs(meta, exist_ok=True)
    with open(os.path.join(meta, "v00000001.metadata.json"), "w") as f:
        json.dump({"snapshots": [{"summary": {"pipeline_chunk": c}} for c in snapshot_chunks]}, f)


def _check(out):
    return check_output(out, INDICES, OPS, PACKED, knn_k=K, n_chunks=1,
                        snapshot_base=os.path.join(out, "snap"))


@pytest.fixture(scope="module")
def expected():
    return _expected()


def test_correct_output_passes(tmp_path, expected):
    assert any(expected["poly_ids"]), "the window should hit some polygons"
    _write(str(tmp_path), expected)
    assert _check(str(tmp_path)) == []


def _corrupt_payload(images):
    b = bytearray(images["bytes"][7])
    b[0] ^= 1
    images["bytes"][7] = bytes(b)


def _duplicate_row(images):
    for col in images.values():
        col.append(col[3])


def _drop_row(images):
    for col in images.values():
        del col[5]


def _move_polygon(images):
    i = next(i for i, p in enumerate(images["poly_ids"]) if p)
    images["poly_ids"][i] = []


@pytest.mark.parametrize("corrupt,message", [
    (_corrupt_payload, "payload differs from compile_chain"),
    (_duplicate_row, "duplicate image_id"),
    (_drop_row, "missing"),
    (_move_polygon, "poly_ids differ from pip_multi"),
])
def test_corrupted_images_are_rejected(tmp_path, expected, corrupt, message):
    images = {k: list(v) for k, v in expected.items()}
    corrupt(images)
    _write(str(tmp_path), images)
    problems = _check(str(tmp_path))
    assert any(message in p for p in problems), problems


def test_knn_rank_outside_one_to_k_is_rejected(tmp_path, expected):
    rank = [1 + i % K for i in range(len(INDICES))]
    rank[0] = K + 1
    _write(str(tmp_path), expected, rank=rank)
    assert any("knn rank outside" in p for p in _check(str(tmp_path)))


def test_snapshot_log_must_register_each_chunk_once(tmp_path, expected):
    _write(str(tmp_path), expected, snapshot_chunks=(0, 0))
    assert any("snapshot log" in p for p in _check(str(tmp_path)))
