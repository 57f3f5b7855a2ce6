"""BENCHMARK.json names what run.py prints: its workloads, end-to-end
metrics and the per-layer metrics of colorbench/layers.json."""

import json
import os
import re

from colorbench.run import ROOT, Session, TIMING_SUFFIXES, end_to_end, layer_defs
from colorbench.workloads import WORKLOADS

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def test_top_level_keys():
    assert set(BENCH) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}
    assert BENCH["paths"] == ["colorbench"]


def test_workloads_match_the_definitions():
    assert [w["name"] for w in BENCH["workloads"]] == list(WORKLOADS)
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in BENCH["workloads"])


def test_end_to_end_metrics_match_what_a_run_prints():
    op = {"kind": "warm", "wall_s": 1.0, "cpu_s": 2.0, "peak_rss_mib": 3.0,
          "out_bytes": 4}
    s = Session("s", 4, False, setup_s=7.0, ops=[dict(op, kind="cold"), op])
    printed = end_to_end([s], WORKLOADS["flagship"], in_bytes=8)
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == {
        k: unit for k, (_, unit) in printed.items()
    }
    bounds = {m["name"]: m["bound"] for m in BENCH["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())


def test_per_layer_metrics_match_layers_json():
    want = []
    for d in layer_defs():
        if d["kind"] == "timing":
            for suffix, unit in TIMING_SUFFIXES.items():
                better = d["better"] if unit is None else "higher"
                want.append({"name": d["name"] + suffix, "unit": unit or d["unit"],
                             "better": better})
        else:
            want.append({k: d[k] for k in ("name", "unit", "better")})
    assert BENCH["per_layer"] == want


def test_names_and_units_are_well_formed():
    metrics = BENCH["end_to_end"] + BENCH["per_layer"]
    names = [m["name"] for m in metrics + BENCH["workloads"]]
    assert len(names) == len(set(names))
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names)
    assert all(re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"]) for m in metrics)
    assert all(m["better"] in ("higher", "lower") for m in metrics)
