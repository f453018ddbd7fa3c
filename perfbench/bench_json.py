"""Read and validate the repository's BENCHMARK.json."""

from __future__ import annotations

import json
import os
import re

PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))), "BENCHMARK.json")
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def load(path: str = PATH) -> dict:
    with open(path) as fh:
        return json.load(fh)


def problems(spec: dict) -> list[str]:
    """Every way ``spec`` breaks the limits on the benchmark file."""
    out = []
    keys = {"command", "paths", "run_seconds", "workloads", "end_to_end",
            "per_layer"}
    if set(spec) != keys:
        out.append(f"keys {sorted(spec)}")
    limits = {"workloads": (2, 8), "end_to_end": (1, 16),
              "per_layer": (1, 128)}
    for key, (lo, hi) in limits.items():
        if not lo <= len(spec.get(key, [])) <= hi:
            out.append(f"{key}: {len(spec.get(key, []))} not in [{lo}, {hi}]")
    names = [m["name"] for k in limits for m in spec.get(k, [])]
    out += [f"bad name {n!r}" for n in names if not NAME.match(n)]
    out += [f"duplicate name {n!r}" for n in set(names)
            if names.count(n) > 1]
    for w in spec.get("workloads", []):
        if set(w) != {"name", "why"} or len(w["why"]) > 200 or "\n" in w["why"]:
            out.append(f"workload {w.get('name')}")
    for m in spec.get("end_to_end", []):
        if set(m) != {"name", "unit", "better", "bound"} or not (
                0 < m["bound"] <= 0.25):
            out.append(f"end_to_end {m.get('name')}")
    for m in spec.get("per_layer", []):
        if set(m) != {"name", "unit", "better"}:
            out.append(f"per_layer {m.get('name')}")
    for m in spec.get("end_to_end", []) + spec.get("per_layer", []):
        if not UNIT.match(m.get("unit", "")) or m.get("better") not in (
                "lower", "higher"):
            out.append(f"unit/better of {m.get('name')}")
    setup = [m for m in spec.get("end_to_end", []) if m["name"] == "setup_s"]
    if not setup or setup[0]["unit"] != "s" or setup[0]["better"] != "lower":
        out.append("setup_s missing or malformed")
    if not 1 <= spec.get("run_seconds", 0) <= 60:
        out.append("run_seconds")
    return out
