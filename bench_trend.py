#!/usr/bin/env python
"""Render BENCH_TREND.md from the committed bench details:

    python bench_trend.py > BENCH_TREND.md

One row per BENCH_DETAIL_r*.json in round order, then the current
BENCH_DETAIL.json.  Only rows with the same cpus and sf are comparable.
"""

import glob
import json
import os


def row(path: str) -> list:
    with open(path) as f:
        d = json.load(f)
    slowest = sorted(d["queries"].items(), key=lambda kv: -kv[1])[:3]
    return [
        os.path.basename(path), d.get("cpus", "—"), d["sf"], d["n_queries"], d["n_errors"],
        d["value"], d["startup_sec"], d.get("executor_cpu_sec", "—"),
        " · ".join(f"{k} {v}" for k, v in slowest),
    ]


def render() -> str:
    here = os.path.dirname(os.path.abspath(__file__))
    files = sorted(glob.glob(os.path.join(here, "BENCH_DETAIL_r*.json")))
    cols = ["file", "cpus", "sf", "n_queries", "n_errors", "total s", "startup s",
            "executor CPU s", "slowest 3 (s)"]
    lines = ["# Bench trend: `python bench_trend.py > BENCH_TREND.md`", "",
             "| " + " | ".join(cols) + " |", "|" + " --- |" * len(cols)]
    for path in files + [os.path.join(here, "BENCH_DETAIL.json")]:
        lines.append("| " + " | ".join(map(str, row(path))) + " |")
    return "\n".join(lines) + "\n"


if __name__ == "__main__":
    print(render(), end="")
