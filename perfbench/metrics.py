"""The result line, shaped by BENCHMARK.json: with tracing off it holds
every end-to-end metric, with tracing on every per-layer metric. A
per-layer metric of a layer the workload does not touch reads 0."""

from __future__ import annotations

import json
import os

BENCHMARK_JSON = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                              "BENCHMARK.json")


def spec() -> dict:
    with open(BENCHMARK_JSON) as f:
        return json.load(f)


def result_line(out: dict, trace: bool) -> dict:
    s = spec()
    if trace:
        values = out["layers"]
        metrics = {
            m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in s["per_layer"]
        }
    else:
        metrics = {
            m["name"]: {"value": float(out["e2e"][m["name"]]), "unit": m["unit"]}
            for m in s["end_to_end"]
        }
    failed = int(out["failed"])
    # an end-to-end figure of 0 means its op never completed
    complete = all(v["value"] > 0 for v in metrics.values()) if not trace else True
    return {
        "correct": failed == 0 and complete,
        "attempted": max(1, int(out["attempted"])),
        "failed": failed,
        "metrics": metrics,
    }
