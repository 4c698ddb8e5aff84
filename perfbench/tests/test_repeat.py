"""Two traced runs of one seed launch the same Spark jobs and stages on
every counted call, report the same per-layer counts, and return the
same search results. Each run is a full benchmark process (about a
minute per workload on 4 cores)."""

import json
import os
import subprocess
import sys

import pytest

from perfbench.metrics import spec

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
COUNT_METRICS = ("_jobs", "_stages", "files_written", "partitions_touched", "index_files")
# one job (two stages) of a substring-store epoch comes and goes between
# same-seed runs (22 or 23 jobs): the package's own variation, which the
# benchmark reports rather than hides, so those spans may differ by it
VARIES = {"substring_ingest.epoch": 1, "curation.epoch": 1}


def _traced_run(workload: str, seed: int) -> tuple[dict, list]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", "1", "--trace", "1"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-2000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    with open(os.path.join(ROOT, ".perfbench_out", f"spans-{workload}-{seed}.json")) as f:
        spans = json.load(f)["spans"]
    return result, spans


@pytest.mark.parametrize("workload", [w["name"] for w in spec()["workloads"]])
def test_same_seed_same_counts(workload):
    (r1, s1), (r2, s2) = _traced_run(workload, 7), _traced_run(workload, 7)
    assert r1["correct"] and r2["correct"] and r1["failed"] == 0

    def counted(spans):
        return [(s["name"], s["jobs"], s["stages"]) for s in spans if s["attrs"].get("counted")]

    c1, c2 = counted(s1), counted(s2)
    assert c1 and [c[0] for c in c1] == [c[0] for c in c2]
    for (name, j1, st1), (_, j2, st2) in zip(c1, c2):
        slack = VARIES.get(name, 0)
        assert abs(j1 - j2) <= slack and abs(st1 - st2) <= 2 * slack, (name, j1, j2, st1, st2)
    m1, m2 = r1["metrics"], r2["metrics"]
    for name in m1:
        if name.endswith(COUNT_METRICS) and name != "substring_ingest.epoch_jobs":
            assert m1[name]["value"] == m2[name]["value"], name
    topk = [[s["attrs"]["topk"] for s in spans if "topk" in s["attrs"]] for spans in (s1, s2)]
    n = min(map(len, topk))
    assert topk[0][:n] == topk[1][:n]


def test_exits_nonzero_without_the_package(tmp_path):
    """A copy holding only BENCHMARK.json and the benchmark must fail
    fast, printing no result."""
    import shutil

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "rollup_dashboard", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0 and p.stdout == ""
