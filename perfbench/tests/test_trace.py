"""Span recorder: nesting, self time, and job attribution by job group
plus ungrouped job-id delta — against a stand-in status tracker."""

import time
from types import SimpleNamespace

from perfbench.trace import Recorder


class FakeContext:
    """The slice of SparkContext the recorder uses. ``job(stages,
    grouped)`` launches a job from the calling thread (tagged with the
    current group) or from a package worker thread (no group)."""

    def __init__(self):
        self.group = None
        self.jobs: dict[int, tuple[str | None, int]] = {}

    def statusTracker(self):
        return self

    def setJobGroup(self, group, description):
        self.group = group

    def getJobIdsForGroup(self, group):
        return [j for j, (g, _) in self.jobs.items() if g == group]

    def getJobInfo(self, job_id):
        return SimpleNamespace(stageIds=list(range(self.jobs[job_id][1])))

    def job(self, stages: int, grouped: bool = True) -> None:
        self.jobs[len(self.jobs)] = (self.group if grouped else None, stages)


def test_jobs_attributed_to_spans_and_parents():
    sc = FakeContext()
    rec = Recorder("r", sc)
    sc.job(5)  # before any span: charged to nobody
    with rec.span("outer") as outer:
        sc.job(2)
        with rec.span("inner") as inner:
            sc.job(1)
            sc.job(3, grouped=False)  # a package worker thread's job
        sc.job(1, grouped=False)
    sc.job(7)  # between spans
    with rec.span("next") as nxt:
        sc.job(4)
    assert (inner.jobs, inner.stages) == (2, 4)
    assert (outer.jobs, outer.stages) == (4, 7)
    assert (nxt.jobs, nxt.stages) == (1, 4)
    assert inner.parent == outer.id and outer.parent is None


def test_self_time_excludes_children():
    rec = Recorder("r")
    with rec.span("outer") as outer:
        with rec.span("a"):
            time.sleep(0.02)
        time.sleep(0.01)
    assert not rec.enabled
    assert 0.0 < rec.self_seconds(outer) < outer.seconds
    assert abs(rec.self_seconds(outer) + rec.named("a")[0].seconds - outer.seconds) < 1e-9


def test_dump_round_trips(tmp_path):
    import json

    rec = Recorder("run-1")
    with rec.span("x", kind="k"):
        pass
    rec.dump(str(tmp_path / "spans.json"))
    d = json.loads((tmp_path / "spans.json").read_text())
    assert d["run_id"] == "run-1"
    (s,) = d["spans"]
    assert s["name"] == "x" and s["attrs"] == {"kind": "k"} and s["run_id"] == "run-1"
    assert s["end"] >= s["start"] and s["parent"] is None
