"""Benchmark driver: one workload, one seed, one Spark session.

    python3 perfbench/run.py --workload rollup_dashboard --seed 1 --seconds 8 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(with ``--trace 0`` the end-to-end metrics of BENCHMARK.json, with
``--trace 1`` its per-layer metrics). The line before it is a JSON
object with the workload's own named figures. A traced run also writes
its spans to ``.perfbench_out/spans-<workload>-<seed>.json``.

The run is hermetic: its working directory, Spark local dirs, JVM and
Python temp files all live under ``.perfbench_tmp/`` in the checkout,
which is removed at exit. Spark runs ``local[min(2, nproc)]`` with a
2 GB driver, set through the package's ``SPARK_GRAFT_*`` variables.
Two task slots leave the other cores to the Python driver and the JVM's
compiler and GC threads: on a 4-core host that made searches faster and
run-to-run times steadier than ``local[4]``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "data_pipeline_with_big_data_stack_spark"
CPUS = min(2, os.cpu_count() or 1)
DRIVER_MEM = "2g"
# traced-minus-untraced pairs of the primary op, at the end of a traced run
OVERHEAD_PAIRS = 2


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _hermetic_env(tmp: str) -> None:
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(CPUS),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
            "TMPDIR": tmp,
            "TZ": "UTC",
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
        }
    )
    time.tzset()
    tempfile.tempdir = tmp
    os.makedirs(os.environ["SPARK_LOCAL_DIRS"], exist_ok=True)
    os.chdir(tmp)


def _spark(tmp: str):
    from data_pipeline_with_big_data_stack_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.ui.showConsoleProgress": "false",
        },
    )


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM (and so its Python workers) to
    exit, also when ``spark.stop`` fails because a signal cut a call
    to the JVM short."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def run(workload: str, seed: int, seconds: float, trace: bool, tmp: str) -> dict:
    from perfbench.trace import Recorder
    from perfbench.workloads import WORKLOADS

    run_id = f"{workload}-{seed}-{uuid.uuid4().hex[:8]}"
    t0 = time.perf_counter()
    spark = _spark(tmp)
    get_spark_s = time.perf_counter() - t0
    try:
        rec = Recorder(run_id, spark.sparkContext if trace else None)
        wl = WORKLOADS[workload](spark, rec, seed, tmp)
        phases = {"spark_s": get_spark_s}
        mark = time.perf_counter()
        for i in range(wl.setups):
            wl.attempt(wl.setup, i)
        mark = _phase(phases, "setups_s", mark)
        wl.warm()
        mark = _phase(phases, "warm_s", mark)
        wl.measuring = True
        end = time.perf_counter() + seconds
        # whole cycles only: one more starts while the time is not up
        while wl.cycle_no < wl.count_cycles or time.perf_counter() < end:
            cycle = [wl.run_op(kind, fn) for kind, fn in wl.cycle_ops()]
            wl.cycle_no += 1
            if None not in cycle:
                wl.cycle_s.append(sum(cycle))
        wl.measuring = False
        mark = _phase(phases, "window_s", mark)
        wl.attempt(wl.finish)
        if trace:
            wl.attempt(wl.probe)
        _phase(phases, "finish_s", mark)
        out = {"detail": {**wl.detail(), "phases": phases}, "e2e": wl.end_to_end()}
        if trace:
            layers = wl.layers()
            layers["session.get_spark_s"] = get_spark_s
            layers["trace.overhead_s"] = _overhead(wl, run_id)
            out["layers"] = layers
            os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
            rec.dump(os.path.join(ROOT, ".perfbench_out", f"spans-{workload}-{seed}.json"))
        out["attempted"], out["failed"], out["errors"] = wl.attempted, wl.failed, wl.errors
        return out
    finally:
        _stop(spark)


def _phase(phases: dict, name: str, since: float) -> float:
    now = time.perf_counter()
    phases[name] = round(now - since, 3)
    return now


def _overhead(wl, run_id: str) -> float:
    """Median traced minus median untraced latency of the primary op,
    over interleaved pairs run after the measured loop."""
    from perfbench.trace import Recorder
    from perfbench.workloads import median

    traced, plain = wl.rec, Recorder(run_id)
    t, u = [], []
    for _ in range(OVERHEAD_PAIRS):
        for rec, acc in ((plain, u), (traced, t)):
            wl.rec = rec
            t0 = time.perf_counter()
            wl.overhead_op()
            acc.append(time.perf_counter() - t0)
    wl.rec = traced
    return median(t) - median(u)


def main(argv=None) -> int:
    a = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"perfbench: package {PKG!r} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.metrics import result_line
    from perfbench.workloads import WORKLOADS

    if a.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {a.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    # a run stopped by SIGTERM still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    base = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{a.workload}-", dir=base)
    cwd = os.getcwd()
    try:
        _hermetic_env(tmp)
        out = run(a.workload, a.seed, a.seconds, bool(a.trace), tmp)
    finally:
        os.chdir(cwd)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass
    # the detail line: the workload's own figures, every layer figure of
    # a traced run (registered or not), and the first errors
    print(json.dumps({"workload": a.workload, "seed": a.seed, **out["detail"],
                      "layers": out.get("layers", {}), "errors": out["errors"]}))
    print(json.dumps(result_line(out, bool(a.trace))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
