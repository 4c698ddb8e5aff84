"""The benchmark's workloads. Each is a closed loop with one client: the
next call is made only after the previous one returned. Every call goes
through the package's public functions, inside a span named after the
layer it enters (``perfbench.trace``).

A workload runs ``setup`` several times on fresh directories (the median
is ``setup_s``; the last set-up state is kept), warms up, then repeats
``cycle`` until the time is up, and finally ``finish`` checks the
accumulated outputs. Each op either returns normally and passes its
output check, or counts as failed.

The end-to-end metrics are the medians of the primary op (``op_p50_s``)
and of a whole cycle, write and reads together (``cycle_p50_s``). Both
are sums over a fixed mix of calls, so a run's median does not jump
between call kinds that differ in cost with where the run happens to
stop; the single-call figures are per-layer metrics."""

from __future__ import annotations

import os
import statistics
import traceback

import numpy as np
import pandas as pd

from perfbench import inputs as I


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def p90(xs) -> float:
    xs = sorted(xs)
    if not xs:
        return 0.0
    return float(statistics.quantiles(xs, n=10, method="inclusive")[-1]) if len(xs) > 1 else xs[0]


def parquet_files(*dirs: str) -> list[str]:
    out = []
    for d in dirs:
        d = d[len("file:"):] if d.startswith("file:") else d
        for root, _subdirs, files in os.walk(d):
            out += [os.path.join(root, f) for f in files if f.endswith(".parquet")]
    return out


class Workload:
    name = ""
    setups = 3
    # job/stage counts are medians over the calls of the first measured
    # cycle, which every run completes, so a seed gives the same counts
    # whatever the run length
    count_cycles = 1

    def __init__(self, spark, rec, seed: int, tmp: str):
        self.spark, self.rec, self.seed, self.tmp = spark, rec, seed, tmp
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.setup_s: list[float] = []
        self.cycle_no = 0
        self.op_s: list[float] = []
        self.maint_s: list[float] = []
        self.cycle_s: list[float] = []  # measured whole cycles: sum of their ops

    # -- helpers ----------------------------------------------------------

    def path(self, *parts: str) -> str:
        p = os.path.join(self.tmp, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def stage(self, df: pd.DataFrame, name: str, schema: str):
        """Write a generated frame as one parquet file and hand it to
        Spark with its schema given (no inference job)."""
        p = self.path("inputs", name, "part-0.parquet")
        df.to_parquet(p, index=False)
        return self.spark.read.schema(schema).parquet(os.path.dirname(p))

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 5:
            self.errors.append(what[:500])

    def check(self, ok: bool, what: str) -> None:
        """One output check: it counts as attempted, and as failed
        unless ``ok``."""
        self.attempted += 1
        if not ok:
            self.fail(what)

    def attempt(self, fn, *args):
        """Run one op; an exception counts it as failed."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception:  # noqa: BLE001 - a failed op is a measurement
            self.fail(f"{getattr(fn, '__name__', fn)}: {traceback.format_exc(limit=3)}")
            return None

    def in_count_window(self) -> bool:
        return self.cycle_no < self.count_cycles

    def counted(self, name: str) -> float:
        """Median job count of span ``name`` over the count window's
        calls."""
        return median(s.jobs for s in self.rec.named(name) if s.attrs.get("counted"))

    def secs(self, name: str) -> float:
        return median(s.seconds for s in self.rec.named(name) if s.attrs.get("measured"))

    # -- protocol ---------------------------------------------------------

    def setup(self, i: int) -> None:
        raise NotImplementedError

    def cycle_ops(self) -> list:
        """The next cycle's ops as ``(kind, fn)`` pairs: kind ``op`` is
        the workload's primary op, ``maint`` its write or maintenance
        op. Each ``fn`` returns its op's seconds."""
        raise NotImplementedError

    def run_op(self, kind: str, fn) -> float | None:
        """Run one op of a cycle; its seconds, or None if it failed."""
        t = self.attempt(fn)
        if t is not None and self.measuring:
            (self.op_s if kind == "op" else self.maint_s).append(t)
        return t

    def warm(self) -> None:
        """Untimed calls before the window, so JIT and codegen are paid
        before timing: the first calls of a kind take 1.3-2x as long as
        the later ones."""
        raise NotImplementedError

    def finish(self) -> None:
        pass

    def probe(self) -> None:
        """Traced runs only, after the measured window: calls into layers
        whose figures are per-layer metrics only."""

    def detail(self) -> dict:
        """The workload's own end-to-end figures, by name."""
        return {}

    def layers(self) -> dict:
        """Per-layer metrics this workload touches (trace run only)."""
        return {}

    def overhead_op(self) -> None:
        """One primary op, for the traced-minus-untraced overhead pairs."""
        raise NotImplementedError

    def span(self, name: str, **attrs):
        attrs.setdefault("measured", self.measuring)
        attrs.setdefault("counted", self.measuring and self.in_count_window())
        return self.rec.span(name, **attrs)

    measuring = False

    def end_to_end(self) -> dict:
        return {
            "setup_s": median(self.setup_s),
            "op_p50_s": median(self.op_s),
            "cycle_p50_s": median(self.cycle_s),
        }


# ---------------------------------------------------------------------------


class RollupDashboard(Workload):
    """Ingest → store → dashboard: each epoch ingests GOES records into
    the raw datasource, merges events into the hourly rollup store and
    lands them in the warehouse ``events`` table, then serves the
    dashboard: three rollup and SQL reads and two registry-query panels
    over ``events``."""

    name = "rollup_dashboard"
    EV_SCHEMA = "ts timestamp, event_type string, user_id long, value double"
    GOES_SCHEMA = (
        "time long, product_time string, "
        "solar_array_current_channel_index_label string, source_file string, "
        "irradiance_xrsa1 double, irradiance_xrsa2 double, irradiance_xrsb1 double, "
        "irradiance_xrsb2 double, primary_xrsb double, dispersion_angle double, "
        "integration_time double, extraction_timestamp long, file_size_mb double"
    )
    VIEW = "goes_satellite_datasource"
    # registry queries over the warehouse ``events`` table, one module each
    PANELS = ("q_approx_distinct_users", "q_percentiles_by_event_type")

    def __init__(self, *a):
        super().__init__(*a)
        self.z = I.RollupSizes()
        self.epoch = 0
        self.commit_rows: list[tuple[int, float]] = []

    def setup(self, i: int) -> None:
        from data_pipeline_with_big_data_stack_spark.ingest import ingest_batch
        from data_pipeline_with_big_data_stack_spark.operators.rollup_maintenance import (
            apply_increment,
        )
        from data_pipeline_with_big_data_stack_spark.schemas import GOES_SATELLITE

        ev, goes = I.rollup_history(self.seed, self.z)
        ev_df = self.stage(ev, f"hist_ev_{i}", self.EV_SCHEMA)
        goes_df = self.stage(goes, f"hist_goes_{i}", self.GOES_SCHEMA)
        self.raw = self.path(f"s{i}", "raw")
        self.store = self.path(f"s{i}", "rollup")
        self.warehouse = self.path(f"s{i}", "warehouse")
        with self.span("rollup.setup") as s:
            self.raw_df = ingest_batch(GOES_SATELLITE, goes_df, self.raw)
            apply_increment(self.spark, self.store, ev_df, batch_id=0)
        self.setup_s.append(s.seconds)
        self.totals = self.goes_days = None
        self.events: list[pd.DataFrame] = []
        self._record(ev, goes)
        self.raw_df.createOrReplaceTempView(self.VIEW)

    def _record(self, ev: pd.DataFrame, goes: pd.DataFrame) -> None:
        """Land one ingested batch's events in the warehouse ``events``
        table (one parquet file per batch, the fixture's columns but
        ``props``) and fold the batch into the exact running totals the
        read checks compare against: events per (day, event_type) with
        their micro-unit sums, and GOES rows per day index."""
        first = sum(map(len, self.events))
        self.events.append(ev)
        part = os.path.join(self.warehouse, "events.parquet", f"part-{len(self.events):05d}.parquet")
        os.makedirs(os.path.dirname(part), exist_ok=True)
        ev.assign(event_id=np.arange(first, first + len(ev), dtype=np.int64)).to_parquet(
            part, index=False
        )
        agg = (
            ev.assign(day=ev["ts"].dt.date, m=np.round(ev["value"] * 1e6).astype(np.int64))
            .groupby(["day", "event_type"])
            .agg(n=("m", "size"), m=("m", "sum"))
        )
        days = ((goes["time"] - I.EPOCH0_S) // I.DAY_S).value_counts()
        if self.totals is None:
            self.totals, self.goes_days = agg, days
        else:
            self.totals = self.totals.add(agg, fill_value=0).astype(np.int64)
            self.goes_days = self.goes_days.add(days, fill_value=0).astype(np.int64)

    def _commit(self, ev_df, goes_df, days: int):
        from data_pipeline_with_big_data_stack_spark.ingest import ingest_batch
        from data_pipeline_with_big_data_stack_spark.operators.rollup_maintenance import (
            apply_increment,
        )
        from data_pipeline_with_big_data_stack_spark.schemas import GOES_SATELLITE

        before = len(parquet_files(self.raw))
        with self.span("rollup.commit") as s:
            with self.span("ingest.ingest_batch") as si:
                raw_df = ingest_batch(GOES_SATELLITE, goes_df, self.raw)
            with self.span("rollup_maintenance.apply_increment", partitions=days):
                apply_increment(self.spark, self.store, ev_df, batch_id=self.epoch + 1)
        si.attrs["files"] = len(parquet_files(self.raw)) - before
        raw_df.createOrReplaceTempView(self.VIEW)
        return s.seconds

    def _today(self) -> int:
        return self.z.history_days + self.epoch - 1  # day index of the last epoch

    def _day(self, d: int):
        return pd.Timestamp(I.EPOCH0_S + d * I.DAY_S, unit="s").date()

    def read_day(self):
        from data_pipeline_with_big_data_stack_spark.operators.rollup_maintenance import (
            serve_rollup,
        )

        with self.span("dashboard.read", kind="day") as s:
            with self.span("rollup_maintenance.serve_plan"):
                df = serve_rollup(self.spark, self.store, grain="day")
            with self.span("rollup_maintenance.serve_exec"):
                rows = df.collect()
        exp = self.totals
        got = {(r["bucket"].date(), r["event_type"]): (r["n_events"], r["sum_value"]) for r in rows}
        ok = len(got) == len(exp) and all(
            (d, t) in got
            and got[(d, t)][0] == n
            and abs(got[(d, t)][1] - m / 1e6) <= 5.001e-5
            for (d, t), (n, m) in exp.iterrows()
        )
        self.check(ok, "day-grain serve totals differ from the exact aggregate")
        return s.seconds

    def read_hour7(self):
        from data_pipeline_with_big_data_stack_spark.operators.rollup_maintenance import (
            serve_rollup,
        )

        lo, hi = self._day(self._today() - 6), self._day(self._today() + 1)
        with self.span("dashboard.read", kind="hour7") as s:
            with self.span("rollup_maintenance.serve_plan"):
                df = serve_rollup(self.spark, self.store, grain="hour", with_distinct=True,
                                  since=lo, until=hi)
            with self.span("rollup_maintenance.serve_exec"):
                rows = df.collect()
        per_day = self.totals["n"].groupby(level="day").sum()
        want = int(per_day[(per_day.index >= lo) & (per_day.index < hi)].sum())
        ok = sum(r["n_events"] for r in rows) == want and all(r["approx_users"] >= 1 for r in rows)
        self.check(ok, "hour-grain 7-day serve event count differs from the input")
        return s.seconds

    def read_sql(self):
        from data_pipeline_with_big_data_stack_spark.plans.sql_shim import druid_sql

        lo = self._day(self._today() - 6)
        sql = (
            "SELECT TIME_FLOOR(__time, 'PT1H') AS hr, "
            "solar_array_current_channel_index_label AS ch, COUNT(*) AS n, "
            "AVG(primary_xrsb) AS xrsb "
            f"FROM {self.VIEW} WHERE __date >= DATE '{lo}' GROUP BY 1, 2"
        )
        with self.span("dashboard.read", kind="sql") as s:
            with self.span("sql_shim.druid_sql_plan"):
                df = druid_sql(self.spark, sql)
            with self.span("sql_shim.druid_sql_exec"):
                rows = df.collect()
        want = int(self.goes_days[self.goes_days.index >= self._today() - 6].sum())
        self.check(sum(r["n"] for r in rows) == want,
                   "druid_sql hourly count differs from the rows ingested")
        return s.seconds

    def read_panel(self, name: str):
        """One registry query over the warehouse ``events`` table, checked
        per event type against the events landed so far: the exact
        distinct-user count, or the exact median (linear interpolation,
        rounded to 4 places)."""
        from data_pipeline_with_big_data_stack_spark.queries import QUERIES

        with self.span("dashboard.read", kind=name) as s:
            with self.span(f"queries.{name}"):
                rows = QUERIES[name](self.spark, self.warehouse).collect()
        by_type = pd.concat(self.events).groupby("event_type")
        if name == "q_approx_distinct_users":
            want = by_type["user_id"].nunique()
            got = {r["event_type"]: r["exact_users"] for r in rows}
            ok = got == want.to_dict()
        else:
            want = by_type["value"].median()
            got = {r["event_type"]: r["p50"] for r in rows}
            ok = got.keys() == set(want.index) and all(
                abs(got[t] - m) <= 1.5e-4 for t, m in want.items()
            )
        self.check(ok, f"{name} differs from the events landed so far")
        return s.seconds

    def commit(self):
        ev, goes = I.rollup_epoch(self.seed, self.z, self.epoch)
        ev_df = self.stage(ev, f"ev_{self.epoch}", self.EV_SCHEMA)
        goes_df = self.stage(goes, f"goes_{self.epoch}", self.GOES_SCHEMA)
        days = int(ev["ts"].dt.date.nunique())
        self.epoch += 1
        t = self._commit(ev_df, goes_df, days)
        self._record(ev, goes)
        if self.measuring:
            self.commit_rows.append((len(ev) + len(goes), t))
        return t

    def refresh(self):
        """One dashboard refresh: its panels' reads, in order. The
        primary op is the refresh, not the single read: the reads differ
        2-3x in cost, so a median over single reads would jump between
        read kinds with where a run happens to stop."""
        with self.span("dashboard.refresh") as s:
            self.read_day()
            self.read_hour7()
            self.read_sql()
            for name in self.PANELS:
                self.read_panel(name)
        return s.seconds

    def cycle_ops(self) -> list:
        return [("maint", self.commit), ("op", self.refresh), ("op", self.refresh)]

    def warm(self) -> None:
        # the three set-ups have run the commit path already
        self.run_op("op", self.refresh)

    def overhead_op(self) -> None:
        self.refresh()

    def probe(self) -> None:
        self.curation = CurationProbe(self)
        self.curation.run()

    def detail(self) -> dict:
        rows = sum(n for n, _ in self.commit_rows)
        secs = sum(t for _, t in self.commit_rows)
        reads = [s.seconds for s in self.rec.named("dashboard.read") if s.attrs["measured"]]
        return {
            "refresh_p50_s": median(self.op_s),
            "dashboard_p50_s": median(reads),
            "dashboard_p90_s": p90(reads),
            "dashboard_reads": len(reads),
            "commit_p50_s": median(self.maint_s),
            "commits": len(self.maint_s),
            "ingest_rows_per_s": rows / secs if secs else 0.0,
        }

    def layers(self) -> dict:
        d = self.detail()
        return {
            "rollup_dashboard.dashboard_p50_s": d["dashboard_p50_s"],
            "rollup_dashboard.dashboard_p90_s": d["dashboard_p90_s"],
            "rollup_dashboard.commit_p50_s": d["commit_p50_s"],
            "rollup_dashboard.ingest_rows_per_s": d["ingest_rows_per_s"],
            "ingest.ingest_batch_s": self.secs("ingest.ingest_batch"),
            "ingest.ingest_batch_jobs": self.counted("ingest.ingest_batch"),
            "ingest.files_written": median(
                s.attrs.get("files", 0) for s in self.rec.named("ingest.ingest_batch")
                if s.attrs.get("counted")
            ),
            "rollup_maintenance.apply_increment_s": self.secs("rollup_maintenance.apply_increment"),
            "rollup_maintenance.apply_increment_jobs": self.counted("rollup_maintenance.apply_increment"),
            "rollup_maintenance.partitions_touched": median(
                s.attrs["partitions"] for s in self.rec.named("rollup_maintenance.apply_increment")
                if s.attrs.get("counted")
            ),
            "rollup_maintenance.serve_plan_s": self.secs("rollup_maintenance.serve_plan"),
            "rollup_maintenance.serve_exec_s": self.secs("rollup_maintenance.serve_exec"),
            "rollup_maintenance.serve_jobs": self._read_jobs(("day", "hour7")),
            "sql_shim.druid_sql_plan_s": self.secs("sql_shim.druid_sql_plan"),
            "sql_shim.druid_sql_exec_s": self.secs("sql_shim.druid_sql_exec"),
            "sql_shim.druid_sql_jobs": self._read_jobs(("sql",)),
            **{
                f"queries.{name}_{what}": fn(f"queries.{name}")
                for name in self.PANELS
                for what, fn in (("s", self.secs), ("jobs", self.counted))
            },
            **(self.curation.layers() if hasattr(self, "curation") else {}),
        }

    def _read_jobs(self, kinds) -> float:
        return median(
            s.jobs for s in self.rec.named("dashboard.read")
            if s.attrs.get("counted") and s.attrs["kind"] in kinds
        )


# ---------------------------------------------------------------------------


class VectorServe(Workload):
    """Versioned IVF-PQ at a real codebook size: rounds of an append and
    a compaction, each followed by two bursts of searches, so searches
    hit both a freshly published generation and one they have already
    served."""

    name = "vector_serve"
    SEARCHES_PER_BURST = 2
    NPROBE = 2
    K = 10
    VEC_SCHEMA = "vec_id long, emb array<double>"
    PROBE_SCHEMA = "q_id long, q_emb array<double>"
    CB_SCHEMA = "cb array<struct<cell_id: long, c_emb: array<double>>>"

    def __init__(self, *a):
        super().__init__(*a)
        self.z = I.VectorSizes()
        self.corpus = I.vector_corpus(self.seed, self.z)
        self.coarse, self.pq = I.vector_codebooks(self.seed, self.z, self.corpus)
        self.n_search = 0
        self.n_append = 0
        self.fresh = True  # the next search is the first after a publish
        self.topk: list[list[int]] = []
        self.index_files: list[int] = []

    def _codebook_df(self, rows: np.ndarray, name: str):
        """A 1-row codebook frame (``cb: array<struct<cell_id, c_emb>>``),
        staged as parquet so the build broadcasts a JVM scan, not a
        Python-row RDD."""
        cb = [{"cell_id": i, "c_emb": r} for i, r in enumerate(rows)]
        return self.stage(pd.DataFrame({"cb": [cb]}), name, self.CB_SCHEMA)

    def _vec_frame(self, vecs: np.ndarray, first_id: int, col=("vec_id", "emb")):
        return pd.DataFrame({col[0]: np.arange(first_id, first_id + len(vecs), dtype=np.int64),
                             col[1]: list(vecs)})

    def setup(self, i: int) -> None:
        from data_pipeline_with_big_data_stack_spark.operators.ann_index_versioned import (
            build_ivfpq_versioned,
        )

        sub = self.z.dim // self.z.n_sub
        vecs = self.stage(self._vec_frame(self.corpus, 0), f"corpus_{i}", self.VEC_SCHEMA)
        coarse = self._codebook_df(self.coarse, f"coarse_{i}")
        pq = [self._codebook_df(self.pq[m], f"pq_{i}_{m}") for m in range(self.z.n_sub)]
        self.root = self.path(f"s{i}", "index")
        with self.span("ann_index_versioned.build") as s:
            build_ivfpq_versioned(vecs, self.root, coarse, pq, sub_dim=sub)
        self.setup_s.append(s.seconds)
        self.vecs = self.corpus
        self.ids = np.arange(len(self.corpus), dtype=np.int64)
        self.fresh = True

    def search(self):
        from data_pipeline_with_big_data_stack_spark.operators.ann_index_versioned import (
            read_current,
            search_ivfpq_versioned,
        )

        q = I.vector_probes(self.seed, self.z, self.n_search)
        probes = self.stage(
            self._vec_frame(q, 10_000_000, ("q_id", "q_emb")), f"probes_{self.n_search}",
            self.PROBE_SCHEMA,
        )
        self.n_search += 1
        if self.rec.enabled:  # traced runs only: outside the op's span
            with self.span("ann_index_versioned.resolve"):
                read_current(self.root)
        with self.span("vector.search", first_after_publish=self.fresh) as s:
            with self.span("ann_index.search_plan"):
                df = search_ivfpq_versioned(self.spark, self.root, probes, nprobe=self.NPROBE, k=self.K)
            with self.span("ann_index.search_exec"):
                rows = df.select("q_id", "vec_id", "adc_dist").collect()
        self.fresh = False
        got: dict[int, list[tuple[int, float]]] = {}
        for r in sorted(rows, key=lambda r: (r["q_id"], r["adc_dist"], r["vec_id"])):
            got.setdefault(r["q_id"] - 10_000_000, []).append((r["vec_id"], r["adc_dist"]))
        want = I.ivfpq_topk(self.vecs, self.ids, self.coarse, self.pq, q, self.NPROBE, self.K + 1)
        s.attrs["topk"] = [[i for i, _ in got.get(j, [])] for j in range(len(q))]
        self.topk += s.attrs["topk"]
        bad = [j for j, w in enumerate(want) if not _same_topk(got.get(j, []), w)]
        self.check(not bad, f"search {self.n_search - 1} probes {bad}: top-{self.K} differs "
                            "from the reference")
        return s.seconds

    def maintain(self):
        """One maintenance round: append a batch of new vectors as a new
        generation, then compact (one file per cell) as another."""
        from data_pipeline_with_big_data_stack_spark.operators import fsio, segman
        from data_pipeline_with_big_data_stack_spark.operators.ann_index_versioned import (
            append_ivfpq_versioned,
            compact_ivfpq_versioned,
            current_index_path,
        )

        new = I.vector_append(self.seed, self.z, self.n_append)
        first = len(self.corpus) + self.n_append * self.z.append
        df = self.stage(self._vec_frame(new, first), f"append_{self.n_append}", self.VEC_SCHEMA)
        self.n_append += 1
        with self.span("vector.maint") as s:
            with self.span("ann_index_versioned.append"):
                append_ivfpq_versioned(self.spark, self.root, df)
            self.fresh = True
            with self.span("ann_index_versioned.compact"):
                gen = compact_ivfpq_versioned(self.spark, self.root, max_files_per_cell=1)
        self.vecs = np.vstack([self.vecs, new])
        self.ids = np.concatenate([self.ids, np.arange(first, first + len(new), dtype=np.int64)])
        self.check(gen is not None, "compaction found no cell over its file threshold")
        if self.rec.enabled and self.measuring and self.in_count_window():
            fs = fsio.Fs(self.spark, self.root)
            entries = segman.resolve_all(fs, current_index_path(self.root))
            self.index_files.append(len(parquet_files(*[d for ds in entries.values() for d in ds])))
        return s.seconds

    def burst(self):
        """The primary op: searches, one after another. The first search
        of a round misses the serve cache on the freshly published
        generation, the others hit it."""
        return sum(self.search() for _ in range(self.SEARCHES_PER_BURST))

    def cycle_ops(self) -> list:
        return [("maint", self.maintain), ("op", self.burst), ("op", self.burst)]

    def warm(self) -> None:
        # the builds have run the vector-coding path an append shares
        self.run_op("op", self.burst)

    def overhead_op(self) -> None:
        self.search()

    def detail(self) -> dict:
        import hashlib

        searches = [s.seconds for s in self.rec.named("vector.search") if s.attrs["measured"]]
        return {
            "burst_p50_s": median(self.op_s),
            "search_p50_s": median(searches),
            "search_p90_s": p90(searches),
            "searches": len(searches),
            "index_maint_p50_s": median(self.maint_s),
            "index_maint_rounds": len(self.maint_s),
            "topk_digest": hashlib.sha256(repr(self.topk).encode()).hexdigest()[:16],
        }

    def layers(self) -> dict:
        d = self.detail()
        searches = [s for s in self.rec.named("vector.search") if s.attrs.get("counted")]
        return {
            "vector_serve.search_p50_s": d["search_p50_s"],
            "vector_serve.search_p90_s": d["search_p90_s"],
            "vector_serve.index_maint_p50_s": d["index_maint_p50_s"],
            "ann_index_versioned.resolve_s": self.secs("ann_index_versioned.resolve"),
            "ann_index.search_plan_s": self.secs("ann_index.search_plan"),
            "ann_index.search_exec_s": self.secs("ann_index.search_exec"),
            "ann_index.search_jobs": median(s.jobs for s in searches),
            "ann_index.search_stages": median(s.stages for s in searches),
            "ann_index.search_first_after_publish_s": median(
                s.seconds for s in self.rec.named("vector.search")
                if s.attrs.get("measured") and s.attrs["first_after_publish"]
            ),
            "ann_index_versioned.append_s": self.secs("ann_index_versioned.append"),
            "ann_index_versioned.append_jobs": self.counted("ann_index_versioned.append"),
            "ann_index_versioned.compact_s": self.secs("ann_index_versioned.compact"),
            "segman.index_files": median(self.index_files),
        }


def _same_topk(got, want, tol: float = 1e-3) -> bool:
    """Same top-k as the reference. ``want`` carries one extra
    candidate, so a near-tie at the k-th place is visible. Distances
    must agree within ``tol``; ids must agree except among candidates
    whose reference distances tie within ``tol`` (rounding to 4 places
    can split a near-tie either way between engines)."""
    k = len(want) - 1 if len(want) > len(got) else len(want)
    if len(got) != k or any(abs(a - b) > tol for (_, a), (_, b) in zip(got, want)):
        return False
    for j, ((gi, _), (wi, wd)) in enumerate(zip(got, want)):
        if gi != wi and not any(
            abs(wd - want[n][1]) <= tol for n in (j - 1, j + 1) if 0 <= n < len(want)
        ):
            return False
    return True


# ---------------------------------------------------------------------------


class CurationProbe:
    """The epoch stores, driven once at the end of a traced
    ``rollup_dashboard`` run: a fresh MinHash store and a fresh
    exact-substring store, one crawl shard per epoch through both (the
    first epoch untimed, as JIT warm-up), then one incremental fold of
    each. One epoch is about 50 Spark jobs, so an epoch-store cycle in
    every run would not fit the benchmark's time budget; its figures are
    per-layer metrics only."""

    EPOCHS = 2
    DOC_SCHEMA = "doc_id long, text string"

    def __init__(self, wl: Workload):
        self.wl, self.spark = wl, wl.spark
        self.shards = I.CrawlShards(wl.seed, I.CurationSizes())
        self.docs: list[pd.DataFrame] = []

    def span(self, name: str, timed: bool = True):
        return self.wl.rec.span(name, measured=timed, counted=timed)

    def run(self) -> None:
        from data_pipeline_with_big_data_stack_spark.operators.dedup_ingest import (
            compact_dedup_ingest_store,
            dedup_ingest_batch,
            init_dedup_ingest_store,
        )
        from data_pipeline_with_big_data_stack_spark.operators.substring_ingest import (
            compact_substring_ingest_store,
            init_substring_store,
            substring_ingest_batch,
        )

        with self.span("curation.init"):
            with self.span("dedup_ingest.init"):
                self.dstore = init_dedup_ingest_store(self.spark, self.wl.path("curation", "minhash"))
            with self.span("substring_ingest.init"):
                self.sstore = init_substring_store(self.spark, self.wl.path("curation", "substr"))
        for eid in range(self.EPOCHS):
            shard = self.shards.shard(eid)
            df = self.wl.stage(shard[["doc_id", "text"]], f"shard_{eid}", self.DOC_SCHEMA)
            with self.span("curation.epoch", timed=eid > 0):
                with self.span("dedup_ingest.epoch", timed=eid > 0):
                    dedup_ingest_batch(df, eid, self.dstore)
                with self.span("substring_ingest.epoch", timed=eid > 0):
                    substring_ingest_batch(df, eid, self.sstore)
            self.docs.append(shard)
        with self.span("curation.fold"):
            with self.span("dedup_ingest.fold"):
                compact_dedup_ingest_store(self.spark, self.dstore, full=False)
            with self.span("substring_ingest.fold"):
                compact_substring_ingest_store(self.spark, self.sstore, full=False)
        self.files_after_fold = len(self._live_files())
        self._check()

    def _live_files(self) -> list[str]:
        from data_pipeline_with_big_data_stack_spark.operators import segman

        dirs = []
        for st in (self.dstore, self.sstore):
            for sink in st._SINKS:
                dirs += [d for ds in segman.resolve_all(st.fs, st._sink(sink)).values() for d in ds]
        return parquet_files(*dirs)

    def _check(self) -> None:
        """Planted exact copies must all be flagged by both stores, and
        no unique doc may be dropped by either."""
        check = self.wl.check
        docs = pd.concat(self.docs)
        dec = {r["doc_id"] for r in self.dstore.read(self.spark, "decisions").select("doc_id").collect()}
        sub = {
            r["doc_id"]: (r["n_dup_windows"], r["kept_tokens"])
            for r in self.sstore.read(self.spark, "decisions").collect()
        }
        exact = docs.loc[docs["kind"] == "exact", "doc_id"].tolist()
        unique = docs.loc[docs["kind"] == "unique", "doc_id"].tolist()
        self.recall = sum(d in dec for d in exact) / len(exact) if exact else 1.0
        check(self.recall == 1.0, f"MinHash store flagged {self.recall:.4f} of the planted exact copies")
        check(not any(d in dec for d in unique), "MinHash store dropped a unique doc")
        check(all(d in sub and sub[d][1] == 0 for d in exact),
              "substring store kept tokens of a planted exact copy")
        check(all(d in sub and sub[d][0] == 0 for d in unique),
              "substring store marked a unique doc's windows duplicated")
        in_bytes = int(docs["text"].str.len().sum())
        stored = sum(os.path.getsize(f) for f in parquet_files(self.dstore.base, self.sstore.base))
        self.bytes_ratio = stored / in_bytes

    def layers(self) -> dict:
        secs, counted = self.wl.secs, self.wl.counted
        return {
            "curation.store_init_s": secs("curation.init"),
            "curation.epoch_s": secs("curation.epoch"),
            "curation.fold_s": secs("curation.fold"),
            "dedup_ingest.init_jobs": counted("dedup_ingest.init"),
            "substring_ingest.init_jobs": counted("substring_ingest.init"),
            "dedup_ingest.epoch_s": secs("dedup_ingest.epoch"),
            "dedup_ingest.epoch_jobs": counted("dedup_ingest.epoch"),
            "substring_ingest.epoch_s": secs("substring_ingest.epoch"),
            "substring_ingest.epoch_jobs": counted("substring_ingest.epoch"),
            "dedup_ingest.fold_s": secs("dedup_ingest.fold"),
            "dedup_ingest.fold_jobs": counted("dedup_ingest.fold"),
            "dedup_ingest.dup_recall": self.recall,
            "store.bytes_written_per_input_byte": self.bytes_ratio,
            "store.files_after_fold": float(self.files_after_fold),
        }


WORKLOADS = {w.name: w for w in (RollupDashboard, VectorServe)}
