#!/usr/bin/env python
"""Benchmark harness: runs the engine's headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "headline_queries_total", "value": N, "unit": "sec",
     "queries": {"q1_pricing_summary": sec, ...}, "sf": 0.1}

Each query is forced end-to-end with the ``noop`` sink (full plan
execution, no driver collect) — the number is engine time, not
result-transfer time.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from data_pipeline_with_big_data_stack_spark.queries import QUERIES  # noqa: E402
from data_pipeline_with_big_data_stack_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q_outer_customer_order_counts",
    "q_window_top3_orders_per_customer",
    "q_events_hourly_rollup",
    "q_events_sessionization",
    "q_druid_hourly_dashboard",
    "q_doc_quality_scores",
    "q_dedup_exact",
    "q_dedup_minhash_lsh",
    "q_dedup_ngram_jaccard",
    "q_dedup_simhash",
    "q_ann_cosine_topk",
    "q_ann_lsh_bucketed_topk",
    "q_ann_ivf_topk",
    "q_asof_purchase_to_click",
    "q_range_join_value_bands",
    "q_percentiles_by_event_type",
    "q10_returned_item_revenue",
    "q_media_frame_sample",
    # round-2 additions (new capabilities; absent from BENCH_r01)
    "q_dedup_clusters",
    "q_kmeans_embeddings",
    "q_doc_gopher_quality",
    "q_events_gapfill_locf",
    "q_media_wav_features",
    # round-3 additions
    "q_doc_sequence_packing",
    "q_doc_repeated_chunk_removal",
    "q_doc_unigram_logprob",
    "q_embed_pq_codes",
    "q_events_funnel",
    "q_events_retention_cohorts",
    "q_events_anomaly_zscore",
    "q_theta_sketch_user_sets",
    "q_rollup_incremental_maintenance",
    # round-4 additions (newly oracled grouped-map ops, the
    # constant-depth vocabulary-cached BPE tokenize, and the
    # druid-histogram-parallel dashboard aggregation)
    "q_grouped_normalize_values",
    "q_grouped_winsorize_values",
    "q_doc_tokenize_bpe",
    "q_events_value_histogram",
    # round-4 continuation: the MG frequent-items sketches (count and
    # metric-weighted) and the SemDeDup cluster-then-cosine dedup family
    "q_frequent_items_users",
    "q_frequent_items_by_value",
    "q_semdedup_embeddings",
    "q_rollup_served_daily_dashboard",
    "q_rollup_served_distinct_users",
    "q_ann_ivfpq_topk",
    # round-5 additions: the materialized (train-once/serve-many) IVF-PQ
    # index path, the exactly-once streaming maintenance loop, and the
    # single-scan funnel rewrite (2 shuffles/1 scan vs 6/6 — same oracle)
    "q_ann_ivfpq_index_search",
    "q_stream_rollup_maintenance",
    "q_events_funnel_one_pass",
    # round-6 addition: the delete/retention half of the IVF-PQ index
    # lifecycle (build → expire tombstones per-cell → serve survivors)
    "q_ann_ivfpq_index_expire",
    # round-6 addition: the trained (fasttext-style) quality classifier
    # — hashed-bigram Naive Bayes, train + score in one fixed-broadcast
    # pipeline
    "q_quality_classifier_nb",
    # round-7 additions: the reindex half of the IVF-PQ lifecycle
    # (fresh codebooks over the current corpus, one new generation),
    # its drift signal (probe-sampled recall estimate vs exact ground
    # truth), and streaming ingestion dedup against the materialized
    # signature index
    "q_ann_ivfpq_index_retrain",
    "q_ann_ivfpq_recall_monitor",
    "q_stream_dedup_ingest",
    # round-8 addition: the reader-safe generation-versioned lifecycle
    # (build → retrain → search behind an atomic _CURRENT pointer —
    # maintenance never pauses serving)
    "q_ann_ivfpq_versioned_lifecycle",
    # round-12 addition: sliding-window exact-substring dedup (the
    # suffix-array dedup re-expressed relationally; any-offset
    # duplicated spans, merged-interval removal accounting)
    "q_doc_exact_substring_dedup",
    # round-13 addition: its continuous-ingest twin (crawl shards vs
    # the accumulated window-fingerprint index, exactly-once epochs)
    "q_stream_exact_substring_dedup",
    # round-14 addition: the exact re-rank stage that closes the IVF-PQ
    # serving loop (ADC shortlist → exact cosine on shortlist rows only
    # → top-k by true similarity)
    "q_ann_ivfpq_rerank_topk",
]


def run_query(spark, name: str, sf_dir: str) -> tuple[float, float, float]:
    """(cold, best, median) seconds: the first run pays file-index/
    footer/codegen setup; the best of three warm executions is the
    steady-state latency a dashboard user sees (comparable to past
    rounds' "queries" numbers), and the median makes shared-host noise
    visible per query — a best≪median query was unlucky, a
    best≈median slow query genuinely regressed (VERDICT r4 #5)."""
    # construction is INSIDE the timer: iterative operators (connected
    # components, k-means convergence loops) run driver-coordinated
    # actions while building their result — excluding construction would
    # under-report them; for ordinary queries it adds only plan-build ms
    t0 = time.perf_counter()
    df = QUERIES[name](spark, sf_dir)
    df.write.mode("overwrite").format("noop").save()
    cold = time.perf_counter() - t0
    warm = []
    for _ in range(3):
        t0 = time.perf_counter()
        df2 = QUERIES[name](spark, sf_dir)
        df2.write.mode("overwrite").format("noop").save()
        warm.append(time.perf_counter() - t0)
    warm.sort()
    return cold, warm[0], warm[1]


def calibration_probe(spark, sf_dir: str) -> float:
    """Fixed host-speed probe: best-of-5 of a constant parquet scan +
    aggregate. Its ratio to the value recorded in a past BENCH_r*.json
    normalizes cross-round comparisons — the r3→r4 uniform ~1.25×
    drift was shared-host noise that took a manual A/B to identify;
    this makes the correction mechanical."""
    li = os.path.join(sf_dir, "lineitem.parquet")
    best = float("inf")
    for _ in range(5):
        t0 = time.perf_counter()
        spark.read.parquet(li).selectExpr(
            "sum(l_extendedprice)", "sum(l_quantity)", "count(*)"
        ).collect()
        best = min(best, time.perf_counter() - t0)
    return best


def serve_only_probes(spark, sf_dir: str) -> dict:
    """Train-once/serve-many latencies, measured on PRE-BUILT artifacts
    (VERDICT r5 split the ivfpq gate query's 5 s into train 1.2 s +
    build 7.0 s + serve 0.88 s by hand — this makes the serving-path
    number, the one that matters at 100×, a standing bench output).
    Returns best-of-3 seconds for: IVF-PQ index search over a built
    index, and a dashboard serve from a built rollup store."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from data_pipeline_with_big_data_stack_spark.operators.ann_index import (
        build_ivfpq_index,
        search_ivfpq_index,
    )
    from data_pipeline_with_big_data_stack_spark.operators.rollup_maintenance import (
        build_rollup,
        serve_rollup,
    )
    from data_pipeline_with_big_data_stack_spark.queries.vector import (
        _K_CELLS,
        _NPROBE,
        _PQ_SUB,
        N_QUERY_VECS,
        TOP_K,
        _emb,
        _km_demo_init,
        _pq_train_codebooks,
    )
    from data_pipeline_with_big_data_stack_spark.tables import load_table

    base = tempfile.mkdtemp(prefix="bench_serve_")
    out: dict[str, float] = {}
    try:
        # --- IVF-PQ: build once (untimed), serve best-of-3 ---
        e = _emb(spark, sf_dir).select("vec_id", "emb")
        cb0, cb1 = _pq_train_codebooks(e)
        coarse = _km_demo_init(e, _K_CELLS)
        idx = base + "/index"
        build_ivfpq_index(e, idx, coarse, [cb0, cb1], sub_dim=_PQ_SUB)
        probes = e.filter(F.col("vec_id") < N_QUERY_VECS).select(
            F.col("vec_id").alias("q_id"), F.col("emb").alias("q_emb")
        )
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            search_ivfpq_index(
                spark, idx, probes, nprobe=_NPROBE, k=TOP_K
            ).write.mode("overwrite").format("noop").save()
            best = min(best, time.perf_counter() - t0)
        out["ivfpq_serve_sec"] = round(best, 3)

        # --- component breakdown of the serve path (VERDICT r14 #5):
        # ivfpq_serve_sec is the engine's only bar-adjacent metric, so
        # attribute it — sidecar/manifest resolution (the two codebook
        # table reads incl. directory listing), driver-side plan
        # construction (search_ivfpq_index up to the returned DF), and
        # cluster execution (the partition-pruned codes scan + ADC
        # rank). Best-of-3 each; plan + exec ≈ serve, so drift shows
        # WHERE it landed instead of only that it happened. ---
        try:
            from data_pipeline_with_big_data_stack_spark.operators import fsio, segman
            from data_pipeline_with_big_data_stack_spark.operators.ann_index import (
                _COARSE_DDL,
                _PQ_DDL,
            )

            comp: dict[str, float] = {}
            b = float("inf")
            for _ in range(3):
                t0 = time.perf_counter()
                fs = fsio.Fs(spark, idx)
                segman.read_table(spark, fs, idx + "_codebook", schema=_COARSE_DDL).collect()
                segman.read_table(spark, fs, idx + "_pq_codebook", schema=_PQ_DDL).collect()
                b = min(b, time.perf_counter() - t0)
            comp["sidecar_read_sec"] = round(b, 3)
            bp = be = float("inf")
            for _ in range(3):
                t0 = time.perf_counter()
                df = search_ivfpq_index(
                    spark, idx, probes, nprobe=_NPROBE, k=TOP_K
                )
                bp = min(bp, time.perf_counter() - t0)
                t0 = time.perf_counter()
                df.write.mode("overwrite").format("noop").save()
                be = min(be, time.perf_counter() - t0)
            comp["plan_build_sec"] = round(bp, 3)
            comp["execute_sec"] = round(be, 3)
            out["ivfpq_serve_components"] = comp
        except Exception as exc:  # noqa: BLE001 - breakdown must not
            # cost the metric, but its absence must be attributable
            # (same pattern as fold_carry_error)
            out["ivfpq_serve_components_error"] = (
                f"{type(exc).__name__}: {exc}"[:200]
            )

        # --- rollup store: build once (untimed), dashboard serve best-of-3 ---
        store = base + "/rollup"
        build_rollup(load_table(spark, sf_dir, "events"), store)
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            serve_rollup(spark, store, grain="day").write.mode(
                "overwrite"
            ).format("noop").save()
            best = min(best, time.perf_counter() - t0)
        out["rollup_serve_sec"] = round(best, 3)

        # --- NB classifier: train once (untimed), score best-of-3 ---
        from data_pipeline_with_big_data_stack_spark.queries.curation import (
            nb_score_documents,
            nb_train_quality_model,
        )
        from data_pipeline_with_big_data_stack_spark.queries.textops import _docs

        d = _docs(spark, sf_dir, rebalance=True)
        model = nb_train_quality_model(d)  # materialized — frozen
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            nb_score_documents(model, d).write.mode("overwrite").format(
                "noop"
            ).save()
            best = min(best, time.perf_counter() - t0)
        out["nb_serve_sec"] = round(best, 3)

        # --- streaming dedup ingest: accumulate 3 of 4 id-ordered
        # chunks into the signature index/doc store (untimed), then time
        # ONE incremental micro-batch against the pre-built state — the
        # 100×-relevant per-batch ingest cost, not the build-everything
        # gate number. Re-timing replays the SAME epoch id: the sinks
        # are per-epoch overwrite partitions, so each run is an
        # idempotent replay of an identical batch. ---
        from data_pipeline_with_big_data_stack_spark.operators.dedup_ingest import (
            dedup_ingest_batch,
            init_dedup_ingest_store,
        )
        from data_pipeline_with_big_data_stack_spark.queries.textops import (
            _LSH_MAX_BUCKET,
        )

        docs = _docs(spark, sf_dir).select("doc_id", "text")
        lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).head()
        span = max(1, hi - lo + 1)
        chunks = [
            docs.filter(
                (F.col("doc_id") >= lo + span * i // 4)
                & (F.col("doc_id") < lo + span * (i + 1) // 4)
            )
            for i in range(4)
        ]
        dstore = init_dedup_ingest_store(spark, base + "/dedup")
        for i in range(3):
            dedup_ingest_batch(chunks[i], i, dstore, max_bucket=_LSH_MAX_BUCKET)
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            dedup_ingest_batch(chunks[3], 3, dstore, max_bucket=_LSH_MAX_BUCKET)
            best = min(best, time.perf_counter() - t0)
        out["dedup_ingest_batch_sec"] = round(best, 3)

        # --- TRICKLE-regime dedup ingest (VERDICT r10 #3): a SMALL
        # batch (touched buckets ≪ n_bkt=64) against the accumulated
        # corpus — the steady-state regime the bucket pruning exists
        # for (the gate metric above touches every bucket and PAYS for
        # prunability). Mirrors tests/test_scale_ratios.py's 1×-vs-4×
        # shape: the same 4-doc batch is timed against a quarter-corpus
        # store and the full-corpus store; `dedup_trickle_batch_sec` is
        # the full-store latency and `dedup_trickle_state_ratio` =
        # full/quarter. Honest reading: pruning bounds the scanned
        # FRACTION of the store (touched/n_bkt), not its growth — even
        # pruned, touched-bucket bytes grow with the corpus, and at
        # this fixture scale the per-batch fixed floor dominates both
        # sides — so the prune evidence is the PAIR: a ratio far below
        # the 4× data ratio plus a flat dedup_trickle_batch_sec across
        # rounds. A regression to store-wide rescans (r8's bug class)
        # shows as both numbers climbing. Same blessed idempotent
        # same-eid replay for best-of-3. ---
        # materialize the 4-row batch (bounded collect): a lazy
        # orderBy().limit() plan would re-sort the corpus on every one
        # of the batch's several evaluations and time the sort, not the
        # ingest
        tr_rows = [
            (int(hi) + 1 + j, r["text"])
            for j, r in enumerate(docs.orderBy("doc_id").limit(4).collect())
        ]
        trickle = spark.createDataFrame(tr_rows, "doc_id long, text string")
        # a SECOND trickle with ids above the first: the fold probes
        # below ingest one more epoch after the trickle epoch, and the
        # enforced monotone-ingest watermark (VERDICT r14 #1) refuses
        # re-ingesting the same ids at a later epoch
        trickle2 = spark.createDataFrame(
            [(i + 4, t) for i, t in tr_rows], "doc_id long, text string"
        )

        def trickle_sec(accumulated, name):
            st = init_dedup_ingest_store(spark, base + "/" + name, n_bkt=64)
            dedup_ingest_batch(accumulated, 0, st, max_bucket=_LSH_MAX_BUCKET)
            best = float("inf")
            for _ in range(3):
                t0 = time.perf_counter()
                dedup_ingest_batch(trickle, 1, st, max_bucket=_LSH_MAX_BUCKET)
                best = min(best, time.perf_counter() - t0)
            return best, st

        t_quarter, _st1 = trickle_sec(chunks[0], "dedup_trk1")
        t_full, st4 = trickle_sec(docs, "dedup_trk4")
        out["dedup_trickle_batch_sec"] = round(t_full, 3)
        out["dedup_trickle_state_ratio"] = round(t_full / t_quarter, 2)

        # --- carry cost of the store maintenance protocol (VERDICT r11
        # #1 done-criterion): run a full fold, one more trickle epoch,
        # then an INCREMENTAL fold — the step that CARRIES the folded
        # base across generations, by manifest reference — and report
        # its latency. ---
        try:
            from data_pipeline_with_big_data_stack_spark.operators.dedup_ingest import (
                compact_dedup_ingest_store,
            )

            compact_dedup_ingest_store(spark, st4, 1 << 30)  # full fold base
            dedup_ingest_batch(trickle2, 2, st4, max_bucket=_LSH_MAX_BUCKET)
            t0 = time.perf_counter()
            compact_dedup_ingest_store(spark, st4, 1 << 30, full=False)
            out["dedup_incr_fold_sec"] = round(time.perf_counter() - t0, 3)
        except Exception as exc:  # noqa: BLE001 - isolated: a fold-probe
            # failure must not erase the six standing serve metrics
            # already in `out` (the round-2 "one crasher erased the
            # whole block" class)
            out["fold_carry_error"] = f"{type(exc).__name__}: {exc}"[:200]

        # --- substring-ingest store maintenance (VERDICT r13 #1 done
        # criterion: the bench's fold metrics cover BOTH epoch-store
        # layouts). Same shape as the dedup probes above: accumulate 3
        # of the 4 id-ordered chunks into the window-fingerprint index
        # (untimed), time ONE incremental micro-batch (idempotent
        # same-eid replay for best-of-3), then a full fold, one trickle
        # epoch, and the INCREMENTAL fold. ---
        try:
            from data_pipeline_with_big_data_stack_spark.operators.substring_ingest import (
                compact_substring_ingest_store,
                init_substring_store,
                substring_ingest_batch,
            )

            sstore = init_substring_store(spark, base + "/substr")
            for i in range(3):
                substring_ingest_batch(chunks[i], i, sstore)
            best = float("inf")
            for _ in range(3):
                t0 = time.perf_counter()
                substring_ingest_batch(chunks[3], 3, sstore)
                best = min(best, time.perf_counter() - t0)
            out["substring_ingest_batch_sec"] = round(best, 3)
            compact_substring_ingest_store(spark, sstore, 1 << 30)  # full base
            substring_ingest_batch(trickle, 4, sstore)
            t0 = time.perf_counter()
            compact_substring_ingest_store(spark, sstore, 1 << 30, full=False)
            out["substring_incr_fold_sec"] = round(time.perf_counter() - t0, 3)
        except Exception as exc:  # noqa: BLE001 - isolated, as above
            out["substring_fold_error"] = f"{type(exc).__name__}: {exc}"[:200]
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return out


def ingest_throughput(spark, n_rows: int = 1_000_000) -> float:
    """GOES-shaped ingest rows/s (BASELINE: Druid claims 100K+ events/s):
    synthesize n rows, run the full spec pipeline (posix-ts parse, typed
    dims, minute floor, date partition columns), write parquet."""
    import shutil
    import tempfile

    from data_pipeline_with_big_data_stack_spark.ingest import compile_transform, with_partition_columns
    from data_pipeline_with_big_data_stack_spark.schemas import GOES_SATELLITE
    from data_pipeline_with_big_data_stack_spark.sources.generators import goes_sample_source

    src = goes_sample_source(spark, n=n_rows, seed=11, cadence_seconds=1)
    plan = with_partition_columns(
        GOES_SATELLITE, compile_transform(GOES_SATELLITE, src)
    )
    out = tempfile.mkdtemp(prefix="bench_ingest_")
    try:
        # best of two writes: the first pays codegen/committer warmup and
        # can swing ±25%; steady-state throughput is the comparable figure
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            plan.write.mode("overwrite").partitionBy("__date").parquet(out)
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return n_rows / best


_LINE_CAP = 1900  # the driver tail-captures ~2,000 chars; keep margin


def bench_sf_dir() -> str:
    """The scale dir this bench runs at — the ONE definition; scale-
    pinned tests (tests/conftest.SF_BENCH) import it so they track the
    bench if the default ever moves."""
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def compact_line(payload: dict) -> str:
    """Render the driver-facing JSON line, guaranteed under ``_LINE_CAP``.

    Last-resort truncation order when the line runs long: (1) drop
    ``queries`` (the per-query timings live in BENCH_DETAIL.json), then
    (2) bound the ``errors`` name list to a prefix plus an ``errors_n``
    total (full messages also live in BENCH_DETAIL.json), then (3) keep
    only the core totals (value / cold / ingest / calibration / counts).
    The invariant ``tests/test_bench_contract.py`` pins: the line is
    ALWAYS parseable under the cap and the core totals always survive —
    even when every headline query errors at once or future fields
    bloat the payload.
    """
    line = json.dumps(payload)
    if len(line) <= _LINE_CAP:
        return line
    payload = dict(payload)
    payload["queries"] = {}
    line = json.dumps(payload)
    if len(line) <= _LINE_CAP:
        return line
    names = list(payload.get("errors") or [])
    if names:
        payload["errors_n"] = len(names)
        payload["errors"] = names
        while names and len(json.dumps(payload)) > _LINE_CAP:
            del names[-5:]
        if not names:
            payload.pop("errors", None)
        line = json.dumps(payload)
        if len(line) <= _LINE_CAP:
            return line
    # final fallback (a wide no-errors payload, or one whose fixed
    # fields alone exceed the cap): keep only the core totals — a
    # mid-JSON tail truncation on the driver side is the one outcome
    # this helper exists to prevent
    core = {
        k: payload[k]
        for k in (
            "metric",
            "value",
            "unit",
            "sf",
            "cold_total_sec",
            "ingest_rows_per_sec",
            "queries_count",
            "calibration_sec",
            "errors_n",
            "detail_file",
        )
        if k in payload
    }
    return json.dumps(core)


def main() -> None:
    sf_dir = bench_sf_dir()
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf"))
    except ValueError:
        sf = -1.0
    spark = get_spark(app_name="data_pipeline_with_big_data_stack_spark-bench")

    # Warm up the JVM/codegen and parquet footer cache with a trivial scan.
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()

    # Crash-proof per query: one broken query must never erase the whole
    # bench line (round 2 lost every number to a single crasher). Failures
    # are reported under "errors" and excluded from the totals; the JSON
    # line always prints and the process always exits 0.
    times: dict[str, float] = {}
    medians: dict[str, float] = {}
    cold: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in HEADLINE:
        try:
            c, s, med = run_query(spark, name, sf_dir)
        except Exception as exc:  # noqa: BLE001 - report, don't die
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
            print(f"[bench] {name} FAILED: {errors[name]}", file=sys.stderr)
            continue
        cold[name] = round(c, 3)
        times[name] = round(s, 3)
        medians[name] = round(med, 3)

    total = round(sum(times.values()), 3)
    try:
        calibration = round(calibration_probe(spark, sf_dir), 4)
    except Exception as exc:  # noqa: BLE001
        errors["__calibration__"] = f"{type(exc).__name__}: {exc}"[:500]
        calibration = None
    try:
        rows_s = round(ingest_throughput(spark), 0)
    except Exception as exc:  # noqa: BLE001
        errors["__ingest__"] = f"{type(exc).__name__}: {exc}"[:500]
        print(f"[bench] ingest FAILED: {errors['__ingest__']}", file=sys.stderr)
        rows_s = None
    try:
        serve = serve_only_probes(spark, sf_dir)
    except Exception as exc:  # noqa: BLE001
        errors["__serve_probes__"] = f"{type(exc).__name__}: {exc}"[:500]
        serve = {}
    # Same-session code A/B for round-over-round movers (VERDICT r11
    # #2): re-time each >1.2x mover plus the ANN maintenance family on
    # BOTH the previous round's tree (git worktree) and this one, in
    # this session, so BENCH_DETAIL carries code-attributable ratios
    # instead of three more rounds of drift ambiguity.
    ab: dict = {}
    try:
        from tools.bench_ab import (
            pick_movers,
            previous_round_baseline,
            registry_changed,
            run_ab,
            touched_queries,
        )

        baseline = previous_round_baseline()
        if baseline is not None:
            # queries whose defining module changed since the baseline
            # commit get guaranteed A/B slots (VERDICT r13 #3)
            touched = touched_queries(
                baseline[1],
                {q: fn.__module__ for q, fn in QUERIES.items() if q in times},
            )
            ab_names = pick_movers(times, baseline[2], touched=touched)
            # same-session cold times feed the per-entry consistency
            # check (VERDICT r14 #2): a phantom ratio gets marked
            # `inconsistent` instead of reading as a code mover
            ab = run_ab(spark, sf_dir, ab_names, baseline=baseline, cold=cold)
            if isinstance(ab, dict) and "ratios" in ab:
                ab["touched_movers"] = sorted(
                    q for q in touched if q in ab["ratios"]
                )
                # registry-level (__init__.py) changes are invisible to
                # the import closure by design — disclose them so an
                # empty touched set can't be read as "nothing changed"
                # (ADVICE r14)
                ab["registry_changed"] = registry_changed(baseline[1])
        else:
            ab = {"skipped": "no previous bench snapshot"}
    except Exception as exc:  # noqa: BLE001
        errors["__ab__"] = f"{type(exc).__name__}: {exc}"[:500]
    # Opt-in order-of-magnitude probe (VERDICT r13 #8): generate an
    # ~sf1-equivalent corpus (10x the sf0.1 docs) and run the heavy
    # curation/dedup family once, recording wall secs + shuffle bytes.
    # Env-gated — it adds minutes, so it runs when a round wants the
    # anchor refreshed, not on every bench.
    scale_probe: dict = {}
    if os.environ.get("SPARK_GRAFT_SCALE_PROBE"):
        try:
            from tools.scale_probe import run_probe

            scale_probe = run_probe(spark)
        except Exception as exc:  # noqa: BLE001
            errors["__scale_probe__"] = f"{type(exc).__name__}: {exc}"[:500]
    # The driver captures only the process tail (~2000 chars): round 5's
    # full per-query line outgrew it and the driver recorded parsed=null
    # (VERDICT r5 #1). The LAST stdout line is now a compact summary —
    # totals + calibration + the 12 most expensive queries — guaranteed
    # under budget; full per-query cold/best/median detail goes to
    # BENCH_DETAIL.json next to this script.
    detail = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "cold_total_sec": round(sum(cold.values()), 3),
        "ingest_rows_per_sec": rows_s,
        "queries_median": medians,
        "queries_cold": cold,
        "calibration_sec": calibration,
        **serve,
    }
    if ab:
        detail["ab"] = ab
    if scale_probe:
        detail["scale_probe"] = scale_probe
    if errors:
        detail["errors"] = errors
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    try:
        with open(detail_path, "w") as fh:
            json.dump(detail, fh, indent=1)
    except OSError as exc:
        errors["__detail_file__"] = f"{type(exc).__name__}: {exc}"[:200]
    # top-12 most expensive, best-of-3 values (same semantic as the
    # `queries` field in every prior round's bench line)
    top = dict(
        sorted(times.items(), key=lambda kv: kv[1], reverse=True)[:12]
    )
    payload = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": top,
        # DISCLOSURE (VERDICT r15 #8): `queries` is the top-N slowest
        # only — a query leaving this dict improved out of the top-N,
        # it was NOT dropped from the bench; all per-query times are in
        # BENCH_DETAIL.json (`queries_count` of them)
        "queries_top_n_only": True,
        "sf": sf,
        "cold_total_sec": round(sum(cold.values()), 3),
        "ingest_rows_per_sec": rows_s,
        "calibration_sec": calibration,
        **serve,
        "queries_count": len(times),
        "detail_file": "BENCH_DETAIL.json",
    }
    ratios = (ab or {}).get("ratios") or {}
    if ratios:
        # summary only — per-query ab_ratio lives in BENCH_DETAIL; the
        # compact line must stay under the driver's ~2000-char tail
        payload["ab_n"] = len(ratios)
        payload["ab_max_ratio"] = max(r["ab_ratio"] for r in ratios.values())
        payload["ab_min_ratio"] = min(r["ab_ratio"] for r in ratios.values())
    if errors:
        # names only — full messages live in the detail file; a long
        # traceback here would re-break the driver's tail capture
        payload["errors"] = sorted(errors)
    print(compact_line(payload))
    try:
        spark.stop()
    except Exception:  # noqa: BLE001 - the JSON line already printed
        pass


if __name__ == "__main__":
    try:
        main()
    except Exception as exc:  # noqa: BLE001 - last-resort: still emit JSON, rc=0
        print(
            json.dumps(
                {
                    "metric": "headline_queries_total",
                    "value": None,
                    "unit": "sec",
                    "queries": {},
                    "sf": -1.0,
                    "errors": {"__fatal__": f"{type(exc).__name__}: {exc}"[:500]},
                }
            )
        )
