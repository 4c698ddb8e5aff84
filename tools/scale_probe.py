#!/usr/bin/env python
"""Order-of-magnitude scale probe (VERDICT r13 #8): the parquet
fixtures stop at sf0.1 (5,000 docs / 0.6 MB), so every linear-plan
claim above that is plan-shape argument. This probe generates an
~sf1-equivalent corpus — 10× the sf0.1 row counts, same generator
family and distributions as tools/scale_audit.py — runs the heavy
curation + substring-dedup family ONCE, and reports per-query wall
seconds plus SHUFFLE BYTES (read/write deltas from Spark's
AppStatusStore stage metrics): direct evidence the claims hold an
order of magnitude up, and a better drift anchor than kB-scale files.

Used by bench.py when ``SPARK_GRAFT_SCALE_PROBE=1`` (results land in
BENCH_DETAIL.json under ``scale_probe``); runnable standalone::

    python tools/scale_probe.py [n_docs]

Shuffle bytes are cumulative across a query's stages (AQE re-uses
nothing between the probe queries' fresh inputs), measured as a
before/after snapshot delta — concurrent Spark work in the same
session would pollute the delta, so the probe runs its queries
serially and nothing else.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# the order-of-magnitude set: the end-to-end curation pipeline, both
# exact-substring dedup forms (batch + the incremental drain WITH its
# in-drain folds), and the LSH dedup — the operators whose 100 TB story
# depends on banded/bucketed candidate generation staying linear
PROBE_QUERIES = [
    "q_curation_pipeline",
    "q_doc_exact_substring_dedup",
    "q_stream_exact_substring_dedup",
    "q_dedup_minhash_lsh",
]
N_DOCS_SF1 = 50_000  # 10x the sf0.1 fixture's 5,000 docs


def _stage_rows(spark) -> list[tuple[int, int, int]] | None:
    """(stage_id, write_bytes, read_bytes) for every stage the
    AppStatusStore currently RETAINS — the store evicts old stages past
    spark.ui.retainedStages, so whole-app sums are not delta-safe.
    Reaches through py4j privates (the 5-arg ``stageList`` overload),
    brittle across Spark minors — on ANY failure it degrades to None
    and the probe reports wall-seconds with null shuffle bytes instead
    of crashing (ADVICE r14)."""
    try:
        sc = spark.sparkContext
        store = sc._jsc.sc().statusStore()
        gw = sc._gateway
        seq = store.stageList(
            gw.jvm.java.util.ArrayList(),
            False,
            False,
            gw.new_array(gw.jvm.double, 0),
            gw.jvm.java.util.ArrayList(),
        )
        it = seq.iterator()
        out = []
        while it.hasNext():
            s = it.next()
            out.append(
                (s.stageId(), s.shuffleWriteBytes(), s.shuffleReadBytes())
            )
        return out
    except Exception:  # noqa: BLE001 - internal-API shift → degrade
        return None


def max_stage_id(spark) -> int | None:
    """High-water stage id — the eviction-safe interval marker (stage
    ids are monotonic, so 'stages run since' = ids above the mark).
    None when the status store is unreachable — the mark must stay
    distinguishable from -1 ('no stages yet'), or a failed mark
    followed by a successful snapshot would sum the WHOLE session's
    stages into one step's delta (code-review r15)."""
    rows = _stage_rows(spark)
    if rows is None:
        return None
    return max((sid for sid, _w, _r in rows), default=-1)


def shuffle_since(
    spark, after_stage_id: int | None
) -> tuple[int | None, int | None]:
    """(write_bytes, read_bytes) summed over stages with id >
    ``after_stage_id``; (None, None) when the status store is
    unreachable NOW or was at mark time (``after_stage_id`` None) —
    the probe still reports wall seconds. Id-based rather
    than a whole-app before/after sum: in a long-lived session (the
    bench's, after the 150+-query headline pass) the status store is
    saturated and every new stage EVICTS an old one, so a sum delta
    under-counts or goes negative; new-id stages are always retained
    long enough to read here because nothing else runs between a probe
    query and its snapshot."""
    rows = _stage_rows(spark)
    if rows is None or after_stage_id is None:
        return None, None
    w = r = 0
    for sid, sw, sr in rows:
        if sid > after_stage_id:
            w += sw
            r += sr
    return w, r


def _snap(sec: float, w: int | None, r: int | None, **extra) -> dict:
    """One probe step's metrics row — the single place the None-guarded
    degradation shape lives (four call sites; code-review r15)."""
    return {
        "sec": round(sec, 3),
        "shuffle_write_bytes": None if w is None else int(w),
        "shuffle_read_bytes": None if r is None else int(r),
        **extra,
    }


def gen_corpus(n_docs: int) -> str:
    """A fresh sf1-equivalent dataset dir (documents + the small events/
    embeddings side tables some probe queries join)."""
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import scale_audit

    d = tempfile.mkdtemp(prefix="scale_probe_sf1_")
    # events/vecs scaled with docs (same ratios as the audit's twins)
    scale_audit.gen(d, n_events=20 * n_docs, n_docs=n_docs, n_vecs=2 * n_docs)
    return d


def run_probe(spark, n_docs: int = N_DOCS_SF1) -> dict:
    """One pass over PROBE_QUERIES at the generated scale. Wall seconds
    include plan construction (iterative operators run driver actions
    while building); shuffle bytes are the app-level stage-metric delta
    around each query's single execution."""
    import shutil

    from data_pipeline_with_big_data_stack_spark.queries import QUERIES

    d = gen_corpus(n_docs)
    out: dict = {"n_docs": n_docs, "queries": {}}
    try:
        for name in PROBE_QUERIES:
            try:
                mark = max_stage_id(spark)
                t0 = time.perf_counter()
                QUERIES[name](spark, d).write.mode("overwrite").format(
                    "noop"
                ).save()
                sec = time.perf_counter() - t0
                w, r = shuffle_since(spark, mark)
                out["queries"][name] = _snap(sec, w, r)
            except Exception as exc:  # noqa: BLE001 - isolate per query
                out["queries"][name] = {
                    "error": f"{type(exc).__name__}: {exc}"[:200]
                }
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return out


# --------------------------------------------------------------------------
# ANN family probe (round 15, VERDICT r14 #4): the IVF-PQ family is the
# most expensive headline set and its 100 TB story previously rested on
# plan pins at the 5k-vector fixture. Probe the materialized-index
# lifecycle — codebook-train + build, search, retrain — at 10× and 40×
# vectors, recording shuffle bytes AND the search's partition-prune
# file counts (executed-plan ``numFiles`` vs the index's total files):
# build/retrain bytes should grow ~linearly with the corpus, search
# files-read should track nprobe/n_cells of the index, not all of it.
# --------------------------------------------------------------------------
ANN_SCALES = (50_000, 200_000)  # 10× / 40× the sf0.1 fixture's 5k vectors


def _files_read(df) -> int:
    """Executed-plan scan metric (same device as
    tests/test_dedup_index._num_files_read): files the query actually
    listed-and-read — partition pruning happens at listing, so a pruned
    scan reads fewer files than exist."""
    df.collect()
    leaves = df._jdf.queryExecution().executedPlan().collectLeaves()
    n = 0
    for i in range(leaves.size()):
        m = leaves.apply(i).metrics()
        if m.contains("numFiles"):
            n += m.apply("numFiles").value()
    return n


def _parquet_files_under(root: str) -> int:
    n = 0
    for dirpath, _dirs, files in os.walk(root):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


def run_ann_probe(spark, scales: tuple[int, ...] = ANN_SCALES) -> dict:
    """IVF-PQ lifecycle at each vector scale: ``build`` (codebook train
    + index build — one unit, matching the gate queries' replay shape),
    ``search`` (fixed 5-probe batch, nprobe=2 of 8 cells — wall secs,
    shuffle bytes, files read vs index total), ``retrain`` (O(corpus)
    by design — the linearity claim under test). All three run on a
    versioned index root; ``index_files_total`` counts the live
    generation's files."""
    import shutil

    from pyspark.sql import functions as F

    from data_pipeline_with_big_data_stack_spark.operators.ann_index_versioned import (
        build_ivfpq_versioned,
        current_index_path,
        retrain_ivfpq_versioned,
        search_ivfpq_versioned,
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

    tools_dir = os.path.dirname(os.path.abspath(__file__))
    if tools_dir not in sys.path:  # idempotent — repeated probes must
        sys.path.insert(0, tools_dir)  # not stack path entries
    import scale_audit

    out: dict = {"scales": {}}
    for n_vecs in scales:
        d = tempfile.mkdtemp(prefix=f"ann_probe_{n_vecs}_")
        steps: dict = {}
        out["scales"][str(n_vecs)] = steps
        try:
            # docs/events are side tables here — keep them tiny
            scale_audit.gen(d, n_events=2_000, n_docs=200, n_vecs=n_vecs)
            root = os.path.join(d, "ivfpq", "root")
            e = _emb(spark, d).select("vec_id", "emb")

            mark = max_stage_id(spark)
            t0 = time.perf_counter()
            cb0, cb1 = _pq_train_codebooks(e)
            coarse = _km_demo_init(e, _K_CELLS)
            build_ivfpq_versioned(e, root, coarse, [cb0, cb1], sub_dim=_PQ_SUB)
            w, r = shuffle_since(spark, mark)
            steps["build"] = _snap(time.perf_counter() - t0, w, r)

            probes = e.filter(F.col("vec_id") < N_QUERY_VECS).select(
                F.col("vec_id").alias("q_id"), F.col("emb").alias("q_emb")
            )
            mark = max_stage_id(spark)
            t0 = time.perf_counter()
            res = search_ivfpq_versioned(
                spark, root, probes, nprobe=_NPROBE, k=TOP_K
            )
            files_read = _files_read(res)  # collects + reads plan metrics
            w, r = shuffle_since(spark, mark)
            steps["search"] = _snap(
                time.perf_counter() - t0,
                w,
                r,
                files_read=int(files_read),
                index_files_total=_parquet_files_under(current_index_path(root)),
            )

            mark = max_stage_id(spark)
            t0 = time.perf_counter()
            retrain_ivfpq_versioned(spark, root, e)
            w, r = shuffle_since(spark, mark)
            steps["retrain"] = _snap(time.perf_counter() - t0, w, r)
        except Exception as exc:  # noqa: BLE001 - isolate per scale
            steps["error"] = f"{type(exc).__name__}: {exc}"[:200]
        finally:
            shutil.rmtree(d, ignore_errors=True)
    return out


TRAINER_SCALES = (20_000, 80_000)  # 10x / 40x the sf0.1 fixture's 2k vectors


def run_trainer_probe(spark, scales: tuple[int, ...] = TRAINER_SCALES) -> dict:
    """Fused multi-codebook trainer vs the pre-fusion per-slice chains
    at order-of-magnitude vector scales (VERDICT r15 #3): wall secs,
    shuffle bytes and stage counts per decade for BOTH shapes. The r15
    claim — each fused-away chain is one fewer full-corpus pass per
    lloyd round — must show as the legacy shape's byte/stage curve
    sitting a constant factor ABOVE the fused one at every scale, not
    as an sf0.1 job count. Values: the two shapes are bit-identical per
    codebook (tests/test_kmeans_fused.py), so this measures shape only."""
    import shutil

    from pyspark.sql import functions as F

    from data_pipeline_with_big_data_stack_spark.operators.ann_index import (
        _seed_codebook,
        train_ivfpq_codebooks,
    )
    from data_pipeline_with_big_data_stack_spark.operators.kmeans import (
        lloyd_kmeans,
    )
    from data_pipeline_with_big_data_stack_spark.queries.vector import (
        _K_CELLS,
        _PQ_K,
        _PQ_SUB,
        _emb,
    )
    from data_pipeline_with_big_data_stack_spark.session import materialize

    tools_dir = os.path.dirname(os.path.abspath(__file__))
    if tools_dir not in sys.path:
        sys.path.insert(0, tools_dir)
    import scale_audit

    n_sub = 2
    out: dict = {"scales": {}}
    for n_vecs in scales:
        d = tempfile.mkdtemp(prefix=f"trainer_probe_{n_vecs}_")
        steps: dict = {}
        out["scales"][str(n_vecs)] = steps
        try:
            scale_audit.gen(d, n_events=2_000, n_docs=200, n_vecs=n_vecs)
            e = _emb(spark, d).select("vec_id", "emb")

            mark = max_stage_id(spark)
            t0 = time.perf_counter()
            train_ivfpq_codebooks(e, _K_CELLS, _PQ_K, _PQ_SUB, n_sub)
            w, r = shuffle_since(spark, mark)
            rows = _stage_rows(spark)
            n_st = (
                None
                if (rows is None or mark is None)
                else sum(1 for sid, _w, _r in rows if sid > mark)
            )
            steps["fused"] = _snap(time.perf_counter() - t0, w, r, stages=n_st)

            # the pre-fusion shape: one md5 seed ranking + one lloyd
            # chain + one materialization PER codebook (the r14 tree's
            # train_ivfpq_codebooks, reconstructed from the same
            # primitives — _seed_codebook and lloyd_kmeans still back
            # the equivalence tests)
            mark = max_stage_id(spark)
            t0 = time.perf_counter()
            slices = [(None, None)] + [
                (m * _PQ_SUB + 1, _PQ_SUB) for m in range(n_sub)
            ]
            ks = [_K_CELLS] + [_PQ_K] * n_sub
            for k, (off, ln) in zip(ks, slices):
                v = (
                    e
                    if off is None
                    else e.select(
                        "vec_id", F.slice("emb", off, ln).alias("emb")
                    )
                )
                _assigned, cb = lloyd_kmeans(v, _seed_codebook(v, k), iters=2)
                materialize(cb)
            w, r = shuffle_since(spark, mark)
            rows = _stage_rows(spark)
            n_st = (
                None
                if (rows is None or mark is None)
                else sum(1 for sid, _w, _r in rows if sid > mark)
            )
            steps["per_slice_legacy"] = _snap(
                time.perf_counter() - t0, w, r, stages=n_st
            )
        except Exception as exc:  # noqa: BLE001 - isolate per scale
            steps["error"] = f"{type(exc).__name__}: {exc}"[:200]
        finally:
            shutil.rmtree(d, ignore_errors=True)
    return out


DRAIN_SCALES = (5_000, 50_000)  # 1x (sf0.1) / 10x docs; pass 200000 for 40x


def run_drain_probe(spark, scales: tuple[int, ...] = DRAIN_SCALES) -> dict:
    """Both streaming dedup drains at order-of-magnitude doc scales
    (VERDICT r15 #3): per decade — drain wall secs, shuffle bytes,
    stage count, and the bytes of ONE incremental fold after one more
    trickle epoch (the sub-linear maintenance claim: an incremental
    fold rewrites O(data since the last fold), so its bytes must stay
    ~flat while the store grows 10x/40x; carried partitions move by
    manifest reference)."""
    import shutil

    import glob

    from data_pipeline_with_big_data_stack_spark.operators.dedup_ingest import (
        compact_dedup_ingest_store,
        init_dedup_ingest_store,
        run_dedup_ingest_stream,
        stage_ordered_chunks,
    )
    from data_pipeline_with_big_data_stack_spark.operators.substring_ingest import (
        compact_substring_ingest_store,
        init_substring_store,
        run_substring_ingest_stream,
    )
    from data_pipeline_with_big_data_stack_spark.queries.textops import (
        _LSH_MAX_BUCKET,
    )

    tools_dir = os.path.dirname(os.path.abspath(__file__))
    if tools_dir not in sys.path:
        sys.path.insert(0, tools_dir)
    import scale_audit

    out: dict = {"scales": {}}
    for n_docs in scales:
        d = tempfile.mkdtemp(prefix=f"drain_probe_{n_docs}_")
        steps: dict = {}
        out["scales"][str(n_docs)] = steps
        try:
            scale_audit.gen(d, n_events=2_000, n_docs=n_docs, n_vecs=200)
            docs = spark.read.parquet(os.path.join(d, "documents.parquet")).select(
                "doc_id", "text"
            )
            hi = docs.agg({"doc_id": "max"}).head()[0]
            trickle = spark.createDataFrame(
                [(int(hi) + 1 + j, f"probe doc tail {j} alpha beta gamma delta epsilon zeta eta theta") for j in range(4)],
                "doc_id long, text string",
            )
            for fam, init, run, compact in (
                (
                    "minhash_drain",
                    lambda b: init_dedup_ingest_store(spark, b),
                    lambda src, st, ce: run_dedup_ingest_stream(
                        spark, src, st, max_bucket=_LSH_MAX_BUCKET,
                        compact_every=ce,
                    ),
                    lambda st: compact_dedup_ingest_store(
                        spark, st, full=False
                    ),
                ),
                (
                    "substring_drain",
                    lambda b: init_substring_store(spark, b),
                    lambda src, st, ce: run_substring_ingest_stream(
                        spark, src, st, compact_every=ce
                    ),
                    lambda st: compact_substring_ingest_store(
                        spark, st, full=False
                    ),
                ),
            ):
                base, src = stage_ordered_chunks(spark, docs, n_chunks=4)
                store = init(os.path.join(base, "store"))
                mark = max_stage_id(spark)
                t0 = time.perf_counter()
                run(src, store, 2)
                w, r = shuffle_since(spark, mark)
                rows = _stage_rows(spark)
                n_st = (
                    None
                    if (rows is None or mark is None)
                    else sum(1 for sid, _w, _r in rows if sid > mark)
                )
                entry = _snap(time.perf_counter() - t0, w, r, stages=n_st)
                # fold through the whole drained corpus (untimed), then
                # one more trickle epoch THROUGH THE STREAM (a 5th
                # source file with a later mtime; the resumed drain
                # processes exactly it — direct calls on a stream-driven
                # store correctly refuse), then the MEASURED incremental
                # fold, which covers ONLY the fixed 4-doc trickle — its
                # bytes must stay ~flat while the store grows 10x/40x
                compact(store)
                tdir = os.path.join(base, "trickle_tmp")
                trickle.coalesce(1).write.mode("overwrite").parquet(tdir)
                part = glob.glob(os.path.join(tdir, "*.parquet"))[0]
                dst = os.path.join(src, "chunk_trickle.parquet")
                os.rename(part, dst)
                os.utime(dst, (1_700_000_100, 1_700_000_100))
                run(src, store, None)
                mark = max_stage_id(spark)
                t0 = time.perf_counter()
                compact(store)
                w, r = shuffle_since(spark, mark)
                entry["incr_fold"] = _snap(time.perf_counter() - t0, w, r)
                steps[fam] = entry
                shutil.rmtree(base, ignore_errors=True)
        except Exception as exc:  # noqa: BLE001 - isolate per scale
            steps["error"] = f"{type(exc).__name__}: {exc}"[:200]
        finally:
            shutil.rmtree(d, ignore_errors=True)
    return out


def main() -> None:
    from data_pipeline_with_big_data_stack_spark.session import get_spark

    spark = get_spark(app_name="scale-probe")
    if len(sys.argv) > 1 and sys.argv[1] == "ann":
        scales = tuple(int(a) for a in sys.argv[2:]) or ANN_SCALES
        print(json.dumps(run_ann_probe(spark, scales), indent=1))
        return
    if len(sys.argv) > 1 and sys.argv[1] == "trainer":
        scales = tuple(int(a) for a in sys.argv[2:]) or TRAINER_SCALES
        print(json.dumps(run_trainer_probe(spark, scales), indent=1))
        return
    if len(sys.argv) > 1 and sys.argv[1] == "drains":
        scales = tuple(int(a) for a in sys.argv[2:]) or DRAIN_SCALES
        print(json.dumps(run_drain_probe(spark, scales), indent=1))
        return
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else N_DOCS_SF1
    print(json.dumps(run_probe(spark, n_docs), indent=1))


if __name__ == "__main__":
    main()
