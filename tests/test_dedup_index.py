"""Materialized dedup-index tests: index-then-query equals the inline
registry query; incremental append; bucket layout used."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_pipeline_with_big_data_stack_spark.operators import dedup_index
from data_pipeline_with_big_data_stack_spark.queries.textops import q_dedup_minhash_lsh, q_dedup_ngram_jaccard
from data_pipeline_with_big_data_stack_spark.tables import load_table
from tests.conftest import SF_SMOKE, reset_managed_table


@pytest.fixture(scope="module")
def index_table(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    reset_managed_table(spark, "mh_index_test")
    dedup_index.build_minhash_index(docs, "mh_index_test", n_buckets=8)
    yield "mh_index_test"
    spark.sql("DROP TABLE IF EXISTS mh_index_test")


def test_index_pairs_match_inline_query(spark, index_table):
    docs = load_table(spark, SF_SMOKE, "documents")
    via_index = {
        (r["doc_a"], r["doc_b"])
        for r in dedup_index.candidate_pairs(spark.table(index_table)).collect()
    }
    inline = {
        (r["doc_a"], r["doc_b"])
        for r in q_dedup_minhash_lsh(spark, SF_SMOKE).collect()
    }
    assert via_index == inline


def test_index_verify_matches_inline_jaccard(spark, index_table):
    docs = load_table(spark, SF_SMOKE, "documents")
    pairs = dedup_index.candidate_pairs(spark.table(index_table))
    via_index = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in dedup_index.verify_jaccard(pairs, docs).collect()
    }
    inline = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in q_dedup_ngram_jaccard(spark, SF_SMOKE).collect()
    }
    assert via_index == inline


def test_incremental_append_unions_signatures(spark, tmp_path):
    docs = load_table(spark, SF_SMOKE, "documents")
    first = docs.filter(F.col("doc_id") < 100)
    second = docs.filter(F.col("doc_id") >= 100)
    reset_managed_table(spark, "mh_index_incr")
    dedup_index.build_minhash_index(first, "mh_index_incr", n_buckets=4)
    dedup_index.build_minhash_index(
        second, "mh_index_incr", n_buckets=4, mode="append"
    )
    try:
        assert spark.table("mh_index_incr").count() == docs.count()
        # appended index yields the same pairs as a from-scratch build
        inc = {
            (r["doc_a"], r["doc_b"])
            for r in dedup_index.candidate_pairs(spark.table("mh_index_incr")).collect()
        }
        full = {
            (r["doc_a"], r["doc_b"])
            for r in dedup_index.candidate_pairs(
                dedup_index.minhash_signatures(docs)
            ).collect()
        }
        assert inc == full
    finally:
        spark.sql("DROP TABLE IF EXISTS mh_index_incr")


def test_stream_dedup_ingest_equals_batch_lowest_partner_rule(spark):
    """The streaming ingestion dedup (batch-vs-materialized-index, round
    7) must emit exactly the batch rule's rejections: a doc is a dup iff
    it Jaccard-verifies against any lower-id doc, with dup_of = the
    lowest such partner — independent of micro-batch boundaries."""
    from data_pipeline_with_big_data_stack_spark.queries import QUERIES
    from tests.conftest import SF_SMOKE

    pairs = QUERIES["q_dedup_ngram_jaccard"](spark, SF_SMOKE).collect()
    expected = {}
    for r in pairs:  # doc_a < doc_b by construction
        cur = expected.get(r.doc_b)
        if cur is None or r.doc_a < cur[0]:
            expected[r.doc_b] = (r.doc_a, r.jaccard)
    got = {
        r.doc_id: (r.dup_of, r.jaccard)
        for r in QUERIES["q_stream_dedup_ingest"](spark, SF_SMOKE).collect()
    }
    assert got == expected
    assert len(got) > 0


# ---------------------------------------------------------------------
# Round 8: exactly-once streaming dedup (per-epoch overwrite partitions
# on ALL four sinks), the per-bucket count sidecar, and small-file
# compaction of the accumulated stores.
# ---------------------------------------------------------------------
import os

from pyspark.sql import functions as _F

from data_pipeline_with_big_data_stack_spark.operators import dedup_ingest as DI


def _small_docs(spark):
    return (
        load_table(spark, SF_SMOKE, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 200)
    )


def _drain(spark, docs, **kw):
    base, src = DI.stage_ordered_chunks(spark, docs, n_chunks=4)
    store = DI.init_dedup_ingest_store(spark, base)
    DI.run_dedup_ingest_stream(spark, src, store, **kw)
    return store


@pytest.fixture(scope="module")
def ref_drain(spark):
    """One crash-free drain of ``_small_docs``, shared READ-ONLY by the
    tests that compare a crashed/folded/replayed store against it — a
    drain is deterministic, so re-draining per test only repeats the
    same four epochs."""
    return _drain(spark, _small_docs(spark))


def _snapshot(spark, store):
    out = {}
    for sink in ("decisions", "bands_idx", "counts", "docstore"):
        df = spark.read.parquet(getattr(store, sink))
        out[sink] = sorted(tuple(r) for r in df.collect())
    return out


def test_dedup_ingest_crash_retry_equals_single_run(spark, ref_drain):
    """Crash-injection: fail between a sink write and the checkpoint
    commit, restart, drain — every sink (including batch_id columns)
    must equal a crash-free single run. This is the exactly-once claim:
    a replayed epoch overwrites its own partitions and reads prior
    state partition-pruned to batch_id < eid, so retry == single run."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    docs = _small_docs(spark)
    ref = _snapshot(spark, ref_drain)

    for fail_after in ("decisions", "bands_idx", "counts", "docstore"):
        base, src = DI.stage_ordered_chunks(spark, docs, n_chunks=4)
        store = DI.init_dedup_ingest_store(spark, base)
        try:
            DI.run_dedup_ingest_stream(
                spark, src, store, fail_epoch=1, fail_after=fail_after
            )
            raise AssertionError("injected crash did not fire")
        except StreamingQueryException:
            pass
        # epoch 1's partitions may exist half-written; restart resumes
        # from the checkpoint and must replay epoch 1 idempotently
        DI.run_dedup_ingest_stream(spark, src, store)
        assert _snapshot(spark, store) == ref, f"diverged after {fail_after} crash"


def test_dedup_ingest_prior_counts_come_from_sidecar(spark):
    """Behavioral pin for the O(batch) claim: poison the counts sidecar
    for one bucket (leave the bands index untouched) and check the next
    batch's assigned ranks follow the SIDECAR value — impossible if the
    code still aggregated the accumulated bands index for prior
    occupancy."""
    import tempfile

    base = tempfile.mkdtemp(prefix="dedup_sidecar_pin_")
    store = DI.init_dedup_ingest_store(spark, base)
    b1 = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "totally unrelated words here entirely different")],
        "doc_id long, text string",
    )
    DI.dedup_ingest_batch(b1, 0, store)
    counts = spark.read.parquet(store.counts).filter("batch_id = 0")
    assert counts.count() > 0
    # poison: claim every bucket already holds 1000 prior members
    # (collect first — writing a plan that reads the dir it overwrites
    # races its own source files; rows go back into their bkt subdirs
    # because the sidecar is partitioned by the lookup-key bucket)
    by_bkt: dict[int, list] = {}
    for r in counts.drop("batch_id").collect():
        by_bkt.setdefault(r["bkt"], []).append((r["band"], r["band_key"], 1000))
    for bkt, rows in by_bkt.items():
        spark.createDataFrame(
            rows, "band int, band_key string, n long"
        ).write.mode("overwrite").parquet(
            os.path.join(store.counts, "batch_id=0", f"bkt={bkt}")
        )
    b2 = spark.createDataFrame(
        [(3, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    DI.dedup_ingest_batch(b2, 1, store, max_bucket=256)
    ep1 = spark.read.parquet(store.bands_idx).filter("batch_id = 1")
    # every bucket doc 3 shares with doc 1 claims 1000 prior members →
    # rk > 256 → capped away; sidecar-driven, so nothing survives
    assert ep1.count() == 0


def test_dedup_ingest_sidecar_consistent_with_index(spark, ref_drain):
    """After a multi-epoch drain the sidecar's running max per bucket
    equals the bands index's max rank per bucket."""
    store = ref_drain
    from_counts = (
        spark.read.parquet(store.counts)
        .groupBy("band", "band_key")
        .agg(_F.max("n").alias("n"))
    )
    from_index = (
        spark.read.parquet(store.bands_idx)
        .groupBy("band", "band_key")
        .agg(_F.max("rk").alias("n"))
    )
    assert sorted(map(tuple, from_counts.collect())) == sorted(
        map(tuple, from_index.collect())
    )


def test_compact_dedup_ingest_store_preserves_contents(spark):
    """Small-file hygiene: folding all committed epochs into the highest
    batch_id partition of a NEW generation must preserve every sink's
    rows (modulo the batch_id column) and cut the file count to the
    layout floor — O(1) for the flat decisions sink, one file per
    occupied lookup bucket for the prunable bucketed sinks."""
    from data_pipeline_with_big_data_stack_spark.operators.layout import table_files

    store = _drain(spark, _small_docs(spark))

    def rows(sink):
        df = spark.read.parquet(getattr(store, sink)).drop("batch_id")
        if sink == "counts":
            # folds collapse the cumulative sidecar to max(n) per key —
            # the only view any reader ever takes (prior_counts is a
            # max() aggregation), so identity is compared on that view
            df = df.groupBy("band", "band_key", "bkt").agg(
                _F.max("n").alias("n")
            )
        return sorted(tuple(r) for r in df.collect())

    before = {
        sink: rows(sink)
        for sink in ("decisions", "bands_idx", "counts", "docstore")
    }
    pre_files = {
        sink: len(table_files(spark, getattr(store, sink)))
        for sink in before
    }
    # bucketed sinks fold via repartitionByRange(n_tasks, bkt, salt):
    # every task writes one file per bucket it holds, and a range
    # boundary can split a bucket across two tasks — ≤ n_bkt + n_tasks
    # files (n_tasks == n_bkt at this size)
    floor = {
        "decisions": 2,
        "bands_idx": 2 * store.n_bkt,
        "counts": 2 * store.n_bkt,
        "docstore": 2 * store.n_bkt,
    }
    new_counts = DI.compact_dedup_ingest_store(spark, store)
    for sink, want in before.items():
        assert rows(sink) == want, f"{sink} contents changed by compaction"
        assert new_counts[sink] <= floor[sink], (
            f"{sink} still has {new_counts[sink]} files"
        )
        assert new_counts[sink] < pre_files[sink]


# ---------------------------------------------------------------------
# Round 10: bucket-pruned prior reads (per-batch cost must not scan the
# accumulated index — VERDICT r8 #2) and reader-safe generation-
# versioned compaction (VERDICT r8 #3).
# ---------------------------------------------------------------------
import threading

from data_pipeline_with_big_data_stack_spark.operators import generations as G


def _num_files_read(df):
    """Executed-plan scan metric: how many files the query actually
    read (partition pruning happens at file listing, so a pruned scan
    reads fewer files — a filtered-but-unpruned scan would read all)."""
    df.collect()
    leaves = df._jdf.queryExecution().executedPlan().collectLeaves()
    n = 0
    for i in range(leaves.size()):
        m = leaves.apply(i).metrics()
        if m.contains("numFiles"):
            n += m.apply("numFiles").value()
    return n


def _tiny_batch(spark, ids_texts):
    return spark.createDataFrame(ids_texts, "doc_id long, text string")


def test_prior_reads_prune_to_touched_buckets(spark, tmp_path):
    """Physical pin: a bucket-pruned prior read carries PartitionFilters
    on BOTH batch_id and the bucket column, and its numFiles scan metric
    reads only the touched buckets' files — never the whole index."""
    store = DI.init_dedup_ingest_store(spark, str(tmp_path / "st"))
    batch = _tiny_batch(
        spark, [(i, f"word{i} alpha beta gamma delta epsilon {i}") for i in range(40)]
    )
    DI.dedup_ingest_batch(batch, 0, store)
    schema = store.read_schema("bands_idx")
    pruned = DI._prior(spark, store.bands_idx, 5, "bkt", [0, 1, 2], schema=schema)
    full = DI._prior(spark, store.bands_idx, 5, schema=schema)
    n_pruned, n_full = _num_files_read(pruned), _num_files_read(full)
    assert n_pruned < n_full, f"prune read {n_pruned}/{n_full} files"
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "batch_id" in pf[0] and "bkt" in pf[0], plan


def test_batch_passes_touched_buckets_to_every_prior_read(spark, tmp_path, monkeypatch):
    """Contract pin: dedup_ingest_batch hands a bounded touched-bucket
    list to EVERY prior-state read (counts, bands index, doc store) —
    the O(touched)/never-O(accumulated) per-batch claim."""
    calls = []
    real = DI._prior

    def spy(s, path, eid, bkt_col=None, touched=None, **kw):
        calls.append(
            (os.path.basename(os.path.normpath(path)), bkt_col,
             None if touched is None else len(touched))
        )
        return real(s, path, eid, bkt_col, touched, **kw)

    monkeypatch.setattr(DI, "_prior", spy)
    store = DI.init_dedup_ingest_store(spark, str(tmp_path / "st"))
    DI.dedup_ingest_batch(
        _tiny_batch(spark, [(1, "alpha beta gamma delta epsilon zeta")]), 0, store
    )
    DI.dedup_ingest_batch(
        _tiny_batch(spark, [(2, "alpha beta gamma delta epsilon zeta")]), 1, store
    )
    by_sink = {c[0]: c for c in calls}
    assert by_sink["counts"][1] == "bkt"
    assert by_sink["bands_idx"][1] == "bkt"
    assert by_sink["docstore"][1] == "dbkt"
    for sink in ("counts", "bands_idx", "docstore"):
        n = by_sink[sink][2]
        assert n is not None and 0 < n <= store.n_bkt, (sink, n)


def test_misfiled_band_row_never_matches_because_bucketing_is_consistent(spark, tmp_path):
    """The prune loses no candidate ONLY because write-side and
    read-side compute the SAME bucket function of the join key — pin
    that contract: a row physically relocated into a foreign bucket
    directory stops matching (the lookup never consults that bucket),
    while the same row in its home bucket produces the rejection."""
    import shutil

    text = "alpha beta gamma delta epsilon zeta"
    for misfile in (False, True):
        store = DI.init_dedup_ingest_store(spark, str(tmp_path / f"st{misfile}"))
        DI.dedup_ingest_batch(_tiny_batch(spark, [(1, text)]), 0, store)
        if misfile:
            # shift every epoch-0 band row to (home_bkt + 1) % n_bkt
            ep = os.path.join(store.bands_idx, "batch_id=0")
            by_wrong: dict[int, list] = {}
            for r in spark.read.parquet(ep).collect():
                by_wrong.setdefault((r["bkt"] + 1) % store.n_bkt, []).append(
                    (r["doc_id"], r["band"], r["band_key"], r["rk"])
                )
            shutil.rmtree(ep)
            for wrong, rows in by_wrong.items():
                spark.createDataFrame(
                    rows, "doc_id long, band int, band_key string, rk long"
                ).write.parquet(os.path.join(ep, f"bkt={wrong}"))
        DI.dedup_ingest_batch(_tiny_batch(spark, [(2, text)]), 1, store)
        dec = (
            spark.read.parquet(store.decisions)
            .filter(F.col("doc_id") == 2)
            .collect()
        )
        if misfile:
            assert dec == [], "foreign-bucket row must be invisible to the lookup"
        else:
            assert len(dec) == 1 and dec[0]["dup_of"] == 1


def test_compaction_publishes_new_generation_with_grace_predecessor(spark):
    store = _drain(spark, _small_docs(spark))
    g1 = store.current_generation()
    DI.compact_dedup_ingest_store(spark, store)
    g2 = store.current_generation()
    assert g2 > g1
    gens = G.list_generations(store.base)
    assert set(gens) == {g1, g2}, "GC must keep current + grace predecessor"
    # the grace predecessor still serves the pre-compaction tree intact
    old_dec = spark.read.parquet(os.path.join(store.base, g1, "decisions"))
    new_dec = spark.read.parquet(store.decisions)
    assert sorted(map(tuple, old_dec.drop("batch_id").collect())) == sorted(
        map(tuple, new_dec.drop("batch_id").collect())
    )


def test_concurrent_decisions_read_during_compact_never_errors(spark):
    """THE reader-safety pin (VERDICT r8 #3 done-criterion): a serving
    loop reading decisions while the compactor publishes observes the
    same rows every time — never an error, never a missing directory."""
    store = _drain(spark, _small_docs(spark))

    def rows():
        return sorted(
            map(tuple, spark.read.parquet(store.decisions).drop("batch_id").collect())
        )

    ref = rows()
    results, errors, stop = [], [], threading.Event()

    def reader():
        while not stop.is_set():
            try:
                results.append(rows())
            except Exception as exc:  # noqa: BLE001
                errors.append(exc)
                return

    t = threading.Thread(target=reader)
    t.start()
    try:
        DI.compact_dedup_ingest_store(spark, store)
        # let the reader observe the post-publish generation too
        import time

        deadline = time.time() + 10
        while time.time() < deadline and len(results) < 3:
            time.sleep(0.2)
    finally:
        stop.set()
        t.join(timeout=60)
    assert not errors, f"reader errored during compaction: {errors[0]!r}"
    assert results and all(r == ref for r in results), (
        "compaction must be invisible to concurrent readers"
    )


def test_init_refuses_already_initialized_store(spark, tmp_path):
    """Re-initializing a live store would publish an EMPTY generation
    over the accumulated epochs (and could silently rewrite n_bkt) —
    it must raise instead."""
    base = str(tmp_path / "st")
    DI.init_dedup_ingest_store(spark, base)
    with pytest.raises(FileExistsError):
        DI.init_dedup_ingest_store(spark, base)


def test_gc_drops_small_numbered_orphan_and_keeps_published_predecessor(spark, tmp_path):
    """A crashed writer's unpublished orphan can sort BETWEEN the real
    predecessor and the new generation; GC must keep the generation
    that was actually published (the reader grace tree), never the
    orphan. (The ann-versioned test's gen-999999 orphan passed by
    lexicographic accident — 'gen-1000000' < 'gen-999999' — so this
    pins the dangerous small-numbered case.)"""
    store = _drain(spark, _small_docs(spark))
    g1 = store.current_generation()
    assert g1 == "gen-000001"
    os.makedirs(os.path.join(store.base, "gen-000002"))  # crashed writer
    DI.compact_dedup_ingest_store(spark, store)  # publishes gen-000003
    gens = G.list_generations(store.base)
    assert store.current_generation() == "gen-000003"
    assert set(gens) == {"gen-000001", "gen-000003"}, (
        "GC kept the orphan and/or deleted the published predecessor"
    )


def test_compact_after_crashed_drain_preserves_committed_state_only(spark, ref_drain):
    """The fold target must come from the CHECKPOINT's commit log: a
    drain that crashed between a sink write and the checkpoint commit
    leaves a half-written epoch dir on disk whose id Spark REUSES on
    replay — folding it would make the replay's batch_id < eid filter
    exclude all folded prior state. Compacting a crashed store and then
    resuming must equal a crash-free drain."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    docs = _small_docs(spark)
    ref_store = ref_drain
    ref_dec = sorted(
        map(tuple, spark.read.parquet(ref_store.decisions).drop("batch_id").collect())
    )

    base, src = DI.stage_ordered_chunks(spark, docs, n_chunks=4)
    store = DI.init_dedup_ingest_store(spark, base)
    try:
        DI.run_dedup_ingest_stream(
            spark, src, store, fail_epoch=1, fail_after="bands_idx"
        )
        raise AssertionError("injected crash did not fire")
    except StreamingQueryException:
        pass
    # epoch 1 is on disk but NOT in ckpt/commits — compaction must fold
    # only epoch 0; the half-written epoch-1 partition is carried BY
    # REFERENCE (zero bytes moved) so compaction stays a pure relayout:
    # the checkpoint replay's static overwrite materializes batch_id=1
    # physically, which SHADOWS the carried reference exactly as it
    # overwrote the original directory
    DI.compact_dedup_ingest_store(spark, store)
    import re

    from data_pipeline_with_big_data_stack_spark.operators import segman

    logical = segman.resolve_all(store.fs, store.bands_idx)
    parts = sorted(
        d for d in logical if re.fullmatch(r"batch_id=\d+", d)
    )
    assert parts == ["batch_id=0", "batch_id=1"], parts
    # the folded epoch is physical, the in-flight carry is a reference
    # into the pre-compaction generation
    physical = sorted(
        d for d in os.listdir(store.bands_idx) if re.fullmatch(r"batch_id=\d+", d)
    )
    assert physical == ["batch_id=0"], physical
    assert not logical["batch_id=1"][0].startswith(store.bands_idx), (
        "in-flight epoch must be carried by reference, not copied"
    )
    DI.run_dedup_ingest_stream(spark, src, store)
    got = sorted(
        map(tuple, store.read(spark, "decisions").drop("batch_id").collect())
    )
    assert got == ref_dec


def test_compact_folds_everything_on_direct_driven_store(spark, tmp_path):
    """The checkpoint-less branch (ckpt_hi=None — the bench's store
    shape): every on-disk epoch is committed by definition, so the
    compactor must fold ALL of them into one partition and lose
    nothing."""
    store = DI.init_dedup_ingest_store(spark, str(tmp_path / "direct"))
    # contiguous id-range quarters: direct epochs honor the enforced
    # monotone-ingest contract (the persisted doc-id watermark)
    docs = sorted(_small_docs(spark).collect(), key=lambda r: r.doc_id)
    n = len(docs)
    quarters = [docs[n * i // 4 : n * (i + 1) // 4] for i in range(4)]
    for e, rows in enumerate(quarters):
        DI.dedup_ingest_batch(
            spark.createDataFrame(rows, "doc_id long, text string"), e, store
        )
    def rows(s):
        df = spark.read.parquet(getattr(store, s)).drop("batch_id")
        if s == "counts":  # fold collapses the sidecar to its max view
            df = df.groupBy("band", "band_key", "bkt").agg(
                _F.max("n").alias("n")
            )
        return sorted(map(tuple, df.collect()))

    before = {
        s: rows(s) for s in ("decisions", "bands_idx", "counts", "docstore")
    }
    DI.compact_dedup_ingest_store(spark, store)
    import re

    for s, want in before.items():
        assert rows(s) == want, f"{s} changed by direct-store compaction"
        parts = [
            d
            for d in os.listdir(getattr(store, s))
            if re.fullmatch(r"batch_id=\d+", d)
        ]
        assert parts == ["batch_id=3"], (s, parts)


def test_stream_refused_on_direct_driven_store(spark, tmp_path):
    """Mirror of the direct-batch refusal: a fresh drain on a store
    holding direct-call epochs would renumber from 0 and statically
    overwrite them one id at a time — it must raise instead."""
    store = DI.init_dedup_ingest_store(spark, str(tmp_path / "st"))
    DI.dedup_ingest_batch(
        spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon zeta")],
            "doc_id long, text string",
        ),
        0,
        store,
    )
    src = str(tmp_path / "src")
    os.makedirs(src)
    with pytest.raises(RuntimeError, match="direct-driven"):
        DI.run_dedup_ingest_stream(spark, src, store)


def test_direct_batch_refused_on_stream_driven_store(spark):
    """One writer sequence per store: a direct dedup_ingest_batch call
    against a store whose epochs are numbered by a streaming checkpoint
    must raise — its epoch id would either be reused (and statically
    overwritten) by a resumed drain, or sit above every future stream
    eid and be invisible to all batch_id < eid prior reads. Both are
    silent data loss; the refusal is loud."""
    store = _drain(spark, _small_docs(spark))  # stream-committed 0..3
    extra = spark.createDataFrame(
        [(9_000_001, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    with pytest.raises(RuntimeError, match="stream-driven"):
        DI.dedup_ingest_batch(extra, 4, store)


def test_next_gen_survives_six_digit_rollover(spark, tmp_path):
    """gen-1000000 sorts lexicographically BEFORE gen-999999; next_gen
    must derive numerically or the writer after the rollover is handed
    the LIVE generation's name and corrupts it in place."""
    root = str(tmp_path)
    for g in ("gen-999999", "gen-1000000"):
        os.makedirs(os.path.join(root, g))
    assert G.next_gen(root) == "gen-1000001"


def test_self_maintaining_drain_equals_plain_drain(spark, ref_drain):
    """compact_every folds the store from INSIDE the drain (under the
    already-held writer lock) every N epochs — decisions must equal the
    plain drain's, the store must end folded (bounded epoch-dir count),
    and a crash straddling a fold boundary must still replay to the
    same result."""
    import re

    from pyspark.errors.exceptions.captured import StreamingQueryException

    from data_pipeline_with_big_data_stack_spark.operators import segman

    docs = _small_docs(spark)
    ref_store = ref_drain
    ref = sorted(
        map(
            tuple,
            ref_store.read(spark, "decisions").drop("batch_id").collect(),
        )
    )

    store = _drain(spark, docs, compact_every=2)
    got = sorted(
        map(tuple, store.read(spark, "decisions").drop("batch_id").collect())
    )
    assert got == ref
    parts = sorted(
        d
        for d in segman.resolve_all(store.fs, store.bands_idx)
        if re.fullmatch(r"batch_id=\d+", d)
    )
    # epochs 0..3 with folds after 2: fold@2 leaves {2, carried 3-less}…
    # final state = folded partition + the post-fold epoch(s), never
    # all four
    assert len(parts) < 4, parts

    # THE fold-boundary crash: epoch 2 writes all four sinks, the
    # in-drain fold publishes a new generation (carrying uncommitted
    # epoch 2 verbatim), and the driver dies BEFORE the checkpoint
    # commit — the restart must replay epoch 2 against the folded
    # generation (overwriting the carried dirs) to the same result
    base, src = DI.stage_ordered_chunks(spark, docs, n_chunks=4)
    store2 = DI.init_dedup_ingest_store(spark, base)
    try:
        DI.run_dedup_ingest_stream(
            spark, src, store2, fail_epoch=2, fail_after="compact", compact_every=2
        )
        raise AssertionError("injected crash did not fire")
    except StreamingQueryException:
        pass
    DI.run_dedup_ingest_stream(spark, src, store2, compact_every=2)
    got2 = sorted(
        map(tuple, store2.read(spark, "decisions").drop("batch_id").collect())
    )
    assert got2 == ref
    # a crash INSIDE the batch that would have triggered the fold
    # (before the fold runs) must recover identically too
    base, src = DI.stage_ordered_chunks(spark, docs, n_chunks=4)
    store3 = DI.init_dedup_ingest_store(spark, base)
    try:
        DI.run_dedup_ingest_stream(
            spark, src, store3, fail_epoch=2, fail_after="counts", compact_every=2
        )
        raise AssertionError("injected crash did not fire")
    except StreamingQueryException:
        pass
    DI.run_dedup_ingest_stream(spark, src, store3, compact_every=2)
    got3 = sorted(
        map(tuple, store3.read(spark, "decisions").drop("batch_id").collect())
    )
    assert got3 == ref


def test_incremental_fold_upgrades_to_full_on_size_ratio(spark, tmp_path):
    """The LSM trigger: an incremental fold compares what accumulated
    SINCE the last full fold against that fold's base and collapses
    everything when they rival — pinned: (1) a small new epoch stays
    incremental (two fold partitions, base untouched), (2) a new epoch
    bigger than the base upgrades to a full fold (one partition), (3)
    contents are preserved throughout."""
    import re

    def words(doc_id, n):
        return (doc_id, " ".join(f"u{doc_id}w{i}" for i in range(n)))

    from data_pipeline_with_big_data_stack_spark.operators import segman

    def parts(store):
        return sorted(
            int(m.group(1))
            for d in segman.resolve_all(store.fs, store.bands_idx)
            if (m := re.fullmatch(r"batch_id=(\d+)", d))
        )

    store = DI.init_dedup_ingest_store(spark, str(tmp_path / "st"))
    big0 = spark.createDataFrame(
        [words(i, 120) for i in range(40)], "doc_id long, text string"
    )
    DI.dedup_ingest_batch(big0, 0, store)
    # first in-drain fold: no marker yet -> folds from the beginning,
    # records itself as the FULL fold base
    DI._compact_into_new_generation(spark, store, 1 << 30, full=False)
    assert parts(store) == [0]
    assert DI._read_fold_marker(
        os.path.join(store.base, store.current_generation()), store.fs
    ) == (0, 0)

    small = spark.createDataFrame([words(100, 8)], "doc_id long, text string")
    DI.dedup_ingest_batch(small, 1, store)
    DI._compact_into_new_generation(spark, store, 1 << 30, full=False)
    # small increment vs big base: stays incremental — base partition
    # carried, new fold partition beside it
    assert parts(store) == [0, 1]
    assert DI._read_fold_marker(
        os.path.join(store.base, store.current_generation()), store.fs
    ) == (1, 0)

    # ~7x the base's band rows, so the byte comparison clears parquet
    # per-file overhead noise at fixture scale with a wide margin
    big2 = spark.createDataFrame(
        [words(200 + i, 120) for i in range(300)], "doc_id long, text string"
    )
    DI.dedup_ingest_batch(big2, 2, store)
    DI._compact_into_new_generation(spark, store, 1 << 30, full=False)
    # since-full data now rivals the base: upgrade collapses everything
    assert parts(store) == [2]
    assert DI._read_fold_marker(
        os.path.join(store.base, store.current_generation()), store.fs
    ) == (2, 2)
    docs = store.read(spark, "docstore").drop("batch_id")
    assert docs.count() == 40 + 1 + 300


def test_prior_read_scan_drops_with_higher_n_bkt(spark, tmp_path):
    """Round 14 (VERDICT r13 #2): the n_bkt sizing rule's testable half
    on the DEDUP store (the substring twin lives in
    tests/test_substring_ingest.py) — the same corpus accumulated under
    n_bkt=4 vs 64, the same 1-doc trickle batch: the bands-index prior
    read's pruned ROW count must drop at least 4x (16x in expectation)
    at the higher bucket count. Rows, not bytes: at fixture scale the
    per-file parquet footer dominates tiny bucket files and hides the
    data-proportional drop that holds at production file sizes. This is
    what makes "size n_bkt to index_bytes / target_partition_bytes" a
    real knob and not a docstring claim."""
    import random

    from data_pipeline_with_big_data_stack_spark.operators.dedup_index import (
        minhash_signatures,
    )

    rng = random.Random(5)
    vocab = [f"w{i:04d}" for i in range(3000)]
    docs = spark.createDataFrame(
        [
            (i, " ".join(rng.choice(vocab) for _ in range(80)))
            for i in range(300)
        ],
        "doc_id long, text string",
    )
    trickle = spark.createDataFrame(
        [(10_000_000, " ".join(rng.choice(vocab) for _ in range(80)))],
        "doc_id long, text string",
    )  # 1 doc -> 3 band keys -> <= 3 touched buckets under any n_bkt

    def pruned_rows(store, touched):
        # exactly the batch's prior-read frame: partition-pruned to
        # committed epochs and the touched buckets
        src = os.path.join(
            store.base, store.current_generation(), "bands_idx"
        )
        return DI._prior(
            spark, src, 1, "bkt", sorted(touched), fs=store.fs,
            schema=store.read_schema("bands_idx"),
        ).count()

    scanned = {}
    for n_bkt in (4, 64):
        store = DI.init_dedup_ingest_store(
            spark, str(tmp_path / f"nb{n_bkt}"), n_bkt=n_bkt
        )
        DI.dedup_ingest_batch(docs, 0, store)
        DI.compact_dedup_ingest_store(spark, store)
        bands = minhash_signatures(trickle).select(
            _F.posexplode(
                _F.array("band0", "band1", "band2")
            ).alias("band", "band_key")
        )
        touched = {
            int(r[0])
            for r in bands.select(
                _F.pmod(_F.hash("band", "band_key"), _F.lit(n_bkt)).cast(
                    "int"
                )
            )
            .distinct()
            .collect()
        }
        assert 1 <= len(touched) <= 3
        scanned[n_bkt] = pruned_rows(store, touched)
    assert scanned[4] >= 4 * scanned[64], (
        f"bands-index prior-read rows did not drop with n_bkt: "
        f"4 buckets -> {scanned[4]} rows, 64 buckets -> {scanned[64]} rows"
    )


def test_monotone_ingest_watermark_enforced_on_dedup_store(spark, tmp_path):
    """Round 15 (VERDICT r14 #1): the MinHash ingest store shares the
    persisted doc-id watermark — a batch whose min id is at or below
    the committed max raises in-plan as the epoch's FIRST action, so an
    out-of-order crawl shard can never silently flip which doc a
    keep-first decision points at. The refusal leaves every data sink
    untouched, and the watermark survives a fold."""
    store = DI.init_dedup_ingest_store(spark, str(tmp_path / "st"))
    b0 = _tiny_batch(
        spark, [(i, f"alpha beta gamma delta epsilon w{i}") for i in (5, 9)]
    )
    DI.dedup_ingest_batch(b0, 0, store)
    for bad_id in (3, 9):  # strictly below, and equal (a reused id)
        bad = _tiny_batch(spark, [(bad_id, "zeta eta theta iota kappa")])
        with pytest.raises(Exception, match="out-of-order ingest"):
            DI.dedup_ingest_batch(bad, 1, store)
        for s in ("decisions", "bands_idx", "counts", "docstore"):
            n = spark.read.parquet(getattr(store, s)).filter("batch_id = 1").count()
            assert n == 0, f"aborted epoch leaked {n} rows into {s}"
    DI.compact_dedup_ingest_store(spark, store)
    assert (
        spark.read.parquet(store.hwm).agg(_F.max("max_doc_id")).head()[0] == 9
    )
    # post-fold epochs use ids ABOVE the fold frontier (the aborted
    # epoch's partial dir advanced it to 1 — the frontier refusal is a
    # separate, earlier guard); the watermark still enforces through
    # the folded hwm partition
    with pytest.raises(Exception, match="out-of-order ingest"):
        DI.dedup_ingest_batch(
            _tiny_batch(spark, [(2, "mu nu xi omicron pi")]), 2, store
        )
    DI.dedup_ingest_batch(
        _tiny_batch(spark, [(10, "rho sigma tau upsilon phi")]), 2, store
    )
    assert (
        spark.read.parquet(store.hwm).agg(_F.max("max_doc_id")).head()[0] == 10
    )


def test_replay_from_arbitrary_sink_subset(spark, monkeypatch, ref_drain):
    """r16: the epoch's data-sink publishes run CONCURRENTLY in
    production (`_publish_epoch_sinks`), so a real crash can leave ANY
    subset of sinks written — not just the sequential prefixes the
    `fail_after` hook injects. Exactly-once must hold regardless: a
    replayed epoch overwrites every sink and reads prior state
    partition-pruned to batch_id < eid, so restart-from-any-subset
    equals a crash-free single run. Simulate a non-prefix crash (counts
    + docstore written, decisions/bands_idx NOT) by filtering which
    publishes run at epoch 1, then restart clean."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    docs = _small_docs(spark)
    ref = _snapshot(spark, ref_drain)

    base, src = DI.stage_ordered_chunks(spark, docs, n_chunks=4)
    store = DI.init_dedup_ingest_store(spark, base)
    orig = DI._publish_epoch_sinks
    state = {"epoch": -1}

    def torn(writes, fail_after, defer=frozenset()):
        state["epoch"] += 1
        if state["epoch"] == 1:  # epoch 1: only the NON-prefix subset
            orig([w for w in writes if w[0] in ("counts", "docstore")], None)
            raise RuntimeError("simulated mid-wave crash")
        return orig(writes, fail_after, defer)

    monkeypatch.setattr(DI, "_publish_epoch_sinks", torn)
    try:
        DI.run_dedup_ingest_stream(spark, src, store)
        raise AssertionError("simulated crash did not fire")
    except StreamingQueryException:
        pass
    monkeypatch.setattr(DI, "_publish_epoch_sinks", orig)
    DI.run_dedup_ingest_stream(spark, src, store)
    assert _snapshot(spark, store) == ref, "diverged after non-prefix crash"
