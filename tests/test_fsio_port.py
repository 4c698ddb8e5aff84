"""Round-11 store-portability pins (VERDICT r10 #1/#4 + ADVICE r10).

The generation-store protocol (pointer, GC, fold bookkeeping)
runs through the Hadoop FileSystem API (`operators/fsio`), so the
stores work when the base path is an explicit ``file:`` URI — the same
code path a remote scheme takes (the sandbox has no HDFS; this is how
the ann_index build/search paths have always proved scheme-agnosticism).
Also pinned here: the fold-frontier refusal on direct epochs (ADVICE
r10 medium) and the age-based reader grace (VERDICT r10 #4).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from data_pipeline_with_big_data_stack_spark.operators import dedup_ingest as DI
from data_pipeline_with_big_data_stack_spark.operators import fsio
from data_pipeline_with_big_data_stack_spark.operators import generations as G


def _docs(spark, n=60, start=0):
    rows = [
        (start + i, f"document {i} body w{i % 7} w{i % 5} w{i % 3} alpha beta gamma")
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _epoch_chunk(docs, e):
    # contiguous 20-id ranges of the 60-doc fixture: direct epochs
    # honor the enforced monotone-ingest contract (doc-id watermark)
    return docs.filter(
        (F.col("doc_id") >= 20 * e) & (F.col("doc_id") < 20 * (e + 1))
    )


def _ingest_three_epochs(spark, base, docs):
    store = DI.init_dedup_ingest_store(spark, base, n_bkt=4)
    for e in range(3):
        DI.dedup_ingest_batch(_epoch_chunk(docs, e), e, store)
    return store


def test_dedup_store_lifecycle_on_file_uri_equals_plain_path(spark, tmp_path):
    """init → direct epochs → compact on a ``file:`` URI base must
    produce exactly the plain-path store's decisions and generation
    layout — every protocol touch (pointer, meta, listing, fold marker,
    GC) goes through the Hadoop FS handle, no raw-POSIX assumption."""
    docs = _docs(spark)
    plain = _ingest_three_epochs(spark, str(tmp_path / "plain"), docs)
    uri = _ingest_three_epochs(spark, "file:" + str(tmp_path / "uri"), docs)
    assert uri.fs.scheme == "file" and uri.base.startswith("file:")

    def dec(store):
        return sorted(
            map(
                tuple,
                spark.read.parquet(store.decisions).drop("batch_id").collect(),
            )
        )

    assert dec(uri) == dec(plain)
    DI.compact_dedup_ingest_store(spark, plain)
    DI.compact_dedup_ingest_store(spark, uri)
    assert dec(uri) == dec(plain)
    assert G.list_generations(uri.base, fs=uri.fs) == G.list_generations(
        plain.base, fs=plain.fs
    )
    assert uri.current_generation() == plain.current_generation()


def test_direct_epoch_at_or_below_fold_frontier_refused(spark, tmp_path):
    """ADVICE r10 (medium): after a fold collapses epochs 0..hi into the
    ``batch_id=hi`` partition, a direct epoch with eid == hi would
    statically OVERWRITE that partition (destroying every folded epoch)
    and eid < hi would duplicate rows the fold already carries — both
    must raise; ids above the frontier (including the blessed same-id
    replay of a still-standing epoch) keep working, and
    ``allow_refolded_replay=True`` is the explicit opt-out."""
    docs = _docs(spark)
    store = _ingest_three_epochs(spark, str(tmp_path / "st"), docs)
    # pre-fold: same-id replay of a standing epoch is the blessed
    # idempotent pattern (the bench re-times eid with overwrite)
    DI.dedup_ingest_batch(_epoch_chunk(docs, 2), 2, store)
    DI.compact_dedup_ingest_store(spark, store)  # folds 0..2 into batch_id=2
    before = sorted(
        map(tuple, spark.read.parquet(store.docstore).drop("batch_id").collect())
    )
    for eid in (0, 2):
        with pytest.raises(RuntimeError, match="folded epochs through"):
            DI.dedup_ingest_batch(_docs(spark, n=2, start=900), eid, store)
    # the refused call must not have touched the store
    after = sorted(
        map(tuple, spark.read.parquet(store.docstore).drop("batch_id").collect())
    )
    assert after == before
    # above the frontier: normal operation
    DI.dedup_ingest_batch(_docs(spark, n=2, start=900), 3, store)
    # explicit opt-out for a deliberate pre-fold replay
    DI.dedup_ingest_batch(
        _epoch_chunk(docs, 2), 2, store, allow_refolded_replay=True
    )


def test_gc_age_grace_keeps_recently_published_generations(spark, tmp_path):
    """VERDICT r10 #4: with ``grace_seconds`` > 0 GC keeps every
    generation PUBLISHED inside the window — not just the immediate
    predecessor — while unpublished orphans (no publish stamp) still
    vanish immediately."""
    root = str(tmp_path / "root")
    fs = fsio.Fs(spark, root)
    fs.mkdirs(root)

    def make_and_publish(n):
        gen = G.gen_name(n)
        fs.mkdirs(os.path.join(root, gen))
        prev = G.read_current_or_none(root, fs=fs)
        G.publish(root, gen, fs=fs)
        return gen, prev

    g1, _ = make_and_publish(1)
    g2, p2 = make_and_publish(2)
    fs.mkdirs(os.path.join(root, "gen-000009"))  # crashed writer's orphan
    g3, p3 = make_and_publish(3)
    # grace window open: g1 was published moments ago and survives a GC
    # that would otherwise keep only {g3, g2}; the orphan has no stamp
    # and dies regardless
    G.gc_generations(root, g3, p3, grace_seconds=3600.0, fs=fs)
    assert G.list_generations(root, fs=fs) == [g1, g2, g3]
    # grace disabled: classic keep-two
    G.gc_generations(root, g3, p3, grace_seconds=0.0, fs=fs)
    assert G.list_generations(root, fs=fs) == [g2, g3]


def test_slow_reader_survives_multiple_fold_publishes_with_grace(spark, tmp_path):
    """The self-maintaining drain publishes on every Nth epoch; a
    serving query that outlives N epochs previously raced GC (VERDICT
    r10 'What's wrong #3'). With ``reader_grace_seconds`` the resolved
    generation must survive EVERY publish inside the window — pinned by
    resolving the pointer before a drain whose compact_every=1 publishes
    three more times, then reading the old tree."""
    docs = _docs(spark, n=120)
    base, src = DI.stage_ordered_chunks(spark, docs, n_chunks=4)
    store = DI.init_dedup_ingest_store(spark, base)
    g0 = store.current_generation()
    snapshot = os.path.join(store.base, g0, "docstore")  # slow reader resolves now
    DI.run_dedup_ingest_stream(
        spark, src, store, compact_every=1, reader_grace_seconds=3600.0
    )
    gens = G.list_generations(store.base, fs=store.fs)
    assert store.current_generation() != g0
    assert len(gens) > 2, "grace must keep more than {new, prev}"
    assert g0 in gens, "the generation a slow reader resolved was GC'd"
    # the resolved tree is still fully readable mid-lifecycle (epochs
    # written into g0 before the first fold stay intact under grace)
    old_tree = spark.read.parquet(snapshot)
    assert {"doc_id", "text"}.issubset(set(old_tree.columns))
    assert old_tree.count() >= 0  # full scan must not hit deleted files

    # control: without grace the drain's publishes erase g0
    base2, src2 = DI.stage_ordered_chunks(spark, docs, n_chunks=4)
    store2 = DI.init_dedup_ingest_store(spark, base2)
    g0b = store2.current_generation()
    DI.run_dedup_ingest_stream(spark, src2, store2, compact_every=1)
    assert g0b not in G.list_generations(store2.base, fs=store2.fs)


def test_write_text_atomic_roundtrip_and_overwrite_on_file_uri(spark, tmp_path):
    """The pointer-flip primitive through the Hadoop handle: create,
    overwrite, read back — on a ``file:`` URI (the local branch) the
    temp file must not survive."""
    fs = fsio.Fs(spark, "file:" + str(tmp_path))
    p = "file:" + str(tmp_path / "ptr")
    fs.write_text_atomic(p, "gen-000001\n")
    assert fs.read_text(p) == "gen-000001\n"
    fs.write_text_atomic(p, "gen-000002\n")
    assert fs.read_text(p) == "gen-000002\n"
    assert not (tmp_path / "ptr.tmp").exists()


def test_read_text_local_fast_path_matches_hadoop(spark, tmp_path):
    """The native ``file:`` read returns the same text as the Hadoop
    stream — bytes decoded as UTF-8, line endings untouched — and a
    missing file raises FileNotFoundError on both paths."""
    (tmp_path / "m.json").write_bytes('{"refs": "\u00e9"}\r\n'.encode("utf-8"))
    local = fsio.Fs(spark, "file:" + str(tmp_path))
    hadoop = fsio.Fs(spark, "file:" + str(tmp_path))
    hadoop.is_local = False
    for p in ("file:" + str(tmp_path / "m.json"), str(tmp_path / "m.json")):
        assert local.read_text(p) == hadoop.read_text(p) == '{"refs": "\u00e9"}\r\n'
    for fs in (local, hadoop):
        with pytest.raises(FileNotFoundError):
            fs.read_text(str(tmp_path / "absent.json"))
    with pytest.raises(OSError):  # not a missing file: still raises
        local.read_text(str(tmp_path))


def test_file_sizes_recursive_relative_root_and_symlinked_dir(
    spark, tmp_path, monkeypatch
):
    """The native walk lists what Hadoop ``listFiles`` lists: a relative
    root renders as absolute ``file:`` paths, files under a symlinked
    dir are listed through the link, and a link cycle does not loop."""
    t = tmp_path / "t"
    (t / "sub").mkdir(parents=True)
    (tmp_path / "elsewhere" / "deep").mkdir(parents=True)
    (t / "a").write_text("a")
    (t / "sub" / "b").write_text("bb")
    (tmp_path / "elsewhere" / "deep" / "c").write_text("ccc")
    (t / "link").symlink_to(tmp_path / "elsewhere")
    fs = fsio.Fs(spark, str(t))
    hadoop = fsio.Fs(spark, str(t))
    hadoop.is_local = False
    want = sorted(hadoop.file_sizes_recursive(str(t)))
    assert ("file:" + str(t / "link" / "deep" / "c"), 3) in want
    assert sorted(fs.file_sizes_recursive(str(t))) == want
    monkeypatch.chdir(tmp_path)
    assert sorted(fs.file_sizes_recursive("t")) == want
    (t / "sub" / "loop").symlink_to(t)
    assert sorted(fs.file_sizes_recursive(str(t))) == want


def test_write_text_atomic_object_store_branch_is_direct_put(spark, tmp_path):
    """Schemes without atomic rename must NOT flip via temp+rename (a
    copy+delete rename can crash into a window with NO pointer): the
    object-store branch writes the destination object directly. Pinned
    by forcing the branch flags on a local handle."""
    fs = fsio.Fs(spark, "file:" + str(tmp_path))
    fs.is_local = False
    fs.rename_is_atomic = False
    p = "file:" + str(tmp_path / "ptr")
    fs.write_text_atomic(p, "gen-000007\n")
    assert fs.read_text(p) == "gen-000007\n"
    fs.write_text_atomic(p, "gen-000008\n")
    assert fs.read_text(p) == "gen-000008\n"
    assert not (tmp_path / "ptr.tmp").exists(), "PUT branch must not stage a temp"


def test_inplace_swap_ops_refuse_non_atomic_rename_schemes(spark, tmp_path, monkeypatch):
    """The rollup publish (``rollup_maintenance.apply_increment``)
    swaps live partition dirs for staged ones and infers crash state
    from directory existence — unsound where rename is copy+delete: a
    half-copied live partition would read as "publish finished" and its
    trashed original would be deleted. On such schemes it must refuse
    BEFORE touching the store, pointing at the generation-versioned
    stores, which publish by a pointer write."""
    import pytest as _pytest

    from data_pipeline_with_big_data_stack_spark.operators import (
        rollup_maintenance as RM,
    )
    from data_pipeline_with_big_data_stack_spark.tables import load_table
    from tests.conftest import SF_SMOKE

    e = load_table(spark, SF_SMOKE, "events")
    path = str(tmp_path / "rollup")
    RM.build_rollup(e.filter("event_id % 2 = 0"), path)

    def snapshot():
        return sorted(
            (os.path.relpath(os.path.join(d, f), path), os.stat(os.path.join(d, f)).st_mtime_ns)
            for d, _dirs, files in os.walk(path)
            for f in files
        )

    before = snapshot()
    monkeypatch.setattr(fsio, "_ATOMIC_RENAME_SCHEMES", frozenset())
    with _pytest.raises(NotImplementedError, match="generation-versioned"):
        RM.apply_increment(spark, path, e.filter("event_id % 2 = 1"), batch_id=1)
    assert snapshot() == before, "the refused publish changed the store"
    assert not os.path.exists(path + RM._LOCK_SUFFIX)


def test_rename_refuses_existing_destination(spark, tmp_path):
    """os.rename raises ENOTEMPTY onto an existing dir; Hadoop's rename
    instead quietly moves src INTO it and reports success — which would
    nest a live index component inside a leftover park dir. The facade
    must restore the raising contract."""
    fs = fsio.Fs(spark, str(tmp_path))
    (tmp_path / "a").mkdir()
    (tmp_path / "a" / "f.txt").write_text("x")
    (tmp_path / "b").mkdir()
    with pytest.raises(FileExistsError, match="destination exists"):
        fs.rename(str(tmp_path / "a"), str(tmp_path / "b"))
    # src untouched by the refusal
    assert (tmp_path / "a" / "f.txt").exists()
    fs.rename(str(tmp_path / "a"), str(tmp_path / "c"))
    assert (tmp_path / "c" / "f.txt").exists()


def test_streaming_drain_with_crash_replay_on_file_uri(spark, tmp_path):
    """The full streaming lifecycle on a ``file:`` URI base — drain,
    injected crash between a sink write and the checkpoint commit,
    checkpoint resume, in-drain folds — must equal a crash-free drain
    on a plain path: the checkpoint, writer lock, epoch overwrites and
    fold publishes all route through the URI."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    docs = _docs(spark, n=120)

    def dec(store):
        return sorted(
            map(
                tuple,
                spark.read.parquet(store.decisions).drop("batch_id").collect(),
            )
        )

    base_ref, src_ref = DI.stage_ordered_chunks(spark, docs, n_chunks=4)
    ref_store = DI.init_dedup_ingest_store(spark, base_ref)
    DI.run_dedup_ingest_stream(spark, src_ref, ref_store)
    ref = dec(ref_store)

    # URI store: same chunks, crash at epoch 1 after bands_idx, resume
    base2, src2 = DI.stage_ordered_chunks(spark, docs, n_chunks=4)
    uri_base = "file:" + str(tmp_path / "uri_store")
    store = DI.init_dedup_ingest_store(spark, uri_base)
    assert store.base.startswith("file:")
    try:
        DI.run_dedup_ingest_stream(
            spark, src2, store, fail_epoch=1, fail_after="bands_idx",
            compact_every=2,
        )
        raise AssertionError("injected crash did not fire")
    except StreamingQueryException:
        pass
    DI.run_dedup_ingest_stream(spark, src2, store, compact_every=2)
    assert dec(store) == ref


def test_versioned_lifecycle_runs_without_atomic_rename_capability(
    spark, tmp_path, monkeypatch
):
    """Object stores must keep the FULL index lifecycle through the
    generation-versioned path: with the atomic-rename capability
    masked off entirely, no `_require_atomic_rename` gate fires
    anywhere in
    build → append → compact → expire → retrain → search — the
    versioned ops carry unchanged segments by manifest reference and
    never rename a live tree. The backing store here is still local, so
    write_text_atomic's PUT branch is pinned separately
    (test_write_text_atomic_object_store_branch...); this test pins the
    gate surface and lifecycle composition, and the simulated-scheme
    sweep below forces every non-local branch at once."""
    import random

    from pyspark.sql import functions as F

    from data_pipeline_with_big_data_stack_spark.operators import ann_index_versioned as V
    from data_pipeline_with_big_data_stack_spark.operators.ann_index import (
        train_ivfpq_codebooks,
    )

    monkeypatch.setattr(fsio, "_ATOMIC_RENAME_SCHEMES", frozenset())
    rng = random.Random(11)
    vecs = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(80)],
        "vec_id long, emb array<double>",
    )
    root = str(tmp_path / "root")
    cb, pqs = train_ivfpq_codebooks(vecs, 4, 4, 4, 2, iters=1)
    V.build_ivfpq_versioned(vecs, root, cb, pqs, sub_dim=4)
    newer = spark.createDataFrame(
        [(1000 + i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(20)],
        "vec_id long, emb array<double>",
    )
    V.append_ivfpq_versioned(spark, root, newer)
    assert V.compact_ivfpq_versioned(spark, root, max_files_per_cell=1) is not None
    V.expire_ivfpq_versioned(spark, root, ids=[0, 1])
    V.retrain_ivfpq_versioned(spark, root, vecs.unionByName(newer), iters=1)
    probes = vecs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("emb").alias("q_emb")
    )
    res = V.search_ivfpq_versioned(spark, root, probes, nprobe=2, k=3)
    assert res.count() == 9


@pytest.fixture()
def simulated_object_store(monkeypatch):
    """Force EVERY Fs handle into its object-store branches over a
    local directory (VERDICT r11 #8): no local fsync path
    (write_text_atomic takes the direct-PUT branch), no atomic rename
    (every `_require_atomic_rename` gate armed). Any local-ism left in
    a store protocol fails loudly under this fixture."""
    monkeypatch.setattr(fsio, "_ATOMIC_RENAME_SCHEMES", frozenset())
    orig_init = fsio.Fs.__init__

    def sim_init(self, spark, base):
        orig_init(self, spark, base)
        self.is_local = False
        self.rename_is_atomic = False

    monkeypatch.setattr(fsio.Fs, "__init__", sim_init)
    return True


def test_dedup_lifecycle_on_simulated_object_store(
    spark, simulated_object_store
):
    """Full streaming-dedup lifecycle — drain, in-drain incremental
    folds, grace GC, serving reads — with every filesystem touch forced
    through the object-store branches."""
    docs = _docs(spark, n=120)
    base, src = DI.stage_ordered_chunks(spark, docs, n_chunks=4)
    store = DI.init_dedup_ingest_store(spark, base)
    g0 = store.current_generation()
    DI.run_dedup_ingest_stream(
        spark, src, store, compact_every=1, reader_grace_seconds=3600.0
    )
    gens = G.list_generations(store.base, fs=store.fs)
    assert g0 in gens, "grace must hold on the simulated scheme"
    docs_back = store.read(spark, "docstore").drop("batch_id")
    assert docs_back.count() == 120
    # a second store without folds must equal the folded one's decisions
    base2, src2 = DI.stage_ordered_chunks(spark, docs, n_chunks=4)
    plain = DI.init_dedup_ingest_store(spark, base2)
    DI.run_dedup_ingest_stream(spark, src2, plain)
    assert sorted(
        map(tuple, store.read(spark, "decisions").drop("batch_id").collect())
    ) == sorted(
        map(tuple, plain.read(spark, "decisions").drop("batch_id").collect())
    )


def test_ann_versioned_lifecycle_on_simulated_object_store(
    spark, tmp_path, simulated_object_store
):
    """build → append → compact → expire → retrain → search with every
    Fs handle forced into object-store branches."""
    import random

    from pyspark.sql import functions as F

    from data_pipeline_with_big_data_stack_spark.operators import (
        ann_index_versioned as V,
    )
    from data_pipeline_with_big_data_stack_spark.operators.ann_index import (
        train_ivfpq_codebooks,
    )

    rng = random.Random(12)
    vecs = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(80)],
        "vec_id long, emb array<double>",
    )
    root = str(tmp_path / "simroot")
    cb, pqs = train_ivfpq_codebooks(vecs, 4, 4, 4, 2, iters=1)
    V.build_ivfpq_versioned(vecs, root, cb, pqs, sub_dim=4)
    newer = spark.createDataFrame(
        [(1000 + i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(20)],
        "vec_id long, emb array<double>",
    )
    V.append_ivfpq_versioned(spark, root, newer)
    assert V.compact_ivfpq_versioned(spark, root, max_files_per_cell=1) is not None
    V.expire_ivfpq_versioned(spark, root, ids=[0, 1])
    V.retrain_ivfpq_versioned(spark, root, vecs.unionByName(newer), iters=1)
    probes = vecs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("emb").alias("q_emb")
    )
    assert V.search_ivfpq_versioned(spark, root, probes, nprobe=2, k=3).count() == 9
