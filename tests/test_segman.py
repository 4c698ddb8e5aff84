"""Segment-manifest layout primitives (`operators/segman`, VERDICT r11
#1) and the conditional-write lock claim (`fsio.Fs.create_exclusive`,
VERDICT r11 #3): manifests round-trip root-relative, merge semantics
resolve as declared, plain dirs read unchanged, GC prunes by reference
liveness, and the lock claim drives both the conditional-PUT and the
fallback branch."""

from __future__ import annotations

import json
import os

import pytest

from data_pipeline_with_big_data_stack_spark.operators import fsio, segman
from data_pipeline_with_big_data_stack_spark.operators import generations as G


def _write(spark, path, rows, schema="k long, v string"):
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(
        path
    )


def _tuples(df):
    return sorted(map(tuple, df.select("k", "v").collect()))


def test_manifest_roundtrip_stores_root_relative_refs(spark, tmp_path):
    root = str(tmp_path / "root")
    fs = fsio.Fs(spark, root)
    t1 = os.path.join(root, "gen-000001", "t")
    t2 = os.path.join(root, "gen-000002", "t")
    _write(spark, os.path.join(t1, "batch_id=0"), [(1, "a")])
    segman.write_manifest(
        fs, t2, {"batch_id=0": [os.path.join(t1, "batch_id=0")]}, merge="shadow"
    )
    raw = json.loads(fs.read_text(os.path.join(t2, segman.MANIFEST)))
    assert raw["refs"] == {"batch_id=0": ["gen-000001/t/batch_id=0"]}, (
        "refs must be stored relative to the store root, never as "
        "rendered absolute URIs"
    )
    resolved = segman.resolve_refs(fs, t2)
    assert resolved == {"batch_id=0": [os.path.join(root, "gen-000001/t/batch_id=0")]}


def test_write_manifest_refuses_refs_outside_root(spark, tmp_path):
    root = str(tmp_path / "root")
    fs = fsio.Fs(spark, root)
    t2 = os.path.join(root, "gen-000002", "t")
    with pytest.raises(ValueError, match="outside the store root"):
        segman.write_manifest(fs, t2, {"x=1": ["/elsewhere/x=1"]}, merge="union")
    with pytest.raises(ValueError, match="merge must be one of"):
        segman.write_manifest(fs, t2, {}, merge="overlay")


def test_read_manifest_raises_on_malformed(spark, tmp_path):
    root = str(tmp_path / "root")
    fs = fsio.Fs(spark, root)
    t = os.path.join(root, "gen-000001", "t")
    fs.write_text_atomic(os.path.join(t, segman.MANIFEST), '{"merge": "nope"}')
    with pytest.raises(ValueError, match="malformed segment manifest"):
        segman.read_manifest(fs, t)


def test_read_table_plain_dir_is_vanilla_parquet_read(spark, tmp_path):
    root = str(tmp_path / "root")
    fs = fsio.Fs(spark, root)
    t = os.path.join(root, "gen-000001", "t")
    _write(spark, os.path.join(t, "batch_id=0"), [(1, "a"), (2, "b")])
    got = segman.read_table(spark, fs, t)
    want = spark.read.parquet(t)
    assert _tuples(got) == _tuples(want)
    assert sorted(got.columns) == sorted(want.columns)


def test_shadow_merge_physical_partition_supersedes_reference(spark, tmp_path):
    """The dedup-store replay contract: a physically rewritten logical
    partition hides the carried reference with the same name."""
    root = str(tmp_path / "root")
    fs = fsio.Fs(spark, root)
    t1 = os.path.join(root, "gen-000001", "t")
    t2 = os.path.join(root, "gen-000002", "t")
    _write(spark, os.path.join(t1, "batch_id=0"), [(1, "old")])
    _write(spark, os.path.join(t1, "batch_id=1"), [(2, "keep")])
    segman.write_manifest(
        fs,
        t2,
        {
            "batch_id=0": [os.path.join(t1, "batch_id=0")],
            "batch_id=1": [os.path.join(t1, "batch_id=1")],
        },
        merge="shadow",
    )
    assert _tuples(segman.read_table(spark, fs, t2)) == [(1, "old"), (2, "keep")]
    # the "replay": batch_id=0 is statically rewritten in gen-000002
    _write(spark, os.path.join(t2, "batch_id=0"), [(1, "new")])
    assert _tuples(segman.read_table(spark, fs, t2)) == [(1, "new"), (2, "keep")]
    # resolve_all flattens post-shadow: the superseded ref is dropped
    entries = segman.resolve_all(fs, t2)
    assert entries["batch_id=0"] == [os.path.join(t2, "batch_id=0")]
    assert entries["batch_id=1"] == [os.path.join(t1, "batch_id=1")]


def test_union_merge_physical_and_reference_both_read(spark, tmp_path):
    """The ANN-append contract: new files for a cell ADD to the
    referenced older files of the same cell."""
    root = str(tmp_path / "root")
    fs = fsio.Fs(spark, root)
    t1 = os.path.join(root, "gen-000001", "t")
    t2 = os.path.join(root, "gen-000002", "t")
    _write(spark, os.path.join(t1, "cell_id=0"), [(1, "old")])
    segman.write_manifest(
        fs, t2, {"cell_id=0": [os.path.join(t1, "cell_id=0")]}, merge="union"
    )
    _write(spark, os.path.join(t2, "cell_id=0"), [(2, "appended")])
    assert _tuples(segman.read_table(spark, fs, t2)) == [(1, "old"), (2, "appended")]
    # and partition pruning still applies to referenced groups
    pruned = segman.read_table(spark, fs, t2).filter("cell_id = 0")
    assert pruned.count() == 2


def test_whole_table_reference_for_flat_sidecars(spark, tmp_path):
    root = str(tmp_path / "root")
    fs = fsio.Fs(spark, root)
    t1 = os.path.join(root, "gen-000001", "cb")
    t2 = os.path.join(root, "gen-000002", "cb")
    _write(spark, t1, [(7, "centroid")])
    segman.write_manifest(fs, t2, segman.resolve_all(fs, t1), merge="union")
    assert _tuples(segman.read_table(spark, fs, t2)) == [(7, "centroid")]
    # flattening: a third generation's refs point at the ORIGINAL dir
    t3 = os.path.join(root, "gen-000003", "cb")
    segman.write_manifest(fs, t3, segman.resolve_all(fs, t2), merge="union")
    assert segman.resolve_refs(fs, t3) == {segman.WHOLE: [t1]}


def test_read_table_empty_manifested_table_raises(spark, tmp_path):
    root = str(tmp_path / "root")
    fs = fsio.Fs(spark, root)
    t = os.path.join(root, "gen-000001", "t")
    segman.write_manifest(fs, t, {}, merge="union")
    with pytest.raises(FileNotFoundError, match="neither physical"):
        segman.read_table(spark, fs, t)


def test_gc_prunes_to_referenced_segments_and_fails_closed_on_grace(
    spark, tmp_path
):
    """generations.gc_generations under the manifest layout: a
    superseded generation hosting referenced segments is pruned (stamp
    and unreferenced sinks gone, referenced dirs intact); with
    grace_seconds > 0 and an unreadable clock probe no STAMPED
    generation is deleted (fail-closed, ADVICE r11) while unstamped
    orphans still vanish."""
    root = str(tmp_path / "root")
    fs = fsio.Fs(spark, root)
    # gen1: physical segments in sink "t" plus an unreferenced sink "u"
    t1 = os.path.join(root, "gen-000001", "t")
    _write(spark, os.path.join(t1, "p=0"), [(1, "live")])
    _write(spark, os.path.join(root, "gen-000001", "u", "p=0"), [(9, "dead")])
    G.publish(root, "gen-000001", fs=fs)
    # gen2 references gen1's t/p=0; gen3 supersedes both
    t2 = os.path.join(root, "gen-000002", "t")
    segman.write_manifest(
        fs, t2, {"p=0": [os.path.join(t1, "p=0")]}, merge="union"
    )
    G.publish(root, "gen-000002", fs=fs)
    fs.mkdirs(os.path.join(root, "gen-000007"))  # unstamped orphan
    fs.mkdirs(os.path.join(root, "gen-000003"))
    G.publish(root, "gen-000003", fs=fs)
    G.gc_generations(root, "gen-000003", "gen-000002", fs=fs)
    gens = G.list_generations(root, fs=fs)
    assert "gen-000007" not in gens, "orphan must vanish"
    assert "gen-000001" in gens, "referenced segment host must survive"
    # pruned: stamp + unreferenced sink gone, referenced dir readable
    assert G.published_at(root, "gen-000001", fs=fs) is None
    assert not fs.exists(os.path.join(root, "gen-000001", "u"))
    assert _tuples(segman.read_table(spark, fs, t2)) == [(1, "live")]

    # fail-closed grace: make the probe unreadable by stripping the NEW
    # generation's stamp; stamped gen-000002 must survive, the fresh
    # orphan must still go
    fs.delete(os.path.join(root, "gen-000003", G.PUBLISHED_AT))
    fs.mkdirs(os.path.join(root, "gen-000008"))  # another orphan
    G.gc_generations(root, "gen-000003", None, grace_seconds=3600.0, fs=fs)
    gens = G.list_generations(root, fs=fs)
    assert "gen-000002" in gens, "fail-closed grace deleted a stamped generation"
    assert "gen-000008" not in gens


def test_publish_stamps_before_pointer_flip(spark, tmp_path):
    """ADVICE r11: the publish crash window must fail in the cheap
    direction. Stamping BEFORE the flip means a published generation
    ALWAYS carries its stamp — its wall-clock grace promise can never
    be lost to a crash — while the crash's residue is a stamped,
    never-published orphan: retained at most one grace window, deleted
    immediately when grace is off."""
    root = str(tmp_path / "root")
    fs = fsio.Fs(spark, root)
    fs.mkdirs(os.path.join(root, "gen-000001"))
    G.publish(root, "gen-000001", fs=fs)

    # simulate the crash: stamp written, pointer flip never happened
    fs.mkdirs(os.path.join(root, "gen-000002"))
    fs.write_text_atomic(
        os.path.join(root, "gen-000002", G.PUBLISHED_AT), "crashed publish\n"
    )
    assert G.read_current(root, fs=fs) == "gen-000001"

    fs.mkdirs(os.path.join(root, "gen-000003"))
    G.publish(root, "gen-000003", fs=fs)
    # grace on: the stamped orphan is indistinguishable from a recently
    # published generation and is retained for the window (the bounded,
    # recoverable cost of the ordering)
    G.gc_generations(root, "gen-000003", "gen-000001", grace_seconds=3600.0, fs=fs)
    assert "gen-000002" in G.list_generations(root, fs=fs)
    # grace off: stamps grant no protection — the orphan dies now
    G.gc_generations(root, "gen-000003", "gen-000001", grace_seconds=0.0, fs=fs)
    assert G.list_generations(root, fs=fs) == ["gen-000001", "gen-000003"]
    # every actually-published generation carries its stamp by
    # construction — the r11 'published but unstamped' state is gone
    assert G.published_at(root, "gen-000003", fs=fs) is not None


# ---------------------------------------------------------------------
# fsio.Fs.create_exclusive: the conditional-write claim (VERDICT r11 #3)
# ---------------------------------------------------------------------


class _StubStream:
    def __init__(self, fail_close=None):
        self.wrote = b""
        self.closed = False
        self._fail_close = fail_close

    def write(self, data):
        self.wrote += bytes(data)

    def close(self):
        self.closed = True
        if self._fail_close is not None:
            raise self._fail_close


class _StubBuilder:
    def __init__(self, log, reject_must=False, stream=None):
        self._log, self._reject, self._stream = log, reject_must, stream

    def overwrite(self, flag):
        self._log.append(("overwrite", flag))
        return self

    def must(self, key, val):
        self._log.append(("must", key, val))
        if self._reject:
            raise Exception(f"java.lang.IllegalArgumentException: Unsupported {key}")
        return self

    def build(self):
        self._log.append(("build",))
        return self._stream


class _StubJavaFs:
    """Duck-typed stand-in for the py4j FileSystem handle."""

    def __init__(self, log, reject_must=False, stream=None, plain_raises=None):
        self._log, self._reject = log, reject_must
        self._stream, self._plain_raises = stream, plain_raises

    def createFile(self, path):
        self._log.append(("createFile", str(path)))
        return _StubBuilder(self._log, self._reject, self._stream)

    def create(self, path, overwrite):
        self._log.append(("create", str(path), bool(overwrite)))
        if self._plain_raises is not None:
            raise self._plain_raises
        return self._stream


def _object_store_fs(spark, tmp_path):
    fs = fsio.Fs(spark, str(tmp_path))
    fs.rename_is_atomic = False  # classify as an object store
    return fs


def test_create_exclusive_uses_conditional_put_where_supported(spark, tmp_path):
    log = []
    stream = _StubStream()
    fs = _object_store_fs(spark, tmp_path)
    fs._fs = _StubJavaFs(log, reject_must=False, stream=stream)
    out, conditional = fs.create_exclusive(str(tmp_path / "lock"))
    assert conditional is True and out is stream
    assert ("must", fsio._CONDITIONAL_CREATE_OPT, False) in log
    assert ("overwrite", False) in log
    assert not any(op[0] == "create" for op in log), (
        "conditional branch must not fall through to the plain create"
    )


def test_create_exclusive_falls_back_when_connector_rejects_option(
    spark, tmp_path
):
    log = []
    stream = _StubStream()
    fs = _object_store_fs(spark, tmp_path)
    fs._fs = _StubJavaFs(log, reject_must=True, stream=stream)
    out, conditional = fs.create_exclusive(str(tmp_path / "lock"))
    assert conditional is False and out is stream
    assert ("create", str(tmp_path / "lock"), False) in log


def test_create_exclusive_maps_exists_to_fileexists(spark, tmp_path):
    log = []
    fs = _object_store_fs(spark, tmp_path)
    fs._fs = _StubJavaFs(
        log,
        reject_must=True,
        plain_raises=Exception(
            "org.apache.hadoop.fs.FileAlreadyExistsException: lock exists"
        ),
    )
    with pytest.raises(FileExistsError):
        fs.create_exclusive(str(tmp_path / "lock"))
    # atomic-rename scheme: the plain create path, same mapping
    fs2 = fsio.Fs(spark, str(tmp_path))
    p = str(tmp_path / "lock2")
    out, cond = fs2.create_exclusive(p)
    out.write(bytearray(b"x"))
    out.close()
    assert cond is False
    with pytest.raises(FileExistsError):
        fs2.create_exclusive(p)


def test_acquire_lock_reports_conditional_close_conflict_as_contention(
    spark, tmp_path, monkeypatch
):
    """The losing conditional PUT surfaces at close(): _acquire_lock
    must report contention and must NOT delete the winner's lock."""
    from data_pipeline_with_big_data_stack_spark.operators import (
        rollup_maintenance as RM,
    )

    deleted = []
    conflict = Exception(
        "org.apache.hadoop.fs.s3a.RemoteFileChangedException: "
        "PUT PreconditionFailed (412)"
    )
    stream = _StubStream(fail_close=conflict)

    def fake_exclusive(self, path):
        return stream, True

    monkeypatch.setattr(fsio.Fs, "create_exclusive", fake_exclusive)

    real_lock_path = fsio._lock_path

    def spy_lock_path(spark_, path, suffix):
        fs, lock = real_lock_path(spark_, path, suffix)

        class _FsSpy:
            def __getattr__(self, name):
                if name == "delete":
                    def _del(*a, **k):
                        deleted.append(a)
                        return fs.delete(*a, **k)

                    return _del
                return getattr(fs, name)

        return _FsSpy(), lock

    monkeypatch.setattr(fsio, "_lock_path", spy_lock_path)
    with pytest.raises(RuntimeError, match="locked by another maintenance job"):
        fsio._acquire_lock(spark, str(tmp_path / "store"), RM._LOCK_SUFFIX)
    assert stream.wrote, "the claim body must have been attempted"
    assert not deleted, (
        "a close-time conditional conflict means WE never created the "
        "object — deleting would remove the winner's lock"
    )


def test_gc_backstamps_legacy_unstamped_prev(spark, tmp_path):
    """Upgrade-boundary repair: a store last written by the r11
    flip-first ordering that crashed between flip and stamp has a
    pointer-visible generation with NO stamp. When it arrives as
    ``prev``, GC back-stamps it so its wall-clock grace promise
    survives the upgrade (the current stamp-before-flip publish can
    never create this state itself)."""
    root = str(tmp_path / "root")
    fs = fsio.Fs(spark, root)
    fs.mkdirs(os.path.join(root, "gen-000001"))
    G.publish(root, "gen-000001", fs=fs)
    fs.delete(os.path.join(root, "gen-000001", G.PUBLISHED_AT))  # legacy residue
    fs.mkdirs(os.path.join(root, "gen-000002"))
    G.publish(root, "gen-000002", fs=fs)
    G.gc_generations(root, "gen-000002", "gen-000001", grace_seconds=3600.0, fs=fs)
    assert G.published_at(root, "gen-000001", fs=fs) is not None
    # the restored stamp protects it at the NEXT publish too
    fs.mkdirs(os.path.join(root, "gen-000003"))
    G.publish(root, "gen-000003", fs=fs)
    G.gc_generations(root, "gen-000003", "gen-000002", grace_seconds=3600.0, fs=fs)
    assert "gen-000001" in G.list_generations(root, fs=fs)


class _CondClaimStream:
    """Conditional-claim stream stub that 'commits' whatever write()
    buffered to the REAL lock file at close — modelling the object
    store where the PUT lands at close time."""

    def __init__(self, lockfile, fail_write_after=None, fail_close=False):
        self._lockfile = lockfile
        self._fail_write_after = fail_write_after
        self._fail_close = fail_close
        self._buf = b""

    def write(self, data):
        data = bytes(data)
        if self._fail_write_after is not None:
            self._buf += data[: self._fail_write_after]
            raise Exception("java.net.SocketException: write reset")
        self._buf += data

    def close(self):
        with open(self._lockfile, "wb") as fh:
            fh.write(self._buf)
        if self._fail_close:
            raise Exception("java.net.SocketException: reset after commit")


@pytest.mark.parametrize(
    "fail_write_after,fail_close",
    [
        (0, False),    # write failed, close committed an EMPTY object
        (5, False),    # write failed mid-buffer: PARTIAL own prefix
        (None, True),  # write landed, close errored after committing
    ],
)
def test_acquire_lock_cleans_up_provably_own_conditional_residue(
    spark, tmp_path, monkeypatch, fail_write_after, fail_close
):
    """A failed conditional claim whose landed body is a byte-prefix of
    OUR payload (empty / partial / complete) is this writer's residue
    and must be removed — otherwise maintenance blocks for the full
    stale-age window with the pid-liveness breaker refusing to help
    (the holder pid is alive: it's us)."""
    from data_pipeline_with_big_data_stack_spark.operators import (
        rollup_maintenance as RM,
    )

    store = str(tmp_path / "store")
    lockfile = store + RM._LOCK_SUFFIX

    def fake_exclusive(self, path):
        return _CondClaimStream(
            lockfile, fail_write_after=fail_write_after, fail_close=fail_close
        ), True

    monkeypatch.setattr(fsio.Fs, "create_exclusive", fake_exclusive)
    with pytest.raises(Exception, match="SocketException"):
        fsio._acquire_lock(spark, store, RM._LOCK_SUFFIX)
    assert not os.path.exists(lockfile), (
        "own conditional residue must be cleaned up"
    )
    # and the store is immediately usable: the next claim succeeds
    monkeypatch.undo()
    lease = fsio._acquire_lock(spark, store, RM._LOCK_SUFFIX)
    lease.release()


def test_acquire_lock_never_deletes_foreign_conditional_lock(
    spark, tmp_path, monkeypatch
):
    """The mirror pin: when the surviving body is NOT a prefix of our
    payload it belongs to a live winner — a failed conditional claim
    must leave it untouched."""
    from data_pipeline_with_big_data_stack_spark.operators import (
        rollup_maintenance as RM,
    )

    store = str(tmp_path / "store")
    lockfile = store + RM._LOCK_SUFFIX
    foreign = "99999@otherhost 1700000000.000\n"
    os.makedirs(store, exist_ok=True)
    with open(lockfile, "w") as fh:
        fh.write(foreign)

    class _NeverLands:
        def write(self, data):
            raise Exception("java.net.SocketException: write reset")

        def close(self):
            pass  # nothing of ours ever lands

    monkeypatch.setattr(
        fsio.Fs, "create_exclusive", lambda self, path: (_NeverLands(), True)
    )
    with pytest.raises(Exception, match="SocketException"):
        fsio._acquire_lock(spark, store, RM._LOCK_SUFFIX)
    assert open(lockfile).read() == foreign, (
        "a foreign lock body must never be deleted by a failed claim"
    )


def test_manifested_read_partition_prunes_referenced_groups(spark, tmp_path):
    """Physical pin for the layout's scale claim: a filter on the
    partition column prunes files inside BOTH the self scan and the
    referenced basePath group — the numFiles scan metric of a pruned
    read stays below the full read's, exactly as on a plain tree."""
    root = str(tmp_path / "root")
    fs = fsio.Fs(spark, root)
    t1 = os.path.join(root, "gen-000001", "t")
    t2 = os.path.join(root, "gen-000002", "t")
    for c in range(4):
        _write(spark, os.path.join(t1, f"cell_id={c}"), [(c, "old")])
    segman.write_manifest(
        fs,
        t2,
        {f"cell_id={c}": [os.path.join(t1, f"cell_id={c}")] for c in range(4)},
        merge="union",
    )
    for c in range(4):  # the append delta: physical files in gen-2
        _write(spark, os.path.join(t2, f"cell_id={c}"), [(10 + c, "new")])

    def n_files(df):
        df.collect()
        leaves = df._jdf.queryExecution().executedPlan().collectLeaves()
        return sum(
            leaves.apply(i).metrics().apply("numFiles").value()
            for i in range(leaves.size())
            if leaves.apply(i).metrics().contains("numFiles")
        )

    full = n_files(segman.read_table(spark, fs, t2))
    pruned_df = segman.read_table(spark, fs, t2).filter("cell_id = 2")
    pruned = n_files(pruned_df)
    assert pruned < full, f"pruned read {pruned}/{full} files"
    assert pruned == 2, (  # one self file + one referenced file
        f"expected exactly the two cell_id=2 files, read {pruned}"
    )
    assert _tuples(pruned_df) == [(2, "old"), (12, "new")]


# ---------------------------------------------------------------- #
# Manifest lists (the Iceberg-style split past PART_THRESHOLD):     #
# partition-range chunks as immutable content-addressed part files, #
# shared across generations by reference and GC'd like segments.    #
# ---------------------------------------------------------------- #


def test_chunk_key_is_range_stable_with_hash_fallback():
    """Integer ``k=v`` names chunk by value range — membership never
    shifts when OTHER partitions appear, which is what makes an
    untouched chunk's content (hence its content-hash filename)
    reusable across generations — and non-integer names fall back to a
    stable hash bucket."""
    assert segman._chunk_key("cell_id=0") == segman._chunk_key("cell_id=255")
    assert segman._chunk_key("cell_id=255") != segman._chunk_key("cell_id=256")
    assert segman._chunk_key("cell_id=300") == "cell_id=256"
    assert segman._chunk_key("cell_id=-1") == f"cell_id={-segman.PART_GROUP}"
    assert segman._chunk_key(".").startswith("h=")
    assert segman._chunk_key("name=abc").startswith("h=")
    assert segman._chunk_key("name=abc") == segman._chunk_key("name=abc")


def _split_refs(spark, t1, n):
    refs = {}
    for i in range(n):
        d = os.path.join(t1, f"batch_id={i}")
        _write(spark, d, [(i, "a")])
        refs[f"batch_id={i}"] = [d]
    return refs


def test_manifest_list_splits_and_reads_back_identically(
    spark, tmp_path, monkeypatch
):
    """Past the threshold the root manifest holds only the chunk map;
    refs live in dot-dir part files Spark's index never sees; and
    read_manifest/read_table return exactly what the inline format
    would."""
    monkeypatch.setattr(segman, "PART_THRESHOLD", 0)
    monkeypatch.setattr(segman, "PART_GROUP", 4)
    root = str(tmp_path / "root")
    fs = fsio.Fs(spark, root)
    t1 = os.path.join(root, "gen-000001", "t")
    t2 = os.path.join(root, "gen-000002", "t")
    refs = _split_refs(spark, t1, 10)
    segman.write_manifest(fs, t2, refs, merge="shadow")
    raw = json.loads(fs.read_text(os.path.join(t2, segman.MANIFEST)))
    assert "refs" not in raw
    assert set(raw["parts"]) == {"batch_id=0", "batch_id=4", "batch_id=8"}
    assert all(
        p.startswith("gen-000002/t/" + segman.PARTS_DIR + "/part-")
        for p in raw["parts"].values()
    ), "locally written parts must be stored root-relative"
    man = segman.read_manifest(fs, t2)
    assert man["refs"] == {
        f"batch_id={i}": [f"gen-000001/t/batch_id={i}"] for i in range(10)
    }
    assert _tuples(segman.read_table(spark, fs, t2)) == [
        (i, "a") for i in range(10)
    ]


def test_manifest_list_reuses_unchanged_chunks_by_reference(
    spark, tmp_path, monkeypatch
):
    """A successor manifest that only touched one chunk writes ONE new
    part file and references the predecessor's part files for every
    untouched chunk — O(touched partitions) manifest writes per
    publish, the whole point of the split."""
    monkeypatch.setattr(segman, "PART_THRESHOLD", 0)
    monkeypatch.setattr(segman, "PART_GROUP", 4)
    root = str(tmp_path / "root")
    fs = fsio.Fs(spark, root)
    t1 = os.path.join(root, "gen-000001", "t")
    t2 = os.path.join(root, "gen-000002", "t")
    t3 = os.path.join(root, "gen-000003", "t")
    refs = _split_refs(spark, t1, 10)
    segman.write_manifest(fs, t2, refs, merge="shadow")
    d10 = os.path.join(t1, "batch_id=10")
    _write(spark, d10, [(10, "a")])
    refs3 = dict(refs, **{"batch_id=10": [d10]})
    segman.write_manifest(fs, t3, refs3, merge="shadow", reuse_from=t2)
    raw3 = json.loads(fs.read_text(os.path.join(t3, segman.MANIFEST)))
    assert raw3["parts"]["batch_id=0"].startswith("gen-000002/t/")
    assert raw3["parts"]["batch_id=4"].startswith("gen-000002/t/")
    assert raw3["parts"]["batch_id=8"].startswith("gen-000003/t/")
    own = fs.list_names(os.path.join(t3, segman.PARTS_DIR))
    assert len(own) == 1, "only the touched chunk may be rewritten"
    man = segman.read_manifest(fs, t3)
    assert set(man["refs"]) == {f"batch_id={i}" for i in range(11)}
    assert _tuples(segman.read_table(spark, fs, t3)) == [
        (i, "a") for i in range(11)
    ]


def test_manifest_list_shadow_physical_partition_wins(
    spark, tmp_path, monkeypatch
):
    """Shadow-merge semantics are format-independent: a physical
    partition in the table dir supersedes a reference that happens to
    live inside a part file (a replayed epoch's static overwrite must
    win exactly as it does on an inline manifest)."""
    monkeypatch.setattr(segman, "PART_THRESHOLD", 0)
    monkeypatch.setattr(segman, "PART_GROUP", 4)
    root = str(tmp_path / "root")
    fs = fsio.Fs(spark, root)
    t1 = os.path.join(root, "gen-000001", "t")
    t2 = os.path.join(root, "gen-000002", "t")
    segman.write_manifest(fs, t2, _split_refs(spark, t1, 6), merge="shadow")
    _write(spark, os.path.join(t2, "batch_id=3"), [(33, "replayed")])
    assert "batch_id=3" not in segman.resolve_refs(fs, t2)
    got = _tuples(segman.read_table(spark, fs, t2))
    assert (33, "replayed") in got and (3, "a") not in got


def test_gc_keeps_part_files_referenced_by_live_manifests(
    spark, tmp_path, monkeypatch
):
    """The GC liveness set includes part files: a superseded generation
    whose PART FILES a live manifest still references is pruned down to
    those parts (three levels deep — the recursive prune), and the live
    table reads identically after the prune."""
    monkeypatch.setattr(segman, "PART_THRESHOLD", 0)
    monkeypatch.setattr(segman, "PART_GROUP", 4)
    root = str(tmp_path / "root")
    fs = fsio.Fs(spark, root)
    t1 = os.path.join(root, "gen-000001", "t")
    t2 = os.path.join(root, "gen-000002", "t")
    t3 = os.path.join(root, "gen-000003", "t")
    refs = _split_refs(spark, t1, 10)
    segman.write_manifest(fs, t2, refs, merge="shadow")
    # gen2 also owns a physical partition nothing will reference
    _write(spark, os.path.join(t2, "batch_id=90"), [(90, "dead")])
    G.publish(root, "gen-000002", fs=fs)
    # gen3 reuses gen2's parts for chunks 0/4 and rewrites chunk 8
    d10 = os.path.join(t1, "batch_id=10")
    _write(spark, d10, [(10, "a")])
    segman.write_manifest(
        fs, t3, dict(refs, **{"batch_id=10": [d10]}), merge="shadow",
        reuse_from=t2,
    )
    G.publish(root, "gen-000003", fs=fs)
    G.gc_generations(root, "gen-000003", None, fs=fs)
    gens = G.list_generations(root, fs=fs)
    assert {"gen-000001", "gen-000002", "gen-000003"} <= set(gens)
    # gen2 pruned to exactly its two still-referenced part files
    kept = [
        os.path.join(dp, f)
        for dp, _d, names in os.walk(os.path.join(root, "gen-000002"))
        for f in names
    ]
    assert len(kept) == 2 and all(
        segman.PARTS_DIR in p and os.path.basename(p).startswith("part-")
        for p in kept
    ), f"gen2 must keep only referenced parts, kept: {kept}"
    assert not fs.exists(os.path.join(t2, "batch_id=90"))
    assert not fs.exists(os.path.join(t2, segman.MANIFEST))
    assert _tuples(segman.read_table(spark, fs, t3)) == [
        (i, "a") for i in range(11)
    ]
    # a full rewrite that drops every reference reclaims gen1 AND gen2
    t4 = os.path.join(root, "gen-000004", "t")
    _write(spark, os.path.join(t4, "batch_id=0"), [(0, "compacted")])
    G.publish(root, "gen-000004", fs=fs)
    G.gc_generations(root, "gen-000004", None, fs=fs)
    assert G.list_generations(root, fs=fs) == ["gen-000004"]


def test_read_table_selective_logicals_prunes_part_reads(
    spark, tmp_path, monkeypatch
):
    """Selective resolution (``read_table(..., logicals=...)``) is the
    metadata-side twin of partition pruning: a reader probing one
    partition fetches exactly ONE part file, not every chunk; probing
    an absent partition falls back to the full resolution and stays an
    empty result, parity with the unrestricted read + filter."""
    monkeypatch.setattr(segman, "PART_THRESHOLD", 0)
    monkeypatch.setattr(segman, "PART_GROUP", 4)
    root = str(tmp_path / "root")
    fs = fsio.Fs(spark, root)
    t1 = os.path.join(root, "gen-000001", "t")
    t2 = os.path.join(root, "gen-000002", "t")
    segman.write_manifest(fs, t2, _split_refs(spark, t1, 10), merge="shadow")
    reads: list[str] = []
    orig = fsio.Fs.read_text

    def counting(self, p):
        reads.append(p)
        return orig(self, p)

    monkeypatch.setattr(fsio.Fs, "read_text", counting)
    df = segman.read_table(spark, fs, t2, logicals={"batch_id=5"})
    assert _tuples(df.filter("k = 5")) == [(5, "a")]
    part_reads = [p for p in reads if segman.PARTS_DIR in p]
    assert len(part_reads) == 1, f"expected one probed chunk, read {part_reads}"
    absent = segman.read_table(spark, fs, t2, logicals={"batch_id=99"})
    assert absent.filter("k = 99").count() == 0


def test_parts_path_safety_not_waived_by_valid_refs(spark, tmp_path):
    """A valid inline ``refs`` dict must never waive the ``parts``
    path-safety check: an absolute (or traversing) part path would be
    joined under the store root and escape it at read time."""
    root = str(tmp_path / "root")
    fs = fsio.Fs(spark, root)
    t = os.path.join(root, "gen-000001", "t")
    for bad in ("/etc/passwd", "../outside/part.json", "s3a://bkt/p.json"):
        fs.write_text_atomic(
            os.path.join(t, segman.MANIFEST),
            json.dumps({"merge": "union", "refs": {}, "parts": {"a": bad}}),
        )
        with pytest.raises(ValueError, match="malformed segment manifest"):
            segman.read_manifest(fs, t)
    # and a non-dict refs alongside valid parts is malformed too
    fs.write_text_atomic(
        os.path.join(t, segman.MANIFEST),
        json.dumps({"merge": "union", "refs": [1], "parts": {}}),
    )
    with pytest.raises(ValueError, match="malformed segment manifest"):
        segman.read_manifest(fs, t)


def test_chunk_key_never_raises_on_hostile_values():
    """Values ``int()`` rejects but ``isdigit``-style checks admit
    (double negatives, unicode superscripts) must hash-bucket, not
    crash a publish mid-lifecycle."""
    assert segman._chunk_key("x=--5").startswith("h=")
    assert segman._chunk_key("x=\u00b2").startswith("h=")
    assert segman._chunk_key("x=").startswith("h=")
    assert segman._chunk_key("x=+5") == "x=0"


def test_selective_read_uses_persisted_group_not_live_constant(
    spark, tmp_path, monkeypatch
):
    """The chunk-group width rides in the root manifest: a store
    written under one PART_GROUP stays selectively readable (and
    reusable-from) after the constant is retuned — recomputing keys
    with the live constant would silently drop carried partitions."""
    monkeypatch.setattr(segman, "PART_THRESHOLD", 0)
    monkeypatch.setattr(segman, "PART_GROUP", 4)
    root = str(tmp_path / "root")
    fs = fsio.Fs(spark, root)
    t1 = os.path.join(root, "gen-000001", "t")
    t2 = os.path.join(root, "gen-000002", "t")
    refs = _split_refs(spark, t1, 10)
    segman.write_manifest(fs, t2, refs, merge="shadow")
    raw = json.loads(fs.read_text(os.path.join(t2, segman.MANIFEST)))
    assert raw["group"] == 4
    monkeypatch.setattr(segman, "PART_GROUP", 8)  # retuned release
    df = segman.read_table(spark, fs, t2, logicals={"batch_id=5"})
    assert _tuples(df.filter("k = 5")) == [(5, "a")]
    # and reuse across the retune is refused (different chunking), so
    # the successor rewrites all chunks under the new width
    t3 = os.path.join(root, "gen-000003", "t")
    segman.write_manifest(fs, t3, refs, merge="shadow", reuse_from=t2)
    raw3 = json.loads(fs.read_text(os.path.join(t3, segman.MANIFEST)))
    assert raw3["group"] == 8
    assert all(p.startswith("gen-000003/t/") for p in raw3["parts"].values())


def test_part_fragment_refs_share_the_path_safety_predicate(
    spark, tmp_path, monkeypatch
):
    """A part FRAGMENT's ref paths are joined under the store root
    exactly like the root manifest's refs — a crafted part with an
    absolute or traversing path must raise the contractual
    malformed-part error, not silently read outside the root."""
    monkeypatch.setattr(segman, "PART_THRESHOLD", 0)
    root = str(tmp_path / "root")
    fs = fsio.Fs(spark, root)
    t1 = os.path.join(root, "gen-000001", "t")
    t2 = os.path.join(root, "gen-000002", "t")
    segman.write_manifest(fs, t2, _split_refs(spark, t1, 2), merge="union")
    parts_dir = os.path.join(t2, segman.PARTS_DIR)
    victim = os.path.join(parts_dir, fs.list_names(parts_dir)[0])
    for bad in (
        {"refs": {"batch_id=0": ["/etc"]}},
        {"refs": {"batch_id=0": ["../../outside"]}},
        {"refs": {"batch_id=0": 5}},
    ):
        fs.write_text_atomic(victim, json.dumps(bad))
        with pytest.raises(ValueError, match="malformed manifest part"):
            segman.read_manifest(fs, t2)


def test_group_field_is_validated_with_the_manifest(spark, tmp_path):
    """A zero / non-integer persisted ``group`` must raise the
    contractual malformed-manifest error at read time, not a raw
    ZeroDivisionError/TypeError inside a selective search."""
    root = str(tmp_path / "root")
    fs = fsio.Fs(spark, root)
    t = os.path.join(root, "gen-000001", "t")
    for bad in (0, -4, "x", True):
        fs.write_text_atomic(
            os.path.join(t, segman.MANIFEST),
            json.dumps({"merge": "union", "group": bad, "parts": {}}),
        )
        with pytest.raises(ValueError, match="malformed segment manifest"):
            segman.read_manifest(fs, t)


def test_parts_manifest_without_group_is_malformed(spark, tmp_path):
    """ADVICE r12: a parts manifest MISSING the persisted group must be
    rejected, not silently combined with the live PART_GROUP constant —
    the writer always emits group with parts, so absence means a
    hand-edited/corrupted manifest, and defaulting would recreate the
    retune hazard the persisted width exists to prevent."""
    root = str(tmp_path / "root")
    fs = fsio.Fs(spark, root)
    t = os.path.join(root, "gen-000001", "t")
    fs.write_text_atomic(
        os.path.join(t, segman.MANIFEST),
        json.dumps({"merge": "union", "parts": {}}),
    )
    with pytest.raises(ValueError, match="malformed segment manifest"):
        segman.read_manifest(fs, t)
    # an inline-refs manifest (no parts) legitimately has no group
    fs.write_text_atomic(
        os.path.join(t, segman.MANIFEST),
        json.dumps({"merge": "union", "refs": {"p=0": ["gen-000000/t/p=0"]}}),
    )
    assert segman.read_manifest(fs, t)["refs"] == {"p=0": ["gen-000000/t/p=0"]}


def test_inline_refs_share_the_path_safety_predicate_on_read(spark, tmp_path):
    """Inline ``refs`` values are joined under the store root exactly
    like part paths — read-side validation must reject absolute or
    traversing paths there too, not only in the parts map."""
    root = str(tmp_path / "root")
    fs = fsio.Fs(spark, root)
    t = os.path.join(root, "gen-000001", "t")
    for bad in ("/etc", "../outside", "hdfs://nn/x"):
        fs.write_text_atomic(
            os.path.join(t, segman.MANIFEST),
            json.dumps({"merge": "union", "refs": {"p=0": [bad]}}),
        )
        with pytest.raises(ValueError, match="malformed segment manifest"):
            segman.read_manifest(fs, t)


def test_manifest_list_width_stress_metadata_ops_bounded(
    spark, tmp_path, monkeypatch
):
    """VERDICT r12 stretch: a store with 10^4 logical partitions across
    split manifests, pinned at realistic width. Deterministic
    small-object-READ-COUNT pins (wall-time flakes on a shared host;
    an op-count regression is what would MAKE wall-time grow):
      * a selective read fetches O(probed chunks) part files — 3 probed
        cells of 10,000 partitions cost <= 4 part reads;
      * GC's liveness pass reads each kept manifest's part files ONCE —
        O(parts), never O(parts x partitions) — and the pruned store
        still resolves every partition.
    """
    monkeypatch.setattr(segman, "PART_GROUP", 16)
    root = str(tmp_path / "root")
    fs = fsio.Fs(spark, root)
    N = 10_000
    t1 = os.path.join(root, "gen-000001", "t")
    refs = {}
    for i in range(N):  # plain-os creation: 10^4 dirs in ~a second
        d = os.path.join(t1, f"cell_id={i}")
        os.makedirs(d)
        with open(os.path.join(d, "data.txt"), "w") as fh:
            fh.write("x")
        refs[f"cell_id={i}"] = [d]
    t2 = os.path.join(root, "gen-000002", "t")
    segman.write_manifest(fs, t2, refs, merge="union")
    raw = json.loads(fs.read_text(os.path.join(t2, segman.MANIFEST)))
    n_parts = len(raw["parts"])
    assert n_parts == 625  # 10^4 integer partitions / group 16

    calls: list[str] = []
    orig_read = fs.read_text
    monkeypatch.setattr(
        fs, "read_text", lambda p: (calls.append(p), orig_read(p))[1]
    )

    # --- selective read: part fetches scale with PROBED cells
    man = segman.read_manifest(
        fs, t2, logicals={"cell_id=0", "cell_id=5000", "cell_id=9999"}
    )
    part_reads = [p for p in calls if segman.PARTS_DIR in p]
    assert len(part_reads) <= 4, part_reads
    assert set(man["refs"]) == {"cell_id=0", "cell_id=5000", "cell_id=9999"}

    # --- GC at width: gen3 touches ONE chunk, reuses 625 by reference
    G.publish(root, "gen-000002", fs=fs)
    d_new = os.path.join(t1, f"cell_id={N}")
    os.makedirs(d_new)
    with open(os.path.join(d_new, "data.txt"), "w") as fh:
        fh.write("x")
    t3 = os.path.join(root, "gen-000003", "t")
    segman.write_manifest(
        fs, t3, dict(refs, **{f"cell_id={N}": [d_new]}),
        merge="union", reuse_from=t2,
    )
    own = fs.list_names(os.path.join(t3, segman.PARTS_DIR))
    assert len(own) == 1, "one touched chunk => one new part file"
    G.publish(root, "gen-000003", fs=fs)
    calls.clear()
    G.gc_generations(root, "gen-000003", None, fs=fs)
    part_reads = [p for p in calls if segman.PARTS_DIR in p]
    # kept = {gen3 (626 parts), gen2 (625 parts)}: each read once
    assert len(part_reads) <= 2 * (n_parts + 1) + 4, len(part_reads)
    # the live table still resolves all 10,001 partitions post-GC
    man3 = segman.read_manifest(fs, t3)
    assert len(man3["refs"]) == N + 1
    # and every referenced data dir survived the prune of gen1
    assert os.path.exists(os.path.join(t1, "cell_id=0", "data.txt"))
    assert os.path.exists(os.path.join(t1, f"cell_id={N - 1}", "data.txt"))
