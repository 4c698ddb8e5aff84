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


def test_read_table_selective_logicals_skips_unprobed_groups(spark, tmp_path):
    """Selective resolution (``read_table(..., logicals=...)``) is the
    metadata-side twin of partition pruning: a reader probing one
    partition scans only the referenced group that holds it, never the
    groups of un-probed partitions; probing an absent partition falls
    back to the full resolution and stays an empty result, parity with
    the unrestricted read + filter."""
    root = str(tmp_path / "root")
    fs = fsio.Fs(spark, root)
    refs = {}
    for i in range(6):  # two referenced groups: gen-1 and gen-2
        d = os.path.join(root, f"gen-00000{1 + i // 3}", "t", f"batch_id={i}")
        _write(spark, d, [(i, "a")])
        refs[f"batch_id={i}"] = [d]
    t3 = os.path.join(root, "gen-000003", "t")
    segman.write_manifest(fs, t3, refs, merge="shadow")
    df = segman.read_table(spark, fs, t3, logicals={"batch_id=4"})
    assert _tuples(df.filter("batch_id = 4")) == [(4, "a")]
    files = df.inputFiles()
    assert files and all("/gen-000002/t/batch_id=4/" in f for f in files), files
    absent = segman.read_table(spark, fs, t3, logicals={"batch_id=99"})
    assert absent.filter("batch_id = 99").count() == 0
    assert len(absent.inputFiles()) == 6


def test_parts_path_safety_not_waived_by_valid_refs(spark, tmp_path):
    """A manifest that carries the retired ``parts`` key beside a valid
    inline ``refs`` dict is refused, never read as just its refs (here:
    an empty table), whatever its part paths point at."""
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
    # and a non-dict refs is malformed too
    fs.write_text_atomic(
        os.path.join(t, segman.MANIFEST),
        json.dumps({"merge": "union", "refs": [1], "parts": {}}),
    )
    with pytest.raises(ValueError, match="malformed segment manifest"):
        segman.read_manifest(fs, t)


def test_parts_manifest_without_group_is_malformed(spark, tmp_path):
    """A manifest in the retired split form (a ``parts`` chunk map and
    no inline ``refs``) is refused as malformed, naming its table, never
    read as an empty table; and GC that keeps its generation cannot
    establish liveness, so it deletes nothing that cycle."""
    root = str(tmp_path / "root")
    fs = fsio.Fs(spark, root)
    seg = os.path.join(root, "gen-000001", "t", "batch_id=0")
    _write(spark, seg, [(0, "a")])
    t = os.path.join(root, "gen-000002", "t")
    fs.write_text_atomic(
        os.path.join(t, segman.MANIFEST),
        json.dumps(
            {
                "merge": "shadow",
                "parts": {"batch_id=0": "gen-000002/t/.manifest-parts/p.json"},
            }
        ),
    )
    with pytest.raises(ValueError, match="malformed segment manifest") as err:
        segman.read_table(spark, fs, t)
    assert repr(t) in str(err.value)
    G.publish(root, "gen-000002", fs=fs)
    with pytest.warns(RuntimeWarning, match="could not establish manifest liveness"):
        G.gc_generations(root, "gen-000002", None, fs=fs)
    assert G.list_generations(root, fs=fs) == ["gen-000001", "gen-000002"]
    assert os.path.exists(seg)
    # an inline-refs manifest legitimately has no group
    fs.write_text_atomic(
        os.path.join(t, segman.MANIFEST),
        json.dumps({"merge": "union", "refs": {"p=0": ["gen-000000/t/p=0"]}}),
    )
    assert segman.read_manifest(fs, t)["refs"] == {"p=0": ["gen-000000/t/p=0"]}


def test_inline_refs_share_the_path_safety_predicate_on_read(spark, tmp_path):
    """Inline ``refs`` values are joined under the store root at read
    time — read-side validation must reject absolute or traversing
    paths, not only the writer's normalization."""
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
