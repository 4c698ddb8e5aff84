"""Generation-pointer machinery shared by the versioned stores.

The reference serves analytics from immutable Druid segment versions
swapped atomically under readers (`M/druid-goes-satellite-datasource.json`
— a new segment version becomes queryable only when fully published).
This module is that protocol reduced to its filesystem primitives, so
any materialized store in the engine can adopt it:

* writers materialize a whole new ``gen-NNNNNN/`` directory,
* publish it by atomically replacing a ``_CURRENT`` pointer file
  (write-temp + atomic rename) and stamping the generation with its
  publish time,
* GC every generation except the new one, its immediate predecessor —
  the predecessor is the READER GRACE generation: a reader that
  resolved the old pointer keeps a fully intact tree until two further
  publishes happen, so maintenance never pauses serving — and (when the
  store opts in) any generation published within the last
  ``grace_seconds``, so the serving contract is a wall-clock promise
  independent of how often the writer publishes,
* a generation may REFERENCE immutable segment directories inside
  older generations instead of copying them (`operators/segman` — a
  carry moves zero bytes on every scheme); GC deletes
  only what no kept generation's manifests reference, pruning rather
  than dropping a superseded generation that still hosts live segments,
* orphan generations (a writer crashed after materializing, before
  publishing) are never pointer-visible and vanish at the next GC.

Users: ``operators/ann_index_versioned`` (the IVF-PQ index root) and
``operators/dedup_ingest`` (the streaming-dedup store's compactor).

Every filesystem touch goes through ``operators/fsio`` — the JVM's
Hadoop ``FileSystem`` API resolved from the root's scheme — so the
protocol runs unchanged on ``file:``, ``hdfs:`` or object-store roots;
no step copies data. Call sites that hold a store handle pass its
cached ``fs``; the ``fs=None`` default resolves one from the live
SparkSession for the pre-port public signatures.
"""

from __future__ import annotations

import time

from data_pipeline_with_big_data_stack_spark.operators import fsio

POINTER = "_CURRENT"
GEN_PREFIX = "gen-"
# publish-time stamp inside each generation (dot-prefixed — invisible
# to Spark's file index, like the dedup store's fold marker)
PUBLISHED_AT = ".published_at"


def _join(*parts: str) -> str:
    return "/".join(p.rstrip("/") for p in parts)


def gen_name(n: int) -> str:
    return f"{GEN_PREFIX}{n:06d}"


# Single-writer guard of a store root: every writer of the generation
# stores (`ann_index_versioned`, `dedup_ingest`, `substring_ingest`)
# materializes, publishes and GCs under it, so two writers never race
# for one generation name or GC each other's work. It is the `fsio`
# lock lease the rollup store's maintenance lock also uses (pid@host
# payload, automatic stale-holder reclaim), under its own suffix.
_INDEX_LOCK_SUFFIX = ".__index_lock"


def _index_write_lock(spark, path: str):
    """Acquire the store root's single-writer lock; returns a heartbeat
    lease — caller calls ``lease.release()`` in a finally."""
    fsio.break_stale_lock(spark, path, _INDEX_LOCK_SUFFIX)
    return fsio._acquire_lock(spark, path, _INDEX_LOCK_SUFFIX)


def list_generations(root: str, fs: fsio.Fs | None = None) -> list[str]:
    fs = fs or fsio.default_fs(root)
    return sorted(
        d
        for d in fs.list_dir_names(root, missing_ok=True)
        if d.startswith(GEN_PREFIX)
    )


def read_current_or_none(root: str, fs: fsio.Fs | None = None) -> str | None:
    """Like :func:`read_current` but None when the pointer does not
    exist yet — for writers (initial build, re-init) that must pass the
    previously-published generation to :func:`gc_generations`."""
    fs = fs or fsio.default_fs(root)
    try:
        gen = fs.read_text(_join(root, POINTER)).strip()
    except FileNotFoundError:
        return None
    return gen if gen and fs.is_dir(_join(root, gen)) else None


def read_current(
    root: str,
    init_hint: str = "the store's init/build op",
    fs: fsio.Fs | None = None,
) -> str:
    """Resolve the live generation name. Readers call this ONCE per
    query and then touch only that generation's files."""
    fs = fs or fsio.default_fs(root)
    ptr = _join(root, POINTER)
    try:
        gen = fs.read_text(ptr).strip()
    except FileNotFoundError:
        raise FileNotFoundError(
            f"versioned store at {root!r} has no {POINTER} pointer — "
            f"not initialized ({init_hint}) or externally damaged"
        ) from None
    if not gen or not fs.is_dir(_join(root, gen)):
        raise RuntimeError(
            f"versioned store pointer {ptr!r} names {gen!r} which does "
            f"not exist — externally damaged; rebuild with {init_hint}"
        )
    return gen


def publish(root: str, gen: str, fs: fsio.Fs | None = None) -> None:
    """Stamp the generation with its publish time (the age signal
    :func:`gc_generations`'s ``grace_seconds`` reads), then atomically
    flip the pointer to ``gen``. Stamp BEFORE the flip — the crash
    window between the two writes must fail in the cheap direction: a
    crash after stamp/before flip leaves a STAMPED ORPHAN, which is
    never pointer-visible and costs at most one grace window of disk
    before the age rule reclaims it; the r11 order (flip first) instead
    left a PUBLISHED generation with no stamp, which a later GC would
    treat as an orphan and delete INSIDE the promised reader window —
    garbage retention is recoverable, a broken serving contract is not.
    Ordinary unstamped orphans (writer crashed before publish was ever
    called) still vanish at the next GC regardless of grace."""
    fs = fs or fsio.default_fs(root)
    fs.write_text_atomic(_join(root, gen, PUBLISHED_AT), f"{time.time():.3f}\n")
    fs.write_text_atomic(_join(root, POINTER), gen + "\n")


def published_at(root: str, gen: str, fs: fsio.Fs | None = None) -> float | None:
    """Publish time of ``gen`` by the STORAGE system's clock — the
    stamp file's mtime, not its content: the GC's age comparison must
    use one clock for both sides, and two drivers' wall clocks can
    disagree by more than a grace window. The content carries the
    publisher's wall time for humans. None: never published (or
    stamped by a pre-port writer with no stamp at all)."""
    fs = fs or fsio.default_fs(root)
    return fs.mtime(_join(root, gen, PUBLISHED_AT))


def gc_generations(
    root: str,
    new: str,
    prev: str | None,
    grace_seconds: float = 0.0,
    fs: fsio.Fs | None = None,
) -> None:
    """Reclaim superseded generations, keeping ``new``, ``prev`` — the
    generation that was PUBLISHED before this publish (the reader grace
    generation), passed explicitly by the writer that just resolved it
    — and, with ``grace_seconds`` > 0, any generation PUBLISHED within
    that window (so a slow reader's contract is wall-clock time, not
    "fewer than two publishes" — a self-maintaining drain can publish
    on every fold without shrinking the serving window). Inferring the
    grace generation from the directory listing is wrong: a crashed
    writer's unpublished orphan can sort between the real predecessor
    and ``new``, and a listing-based GC would then keep the
    half-written orphan while deleting the very tree an in-flight
    reader resolved. With ``prev`` explicit, orphans (never equal to
    either, and never carrying a publish stamp) always vanish here.

    MANIFEST LIVENESS (`operators/segman`): a kept generation's tables
    may REFERENCE physical directories inside older generations instead
    of owning copies (that is what makes carries zero-copy on every
    scheme). GC therefore deletes only what no kept
    generation's manifests reference: a superseded generation whose
    segments are still referenced is PRUNED — its unreferenced
    partitions, markers and publish stamp go, the referenced segment
    dirs stay in place — and vanishes entirely once later rewrites
    (folds, compactions, retrains) stop referencing it.

    Ages are measured entirely on the STORAGE system's clock: each
    stamp's mtime against the mtime of ``new``'s own publish stamp,
    which :func:`publish` wrote moments ago with the same clock —
    never against this driver's ``time.time()``, which another
    publisher's clock may lead or trail by more than the whole window.
    If that probe mtime cannot be read, the age rule FAILS CLOSED
    (ADVICE r11): no stamped generation is deleted this cycle —
    deleting inside a promised reader window is the one unacceptable
    outcome; unstamped orphans still vanish. The publish-crash window
    needs no repair for CURRENT stores: :func:`publish` stamps BEFORE
    the pointer flip, so a published generation always carries its
    stamp (a crash can only leave a stamped, never-published orphan,
    reclaimed once its window ages out — ADVICE r11). A ``prev`` with
    no stamp can only be residue of the r11 flip-first ordering; it is
    back-stamped here, best-effort, to carry its grace promise across
    the upgrade boundary."""
    fs = fs or fsio.default_fs(root)
    from data_pipeline_with_big_data_stack_spark.operators import segman

    import warnings

    kept = {new, prev} if prev else {new}
    # EVERYTHING from here on is post-publish housekeeping: the store is
    # already consistent, so no failure below may abort the writer
    # operation (or kill a whole streaming drain) — each step either
    # degrades fail-closed (delete less) with a warning, or is retried
    # wholesale by the next publish's GC.
    try:
        gens = list_generations(root, fs)
        if grace_seconds > 0:
            if (
                prev is not None
                and published_at(root, prev, fs) is None
                and fs.is_dir(_join(root, prev))
            ):
                # LEGACY residue only: a store last written by the r11
                # code (which flipped before stamping) that crashed in
                # that window has a pointer-visible generation with no
                # stamp. The current publish() order cannot create this
                # state; back-stamp it here (best-effort) so its grace
                # promise survives the upgrade boundary.
                try:
                    fs.write_text_atomic(
                        _join(root, prev, PUBLISHED_AT), f"{time.time():.3f}\n"
                    )
                except Exception as exc:  # noqa: BLE001 - legacy-only repair
                    warnings.warn(
                        f"could not back-stamp legacy grace predecessor "
                        f"{prev!r} under {root!r} ({exc})",
                        RuntimeWarning,
                        stacklevel=2,
                    )
            now = published_at(root, new, fs)
            for g in gens:
                if g in kept:
                    continue
                ts = published_at(root, g, fs)
                if ts is None:
                    continue  # unstamped: orphan or already-pruned remnant
                if now is None or (now - ts) < grace_seconds:
                    kept.add(g)  # now is None → fail closed for stamped gens
        live_refs: set[str] = set()
        for g in kept:
            live_refs |= segman.referenced_rel_paths(fs, _join(root, g))
    except Exception as exc:  # noqa: BLE001 - liveness unknown → fail closed
        # a transient read error or one damaged manifest in a KEPT
        # generation means the live-reference set cannot be trusted —
        # deleting anything could destroy a referenced segment, so this
        # cycle deletes nothing and the next publish's GC retries
        warnings.warn(
            f"generation GC under {root!r} skipped this cycle — could not "
            f"establish manifest liveness ({exc})",
            RuntimeWarning,
            stacklevel=2,
        )
        return
    for g in gens:
        if g in kept:
            continue
        # best-effort: GC runs AFTER a successful publish, so a delete
        # blocked by e.g. a reader's open handle on an NFS mount — or a
        # remote store's throttling/permission error, which surfaces as
        # a raw JVM exception, not OSError — must not fail the writer
        # operation (or abort a whole drain) over an already-consistent
        # store; the next publish's GC retries
        try:
            mine = {r for r in live_refs if r.startswith(g + "/")}
            if not mine:
                fs.delete(_join(root, g))
            else:
                _prune_generation(root, g, mine, fs)
        except Exception as exc:  # noqa: BLE001 - any delete failure is retryable
            # visible, non-fatal: a PERSISTENT failure (lost delete
            # permission, chronic throttling) would otherwise accrete
            # stale generations with no signal at all
            warnings.warn(
                f"generation GC could not delete {g!r} under {root!r} "
                f"({exc}); it will be retried at the next publish",
                RuntimeWarning,
                stacklevel=2,
            )


def _prune_generation(
    root: str, g: str, keep_rel: set[str], fs: fsio.Fs
) -> None:
    """Delete everything under a superseded generation EXCEPT the
    paths named in ``keep_rel`` (root-relative paths some live
    manifest references): whole sink dirs (``gen/sink``) or partition
    dirs (``gen/sink/part=v``). The walk recurses
    only where a kept reference points deeper, so it touches
    O(referenced paths) directories regardless of generation size. The
    publish stamp and markers go too: a pruned remnant is no longer a
    servable generation, only a segment host."""
    _prune_tree(_join(root, g), g, keep_rel, fs)


def _prune_tree(path: str, rel: str, keep_rel: set[str], fs: fsio.Fs) -> None:
    # Partition the kept paths by their next component ONCE per level —
    # the listing loop then does O(1) set lookups, so the whole prune is
    # O(listed entries + |keep_rel| × depth), never the
    # O(entries × |keep_rel|) a per-entry prefix scan would cost.
    prefix = rel + "/"
    exact: set[str] = set()
    deeper: dict[str, set[str]] = {}
    for r in keep_rel:
        if not r.startswith(prefix):
            continue
        head, _, tail = r[len(prefix):].partition("/")
        if tail:
            deeper.setdefault(head, set()).add(r)
        else:
            exact.add(head)
    for name in fs.list_names(path):
        if name in exact:
            continue  # this whole subtree is referenced
        if name in deeper:
            _prune_tree(_join(path, name), prefix + name, deeper[name], fs)
        else:
            fs.delete(_join(path, name))


def next_gen(root: str, fs: fsio.Fs | None = None) -> str:
    """Numerically after every existing generation — NOT the
    lexicographically last one: at the 6-digit rollover
    'gen-1000000' sorts BEFORE 'gen-999999', and deriving from the
    sorted tail would hand a writer the name of the LIVE generation."""
    fs = fs or fsio.default_fs(root)
    gens = list_generations(root, fs)
    n = max((int(g[len(GEN_PREFIX):]) for g in gens), default=0) + 1
    return gen_name(n)

