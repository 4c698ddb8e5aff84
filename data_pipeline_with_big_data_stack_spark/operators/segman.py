"""Manifest-reference ("segment") layout for generation tables.

VERDICT r11 #1: on linkless object stores, ``Fs.clone_tree`` is a byte
copy, so generation clones/carries cost O(cloned bytes). This module
removes the copy the way the reference's Druid deployment does —
segments are immutable files REUSED across datasource versions
(`M/druid-goes-satellite-datasource.json`; a new version references the
unchanged segments rather than rewriting them) — and the way every
lakehouse table format (Delta/Iceberg/Hudi) versions data: a generation
LISTS its files in a manifest instead of physically owning all of them.

* A generation TABLE (one sink dir inside a ``gen-NNNNNN/`` tree) may
  carry a dot-prefixed ``.manifest.json`` — invisible to Spark's file
  index — whose ``refs`` map LOGICAL partition names to physical
  directories inside OLDER generations of the same store root.
* Clone/carry = write a manifest entry (one small PUT), never a byte
  copy. Data files are written exactly once, by the Spark job that
  produced them, and are immutable from then on.
* Readers resolve a table to (its own physical partitions) +
  (referenced directories) and read the union; partition columns come
  from the directory names on both sides, so partition pruning works
  unchanged on every group.
* GC (``generations.gc_generations``) deletes only what no LIVE
  manifest references — see ``referenced_rel_paths``.

Two merge semantics, declared in the manifest (the two stores genuinely
differ in how a logical partition evolves):

* ``union``  — physical and referenced dirs for the same logical name
  are BOTH part of the table (the ANN index: an append adds files to a
  cell without superseding the cell's older files).
* ``shadow`` — a physical partition dir supersedes any reference with
  the same logical name (the dedup store: a replayed streaming epoch
  statically overwrites ``batch_id=<eid>``; the replay is
  manifest-unaware, so the physical rewrite must win by layout rule).

Layout invariant: manifests live at exactly ``<root>/<gen>/<sink>/``
depth — two levels under the store root — and refs are stored relative
to that root, so reference resolution and GC never compare
differently-rendered absolute URIs. Logical names are either partition
directory names (``cell_id=5``, ``batch_id=7``) or ``"."`` for a
whole-table reference (flat sidecar dirs such as the IVF-PQ codebooks).

Scale notes: resolution of an inline manifest is ONE small-object read
plus ONE listing per table; a manifest holds O(partitions × retained
segments) short strings. Reads stay partition-pruned: each referenced
group is scanned with ``basePath`` set to its physical parent, so
``cell_id``/``bkt`` filters prune files inside every group exactly as
on a plain tree. The dedup store references at BATCH granularity
(bucket dirs ride inside the referenced partition), so its manifests
stay tiny at any ``n_bkt``. The ANN index references per cell, and at
very large ``k_coarse`` (≥ ~10⁵ cells) times many retained segments a
single JSON object would grow to tens of MB and be rewritten WHOLE on
every publish — so past ``PART_THRESHOLD`` ref paths the writer
switches to the Iceberg-style MANIFEST LIST: refs split into
partition-range chunks, each an immutable content-addressed part file
shared across generations by reference (see :func:`write_manifest`),
so no manifest object grows with the partition count and a publish
rewrites only the chunks it touched. Compaction cadence bounds
retained segments long before the split point in practice; both
formats read identically through :func:`read_manifest`.
"""

from __future__ import annotations

import hashlib
import json
import os
from functools import reduce

from pyspark.sql import DataFrame, SparkSession

from data_pipeline_with_big_data_stack_spark.operators import fsio

MANIFEST = ".manifest.json"
PARTS_DIR = ".manifest-parts"  # dot-prefixed: invisible to Spark's index
WHOLE = "."  # logical name for a whole-table (flat dir) reference
_MERGES = ("union", "shadow")

# Manifest-list split point (the Iceberg-style upgrade the module
# docstring names): a manifest whose total ref-path count exceeds
# PART_THRESHOLD is written as a small root manifest plus
# content-addressed PART FILES, each holding one partition-range chunk
# of the refs. Parts are IMMUTABLE and shared across generations by
# reference (``reuse_from``), so a large store's append rewrites only
# the chunks it touched — O(touched partitions) manifest bytes per
# publish instead of O(all partitions) — and no single manifest object
# grows with the partition count. Both real stores sit far below the
# threshold at test scale, so the inline format (and every existing
# manifest on disk) is unchanged; the lifecycle suites re-run with the
# threshold forced to 0 to exercise the split end to end.
PART_THRESHOLD = 512
# Partition-range chunking: integer-valued ``k=v`` logical names group
# by ``v // PART_GROUP`` (stable under inserts — cell 17 lands in the
# same chunk no matter which other cells exist, so an untouched range's
# chunk content — and therefore its content-hash filename — is
# reusable); non-integer names fall back to a stable hash bucket.
PART_GROUP = 256


def store_root(table_dir: str) -> str:
    """The generation store root two levels above a sink table dir
    (``<root>/<gen>/<sink>`` — the module's layout invariant)."""
    return os.path.dirname(os.path.dirname(table_dir.rstrip("/")))


def _is_root_relative(p: str) -> bool:
    """True iff ``p`` can only resolve INSIDE the store root: relative
    (no leading slash, no scheme in the first segment) and free of
    ``..`` traversal. The single safety predicate for every stored
    path — reader validation and writer normalization share it."""
    return (
        isinstance(p, str)
        and not p.startswith("/")
        and ":" not in p.split("/", 1)[0]
        and ".." not in p.split("/")
    )


def _read_manifest_raw(fs: fsio.Fs, table_dir: str) -> dict | None:
    """The root manifest object as stored — inline ``refs`` or a
    ``parts`` chunk map — without resolving part files. None for a
    plain physical table. Each key present is validated independently:
    a valid ``refs`` must never waive the ``parts`` path-safety check
    (part paths are joined under the store root at read time, so an
    absolute path would escape it)."""
    try:
        raw = fs.read_text(os.path.join(table_dir, MANIFEST))
    except FileNotFoundError:
        return None
    man = json.loads(raw)
    ok_refs = "refs" not in man or (
        isinstance(man["refs"], dict)
        and all(
            isinstance(v, list) and all(_is_root_relative(d) for d in v)
            for v in man["refs"].values()
        )
    )
    ok_parts = "parts" not in man or (
        isinstance(man["parts"], dict)
        and all(_is_root_relative(p) for p in man["parts"].values())
    )
    # group must be usable by _chunk_key's integer division when parts
    # are present (0 or a non-int would crash a selective read with a
    # raw ZeroDivisionError/TypeError instead of the contractual error).
    # It is REQUIRED alongside parts: the writer always persists the
    # width it chunked with, and falling back to the live PART_GROUP
    # constant on a hand-edited/corrupted manifest would recreate the
    # retune hazard the persisted group exists to prevent (selective
    # reads computing chunk keys the writer never filed under).
    g = man.get("group")
    g_valid = isinstance(g, int) and not isinstance(g, bool) and g > 0
    ok_group = g_valid if "parts" in man else (g is None or g_valid)
    has_content = isinstance(man.get("refs"), dict) or isinstance(
        man.get("parts"), dict
    )
    if man.get("merge") not in _MERGES or not (
        ok_refs and ok_parts and ok_group and has_content
    ):
        raise ValueError(f"malformed segment manifest under {table_dir!r}: {raw!r}")
    return man


def read_manifest(
    fs: fsio.Fs, table_dir: str, logicals: set[str] | None = None
) -> dict | None:
    """The parsed manifest of ``table_dir``, or None for a plain
    physical table (every pre-manifest generation stays readable).
    A manifest-list root (``parts``) is resolved transparently: the
    returned ``refs`` is the merge of every part file's chunk, so all
    downstream resolution/GC logic sees one combined refs dict; the
    raw chunk map rides along under ``parts``.

    ``logicals`` is the metadata-side analogue of partition pruning for
    a SELECTIVE reader (the ANN search probes ``nprobe`` cells of ~10⁵):
    only the part files whose chunk could contain a requested logical
    name — or a whole-table (``"."``) reference — are fetched, so a
    probe pays O(probed chunks) small-object reads, not O(partitions).
    The returned refs are then restricted to ``logicals`` ∪ ``{WHOLE}``
    (inline manifests restrict without any read savings). GC and
    writers must NEVER pass ``logicals`` — they need the full set."""
    man = _read_manifest_raw(fs, table_dir)
    if man is None:
        return None
    return _combine_manifest(fs, table_dir, man, logicals)


def _combine_manifest(
    fs: fsio.Fs, table_dir: str, man: dict, logicals: set[str] | None
) -> dict:
    """Resolve a raw root manifest into a combined-refs manifest,
    fetching (only the needed) part files. Chunk keys are computed with
    the GROUP WIDTH the manifest was written with (persisted in the
    root), never the live constant."""
    root = store_root(table_dir)
    # deep-copy the ref lists: the raw manifest may be combined twice
    # (a selective read's fallback pass) and extend() must never grow
    # the caller's lists in place
    refs: dict[str, list[str]] = {
        k: list(v) for k, v in (man.get("refs") or {}).items()
    }
    parts: dict[str, str] = man.get("parts") or {}
    if logicals is not None and parts:
        # _read_manifest_raw guarantees group is present with parts
        group = man["group"]
        wanted = {_chunk_key(n, group) for n in logicals} | {
            _chunk_key(WHOLE, group)
        }
        parts = {ck: rel for ck, rel in parts.items() if ck in wanted}
    for rel in parts.values():
        frag = json.loads(fs.read_text(os.path.join(root, rel)))
        # a part fragment's ref paths are joined under the store root
        # exactly like the root manifest's — the SAME safety predicate
        # must hold, or a crafted part escapes the root
        if not isinstance(frag.get("refs"), dict) or not all(
            isinstance(dirs, list) and all(_is_root_relative(d) for d in dirs)
            for dirs in frag["refs"].values()
        ):
            raise ValueError(
                f"malformed manifest part {rel!r} under {table_dir!r}"
            )
        for logical, dirs in frag["refs"].items():
            have = refs.setdefault(logical, [])
            have.extend(d for d in dirs if d not in have)
    if logicals is not None:
        refs = {
            n: dirs
            for n, dirs in refs.items()
            if n in logicals or n == WHOLE
        }
    man = dict(man)
    man["refs"] = refs
    return man


def _chunk_key(logical: str, group: int | None = None) -> str:
    """Stable partition-range chunk for a logical partition name:
    integer ``k=v`` names group by value range (``k=<floor>``), so a
    chunk's membership never shifts when other partitions appear;
    anything else (including values ``int()`` rejects — a string
    column's partition dir can hold any text) hashes to one of 256
    stable buckets. ``group`` is the width the MANIFEST WAS WRITTEN
    WITH: readers must pass the root manifest's persisted ``group``,
    never the live ``PART_GROUP`` constant — a retuned constant would
    otherwise compute keys the writer never filed under and silently
    drop carried partitions from selective reads."""
    group = PART_GROUP if group is None else group
    k, eq, v = logical.partition("=")
    if eq:
        try:
            n = int(v)
        except ValueError:
            pass
        else:
            return f"{k}={(n // group) * group}"
    return "h=" + hashlib.sha1(logical.encode()).hexdigest()[:2]


def write_manifest(
    fs: fsio.Fs,
    table_dir: str,
    refs: dict[str, list[str]],
    merge: str,
    reuse_from: str | None = None,
) -> None:
    """Write ``table_dir``'s manifest (atomic small-object writes).
    ``refs`` values are ABSOLUTE physical dirs under the same store
    root; they are stored root-relative so resolution and GC compare
    paths the store itself constructed, never re-rendered URIs.

    Above ``PART_THRESHOLD`` total ref paths the manifest is written as
    a MANIFEST LIST: refs split into partition-range chunks
    (:func:`_chunk_key`), each chunk an immutable content-addressed
    part file (``part-<sha1>.json``), the root manifest holding only
    ``{chunk: root-relative part path}``. With ``reuse_from`` (the
    predecessor table this manifest flattens — the same dir the caller
    passed to :func:`resolve_all`) a chunk whose content is unchanged
    REFERENCES the predecessor's part file instead of rewriting it, so
    a publish writes O(touched chunks) manifest objects; GC keeps
    referenced part files alive exactly like referenced segment dirs
    (:func:`referenced_rel_paths`). Part files are written before the
    root manifest — the root is the commit point; a crash in between
    leaves unreferenced part files in an unpublished generation, which
    the normal orphan GC reclaims."""
    if merge not in _MERGES:
        raise ValueError(f"merge must be one of {_MERGES}, got {merge!r}")
    root = store_root(table_dir).rstrip("/")
    rel: dict[str, list[str]] = {}
    for logical, dirs in refs.items():
        out = []
        for d in dirs:
            d = d.rstrip("/")
            if d.startswith(root + "/"):
                out.append(d[len(root) + 1 :])
            elif _is_root_relative(d):
                out.append(d)  # already root-relative
            else:
                raise ValueError(
                    f"manifest ref {d!r} is outside the store root {root!r} — "
                    "generations may only reference siblings of their own root"
                )
        if out:
            rel[logical] = sorted(set(out))
    man_path = os.path.join(table_dir, MANIFEST)
    if sum(len(v) for v in rel.values()) <= PART_THRESHOLD:
        fs.write_text_atomic(
            man_path,
            json.dumps({"merge": merge, "refs": rel}, sort_keys=True) + "\n",
        )
        return
    group = PART_GROUP
    chunks: dict[str, dict[str, list[str]]] = {}
    for logical, dirs in rel.items():
        chunks.setdefault(_chunk_key(logical, group), {})[logical] = dirs
    prev_parts: dict[str, str] = {}
    if reuse_from is not None:
        prev = _read_manifest_raw(fs, reuse_from)
        # reuse only chunks filed under the SAME group width — a
        # predecessor written with a different PART_GROUP chunked its
        # refs differently, so its part contents cannot line up
        if prev is not None and prev.get("group", PART_GROUP) == group:
            prev_parts = prev.get("parts") or {}
    table_rel = table_dir.rstrip("/")[len(root) + 1 :]
    parts: dict[str, str] = {}
    for ck, chunk in chunks.items():
        payload = json.dumps({"refs": chunk}, sort_keys=True) + "\n"
        fname = f"part-{hashlib.sha1(payload.encode()).hexdigest()[:16]}.json"
        prev_rel = prev_parts.get(ck)
        if prev_rel is not None and os.path.basename(prev_rel) == fname:
            parts[ck] = prev_rel  # unchanged chunk: share the old part
            continue
        fs.write_text_atomic(
            os.path.join(table_dir, PARTS_DIR, fname), payload
        )
        parts[ck] = f"{table_rel}/{PARTS_DIR}/{fname}"
    fs.write_text_atomic(
        man_path,
        json.dumps(
            {"merge": merge, "group": group, "parts": parts}, sort_keys=True
        )
        + "\n",
    )


def _listing(fs: fsio.Fs, table_dir: str) -> list[str]:
    return fs.list_names(table_dir, missing_ok=True)


def _physical_entries(
    fs: fsio.Fs, table_dir: str, names: list[str] | None = None
) -> dict[str, list[str]]:
    """The table's OWN partitions: ``{logical: [dir]}`` for ``k=v``
    children, or ``{".": [table_dir]}`` for a flat parquet dir."""
    names = _listing(fs, table_dir) if names is None else names
    parts = {n: [os.path.join(table_dir, n)] for n in names if "=" in n}
    if parts:
        return parts
    if any(n.endswith(".parquet") for n in names):
        return {WHOLE: [table_dir]}
    return {}


def resolve_refs(
    fs: fsio.Fs,
    table_dir: str,
    man: dict | None = None,
    names: list[str] | None = None,
) -> dict[str, list[str]]:
    """REFERENCED physical dirs only (absolute), with shadow semantics
    applied: under ``merge='shadow'`` a logical name that exists
    physically in ``table_dir`` drops its reference (the physical
    rewrite — a replayed epoch — supersedes the carried segment).
    ``names`` lets a caller that already listed ``table_dir`` skip the
    re-listing."""
    man = read_manifest(fs, table_dir) if man is None else man
    if man is None:
        return {}
    root = store_root(table_dir)
    if names is None and man["merge"] == "shadow":
        names = _listing(fs, table_dir)
    shadow = (
        {n for n in names if "=" in n} if man["merge"] == "shadow" else set()
    )
    return {
        logical: [os.path.join(root, r) for r in rel]
        for logical, rel in man["refs"].items()
        if logical not in shadow
    }


def resolve_all(fs: fsio.Fs, table_dir: str) -> dict[str, list[str]]:
    """The table's full logical contents: physical partitions plus
    surviving references, absolute paths. This is what a writer
    FLATTENS into the next generation's manifest (references never
    chain: a carried ref keeps pointing at the original physical dir,
    so resolution is always one manifest deep)."""
    names = _listing(fs, table_dir)
    entries = _physical_entries(fs, table_dir, names)
    man = read_manifest(fs, table_dir)
    for logical, dirs in resolve_refs(fs, table_dir, man).items():
        entries.setdefault(logical, [])
        entries[logical] = entries[logical] + [
            d for d in dirs if d not in entries[logical]
        ]
    return entries


def read_table(
    spark: SparkSession,
    fs: fsio.Fs,
    table_dir: str,
    logicals: set[str] | None = None,
    schema: str | None = None,
) -> DataFrame:
    """Read a generation table, manifest-aware. A plain physical dir
    (no manifest) is exactly ``spark.read.parquet(table_dir)`` — the
    standalone (non-versioned) stores keep their old plans verbatim.
    A manifested table reads its own physical partitions plus each
    referenced group (grouped by physical parent, scanned with
    ``basePath`` so partition columns and pruning survive) and unions
    by name.

    ``schema`` (DDL of data and partition columns) is passed to every
    read, so none infers one from footers; a table with no files reads
    as an empty frame of it after one listing, with no Spark job.

    ``logicals`` (optional, a set of partition dir names like
    ``cell_id=5``) restricts REFERENCE resolution to those partitions:
    a selective reader skips both the un-probed chunks' part-file reads
    and the un-probed referenced groups entirely, while its own
    physical partitions are still scanned whole (the caller's partition
    filter prunes them JVM-side as always — the two prunings compose).
    Callers that pass ``logicals`` MUST also filter the returned frame
    on the same partitions. If nothing matches, falls back to the full
    resolution — reusing the already-read root manifest and listing —
    so a probe of an absent partition stays an empty result, never an
    error (parity with the unrestricted read + filter)."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    if schema is None:
        raw = _read_manifest_raw(fs, table_dir)
        names = [] if raw is None else _listing(fs, table_dir)
    else:  # one listing answers both "any files?" and "a manifest?"
        names = _listing(fs, table_dir)
        raw = _read_manifest_raw(fs, table_dir) if MANIFEST in names else None
    has_own = any("=" in n or n.endswith(".parquet") for n in names)
    if raw is None:
        if schema is not None and not has_own:
            # plans as an empty local relation: no job even on an action
            return spark.createDataFrame([], schema).where("false")
        return reader.parquet(table_dir)

    def _reads(man: dict) -> list[DataFrame]:
        reads: list[DataFrame] = []
        if has_own:
            reads.append(reader.parquet(table_dir))
        whole: list[str] = []
        grouped: dict[str, list[str]] = {}
        for logical, dirs in resolve_refs(fs, table_dir, man, names=names).items():
            for d in dirs:
                if logical == WHOLE:
                    whole.append(d)
                else:
                    grouped.setdefault(os.path.dirname(d), []).append(d)
        for d in sorted(whole):
            reads.append(reader.parquet(d))
        for base, dirs in sorted(grouped.items()):
            reads.append(reader.option("basePath", base).parquet(*sorted(dirs)))
        return reads

    reads = _reads(_combine_manifest(fs, table_dir, raw, logicals))
    if not reads and logicals is not None:
        reads = _reads(_combine_manifest(fs, table_dir, raw, None))
    if not reads:
        raise FileNotFoundError(
            f"segment table {table_dir!r} has neither physical partitions "
            "nor references"
        )
    return reduce(lambda a, b: a.unionByName(b), reads)


def referenced_rel_paths(fs: fsio.Fs, gen_dir: str) -> set[str]:
    """Every root-relative path referenced by any sink manifest of
    ``gen_dir`` — the GC liveness set contribution of one kept
    generation. Sinks live at depth 1 under the generation (the layout
    invariant), so one directory listing finds them all."""
    refs: set[str] = set()
    for sink in fs.list_dir_names(gen_dir, missing_ok=True):
        man = read_manifest(fs, os.path.join(gen_dir, sink))
        if man is not None:
            for rel in man["refs"].values():
                refs.update(rel)
            # manifest-list part files are shared across generations
            # exactly like segment dirs: a part a KEPT generation's
            # root manifest names must survive GC wherever it lives
            refs.update(man.get("parts", {}).values())
    return refs
