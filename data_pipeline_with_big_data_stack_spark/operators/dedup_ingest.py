"""Streaming ingestion dedup against an accumulated signature index —
the production 100 TB fuzzy-dedup shape (reference analogue: the
continuous-ingest path of `M/app_airflow/app/dags/goes_satellite_etl.py`
feeding Druid; here the stream is document batches and the rollup is a
banded MinHash index).

Every micro-batch:
  1. signs the batch (MinHash bands, `operators/dedup_index`),
  2. caps bucket membership at the batch family's ``_LSH_MAX_BUCKET``
     using a **per-bucket count sidecar** — NOT a re-aggregation of the
     accumulated bands index, so per-batch planning cost is bounded by
     the sidecar (one row per (bucket, epoch) touched), never
     O(accumulated index),
  3. joins the capped batch bands against the prior index on the bucket
     key for candidate pairs (lower-id partner only),
  4. exact-verifies trigram Jaccard on candidates (raw text joined to
     candidate-scale rows only), and
  5. publishes the batch's rejections, bands, counts, and documents.

**Bucket-pruned prior reads (the 100 TB steady-state contract).** Every
accumulated sink the per-batch job consults is partitioned by a hash
bucket of its lookup key — ``bkt = pmod(hash(band, band_key), n_bkt)``
for the bands index and count sidecar, ``dbkt = pmod(hash(doc_id),
n_bkt)`` for the doc store — in addition to the epoch. The batch's
touched bucket set is tiny and bounded (≤ n_bkt values, collected to
the driver once per batch), so each prior read partition-prunes to the
touched buckets: per-batch scan cost is O(touched fraction of the
index), never O(accumulated index). This mirrors the materialized batch
index's band0-bucketing (`operators/dedup_index.build_minhash_index`).
``n_bkt`` is a persisted store knob trading prune granularity against
per-epoch directory/commit overhead (measured ~50 ms per bucket per
batch on local[32]): the prune wins when the steady-state batch's key
count is well under n_bkt — the trickle-ingest regime where unbounded
index creep actually bites — so size n_bkt ≫ typical batch keys in
production (thousands on a cluster) and small (16) for the local gate
fixtures whose batches touch every bucket regardless.

Exactly-once under foreachBatch retry: EVERY sink — decisions, bands
index, counts sidecar, doc store — is a per-epoch ``batch_id=<eid>``
partition written with static ``mode('overwrite')`` (the whole epoch
directory is replaced, including its bucket subdirectories), and every
*read* of prior state filters ``batch_id < eid`` (partition-pruned). A
crash anywhere in :func:`dedup_ingest_batch` replays the epoch against
exactly the same prior state (its own half-written partition is
excluded by the filter and then overwritten), so retry ≡ single run
for all four stores.

**Reader-safe compaction.** The four sinks live inside an immutable
``gen-NNNNNN/`` directory behind the store root's atomic ``_CURRENT``
pointer (`operators/generations` — the same protocol as the versioned
ANN index root). The compactor folds all committed epochs into a NEW
generation and publishes it with one pointer flip; a concurrent reader
that already resolved the old pointer keeps a fully intact tree (GC
retains one grace predecessor), so serving reads never race a swap.
Writers (drain, compactor) are serialized by the store's single-writer
lock; readers take no lock at all.
"""

from __future__ import annotations

import functools
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from data_pipeline_with_big_data_stack_spark.operators import fsio
from data_pipeline_with_big_data_stack_spark.operators import generations as G
from data_pipeline_with_big_data_stack_spark.operators import segman

_DEFAULT_N_BKT = 16
_META = "_meta.json"
_TARGET_FILE_BYTES = 128 * 1024 * 1024

# n_bkt SIZING RULE (both epoch-store layouts — this one and
# operators/substring_ingest). The bucket count bounds the FRACTION of
# the accumulated index a trickle batch's prior reads scan
# (touched/n_bkt), so it must satisfy two ceilings at once:
#   n_bkt >= expected_index_bytes / target_partition_bytes
#     (each bucket of a FOLDED store is one ~target-sized partition —
#      fewer buckets mean oversized partitions and coarse prunes), and
#   n_bkt >> typical trickle batch's distinct lookup keys
#     (a batch that touches every bucket prunes nothing).
# Against that, every epoch pays ~50 ms per touched bucket of
# commit/listing overhead (measured on local[32]), so n_bkt far above
# both ceilings only adds per-epoch metadata cost. Production corpora:
# thousands (e.g. a 1 TB index at 128 MB partitions → n_bkt ≈ 8192).
# The local gate fixtures keep the default 16 — their batches touch
# every bucket regardless, so they pay for prunability without
# exercising it; tests/test_dedup_index.py pins that prior-read file
# counts actually DROP proportionally at higher n_bkt.


class EpochStoreBase:
    """Generation-versioned epoch store root — the layer BOTH ingest
    stores share (this module's four-sink MinHash store and
    `operators/substring_ingest`'s two-sink window-fingerprint store).
    It holds the cached Hadoop-FS handle (resolved once — per-batch
    protocol reads must not re-resolve a FileSystem) and the persisted
    ``n_bkt`` knob, which is NEVER guessed: a wrong modulus silently
    misfiles every lookup (prior state appears empty, duplicates slip
    in). Sink paths resolve the live generation through the ``_CURRENT``
    pointer at access time — readers see a fully published generation
    or the grace predecessor, never a half-compacted directory. The
    streaming checkpoint and the writer lock live at the root, OUTSIDE
    generations (epoch ids are monotonic across compactions, so a
    folded store keeps satisfying every future ``batch_id < eid``
    prior-read).

    Subclasses declare their layout as class attributes — the shared
    read path, init, epoch driver (:func:`_run_epoch`), drain
    (:func:`_drain_epoch_stream`) and fold engine
    (:func:`_compact_into_new_generation`) are entirely layout-driven;
    each store adds only its per-epoch plan:

    - ``_KIND``: error-message prefix; ``_INIT_FN``: the initializer to
      name in errors
    - ``_SINKS``: sink names (tuple)
    - ``_SINK_BKT``: sink → lookup-bucket partition column (absent =
      the sink has no pruned lookups)
    - ``_SINK_FOLD_SALT``: bucketed sink → second range-partition key
      so one oversized bucket spreads across several size-bounded fold
      files while each task still holds only 1-2 buckets
    - ``_SINK_SCHEMAS``: sink → DDL of its data columns; every read
      passes it with the partition columns (:meth:`read_schema`)
    - ``_REP_SINK``: the representative (largest) sink whose byte sizes
      drive the incremental fold's LSM full-upgrade decision
    - :meth:`_fold_collapse`: per-sink fold rewrite hook (identity by
      default; the dedup store collapses its cumulative count sidecar)

    Every layout carries the shared ``hwm`` sink — one
    ``max_doc_id`` row per committed epoch, the persisted doc-id
    high-water mark that makes the monotone-ingest contract ENFORCED
    rather than documented (VERDICT r14 #1): keep-first decisions in
    both stores assume every batch's doc ids exceed all committed ones,
    and :func:`_guarded_epoch_stats` raises IN-PLAN when a
    batch violates it. The fold collapses the sink to its running max
    (read-equivalent: every consumer only ever takes ``max``)."""

    _KIND = "epoch store"
    _INIT_FN = "its init function"
    _SINKS: tuple[str, ...] = ()
    _SINK_BKT: dict[str, str] = {}
    _SINK_FOLD_SALT: dict[str, str] = {}
    _SINK_SCHEMAS: dict[str, str] = {}
    _REP_SINK: str = ""

    def __init__(self, base: str, fs: fsio.Fs | None = None):
        self.base = base
        self._n_bkt: int | None = None
        self._fs = fs

    @property
    def fs(self) -> fsio.Fs:
        if self._fs is None:
            self._fs = fsio.default_fs(self.base)
        return self._fs

    @property
    def n_bkt(self) -> int:
        if self._n_bkt is None:
            try:
                self._n_bkt = int(
                    json.loads(self.fs.read_text(os.path.join(self.base, _META)))[
                        "n_bkt"
                    ]
                )
            except FileNotFoundError:
                raise RuntimeError(
                    f"{self._KIND} at {self.base!r} has no {_META} — "
                    f"not initialized ({self._INIT_FN}) or moved "
                    "without its root metadata; refusing to guess n_bkt"
                ) from None
        return self._n_bkt

    def current_generation(self) -> str:
        return G.read_current(self.base, init_hint=self._INIT_FN, fs=self.fs)

    def _sink(self, name: str) -> str:
        return os.path.join(self.base, self.current_generation(), name)

    @classmethod
    def read_schema(cls, sink: str) -> str:
        """DDL of ``sink`` as read: its data columns, ``batch_id``, then
        its lookup-bucket column if it has one."""
        bkt = cls._SINK_BKT.get(sink)
        return f"{cls._SINK_SCHEMAS[sink]}, batch_id int" + (
            f", {bkt} int" if bkt else ""
        )

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        """Manifest-aware read of one sink's full accumulated state
        (`operators/segman`): an incremental fold CARRIES earlier fold
        partitions by reference instead of copying them, so any reader
        of a sink path must resolve the generation's manifest — a plain
        ``spark.read.parquet(store.decisions)`` sees only the
        physically-present partitions."""
        if name not in self._SINKS:
            raise ValueError(f"unknown sink {name!r}; one of {self._SINKS}")
        return segman.read_table(
            spark, self.fs, self._sink(name), schema=self.read_schema(name)
        )

    def _fold_collapse(self, sink: str, df: DataFrame) -> DataFrame:
        """Fold-time rewrite hook for one sink's covered epoch range —
        must be READ-EQUIVALENT for every consumer of the sink. The
        default keeps rows as-is (a pure relayout), except the shared
        watermark sidecar, which collapses to its running max (every
        reader only ever takes ``max(max_doc_id)``)."""
        if sink == "hwm":
            return df.agg(F.max("max_doc_id").alias("max_doc_id"))
        return df


class DedupIngestStore(EpochStoreBase):
    """The four-sink MinHash ingest store (see module docstring)."""

    _KIND = "dedup-ingest store"
    _INIT_FN = "init_dedup_ingest_store"
    _SINKS = ("decisions", "bands_idx", "counts", "docstore", "hwm")
    # lookup-key bucket column per sink (absent = no pruned lookups)
    _SINK_BKT = {"bands_idx": "bkt", "counts": "bkt", "docstore": "dbkt"}
    # range-partition salt per bucketed sink (see EpochStoreBase)
    _SINK_FOLD_SALT = {
        "bands_idx": "doc_id",
        "counts": "band_key",
        "docstore": "doc_id",
    }
    _SINK_SCHEMAS = {
        "decisions": "doc_id long, dup_of long, jaccard double",
        "bands_idx": "doc_id long, band int, band_key string, rk long",
        "counts": "band int, band_key string, n long",
        "docstore": "doc_id long, text string",
        "hwm": "max_doc_id long",
    }
    _REP_SINK = "bands_idx"

    @property
    def decisions(self) -> str:
        return self._sink("decisions")

    @property
    def bands_idx(self) -> str:
        return self._sink("bands_idx")

    @property
    def counts(self) -> str:
        return self._sink("counts")

    @property
    def docstore(self) -> str:
        return self._sink("docstore")

    @property
    def hwm(self) -> str:
        return self._sink("hwm")

    def _fold_collapse(self, sink: str, df: DataFrame) -> DataFrame:
        if sink == "counts":
            # the sidecar keeps one CUMULATIVE row per (band, band_key)
            # per epoch; every reader only ever takes max(n) per key
            # (``_prior`` → ``prior_counts``), so a fold may collapse
            # its covered range to that max — read-equivalent (max of
            # per-range maxes == max over the range), and without it
            # even a fully compacted store's per-batch counts read
            # grows O(epochs) per touched bucket on a long-running
            # trickle (ADVICE r10)
            return df.groupBy("band", "band_key", "bkt").agg(F.max("n").alias("n"))
        return super()._fold_collapse(sink, df)


def _init_epoch_store(
    spark: SparkSession, base: str, n_bkt: int, cls: type[EpochStoreBase]
) -> EpochStoreBase:
    """Shared store initializer: publish an empty generation 1 (no
    Spark job — its sinks have no files and read as empty). Refuses an
    already-initialized base: re-initializing would publish an EMPTY
    generation over the accumulated store (orphaning every committed
    epoch while the old checkpoint blocks re-ingestion) and could
    silently rewrite n_bkt under data bucketed with the old value."""
    fs = fsio.Fs(spark, base)
    fs.mkdirs(base)
    meta = os.path.join(base, _META)
    # any trace of a prior store refuses — checking only the pointer
    # would let a truncated/lost _CURRENT file bypass the guard and GC
    # every surviving generation of accumulated data
    if (
        G.read_current_or_none(base, fs=fs) is not None
        or G.list_generations(base, fs=fs)
        or fs.exists(meta)
    ):
        raise FileExistsError(
            f"{cls._KIND} at {base!r} is already initialized (or "
            f"holds a damaged store's remains) — open it with "
            f"{cls.__name__}(base), repair the _CURRENT pointer, or "
            "delete the base directory to start over"
        )
    fs.write_text_atomic(meta, json.dumps({"n_bkt": int(n_bkt)}))
    G.publish(base, G.next_gen(base, fs=fs), fs=fs)
    st = cls(base, fs=fs)
    st._n_bkt = int(n_bkt)
    return st


def init_dedup_ingest_store(
    spark: SparkSession, base: str, n_bkt: int = _DEFAULT_N_BKT
) -> DedupIngestStore:
    """Create and publish an empty generation 1 (see
    :func:`_init_epoch_store` for the refusal contract)."""
    return _init_epoch_store(spark, base, n_bkt, DedupIngestStore)


def _prior(
    spark: SparkSession,
    path: str,
    eid: int,
    bkt_col: str | None = None,
    touched: list[int] | None = None,
    fs: fsio.Fs | None = None,
    *,
    schema: str,
) -> DataFrame:
    """Committed state as of epoch ``eid``: partition-pruned to
    ``batch_id < eid`` so a replayed epoch never sees its own
    half-written rows, AND (for the bucketed sinks) to the batch's
    touched lookup buckets — the scan reads O(touched buckets) of the
    accumulated state, never all of it. Partition columns dropped.
    ``touched`` is REQUIRED with ``bkt_col`` (an empty list means "the
    batch touched nothing" and legitimately yields no rows): defaulting
    a forgotten list to all-or-nothing would silently drop prior state
    — the missed-duplicates failure mode this module exists to
    prevent. Reads are manifest-aware (`operators/segman`): after an
    incremental fold, earlier fold partitions live in older generations
    by reference. ``schema``: the sink's ``store.read_schema(sink)``."""
    df = segman.read_table(
        spark, fs or fsio.default_fs(path), path, schema=schema
    ).filter(F.col("batch_id") < F.lit(int(eid)))
    drop = ["batch_id"]
    if bkt_col is not None:
        if touched is None:
            raise ValueError(
                f"_prior(bkt_col={bkt_col!r}) needs the touched-bucket "
                "list; pass [] if the batch touched no buckets"
            )
        df = df.filter(
            F.col(bkt_col).isin([int(b) for b in touched])
            if touched
            else F.lit(False)
        )
        drop.append(bkt_col)
    return df.drop(*drop)


def _band_bkt(n_bkt: int):
    return F.pmod(F.hash("band", "band_key"), F.lit(int(n_bkt))).cast("int")


def _doc_bkt(col: str, n_bkt: int):
    return F.pmod(F.hash(F.col(col)), F.lit(int(n_bkt))).cast("int")


def _write_epoch(
    df: DataFrame, path: str, eid: int, bkt_col: str | None, n_bkt: int = 0
) -> None:
    """Publish one sink's epoch partition: static overwrite of the whole
    ``batch_id=<eid>`` directory (idempotent under retry). Bucketed
    sinks repartition INTO n_bkt tasks BY the bucket column so each
    bucket lands in one task — one file per touched bucket, and never
    spark.sql.shuffle.partitions-worth of empty scheduler slots on the
    per-batch hot path. ``n_bkt=0`` with a bucket column means the
    caller already laid the rows out (the compaction fold's
    range-partitioning) — write as-is."""
    w = df
    if bkt_col is not None and n_bkt > 0:
        w = w.repartition(int(n_bkt), F.col(bkt_col))
    writer = w.write.mode("overwrite").option("partitionOverwriteMode", "static")
    if bkt_col is not None:
        writer = writer.partitionBy(bkt_col)
    writer.parquet(os.path.join(path, f"batch_id={int(eid)}"))


def _publish_epoch_sinks(
    writes: list[tuple[str, object]],
    fail_after: str | None,
    defer: set[str] = frozenset(),
) -> None:
    """Publish an epoch's data sinks CONCURRENTLY (r16, guide §2.6):
    each publish is an independent job over already-cached frames (or
    the batch itself) whose wall cost is dominated by fixed per-action
    latency — write-job setup, commit protocol — so the sequential loop
    paid ~the sum where the epoch only needs the max. Safe because the
    sinks are order-independent by construction: every sink is an
    idempotent per-epoch static-overwrite partition, no reader consults
    a crashed epoch's partials (prior reads filter ``batch_id < eid``;
    the compactor trusts the checkpoint commit log), and a replay
    overwrites every sink from scratch — recovery holds from ANY subset
    of completed publishes, not just sequential prefixes (pinned in
    tests/test_dedup_index.py::test_replay_from_arbitrary_sink_subset).

    ``fail_after=<sink>`` (the crash-injection hook) SUBMITS only the
    canonical prefix through that sink, awaits it, then raises — the
    injected on-disk states are byte-identical to the pre-r16
    sequential writer's, so the crash-replay tests pin the same states
    through the same code path. ``defer`` names sinks whose target
    directory another sink's plan reads at action time (listing a dir
    while a sibling publish commits into it is the one cross-job
    hazard); they publish after the concurrent wave completes."""
    from concurrent.futures import ThreadPoolExecutor

    cut = next(
        (i for i, (nm, _fn) in enumerate(writes) if nm == fail_after), None
    )
    selected = writes if cut is None else writes[: cut + 1]
    wave = [(nm, fn) for nm, fn in selected if nm not in defer]
    tail = [(nm, fn) for nm, fn in selected if nm in defer]
    if wave:
        with ThreadPoolExecutor(max_workers=len(wave)) as pool:
            for f in [pool.submit(fn) for _nm, fn in wave]:
                f.result()
    for _nm, fn in tail:
        fn()
    if cut is not None:
        raise RuntimeError(f"injected crash after {fail_after} write")


def _guarded_epoch_stats(
    exploded: DataFrame,
    bkt_col: str,
    hwm_path: str,
    eid: int,
    store: EpochStoreBase,
    ids: DataFrame | None = None,
) -> tuple[list[int], int] | None:
    """ONE driver action for the epoch's protocol preamble (r16, guide
    §1.2 — previously three: ``isEmpty``, the guard's 1×1-row write,
    and the touched-bucket collect, each a separate batch scan):
    materializes the caller's persisted ``exploded`` frame and returns
    ``(touched lookup buckets, guarded doc-id watermark)``, or ``None``
    for an empty micro-batch (the documented empty-epoch contract —
    the caller must then write NOTHING).

    The monotone-ingest contract (VERDICT r14 #1) stays IN-PLAN: the
    batch's min doc_id joins the committed watermark — ``max`` over the
    prior ``hwm`` sink, partition-pruned to ``batch_id < eid`` so a
    crash-replayed epoch never sees its own attempt — and the returned
    watermark only materializes through a ``when`` whose else branch
    ``raise_error``s. A violation therefore aborts the epoch during
    this collect, before ANY sink is written (r15's shape wrote the
    guarded row first, so a refusal left an empty ``hwm`` partition
    behind and burned that epoch id on checkpoint-less stores; the
    fused shape leaves nothing at all).

    ``ids`` supplies the frame whose ``doc_id`` min/max define the
    watermark when the exploded frame is NOT id-complete (the substring
    store: sub-K docs legitimately explode to zero windows, and a
    short max-id doc would silently lower the recorded watermark).
    ``None`` aggregates ids off ``exploded`` itself — strictly one scan
    — which is only sound when every batch doc yields at least one
    exploded row (the MinHash store: one signature row per doc, a
    3-element literal band array).

    A sink with no files — a fresh store, or one created before the
    hwm sink existed — reads as empty: 'no committed watermark', and
    enforcement begins with this epoch's row."""
    spark = exploded.sparkSession
    prior_wm = _prior(
        spark, hwm_path, eid, fs=store.fs, schema=store.read_schema("hwm")
    ).agg(F.max("max_doc_id").alias("_wm"))
    err = F.concat(
        F.lit(
            f"{store._KIND} at {store.base}: out-of-order ingest — "
            f"epoch {int(eid)}'s min doc_id "
        ),
        F.col("_mn").cast("string"),
        F.lit(" <= committed doc-id watermark "),
        F.col("_wm").cast("string"),
        F.lit(
            "; keep-first decisions assume every batch's doc ids "
            "exceed all committed ones (the crawl-shard contract), so "
            "an out-of-order shard or a reused id would silently flip "
            "which occurrence is kept. Re-key the shard above the "
            "watermark, or rebuild the store from source in id order."
        ),
    )
    if ids is None:
        stats = exploded.agg(
            F.collect_set(bkt_col).alias("_bkts"),
            F.min("doc_id").alias("_mn"),
            F.max("doc_id").alias("_mx"),
        )
    else:
        stats = exploded.agg(F.collect_set(bkt_col).alias("_bkts")).crossJoin(
            ids.agg(F.min("doc_id").alias("_mn"), F.max("doc_id").alias("_mx"))
        )
    row = (
        stats.crossJoin(F.broadcast(prior_wm))
        .select(
            "_bkts",
            "_mn",
            F.when(
                # _mn NULL = empty batch: nothing to guard (the r15
                # shape never reached the guard on an empty batch —
                # the isEmpty early-return handled it)
                F.col("_mn").isNull()
                | F.col("_wm").isNull()
                | (F.col("_mn") > F.col("_wm")),
                F.col("_mx"),
            )
            .otherwise(F.raise_error(err).cast("long"))
            .alias("max_doc_id"),
        )
        .head()
    )
    if row["_mn"] is None:
        return None
    return sorted(int(b) for b in row["_bkts"]), int(row["max_doc_id"])


def _publish_watermark_row(
    spark: SparkSession, hwm_path: str, eid: int, wm: int
) -> None:
    """Publish the epoch's guarded doc-id watermark — the value
    :func:`_guarded_epoch_stats` already validated in-plan — as the
    standard per-epoch static-overwrite partition. The write is a
    1-row LocalTableScan job (no batch scan: the fused stats action
    paid that once); replay safety falls out of the epoch machinery —
    the value is a pure function of the batch, so a crash-replay
    republishes the identical row, and a deliberate rebuild-from-source
    replay (``allow_refolded_replay=True``) sees only watermark rows
    with ``batch_id < eid``, which after a fold is empty, so it passes
    vacuously — exactly mirroring the prior-state view its data reads
    get."""
    _write_epoch(
        spark.createDataFrame([(int(wm),)], "max_doc_id long"),
        hwm_path,
        eid,
        None,
    )


def _direct_epoch_checks(
    store: EpochStoreBase, eid: int, allow_refolded_replay: bool
) -> str:
    """Refusal checks for a DIRECT (checkpoint-less) epoch write against
    any generation-versioned epoch store; returns the resolved
    generation directory so the caller's sink accesses land in the same
    tree the checks inspected (ADVICE r10 TOCTOU — the caller must hold
    the store's writer lock). A direct epoch on a STREAM-driven store
    either collides with the stream's numbering (a resumed drain reuses
    the id and its static overwrite destroys the direct epoch) or sits
    above every future stream eid (invisible to all ``batch_id < eid``
    prior reads). A direct epoch at or below the FOLD frontier would
    overwrite the folded partition (eid == frontier) or re-materialize
    rows the fold already carries (eid < frontier); same-id replay is
    only idempotent ABOVE the frontier. Both are silent data loss."""
    gen_dir = os.path.join(store.base, store.current_generation())
    if _committed_hi(store) is not None:
        raise RuntimeError(
            f"{store._KIND} at {store.base!r} is stream-driven (a "
            "checkpoint exists) — direct per-batch epochs would "
            "collide with or be invisible to the stream's epoch "
            "numbering; feed new documents through the stream source "
            "instead"
        )
    folded_hi, _full = _read_fold_marker(gen_dir, store.fs)
    if int(eid) <= folded_hi and not allow_refolded_replay:
        raise RuntimeError(
            f"{store._KIND} at {store.base!r} has folded epochs "
            f"through batch_id={folded_hi}; a direct epoch {int(eid)} at or "
            "below that frontier would overwrite the folded partition "
            "(eid == frontier: every folded epoch is destroyed) or "
            "duplicate rows the fold already carries (eid < frontier). "
            "Use a fresh epoch id above the frontier, or pass "
            "allow_refolded_replay=True for a deliberate "
            "rebuild-from-source replay"
        )
    return gen_dir


def _run_epoch(
    batch: DataFrame,
    eid: int,
    store: EpochStoreBase,
    plan,
    *,
    fail_after: str | None,
    allow_refolded_replay: bool,
    stream_epoch: bool,
) -> None:
    """The epoch driver both stores share; the store's ``plan`` supplies
    only the per-epoch dataflow. ``plan(batch, eid, store, sink,
    persist)`` returns ``(exploded, bkt_col, ids, publish)`` — its
    persisted exploded frame, bucket column and optional id frame for
    :func:`_guarded_epoch_stats`, and ``publish(touched)`` → ``(writes,
    defer)`` for :func:`_publish_epoch_sinks`. ``persist`` caches a frame
    until the epoch exits.

    A DIRECT call self-acquires the store's writer lock for the whole
    check-and-write cycle and runs :func:`_direct_epoch_checks`; a stream
    epoch runs under the drain's lock. The generation is resolved ONCE,
    under the lock, so every sink access lands in the same tree and no
    compactor can publish/GC it between check and writes (ADVICE r10).
    An empty micro-batch returns after the fused preamble, having
    written NOTHING. Stream epochs publish the watermark row IN the
    concurrent wave (a replay overwrites every sink from the same
    batch, so publish order is immaterial once the in-plan guard ran);
    DIRECT epochs have no replay machinery, so the watermark commits
    BEFORE any data sink and a crashed epoch can never leave data rows
    whose ids a later epoch could legally reuse (``fail_after='hwm'``
    crashes right after it)."""
    s = batch.sparkSession
    eid = int(eid)
    lease = None if stream_epoch else G._index_write_lock(s, store.base)
    persisted: list[DataFrame] = []

    def persist(df: DataFrame) -> DataFrame:
        persisted.append(df.persist())
        return persisted[-1]

    try:
        if stream_epoch:
            gen_dir = os.path.join(store.base, store.current_generation())
        else:
            gen_dir = _direct_epoch_checks(store, eid, allow_refolded_replay)
        sink = {name: os.path.join(gen_dir, name) for name in store._SINKS}
        exploded, bkt_col, ids, publish = plan(batch, eid, store, sink, persist)
        stats = _guarded_epoch_stats(
            exploded, bkt_col, sink["hwm"], eid, store, ids=ids
        )
        if stats is None:
            return  # empty micro-batch: write NOTHING
        touched, wm = stats
        hwm_pub = ("hwm", lambda: _publish_watermark_row(s, sink["hwm"], eid, wm))
        wave_head = []
        if stream_epoch:
            wave_head = [hwm_pub]
        else:
            hwm_pub[1]()
            if fail_after == "hwm":
                raise RuntimeError("injected crash after hwm write")
        writes, defer = publish(touched)
        _publish_epoch_sinks(wave_head + writes, fail_after, defer=defer)
    finally:
        for df in persisted:
            df.unpersist()
        if lease is not None:
            lease.release()


def _drain_epoch_stream(
    spark: SparkSession,
    src: str,
    store: EpochStoreBase,
    epoch,
    *,
    fail_epoch: int | None,
    fail_after: str | None,
    max_files_per_trigger: int,
    compact_every: int | None,
    target_file_bytes: int,
    reader_grace_seconds: float,
) -> None:
    """The drain both stores share: ``src`` streams with availableNow
    through ``epoch(batch, eid, fail_after)`` — the store's public batch
    function as a stream epoch — under the writer lock, checkpointed at
    ``<base>/ckpt`` (see :func:`run_dedup_ingest_stream`)."""

    def process(batch: DataFrame, eid: int) -> None:
        epoch(batch, eid, fail_after if eid == fail_epoch else None)
        if compact_every and eid > 0 and eid % compact_every == 0:
            # drain holds the writer lock — INCREMENTAL fold in place
            # (only epochs past the previous fold marker are rewritten;
            # this epoch is not yet committed, so its dirs are carried
            # verbatim and its replay overwrites them)
            _compact_into_new_generation(
                spark,
                store,
                target_file_bytes,
                full=False,
                grace_seconds=reader_grace_seconds,
            )
            if fail_after == "compact" and eid == fail_epoch:
                raise RuntimeError("injected crash after in-drain fold")

    # single-writer lock for the drain: the store compactor publishes
    # new generations, so a drain racing it could write epoch partitions
    # into a generation about to be superseded and GC'd — same lock
    # machinery as the ANN index / rollup-store writers, stale-holder
    # reclaim included
    lease = G._index_write_lock(spark, store.base)
    try:
        _refuse_direct_driven(store)
        st = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(src)
        )
        q = (
            st.writeStream.foreachBatch(process)
            .option("checkpointLocation", os.path.join(store.base, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        lease.release()


def dedup_ingest_batch(
    batch: DataFrame,
    eid: int,
    store: DedupIngestStore,
    *,
    tau: float = 0.8,
    max_bucket: int = 256,
    fail_after: str | None = None,
    allow_refolded_replay: bool = False,
    _stream_epoch: bool = False,
) -> None:
    """Process one micro-batch (the foreachBatch body). Deterministic
    given (batch contents, prior committed epochs); idempotent under
    retry — see module docstring.

    A store has ONE writer sequence: either a streaming drain (whose
    checkpoint owns the epoch numbering) or direct calls (the bench's
    checkpoint-less pattern). A direct call against a stream-driven
    store raises: its epoch id either collides with the stream's
    numbering (the resumed drain reuses the id and its static overwrite
    destroys the direct epoch) or sits above every future stream eid
    (invisible to all ``batch_id < eid`` prior reads — the duplicates
    it ingested are never consulted). Both are silent data loss.

    A direct epoch id at or below the store's FOLD frontier also
    raises: after a compaction folds epochs 0..hi into the single
    ``batch_id=hi`` partition, replaying eid == hi statically
    overwrites that partition (destroying every folded epoch) and
    replaying eid < hi re-materializes rows the fold already carries
    (every later batch would read them twice). Same-id replay is only
    idempotent ABOVE the fold frontier, where the original partition
    still exists to be overwritten. ``allow_refolded_replay=True`` is
    the explicit opt-out for deliberate rebuild-from-source replays.

    Locking and generation resolution are the shared engine's
    (:func:`_run_epoch`): a direct call SELF-ACQUIRES the store's
    non-reentrant writer lock (since r11 — a caller must not hold
    ``generations._index_write_lock`` around it);
    :func:`run_dedup_ingest_stream` passes ``_stream_epoch=True`` and
    owns the lock for the whole drain.

    ``fail_after`` is a crash-injection hook for tests: one of
    ``'decisions' | 'bands_idx' | 'counts' | 'docstore'`` raises
    RuntimeError immediately after that sink's write, simulating a crash
    between the write and the checkpoint commit.
    """
    _run_epoch(
        batch,
        eid,
        store,
        functools.partial(_dedup_epoch_plan, tau=tau, max_bucket=max_bucket),
        fail_after=fail_after,
        allow_refolded_replay=allow_refolded_replay,
        stream_epoch=_stream_epoch,
    )


def _dedup_epoch_plan(
    batch: DataFrame,
    eid: int,
    store: DedupIngestStore,
    sink: dict[str, str],
    persist,
    *,
    tau: float,
    max_bucket: int,
):
    """The MinHash store's per-epoch plan for :func:`_run_epoch`: the
    batch's ranked band rows as the exploded frame, then — given the
    touched buckets — the four data-sink writes."""
    from data_pipeline_with_big_data_stack_spark.operators.dedup_index import (
        minhash_signatures,
        verify_jaccard,
    )

    s = batch.sparkSession
    n_bkt = store.n_bkt
    bands = minhash_signatures(batch).select(
        "doc_id",
        F.posexplode(F.array("band0", "band1", "band2")).alias("band", "band_key"),
    )
    w = W.partitionBy("band", "band_key").orderBy("doc_id")
    # the fused preamble materializes new_ranked and returns the batch's
    # touched lookup buckets — BOUNDED (≤ n_bkt ints). doc_id min/max
    # ride this frame (no ``ids=``): minhash_signatures emits exactly
    # one row per doc (a select — NULL text coalesces, nothing filters)
    # and the band array is a literal 3-tuple, so the exploded ids are
    # id-complete for the batch
    new_ranked = persist(
        bands.withColumn("bkt", _band_bkt(n_bkt)).withColumn(
            "brk", F.row_number().over(w)
        )
    )

    def publish(touched: list[int]):
        # per-bucket prior occupancy from the SIDECAR (one row per
        # touched (bucket, epoch)) — the bands index itself is never
        # aggregated here, and the sidecar scan prunes to touched bkts
        prior_counts = (
            _prior(
                s, sink["counts"], eid, "bkt", touched, fs=store.fs,
                schema=store.read_schema("counts"),
            )
            .groupBy("band", "band_key")
            .agg(F.max("n").alias("prior_n"))
        )
        capped = persist(
            new_ranked.join(prior_counts, ["band", "band_key"], "left")
            .withColumn("rk", F.coalesce("prior_n", F.lit(0)) + F.col("brk"))
            .filter(F.col("rk") <= max_bucket)
            .select("doc_id", "band", "band_key", "rk", "bkt")
        )
        # prior bands scan prunes to the batch's buckets: any prior row
        # that can equi-join a batch row on (band, band_key) has the
        # same bkt by construction, so pruning loses no candidate
        prior_bands = _prior(
            s, sink["bands_idx"], eid, "bkt", touched, fs=store.fs,
            schema=store.read_schema("bands_idx"),
        )
        all_bands = prior_bands.unionByName(capped.drop("bkt"))
        cand = persist(
            capped.drop("bkt")
            .alias("n")
            .join(all_bands.alias("p"), ["band", "band_key"])
            .filter(F.col("p.doc_id") < F.col("n.doc_id"))
            .select(
                F.col("p.doc_id").alias("doc_a"),
                F.col("n.doc_id").alias("doc_b"),
            )
            .distinct()
        )
        # candidate partners' doc-store buckets (doc_b is always in the
        # batch, so only doc_a needs prior text) — again ≤ n_bkt ints
        partner_bkts = sorted(
            r[0]
            for r in cand.select(
                _doc_bkt("doc_a", n_bkt).alias("dbkt")
            )
            .distinct()
            .collect()
        )
        # verify via operators/dedup_index.verify_jaccard: joins move
        # raw text, shingling runs AFTER them on candidate-scale rows
        # only — per-batch verify compute is O(candidates), and the
        # prior doc-store scan prunes to the partners' buckets
        texts = _prior(
            s, sink["docstore"], eid, "dbkt", partner_bkts, fs=store.fs,
            schema=store.read_schema("docstore"),
        ).unionByName(batch.select("doc_id", "text"))
        ver = verify_jaccard(cand, texts, threshold=tau)
        wv = W.partitionBy("doc_b").orderBy("doc_a")
        rejected = (
            ver.withColumn("vrk", F.row_number().over(wv))
            .filter(F.col("vrk") == 1)
            .select(
                F.col("doc_b").alias("doc_id"),
                F.col("doc_a").alias("dup_of"),
                "jaccard",
            )
        )
        # this epoch's sidecar rows: the new cumulative occupancy of
        # every bucket it touched (rk is already cumulative)
        epoch_counts = (
            capped.groupBy("band", "band_key", "bkt")
            .agg(F.max("rk").alias("n"))
            .select("band", "band_key", "n", "bkt")
        )
        docs_out = batch.select("doc_id", "text").withColumn(
            "dbkt", _doc_bkt("doc_id", n_bkt)
        )
        return (
            [
                ("decisions", lambda: _write_epoch(rejected, sink["decisions"], eid, None)),
                ("bands_idx", lambda: _write_epoch(capped, sink["bands_idx"], eid, "bkt", n_bkt)),
                ("counts", lambda: _write_epoch(epoch_counts, sink["counts"], eid, "bkt", n_bkt)),
                ("docstore", lambda: _write_epoch(docs_out, sink["docstore"], eid, "dbkt", n_bkt)),
            ],
            # the decisions job's plan LISTS the docstore's prior
            # partitions (`texts` is not cached), so the docstore
            # publish must not mutate that directory concurrently
            {"docstore"},
        )

    return new_ranked, "bkt", None, publish


def run_dedup_ingest_stream(
    spark: SparkSession,
    src: str,
    store: DedupIngestStore,
    *,
    tau: float = 0.8,
    max_bucket: int = 256,
    fail_epoch: int | None = None,
    fail_after: str | None = None,
    max_files_per_trigger: int = 1,
    compact_every: int | None = None,
    target_file_bytes: int = _TARGET_FILE_BYTES,
    reader_grace_seconds: float = 0.0,
) -> None:
    """Drain ``src`` (a parquet file-source dir of (doc_id, text)
    chunks) through :func:`dedup_ingest_batch` with availableNow.
    ``fail_epoch``/``fail_after`` inject one crash for recovery tests;
    restarting without them resumes from the checkpoint.

    ``compact_every=N`` makes a long-running ingest SELF-MAINTAINING:
    after every Nth epoch the drain folds the store in place (the
    drain already holds the writer lock). The in-drain fold is
    INCREMENTAL — only epochs past the previous fold marker are read
    and rewritten; earlier fold partitions carry by MANIFEST REFERENCE
    (`operators/segman`: one small write per sink, zero data bytes on
    every scheme including linkless object stores — VERDICT r11 #1) —
    so each fold costs O(data since the last fold). Without
    periodic folding the per-batch prior reads re-list every
    accumulated epoch directory — O(epochs × buckets) metadata per
    batch even when the data scan prunes — so the fold is what keeps
    per-batch cost truly bounded over an unbounded stream. Safe under
    retry: the fold only covers CHECKPOINT-committed epochs (the
    in-flight epoch's fresh dirs are carried by manifest reference,
    which any replay's overwrite shadows), and a replayed epoch simply
    re-folds into one more generation — a pure relayout each time.
    READER CADENCE: every fold
    is a publish, and GC keeps exactly one grace generation, so a
    serving read that resolved the pointer just before a publish
    survives, by default, only until the NEXT publish — worst case ONE
    fold interval (N epochs), and a crash-replay can put two publishes
    close together. ``reader_grace_seconds`` > 0 removes that coupling:
    every publish's GC also retains generations published within the
    window, so the serving contract is wall-clock time regardless of N
    (see :func:`generations.gc_generations`); size the window above the
    longest serving query. Incremental folds self-upgrade to a full
    collapse on the LSM size-ratio trigger, so fold-partition count and
    total rewrite work stay bounded without a manual
    :func:`compact_dedup_ingest_store` cadence.

    Refuses a DIRECT-driven store (epochs on disk but no checkpoint) —
    the mirror of :func:`dedup_ingest_batch`'s refusal: a fresh
    checkpoint numbers epochs from 0, so the drain's static overwrites
    would wipe the direct epochs one id at a time while any above its
    progress stay invisible to ``batch_id < eid`` prior reads. The
    refusal scan runs INSIDE the single-writer lock, with the
    generation resolved after acquisition, so it can never race another
    driver's compactor publishing/GC'ing the tree mid-scan (ADVICE
    r10)."""
    _drain_epoch_stream(
        spark,
        src,
        store,
        lambda b, eid, fail: dedup_ingest_batch(
            b,
            eid,
            store,
            tau=tau,
            max_bucket=max_bucket,
            fail_after=fail,
            _stream_epoch=True,
        ),
        fail_epoch=fail_epoch,
        fail_after=fail_after,
        max_files_per_trigger=max_files_per_trigger,
        compact_every=compact_every,
        target_file_bytes=target_file_bytes,
        reader_grace_seconds=reader_grace_seconds,
    )


def _refuse_direct_driven(store: EpochStoreBase) -> None:
    """A fresh drain against a DIRECT-driven store (epochs on disk but
    no checkpoint) must refuse — the mirror of
    :func:`_direct_epoch_checks`: a fresh checkpoint numbers epochs
    from 0, so the drain's static overwrites would wipe the direct
    epochs one id at a time while any above its progress stay invisible
    to ``batch_id < eid`` prior reads. Checks EVERY sink: the first
    sink is written first, so a direct epoch that crashed mid-batch can
    exist there alone. The caller must hold the store's writer lock
    with the generation resolved after acquisition (ADVICE r10).
    ``batch_id=-1`` is never an epoch: stores initialized before
    seedless init carry zero-row partitions under that id."""
    if _committed_hi(store) is not None:
        return
    fs = store.fs
    gen_dir = os.path.join(store.base, store.current_generation())
    stray = sorted(
        {
            int(d.split("=", 1)[1])
            for s in store._SINKS
            for d in segman.resolve_all(fs, os.path.join(gen_dir, s))
            if d.startswith("batch_id=") and int(d.split("=", 1)[1]) >= 0
        }
    )
    if stray:
        raise RuntimeError(
            f"{store._KIND} at {store.base!r} is "
            f"direct-driven (epochs {stray} exist with no "
            "checkpoint) — a fresh drain would renumber from "
            "epoch 0 and overwrite them; use a new store for "
            "streaming ingestion"
        )


def compact_dedup_ingest_store(
    spark: SparkSession,
    store: EpochStoreBase,
    target_file_bytes: int = _TARGET_FILE_BYTES,
    reader_grace_seconds: float = 0.0,
    full: bool = True,
) -> dict[str, int]:
    """Small-file hygiene for a long-running ingest — layout-driven, so
    it folds ANY :class:`EpochStoreBase` store (this module's four-sink
    MinHash store; `operators/substring_ingest`'s two-sink store, which
    re-exports it as ``compact_substring_ingest_store``): every epoch
    appends ~1 file per sink per touched bucket, so thousands of
    micro-batches
    accumulate thousands of tiny files. Fold all COMMITTED epochs of
    each sink into the single highest committed ``batch_id`` partition
    of a NEW generation, then publish it with one atomic pointer flip
    (`operators/generations`) — concurrent readers that resolved the
    old pointer keep a fully intact grace generation, so compaction
    never pauses serving. "COMMITTED" comes from the streaming
    CHECKPOINT's commit log, not the directory listing: a drain that
    crashed between a sink write and the checkpoint commit leaves a
    half-written epoch directory on disk, and folding it would both
    bake uncommitted rows into the store and collide with the epoch id
    Spark REUSES on replay (whose ``batch_id < eid`` prior-filter would
    then exclude the whole folded partition — losing every prior
    epoch). Epoch dirs ABOVE the committed high-water — crashed
    in-flight stream epochs (direct-call epochs cannot exist on a
    stream-driven store; ``dedup_ingest_batch`` refuses them) — are
    carried into the new generation BY REFERENCE rather than dropped,
    so compaction is a pure relayout: the replay's static overwrite
    materializes the logical partition physically, which shadows the
    reference (`operators/segman`) exactly as it overwrote the
    original directory.
    Checkpoint-less (direct-driven) stores treat every on-disk epoch as
    committed and fold them all.
    Monotonic COMMITTED epoch ids make the fold safe: Spark never
    reuses a committed batch id after restart, so every future epoch's
    ``batch_id < eid`` prior-filter still covers the folded partition.
    Bucketed sinks keep their bucket partitioning (the fold
    must stay prunable) and split each bucket into ~``target_file_bytes``
    range-partitioned files, so the compacted floor is one file per
    occupied bucket and no bucket ever folds through a single task
    regardless of its accumulated size. Holds the store's
    single-writer lock (shared with
    :func:`run_dedup_ingest_stream`'s drain) so a compaction can never
    supersede a generation a live micro-batch is writing into. A crash
    mid-compaction leaves an unpublished orphan generation, GC'd on the
    next publish. Returns the new per-sink file counts.

    ``full=False`` runs one INCREMENTAL fold instead — the same step
    the self-maintaining drain takes (only epochs past the previous
    fold marker are rewritten; earlier fold partitions carry by
    manifest reference; self-upgrades to full on the LSM size-ratio
    trigger) — for out-of-drain maintenance cadences and the bench's
    fold-carry probe, under the same writer lock; incremental folds
    skip the file-count walk (a recursive listing the maintenance hot
    path must not pay) and return {}."""
    lease = G._index_write_lock(spark, store.base)
    try:
        return _compact_into_new_generation(
            spark,
            store,
            target_file_bytes,
            full=full,
            grace_seconds=reader_grace_seconds,
        )
    finally:
        lease.release()


def _committed_hi(store: EpochStoreBase) -> int | None:
    """Highest epoch the streaming CHECKPOINT has committed — the only
    authority on which on-disk epoch directories are final. None when
    the store has no checkpoint (driven by direct ``dedup_ingest_batch``
    calls, which have no retry machinery — there every directory is
    committed by definition)."""
    commits = os.path.join(store.base, "ckpt", "commits")
    if not store.fs.is_dir(commits):
        return None
    ids = [int(f) for f in store.fs.list_names(commits) if f.isdigit()]
    return max(ids, default=-1)


# generation-local marker (dot-prefixed — invisible to Spark's file
# index): two frontiers, the epoch id incremental folds have folded
# through and the id the last FULL fold collapsed through — the
# size-ratio trigger compares what accumulated SINCE the full fold
# against the full fold's base (comparing one interval's data against
# the whole store would never fire in steady state)
_FOLD_MARKER = ".folded_through"


def _read_fold_marker(gen_dir: str, fs: fsio.Fs) -> tuple[int, int]:
    """(incremental_through, full_through); (-1, -1) when absent."""
    try:
        inc, full_ = (
            int(x) for x in fs.read_text(os.path.join(gen_dir, _FOLD_MARKER)).split()
        )
        return inc, full_
    except (FileNotFoundError, ValueError):
        return -1, -1


# incremental folds upgrade to a FULL fold when the data since the last
# full fold rivals the folded base (the LSM size-ratio policy — total
# rewrite work stays O(data · log folds), not O(store² / interval)) or
# when accumulated fold partitions would bloat per-batch dir listings
_FULL_FOLD_MAX_PARTS = 16


def _compact_into_new_generation(
    spark: SparkSession,
    store: EpochStoreBase,
    target_file_bytes: int,
    full: bool = True,
    grace_seconds: float = 0.0,
) -> dict[str, int]:
    """``full=True`` folds every committed epoch into one partition —
    the manual small-file collapse. ``full=False`` is the INCREMENTAL
    fold the self-maintaining drain uses: only epochs past the previous
    fold marker are read and rewritten; earlier fold partitions carry
    by manifest reference (metadata-only), and the fold self-upgrades to
    full on the LSM size-ratio trigger — everything accumulated SINCE
    the last full fold has grown to rival that fold's base — or when
    fold partitions exceed ``_FULL_FOLD_MAX_PARTS``. Base doubling
    makes full folds exponentially spaced, so lifetime rewrite work is
    O(data × log folds). Carried partitions — prior fold partitions at
    or below the marker, and crashed in-flight epochs above the
    committed high-water (their checkpoint replay statically overwrites
    the logical partition, which SHADOWS the carried reference —
    `operators/segman`) — move by MANIFEST REFERENCE: one small write
    per sink, zero data bytes on every scheme (VERDICT r11 #1; the r10
    design hardlinked locally and byte-copied on linkless stores).
    Only a caller-requested ``full`` fold reports per-sink file counts —
    a recursive walk the drain's hot path must not pay, even when a
    fold self-upgrades."""
    report = full
    fs = store.fs
    cur = store.current_generation()
    cur_dir = os.path.join(store.base, cur)
    gen = G.next_gen(store.base, fs=fs)
    gen_dir = os.path.join(store.base, gen)
    ckpt_hi = _committed_hi(store)
    inc_mark, full_mark = (-1, -1) if full else _read_fold_marker(cur_dir, fs)
    lo = -1 if full else inc_mark
    if lo < 0:
        full = True  # a fold from the beginning IS a full fold

    def _eid(logical: str) -> int:
        return int(logical.split("=", 1)[1])

    def _part_bytes(entries: dict[str, list[str]], e: int) -> int:
        return sum(fs.dir_bytes(d) for d in entries.get(f"batch_id={e}", []))

    if not full and lo >= 0:
        # upgrade decision on the layout's representative sink: compare
        # what accumulated since the last FULL fold (prior incremental
        # fold partitions + new epochs) against that fold's base
        bands_entries = segman.resolve_all(
            fs, os.path.join(cur_dir, store._REP_SINK)
        )
        ids = [_eid(d) for d in bands_entries if d.startswith("batch_id=")]
        committed = [
            e for e in ids if e >= 0 and (ckpt_hi is None or e <= ckpt_hi)
        ]
        base_b = sum(
            _part_bytes(bands_entries, e) for e in committed if e <= full_mark
        )
        since_full_b = sum(
            _part_bytes(bands_entries, e) for e in committed if e > full_mark
        )
        n_parts = len([e for e in committed if e <= lo])
        if since_full_b >= base_b or n_parts >= _FULL_FOLD_MAX_PARTS:
            full, lo = True, -1
    marker = lo

    def _fold_sink(sink: str) -> tuple[int, int | None]:
        """Fold one sink into the new generation; returns (hi committed
        epoch, logical file count or None). Independent across sinks —
        the caller overlaps them on a small driver thread pool (guide
        §2.6: each sink's fold is a short job + metadata writes whose
        latency otherwise serializes; r15). Thread-safe: touches only
        sink-local paths, its own DataFrames, and the shared read-only
        fold parameters (lo/hi bounds derive from per-sink listings)."""
        src = os.path.join(store.base, cur, sink)
        entries = segman.resolve_all(fs, src)
        on_disk = [_eid(d) for d in entries if d.startswith("batch_id=")]
        committed = (
            on_disk if ckpt_hi is None else [e for e in on_disk if e <= ckpt_hi]
        )
        hi = max(committed, default=-1)
        fold_ids = [e for e in committed if lo < e <= hi]
        dst = os.path.join(gen_dir, sink)
        if fold_ids and hi >= 0:
            bkt_col = store._SINK_BKT.get(sink)
            df = (
                segman.read_table(spark, fs, src, schema=store.read_schema(sink))
                .filter(
                    (F.col("batch_id") > F.lit(lo))
                    & (F.col("batch_id") <= F.lit(hi))
                )
                .drop("batch_id")
            )
            # layout hook: a read-equivalent collapse of the covered
            # range (the dedup store's cumulative count sidecar folds
            # to its per-key max; identity for pure-relayout sinks)
            df = store._fold_collapse(sink, df)
            total = max(1, sum(_part_bytes(entries, e) for e in fold_ids))
            n_out = max(1, -(-total // target_file_bytes))
            if bkt_col is None:
                df = df.repartition(int(n_out))
                _write_epoch(df, dst, hi, None)
            else:
                # honor target_file_bytes for bucketed sinks too: range-
                # partition on (bucket, salt) so an oversized bucket
                # spans several tasks/files while small buckets still
                # fold to one file each
                n_tasks = max(int(n_out), store.n_bkt)
                df = df.repartitionByRange(
                    n_tasks, F.col(bkt_col), F.col(store._SINK_FOLD_SALT[sink])
                )
                _write_epoch(df, dst, hi, bkt_col, n_bkt=0)
        # prior incremental-fold partitions (ids <= lo; this fold covers
        # only (lo, hi]) and crashed in-flight epochs above the
        # committed high-water carry BY REFERENCE — the replay's static
        # overwrite materializes the logical partition physically, and
        # shadow-merge resolution makes that rewrite win, exactly as it
        # overwrote the original dir before. An old store's zero-row
        # batch_id=-1 partition is neither folded nor carried
        refs = {
            f"batch_id={e}": entries[f"batch_id={e}"]
            for e in on_disk
            if (-1 < e <= lo) or e > hi
        }
        if refs:
            segman.write_manifest(fs, dst, refs, merge="shadow")
        n_files = None
        if report:
            # LOGICAL file count — physical partitions plus carried
            # references (a physical-only listing would under-report a
            # sink whose in-flight epoch carried by reference). The
            # refs just written are in hand and can never collide with
            # the physical partition (e <= lo or e > hi vs hi), so no
            # manifest read-back is needed; referenced
            # dirs are listed ONCE per segment parent (not once per
            # partition) and attributed by the delimiter-safe
            # "/batch_id=e/" path component — never by comparing
            # rendered absolute URIs.
            by_parent: dict[str, set[str]] = {}
            for logical, dirs in refs.items():
                for d in dirs:
                    by_parent.setdefault(
                        os.path.dirname(d.rstrip("/")), set()
                    ).add(logical)
            n_files = sum(
                1 for f in fs.list_files_recursive(dst) if f.endswith(".parquet")
            )
            for parent, logicals in by_parent.items():
                n_files += sum(
                    1
                    for f in fs.list_files_recursive(parent)
                    if f.endswith(".parquet")
                    and any(f"/{lg}/" in f for lg in logicals)
                )
        return hi, n_files

    from concurrent.futures import ThreadPoolExecutor

    out: dict[str, int] = {}
    with ThreadPoolExecutor(max_workers=len(store._SINKS)) as pool:
        for sink, (hi, n_files) in zip(
            store._SINKS, pool.map(_fold_sink, store._SINKS)
        ):
            marker = max(marker, hi)
            if n_files is not None:
                out[sink] = n_files
    new_full_mark = marker if full else full_mark
    fs.write_text_atomic(
        os.path.join(gen_dir, _FOLD_MARKER), f"{marker} {new_full_mark}\n"
    )
    G.publish(store.base, gen, fs=fs)
    G.gc_generations(store.base, gen, cur, grace_seconds=grace_seconds, fs=fs)
    return out


def stage_ordered_chunks(
    spark: SparkSession, docs: DataFrame, n_chunks: int = 4
) -> tuple[str, str]:
    """Write ``docs`` as ``n_chunks`` single-file parquet chunks in
    ascending doc_id ranges with ascending mtimes, so the file source
    streams them in id order (the crawl-shard arrival contract the
    batch oracle's full-corpus replay assumes). Returns (base, src)."""
    from data_pipeline_with_big_data_stack_spark.session import scratch_dir

    import glob

    base = scratch_dir("dedup_ingest_")
    src = os.path.join(base, "src")
    os.makedirs(src)
    lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).head()
    span = max(1, (hi - lo + 1))
    # ONE write job for all chunks (was: one filtered coalesce(1) write
    # per chunk — n_chunks full scans of the corpus; r15, guide §1.2).
    # The chunk boundaries are the identical driver-side integer ranges;
    # repartition BY the chunk id lands each chunk in exactly one task,
    # so partitionBy emits exactly one file per non-empty chunk. An
    # empty chunk writes no dir — equivalent to the empty micro-batch
    # the per-chunk writer produced (isEmpty early-return either way).
    bounds = [lo + span * i // n_chunks for i in range(1, n_chunks + 1)]
    chunk = F.when(F.col("doc_id") < bounds[0], 0)
    for i in range(1, n_chunks):
        chunk = chunk.when(F.col("doc_id") < bounds[i], i)
    tmp = os.path.join(base, "tmp_chunks")
    (
        docs.withColumn("__chunk", chunk)
        .repartition(n_chunks, F.col("__chunk"))
        .write.mode("overwrite")
        .partitionBy("__chunk")
        .parquet(tmp)
    )
    for i in range(n_chunks):
        parts = glob.glob(os.path.join(tmp, f"__chunk={i}", "*.parquet"))
        if not parts:  # empty chunk → no micro-batch file
            continue
        dst = os.path.join(src, f"chunk_{i}.parquet")
        os.rename(parts[0], dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
    return base, src
