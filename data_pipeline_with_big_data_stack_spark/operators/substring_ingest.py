"""Streaming/incremental exact-substring dedup — the continuous-ingest
form of :func:`queries.curation.exact_substring_dedup` (the Lee et al.
2022 suffix-array dedup, re-expressed relationally; reference analogue:
the continuous-ingest path of
`M/app_airflow/app/dags/goes_satellite_etl.py` feeding Druid — here the
stream is crawl-shard document batches and the accumulated state is the
corpus's window-fingerprint index).

At 100 TB the production shape of exact-substring dedup is not a
full-corpus re-run per crawl drop: shards arrive continuously, each
batch is checked against the windows the corpus has ALREADY seen, and
only the index grows. Every micro-batch:

  1. explodes the batch's docs into fingerprinted sliding K-token
     windows (:func:`queries.curation.substring_windows` — the same
     guarded position packing and 128-bit fingerprint as the batch op),
  2. reads the accumulated window index pruned to committed epochs
     (``batch_id < eid``) AND the batch's touched fingerprint buckets —
     per-batch scan cost is O(touched fraction of the index), never
     O(accumulated index),
  3. marks a window occurrence duplicated iff its fingerprint exists in
     the prior index (any prior occurrence is strictly earlier — doc
     ids arrive monotone, the crawl-shard contract) OR an earlier
     occurrence exists within the batch (``pos != batch-min pos``),
  4. merges covered positions into disjoint per-doc spans
     (:func:`queries.curation.substring_span_accounting` — the doc is
     wholly contained in its batch, so span accounting is batch-local)
     and publishes the per-doc DECISIONS epoch, and
  5. appends the batch's NEW window fingerprints to the index.

**Batch-boundary independence (the correctness contract).** A window's
global first occurrence is its min packed position; positions grow with
doc id and ids arrive monotone, so every keep/remove decision depends
only on already-arrived data. Monotonicity is ENFORCED, not assumed
(VERDICT r14 #1): every epoch's first action checks the batch's min
doc id against the store's persisted per-epoch doc-id watermark (the
shared ``hwm`` sink) and raises in-plan on violation — an out-of-order
crawl shard aborts loudly instead of silently flipping keep-first
decisions (`dedup_ingest._guarded_epoch_stats`, fused since r16 with
the touched-bucket collect into one action). The drained decisions therefore equal the
batch operator's full-corpus result for ANY chunking of the stream, and
the registry twin (``q_stream_exact_substring_dedup``) gates against
the SAME full-corpus DuckDB replay
(:data:`queries.curation.EXACT_SUBSTRING_ORACLE`) — through an
in-drain incremental fold and a final full compaction, so the gate also
pins that folding never changes a decision or an index row.

**Exactly-once under foreachBatch retry.** Both sinks are per-epoch
``batch_id=<eid>`` static-overwrite partitions and every prior read
filters ``batch_id < eid`` — a replayed epoch sees exactly the prior
state the first attempt saw (its own half-written partition is excluded
then overwritten), the identical argument to `operators/dedup_ingest`.

**Single writer.** Writers — the drain and the compactor — serialize on
the store root's writer lock (the shared `operators/generations` lease
machinery, stale-holder reclaim included): two concurrent drains would
otherwise interleave epoch publishes and index appends. Direct
:func:`substring_ingest_batch` calls self-acquire the same lock and
refuse stream-driven stores and folded-over epoch ids
(`dedup_ingest._direct_epoch_checks`). Readers take no lock.

**Index size and lifecycle.** The index holds 16 bytes + bucket per
DISTINCT corpus window — the suffix-array-equivalent state, linear in
corpus tokens and hash-bucket-partitioned (``bkt = pmod(hash(w1),
n_bkt)``; size ``n_bkt`` per the rule in `operators/dedup_ingest` —
index bytes / target partition bytes, and ≫ a trickle batch's distinct
window fingerprints). Both sinks live inside generation directories
behind the root's atomic ``_CURRENT`` pointer
(:class:`dedup_ingest.EpochStoreBase`), so an unbounded ingest does NOT
accrete one partition per epoch forever: the drain's ``compact_every``
folds committed epochs in place through the SHARED layout-driven fold
engine (`dedup_ingest._compact_into_new_generation` — incremental
folds carry prior fold partitions by manifest reference, LSM size-ratio
upgrade to full folds), and
:func:`compact_substring_ingest_store` is the manual entry point.
Post-fold, per-batch prior reads list O(buckets) files instead of
O(epochs): the per-epoch listing is a bounded LSM sawtooth — floor
O(n_bkt) after every size-ratio full upgrade, ceiling capped by the
incremental-fold chain — pinned in tests/test_substring_ingest.py and
the per-epoch listing test in tests/test_scale_ratios.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_with_big_data_stack_spark.operators.dedup_ingest import (
    _DEFAULT_N_BKT,
    _TARGET_FILE_BYTES,
    EpochStoreBase,
    _compact_into_new_generation,
    _direct_epoch_checks,
    _guarded_epoch_stats,
    _init_epoch_store,
    _prior,
    _publish_epoch_sinks,
    _publish_watermark_row,
    _refuse_direct_driven,
    _write_epoch,
)
from data_pipeline_with_big_data_stack_spark.operators.generations import (
    _index_write_lock,
)


class SubstringIngestStore(EpochStoreBase):
    """Generation-versioned store: per-doc span DECISIONS, the
    accumulated window-fingerprint index, and the shared doc-id
    watermark sidecar. Layout drives the shared read/init/fold engine —
    see :class:`dedup_ingest.EpochStoreBase`."""

    _KIND = "substring-ingest store"
    _INIT_FN = "init_substring_store"
    _SINKS = ("decisions", "windows_idx", "hwm")
    _SINK_BKT = {"windows_idx": "bkt"}
    # second fold range-key: the independent second hash lane spreads
    # an oversized bucket across size-bounded files uniformly
    _SINK_FOLD_SALT = {"windows_idx": "w2"}
    _SINK_SCHEMAS = {
        "decisions": (
            "doc_id long, n_windows long, n_dup_windows long, "
            "removed_tokens long, kept_tokens long"
        ),
        "windows_idx": "w1 long, w2 long",
        "hwm": "max_doc_id long",
    }
    _REP_SINK = "windows_idx"

    def sink(self, name: str) -> str:
        if name not in self._SINKS:
            raise ValueError(f"unknown sink {name!r}; one of {self._SINKS}")
        return self._sink(name)


def init_substring_store(
    spark: SparkSession, base: str, n_bkt: int = _DEFAULT_N_BKT
) -> SubstringIngestStore:
    """Create and publish an empty generation 1. Refuses an existing
    store (see `dedup_ingest._init_epoch_store`): re-initializing would
    reset the index under a checkpoint that keeps numbering epochs,
    silently re-admitting every known window."""
    return _init_epoch_store(spark, base, n_bkt, SubstringIngestStore)


def substring_ingest_batch(
    batch: DataFrame,
    eid: int,
    store: SubstringIngestStore,
    k: int = 8,
    fail_after: str | None = None,
    *,
    allow_refolded_replay: bool = False,
    _stream_epoch: bool = False,
) -> None:
    """Process one micro-batch (the foreachBatch body). Deterministic
    given (batch contents, prior committed epochs); idempotent under
    retry — see module docstring. A DIRECT call self-acquires the
    store's non-reentrant writer lock and refuses stream-driven stores
    and epoch ids at or below the fold frontier
    (`dedup_ingest._direct_epoch_checks` — both are silent data loss);
    the stream runner passes ``_stream_epoch=True`` and owns the lock
    for the whole drain. ``fail_after='decisions'`` is the
    crash-injection hook: raises after the decisions publish, before
    the index publish, simulating a crash mid-epoch."""
    lease = (
        _index_write_lock(batch.sparkSession, store.base)
        if not _stream_epoch
        else None
    )
    try:
        _substring_ingest_batch_locked(
            batch,
            eid,
            store,
            k=k,
            fail_after=fail_after,
            allow_refolded_replay=allow_refolded_replay,
            _stream_epoch=_stream_epoch,
        )
    finally:
        if lease is not None:
            lease.release()


def _substring_ingest_batch_locked(
    batch: DataFrame,
    eid: int,
    store: SubstringIngestStore,
    *,
    k: int,
    fail_after: str | None,
    allow_refolded_replay: bool,
    _stream_epoch: bool,
) -> None:
    from data_pipeline_with_big_data_stack_spark.queries.curation import (
        substring_span_accounting,
        substring_windows,
    )

    spark = batch.sparkSession
    eid = int(eid)
    # the generation is resolved ONCE (under the writer lock the caller
    # holds), so the prior reads and both epoch publishes land in the
    # same tree even if a pointer flip happened just before the batch.
    # Since r16 stream epochs resolve BEFORE the fused protocol
    # preamble (see `dedup_ingest._dedup_ingest_batch_locked`)
    if not _stream_epoch:
        gen_dir = _direct_epoch_checks(store, eid, allow_refolded_replay)
    else:
        gen_dir = os.path.join(store.base, store.current_generation())
    n_bkt = store.n_bkt
    sink = {name: os.path.join(gen_dir, name) for name in store._SINKS}
    base, c = substring_windows(batch.select("doc_id", "text"), k)
    # PERSIST the exploded/fingerprinted windows and the index-joined
    # firsts: the epoch runs three separate actions (fused preamble,
    # decisions write, index write) and without caching each would
    # re-run the explode + double-xxhash64 over the whole batch and
    # re-scan/re-join the prior index — the per-epoch hot path this
    # module exists for (same pattern as dedup_ingest_batch)
    c = c.withColumn(
        "bkt", F.pmod(F.hash("w1"), F.lit(int(n_bkt))).cast("int")
    ).persist()
    persisted = [c]
    try:
        # the epoch's FIRST action (fused, r16): materialize the
        # windows and return the touched-bucket prune set (<= n_bkt
        # ints) together with the in-plan-guarded doc-id watermark
        # (VERDICT r14 #1) — a violating batch aborts here, before any
        # sink is written. The watermark ids aggregate over the RAW
        # batch (``ids=``): sub-K docs legitimately explode to zero
        # windows, so a short max-id doc would otherwise silently
        # lower the recorded watermark
        stats = _guarded_epoch_stats(
            c, "bkt", sink["hwm"], eid, store, ids=batch
        )
        if stats is None:
            return  # empty micro-batch: write NOTHING
        touched, wm = stats
        hwm_pub = (
            "hwm",
            lambda: _publish_watermark_row(spark, sink["hwm"], eid, wm),
        )
        wave_head = []
        if _stream_epoch:
            # stream epochs publish the watermark row IN the concurrent
            # wave below; DIRECT epochs (no replay machinery) commit it
            # before any data sink — see dedup_ingest's twin for why
            wave_head = [hwm_pub]
        else:
            hwm_pub[1]()
            if fail_after == "hwm":
                raise RuntimeError("injected crash after hwm write")
        prior = _prior(
            spark, sink["windows_idx"], eid, "bkt", touched, fs=store.fs,
            schema=store.read_schema("windows_idx"),
        )
        firsts = (
            c.groupBy("w1", "w2", "bkt")
            .agg(F.min("pos").alias("first_pos"))
            .join(prior.withColumn("seen", F.lit(True)), ["w1", "w2"], "left")
            .persist()
        )
        persisted.append(firsts)
        marked = c.join(
            firsts.select("w1", "w2", "first_pos", "seen"), ["w1", "w2"]
        )
        dup = marked.filter(
            F.col("seen").isNotNull() | (F.col("pos") != F.col("first_pos"))
        ).select("doc_id", "s", (F.col("s") + F.lit(k - 1)).alias("e_pos"))
        decisions = substring_span_accounting(base, c, dup, k)
        new_wins = firsts.filter(F.col("seen").isNull()).select(
            "w1", "w2", "bkt"
        )
        # both publishes race to materialize the shared persisted
        # `firsts` (Spark serializes the cache compute per partition);
        # the index publish is NOT deferred — its plan's only uncached
        # prior read (inside `firsts`) lists its own target dir, which
        # is safe within one action (the file index snapshots before
        # write tasks start) and under a concurrent reader (committed
        # part files appear by atomic rename; _temporary is
        # path-filtered out of every listing)
        _publish_epoch_sinks(
            wave_head
            + [
                ("decisions", lambda: _write_epoch(decisions, sink["decisions"], eid, None)),
                ("windows_idx", lambda: _write_epoch(new_wins, sink["windows_idx"], eid, "bkt", n_bkt)),
            ],
            fail_after,
        )
    finally:
        for df in persisted:
            df.unpersist()


def run_substring_ingest_stream(
    spark: SparkSession,
    src: str,
    store: SubstringIngestStore,
    *,
    k: int = 8,
    fail_epoch: int | None = None,
    fail_after: str | None = None,
    max_files_per_trigger: int = 1,
    compact_every: int | None = None,
    target_file_bytes: int = _TARGET_FILE_BYTES,
    reader_grace_seconds: float = 0.0,
) -> None:
    """Drain ``src`` (a parquet file-source dir of (doc_id, text)
    chunks, streamed in id order) through :func:`substring_ingest_batch`
    with availableNow, holding the store's single-writer lock for the
    whole drain (see module docstring). ``fail_epoch``/``fail_after``
    inject one crash for recovery tests; restarting without them
    resumes from the checkpoint and replays the crashed epoch
    idempotently. ``compact_every=N`` makes a long-running ingest
    SELF-MAINTAINING exactly as `dedup_ingest.run_dedup_ingest_stream`:
    after every Nth epoch the drain incrementally folds the store in
    place (prior fold partitions carry by manifest reference; LSM
    size-ratio upgrade to full), keeping per-batch prior-read listings
    O(buckets) instead of O(epochs). Refuses a DIRECT-driven store
    (epochs on disk but no checkpoint — a fresh drain would renumber
    from 0 and overwrite them, `dedup_ingest._refuse_direct_driven`)."""

    def process(b: DataFrame, eid: int) -> None:
        substring_ingest_batch(
            b,
            eid,
            store,
            k=k,
            fail_after=fail_after if eid == fail_epoch else None,
            _stream_epoch=True,
        )
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

    lease = _index_write_lock(spark, store.base)
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


def compact_substring_ingest_store(
    spark: SparkSession,
    store: SubstringIngestStore,
    target_file_bytes: int = _TARGET_FILE_BYTES,
    reader_grace_seconds: float = 0.0,
    full: bool = True,
) -> dict[str, int]:
    """Manual fold of the two-sink substring store — the identical
    reader-safe protocol as `dedup_ingest.compact_dedup_ingest_store`
    (the shared layout-driven engine): fold all CHECKPOINT-committed
    epochs of each sink into the highest committed ``batch_id``
    partition of a NEW generation (windows_idx keeps its bucket
    partitioning — the fold must stay prunable — split into
    ~``target_file_bytes`` range-partitioned files), carry crashed
    in-flight epochs by manifest reference, publish with one atomic
    pointer flip, GC with one grace predecessor. Holds the store's
    writer lock. ``full=False`` runs one incremental fold (the drain's
    self-maintenance step) instead. Returns the new per-sink logical
    file counts ({} for incremental folds, which skip the listing
    walk)."""
    lease = _index_write_lock(spark, store.base)
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
