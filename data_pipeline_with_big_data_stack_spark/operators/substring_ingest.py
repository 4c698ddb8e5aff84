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

**The shared epoch engine.** Everything around the per-epoch plan —
the writer lock and direct-epoch refusals, the fused preamble and
watermark ordering, the exactly-once per-epoch static-overwrite
publishes, the drain with its in-drain incremental folds, and the
compactor — is `operators/dedup_ingest`'s layout-driven
:class:`dedup_ingest.EpochStoreBase` engine (:func:`dedup_ingest._run_epoch`,
:func:`dedup_ingest._drain_epoch_stream`,
:func:`dedup_ingest.compact_dedup_ingest_store`, re-exported here as
:func:`compact_substring_ingest_store`). This module keeps only the
store layout and its epoch plan.

**Index size.** The index holds 16 bytes + bucket per DISTINCT corpus
window — the suffix-array-equivalent state, linear in corpus tokens and
hash-bucket-partitioned (``bkt = pmod(hash(w1), n_bkt)``; size ``n_bkt``
per the rule in `operators/dedup_ingest`). Post-fold, per-batch prior
reads list O(buckets) files instead of O(epochs), pinned in
tests/test_substring_ingest.py and the per-epoch listing test in
tests/test_scale_ratios.py.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_with_big_data_stack_spark.operators.dedup_ingest import (
    _DEFAULT_N_BKT,
    _TARGET_FILE_BYTES,
    EpochStoreBase,
    _drain_epoch_stream,
    _init_epoch_store,
    _prior,
    _run_epoch,
    _write_epoch,
    compact_dedup_ingest_store as compact_substring_ingest_store,
)


class SubstringIngestStore(EpochStoreBase):
    """Generation-versioned store: per-doc span DECISIONS, the
    accumulated window-fingerprint index, and the shared doc-id
    watermark sidecar. Layout drives the shared read/init/epoch/fold
    engine — see :class:`dedup_ingest.EpochStoreBase`."""

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
    _run_epoch(
        batch,
        eid,
        store,
        functools.partial(_substring_epoch_plan, k=k),
        fail_after=fail_after,
        allow_refolded_replay=allow_refolded_replay,
        stream_epoch=_stream_epoch,
    )


def _substring_epoch_plan(
    batch: DataFrame,
    eid: int,
    store: SubstringIngestStore,
    sink: dict[str, str],
    persist,
    *,
    k: int,
):
    """This store's per-epoch plan for `dedup_ingest._run_epoch`: the
    batch's fingerprinted windows as the exploded frame, then — given
    the touched buckets — the decisions and index writes."""
    from data_pipeline_with_big_data_stack_spark.queries.curation import (
        substring_span_accounting,
        substring_windows,
    )

    spark = batch.sparkSession
    n_bkt = store.n_bkt
    base, c = substring_windows(batch.select("doc_id", "text"), k)
    # PERSIST the exploded/fingerprinted windows and the index-joined
    # firsts: the epoch runs three separate actions (fused preamble,
    # decisions write, index write) and without caching each would
    # re-run the explode + double-xxhash64 over the whole batch and
    # re-scan/re-join the prior index — the per-epoch hot path this
    # module exists for (same pattern as the MinHash store's plan)
    c = persist(
        c.withColumn("bkt", F.pmod(F.hash("w1"), F.lit(int(n_bkt))).cast("int"))
    )

    def publish(touched: list[int]):
        prior = _prior(
            spark, sink["windows_idx"], eid, "bkt", touched, fs=store.fs,
            schema=store.read_schema("windows_idx"),
        )
        firsts = persist(
            c.groupBy("w1", "w2", "bkt")
            .agg(F.min("pos").alias("first_pos"))
            .join(prior.withColumn("seen", F.lit(True)), ["w1", "w2"], "left")
        )
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
        return (
            [
                ("decisions", lambda: _write_epoch(decisions, sink["decisions"], eid, None)),
                ("windows_idx", lambda: _write_epoch(new_wins, sink["windows_idx"], eid, "bkt", n_bkt)),
            ],
            frozenset(),
        )

    # the watermark ids aggregate over the RAW batch (``ids=``): sub-K
    # docs legitimately explode to zero windows, so a short max-id doc
    # would otherwise silently lower the recorded watermark
    return c, "bkt", batch, publish


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
    whole drain. ``fail_epoch``/``fail_after`` inject one crash for
    recovery tests; restarting without them resumes from the checkpoint
    and replays the crashed epoch idempotently. ``compact_every=N``
    makes a long-running ingest SELF-MAINTAINING exactly as
    `dedup_ingest.run_dedup_ingest_stream`, and the drain refuses a
    DIRECT-driven store the same way (the shared
    `dedup_ingest._drain_epoch_stream`)."""
    _drain_epoch_stream(
        spark,
        src,
        store,
        # looks substring_ingest_batch up at call time, so a spy patched
        # onto this module sees every stream epoch
        lambda b, eid, fail: substring_ingest_batch(
            b, eid, store, k=k, fail_after=fail, _stream_epoch=True
        ),
        fail_epoch=fail_epoch,
        fail_after=fail_after,
        max_files_per_trigger=max_files_per_trigger,
        compact_every=compact_every,
        target_file_bytes=target_file_bytes,
        reader_grace_seconds=reader_grace_seconds,
    )
