"""Incremental materialized-rollup maintenance — the hypertable
"continuous aggregate" / Druid auto-compaction pattern.

A materialized rollup (hourly per-dimension aggregates, parquet
partitioned by day) must absorb late or newly arrived raw events
WITHOUT rescanning history. The maintenance step:

1. derives the set of day partitions the new batch touches (one tiny
   distinct over the batch),
2. reads ONLY those partitions back from the rollup store (partition
   pruning does the work — the unaffected history is never opened),
3. merges mergeable partial aggregates (count, sum; avg derives from
   them — never stored, since averages don't merge),
4. rewrites just the touched partitions via dynamic partition
   overwrite.

At 100 TB this is the difference between an O(new data) nightly job
and an O(history) one. Correctness contract: maintenance result ==
full recompute from all raw data, for any split/ordering of arrivals —
pinned by the oracled registry query (late batch applied incrementally
vs straight SQL over everything) and property tests over random
splits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_with_big_data_stack_spark.operators import fsio
from data_pipeline_with_big_data_stack_spark.session import materialize

ROLLUP_DIMS = ("event_type",)  # default dims — callers can pass their own
ROLLUP_KEYS = ("__date", "bucket", *ROLLUP_DIMS)
_MERGEABLE = ("n_events", "sum_value_micros")
# every non-key column of a store; merge/serve derive a store's dims
# from its schema as (columns − metrics − time keys), so maintenance
# works on any dim set the store was built with
_METRIC_COLS = (
    "n_events",
    "sum_value_micros",
    "min_value_micros",
    "max_value_micros",
    "users_hll",
)


def store_dims(df: DataFrame) -> tuple[str, ...]:
    """The dimension columns of a rollup store DataFrame, in schema
    order — everything that isn't a time key or a metric."""
    skip = {"__date", "bucket", *_METRIC_COLS}
    return tuple(c for c in df.columns if c not in skip)


def round4_micros(micros, divisor=None):
    """round(micros / 1e6 [/ divisor], 4) computed EXACTLY in integer
    space — half away from zero on the true rational, identical in any
    engine. The naive ``F.round(m / 1e6 / n, 4)`` double path is
    engine-dependent at exact half boundaries: Spark rounds the
    SHORTEST DECIMAL representation of the double (Java
    ``BigDecimal.valueOf``), DuckDB rounds the binary value, so
    307030000 micros / 8 events (= 38.37875) rounds to 38.3788 on one
    side and 38.3787 on the other — a half-ulp hash mismatch found by
    the sf0.001 cross-scale sweep. Formula (q = 100·divisor):
    sign(m) · ((2·|m| + q) div (2·q)) / 10000.0, with the integer div
    done in decimal(38,0) via ``num - pmod(num, den)`` so no double
    ever touches the quotient. Oracles replay the same formula with
    HUGEINT ``//``."""
    k = (divisor if divisor is not None else F.lit(1)).cast("long")
    m = micros.cast("decimal(38,0)")
    q = (F.lit(100).cast("long") * k).cast("decimal(38,0)")
    num = F.abs(m) * 2 + q
    den = q * 2
    units = F.floor((num - F.pmod(num, den)) / den)
    signed = F.when(m < 0, -units).otherwise(units)
    return signed.cast("double") / 10000.0


def round4_ratio(numer, denom):
    """Exact 4-dp half-away rounding of ``numer/denom`` where ``numer``
    is an integer count or an exact decimal(18,6) sum and ``denom`` a
    positive integer — the engine-portable replacement for
    ``F.round(numer.cast("double") / denom, 4)`` (see
    :func:`round4_micros` for the half-boundary divergence). Oracles
    replay it as ``((20000*numer + denom) // (2*denom)) / 10000.0``
    for counts, or the micros form for decimal sums. The numerator is
    widened to decimal BEFORE the 1e6 scale-up: an int32 count (e.g.
    ``F.size``) times 1_000_000 overflows — and ANSI mode throws —
    past 2147 tokens otherwise."""
    return round4_micros(numer.cast("decimal(38,6)") * 1_000_000, denom)


def round_ratio(numer, denom, scale: int):
    """General-scale exact half-away rounding of ``numer/denom`` where
    both are integer-valued OR exact decimal(…,6) columns and ``denom``
    is positive — covers the percent-share shapes (q8 market share at
    6 dp, q14 promo share at 4 dp, per-user pct change) whose
    decimal/decimal division semantics otherwise differ between Spark
    (decimal HALF_UP at a derived scale) and DuckDB (double division).
    units = sign · ((2·|numer|·10^scale + denom) div (2·denom)); the
    pmod/div runs on exact decimals, so fractional micros-scale inputs
    are fine — num − pmod(num, den) is an exact multiple of den."""
    pw = 10**scale
    p = numer.cast("decimal(38,6)") * (2 * pw)
    q = denom.cast("decimal(38,6)")
    num = F.abs(p) + q
    den = q * 2
    units = F.floor((num - F.pmod(num, den)) / den)
    signed = F.when(p < 0, -units).otherwise(units)
    return signed.cast("double") / float(pw)
# Druid's HLLSketchBuild metric column: the rollup stores a mergeable
# user sketch per bucket (a few KB of binary) and unions it at merge /
# serve time — distinct counts over pre-aggregated data, the thing a
# plain count column can never give back. lgK=14 keeps the sketch in
# its exact regime far beyond fixture cardinality (verified exact at
# 1,098 distinct per served bucket = sf0.1; the gate runs at sf0.01
# with ≤150), so the serving query carries a full value oracle — the
# same exact-below-capacity device as the Theta/MG queries.
_SKETCH_LGK = 14


def _merge_exprs() -> list:
    """Aggregates that merge two rollup states: integer sums for the
    additive metrics, min/max for the extrema (Druid's longMin/longMax
    metric types — the documented "daily max" dashboard needs them),
    register-max union (order-independent) for the sketch column."""
    return [
        *[F.sum(c).alias(c) for c in _MERGEABLE],
        F.min("min_value_micros").alias("min_value_micros"),
        F.max("max_value_micros").alias("max_value_micros"),
        F.hll_union_agg("users_hll").alias("users_hll"),
    ]


def rollup_aggregate(
    events: DataFrame, dims: tuple[str, ...] = ROLLUP_DIMS
) -> DataFrame:
    """Raw events → hourly per-dimension partial aggregates (``dims``
    mirrors a Druid datasource's dimensionsSpec — any event columns).
    Totals are kept as exact integer micro-units so merge order can
    never change a result (same device as the streaming state
    accumulators); the distinct-user state is a mergeable HLL sketch.

    Null event-times are DROPPED up front — Druid rejects rows whose
    timestamp doesn't parse, and a null ``ts`` here would otherwise
    land in a ``__date=__HIVE_DEFAULT_PARTITION__`` directory that no
    retention rule can order and that the incremental path's
    touched-date filter cannot address."""
    return (
        events.filter(F.col("ts").isNotNull())
        .withColumn("bucket", F.date_trunc("hour", "ts"))
        .withColumn("__date", F.to_date("bucket"))
        .groupBy("__date", "bucket", *dims)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 1_000_000).cast("long")).alias(
                "sum_value_micros"
            ),
            F.min(F.round(F.col("value") * 1_000_000).cast("long")).alias(
                "min_value_micros"
            ),
            F.max(F.round(F.col("value") * 1_000_000).cast("long")).alias(
                "max_value_micros"
            ),
            F.hll_sketch_agg("user_id", _SKETCH_LGK).alias("users_hll"),
        )
    )


def build_rollup(
    events: DataFrame, path: str, dims: tuple[str, ...] = ROLLUP_DIMS
) -> None:
    """Initial materialization, partitioned by day."""
    rollup_aggregate(events, dims).write.mode("overwrite").partitionBy(
        "__date"
    ).parquet(path)


def touched_slice(spark: SparkSession, path: str, touched: list) -> DataFrame:
    """The rollup rows for the touched day partitions ONLY — the isin
    filter lands in the scan's PartitionFilters, so unaffected history
    is never opened (plan-pinned in tests/test_plans.py)."""
    return spark.read.parquet(path).filter(F.col("__date").isin(touched))


def _fs(spark: SparkSession, path: str):
    """(jvm, FileSystem, Path) for ``path`` — Hadoop FS API so any
    scheme (file:, s3a:, hdfs:) answers correctly."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


# Written (atomically, BEFORE the first widened partition can publish)
# the moment a store's dim set grows via on_new_columns="evolve".
# Schema-merged reads are gated on it: mergeSchema launches a
# distributed all-footers job on EVERY read — O(store files) per
# maintenance call / dashboard serve — which a never-evolved store
# (all footers identical) pays for nothing (guide §6, r15). Name starts
# with "_" and carries no "=", so Spark's file index never sees it.
_EVOLVED_MARKER = "_schema_evolved"


def _read_store(spark: SparkSession, path: str) -> DataFrame:
    """Read the rollup store, schema-merged ONLY when it has actually
    evolved. An evolved store's pre-evolution partitions lack the
    newest dimension, and single-footer inference could sample one of
    them and hide the dim — so the evolve path persists
    ``_EVOLVED_MARKER`` and every reader honors it. A crash between the
    marker write and the widened publish leaves a marker on a uniform
    store: the merged read is then merely redundant, never wrong.

    Two documented caveats (ADVICE r15), both bounded to a store's ONE
    first-evolution event:

    - **Reader race on first evolution.** The maintenance lock
      serializes writers only; a concurrent lock-less reader that
      passed this marker check just before the marker write can list
      files after the widened partition publishes and infer a single
      pre-evolution footer — a transiently narrowed schema (the evolved
      dim invisible for that one read), the schema-shaped sibling of
      the documented transient-FNF read. ``serve_rollup`` self-heals
      the caller-visible case (a REQUESTED dim missing triggers a
      merged re-read); dims=None readers in that window see the
      pre-evolution dims once, exactly as a read a moment earlier
      would have.

    - **Stores evolved by PRE-marker code** (before r15) have mixed
      footers but no marker. ``serve_rollup`` migrates them on first
      touch of an evolved dim (merged re-read + marker write); an
      ``apply_increment(dims=None)`` against such a store, however,
      infers the shrunken dim set and re-aggregates its touched
      partitions without the evolved dim — touch the marker file
      (or serve the evolved dim once) BEFORE resuming maintenance on
      a pre-marker evolved store."""
    jvm, fs, root = _fs(spark, path)
    r = spark.read
    if fs.exists(jvm.org.apache.hadoop.fs.Path(root, _EVOLVED_MARKER)):
        r = r.option("mergeSchema", "true")
    return r.parquet(path)


def _visible_to_spark(name: str) -> bool:
    """Mirror Spark's file-index path filter: names starting with ``.``
    or ``_`` are hidden UNLESS they carry a partition ``=`` — so
    ``__date=...`` partition dirs count as store content while
    ``.staging_batch_*`` / ``_applied_*`` / ``_SUCCESS`` do not."""
    return "=" in name or not name.startswith((".", "_"))


def _store_exists(spark: SparkSession, path: str) -> bool:
    _, fs, hpath = _fs(spark, path)
    if not fs.exists(hpath):
        return False
    return any(
        _visible_to_spark(st.getPath().getName())
        for st in fs.listStatus(hpath)
    )


# --------------------------------------------------------------------------
# Exactly-once maintenance machinery. foreachBatch is at-least-once: a
# crash between two touched-partition writes followed by a retry would
# re-merge the batch into partitions it already updated — double
# counting. The fix is a per-partition batch marker committed ATOMICALLY
# with the partition's data: the merged output for a batch is staged
# under ``<store>/.staging_batch_<id>/`` together with an
# ``_applied_<id>`` marker file in each staged partition dir, then
# published one directory RENAME per partition (rename is the one atomic
# primitive every Hadoop filesystem gives us). A retry of the same batch
# skips every partition whose live dir already carries the marker and
# recomputes only the rest — whose store content the crashed attempt
# never replaced. Marker/staging/trash names start with ``.``/``_`` and
# carry no ``=``, so Spark's file index never sees them.
#
# Reader caveat (same as any dynamic partition overwrite, and as
# Druid's segment handoff): a query that LISTED the store's files just
# before a publish renamed a partition away can fail with a transient
# file-not-found — readers retry. The lock (the `fsio` lease, under this
# store's suffix) serializes WRITERS only.
# --------------------------------------------------------------------------
_LOCK_SUFFIX = ".__maintenance_lock"


def _batch_token(batch_id) -> str:
    tok = str(batch_id)
    if not tok or not all(c.isalnum() or c in "-_" for c in tok):
        raise ValueError(f"batch_id {batch_id!r} is not filesystem-safe")
    return tok


def _marker_name(token: str) -> str:
    return f"_applied_{token}"


def _recover(spark: SparkSession, path: str) -> None:
    """Roll the store forward/back out of any crashed publish. For every
    ``.trash_batch_*/__date=D`` entry: if the live partition exists the
    publish (or a restore) already resolved D — drop the trash copy;
    otherwise the crash hit between the two renames — restore the
    original. Runs under the maintenance lock before every merge, so a
    retry always reads a consistent store."""
    jvm, fs, root = _fs(spark, path)
    if not fs.exists(root):
        return
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if name.startswith(".trash_batch_"):
            for part in fs.listStatus(st.getPath()):
                pname = part.getPath().getName()
                dest = jvm.org.apache.hadoop.fs.Path(root, pname)
                if fs.exists(dest):
                    fs.delete(part.getPath(), True)
                else:
                    _checked_rename(fs, part.getPath(), dest)
            fs.delete(st.getPath(), True)
        elif name.startswith(".staging_batch_"):
            # under the single-writer lock any staging dir left behind
            # belongs to a dead attempt; a retry of the same batch
            # restages from scratch anyway, so this is pure garbage
            fs.delete(st.getPath(), True)


def _checked_rename(fs, src, dest) -> None:
    """Hadoop's FileSystem.rename reports most failures (missing dest
    parent, cross-FS move, S3A edge cases) by returning FALSE rather
    than raising — an unchecked call would leave the store silently
    missing a partition while the publish reports success (ADVICE r5).
    Surface it as a retryable error instead."""
    if not fs.rename(src, dest):
        raise IOError(f"rename {src} -> {dest} failed (FileSystem returned false)")


def _publish_partition(fs, jvm, root, staging, trash, part_name: str) -> None:
    """Publish one staged partition: move the live dir (if any) to trash,
    then rename the staged dir — data + batch marker — into place. A
    crash between the renames is healed by :func:`_recover` (the
    original is in trash). Module-level so the crash-injection test can
    wrap it to fail mid-publish."""
    dest = jvm.org.apache.hadoop.fs.Path(root, part_name)
    src = jvm.org.apache.hadoop.fs.Path(staging, part_name)
    if fs.exists(dest):
        if not fs.exists(trash):
            fs.mkdirs(trash)
        _checked_rename(fs, dest, jvm.org.apache.hadoop.fs.Path(trash, part_name))
    _checked_rename(fs, src, dest)


def apply_increment(
    spark: SparkSession,
    path: str,
    new_events: DataFrame,
    dims: tuple[str, ...] | None = None,
    batch_id=None,
    on_new_columns: str = "error",
) -> None:
    """Merge a new raw batch into the materialized rollup, touching only
    the day partitions the batch lands in. A missing/empty store is
    created from the batch (with ``dims`` — the first micro-batch of a
    streaming maintenance loop needs this); an existing store's dims
    are read from its schema, so maintenance follows whatever dim set
    the store was built with. An explicitly passed ``dims`` that
    CONFLICTS with an existing store raises (it used to be silently
    ignored) — unless the conflict is purely ADDITIVE and
    ``on_new_columns="evolve"``, in which case the store's dim set
    grows and pre-evolution rows serve NULL for the new dimension
    (Druid's per-segment schema behavior).

    With ``batch_id`` (e.g. the foreachBatch epoch id) the merge is
    EXACTLY-ONCE under retries: each touched partition is staged with an
    ``_applied_<batch_id>`` marker and published by atomic rename, so a
    crashed attempt's retry skips the partitions it already published
    and re-merges only the rest (see the machinery comment above).
    Without ``batch_id`` the legacy dynamic-partition-overwrite path
    runs — correct for complete, non-retried jobs. Either way the call
    holds the store's single-writer maintenance lock.

    Batch-id contract: ids must be unique over the STORE's lifetime.
    A foreachBatch checkpoint guarantees this (epochs only replay, they
    never restart from 0 while the checkpoint lives); pointing a FRESH
    checkpoint at an existing store re-issues epoch 0 and would be
    skipped wherever an ``_applied_0`` marker survives — start a fresh
    store (or namespace the ids) when discarding a checkpoint."""
    fsio.break_stale_lock(spark, path, _LOCK_SUFFIX)  # self-heal after a crashed holder
    lease = fsio._acquire_lock(spark, path, _LOCK_SUFFIX)
    try:
        _apply_increment_locked(
            spark, path, new_events, dims, batch_id, on_new_columns
        )
    finally:
        lease.release()


def _evolved_dims(
    store: tuple[str, ...], asked: tuple[str, ...], on_new_columns: str
) -> tuple[str, ...]:
    """Dim set to maintain with, given the store's schema-derived dims
    and an explicitly requested set."""
    if tuple(asked) == tuple(store):
        return tuple(store)
    missing = [d for d in store if d not in asked]
    if missing:
        raise ValueError(
            f"dims {asked!r} drop existing rollup dimensions {missing!r}; "
            "a materialized rollup can gain dimensions but never lose them"
        )
    new = [d for d in asked if d not in store]
    if not new:
        return tuple(store)  # same set, caller's order is irrelevant
    if on_new_columns != "evolve":
        raise ValueError(
            f"dims {asked!r} add {new!r} to a rollup built with {store!r}; "
            'pass on_new_columns="evolve" to grow the schema '
            "(pre-evolution rows will serve NULL for the new dimension)"
        )
    # store dims keep their order; new dims append in requested order
    return tuple(store) + tuple(d for d in asked if d not in store)


def _apply_increment_locked(
    spark: SparkSession,
    path: str,
    new_events: DataFrame,
    dims: tuple[str, ...] | None,
    batch_id,
    on_new_columns: str,
) -> None:
    _recover(spark, path)
    exists = _store_exists(spark, path)
    if not exists and batch_id is None:
        build_rollup(new_events, path, dims if dims is not None else ROLLUP_DIMS)
        return
    if exists:
        # merge keys come from the STORE's schema, not the default — a
        # store built with custom dims maintains itself with them.
        # Schema-merged only when the store has evolved (_read_store):
        # an evolved store's older partitions lack the newest dimension
        # and inference must still see it; a never-evolved store skips
        # the O(files) footer job (r15, guide §6).
        prev_all = _read_store(spark, path)
        sdims = store_dims(prev_all)
        dims = sdims if dims is None else _evolved_dims(sdims, tuple(dims), on_new_columns)
        evolving = tuple(dims) != tuple(sdims)
    else:
        prev_all = None
        evolving = False
        dims = tuple(dims) if dims is not None else ROLLUP_DIMS
    # NOTE (r15): do NOT cache/checkpoint `inc` to share it between the
    # touched-day collect and the write — measured as a regression:
    # column pruning reduces the collect to a cheap __date-only partial
    # distinct, while a cache forces the FULL aggregate (HLL sketches
    # included) to materialize in that first action
    # (q_stream_rollup_maintenance 2.0 → 4.8 s). The two actions share
    # only the batch scan, not the aggregate work.
    inc = rollup_aggregate(new_events, dims)
    touched = sorted(
        str(r["__date"]) for r in inc.select("__date").distinct().collect()
    )
    if not touched:
        return
    jvm, fs, root = _fs(spark, path)
    if batch_id is not None:
        token = _batch_token(batch_id)
        marker = _marker_name(token)
        touched = [
            d
            for d in touched
            if not fs.exists(
                jvm.org.apache.hadoop.fs.Path(root, f"__date={d}/{marker}")
            )
        ]
        if not touched:
            return  # full retry of an already-published batch
        inc = inc.filter(F.col("__date").cast("string").isin(touched))
    # materialize the touched slice BEFORE any write starts so the job
    # never reads a path it is concurrently replacing (the slice is
    # rollup rows for a handful of days — tiny)
    if exists:
        prev = materialize(
            prev_all.filter(F.col("__date").cast("string").isin(touched))
        )
        merged = (
            prev.unionByName(inc, allowMissingColumns=True)
            .groupBy("__date", "bucket", *dims)
            .agg(*_merge_exprs())
        )
    else:
        merged = inc
    if evolving:
        # the dim set is GROWING: persist the evolution marker before
        # any widened partition can publish, so a mixed-schema store is
        # never readable without it. Written HERE — after the touched/
        # already-published early-returns above (ADVICE r15) — so an
        # evolve attempt that touches zero days (or is a full retry of
        # a published batch) cannot strand a marker on a store that
        # never actually widened, permanently re-enabling the O(files)
        # merged read the marker exists to avoid. Crash between this
        # write and the publish leaves a marker on a uniform store:
        # the merged read is then merely redundant, never wrong.
        out = fs.create(
            jvm.org.apache.hadoop.fs.Path(root, _EVOLVED_MARKER), True
        )
        out.close()
    _publish_increment(spark, path, merged, touched, batch_id, jvm, fs, root)


def _publish_increment(
    spark: SparkSession, path: str, merged, touched, batch_id, jvm, fs, root
) -> None:
    if batch_id is None:
        # legacy path: dynamic overwrite replaces exactly the touched
        # partitions; history partitions are neither read (partition-
        # pruned filter above) nor rewritten. At-least-once: callers that
        # can retry a crashed batch must pass batch_id.
        prev_mode = spark.conf.get(
            "spark.sql.sources.partitionOverwriteMode", "static"
        )
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            merged.write.mode("overwrite").partitionBy("__date").parquet(path)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)
        return
    # exactly-once path: stage (data + marker), then publish by rename
    token = _batch_token(batch_id)
    marker = _marker_name(token)
    staging = jvm.org.apache.hadoop.fs.Path(root, f".staging_batch_{token}")
    trash = jvm.org.apache.hadoop.fs.Path(root, f".trash_batch_{token}")
    fs.delete(staging, True)  # stale staging from a crashed attempt
    merged.write.mode("overwrite").partitionBy("__date").parquet(
        str(staging)
    )
    for d in touched:
        out = fs.create(
            jvm.org.apache.hadoop.fs.Path(staging, f"__date={d}/{marker}"), True
        )
        out.close()
    for d in touched:
        _publish_partition(fs, jvm, root, staging, trash, f"__date={d}")
    fs.delete(trash, True)
    fs.delete(staging, True)


# grains the hourly store can serve: hour buckets nest EXACTLY inside
# every coarser date_trunc grain (date_trunc(g, date_trunc('hour', ts))
# == date_trunc(g, ts) for all of these), so re-aggregating the
# mergeable state is equal to aggregating raw events — never an
# approximation
SERVE_GRAINS = ("hour", "day", "week", "month", "quarter", "year")


def serve_rollup(
    spark: SparkSession,
    path: str,
    grain: str = "hour",
    dims: tuple[str, ...] = ("event_type",),
    with_distinct: bool = False,
    since=None,
    until=None,
) -> DataFrame:
    """Answer a time-bucketed dashboard aggregation FROM the
    materialized rollup — the Druid implicit-serving path (dashboards
    hit pre-aggregated segments, not raw data). Any ``grain`` coarser
    than the stored hour re-aggregates the mergeable partials; ``dims``
    must be a subset of the rollup dimensions (a dim can be dropped —
    partials merge — but never added back); avg derives at read time
    from the merged state. ``since``/``until`` (dates or ISO strings,
    inclusive/exclusive) bound the serve to a day range — the filter is
    on the ``__date`` PARTITION column, so a "last 7 days" dashboard
    opens 7 directories regardless of store history (plan-pinned).
    The plan scans only the rollup store: at 100 TB the dashboard reads
    hours × types rows, not raw events — plan-pinned in
    tests/test_plans.py."""
    if grain not in SERVE_GRAINS:
        raise ValueError(f"grain {grain!r} not servable from an hourly rollup")
    # schema-merged ONLY when the store has evolved (_read_store): an
    # evolved store's pre-evolution partitions lack the newest dimension
    # and merging surfaces it (as NULL); a never-evolved store skips the
    # O(files) all-footers job on every dashboard serve (r15, guide §6)
    r = _read_store(spark, path)
    rollup_dims = set(store_dims(r))
    extra = set(dims) - rollup_dims
    if extra:
        # Pre-marker migration / self-heal (ADVICE r15): a store whose
        # dim set was evolved by pre-marker code has mixed-schema
        # partitions but no _EVOLVED_MARKER, so the unmerged read above
        # can sample a pre-evolution footer and hide the evolved dim.
        # Before refusing, re-read schema-merged ONCE (the O(files)
        # footer job — paid only on this would-fail path); if the
        # "missing" dims exist in the merged schema, persist the marker
        # so every future read merges, and serve from the merged frame.
        jvm, hfs, root = _fs(spark, path)
        if not hfs.exists(jvm.org.apache.hadoop.fs.Path(root, _EVOLVED_MARKER)):
            merged_r = spark.read.option("mergeSchema", "true").parquet(path)
            if not (set(dims) - set(store_dims(merged_r))):
                out = hfs.create(
                    jvm.org.apache.hadoop.fs.Path(root, _EVOLVED_MARKER), True
                )
                out.close()
                r = merged_r
                rollup_dims = set(store_dims(r))
                extra = set(dims) - rollup_dims
    if extra:
        raise ValueError(f"dims {sorted(extra)} not in the rollup (has {sorted(rollup_dims)})")
    if since is not None:
        r = r.filter(F.col("__date") >= F.lit(str(since)).cast("date"))
    if until is not None:
        r = r.filter(F.col("__date") < F.lit(str(until)).cast("date"))
    aggs = [
        F.sum("n_events").cast("long").alias("n_events"),
        F.sum("sum_value_micros").alias("_m"),
        F.min("min_value_micros").alias("_lo"),
        F.max("max_value_micros").alias("_hi"),
    ]
    extra_cols = []
    if with_distinct:
        # union the stored per-hour sketches up to the served grain —
        # distinct users over pre-aggregated data (Druid's
        # HLLSketchMerge at query time); exact in the sketch's
        # below-capacity regime, ±~1% beyond it
        aggs.append(
            F.hll_sketch_estimate(F.hll_union_agg("users_hll"))
            .cast("long")
            .alias("approx_users")
        )
        extra_cols = ["approx_users"]
    return (
        r.groupBy(F.date_trunc(grain, "bucket").alias("bucket"), *dims)
        .agg(*aggs)
        .select(
            "bucket",
            *dims,
            "n_events",
            round4_micros(F.col("_m")).alias("sum_value"),
            round4_micros(F.col("_m"), F.col("n_events")).alias("avg_value"),
            round4_micros(F.col("_lo")).alias("min_value"),
            round4_micros(F.col("_hi")).alias("max_value"),
            *extra_cols,
        )
    )


def read_rollup(spark: SparkSession, path: str) -> DataFrame:
    """The serving view: derived columns (avg) come from the mergeable
    state at read time."""
    r = spark.read.parquet(path)
    return r.select(
        "__date",
        "bucket",
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        # exact-integer 4-dp rounding (round4_micros): the serving
        # views emit engine-portable values, never toString artifacts
        round4_micros(F.col("sum_value_micros")).alias("sum_value"),
        round4_micros(F.col("sum_value_micros"), F.col("n_events")).alias(
            "avg_value"
        ),
    )


def register_rollup_store(
    spark: SparkSession, name: str, path: str, source_table: str
) -> None:
    """Catalog the materialized rollup like any ingested table (S20):
    metastore registration so the SQL surface sees it by name, plus a
    lineage edge (source → rollup, via maintenance) so ``upstream_of``
    answers where the pre-aggregates came from — the OpenMetadata
    pipeline-lineage story applied to the continuous aggregate."""
    from data_pipeline_with_big_data_stack_spark import catalog as C

    C.register_parquet_table(
        spark,
        name,
        path,
        comment=f"hourly rollup of {source_table} (count/sum/min/max/HLL)",
    )
    C.record_lineage(spark, [(source_table, name, "rollup_maintenance")])


def expire_partitions(
    spark: SparkSession, path: str, keep_from, table: str | None = None
) -> list:
    """Druid's drop/kill retention rules for the rollup store: delete
    every day partition strictly OLDER than ``keep_from`` (a
    ``datetime.date`` or ISO string). Deletion is directory-level via
    the Hadoop FS API (any scheme), so it is O(dropped partitions) —
    history is never read, and the surviving store serves unchanged.
    Runs under the store's single-writer maintenance lock (a concurrent
    ``apply_increment`` could otherwise republish a partition this sweep
    is deleting). Returns the dropped partition dates, oldest first.

    If the store is catalog-registered (:func:`register_rollup_store`),
    pass the registered ``table`` name: the metastore keeps partition
    entries for deleted directories otherwise, and the sweep then runs
    ``MSCK REPAIR TABLE <table> SYNC PARTITIONS`` itself (pinned in
    tests/test_catalog_external.py)."""
    import datetime

    if isinstance(keep_from, str):
        keep_from = datetime.date.fromisoformat(keep_from)
    fsio.break_stale_lock(spark, path, _LOCK_SUFFIX)  # self-heal after a crashed holder
    lease = fsio._acquire_lock(spark, path, _LOCK_SUFFIX)
    try:
        dropped = _expire_locked(spark, path, keep_from)
    finally:
        lease.release()
    if dropped and table is not None:
        spark.sql(f"MSCK REPAIR TABLE {table} SYNC PARTITIONS")
    return dropped


def _expire_locked(spark: SparkSession, path: str, keep_from) -> list:
    import datetime

    jvm, fs, root = _fs(spark, path)
    dropped = []
    for status in fs.listStatus(root):
        name = status.getPath().getName()
        if not name.startswith("__date="):
            continue
        try:
            day = datetime.date.fromisoformat(name.split("=", 1)[1])
        except ValueError:
            # e.g. __date=__HIVE_DEFAULT_PARTITION__ from null-ts events:
            # not a calendar day, so no retention rule can order it —
            # keep it (dropping data the rule can't express would be a
            # silent loss) and move on instead of crashing the sweep
            continue
        if day < keep_from:
            fs.delete(status.getPath(), True)
            dropped.append(day)
    return sorted(dropped)
