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
4. stages just the touched partitions and publishes each by an atomic
   directory rename.

At 100 TB this is the difference between an O(new data) nightly job
and an O(history) one. Correctness contract: maintenance result ==
full recompute from all raw data, for any split/ordering of arrivals —
pinned by the oracled registry query (late batch applied incrementally
vs straight SQL over everything) and property tests over random
splits.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from data_pipeline_with_big_data_stack_spark.operators import fsio

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
    """Initial materialization, partitioned by day; the store's schema
    is recorded after the write."""
    rolled = rollup_aggregate(events, dims)
    rolled.write.mode("overwrite").partitionBy("__date").parquet(path)
    _record_schema(fsio.Fs(events.sparkSession, path), path, _schema_of(rolled))


def touched_slice(spark: SparkSession, path: str, touched: list) -> DataFrame:
    """The rollup rows for the touched day partitions ONLY — the isin
    filter lands in the scan's PartitionFilters, so unaffected history
    is never opened (plan-pinned in tests/test_plans.py)."""
    return _read_store(spark, path).filter(F.col("__date").isin(touched))


# The store's schema, recorded once as Spark's StructType JSON — the
# Druid dimensionsSpec/metricsSpec analogue. build_rollup writes it
# after its write; apply_increment writes it under the writer lock
# before any partition of a new or widened store publishes; readers
# never write it. Reads pass it to ``spark.read.schema``, so neither a
# footer-inference job nor, once a store has evolved, an all-footers
# mergeSchema job runs, and a store whose every day has expired still
# reads (as empty) with all its dims. Name starts with "_" and carries
# no "=", so Spark's file index never sees it.
_SCHEMA_FILE = "_schema.json"


def _schema_of(df: DataFrame) -> StructType:
    """The schema a read of ``df``'s partitioned write returns: data
    columns in order, then the ``__date`` partition column, all
    nullable."""
    fields = [f for f in df.schema if f.name != "__date"] + [df.schema["__date"]]
    return StructType([StructField(f.name, f.dataType) for f in fields])


def _recorded_schema(fs: fsio.Fs, path: str) -> StructType | None:
    try:
        text = fs.read_text(f"{path.rstrip('/')}/{_SCHEMA_FILE}")
    except FileNotFoundError:
        return None
    return StructType.fromJson(json.loads(text))


def _record_schema(fs: fsio.Fs, path: str, schema: StructType) -> None:
    fs.write_text_atomic(f"{path.rstrip('/')}/{_SCHEMA_FILE}", schema.json())


def _read_store(
    spark: SparkSession, path: str, schema: StructType | None = None
) -> DataFrame:
    """Read the rollup store with its recorded ``schema`` (looked up
    when not given). A store written before schemas were recorded has
    no ``_schema.json``: its footers are read schema-merged — an
    evolved store's pre-evolution footers lack the newest dim, so a
    single-footer inference could hide it — until its next publishing
    maintenance call records the schema."""
    if schema is None:
        schema = _recorded_schema(fsio.Fs(spark, path), path)
    if schema is None:
        return spark.read.option("mergeSchema", "true").parquet(path)
    return spark.read.schema(schema).parquet(path)


def _visible_to_spark(name: str) -> bool:
    """Mirror Spark's file-index path filter: names starting with ``.``
    or ``_`` are hidden UNLESS they carry a partition ``=`` — so
    ``__date=...`` partition dirs count as store content while
    ``.staging_batch`` / ``_applied_*`` / ``_schema.json`` do not."""
    return "=" in name or not name.startswith((".", "_"))


# --------------------------------------------------------------------------
# Exactly-once maintenance machinery. foreachBatch is at-least-once: a
# crash between two touched-partition writes followed by a retry would
# re-merge the batch into partitions it already updated — double
# counting. The fix is a per-partition batch marker committed ATOMICALLY
# with the partition's data: the merged output for a call is staged
# under ``<store>/.staging_batch/`` — with an ``_applied_<batch_id>``
# marker file in each staged partition dir when the caller passes a
# ``batch_id`` — then published one directory RENAME per partition
# (rename is the one atomic primitive every Hadoop filesystem gives us;
# schemes that rename by copy+delete are refused). A retry of the same
# batch skips every partition whose live dir already carries the marker
# and recomputes only the rest — whose store content the crashed attempt
# never replaced. Marker/staging/trash names start with ``.``/``_`` and
# carry no ``=``, so Spark's file index never sees them.
#
# Reader caveat (same as any partition overwrite, and as Druid's
# segment handoff): a query that LISTED the store's files just before a
# publish renamed a partition away can fail with a transient
# file-not-found — readers retry. The lock (the `fsio` lease, under this
# store's suffix) serializes WRITERS only.
# --------------------------------------------------------------------------
_LOCK_SUFFIX = ".__maintenance_lock"
_STAGING = ".staging_batch"
_TRASH = ".trash_batch"


def _batch_token(batch_id) -> str:
    tok = str(batch_id)
    if not tok or not all(c.isalnum() or c in "-_" for c in tok):
        raise ValueError(f"batch_id {batch_id!r} is not filesystem-safe")
    return tok


def _marker_name(token: str) -> str:
    return f"_applied_{token}"


def _require_atomic_rename(fs: fsio.Fs, path: str) -> None:
    """:func:`_recover` infers crash state from which directories exist
    — sound only where a rename cannot be half-applied. Object-store
    renames are copy+delete: a crash mid-publish would leave a PARTIAL
    live partition that the "live exists ⇒ publish finished" rule would
    then treat as final, deleting the trashed original."""
    if not fs.rename_is_atomic:
        raise NotImplementedError(
            "rollup maintenance publishes partitions by rename and "
            f"requires an atomic-rename filesystem; {path!r} ({fs.scheme}) "
            "renames by copy+delete. On object stores, keep the data in a "
            "generation-versioned store (operators/generations), which "
            "publishes by a pointer write instead of a rename"
        )


def _recover(fs: fsio.Fs, path: str) -> None:
    """Roll the store forward/back out of any crashed publish. For every
    ``.trash_batch*/__date=D`` entry: if the live partition exists the
    publish (or a restore) already resolved D — drop the trash copy;
    otherwise the crash hit between the two renames — restore the
    original. Any staging dir belongs to a dead attempt (the writer
    lock is held) and is dropped. Runs under the maintenance lock
    before every merge and every expiry sweep, so both always act on a
    consistent store."""
    for name in fs.list_names(path, missing_ok=True):
        sub = f"{path}/{name}"
        if name.startswith(_TRASH):
            for part in fs.list_names(sub):
                if fs.exists(f"{path}/{part}"):
                    fs.delete(f"{sub}/{part}")
                else:
                    fs.rename(f"{sub}/{part}", f"{path}/{part}")
            fs.delete(sub)
        elif name.startswith(_STAGING):
            fs.delete(sub)


def _publish_partition(fs: fsio.Fs, path: str, part: str) -> None:
    """Publish one staged partition: move the live dir (if any) to trash,
    then rename the staged dir — data (+ batch marker) — into place. A
    crash between the renames is healed by :func:`_recover` (the
    original is in trash). Module-level so the crash-injection test can
    wrap it to fail mid-publish."""
    live = f"{path}/{part}"
    if fs.exists(live):
        fs.rename(live, f"{path}/{_TRASH}/{part}")
    fs.rename(f"{path}/{_STAGING}/{part}", live)


def apply_increment(
    spark: SparkSession,
    path: str,
    new_events: DataFrame,
    dims: tuple[str, ...] | None = None,
    batch_id=None,
    on_new_columns: str = "error",
) -> None:
    """Merge a new raw batch into the materialized rollup, touching only
    the day partitions the batch lands in. A missing store is created
    from the batch (with ``dims`` — the first micro-batch of a
    streaming maintenance loop needs this); an existing store's dims
    are read from its recorded schema, so maintenance follows whatever
    dim set the store was built with. An explicitly passed ``dims`` that
    CONFLICTS with an existing store raises — unless the conflict is
    purely ADDITIVE and ``on_new_columns="evolve"``, in which case the
    store's dim set grows and pre-evolution rows serve NULL for the new
    dimension (Druid's per-segment schema behavior).

    Every call stages the merged touched days and publishes them by
    per-partition rename under the store's single-writer maintenance
    lock. With ``batch_id`` (e.g. the foreachBatch epoch id) the merge
    is also EXACTLY-ONCE under retries: each staged partition carries an
    ``_applied_<batch_id>`` marker, so a crashed attempt's retry skips
    the partitions it already published and re-merges only the rest
    (see the machinery comment above). Without ``batch_id`` no markers
    are written — correct for complete, non-retried jobs.

    Batch-id contract: ids must be unique over the STORE's lifetime.
    A foreachBatch checkpoint guarantees this (epochs only replay, they
    never restart from 0 while the checkpoint lives); pointing a FRESH
    checkpoint at an existing store re-issues epoch 0 and would be
    skipped wherever an ``_applied_0`` marker survives — start a fresh
    store (or namespace the ids) when discarding a checkpoint."""
    fs = fsio.Fs(spark, path)
    _require_atomic_rename(fs, path)
    marker = None if batch_id is None else _marker_name(_batch_token(batch_id))
    fsio.break_stale_lock(spark, path, _LOCK_SUFFIX)  # self-heal after a crashed holder
    lease = fsio._acquire_lock(spark, path, _LOCK_SUFFIX)
    try:
        _apply_increment_locked(
            spark, fs, path.rstrip("/"), new_events, dims, marker, on_new_columns
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
    fs: fsio.Fs,
    path: str,
    new_events: DataFrame,
    dims: tuple[str, ...] | None,
    marker: str | None,
    on_new_columns: str,
) -> None:
    _recover(fs, path)
    recorded = _recorded_schema(fs, path)
    if recorded is not None or any(
        _visible_to_spark(n) for n in fs.list_names(path, missing_ok=True)
    ):
        # merge keys come from the STORE's schema, not the default — a
        # store built with custom dims maintains itself with them
        prev_all = _read_store(spark, path, recorded)
        sdims = store_dims(prev_all)
        dims = sdims if dims is None else _evolved_dims(sdims, tuple(dims), on_new_columns)
    else:
        prev_all = None
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
    if marker is not None:
        touched = [
            d for d in touched if not fs.exists(f"{path}/__date={d}/{marker}")
        ]
        inc = inc.filter(F.col("__date").cast("string").isin(touched))
    if not touched:
        return  # empty batch, or a full retry of an already-published one
    merged = inc
    if prev_all is not None:
        # the staged write reads the live touched partitions; they are
        # renamed away only after its job ends
        merged = (
            prev_all.filter(F.col("__date").cast("string").isin(touched))
            .unionByName(inc, allowMissingColumns=True)
            .groupBy("__date", "bucket", *dims)
            .agg(*_merge_exprs())
        )
    staging = f"{path}/{_STAGING}"
    merged.write.mode("overwrite").partitionBy("__date").parquet(staging)
    if marker is not None:
        for d in touched:
            fs.touch(f"{staging}/__date={d}/{marker}")
    # a new, widened or not-yet-recorded store records its schema
    # before any of its partitions publishes, so no reader ever sees a
    # partition the recorded schema lacks. Written after the zero-touch
    # returns above, so an evolve call that publishes nothing leaves
    # the store as it was. A crash between this write and the publish
    # leaves a declared dim that no partition carries yet: it serves
    # NULL, exactly as the pre-evolution rows do.
    schema = _schema_of(merged)
    if schema != recorded:
        _record_schema(fs, path, schema)
    fs.mkdirs(f"{path}/{_TRASH}")
    for d in touched:
        _publish_partition(fs, path, f"__date={d}")
    fs.delete(f"{path}/{_TRASH}")
    fs.delete(staging)


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
    r = _read_store(spark, path)
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
    return _read_store(spark, path).select(
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

    fs = fsio.Fs(spark, path)
    # a publish that crashed between its renames left a day only in
    # trash: restore it first, or this sweep misses it and the next
    # increment's recovery brings the expired day back
    _recover(fs, path)
    dropped = []
    for name in fs.list_names(path):
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
            fs.delete(f"{path.rstrip('/')}/{name}")
            dropped.append(day)
    return sorted(dropped)
