"""Physical-layout operators (SURVEY §4's engine-specific decisions):
bucketed tables for co-located joins, and z-order clustering.

Druid's analogue: hash-partitioned segments
(`M/druid-goes-satellite-datasource.json:17`). In Spark the same lever
is ``bucketBy`` on the metastore table — both sides of an equi-join
pre-hashed into the same bucket layout eliminates the join shuffle
entirely. Small-file compaction lives with the stores that need it:
the generation stores fold and compact behind their pointer
(`operators/generations`).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 16,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed+sorted metastore table. Joins/aggregations
    on ``bucket_cols`` between tables sharing (cols, n_buckets) read
    bucket-to-bucket with NO Exchange — the shuffle happens once at
    write, amortized over every subsequent query."""
    writer = (
        df.write.mode(mode)
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*(sort_cols or bucket_cols))
        .format("parquet")
    )
    writer.saveAsTable(table)


def table_files(spark: SparkSession, path: str) -> list[str]:
    """Parquet data files under ``path`` (recursive), via the Hadoop
    FileSystem API so the listing works on any scheme; paths come back
    in the filesystem's URI form."""
    from data_pipeline_with_big_data_stack_spark.operators import fsio

    fs = fsio.Fs(spark, path)
    return [f for f in fs.list_files_recursive(path) if f.endswith(".parquet")]


def skew_salt(df: DataFrame, key: str, n_salts: int = 8) -> DataFrame:
    """Salting helper for skewed keys: adds ``__salt`` (stable hash of
    the full row spread over n_salts). GroupBys run (key, __salt) partial
    then re-aggregate by key; joins replicate the small side per salt.
    AQE's skew-join handling covers sort-merge joins automatically —
    this is for aggregation hotspots it doesn't reach."""
    return df.withColumn(
        "__salt", F.pmod(F.hash(*[F.col(c) for c in df.columns]), F.lit(n_salts))
    )


# ---------------------------------------------------------------------
# Z-order clustering: co-locate rows that are close in SEVERAL columns
# so parquet row-group/file min-max statistics prune multi-dimensional
# predicates (the Delta/Iceberg OPTIMIZE ZORDER effect, with plain
# parquet). A single-column sort gives perfect skipping on one column
# and none on the others; interleaving the columns' bucket bits gives
# every indexed column partial locality in every file.
#
# Scale shape: per-column bucket boundaries come from ONE global
# percentile_approx aggregate (a scalar row of 255-quantile arrays,
# broadcast-joined to every row); bucketing is a pure projection — one
# codegen'd pass over each 255-element boundary array per row per
# column (measured ~µs/row; see the in-function note for why the
# "cheaper" binary search is a measured 250x regression in Column
# algebra); the only shuffle is the final repartitionByRange on the
# z-value — exactly the exchange any layout rewrite needs. No collect
# beyond the 1-row bounds.
# ---------------------------------------------------------------------

_Z_BITS = 8  # per-column buckets = 2^8; z-value fits in a long for ≤4 cols


def zorder_value(df: DataFrame, cols: list[str]) -> DataFrame:
    """Append ``__zval``: interleaved EQUAL-FREQUENCY bucket bits of
    ``cols``. Buckets come from approximate quantiles (one broadcast
    agg), not min/max linear scaling: on a skewed column — web document
    lengths, prices, event values — linear scaling collapses nearly
    every row into the lowest buckets, degenerating the z-curve to
    lexicographic order on the remaining columns and losing the
    data-skipping payoff entirely. Equal-frequency bins keep every
    interleaved bit informative on ANY distribution (the same choice
    production z-order implementations make), at the same one-pass
    pre-aggregation cost; the per-row bucket lookup is one codegen'd
    O(buckets) scan of the sorted 255-boundary array — measured ~µs/row
    on the layout-rewrite hot path, and measured 250x FASTER than the
    log-probe alternative (see the in-function note: Column algebra
    inlines a binary search's accumulator exponentially)."""
    nb = 1 << _Z_BITS
    probs = F.array(*[F.lit(i / nb) for i in range(1, nb)])
    bounds = df.agg(
        *[
            F.percentile_approx(F.col(c).cast("double"), probs, 10_000).alias(
                f"__qs_{c}"
            )
            for c in cols
        ]
    )
    out = df.join(F.broadcast(bounds))
    buckets = []
    for c in cols:
        qs, v = F.col(f"__qs_{c}"), F.col(c).cast("double")
        # bucket = number of quantile boundaries at or below the value
        # (0..nb-1); nulls sort into bucket 0. The O(buckets) array
        # filter is DELIBERATE: it is one tight whole-stage-codegen loop
        # over a 255-element double array (~µs/row measured). The
        # "cheaper" unrolled binary search is not expressible in Column
        # algebra — each step's accumulator is INLINED three times
        # (probe, then, else), so 8 steps build a ~3^8-path expression
        # tree per column; measured ~50x plan-build and ~250x execution
        # REGRESSION vs this form (round-14 A/B on 10k rows x 2 cols:
        # 0.39 s -> 97+ s). log-probes only win where the accumulator
        # can be materialized per step, which a projection can't do.
        b = F.when(v.isNull(), F.lit(0)).otherwise(
            F.size(F.filter(qs, lambda q: q <= v))
        )
        buckets.append(b)
    # interleave: bit i of column j lands at position i*len(cols)+j
    z = F.lit(0).cast("long")
    for bit in range(_Z_BITS):
        for j, b in enumerate(buckets):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(b.cast("long"), bit).bitwiseAND(F.lit(1)),
                    bit * len(buckets) + j,
                )
            )
    return out.select(*df.columns, z.alias("__zval"))


def write_zordered(
    df: DataFrame, cols: list[str], path: str, n_files: int = 8
) -> None:
    """Rewrite ``df`` as ``n_files`` parquet files clustered on the
    z-value of ``cols`` (range partition + in-file sort, so file AND
    row-group min-max stats are tight on every indexed column)."""
    (
        zorder_value(df, cols)
        .repartitionByRange(n_files, "__zval")
        .sortWithinPartitions("__zval")
        .drop("__zval")
        .write.mode("overwrite")
        .parquet(path)
    )


def file_minmax(path: str, column: str) -> list[tuple[float, float]]:
    """(min, max) of ``column`` per parquet file — what a reader's
    file-skipping sees."""
    import os

    import pyarrow.parquet as pq

    spans = []
    for f in sorted(os.listdir(path)):
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(path, f)).metadata
        los, his = [], []
        for rg in range(md.num_row_groups):
            col = next(
                md.row_group(rg).column(i)
                for i in range(md.num_columns)
                if md.row_group(rg).column(i).path_in_schema == column
            )
            # statistics can exist with has_min_max unset (then .min/.max
            # are None and the min()/max() below would TypeError)
            if col.statistics is not None and col.statistics.has_min_max:
                los.append(col.statistics.min)
                his.append(col.statistics.max)
        if los:
            spans.append((min(los), max(his)))
    return spans
