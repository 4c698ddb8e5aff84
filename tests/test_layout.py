"""Physical-layout tests: bucketed join shuffle elimination, salted
aggregation equivalence, z-order clustering."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_pipeline_with_big_data_stack_spark.operators import layout
from data_pipeline_with_big_data_stack_spark.tables import load_table
from tests.conftest import SF_SMOKE, reset_managed_table


@pytest.fixture()
def bucketed_pair(spark):
    o = load_table(spark, SF_SMOKE, "orders")
    c = load_table(spark, SF_SMOKE, "customer")
    reset_managed_table(spark, "b_orders", "b_customer")
    layout.write_bucketed(o, "b_orders", ["o_custkey"], n_buckets=8)
    layout.write_bucketed(c, "b_customer", ["c_custkey"], n_buckets=8)
    yield "b_orders", "b_customer"
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_customer")


def test_bucketed_join_eliminates_shuffle(spark, bucketed_pair):
    ot, ct = bucketed_pair
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = (
            spark.table(ot)
            .join(spark.table(ct), F.col("o_custkey") == F.col("c_custkey"))
            .groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        # join itself must be exchange-free: the only allowed Exchange is
        # the groupBy after it. SortMergeJoin reads bucketed scans directly.
        join_part = plan.split("SortMergeJoin")[-1]
        assert "Exchange" not in join_part, plan
        # and results are right
        total = j.agg(F.sum("n")).collect()[0][0]
        assert total == spark.table(ot).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_groupby_uses_bucket_layout(spark, bucketed_pair):
    ot, _ = bucketed_pair
    agg = spark.table(ot).groupBy("o_custkey").agg(F.sum("o_totalprice").alias("t"))
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan  # bucket layout satisfies the clustering


def test_skew_salt_two_phase_agg_equivalence(spark):
    e = load_table(spark, SF_SMOKE, "events")
    direct = {
        (r["event_type"]): (r["n"], round(r["s"], 6))
        for r in e.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 6).alias("s"))
        .collect()
    }
    salted = layout.skew_salt(e, "event_type", n_salts=16)
    partial = salted.groupBy("event_type", "__salt").agg(
        F.count(F.lit(1)).alias("pn"), F.sum("value").alias("ps")
    )
    merged = {
        (r["event_type"]): (r["n"], round(r["s"], 6))
        for r in partial.groupBy("event_type")
        .agg(F.sum("pn").alias("n"), F.round(F.sum("ps"), 6).alias("s"))
        .collect()
    }
    assert direct == merged


class TestZOrder:
    def test_zorder_skips_more_files_than_linear_sort(self, spark, tmp_path):
        """A 2-D predicate must touch fewer files under z-order than
        under a single-column linear sort — the data-skipping payoff."""
        from data_pipeline_with_big_data_stack_spark.operators.layout import file_minmax, write_zordered
        from data_pipeline_with_big_data_stack_spark.tables import load_table
        from tests.conftest import SF_CORRECTNESS

        e = load_table(spark, SF_CORRECTNESS, "events").select(
            "event_id", "user_id", "value"
        )
        zpath = str(tmp_path / "z")
        lpath = str(tmp_path / "linear")
        n_files = 8
        write_zordered(e, ["user_id", "value"], zpath, n_files=n_files)
        (
            e.repartitionByRange(n_files, "user_id")
            .sortWithinPartitions("user_id")
            .write.mode("overwrite")
            .parquet(lpath)
        )

        def files_touched(path, col, lo, hi):
            return sum(1 for mn, mx in file_minmax(path, col) if mx >= lo and mn <= hi)

        # predicate on the SECOND column: linear layout can't skip at all
        z_value = files_touched(zpath, "value", 10.0, 20.0)
        l_value = files_touched(lpath, "value", 10.0, 20.0)
        assert z_value < l_value, (z_value, l_value)
        # and the first column still prunes under z-order (partial locality)
        z_user = files_touched(zpath, "user_id", 0, 15)
        assert z_user < n_files

    def test_zorder_preserves_rows_exactly(self, spark, tmp_path):
        from data_pipeline_with_big_data_stack_spark.operators.layout import write_zordered
        from data_pipeline_with_big_data_stack_spark.tables import load_table
        from tests.conftest import SF_SMOKE

        e = load_table(spark, SF_SMOKE, "events").select(
            "event_id", "user_id", "value"
        )
        path = str(tmp_path / "z")
        write_zordered(e, ["user_id", "value"], path)
        back = spark.read.parquet(path)
        assert back.count() == e.count()
        assert sorted(back.columns) == sorted(e.columns)
        assert (
            back.select(F.sum("event_id")).head()[0]
            == e.select(F.sum("event_id")).head()[0]
        )
