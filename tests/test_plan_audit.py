"""The plan-audit utility: reports and guards over real plans."""

import pytest
from pyspark.sql import functions as F

from mallarddv_spark.exceptions import DVConfigurationError
from mallarddv_spark.plans.audit import assert_plan, plan_report

SF = "/root/testdata/sf0.001"


def test_report_counts_known_plan_features(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    df = (
        li.filter("l_quantity < 10")
        .join(F.broadcast(orders), li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderstatus")
        .count()
    )
    df.collect()
    rep = plan_report(df)
    assert rep["broadcast_hash_joins"] == 1
    assert rep["nested_loop_joins"] == 0
    assert rep["python_stages"] == 0
    assert rep["pushed_filters"] is True
    assert rep["shuffle_exchanges"] >= 1  # the groupBy
    assert rep["codegen_spans"] >= 1


def test_assert_plan_flags_nested_loop(spark):
    a = spark.range(5)
    b = spark.range(5).withColumnRenamed("id", "id2")
    theta = a.crossJoin(b).filter("id < id2")
    with pytest.raises(DVConfigurationError) as ei:
        assert_plan(theta, no_nested_loop_joins=True)
    assert "nested-loop" in str(ei.value)


def test_assert_plan_flags_python_stage(spark):
    from pyspark.sql.functions import udf

    slow = udf(lambda x: x + 1, "bigint")
    df = spark.range(10).select(slow("id").alias("y"))
    with pytest.raises(DVConfigurationError) as ei:
        assert_plan(df, no_python_stages=True)
    assert "Python stage" in str(ei.value)


def test_assert_plan_max_shuffles_and_clean_pass(spark):
    df = spark.range(100).groupBy((F.col("id") % 3).alias("g")).count()
    rep = assert_plan(df, no_python_stages=True, no_nested_loop_joins=True,
                      max_shuffles=1)
    assert rep["shuffle_exchanges"] == 1
    with pytest.raises(DVConfigurationError):
        assert_plan(df, max_shuffles=0)


def test_rangejoin_passes_audit(spark):
    """The bin-bucketed range join is exactly what the audit exists to
    certify: no nested loop, bounded shuffles."""
    from mallarddv_spark.operators.rangejoin import point_in_interval_join

    ev = spark.range(1000).select(
        F.col("id").alias("eid"), (F.col("id") * 7 % 500).alias("t")
    )
    iv = spark.range(10).select(
        F.col("id").alias("iv_id"),
        (F.col("id") * 50).alias("s"),
        (F.col("id") * 50 + 49).alias("e"),
    )
    out = point_in_interval_join(ev, iv, "t", "s", "e", bin_width=50)
    out.collect()
    assert_plan(out, no_python_stages=True, no_nested_loop_joins=True)
