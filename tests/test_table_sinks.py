"""Managed-table sink tests: append accumulation, dated dynamic
overwrite idempotence, report overwrite, JDBC option shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from iot_big_data_engineering_spark.operators.analytics import a2_daily_analytics
from iot_big_data_engineering_spark.sources.table_sinks import (
    append_table,
    jdbc_options,
    overwrite_dated_table,
    overwrite_table,
)
from iot_big_data_engineering_spark.sources.sensor_view import quality_checked

from .conftest import SF_SMOKE


def test_append_table_accumulates(spark):
    _drop_with_location(spark, "t_quality_append")
    q = quality_checked(spark, SF_SMOKE).limit(100)
    append_table(q, "t_quality_append")
    append_table(q, "t_quality_append")
    assert spark.table("t_quality_append").count() == 200


def _drop_with_location(spark, table):
    import shutil

    spark.sql(f"DROP TABLE IF EXISTS {table}")
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(f"{wh}/{table}", ignore_errors=True)


def test_overwrite_dated_is_idempotent_per_date(spark):
    _drop_with_location(spark, "t_daily")
    daily = a2_daily_analytics(spark, SF_SMOKE)
    overwrite_dated_table(daily, "t_daily")
    n = spark.table("t_daily").count()
    # re-run same dates: replaced, not duplicated
    overwrite_dated_table(daily, "t_daily")
    assert spark.table("t_daily").count() == n
    # partial re-run: only that date replaced, others kept
    one_day = daily.filter(F.col("processing_date") == "2024-01-02")
    overwrite_dated_table(one_day, "t_daily")
    assert spark.table("t_daily").count() == n


@pytest.mark.parametrize("prior", [None, "static"])
def test_overwrite_dated_restores_overwrite_mode(spark, prior):
    """The dynamic overwrite mode is scoped to the call: the session-wide
    conf (shared by every later test in this session) is left as found,
    unset or set."""
    key = "spark.sql.sources.partitionOverwriteMode"
    saved = spark.conf.get(key, None)
    if prior is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, prior)
    try:
        _drop_with_location(spark, "t_daily_conf")
        daily = a2_daily_analytics(spark, SF_SMOKE)
        overwrite_dated_table(daily, "t_daily_conf")  # create path
        overwrite_dated_table(daily, "t_daily_conf")  # insertInto path
        assert spark.conf.get(key, None) == prior
    finally:
        if saved is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, saved)


def test_overwrite_table(spark):
    _drop_with_location(spark, "t_report")
    df = quality_checked(spark, SF_SMOKE).groupBy("sensor_type").count()
    overwrite_table(df, "t_report")
    overwrite_table(df.limit(2), "t_report")
    assert spark.table("t_report").count() == 2


def test_jdbc_options_shape():
    o = jdbc_options("jdbc:postgresql://db:5432/sensors", "sensor_data", "u", "p")
    assert o["dbtable"] == "sensor_data"
    assert o["fetchsize"] == "10000"
