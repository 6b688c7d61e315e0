"""Temp-view catalog (S9) tests."""

from __future__ import annotations

from cehrbert_data_spark.sources.catalog import drop_view, register_views


def test_register_and_drop_views(spark):
    register_views({"cat_test_view": spark.range(4)})
    assert spark.sql("SELECT COUNT(*) AS n FROM cat_test_view").collect()[0]["n"] == 4
    drop_view(spark, "cat_test_view")
    assert "cat_test_view" not in [t.name for t in spark.catalog.listTables()]
