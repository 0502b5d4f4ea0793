"""ADVICE r14 hardening: the LocalRelation builder and SQL text helpers."""

from __future__ import annotations

import math

import pytest

from pandas_db_sdk_spark._localrel import (
    local_rows_df,
    require_unicode_literals,
    sql_ident,
    sql_literal,
)


def test_local_rows_df_is_local_table_scan(spark):
    df = local_rows_df(spark, [(1, "a"), (2, "b")], "id int, s string")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan
    assert df.collect() == [(1, "a"), (2, "b")]


def test_local_rows_df_preserves_nan(spark):
    # The Arrow LocalRelation path would turn float NaN into NULL; the
    # builder must detect NaN and take the classic path so the value
    # survives (ADVICE r14, medium).
    rows = [(1, float("nan")), (2, 0.5)]
    df = local_rows_df(spark, rows, "id int, v double")
    got = {r["id"]: r["v"] for r in df.collect()}
    assert got[2] == 0.5
    assert got[1] is not None and math.isnan(got[1])


def test_local_rows_df_preserves_nan_in_arrays(spark):
    rows = [(1, [1.0, float("nan")])]
    df = local_rows_df(spark, rows, "id int, v array<double>")
    v = df.collect()[0]["v"]
    assert v[0] == 1.0 and math.isnan(v[1])


def test_sql_ident_escapes_backticks(spark):
    name = "we`ird"
    df = spark.createDataFrame([(1,)], [name])
    assert df.selectExpr(f"{sql_ident(name)} AS x").collect()[0]["x"] == 1


def test_sql_literal_roundtrip(spark):
    for s in ["it's", "back\\slash", "\x1f", "a`b", "\U0001F600"]:
        got = spark.sql(f"SELECT {sql_literal(s)} AS s").collect()[0]["s"]
        assert got == s, repr((s, got))


def test_require_unicode_literals_rejects_legacy_conf(spark):
    key = "spark.sql.parser.escapedStringLiterals"
    old = spark.conf.get(key, "false")
    try:
        spark.conf.set(key, "true")
        with pytest.raises(ValueError, match="escapedStringLiterals"):
            require_unicode_literals(spark)
    finally:
        spark.conf.set(key, old)
    require_unicode_literals(spark)  # fine again under the default conf


def test_require_unicode_literals_sees_conf_flipped_after_approval(spark):
    """An approval under the default conf must not outlive it: flipping the
    parser to legacy mode later in the same application is caught on the
    next call instead of silently mis-parsing every literal."""
    key = "spark.sql.parser.escapedStringLiterals"
    old = spark.conf.get(key, "false")
    spark.conf.set(key, "false")
    try:
        require_unicode_literals(spark)
        spark.conf.set(key, "true")
        with pytest.raises(ValueError, match="escapedStringLiterals"):
            require_unicode_literals(spark)
    finally:
        spark.conf.set(key, old)
