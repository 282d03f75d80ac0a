"""Remediation helpers: impute, quarantine, winsorize, coerce (reference
DAG semantics re-expressed as Spark transforms)."""

import pyspark.sql.functions as F

from data_quality_autohealer_spark.operators import remediate


def test_impute_missing(spark):
    df = spark.createDataFrame(
        [(1.0, "a"), (2.0, "a"), (None, "b"), (4.0, None), (100.0, "a")],
        "x double, s string")
    out = remediate.impute_missing(df).collect()
    xs = sorted(r["x"] for r in out)
    assert None not in xs and 3.0 in xs  # median of {1,2,4,100}
    assert all(r["s"] is not None for r in out)
    assert [r["s"] for r in out].count("a") == 4  # mode imputed


def test_quarantine_and_winsorize(spark):
    df = spark.createDataFrame([(float(i),) for i in range(100)] +
                               [(10_000.0,)], "v double")
    clean, quarantined = remediate.quarantine_split(df, F.col("v") > 1000)
    assert quarantined.count() == 1 and clean.count() == 100
    w = remediate.winsorize(df, "v", 0.05, 0.95)
    mx = w.agg(F.max("v")).collect()[0][0]
    assert mx < 10_000.0


def test_coerce_types(spark):
    df = spark.createDataFrame([("1",), ("x",), ("3",)], "v string")
    out = remediate.coerce_types(df, {"v": "int"})
    assert sorted(r["v"] for r in out.collect()) == [0, 1, 3]
