"""Reason-code → remediation action mapping + tabular remediation helpers.

Reference analogues:
  * issue→action dict (kafka_consumer.py:96-105: re_ingest / retrain_model /
    impute_missing_values / quarantine_and_correct / coerce_types)
  * impute (missing_data_remediation.py:81-94: median numeric / mode
    categorical), quarantine+winsorize (outlier_remediation.py:89-137),
    type coercion (type_mismatch.py:79-94)

For the web-text graft the per-document actions are scrub (PII/toxicity) or
drop (everything else); the tabular helpers below re-express the reference's
dataset-level remediations as single-pass Spark transforms for profile-driven
healing of metric/feature tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def impute_missing(df: DataFrame, numeric_strategy: str = "median"
                   ) -> DataFrame:
    """Median/mean impute for numeric columns, mode for strings — computed in
    ONE aggregation pass + one mode pass per string column (vs the
    reference's per-column pandas ops)."""
    num_cols = [f.name for f in df.schema.fields
                if isinstance(f.dataType, T.NumericType)]
    str_cols = [f.name for f in df.schema.fields
                if isinstance(f.dataType, T.StringType)]
    fills: dict[str, object] = {}
    if num_cols:
        agg = df.agg(*[
            (F.expr(f"percentile({c}, 0.5)") if numeric_strategy == "median"
             else F.mean(c)).alias(c)
            for c in num_cols
        ]).collect()[0]
        fills.update({c: agg[c] for c in num_cols if agg[c] is not None})
    for c in str_cols:
        mode = (df.where(F.col(c).isNotNull())
                .groupBy(c).count()
                .orderBy(F.desc("count"), F.asc(c)).limit(1).collect())
        if mode:
            fills[c] = mode[0][c]
    return df.fillna(fills)


def quarantine_split(df: DataFrame, cond) -> tuple[DataFrame, DataFrame]:
    """Boolean mask → (clean, quarantined) (outlier_remediation.py:89-97)."""
    return df.filter(~cond), df.filter(cond)


def winsorize(df: DataFrame, column: str, lo_q: float = 0.05,
              hi_q: float = 0.95, exact_percentiles: bool = True) -> DataFrame:
    """Clip a numeric column to percentile fences
    (outlier_remediation.py:132-133). ``exact_percentiles=False`` uses
    percentile_approx (GK sketch) — the at-scale default; clip fences don't
    need exactness. Exact stays default for the oracle-checked query."""
    fn = "percentile" if exact_percentiles else "percentile_approx"
    q = df.agg(F.expr(f"{fn}({column}, {lo_q})").alias("lo"),
               F.expr(f"{fn}({column}, {hi_q})").alias("hi")
               ).collect()[0]
    clipped = F.greatest(F.least(F.col(column), F.lit(float(q["hi"]))),
                         F.lit(float(q["lo"])))
    return df.withColumn(column, clipped)


def coerce_types(df: DataFrame, targets: dict[str, str],
                 default_numeric: float = 0.0) -> DataFrame:
    """try_cast with the reference's fill-0 semantics
    (type_mismatch.py:79-94: to_numeric(errors='coerce').fillna(0))."""
    out = df
    for col, dtype in targets.items():
        casted = F.expr(f"try_cast({col} as {dtype})")
        if dtype in ("int", "bigint", "double", "float"):
            casted = F.coalesce(casted, F.lit(default_numeric).cast(dtype))
        out = out.withColumn(col, casted)
    return out
