"""Two-phase salted aggregation: explicit salting (north_rule) on top of
AQE's runtime skew-join splitting.

A plain ``groupBy(key)`` sends every row of a hot key to one reducer.
Salting bounds any single task at ~1/S of the hottest key:

  phase 1: groupBy(key, salt)  — salt = pmod(xxhash64(id), S)
           partial aggregates spread over S reducers per key
  phase 2: groupBy(key)        — combine S partials (tiny)

Only algebraic aggregates (sum/count/min/max) can be salted this way. For
those, map-side partial aggregation already absorbs key skew: a salted
per-host rollup measured within noise of a plain ``groupBy``
(docs/SCALE.md). Salting pays for aggregates whose state grows with the
rows, where the partial aggregate cannot compress.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_stats(df: DataFrame, key_col: str, value_col: str, id_col: str,
                 num_salts: int = 16) -> DataFrame:
    """Generic two-phase salted count/sum/min/max of ``value_col`` grouped by
    ``key_col`` — identical result to a plain groupBy (the salt only spreads
    reducers), so it has an exact plain-SQL oracle twin.

    Sum is carried in integer cents (accumulation-order-independent; double
    sums flip the last ulp between partitionings/engines); NULL/NaN rows are
    excluded up front in both engines.
    """
    c = F.col
    cents = F.expr(f"cast(round({value_col} * 100, 0) as bigint)")
    clean = df.where(c(value_col).isNotNull() & ~F.isnan(value_col))
    salted = clean.withColumn(
        "_salt", F.pmod(F.xxhash64(c(id_col)), F.lit(num_salts)))
    partial = salted.groupBy(key_col, "_salt").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(cents).alias("_sum_cents"),
        F.min(value_col).alias("_min"),
        F.max(value_col).alias("_max"),
    )
    return (partial.groupBy(key_col).agg(
        F.sum("_n").alias("n_rows"),
        F.sum("_sum_cents").cast("long").alias("sum_cents"),
        F.round(F.min("_min"), 6).alias("min_value"),
        F.round(F.max("_max"), 6).alias("max_value"),
    ))


def duckdb_salted_stats_sql(table: str, key_col: str, value_col: str) -> str:
    """Plain-groupBy oracle twin of :func:`salted_stats` (salting is a
    physical rewrite; the logical result is a plain aggregate)."""
    return f"""
        select {key_col},
               count(*)::bigint as n_rows,
               (sum(round({value_col} * 100, 0)::bigint))::bigint as sum_cents,
               round(min({value_col}), 6) as min_value,
               round(max({value_col}), 6) as max_value
        from {table}
        where {value_col} is not null and not isnan({value_col})
        group by {key_col}
    """

