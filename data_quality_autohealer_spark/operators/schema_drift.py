"""Schema drift detection + registry.

Reference analogue: spark_profiler.py:51-73 (baseline StructType diff:
missing/new/type-changed columns) and the schema registry JSON manifest
(schema_drift_remediation.py:81-112). Driver-side set operations on
``df.schema`` — the one part of the reference that was already the right
shape (metadata ops don't need distribution).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import types as T


def diff_schemas(current: T.StructType, baseline: T.StructType) -> dict:
    """Missing / new / type-changed columns (spark_profiler.py:51-73)."""
    cur = {f.name: f.dataType.simpleString() for f in current.fields}
    base = {f.name: f.dataType.simpleString() for f in baseline.fields}
    missing = sorted(set(base) - set(cur))
    new = sorted(set(cur) - set(base))
    type_changed = sorted(
        n for n in set(cur) & set(base) if cur[n] != base[n])
    return {
        "missing_columns": missing,
        "new_columns": new,
        "type_changed_columns": type_changed,
        "has_drift": bool(missing or new or type_changed),
    }


class SchemaRegistry:
    """JSON schema registry (reference schema_drift_remediation.py:92-107)."""

    def __init__(self, path: str):
        self.path = path

    def record(self, table: str, df: DataFrame) -> None:
        reg = self._load()
        reg[table] = {f.name: f.dataType.simpleString()
                      for f in df.schema.fields}
        os.makedirs(os.path.dirname(self.path) or ".", exist_ok=True)
        with open(self.path, "w") as fh:
            json.dump(reg, fh, indent=2, sort_keys=True)

    def check(self, table: str, df: DataFrame) -> dict:
        reg = self._load()
        if table not in reg:
            return {"has_drift": False, "baseline_missing": True}
        base = T.StructType([
            T.StructField(n, _parse_type(t)) for n, t in reg[table].items()])
        return diff_schemas(df.schema, base)

    def _load(self) -> dict:
        if os.path.exists(self.path):
            with open(self.path) as fh:
                return json.load(fh)
        return {}


def _parse_type(simple: str) -> T.DataType:
    mapping = {
        "string": T.StringType(), "bigint": T.LongType(),
        "int": T.IntegerType(), "double": T.DoubleType(),
        "float": T.FloatType(), "boolean": T.BooleanType(),
        "timestamp": T.TimestampType(), "binary": T.BinaryType(),
        "date": T.DateType(),
    }
    return mapping.get(simple, T.StringType())
