"""One statement of each decision rule, two evaluators.

A rule is written once as Python over an ops namespace ``o`` and returns
``(fired, confidence)``. :class:`PandasOps` evaluates it on numpy columns
for every document decision (``decision.decide_frame``); :data:`SPARK`
renders it as pyspark ``Column`` expressions (``with_quality_signals`` and
its batched twin, ``alert_severity``, the parity test), and :data:`SQL` as
SQL text (``pipeline.clean_lang`` in ``clean_rows``). ``Column`` and
numpy arrays already share ``< > <= >= == != & |`` and arithmetic; the few
operations they spell differently — column access, CASE WHEN,
least/greatest and Spark's 6dp rounding — are the ops below.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal
from functools import reduce

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

# a value within this relative distance of a .5 tie at the 6th decimal takes
# the exact decimal path; x*1e6 is off by a few ulps at most, so this margin
# (~4500 ulps) never lets a true tie through the fast path
_TIE_REL = 1e-12
_MICRO = Decimal("0.000001")


def round6(x: float) -> float:
    """Spark's ``round(x, 6)`` on a finite double.

    Spark rounds ``BigDecimal.valueOf(x)`` — the decimal ``Double.toString``
    prints, i.e. ``repr(x)`` — HALF_UP. ``floor(x*1e6 + 0.5)`` alone is wrong
    whenever x*1e6 is not exact in binary: 41/640 = 0.0640625 gives 0.064062
    where Spark gives 0.064063. Away from a tie both agree, so only values
    near one pay for the decimal.
    """
    y = x * 1e6
    r = math.floor(y + 0.5)
    if abs(abs(y - r) - 0.5) < _TIE_REL * max(abs(y), 1.0):
        return float(Decimal(repr(x)).quantize(_MICRO, ROUND_HALF_UP))
    return r / 1e6


def round6_array(a) -> np.ndarray:
    """:func:`round6` over an array; NaN and ±inf pass through as in Spark."""
    a = np.asarray(a, dtype=np.float64)
    y = a * 1e6
    r = np.floor(y + 0.5)
    out = r / 1e6
    with np.errstate(invalid="ignore"):
        near = (np.abs(np.abs(y - r) - 0.5)
                < _TIE_REL * np.maximum(np.abs(y), 1.0))
    for i in np.flatnonzero(near):
        out[i] = round6(float(a[i]))
    return out


class _Ops:
    def past(self, *branches):
        """Confidence of a fired rule: the first branch ``(condition,
        distance)`` that holds gives ``min(distance, 1)``, else 0.0; rounded
        to 6dp."""
        return self.round6(self.case(
            [(cond, self.least(dist, 1.0)) for cond, dist in branches], 0.0))


def _cols(xs):
    return [x if isinstance(x, Column) else F.lit(x) for x in xs]


class SparkOps(_Ops):
    col = staticmethod(F.col)

    @staticmethod
    def case(branches, otherwise):
        (cond, val), *rest = branches
        expr = F.when(cond, val)
        for cond, val in rest:
            expr = expr.when(cond, val)
        return expr.otherwise(otherwise)

    @staticmethod
    def least(*xs):
        return F.least(*_cols(xs))

    @staticmethod
    def greatest(*xs):
        return F.greatest(*_cols(xs))

    @staticmethod
    def round6(x):
        return F.round(x, 6)


class _Sql(str):
    """A SQL expression as text; ``== != &`` build larger ones."""

    def _op(self, op: str, other) -> _Sql:
        if not isinstance(other, _Sql):
            other = "'" + str(other).replace("'", "''") + "'"
        return _Sql(f"({self} {op} {other})")

    def __eq__(self, other):
        return self._op("=", other)

    def __ne__(self, other):
        return self._op("!=", other)

    def __and__(self, other):
        return self._op("AND", other)


class SqlOps:
    """Renders a rule as Spark SQL text, for a projection that must stay a
    few py4j calls (one ``selectExpr``): the same rule rendered as
    ``Column`` objects costs one call per expression node. Column access,
    ``== != &`` against columns and string literals, and CASE WHEN only."""

    col = staticmethod(_Sql)

    @staticmethod
    def case(branches, otherwise):
        whens = " ".join(f"WHEN {c} THEN {v}" for c, v in branches)
        return _Sql(f"CASE {whens} ELSE {otherwise} END")


class PandasOps(_Ops):
    """Columns of ``frame`` — a DataFrame or a dict of arrays — as numpy
    arrays; the decision rules expect no nulls (``scoring.score_and_decide``
    decides a null claim as 'und')."""

    def __init__(self, frame) -> None:
        self._frame = frame

    def col(self, name: str) -> np.ndarray:
        return np.asarray(self._frame[name])

    @staticmethod
    def case(branches, otherwise):
        return np.select([c for c, _ in branches], [v for _, v in branches],
                         otherwise)

    @staticmethod
    def least(*xs):
        return reduce(np.minimum, xs)

    @staticmethod
    def greatest(*xs):
        return reduce(np.maximum, xs)

    round6 = staticmethod(round6_array)


SPARK = SparkOps()
SQL = SqlOps()
