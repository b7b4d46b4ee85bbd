"""Time/number helpers shared by operators and the query catalog."""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def epoch_seconds(df: DataFrame, col: str) -> Column:
    """Epoch seconds as double (micro precision), for any ts column type.

    TIMESTAMP_NTZ cannot cast straight to double in Spark 4 — route through
    TIMESTAMP (session tz is pinned to UTC, so NTZ == UTC instant).

    A column that is already double is returned uncast: the analyzer
    projects a cast inside a window expression out as an alias (`_w0`),
    and that projection stops Catalyst from collapsing the window into a
    neighbouring one over the same spec.
    """
    t = df.schema[col].dataType.typeName()
    c = F.col(col)
    if t == "double":
        return c
    if t.startswith("timestamp"):
        return c.cast("timestamp").cast("double")
    return c.cast("double")


def ieee_div(a: Column, b: Column) -> Column:
    """a / b with IEEE semantics for a zero divisor: ±Inf, or NaN for 0/0,
    as R and numpy give. Under ANSI mode (the Spark 4 default) a plain
    `a / b` fails the whole action with DIVIDE_BY_ZERO; ANSI stays on for
    every other expression. A zero divisor is taken as +0."""
    return F.when(b == 0, a * F.lit(math.inf)).otherwise(a / b)


def duck_round(c: Column, digits: int = 6) -> Column:
    """Round exactly like DuckDB's ROUND on DOUBLE (std::round(x*p)/p, half
    away from zero) so driver value-hashes match the oracle bit-for-bit.
    Spark's F.round goes through BigDecimal and can disagree on ties."""
    p = F.lit(float(10**digits))
    return F.signum(c) * F.floor(F.abs(c) * p + F.lit(0.5)) / p
