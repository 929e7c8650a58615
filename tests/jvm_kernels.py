"""JVM reference kernels for the driver-side IVF-PQ replay tests.

The IVF assignment, PQ training and encode run in numpy
(``eventlog_spark.operators.curation``); these are the Spark
expressions they replaced, kept here as the oracle the replay must
equal bit for bit. Both are UNROLLED column arithmetic whose tree
replays the fold's exact IEEE sequence ((((0.0 + t0) + t1) + ...), the
same left-to-right order DuckDB's list_sum uses. Each takes column
names, Columns, or one of each.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from eventlog_spark.operators.curation import _sq_l2_sql


def sq_l2(a, b, n: int):
    # string args take the single-expr construction (``_sq_l2_sql``):
    # identical tree, none of the ~5 py4j round-trips per term
    if isinstance(a, str) and isinstance(b, str):
        return _sq_l2_sql(a, b, n)
    a, b = as_col(a), as_col(b)
    acc = F.lit(0.0)
    for i in range(n):
        d = a.getItem(i) - b.getItem(i)
        acc = acc + d * d
    return acc


def dot(a, b, n: int = 64):
    if isinstance(a, str) and isinstance(b, str):
        e = "0.0D"
        for i in range(n):
            e = f"({e} + {a}[{i}] * {b}[{i}])"
        return F.expr(e)
    a, b = as_col(a), as_col(b)
    acc = F.lit(0.0)
    for i in range(n):
        acc = acc + a.getItem(i) * b.getItem(i)
    return acc


def as_col(c):
    """A column name or a Column, as a Column."""
    return F.col(c) if isinstance(c, str) else c
