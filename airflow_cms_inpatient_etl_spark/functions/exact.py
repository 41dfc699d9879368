"""Deterministic (engine-reproducible) aggregation over floating-point columns.

Why this exists
---------------
``SUM(double)`` is order-dependent: Spark adds partial sums in whatever order
partitions finish, so two runs — let alone Spark vs another engine — can differ
in the last ulps.  The reference avoids the problem by keeping money in Postgres
``NUMERIC`` (``/root/reference/dags/patient_claims_plus_postgres.py:84``): decimal
addition is exact, hence order-independent.  We adopt the same fix Spark-side:

    SUM(CAST(x AS DECIMAL(p, s)))  →  exact, order-independent  →  CAST AS DOUBLE

The double→decimal cast itself is deterministic and engine-portable **provided
the target scale exceeds the true decimal scale of the data** (e.g. 2-dp money
cast at scale ≥ 4): the nearest rounding boundary is then ~0.5·10⁻ˢ away, vastly
farther than the ~1 ulp error of the stored double, so every engine rounds the
same way.  Never cast a double *down* to its own scale boundary (2-dp money at
scale 1 lands exactly on ties and engines disagree).

Per-row double arithmetic (``a*b``, comparisons) is IEEE-deterministic and
identical across engines, so products may be formed in double first and cast
once before summing.

At 100 TB this costs nothing extra: decimal sums still combine map-side
(partial aggregation) and the cast is codegen'd per row.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


def dec(col: Column | str, scale: int = 6, precision: int = 27) -> Column:
    """Cast a double column to an exact decimal (see module docstring for scale rules)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(T.DecimalType(precision, scale))


def dsum(col: Column | str, alias: str, scale: int = 6, precision: int = 27) -> Column:
    """Order-independent SUM over a double column, returned as double."""
    return F.sum(dec(col, scale, precision)).cast("double").alias(alias)


def davg(col: Column | str, alias: str, scale: int = 6, precision: int = 27) -> Column:
    """Order-independent AVG: exact decimal sum divided by count, in double.

    (Plain ``AVG(double)`` has the same order-dependence as SUM; dividing two
    engine-identical values is again bit-deterministic.)
    """
    return (F.sum(dec(col, scale, precision)).cast("double") / F.count(F.lit(1))).alias(alias)


def oracle_davg(expr: str, alias: str, scale: int = 6, precision: int = 27) -> str:
    return (
        f"CAST(SUM(CAST(({expr}) AS DECIMAL({precision},{scale}))) AS DOUBLE) / COUNT(*) AS {alias}"
    )
