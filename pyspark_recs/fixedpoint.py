"""Fixed-point sums: oracle-deterministic float aggregates.

Floating-point aggregates are the one place a Spark result and a DuckDB
result can legitimately differ (double summation is order-dependent, and
the engines' double→decimal casts disagree on exact decimal ties — Spark
rounds the shortest decimal repr HALF_UP via BigDecimal, DuckDB rounds
HALF_EVEN in scaled double). We make aggregates bit-exact instead of
tolerance-compared, via fixed-point integer summation:

    term  = floor(x * 10^scale + 0.5)  as BIGINT   -- identical IEEE double
                                                    -- ops in both engines,
                                                    -- so identical results
                                                    -- by construction
    sum   = SUM(term)                               -- exact, order-free
    value = CAST(sum AS DOUBLE) / 10^scale          -- identical division

Cross-engine agreement holds for *any* input double because both engines
evaluate the same deterministic double expression before the exact
integer sum — there is no rounding-mode or summation-order freedom left.

Precision budget: quantization at 10^-scale per term. Keep
|x| * 10^scale ≲ 1e15 so terms stay well under 2^53 and BIGINT sums
under 2^63 (e.g. scale 6 with |x| ≤ 1e8 and ≤ 1e7 rows per group). For
squares/large products, downscale x by a power of two first (exact in
binary) and rescale the final moment — see the variance queries in
workloads/relational.py.

At 100 TB this pattern is also an engineering win: results are
bit-reproducible across cluster sizes, partitionings and AQE decisions,
which makes golden-file testing of pipelines possible at all.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dsum(col: Column | str, scale: int = 6) -> Column:
    """Order-independent, engine-agreed sum of a double expression (as
    double, quantized at 10^-scale)."""
    c = F.col(col) if isinstance(col, str) else col
    mult = float(10**scale)
    q = F.floor(c * F.lit(mult) + F.lit(0.5)).cast("long")
    return (F.sum(q).cast("double") / F.lit(mult))


def davg(col: Column | str, scale: int = 6) -> Column:
    """Engine-agreed mean: fixed-point sum / count, evaluated in double."""
    c = F.col(col) if isinstance(col, str) else col
    mult = float(10**scale)
    q = F.floor(c * F.lit(mult) + F.lit(0.5)).cast("long")
    return F.sum(q).cast("double") / F.lit(mult) / F.count(F.lit(1))


def sql_dsum(expr: str, scale: int = 6) -> str:
    """DuckDB twin of ``dsum``."""
    mult = float(10**scale)
    return (
        f"(CAST(sum(CAST(floor(({expr}) * {mult!r} + 0.5) AS BIGINT)) "
        f"AS DOUBLE) / {mult!r})"
    )


def sql_davg(expr: str, scale: int = 6) -> str:
    return f"({sql_dsum(expr, scale)} / count(*))"
