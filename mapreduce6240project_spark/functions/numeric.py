"""Numerically stable aggregate expressions for oracle-compared output.

Averaging floating-point columns is order-sensitive: Spark's partial
aggregation and DuckDB's sequential sum differ in the last ulp, and for
cent-valued data (2-decimal doubles) the true average frequently lands
*exactly* on a 4th-decimal rounding boundary (e.g. avg of 8 cent values
= x.xxxx5), where a 1-ulp difference flips ``round(x, 4)``.

``stable_avg_cents`` sidesteps the whole class: quantize each value to
integer cents (exact), sum as BIGINT (associative -- order cannot
matter), divide once.  Both engines then round the *identical* double.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def stable_avg_cents(col: Column | str, ndigits: int = 4) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    cents = F.round(c * 100).cast("bigint")
    return F.round(F.sum(cents) / 100.0 / F.count("*"), ndigits)


def stable_sum_micros(col: Column | str, ndigits: int = 4) -> Column:
    """Order-independent float sum for oracle-compared output: quantize
    each value to integer micros (half-up), sum as BIGINT (associative
    -- partial-aggregation order cannot matter), divide once.  Both
    engines round the identical double; a raw double sum's last-ulp
    merge-order jitter can flip ``round(x, 4)`` when the true value
    sits near a rounding boundary."""
    c = F.col(col) if isinstance(col, str) else col
    micros = F.floor(c * 1000000 + F.lit(0.5)).cast("bigint")
    return F.round(F.sum(micros) / 1000000.0, ndigits)


def stable_sum_micros_sql(expr: str, ndigits: int = 4) -> str:
    """DuckDB mirror of :func:`stable_sum_micros`."""
    return (
        f"round(sum(CAST(floor(({expr}) * 1000000 + 0.5) AS BIGINT))"
        f" / 1000000.0, {ndigits})"
    )
