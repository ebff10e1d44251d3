"""Scalar/aggregate expression helpers.

Determinism rules encoded here (used by the driver queries and anywhere
results must be reproducible across partitionings or engines):

* Floating-point sums are NOT associative, so a plain ``sum(double)``
  depends on partial-aggregation order. ``exact_sum`` routes through a
  decimal cast — decimal addition is exact — and surfaces the result as
  double: identical no matter how Spark splits the partials, and identical
  to any other engine using the same decimal scale.
* Event-time columns stored as INT64 nanoseconds stay in integer math
  (``div`` by ``HOUR_NS``) for bucketing — int64 nanos overflow double's
  53-bit mantissa, so float division would corrupt buckets.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

HOUR_NS = 3_600_000_000_000
MICROS_PER_HOUR = 3_600_000_000


def exact_sum(col: Column | str, scale: str = "decimal(30,6)") -> Column:
    """Order-independent sum of a double column (exact decimal, cast back
    to double)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(scale)).cast("double")

