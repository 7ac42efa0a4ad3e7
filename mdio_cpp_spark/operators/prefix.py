"""Bucketed prefix: a running aggregate with no data-sized global window.

Blelloch's two-level scan (*Prefix Sums and Their Applications*, 1990) as
one DataFrame plan. The caller tags every row with a bucket that is
order-consistent with the running order (a chunk id, a quantile bucket, a
hash digit, a time bucket). Then:

  1. In-bucket scan: a window partitioned by ``keys + buckets`` and ordered
     by ``order``. It is data-sized, so it runs as many parallel
     partitions.
  2. Carry: the per-bucket totals (one row per bucket) cumulate over the
     strictly earlier buckets. That window is partitioned by ``keys`` only,
     so without keys it is global, but it sees one row per bucket. Its
     output alias, ``CARRY``, is the marker the plan-quality gate accepts;
     no other module names it.
  3. Join back: a left join on ``keys + buckets``. It is not hinted: AQE
     broadcasts the carry table while it fits and past that shuffle-joins
     it, co-partitioned with the in-bucket window.

The result equals ``agg OVER (PARTITION BY keys ORDER BY buckets, order
ROWS UNBOUNDED PRECEDING)``. Rows tied on (``keys``, ``buckets``,
``order``) run in an arbitrary order among themselves: ``count`` still
numbers them densely (zipWithIndex), and the other monoids give each tied
row a value that depends on that order unless the tied values are equal.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["CARRY", "bucketed_prefix"]

CARRY = "__prefix_carry"
_RUN = "__prefix_run"
_TOTAL = "__prefix_total"


def bucketed_prefix(
    df: DataFrame, out: str, monoid: str, buckets: Sequence[str], order: Sequence[str],
    keys: Sequence[str] = (), value: str | None = None,
) -> DataFrame:
    """``df`` plus ``out``: the inclusive running ``monoid`` of ``value``
    ordered by (``buckets``, ``order``), per ``keys``.

    ``monoid`` is ``count`` (rows; ``value`` unused), ``sum``, ``max`` or
    ``last`` (the last non-null value). ``buckets``, ``order`` and ``keys``
    are column names; ordering is ascending, nulls first. Buckets must be
    non-null: a null bucket gets no carry.
    """
    part = [*keys, *buckets]
    v = F.col(value) if value is not None else None
    r, c = F.col(_RUN), F.col(CARRY)
    # per monoid: the in-bucket running aggregate, the bucket total, the
    # fold of earlier totals into the carry, and running ⊕ carry
    if monoid in ("count", "sum"):
        run = total = F.count(F.lit(1)) if monoid == "count" else F.sum(v)
        fold, combined = F.sum, F.coalesce(r + c, r, c)
    elif monoid == "max":
        run = total = F.max(v)
        fold, combined = F.max, F.greatest(r, c)
    elif monoid == "last":
        run = F.last(v, ignorenulls=True)
        total = F.max_by(v, F.when(v.isNotNull(), F.struct(*order)))
        fold, combined = (lambda t: F.last(t, ignorenulls=True)), F.coalesce(r, c)
    else:
        raise ValueError(f"monoid must be count, sum, max or last, got {monoid!r}")

    upto = Window.partitionBy(*part).orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    earlier = Window.partitionBy(*keys).orderBy(*buckets).rowsBetween(Window.unboundedPreceding, -1)
    carry = df.groupBy(*part).agg(total.alias(_TOTAL)).select(
        *part, fold(_TOTAL).over(earlier).alias(CARRY)
    )
    return (
        df.withColumn(_RUN, run.over(upto))
        .join(carry, part, "left")
        .select(*df.columns, combined.alias(out))
    )
