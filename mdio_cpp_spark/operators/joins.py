"""Join operators.

The reference has no joins (SURVEY §2.5) — the one join-like construct is
implicit dimension alignment of variables sharing labels
(/root/reference/mdio/dataset.h:439-447 merges per-label domains), which in
relational form is an equi-join on the shared dimension columns. Everything
else here is north-star surface: broadcast/semi/anti joins and an as-of join
(the reference's ``sel`` is exact-match only — dataset.h:840-847 — so as-of is
a strict extension).

Scale notes baked into each operator:
  * ``dim_align_join`` broadcasts the small side when told to — a dimension
    table at 100 TB scale is still KBs–MBs, so the join should never shuffle
    the fact table.
  * ``asof_join`` uses the union + ordered-window formulation: one shuffle of
    (left ∪ right) range-partitioned on (keys, time) — no N×M cross product,
    no per-row subquery. With partition keys it parallelizes per key; AQE
    skew-split handles hot keys.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mdio_cpp_spark.operators.prefix import bucketed_prefix


def dim_align_join(
    fact: DataFrame,
    dim: DataFrame,
    on: Sequence[str] | str,
    how: str = "inner",
    broadcast_dim: bool = True,
) -> DataFrame:
    """Variable-alignment join on shared dimension columns
    (dataset.h:439-447 analog). ``broadcast_dim`` forces a broadcast-hash
    join so the fact side never shuffles."""
    right = F.broadcast(dim) if broadcast_dim else dim
    return fact.join(right, on=on, how=how)


def semi_join(left: DataFrame, right: DataFrame, on: Sequence[str] | str) -> DataFrame:
    """EXISTS — rows of ``left`` with a match in ``right``."""
    return left.join(right, on=on, how="left_semi")


def anti_join(left: DataFrame, right: DataFrame, on: Sequence[str] | str) -> DataFrame:
    """NOT EXISTS — rows of ``left`` without a match in ``right``."""
    return left.join(right, on=on, how="left_anti")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_ts: str,
    value_cols: Sequence[str],
    partition_keys: Sequence[str] = (),
    how: str = "inner",
    bucket_seconds: int = 86_400,
    direction: str = "backward",
) -> DataFrame:
    """As-of join: for each left row, the values from the latest right row
    with ``right_ts <= left_ts`` (inclusive), optionally per partition key.
    ``direction='forward'`` mirrors time (pandas ``merge_asof`` forward):
    the EARLIEST right row with ``right_ts >= left_ts`` — implemented by
    negating the microsecond axis, so the whole bucketed machinery below is
    shared and the plan is identical.

    Semantics match DuckDB/standard ASOF JOIN: ``how='inner'`` (default)
    drops left rows with no prior right row; ``how='left'`` keeps them with
    NULL values. All carried values come from the SAME right row (they are
    carried as one struct, never per-column).

    Scale design — no data-sized single-partition window, even keyless:
    tag and union both sides, assign each row a coarse time bucket
    ``floor(ts / bucket_seconds)``, and carry the right struct with
    ``bucketed_prefix``'s running last non-null per key over (bucket, ts).
    Right rows order before left rows at equal timestamps (inclusive
    match); the value struct itself breaks ties between right rows.

    Cost: one full shuffle of left ∪ right on (keys, bucket) + one tiny
    carry shuffle — the distributed as-of at its minimum data movement.
    """
    keys = list(partition_keys)
    lcols = [c for c in left.columns]
    rv_struct = F.struct(*[F.col(v) for v in value_cols])
    rv_type = "struct<" + ",".join(
        f"{v}:{right.schema[v].dataType.simpleString()}" for v in value_cols
    ) + ">"
    l_tagged = left.select(
        *[F.col(c) for c in lcols],
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(rv_type).alias("__rv"),
    )
    r_tagged = right.select(
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols if c not in keys],
        *[F.col(k) for k in keys],
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        rv_struct.alias("__rv"),
    )
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be 'backward' or 'forward', got {direction!r}")
    us = F.unix_micros(F.col("__ts").cast("timestamp"))
    if direction == "forward":
        us = -us  # mirrored axis: 'latest prior' becomes 'earliest subsequent'
    u = (
        l_tagged.unionByName(r_tagged)
        .withColumn("__us", us)
        .withColumn("__b", F.floor(F.col("__us") / F.lit(bucket_seconds * 1_000_000)))
    )
    out = bucketed_prefix(
        u, "__rv_final", "last", buckets=["__b"], order=["__us", "__side", "__rv"],
        keys=keys, value="__rv",
    ).filter(F.col("__side") == 1)
    if how == "inner":
        out = out.filter(F.col("__rv_final").isNotNull())
    elif how != "left":
        raise ValueError(f"how must be 'inner' or 'left', got {how!r}")
    return out.select(
        *lcols,
        *[F.col("__rv_final").getField(v).alias(v) for v in value_cols],
    )


def asof_nearest_us(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_ts: str,
    bucket_seconds: int = 86_400,
) -> DataFrame:
    """BOTH as-of directions in ONE bucketed pass, specialized to the case
    where the carried value IS the right timestamp itself (pandas
    ``merge_asof`` with the match key as the only output — the nearest-
    neighbor-on-a-time-axis primitive). Returns ``left`` plus two long
    columns: ``__prev_us`` (max right microseconds ≤ left's, inclusive) and
    ``__next_us`` (min right microseconds ≥ left's, inclusive), either NULL
    when no such right row exists.

    Because value == axis, the backward carry degenerates to a running MAX
    and the forward carry to a running MIN — pure aggregates over a RANGE
    frame, no tie-break struct needed (equal-timestamp right rows are
    indistinguishable). That lets one union + one (bucket)-keyed exchange
    serve both directions where the generic composition
    (``asof_join(direction='backward')`` + ``asof_join('forward')`` + an
    id-keyed merge join) pays two full union shuffles plus a data-sized
    re-join — A/B-measured 2.3 → 1.7 s steady-state at sf0.1 (asof05,
    round-11 optimization), and at scale it cuts the data-sized
    exchanges from ~3 to 1.

    Same bucketed shape as ``asof_join``: RANGE-framed in-bucket windows
    (inclusive at 0 in both directions, matching ASOF ``<=`` / ``>=``
    semantics regardless of row order among equal timestamps), plus a
    |buckets|-row boundary table cumulated in both directions and joined
    back broadcast — no single-partition window anywhere."""
    lcols = list(left.columns)
    l_tagged = left.select(
        *lcols,
        F.unix_micros(F.col(left_ts).cast("timestamp")).alias("__us"),
        F.lit(1).alias("__side"),
    )
    r_tagged = right.select(
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols],
        F.unix_micros(F.col(right_ts).cast("timestamp")).alias("__us"),
        F.lit(0).alias("__side"),
    )
    u = l_tagged.unionByName(r_tagged).withColumn(
        "__b", F.floor(F.col("__us") / F.lit(bucket_seconds * 1_000_000))
    )
    r_us = F.when(F.col("__side") == 0, F.col("__us"))
    w_prev = (
        Window.partitionBy("__b").orderBy("__us")
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    # the forward min is a CUMULATIVE frame over the mirrored sort, not an
    # unbounded-FOLLOWING frame: Spark's UnboundedFollowing window frame
    # re-aggregates the remaining rows for every row — O(rows²) per
    # partition (A/B-measured 3.7 s vs 1.7 s for the whole query at
    # sf0.1); the descending-order cumulative is O(rows) at the cost of a
    # second in-partition sort on the same exchange.
    w_next = (
        Window.partitionBy("__b").orderBy(F.col("__us").desc())
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    carried = u.select(
        *lcols, "__side", "__b",
        F.max(r_us).over(w_prev).alias("__prev_in"),
        F.min(r_us).over(w_next).alias("__next_in"),
    )

    # boundary: per-bucket right extremes, cumulated strictly before/after
    b_agg = (
        u.filter(F.col("__side") == 0)
        .groupBy("__b")
        .agg(F.max("__us").alias("__bmax"), F.min("__us").alias("__bmin"))
    )
    buckets = u.select("__b").distinct()
    w_before = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    w_after = Window.orderBy("__b").rowsBetween(1, Window.unboundedFollowing)
    carry = (
        buckets.join(b_agg, "__b", "left")
        .select(
            "__b",
            F.max("__bmax").over(w_before).alias("__prev_c"),
            F.min("__bmin").over(w_after).alias("__next_c"),
        )
    )
    return (
        carried.filter(F.col("__side") == 1)
        .join(F.broadcast(carry), "__b")
        .select(
            *lcols,
            F.coalesce(F.col("__prev_in"), F.col("__prev_c")).alias("__prev_us"),
            F.coalesce(F.col("__next_in"), F.col("__next_c")).alias("__next_us"),
        )
    )
