"""Gap filling over ordered series: LOCF/NOCB with an optional reach limit —
xarray ``ffill(dim, limit)`` / ``bfill(dim, limit)`` re-expressed with NO
global data window.

Rows bucket by ``index div bucket_size`` (for stored arrays the chunk size
is the natural bucket — chunk-local work stays chunk-local), and the donor
— the last non-null (index, value) at or before each row — is
``bucketed_prefix``'s running last non-null over (bucket, index). The fill
is masked to NULL when the donor row is farther than ``limit`` positions
away.

``direction='backward'`` (NOCB) mirrors the index axis (negation), reusing
the identical machinery — the same trick as the forward as-of join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mdio_cpp_spark.operators.prefix import bucketed_prefix

__all__ = ["fill_gaps"]


def fill_gaps(
    df: DataFrame,
    index_col: str,
    value_col: str,
    bucket_size: int = 2048,
    direction: str = "forward",
    limit: int | None = None,
    out_col: str | None = None,
) -> DataFrame:
    """Fill NULL ``value_col`` cells from the nearest non-null row at or
    before (``forward``) / at or after (``backward``) each ``index_col``
    position, optionally only within ``limit`` positions. Returns the input
    columns with ``out_col`` (default: ``value_col`` replaced) filled.

    ``index_col`` must be integer-like and unique per row (a dimension
    index, a row number); donor distance for ``limit`` is measured in
    index units.
    """
    if direction not in ("forward", "backward"):
        raise ValueError(f"direction must be 'forward' or 'backward', got {direction!r}")
    if limit is not None and limit < 0:
        raise ValueError("limit must be >= 0")
    out_col = out_col or value_col
    keep_cols = [c for c in df.columns]

    idx = F.col(index_col).cast("long")
    if direction == "backward":
        idx = -idx  # mirrored axis: NOCB becomes LOCF
    work = df.withColumn("__gx", idx).withColumn(
        "__gb", F.floor(F.col("__gx") / F.lit(int(bucket_size)))
    )
    src = F.when(F.col(value_col).isNotNull(), F.struct(
        F.col("__gx").alias("x"), F.col(value_col).alias("v")
    ))
    work = work.withColumn("__gsrc", src)
    out = bucketed_prefix(
        work, "__gdonor", "last", buckets=["__gb"], order=["__gx"], value="__gsrc"
    )
    donor = F.col("__gdonor")
    filled = donor.getField("v")
    if limit is not None:
        filled = F.when(
            F.col("__gx") - donor.getField("x") <= F.lit(int(limit)), donor.getField("v")
        )
    return out.select(
        *[F.col(c) for c in keep_cols if c != out_col],
        F.coalesce(F.col(value_col), filled).alias(out_col),
    )
