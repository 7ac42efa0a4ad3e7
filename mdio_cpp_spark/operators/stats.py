"""Statistics operators — the ``statsV1`` contract of the reference.

Reference semantics (file:line in /root/reference):
  * ``SummaryStats`` — count/min/max/sum/sumSquares per variable
    (mdio/stats.h:229-335); float stats are *stored* as float but we compute
    in double and cast on serialize, matching the guidance in SURVEY §7 M2.
  * ``CenteredBinHistogram`` — binCenters[] + counts[] (mdio/stats.h:109-161).
  * ``EdgeDefinedHistogram`` — binEdges[] + binWidths[] + counts[]
    (mdio/stats.h:163-227).
  * ``Variable::num_samples`` — cell count (mdio/variable.h:1153-1162).
  * ``get_intervals`` — per-dimension [min, max) domain
    (mdio/variable.h:1652-1698, mdio/dataset.h:264-287).

All of these are single-pass partial aggregates: Spark computes map-side
partial min/max/sum/count per partition and merges — one shuffle of one row
per partition regardless of table size, which is exactly the 100 TB-safe
shape. Histograms group on a derived bin id, so cardinality of the shuffle is
#bins, not #rows.
"""

from __future__ import annotations

import math
from collections.abc import Sequence
from typing import Any

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mdio_cpp_spark.session import local_frame

# grouped_percentiles: max (group × bucket) count rows the driver may hold
# for the low-latency rank walk; beyond it the metadata stage stays
# distributed (the limit(+1) probe makes this a guarantee, not a hope)
_DRIVER_META_BOUND = 65_536
# covering-bucket sets up to this size compile to map literals instead of
# broadcast-joined frames (≤ 2·G·|ps| entries; beyond it a literal
# expression tree stops being free to analyze/codegen)
_LITERAL_META_BOUND = 1024


def summary_stats(df: DataFrame, col: str, round_to: int | None = 2) -> DataFrame:
    """A1: one-row DataFrame (cnt, min_v, max_v, sum_v, sum_sq)."""
    c = F.col(col).cast("double")
    sum_v, sum_sq = F.sum(c), F.sum(c * c)
    if round_to is not None:
        sum_v, sum_sq = F.round(sum_v, round_to), F.round(sum_sq, round_to)
    return df.agg(
        F.count(col).alias("cnt"),
        F.min(col).alias("min_v"),
        F.max(col).alias("max_v"),
        sum_v.alias("sum_v"),
        sum_sq.alias("sum_sq"),
    )


def centered_bin_histogram(df: DataFrame, col: str, bin_width: float, origin: float = 0.0) -> DataFrame:
    """A2: fixed-width histogram; bin center = origin + (i + 0.5) * width.
    Returns (bin, cnt) ordered by bin."""
    bin_id = F.floor((F.col(col) - F.lit(origin)) / F.lit(bin_width)).cast("int").alias("bin")
    return df.groupBy(bin_id).agg(F.count(F.lit(1)).alias("cnt")).orderBy("bin")


def edge_binned_histogram(df: DataFrame, col: str, edges: Sequence[float]) -> DataFrame:
    """A3: explicit-edge histogram, bins [e_i, e_{i+1}) half-open, values
    outside [e_0, e_last) dropped — matching EdgeDefinedHistogram's contract
    (stats.h:163-227). Returns (bin, lo, hi, cnt) ordered by bin."""
    if len(edges) < 2 or any(b <= a for a, b in zip(edges, edges[1:])):
        raise ValueError("edges must be strictly increasing with >= 2 entries")
    c = F.col(col)
    bin_expr = F.lit(None).cast("int")
    # Build a when-chain; Catalyst folds it into one codegen'd CASE.
    expr = None
    for i, (lo, hi) in enumerate(zip(edges, edges[1:])):
        cond = (c >= F.lit(lo)) & (c < F.lit(hi))
        expr = F.when(cond, i) if expr is None else expr.when(cond, i)
    bin_expr = expr.otherwise(F.lit(None)).alias("bin")
    lo_arr = F.array(*[F.lit(float(e)) for e in edges[:-1]])
    hi_arr = F.array(*[F.lit(float(e)) for e in edges[1:]])
    return (
        df.select(bin_expr)
        .filter(F.col("bin").isNotNull())
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("lo", F.element_at(lo_arr, F.col("bin") + 1))
        .withColumn("hi", F.element_at(hi_arr, F.col("bin") + 1))
        .select("bin", "lo", "hi", "cnt")
        .orderBy("bin")
    )


def num_samples(df: DataFrame) -> DataFrame:
    """A4: cell count (variable.h:1153-1162)."""
    return df.agg(F.count(F.lit(1)).alias("n"))


def get_intervals(df: DataFrame, dims: Sequence[str]) -> DataFrame:
    """A5: per-dimension half-open [min, max+1) domain, one row per dim.
    Computed in a single pass over the table (one agg, all dims at once),
    then unpivoted — not one scan per dimension."""
    aggs = []
    for d in dims:
        aggs.append(F.min(d).alias(f"__lo_{d}"))
        aggs.append((F.max(d) + F.lit(1)).alias(f"__hi_{d}"))
    row = df.agg(*aggs)
    structs = F.array(
        *[
            F.struct(
                F.lit(d).alias("dim"),
                F.col(f"__lo_{d}").cast("long").alias("lo"),
                F.col(f"__hi_{d}").cast("long").alias("hi"),
            )
            for d in dims
        ]
    )
    return (
        row.select(F.explode(structs).alias("iv"))
        .select("iv.dim", "iv.lo", "iv.hi")
        .orderBy("dim")
    )


def grouped_percentiles(
    df: DataFrame,
    group: str,
    col: str,
    ps: Sequence[tuple[float, float]] | Sequence[tuple[float, str]],
    round_to: int | None = 4,
    bounds: tuple[float, float] | None = None,
    input_cached: bool = False,
) -> DataFrame:
    """EXACT grouped percentiles (quantile_cont linear interpolation) with
    no per-group value buffering anywhere — the 100 TB-safe alternative to
    Spark's ``percentile`` UDAF, which holds every value of a group in one
    reducer's memory (an OOM when a group has billions of rows).

    Two cheap passes + one tiny targeted pass — state never scales with the
    data:

      1. Global [min, max] (one partial agg) fixes uniform value buckets
         (4× cluster parallelism of them; skewed data would swap in
         approx-quantile boundaries, same machinery).
      2. Per-(group, bucket) row counts (partial agg). The rank metadata —
         running offsets, per-group totals, and which one-or-two buckets
         contain each target rank (n-1)·p — is computed driver-side ONLY
         when the count table fits a hard bound (≤ _DRIVER_META_BOUND rows,
         guaranteed by a limit probe); past the bound the same metadata
         stays distributed (per-group prefix-sum window + covering-bucket
         joins) and only its ≤ 2·G·|ps|-row products are broadcast.
      3. ONLY those buckets' rows are re-read: per-(group, bucket, value)
         counts (duplicate-heavy data collapses before the window), a
         window prefix-sum ranks them WITHIN the bucket (+ broadcast
         offset), and the covering values interpolate with quantile_cont's
         exact formula: v_lo + frac · (v_hi − v_lo).

    Versus the previous distinct-count design (one row per distinct value —
    itself data-sized for continuous columns), the heavy shuffle is gone:
    pass 2 moves G × nparts integers and pass 3 touches ~|targets| buckets
    of ~n/nparts rows. A fully-constant column short-circuits after pass 1.

    ``ps`` is a list of (fraction, output_column_name).

    ``round_to=None`` returns UNROUNDED doubles — for internal callers
    (grouped_mad) that compose percentile passes and must apply exactly
    one final rounding, so the distributed path cannot double-round into
    disagreement with the driver fast path on boundary values.

    ``input_cached=True`` is the caller's guarantee that ``df`` is already
    persisted (or a cheap map-side derivation of a persisted frame): the
    internal MEMORY_AND_DISK persist of the narrow projection is skipped,
    saving a full second cache materialization per call — the multi-pass
    consumers re-read the caller's cache through the narrow filter instead.

    ``bounds=(lo, hi)`` skips pass 1 entirely — one fewer full-scan job —
    when the caller already knows a value range (a score in [0, 1], a
    deviation column bounded by a prior pass's spread). The bounds only
    steer bucket BALANCE, never correctness: the bucket id is monotone in
    the value and out-of-range values clamp into the end buckets, so rank
    arithmetic and the within-bucket interpolation stay exact even under
    loose (or outright wrong) bounds.
    """
    spark = df.sparkSession
    nparts = 4 * max(1, spark.sparkContext.defaultParallelism)

    def _rnd(c):
        return F.round(c, round_to) if round_to is not None else c

    # cache the NARROW (group, value) projection: three consumers (bounds,
    # bucket counts, targeted pass) would otherwise recompute the upstream
    # plan — ruinous when the value is derived (p06 scores text). Two
    # columns, memory-and-disk, so at scale this is shuffle-file-sized.
    from pyspark.storagelevel import StorageLevel

    # NaNs dropped BEFORE the bounds pass: a single NaN would make
    # vmax (and the bucket step) NaN, collapsing every row into bucket 0 —
    # exactly the single-reducer sort this operator exists to avoid
    base = df.select(group, col).where(
        F.col(col).isNotNull() & ~F.isnan(F.col(col).cast("double"))
    )
    if not input_cached:
        base = base.persist(StorageLevel.MEMORY_AND_DISK)

    def _drop_base():
        if not input_cached:
            base.unpersist()

    def _empty_result():
        return df.groupBy(group).agg(
            *[_rnd(F.max(F.col(col))).alias(name) for _, name in ps]
        )

    if bounds is not None:
        vmin, vmax = float(bounds[0]), float(bounds[1])
        if vmax < vmin:  # bucket ids must stay monotone in the value
            vmin, vmax = vmax, vmin
        if vmax == vmin:
            # Collapsed CALLER bounds say nothing about the column — the
            # constant-column shortcut below would return the group MAX as
            # every percentile over a non-constant column. Fall back to the
            # pass-1 scan the caller tried to skip (correctness > one job).
            bounds = None
    if bounds is None:
        lo_hi = base.agg(
            F.min(F.col(col).cast("double")), F.max(F.col(col).cast("double"))
        ).first()
        vmin, vmax = lo_hi[0], lo_hi[1]
        if vmin is None:  # empty (or all-NaN) input: schema-correct result
            _drop_base()
            return _empty_result()
        if vmax == vmin:  # constant column (MEASURED): every percentile IS it
            _drop_base()
            return df.groupBy(group).agg(
                *[_rnd(F.max(F.col(col))).alias(name) for _, name in ps]
            )

    step = (vmax - vmin) / nparts
    if step <= 0.0 or not math.isfinite(step):
        # a sub-normal (or ±inf) caller range underflows the bucket width —
        # ANSI double division by 0 RAISES (hypothesis: bounds (0, 5e-324)).
        # One bucket is still CORRECT (ids only steer balance, the clamp
        # and rank arithmetic stay exact), so pin a positive width.
        step = 1.0
    # O(1) arithmetic bucket id (not a comparison chain): uniform buckets,
    # out-of-range values clamped into the end buckets. The clamp happens
    # in the DOUBLE domain BEFORE the int cast: with caller bounds far
    # narrower than the data ((v-vmin)/step ~ 1e17, or ±inf when step
    # underflows), casting first is an ANSI CAST_OVERFLOW (found by
    # tests/test_percentile_properties.py).
    v = F.col(col).cast("double")
    pid = F.least(
        F.lit(float(nparts - 1)),
        F.greatest(F.lit(0.0), F.floor((v - F.lit(vmin)) / F.lit(step))),
    ).cast("int")
    tagged = base.withColumn("__pid", pid)

    # pass 2: per-(group, bucket) counts. Two tiers, both hard-bounded on
    # the driver:
    #   * ≤ _DRIVER_META_BOUND count rows → the driver walks ranks directly
    #     (zero extra Spark stages — the low-latency path every bounded-
    #     cardinality caller hits; the limit(+1) probe makes the bound a
    #     GUARANTEE, not a hope). When the covering-bucket set is also
    #     small and the group dtype stringifies identically in Python and
    #     SQL, the metadata further compiles to map LITERALS (below) —
    #     no createDataFrame, no broadcast joins.
    #   * beyond it → the same offsets/targets/covering-bucket metadata is
    #     computed as DataFrames: a prefix-sum window over ≤ nparts rows per
    #     group, joins for the covering buckets, and only the ≤ 2·G·|ps|-row
    #     products broadcast into pass 3. Nothing G-sized ever collects.
    counts = (
        tagged.groupBy(group, "__pid").agg(F.count(F.lit(1)).alias("__s"))
    ).persist()  # tiny; probed once, then feeds offsets/totals/cover joins
    head = counts.limit(_DRIVER_META_BOUND + 1).collect()
    if not head:  # empty input reached only via caller-supplied bounds
        _drop_base()
        counts.unpersist()
        return _empty_result()
    if len(head) <= _DRIVER_META_BOUND:
        counts.unpersist()  # fully collected — the driver paths never
        # reference the frame again (the distributed tier below does)
        per_group: dict = {}
        for r in head:
            per_group.setdefault(r[group], {})[r["__pid"]] = r["__s"]
        offs_by_gb: dict = {}
        for g, d in per_group.items():
            acc = 0
            for b in sorted(d):
                offs_by_gb[(g, b)] = acc
                acc += d[b]
        totals_d = {g: sum(d.values()) for g, d in per_group.items()}

        def bucket_of(g: Any, rank: int) -> int:
            acc = 0
            for b in sorted(per_group[g]):
                acc += per_group[g][b]
                if rank < acc:
                    return b
            return max(per_group[g])

        tgt_rows = []
        needed: set = set()
        for g, n in totals_d.items():
            for p, name in ps:
                rank = float(n - 1) * float(p)
                fl, ce = int(math.floor(rank)), int(math.ceil(rank))
                tgt_rows.append((g, name, rank, fl, ce))
                needed.add((g, bucket_of(g, fl)))
                needed.add((g, bucket_of(g, ce)))
        # LITERAL driver tier (round-11): every piece of rank metadata is a
        # Python scalar here, so instead of shipping it back through THREE
        # createDataFrame + broadcast-join stages, compile it into two map
        # literals keyed by "group\x1fbucket" / "group" — the needed-bucket
        # filter, the offset lookup and the target explode all become
        # map-side expressions, and ONE repartition on (group, __pid)
        # satisfies both the dedup-agg and the rank-window distribution
        # (plan: 3 broadcast exchanges + 1 shuffle removed; A/B 1.7→1.2 s
        # on a07). Gated on (a) a covering set small enough for a literal
        # expression tree and (b) a group dtype whose Python str() matches
        # CAST(group AS STRING) exactly — strings and integrals; doubles
        # (1e-07 vs 1.0E-7), booleans (True vs true) and null group keys
        # stay on the frame tier (nulls: the equi-joins there drop them,
        # and omitting them from the maps replicates exactly that).
        gdt = base.schema[group].dataType.simpleString()
        if len(needed) <= _LITERAL_META_BOUND and gdt in (
            "string", "int", "bigint", "smallint", "tinyint"
        ):
            return _literal_pass3(
                tagged, group, col, ps, _rnd, needed, offs_by_gb, tgt_rows
            )
        def keyed(ddl: str) -> T.StructType:  # the group's own field, then ddl's
            return T.StructType([base.schema[group], *T.StructType.fromDDL(ddl).fields])

        tgt = local_frame(spark, tgt_rows,
                          keyed("__name string, __rank double, __fl long, __ce long"))
        need_df = local_frame(spark, sorted(needed), keyed("__pid long"))
        off_df = local_frame(spark, [(g, b, o) for (g, b), o in offs_by_gb.items()],
                             keyed("__pid long, __off long"))
    else:
        woff = Window.partitionBy(group).orderBy("__pid")
        offs = counts.withColumn("__off", F.sum("__s").over(woff) - F.col("__s"))
        totals = counts.groupBy(group).agg(F.sum("__s").alias("__n"))

        p_struct = F.array(
            *[
                F.struct(F.lit(float(p)).alias("__p"), F.lit(name).alias("__name"))
                for p, name in ps
            ]
        )
        tgt = (
            totals.select(group, "__n", F.explode(p_struct).alias("__t"))
            .select(
                group,
                F.col("__t.__name").alias("__name"),
                ((F.col("__n") - 1).cast("double") * F.col("__t.__p")).alias("__rank"),
            )
            .withColumn("__fl", F.floor("__rank").cast("long"))
            .withColumn("__ce", F.ceil("__rank").cast("long"))
        )

        # the covering bucket of rank r is the unique one with
        # off ≤ r < off+s; one join finds both covers
        covers = (
            offs.join(F.broadcast(tgt), group)
            .where(
                (
                    (F.col("__off") <= F.col("__fl"))
                    & (F.col("__fl") < F.col("__off") + F.col("__s"))
                )
                | (
                    (F.col("__off") <= F.col("__ce"))
                    & (F.col("__ce") < F.col("__off") + F.col("__s"))
                )
            )
            .select(group, "__pid")
        )
        need_df = covers.distinct()
        # offsets restricted to needed buckets: ≤ 2·G·|ps| rows broadcast,
        # never the full G × nparts table
        off_df = offs.join(need_df, [group, "__pid"], "left_semi").select(
            group, "__pid", "__off"
        )

    # pass 3: only the covering buckets' rows; duplicates collapse first
    p3 = (
        tagged.join(F.broadcast(need_df), [group, "__pid"], "left_semi")
        .groupBy(group, "__pid", col)
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    w = Window.partitionBy(group, "__pid").orderBy(col)
    cum = (
        p3.join(F.broadcast(off_df), [group, "__pid"])
        .withColumn("__hi_rank", F.sum("__c").over(w) + F.col("__off"))
        .withColumn("__lo_rank", F.col("__hi_rank") - F.col("__c"))
    )

    covers_fl = (F.col("__lo_rank") <= F.col("__fl")) & (F.col("__fl") < F.col("__hi_rank"))
    covers_ce = (F.col("__lo_rank") <= F.col("__ce")) & (F.col("__ce") < F.col("__hi_rank"))
    res = (
        cum.join(F.broadcast(tgt), group)
        .where(covers_fl | covers_ce)  # ≤2 rows per (group, p) survive
        .groupBy(group, "__name")
        .agg(
            F.max(F.when(covers_fl, F.col(col))).alias("__v_lo"),
            F.max(F.when(covers_ce, F.col(col))).alias("__v_hi"),
            F.max("__rank").alias("__rank"),
        )
        .withColumn(
            "__val",
            F.col("__v_lo")
            + (F.col("__rank") - F.floor("__rank")) * (F.col("__v_hi") - F.col("__v_lo")),
        )
    )
    return res.groupBy(group).agg(
        *[
            _rnd(F.max(F.when(F.col("__name") == name, F.col("__val")))).alias(name)
            for _, name in ps
        ]
    )


def _literal_pass3(tagged, group, col, ps, _rnd, needed, offs_by_gb, tgt_rows):
    """Targeted pass 3 of grouped_percentiles with ALL rank metadata
    inlined as map literals (driver tier only — every value is a Python
    scalar). One repartition on (group, __pid) feeds both the per-value
    dedup aggregate and the rank window — HashPartitioning(g, pid)
    satisfies ClusteredDistribution for the (g, pid, value) grouping and
    the (g, pid) window alike, so the bucket rows shuffle ONCE. The
    covering/interpolation arithmetic is identical expression-for-
    expression to the frame tier; the final result folds in a single
    groupBy(group) (conditional v_lo/v_hi/rank per target, interpolation
    in the projection) instead of the frame tier's two aggregates."""
    key = F.concat_ws(
        "\x1f", F.col(group).cast("string"), F.col("__pid").cast("string")
    )
    off_pairs = []
    for (g, b), o in sorted(
        offs_by_gb.items(), key=lambda kv: (str(kv[0][0]), kv[0][1])
    ):
        if (g, b) in needed and g is not None:
            off_pairs.append(F.lit(f"{g}\x1f{b}"))
            off_pairs.append(F.lit(int(o)).cast("long"))
    moff = F.create_map(*off_pairs)
    tgt_by_g: dict = {}
    for g, name, rank, fl, ce in tgt_rows:
        if g is None:
            continue
        tgt_by_g.setdefault(g, []).append(
            F.struct(
                F.lit(name).alias("__name"),
                F.lit(float(rank)).alias("__rank"),
                F.lit(int(fl)).cast("long").alias("__fl"),
                F.lit(int(ce)).cast("long").alias("__ce"),
            )
        )
    tgt_pairs = []
    for g in sorted(tgt_by_g, key=str):
        tgt_pairs.append(F.lit(str(g)))
        tgt_pairs.append(F.array(*tgt_by_g[g]))
    mtgt = F.create_map(*tgt_pairs)

    p3 = (
        tagged.where(F.element_at(moff, key).isNotNull())
        .repartition(F.col(group), F.col("__pid"))
        .groupBy(group, "__pid", col)
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    w = Window.partitionBy(group, "__pid").orderBy(col)
    cum = (
        p3.withColumn("__off", F.element_at(moff, key))
        .withColumn("__hi_rank", F.sum("__c").over(w) + F.col("__off"))
        .withColumn("__lo_rank", F.col("__hi_rank") - F.col("__c"))
    )
    exploded = cum.select(
        group, col, "__lo_rank", "__hi_rank",
        F.explode(F.element_at(mtgt, F.col(group).cast("string"))).alias("__t"),
    ).select(
        group, col, "__lo_rank", "__hi_rank",
        F.col("__t.__name").alias("__name"),
        F.col("__t.__rank").alias("__rank"),
        F.col("__t.__fl").alias("__fl"),
        F.col("__t.__ce").alias("__ce"),
    )
    covers_fl = (F.col("__lo_rank") <= F.col("__fl")) & (
        F.col("__fl") < F.col("__hi_rank")
    )
    covers_ce = (F.col("__lo_rank") <= F.col("__ce")) & (
        F.col("__ce") < F.col("__hi_rank")
    )
    is_name = lambda n: F.col("__name") == n
    agg_cols = []
    for _, name in ps:
        agg_cols.append(
            F.max(F.when(is_name(name) & covers_fl, F.col(col))).alias(f"__lo_{name}")
        )
        agg_cols.append(
            F.max(F.when(is_name(name) & covers_ce, F.col(col))).alias(f"__hi_{name}")
        )
        agg_cols.append(
            F.max(F.when(is_name(name), F.col("__rank"))).alias(f"__rk_{name}")
        )
    folded = exploded.where(covers_fl | covers_ce).groupBy(group).agg(*agg_cols)
    out = [
        _rnd(
            F.col(f"__lo_{name}")
            + (F.col(f"__rk_{name}") - F.floor(F.col(f"__rk_{name}")))
            * (F.col(f"__hi_{name}") - F.col(f"__lo_{name}"))
        ).alias(name)
        for _, name in ps
    ]
    return folded.select(group, *out)


def _round_half_up(x: float, nd: int) -> float:
    """F.round / DuckDB ROUND parity: HALF_UP on the shortest decimal
    repr (BigDecimal semantics), not Python's banker's rounding."""
    import decimal

    return float(
        decimal.Decimal(repr(float(x))).quantize(
            decimal.Decimal(1).scaleb(-nd), rounding=decimal.ROUND_HALF_UP
        )
    )


def _quantile_cont(sorted_val_cnt: list, n: int, p: float) -> float:
    """quantile_cont over a sorted (value, count) run-length table."""
    rank = (n - 1) * p
    fl, ce = math.floor(rank), math.ceil(rank)
    v_lo = v_hi = None
    acc = 0
    for v, c in sorted_val_cnt:
        lo, hi = acc, acc + c
        if v_lo is None and lo <= fl < hi:
            v_lo = v
        if v_hi is None and lo <= ce < hi:
            v_hi = v
        if v_lo is not None and v_hi is not None:
            break
        acc = hi
    return v_lo + (rank - fl) * (v_hi - v_lo)


def grouped_mad(
    df: DataFrame,
    group: str,
    col: str,
    round_to: int = 4,
    distinct_bound: int = _DRIVER_META_BOUND,
) -> DataFrame:
    """EXACT grouped (median, median-absolute-deviation) — the robust
    dispersion pair — with a duplicate-collapsing fast path.

    MAD is two dependent quantiles (the deviation values exist only after
    the median is known), so the generic composition is two full
    grouped_percentiles pipelines ≈ 5 scans. But whenever the per-(group,
    value) count table is SMALL — discrete domains (integer quantities,
    prices in cents, ratings), which is where MAD monitors live — both
    quantiles are exactly derivable from that one run-length table: ONE
    distributed pass (partial-agg groupBy, shuffle = G × distinct values),
    then quantile_cont walks per group and the deviation table |v − med|
    re-aggregates driver-side on the same ≤ ``distinct_bound`` rows. The
    limit(+1) probe makes the bound a guarantee (the _DRIVER_META_BOUND
    posture); past it, the operator falls back to the two-pass
    grouped_percentiles composition — unbounded cardinality stays fully
    distributed, nothing ever buffers a group's raw values.
    """
    from pyspark.storagelevel import StorageLevel

    spark = df.sparkSession
    base = df.select(group, col).where(
        F.col(col).isNotNull() & ~F.isnan(F.col(col).cast("double"))
    ).persist(StorageLevel.MEMORY_AND_DISK)
    cnts = base.groupBy(group, col).agg(F.count(F.lit(1)).alias("__c")).persist()
    head = cnts.limit(distinct_bound + 1).collect()
    out_schema = T.StructType([
        df.schema[group],
        T.StructField("med", T.DoubleType()),
        T.StructField("mad", T.DoubleType()),
    ])
    if len(head) <= distinct_bound:
        cnts.unpersist()
        base.unpersist()
        by_g: dict = {}
        for r in head:
            by_g.setdefault(r[group], []).append((float(r[col]), int(r["__c"])))
        rows = []
        for g, pairs in by_g.items():
            pairs.sort()
            n = sum(c for _, c in pairs)
            med = _quantile_cont(pairs, n, 0.5)
            devs: dict = {}
            for v, c in pairs:
                d = abs(v - med)
                devs[d] = devs.get(d, 0) + c
            mad = _quantile_cont(sorted(devs.items()), n, 0.5)
            rows.append((g, _round_half_up(med, round_to), _round_half_up(mad, round_to)))
        return local_frame(spark, rows, out_schema)

    # distributed fallback: the two-pass composition. base is persisted
    # here, and dev is a map-side derivation of it, so both passes run
    # with input_cached=True. cnts is only needed by the fast path — release
    # it as soon as the probe picks this branch.
    cnts.unpersist()
    # inner quantiles UNROUNDED: any inner rounding (even at extra digits)
    # can disagree with the driver fast path's single _round_half_up on
    # boundary values — exactly one rounding happens, at the end, and
    # F.round on doubles is BigDecimal(Double.toString) HALF_UP, the same
    # rule _round_half_up implements.
    lo_hi = base.agg(
        F.min(F.col(col).cast("double")), F.max(F.col(col).cast("double"))
    ).first()
    vmin, vmax = lo_hi[0], lo_hi[1]
    if vmin is None:  # empty input: schema-correct empty result
        base.unpersist()
        return local_frame(spark, [], out_schema)
    med = grouped_percentiles(
        base, group, col, [(0.5, "med")], round_to=None,
        bounds=(vmin, vmax), input_cached=True,
    ).persist()
    dev = base.join(F.broadcast(med), group).select(
        group, F.abs(F.col(col) - F.col("med")).alias("__ad")
    )
    mad = grouped_percentiles(
        dev, group, "__ad", [(0.5, "mad")], round_to=None,
        bounds=(0.0, vmax - vmin), input_cached=True,
    )
    return (
        med.join(mad, group)
        .select(
            group,
            F.round("med", round_to).cast("double").alias("med"),
            F.round("mad", round_to).cast("double").alias("mad"),
        )
    )


# --------------------------------------------------------------------------
# Bucketized weighted/trimmed order statistics (round-11 optimization).
#
# a14/a19's original "didactic" forms shuffle the ENTIRE per-(group, value)
# lattice (~= row cardinality for high-resolution values like prices in
# cents) into G window partitions and run a per-group cumulative sort — at
# sf0.1 that is 594k lattice rows through 3 partitions for a14; at 100 TB it
# is a single-task sort per group, the exact shape grouped_percentiles
# exists to kill. Both statistics only need RANK arithmetic, so the same
# two-pass bucket machinery applies: one (group, bucket) partial aggregate
# (tiny, map-side combined), a driver walk over the ≤ _DRIVER_META_BOUND
# bucket table to locate the covering bucket(s) and their exact row/weight
# offsets, then a targeted pass over covering-bucket rows only, with all
# metadata compiled to map literals (the _literal_pass3 posture: zero
# broadcast-join stages, one shuffle of covering rows). Every quantity is
# int64-exact end to end, so the restructuring is bit-identical to the
# lattice form — both are gated against the DuckDB oracle.


def _bucketed_driver_meta(base, group, col, agg_cols):
    """Shared scaffolding for the bucketized rank operators: bounds pass,
    monotone uniform bucket tag, per-(group, bucket) aggregate, and the
    limit(+1)-probed driver collect. Returns (tagged, head, gdt) where
    head is None when the driver tier is unavailable (over-bound or a
    group dtype whose Python str() does not round-trip through CAST AS
    STRING) — callers then take their distributed lattice fallback.

    ``base`` must already be persisted by the caller: the bounds pass
    materializes the cache and the bucket aggregate + targeted pass read
    it — three scans would otherwise re-run the upstream plan each (the
    grouped_percentiles narrow-cache posture)."""
    spark = base.sparkSession
    nparts = 4 * max(1, spark.sparkContext.defaultParallelism)
    lo_hi = base.agg(
        F.min(F.col(col).cast("double")), F.max(F.col(col).cast("double"))
    ).first()
    vmin, vmax = lo_hi[0], lo_hi[1]
    if vmin is None:
        return None, "empty", None
    if vmax == vmin:
        return None, "constant", None
    step = (vmax - vmin) / nparts
    if step <= 0.0 or not math.isfinite(step):
        step = 1.0
    v = F.col(col).cast("double")
    pid = F.least(
        F.lit(float(nparts - 1)),
        F.greatest(F.lit(0.0), F.floor((v - F.lit(vmin)) / F.lit(step))),
    ).cast("int")
    tagged = base.withColumn("__pid", pid)
    gdt = base.schema[group].dataType.simpleString()
    if gdt not in ("string", "int", "bigint", "smallint", "tinyint"):
        return tagged, None, gdt
    counts = tagged.groupBy(group, "__pid").agg(*agg_cols)
    head = counts.limit(_DRIVER_META_BOUND + 1).collect()
    if len(head) > _DRIVER_META_BOUND:
        return tagged, None, gdt
    return tagged, head, gdt


def _gb_key(group):
    return F.concat_ws(
        "\x1f", F.col(group).cast("string"), F.col("__pid").cast("string")
    )


def _long_map(pairs):
    """create_map from a {str_key: int} dict, long-valued."""
    items = []
    for k in sorted(pairs):
        items.append(F.lit(k))
        items.append(F.lit(int(pairs[k])).cast("long"))
    return F.create_map(*items)


def grouped_weighted_median_lower(
    df: DataFrame, group: str, col: str, weight: str,
    persist_input: bool = False,
) -> DataFrame:
    """EXACT grouped lower weighted median: the smallest ``col`` value v
    with 2·cumweight(v) ≥ totalweight — a14's crossing rule — returned as
    (group, __wmed) in the raw col domain (caller scales/renames).

    Values and weights must be integral (int64-exact rank arithmetic);
    weights must be positive. Fast path: bucket machinery above — one
    (group, bucket) weight aggregate, driver walk to the single covering
    bucket per group, one shuffle of covering rows. Fallback (over-bound
    metadata or non-literal group dtype): the full-lattice cumulative
    window — correct at any cardinality, serialized per group.

    ``persist_input=False`` (default): the three passes re-read the
    upstream plan — the right trade when ``df`` is a trivial projection of
    a columnar scan (guide §5: cache only when recompute beats the memory
    pressure; a column-pruned parquet re-scan is cheaper than writing a
    corpus-sized cache). Pass True when the input is derived/expensive."""
    base = df.select(group, col, weight).where(F.col(col).isNotNull())
    if persist_input:
        from pyspark.storagelevel import StorageLevel

        base = base.persist(StorageLevel.MEMORY_AND_DISK)

    def _lattice():
        agg = base.groupBy(group, col).agg(F.sum(weight).alias("__q"))
        w_cum = (
            Window.partitionBy(group).orderBy(col)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        w_tot = Window.partitionBy(group)
        cum = agg.select(
            group, col,
            F.sum("__q").over(w_cum).alias("__cw"),
            F.sum("__q").over(w_tot).alias("__tw"),
        )
        return (
            cum.filter(2 * F.col("__cw") >= F.col("__tw"))
            .groupBy(group).agg(F.min(col).alias("__wmed"))
        )

    tagged, head, _gdt = _bucketed_driver_meta(
        base, group, col, [F.sum(weight).alias("__w")]
    )
    if head == "empty" or head == "constant":
        # empty: schema-correct empty frame; constant column: the (only)
        # value IS the weighted median of every group
        return base.groupBy(group).agg(F.min(col).alias("__wmed"))
    if head is None:
        return _lattice()

    per_group: dict = {}
    for r in head:
        per_group.setdefault(r[group], {})[r["__pid"]] = int(r["__w"])
    mcov_d: dict = {}
    moff_d: dict = {}
    mtot_d: dict = {}
    for g, d in per_group.items():
        if g is None:
            continue  # null group keys: no covering entry -> rows drop,
            # mirroring the lattice form's groupBy treatment? (nulls DO
            # group in SQL) — callers guarantee non-null groups; nulls
            # would need the lattice path
        tot = sum(d.values())
        acc = 0
        for b in sorted(d):
            if 2 * (acc + d[b]) >= tot:
                mcov_d[str(g)] = b
                moff_d[str(g)] = acc
                mtot_d[str(g)] = tot
                break
            acc += d[b]
    if any(g is None for g in per_group):
        return _lattice()  # preserve null-group semantics exactly
    if len(mcov_d) > _LITERAL_META_BOUND:
        return _lattice()
    mcov = _long_map(mcov_d)
    moff = _long_map(moff_d)
    mtot = _long_map(mtot_d)
    gstr = F.col(group).cast("string")
    p3 = (
        tagged.where(F.element_at(mcov, gstr) == F.col("__pid"))
        .repartition(F.col(group))
        .groupBy(group, col)
        .agg(F.sum(weight).alias("__q"))
    )
    w = (
        Window.partitionBy(group).orderBy(col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = p3.withColumn(
        "__cw", F.sum("__q").over(w) + F.element_at(moff, gstr)
    )
    return (
        cum.filter(2 * F.col("__cw") >= F.element_at(mtot, gstr))
        .groupBy(group).agg(F.min(col).alias("__wmed"))
    )


def grouped_trimmed_sums(
    df: DataFrame, group: str, col: str, trim_num: int, trim_den: int,
    persist_input: bool = False,
) -> DataFrame:
    """EXACT per-group trimmed-sum bookkeeping for a19: returns
    (group, __n, __s, __k, __cut_lo, __cut_hi) — row count, value sum,
    k = n·trim_num div trim_den, and the exact sums of the k smallest /
    k largest ROWS (partial-tie corrected), all int64.

    Fast path: (group, bucket) aggregate carries (row count, value sum);
    the driver walk locates the low/high covering buckets and their exact
    row offsets and full below/above-bucket sums; only covering-bucket
    rows take the targeted pass (both tails in ONE shuffle + window).
    Fallback: the full-lattice prefix-window composition.
    ``persist_input`` as in grouped_weighted_median_lower."""
    base = df.select(group, col).where(F.col(col).isNotNull())
    if persist_input:
        from pyspark.storagelevel import StorageLevel

        base = base.persist(StorageLevel.MEMORY_AND_DISK)
    kexpr = F.expr(f"__n * {int(trim_num)} div {int(trim_den)}")

    def _lattice():
        lat = base.groupBy(group, col).agg(F.count(F.lit(1)).alias("__c"))
        wprev = (
            Window.partitionBy(group).orderBy(col)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        wall = Window.partitionBy(group)
        cum = lat.select(
            group, col, "__c",
            F.coalesce(F.sum("__c").over(wprev), F.lit(0)).alias("__below"),
            F.sum("__c").over(wall).alias("__n"),
            F.sum(F.col("__c") * F.col(col)).over(wall).alias("__s"),
        ).withColumn("__k", kexpr)
        above = F.col("__n") - (F.col("__below") + F.col("__c"))
        cv = F.col("__c") * F.col(col)
        lo = (
            F.when(F.col("__below") + F.col("__c") <= F.col("__k"), cv)
            .when(F.col("__below") < F.col("__k"),
                  (F.col("__k") - F.col("__below")) * F.col(col))
            .otherwise(F.lit(0))
        )
        hi = (
            F.when(above + F.col("__c") <= F.col("__k"), cv)
            .when(above < F.col("__k"), (F.col("__k") - above) * F.col(col))
            .otherwise(F.lit(0))
        )
        return cum.groupBy(group).agg(
            F.max("__n").alias("__n"), F.max("__s").alias("__s"),
            F.max("__k").alias("__k"),
            F.sum(lo).alias("__cut_lo"), F.sum(hi).alias("__cut_hi"),
        )

    tagged, head, _gdt = _bucketed_driver_meta(
        base, group, col,
        [F.count(F.lit(1)).alias("__c"), F.sum(col).alias("__s")],
    )
    if head == "empty":
        return base.groupBy(group).agg(
            F.count(F.lit(1)).alias("__n"), F.sum(col).alias("__s"),
            F.lit(0).cast("long").alias("__k"),
            F.lit(0).cast("long").alias("__cut_lo"),
            F.lit(0).cast("long").alias("__cut_hi"),
        )
    if head == "constant":
        # single distinct value v per the whole column: each tail trims
        # exactly k copies of v
        return (
            base.groupBy(group)
            .agg(F.count(F.lit(1)).alias("__n"), F.sum(col).alias("__s"),
                 F.min(col).alias("__v"))
            .withColumn("__k", kexpr)
            .select(
                group, "__n", "__s", "__k",
                (F.col("__k") * F.col("__v")).cast("long").alias("__cut_lo"),
                (F.col("__k") * F.col("__v")).cast("long").alias("__cut_hi"),
            )
        )
    if head is None:
        return _lattice()

    per_group: dict = {}
    for r in head:
        per_group.setdefault(r[group], {})[r["__pid"]] = (
            int(r["__c"]), int(r["__s"])
        )
    if any(g is None for g in per_group):
        return _lattice()
    moff_d: dict = {}   # "g\x1fpid" -> row offset below that bucket
    mlo_d: dict = {}    # "g" -> low covering bucket pid
    mhi_d: dict = {}    # "g" -> high covering bucket pid
    mn_d: dict = {}
    ms_d: dict = {}
    mk_d: dict = {}
    mfull_lo_d: dict = {}
    mfull_hi_d: dict = {}
    for g, d in per_group.items():
        buckets = sorted(d)
        n = sum(c for c, _ in d.values())
        s = sum(sv for _, sv in d.values())
        k = n * int(trim_num) // int(trim_den)
        gk = str(g)
        mn_d[gk], ms_d[gk], mk_d[gk] = n, s, k
        # low covering bucket: first b with cumN >= k (k=0 -> first
        # bucket, whose rows all evaluate to 0 contribution but keep the
        # group present in the targeted pass)
        acc_n, acc_s = 0, 0
        bl = buckets[0]
        for b in buckets:
            c_b, s_b = d[b]
            if acc_n + c_b >= k:
                bl = b
                break
            acc_n += c_b
            acc_s += s_b
        mlo_d[gk] = bl
        mfull_lo_d[gk] = acc_s
        off_lo = acc_n
        # high covering bucket, mirrored from the top
        acc_n2, acc_s2 = 0, 0
        bh = buckets[-1]
        for b in reversed(buckets):
            c_b, s_b = d[b]
            if acc_n2 + c_b >= k:
                bh = b
                break
            acc_n2 += c_b
            acc_s2 += s_b
        mhi_d[gk] = bh
        mfull_hi_d[gk] = acc_s2
        # row offsets below each covering bucket (below-offset for bh is
        # n - rows-above-bh - rows-in-bh)
        moff_d[f"{gk}\x1f{bl}"] = off_lo
        moff_d[f"{gk}\x1f{bh}"] = n - acc_n2 - d[bh][0]
    if len(moff_d) > _LITERAL_META_BOUND:
        return _lattice()
    moff = _long_map(moff_d)
    mlo = _long_map(mlo_d)
    mhi = _long_map(mhi_d)
    mn = _long_map(mn_d)
    ms = _long_map(ms_d)
    mk = _long_map(mk_d)
    mfl = _long_map(mfull_lo_d)
    mfh = _long_map(mfull_hi_d)
    gstr = F.col(group).cast("string")
    key = _gb_key(group)
    p3 = (
        tagged.where(F.element_at(moff, key).isNotNull())
        .repartition(F.col(group), F.col("__pid"))
        .groupBy(group, "__pid", col)
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    wprev = (
        Window.partitionBy(group, "__pid").orderBy(col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = p3.select(
        group, "__pid", col, "__c",
        (F.coalesce(F.sum("__c").over(wprev), F.lit(0))
         + F.element_at(moff, key)).alias("__below"),
        F.element_at(mn, gstr).alias("__n"),
        F.element_at(mk, gstr).alias("__k"),
    )
    above = F.col("__n") - (F.col("__below") + F.col("__c"))
    cv = F.col("__c") * F.col(col)
    in_lo = F.element_at(mlo, gstr) == F.col("__pid")
    in_hi = F.element_at(mhi, gstr) == F.col("__pid")
    lo = F.when(
        in_lo,
        F.when(F.col("__below") + F.col("__c") <= F.col("__k"), cv)
        .when(F.col("__below") < F.col("__k"),
              (F.col("__k") - F.col("__below")) * F.col(col))
        .otherwise(F.lit(0)),
    ).otherwise(F.lit(0))
    hi = F.when(
        in_hi,
        F.when(above + F.col("__c") <= F.col("__k"), cv)
        .when(above < F.col("__k"), (F.col("__k") - above) * F.col(col))
        .otherwise(F.lit(0)),
    ).otherwise(F.lit(0))
    return (
        cum.groupBy(group)
        .agg(F.sum(lo).alias("__plo"), F.sum(hi).alias("__phi"))
        .select(
            group,
            F.element_at(mn, gstr).alias("__n"),
            F.element_at(ms, gstr).alias("__s"),
            F.element_at(mk, gstr).alias("__k"),
            (F.element_at(mfl, gstr) + F.col("__plo")).alias("__cut_lo"),
            (F.element_at(mfh, gstr) + F.col("__phi")).alias("__cut_hi"),
        )
    )
