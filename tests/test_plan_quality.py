"""Structural plan-quality gate over the ENTIRE declared-query registry:
no query may plan a single-partition (global) window over data — the
classic silent scale-killer. Global output sorts are fine (range
partitioned); windows must be hash-partitioned.

A Window line in the executed-plan string prints as
``Window [exprs], [partitionSpec], [orderSpec]`` when partitioned and
``Window [exprs], [orderSpec]`` when global — we count the top-level
bracket separators. A partitioned window with NO ordering (e.g. an
unbounded ``SUM OVER (PARTITION BY k)``) also prints two brackets, but
its trailing spec holds partition exprs, not ``ASC``/``DESC`` sort
orders — that shape is hash-partitioned and fine.

Every global window of every query is judged on its own. It is bounded
by shape when

1. its only output is ``operators.prefix.CARRY``: the carry of
   ``bucketed_prefix``, whose input is one row per bucket; or
2. going down through Sort, ``Exchange SinglePartition`` and Project
   reaches a ``TakeOrderedAndProject``: the limit bounds its input.

Any other global window needs a ``_BOUNDED_WINDOWS`` entry naming its
query, its order columns and why its input is small; an entry that
matches no window fails. A window over an aggregate keyed on its own
order column is deliberately not accepted by shape: a per-user aggregate
followed by a global rank has exactly that shape and is data-sized.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from mdio_cpp_spark.operators.prefix import CARRY, bucketed_prefix
from mdio_cpp_spark.plans import REGISTRY

# (query, order columns) -> why that global window's input is bounded
_BOUNDED_WINDOWS = {
    ("ml14_decision_stump", ("x",)): "prefix sums over the ≤50-value feature lattice",
    ("ml15_pr_curve", ("cc",)): "suffix sums over the 6dp-score count lattice",
    ("ev19_survival_km", ("t",)): "KM cumulation over the |durations|-hour lifetime grid",
    ("zarr86_hist_equalize", ("bin",)): "CDF cumulation over the 64-bin histogram",
    ("w15_rolling_corr", ("day",)): "rolling frame over the |days|-row per-day aggregate",
    ("zarr73_threshold_runs", ("i",)): "island rank over the sparse threshold-hit set",
    ("asof05_nearest", ("__b",)): "asof_nearest_us's carry over one row per time bucket",
}

_PASS_THROUGH = ("Sort ", "Exchange SinglePartition", "Project ")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _judge(plan: str, entries: set[tuple[str, ...]]):
    """(global windows neither bounded by shape nor in ``entries``,
    entries that matched no window) for one executed-plan string."""
    lines = [line.strip().lstrip("+-: ").strip() for line in plan.splitlines()]
    bad, used = [], set()
    for i, s in enumerate(lines):
        if not s.startswith("Window ") or s.count("], [") >= 2:
            continue
        tail = s.rsplit("], [", 1)[-1] if "], [" in s else ""
        # two-bracket form: global IFF the trailing spec is a sort order
        # (ASC/DESC); partition exprs there mean partitioned-unordered.
        if "], [" in s and " ASC" not in tail and " DESC" not in tail:
            continue
        if set(re.findall(r" AS (\w+)#\d+", s)) == {CARRY}:
            continue
        below = next((t for t in lines[i + 1:] if not t.startswith(_PASS_THROUGH)), "")
        if below.startswith("TakeOrderedAndProject"):
            continue
        order = tuple(re.findall(r"([\w$.]+)#\d+L? (?:ASC|DESC)", tail))
        if order in entries:
            used.add(order)
        else:
            bad.append(s)
    return bad, entries - used


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_no_global_window(name, spark, sf_dir):
    plan = _plan(REGISTRY[name].spark(spark, sf_dir))
    # a CartesianProduct (both sides data-sized, no key) is never acceptable
    # in a declared plan — broadcast nested loops over bounded sides print
    # as BroadcastNestedLoopJoin and are fine
    assert "CartesianProduct" not in plan, f"{name} plans a CartesianProduct"
    bad, stale = _judge(plan, {o for q, o in _BOUNDED_WINDOWS if q == name})
    assert not bad, f"{name} plans a global window:\n" + "\n".join(bad)
    assert not stale, f"{name}: _BOUNDED_WINDOWS entries match no window: {stale}"


def test_gate_rejects_data_sized_window_beside_a_carry(spark):
    """A global rank over a per-key aggregate next to an operator carry:
    the carry passes, the rank does not (a16's shape before _zip_index)."""
    per_key = spark.range(1000).groupBy((F.col("id") % 97).alias("k")).count()
    ranked = bucketed_prefix(
        per_key.withColumn("b", F.col("k") % 4), "pos", "count", buckets=["b"], order=["k"]
    ).withColumn("r", F.row_number().over(Window.orderBy("count", "k")))
    plan = _plan(ranked)
    assert CARRY in plan
    bad, _ = _judge(plan, set())
    assert len(bad) == 1 and "row_number()" in bad[0], bad


def test_gate_accepts_window_over_take_ordered(spark):
    top = spark.range(1000).orderBy(F.col("id").desc()).limit(10)
    plan = _plan(top.withColumn("r", F.row_number().over(Window.orderBy(F.col("id").desc()))))
    assert _judge(plan, set()) == ([], set())


def test_gate_fails_an_entry_that_matches_nothing(spark):
    plan = _plan(spark.range(10).withColumn("r", F.lit(1)))
    assert _judge(plan, {("x",)}) == ([], {("x",)})


# targeted physical-plan contracts: the property each plan exists to
# demonstrate must actually appear in the executed plan, so a regression
# (lost pushdown, join strategy flip, global sort sneaking in) fails CI
# instead of silently degrading
_PLAN_CONTRACTS = {
    "q01_isel_range": ["PushedFilters: [IsNotNull(l_orderkey), GreaterThanOrEqual(l_orderkey,100)"],
    "h01_shipping_priority": ["TakeOrderedAndProject", "BroadcastHashJoin"],
    "h05_revenue_forecast": ["PushedFilters: [IsNotNull(l_shipdate)"],
    "j01_broadcast_join_agg": ["BroadcastHashJoin"],
    "j02_semi_join": ["LeftSemi"],
    "j03_anti_join": ["LeftAnti"],
    "u02_scd2_history": ["BroadcastHashJoin"],
    "h20_sole_returning_supplier": ["HashAggregate"],
    # ts03: tick->bar OHLC must stay a pure aggregate — open/close via
    # min_by/max_by pairs, never a sorted window over ticks
    "ts03_ohlc_downsample": ["min_by", "max_by"],
    "d16_fuzzy_split_leakage": ["BroadcastHashJoin", "LeftSemi"],
    # u08: the merge-on-read probe must stay a broadcast anti join — the
    # base table never shuffles; a flip to SortMergeJoin would mean the
    # 100-TB side started exchanging
    "u08_deletion_vectors": ["BroadcastHashJoin", "LeftAnti"],
    # t27: the winner list is a distributed top-k, never a global sort
    "t27_bpe_merge_step": ["TakeOrderedAndProject"],
    # d18: the delta's band keys broadcast onto the base — the base-side
    # band table must never exchange for the join
    "d18_incremental_minhash": ["BroadcastHashJoin"],
    "ev17_seasonal_anomaly": ["BroadcastHashJoin"],
    # u06: the target must stream through a broadcast semi prune — never be
    # the build side of the old-value fetch
    "u06_incremental_agg": ["LeftSemi, BuildRight"],
    # zarr105: the trig basis must be the broadcast build side of the scan
    # fan-out — the scan never shuffles before the (row, k) reduce
    "zarr105_dft_spectrum": ["BroadcastHashJoin"],
    # p20: the tokenised feature stream is persisted, so the corpus is
    # featurised once and both consumers read the cache
    "p20_dsir_resample": ["InMemoryTableScan"],
}

# shapes that must stay OUT of the executed plan
_PLAN_ABSENT = {
    # d17/p18: repeated hashes come from a window partitioned by the hash,
    # not an aggregate plus a semi back-join over a second corpus pass
    "d17_substring_spans": ["LeftSemi"],
    "p18_boilerplate_strip": ["LeftSemi"],
}


@pytest.mark.parametrize("name", sorted(set(_PLAN_CONTRACTS) | set(_PLAN_ABSENT)))
def test_plan_contract(name, spark, sf_dir):
    plan = _plan(REGISTRY[name].spark(spark, sf_dir))
    for needle in _PLAN_CONTRACTS.get(name, []):
        assert needle in plan, f"{name}: expected {needle!r} in the executed plan"
    for needle in _PLAN_ABSENT.get(name, []):
        assert needle not in plan, f"{name}: {needle!r} must not be in the executed plan"


def test_zarr40_shift_roll_zero_shuffle(spark, sf_dir):
    """The shift/roll remap must stay shuffle-free: the ONLY exchange in
    the plan is the gate's output range-sort."""
    plan = _plan(REGISTRY["zarr40_shift_roll"].spark(spark, sf_dir))
    exchanges = [l for l in plan.splitlines() if "Exchange" in l]
    # pre-execution AQE plans may elide the output-sort exchange entirely;
    # what must NEVER appear is a hash (data-shuffling) exchange
    assert len(exchanges) <= 1, exchanges
    assert all("hashpartitioning" not in l for l in exchanges), exchanges
