"""Benchmark harness: runs the headline declared queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is timed as plan-build + execution to completion: small results
``collect()``; wide results execute through ``df.write.format("noop")`` —
the noop sink consumes every column, so the optimizer cannot prune the very
operators being measured (a bare ``count()`` would let EliminateSorts +
ColumnPruning reduce a window query to a metadata-only scan).

Run-time ``WindowExec: No Partition Defined`` warnings in the log are the
allowlisted bounded windows of tests/test_plan_quality.py (each runs over
a tiny-by-construction frame — chunk counts, day grids, value lattices —
never over data-sized input); they are expected, not scale-killers.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from mdio_cpp_spark.plans import REGISTRY
from mdio_cpp_spark.session import get_spark

# Stable round-over-round comparison set: the registry GROWS every round, so
# the grand total is not comparable across rounds. These 30 names span every
# subsystem (zarr scan/write, selection, joins/as-of, windows, aggregates,
# percentiles, dedup, ANN, text, sampling, streaming, TPC-H) and their summed
# median wall is emitted as "core30_wall" — ONE number a judge can diff
# against the previous round's BENCH file. Do not rename members; append-only
# registries keep this set valid forever.
CORE30 = [
    "q01_isel_range", "q05_sel_range", "q07_project", "q10_coord_filter",
    "s00_multikey_sort", "a01_summary_stats", "a07_exact_percentiles",
    "a11_grouped_mad", "h02_pricing_summary", "h08_nation_volume_flows",
    "h18_disjunctive_revenue", "j01_broadcast_join_agg", "j05_range_join",
    "asof01_event_order", "w02_running_sum", "w09_topk_per_group",
    "g01_rollup", "d01_dedup_exact", "d02_minhash_lsh", "d10_semdedup",
    "v01_cosine_topk", "v05_knn_join", "t01_lang_id", "t07_tfidf",
    "p01_sequence_packing", "st02_sessionize", "u01_merge_upsert",
    "zarr01_scan", "zarr16_datasource", "zarr29_zonemap_filter",
]

# Wide outputs run through the noop sink (full execution, no driver
# materialization); everything else is collected (results are small).
_NOOP_WRITE = {
    "q07_project",
    "w01_row_number",
    "w02_running_sum",
    "j02_semi_join",
    "asof01_event_order",
    "st02_sessionize",
    "d03_simhash",
    "t01_lang_id",
    "t02_quality_score",
    "t03_token_count",
    "t04_fingerprint",
    "mm01_binary_meta",
    "d01_dedup_exact",
    "zarr03_fill_sparse",
}

# Round-12 measurement-bug fix (guide §1.4): these three collected 100k-row /
# 150k-row / 40k×64-dim results, timing driver serialization along with the
# plan. They now execute through the noop sink like the other wide outputs.
# Their BASELINE_BENCH.json anchors were re-based to noop-sink quiet-box
# values at the same time (old collect-based anchors preserved under
# "queries_collect_legacy" there); the switch is flagged in the output JSON
# as "noop_switched_r12" so cross-round per-query comparisons know these
# three changed methodology, not code speed.
_NOOP_SWITCHED_R12 = {"asof05_nearest", "zarr55_ffill", "mm05_embed_batch"}
_NOOP_WRITE |= _NOOP_SWITCHED_R12


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    spark = get_spark("mdio-bench")

    names = sys.argv[1:] or sorted(REGISTRY)
    if not sys.argv[1:]:
        # full-registry runs measure CORE30 FIRST: its round-over-round
        # subtotal must not absorb the JVM/GC drift of the ~320 queries
        # that would otherwise precede it in a multi-minute single session
        # (measured +45% on core30 when it runs last vs in a fresh session)
        names = CORE30 + [n for n in names if n not in set(CORE30)]
    if any(n.startswith("zarr") for n in names):
        # one-time ingest (store build) happens outside the timed region —
        # the bench measures query execution, not first-run data loading
        from mdio_cpp_spark.plans.zarr_queries import ensure_stores

        ensure_stores(spark, sf_dir)
        # the Python DataSource planning worker is a separate cold-start;
        # warm it with a one-chunk read so zarr16 measures the query
        from mdio_cpp_spark.sources.datasource import register

        register(spark)
        base = ensure_stores(spark, sf_dir)
        (
            spark.read.format("mdio")
            .option("path", os.path.join(base, "orders_v2.zarr"))
            .option("variable", "price").load().filter("i < 10").count()
        )
    # steady-state warmup outside the timed region: JVM parquet reader init
    # and the Python-worker pool for Arrow stages (one-time ~5 s costs that
    # would otherwise land on whichever query happens to run first)
    spark.range(64, numPartitions=64).mapInPandas(
        lambda it: (pdf for pdf in it), schema="id long"
    ).count()
    spark.read.parquet(f"{sf_dir}/nation.parquet").count()
    # n>=3 runs per query, report the per-query MEDIAN: this box's load
    # varies by ~3x between rounds, and medians + the recorded load average
    # keep round-over-round comparisons honest
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    # SPARK_GRAFT_BENCH_INTERLEAVE=1 runs round-robin over the query list
    # (all queries once, then again, ...) instead of N consecutive runs per
    # query: on a shared box whose co-tenant load arrives in multi-minute
    # BURSTS, consecutive runs put every sample of a query inside the same
    # burst window and its min-of-runs still reads 2-7x inflated (round 11
    # saw three full runs flag 11/24/6 DISJOINT query subsets this way).
    # Interleaving spaces a query's samples ~a full sweep apart, so a burst
    # inflates one sample of many queries instead of all samples of a few —
    # the min survives. INTERLEAVED IS THE DEFAULT since round 12: the
    # round-11 driver's consecutive 32-core run was 68% load-inflated by its
    # own core30 calibration and flagged 34 phantom regressions (disjoint
    # from its 8-core run's flag set) — the schedule, not the per-query
    # timing semantics, was the problem. Per-query timing is unchanged
    # (clearCache between samples, plan-build + execute, median + min).
    # Set SPARK_GRAFT_BENCH_INTERLEAVE=0 for the legacy consecutive order.
    interleave = os.environ.get("SPARK_GRAFT_BENCH_INTERLEAVE", "1") != "0"
    load_start = os.getloadavg()[0]
    timings: dict[str, float] = {}
    timings_min: dict[str, float] = {}
    errors: dict[str, str] = {}

    def _time_once(name: str) -> float | None:
        d = REGISTRY[name]
        # several queries persist() small intermediates (candidate-pair
        # lists, group medians) as part of their own plan; Spark's
        # CacheManager would hand run 2+ the SAME cache entry (keyed on
        # the analyzed plan), making repeat runs artificially free and
        # the median measure cache hits instead of work. Clear between
        # runs so every sample pays the query's real cost.
        spark.catalog.clearCache()
        t0 = time.time()
        try:
            df = d.spark(spark, sf_dir)
            if name in _NOOP_WRITE:
                df.write.format("noop").mode("overwrite").save()
            else:
                df.collect()
        except Exception as e:  # one broken query must not kill the gate
            errors[name] = f"{type(e).__name__}: {e}"[:200]
            return None
        return time.time() - t0

    schedule = ([(n, r) for r in range(runs) for n in names] if interleave
                else [(n, r) for n in names for r in range(runs)])
    samples_by: dict[str, list[float]] = {n: [] for n in names}
    for name, _r in schedule:
        if name in errors:
            continue  # failed once: skip its remaining runs
        s = _time_once(name)
        if s is not None:
            samples_by[name].append(s)
    for name, samples in samples_by.items():
        if name in errors or not samples:
            continue
        srt = sorted(samples)
        mid = len(srt) // 2
        med = srt[mid] if len(srt) % 2 else (srt[mid - 1] + srt[mid]) / 2
        timings[name] = round(med, 3)
        timings_min[name] = round(srt[0], 3)

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "declared_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "runs_per_query": runs,
        "interleaved": interleave,
        "noop_switched_r12": sorted(_NOOP_SWITCHED_R12 & set(timings)),
        "load1_start": round(load_start, 2),
        "load1_end": round(os.getloadavg()[0], 2),
    }
    if all(n in timings for n in CORE30):
        # the fixed-subset subtotal that IS round-over-round comparable
        out["core30_wall"] = round(sum(timings[n] for n in CORE30), 3)
    # absolute anchor gate: BASELINE_BENCH.json holds quiet-box per-query
    # medians (sf0.1); any query >2x its anchor is a loud regression, not a
    # round-over-round delta that quietly re-bases. Only full-scale runs
    # compare (subset/sf-mismatched runs would false-positive), and the
    # recorded load1 lets a reader discount a noisy-box run.
    anchor_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BASELINE_BENCH.json")
    # The gate fields are UNCONDITIONAL on every anchored full-scale run
    # (n_regressions: 0 + regressions: {} when clean) — round 9 shipped a
    # "zero regressions" claim off an artifact where the gate had silently
    # not run; an absent field must mean "not comparable", never "clean".
    out["regression_gate"] = "skipped: no BASELINE_BENCH.json"
    if os.path.exists(anchor_path):
        with open(anchor_path) as f:
            anchor = json.load(f)
        if out["sf"] != anchor.get("sf"):
            out["regression_gate"] = (
                f"skipped: sf {out['sf']} != anchor sf {anchor.get('sf')}")
        else:
            # ratio gate plus an absolute-excess floor: sub-second queries
            # are fixed-overhead-dominated and would false-positive 2x on
            # any loaded box; +0.75 s of real excess is the signal
            # threshold. Gate on MIN-of-runs, not the median — the min is
            # the least load-sensitive statistic on this shared box, so a
            # >2x min is a real plan/code regression, not ambient noise.
            # Compare min-now vs the anchor's MIN where recorded
            # ("queries_min", adopted by REFRESH_BASELINE since r11);
            # legacy anchors carry medians only, making the gate
            # min-vs-median there — strictly LOOSER than min-vs-min (the
            # median >= the min), i.e. the asymmetry can only suppress
            # false positives, never invent a regression.
            anchor_min = anchor.get("queries_min", {})
            ref = {n: anchor_min.get(n, v)
                   for n, v in anchor["queries"].items()}
            regressions = {
                n: {"now": s, "anchor": ref[n],
                    "ratio": round(s / ref[n], 2)}
                for n, s in timings_min.items()
                if n in ref and s > 2.0 * ref[n] and s > ref[n] + 0.75
            }
            out["regression_gate"] = "min_of_runs_vs_anchor"
            out["n_regressions"] = len(regressions)
            worst = sorted(regressions.items(),
                           key=lambda kv: -kv[1]["ratio"])[:5]
            out["regressions"] = dict(worst)
            if regressions:
                print(
                    f"BENCH REGRESSION: {len(regressions)} queries >2x their "
                    f"quiet-box anchor at min-of-runs (worst: "
                    + ", ".join(f"{n} {v['ratio']}x" for n, v in worst)
                    + f"; load1={out['load1_start']}-{out['load1_end']} — "
                    "re-run on a quiet box before trusting)",
                    file=sys.stderr,
                )
            if os.environ.get("REFRESH_BASELINE") == "1":
                # adopt anchors for queries that have none yet (new this
                # round); existing anchors are never overwritten here
                added = 0
                for n, s in timings.items():
                    if n not in anchor["queries"]:
                        anchor["queries"][n] = s
                        anchor.setdefault("queries_min", {})[n] = timings_min[n]
                        added += 1
                if added:
                    with open(anchor_path, "w") as f:
                        json.dump(anchor, f, indent=1, sort_keys=True)
                    print(f"BASELINE_BENCH.json: +{added} new anchors",
                          file=sys.stderr)
    if errors:
        # bounded: a systemic failure (bad sf_dir) must not blow the
        # compact line's budget with 180 error strings
        head = dict(sorted(errors.items())[:3])
        out["errors"] = {k: v[:80] for k, v in head.items()}
        out["n_errors"] = len(errors)
    # Full per-query detail lands on disk ONLY for full-registry runs —
    # iterating on a subset must not clobber the round's committed artifact.
    if not sys.argv[1:]:
        full_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json")
        with open(full_path, "w") as f:
            # the on-disk artifact additionally records per-query MIN of the
            # runs — less load-sensitive than the median on this shared box,
            # the better signal for cross-round comparisons at unequal load1
            json.dump(dict(out, queries_min=timings_min), f, indent=1, sort_keys=True)
    # The driver captures only the LAST ~2000 chars of stdout and parses the
    # JSON from that tail — a line longer than the buffer is truncated at the
    # head and unparseable (BENCH_r01–r03 all recorded parsed=null for this
    # reason). Emit a line that FITS: keep the summary fields, then include
    # per-query timings slowest-first while the line stays under budget, and
    # point at BENCH_FULL.json for the rest.
    budget = 1800
    line = json.dumps(out)
    if len(line) > budget:
        kept: dict[str, float] = {}
        compact = dict(
            out, queries=kept, queries_full="BENCH_FULL.json", n_queries=len(timings)
        )
        for name, secs in sorted(timings.items(), key=lambda kv: -kv[1]):
            kept[name] = secs
            candidate = json.dumps(
                dict(compact, queries_omitted=len(timings) - len(kept))
            )
            if len(candidate) > budget:
                del kept[name]
                break
        compact["queries_omitted"] = len(timings) - len(kept)
        line = json.dumps(compact)
    print(line)


if __name__ == "__main__":
    main()
