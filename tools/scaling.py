"""Generate SCALING.md: wall-time scaling sweep of representative declared
queries across the three driver scale factors (sf0.001 / sf0.01 / sf0.1 —
100× data growth end-to-end), demonstrating that plan shapes amortize:
time growth far below data growth means fixed overhead + parallel scans,
not per-row driver work. Regenerate with `python tools/scaling.py`.
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, "/root/repo")

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]

PICKS = [
    ("q01_isel_range", "pruned parquet range scan"),
    ("h02_pricing_summary", "full-scan fixed-point aggregate"),
    ("h03_local_supplier_volume", "six-way broadcast join"),
    ("d02_minhash_lsh", "MinHash+LSH dedup (heaviest map work)"),
    ("v05_knn_join", "all-pairs kNN bucket self-join (density-adaptive planes)"),
    ("t07_tfidf", "two-level tf/df aggregation"),
    ("zarr01_scan", "pruned zarr chunk scan"),
    ("a07_exact_percentiles", "distributed exact percentiles"),
    ("u01_merge_upsert", "CDC merge, broadcast strategy (target never shuffles)"),
    ("ts01_resample_locf", "per-key resample + LOCF gap fill"),
    ("h20_sole_returning_supplier", "Q21 shape: per-order agg replaces EXISTS self-joins"),
    ("h22_nation_profit", "Q9 shape: part-pruned fact join + profit rollup"),
    ("ev02_cohort_retention", "event cohort matrix (distinct-first collapse)"),
    ("zarr53_dsv2_multivar_fused", "fused multi-variable DSv2 read (join-free alignment)"),
    ("zarr55_ffill", "chunk-bucketed LOCF gap fill over a stored series"),
    ("u02_scd2_history", "SCD2 dimension versioning (dimension never shuffles)"),
    ("zarr40_shift_roll", "zero-shuffle stored-array shift/roll remap"),
    ("zarr63_trend_axis", "bit-exact per-axis OLS trend (4 longs per key)"),
    ("asof05_nearest", "nearest as-of: backward + forward mirrored passes"),
    ("v09_stored_ivf", "ANN served from a store-persisted IVF index"),
    ("p12_dataset_card", "per-source datasheet in one aggregate pass"),
    ("zarr67_where_update", "masked write-back (pushdown scan + chunk RMW)"),
    ("ga02_triangle_count", "triangle census on the persisted top-edge set"),
    ("zarr90_cube_scan", "rank-3 chunk-box-pruned sub-volume extraction"),
    ("zarr100_processing_line", "fused mute -> NMO -> stack, one plan"),
    ("v12_pq_adc", "PQ asymmetric-distance search over stored codes"),
    ("mm09_shard_plan", "byte-offset shard packing (two-level prefix sum)"),
    ("d14_minhash_estimate_audit", "estimator audit off one shared minhash pass"),
    ("ts03_ohlc_downsample", "tick->bar OHLC compaction (min_by/max_by, no window)"),
    ("ml09_naive_bayes", "in-engine NB train + classify (quantized integer scores)"),
    ("w16_max_drawdown", "stacked running windows on per-day aggregates"),
    ("a11_grouped_mad", "grouped MAD via duplicate-collapsing run-length table"),
    ("ev16_concurrency_sweep", "sweep-line pairwise overlap (no pair materialization)"),
    ("u06_incremental_agg", "delta-maintained aggregate (broadcast semi prune)"),
    ("zarr105_dft_spectrum", "integer-quantized DFT over stored traces"),
    ("d16_fuzzy_split_leakage", "cross-split LSH candidates + exact verify"),
    ("ga05_label_prop_step", "label-prop step: one groupBy(src) over mirrored edges"),
    ("p18_boilerplate_strip", "block-hash strip: min/max window over the block hash"),
    ("zarr112_sharded_lz4_pushdown", "sharded + compressed + DSv2 pushdown partial reads"),
    ("zarr114_reshard_struct", "struct reshard migration + SelectField pruned scan"),
    ("segy01_ingest", "SEG-Y trace-parallel ingest -> cube -> pruned isel box"),
    ("t26_bm25", "BM25 top-k: term-filtered tf + broadcast idf/corpus stats"),
    ("v16_hybrid_rrf", "RRF fusion: outer join of two distributed top-R lists"),
    ("d17_substring_spans", "sliding-window duplicated spans (hash-only shuffle)"),
    ("segy06_rev2_le", "SEG-Y rev2 little-endian DSv2 scan + exact rollup"),
    ("p19_shard_manifest", "export manifest: one map-side-combined scan, 8-key exchange"),
    ("t28_bpe_train", "BPE training loop: vocab-sized per step, 1-row winners"),
    ("t29_bpe_fertility", "BPE apply: per-lang fertility off the segmented vocab"),
    ("u08_deletion_vectors", "merge-on-read DV probe (broadcast anti, base never shuffles)"),
    ("d18_incremental_minhash", "delta-vs-base near-dup (delta bands broadcast)"),
    ("zarr115_resize_append", "metadata-only grow + boundary-chunk RMW append"),
    ("zarr116_multiscale", "overview routed to the stored pyramid level (4x fewer GETs)"),
    ("p20_dsir_resample", "DSIR: one cached feature pass + 256-row broadcast log-ratio model"),
    ("p21_perplexity_buckets", "CCNet bands: LM scoring join + value-lattice cum window"),
    ("t31_kneser_ney", "KN bigram LM: all model stats off the vocab-sized type table"),
    ("t30_c4_filters", "C4 rule audit: one scan, 8 counters per source"),
    ("v18_jl_grid", "JL embedding map: plan-literal projection, bounded-grid aggs"),
    ("p22_pack_spans", "pack spans: shard windows + bounded map-side sequence explode"),
    ("ml11_embedding_cov", "one-pass covariance: in-place dim-pair expansion, 2080 partials"),
    ("v19_scalar_quant", "SQ audit: 64-row broadcast grid + map-side reconstruct"),
    ("ga07_modularity", "modularity: bounded pair expansion + broadcast nation dims"),
    ("w18_ewma", "EWMA: banded self-join on the bounded per-day frame, shift weights"),
    ("u09_compaction_plan", "OPTIMIZE planner: map-side split + per-partition offset window"),
    ("mm10_patch_grid", "ViT patch manifest: metadata-only, zero payload movement"),
    ("v20_binary_quant", "1-bit signatures + Hamming screen + exact top-k rerank"),
    ("ev19_survival_km", "KM churn curve: per-user collapse then bounded duration grid"),
    ("ml12_auc", "rank AUC off the bounded (class, score) lattice - no row window"),
    ("s12_poisson_bootstrap", "32 deterministic replicates, B-bounded exchange"),
    ("t32_flesch", "readability: three codegen'd counters, one scan"),
    ("ml13_ridge_cv", "5-fold CV in TWO passes: total-minus-fold training stats"),
    ("ml14_decision_stump", "exact-greedy stump: value-lattice prefix sums, 1-row result"),
    ("a19_trimmed_mean", "exact trimmed mean: cents-lattice ranks, int tie corrections"),
    ("ev20_gini", "Gini: closed-form tie-safe rank sums on the value lattice"),
    ("ml15_pr_curve", "PR/F1 sweep: one suffix-sum window over the score lattice"),
    ("st10_out_of_order_audit", "arrival-order audit: per-key lag window + type rollup"),
    ("a09_approx_sketches", "sketches vs exact twins: 3 passes joined at 5 rows, lattice median"),
    ("zarr117_delta_filter_store", "external delta-filtered v2 store: pruned scan, filter decode in-task"),
    ("zarr118_be_struct_store", "BE-struct store: per-field byteswap decode + SelectField pruning"),
]


def main() -> None:
    from mdio_cpp_spark.plans import REGISTRY
    from mdio_cpp_spark.session import get_spark

    spark = get_spark("scaling-sweep")
    # warm the Python-worker pool and parquet reader outside the timed region
    REGISTRY["q01_isel_range"].spark(spark, SFS[0]).collect()

    results: dict[str, list[float]] = {}
    for name, _ in PICKS:
        results[name] = []
        for sf in SFS:
            runs = []
            for _ in range(3):
                t0 = time.time()
                REGISTRY[name].spark(spark, sf).collect()
                runs.append(time.time() - t0)
            results[name].append(sorted(runs)[1])  # median of 3

    import os

    load1 = os.getloadavg()[0]
    lines = [
        "# SCALING — wall-time sweep across sf0.001 → sf0.01 → sf0.1 (100× data)",
        "",
        f"local[{spark.sparkContext.defaultParallelism}], median of 3 runs per cell, "
        f"load1={load1:.1f} (shared box — ratios matter, not absolutes).",
        "",
        "A query whose time grows ~Nx under 100× data is overhead-amortized and",
        "scan-bound — the plan shape that survives a cluster scale-up. Per-row",
        "driver work or quadratic stages would show here as super-linear growth.",
        "",
        "| query | what it stresses | sf0.001 | sf0.01 | sf0.1 | t(×100 data)/t(×1) |",
        "|---|---|---|---|---|---|",
    ]
    for name, what in PICKS:
        a, b, c = results[name]
        lines.append(
            f"| {name} | {what} | {a:.2f} s | {b:.2f} s | {c:.2f} s | {c / a:.1f}× |"
        )
    lines.append("")
    with open("/root/repo/SCALING.md", "w") as f:
        f.write("\n".join(lines))
    print("wrote SCALING.md")
    for name, _ in PICKS:
        print(name, [round(x, 2) for x in results[name]])


if __name__ == "__main__":
    main()
