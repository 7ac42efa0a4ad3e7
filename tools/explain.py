"""Generate PLANS.md: formatted physical plans for representative declared
queries, with a one-line scale note each. Evidence artifact for plan-quality
review — regenerate with `python tools/explain.py` after plan changes.
"""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")

SF = "/root/testdata/sf0.01"

PICKS = {
    "q01_isel_range": "range predicate must appear in the FileScan's PushedFilters/DataFilters",
    "j01_broadcast_join_agg": "nation broadcast is forced; customer join strategy is chosen by the planner from size stats (sf-proportional table, not size-blind)",
    "asof01_event_order": "the big window partitions by time bucket (hashpartitioning(__b)); the only SinglePartition exchange is the |buckets|-row boundary table",
    "d02_minhash_lsh": "one shuffle on (band, bh); signature aggregation is partial (map-side combine) before it",
    "g02_cube": "one Expand + one hash shuffle: single-pass cube",
    "zarr01_scan": "scan plans only chunks intersecting [1000, 9000) — the manifest is a lazy Range, decode is one ArrowEvalPython-style batch stage",
    "zarr16_datasource": "PythonScan with the dim filters consumed by pushFilters (chunk pruning inside the source)",
    "v03_ivf_topk": "centroid assignment is a broadcast nested loop over K rows then partial max_by; cell join is an equi-join",
    "p01_sequence_packing": "running-offset window partitions by shard (hashpartitioning(shard)) — no SinglePartition stage anywhere",
    "s03_stratified_sample": "pure map-side Filter directly over the FileScan — no shuffle, no RNG state",
    "zarr20_string_datetime_scan": "string/datetime chunks decode through the same pruned mapInPandas scan; broadcast join attaches the second variable",
    "t07_tfidf": "two partial aggs (tf then df) with map-side combine; N joins as a broadcast of a 1-row agg; the top-term window partitions by doc_id — no SinglePartition window. tf is a diamond (re-derived, two scans) — deliberate vs the skewed window-over-term single-scan alternative",
    "p02_corpus_curation": "quality+length Filter sits directly on the FileScan (before any exchange); the dedup window shuffles on md5(text) only for survivors",
    "a07_exact_percentiles": "no per-group value buffer and no data-sized shuffle: arithmetic bucket ids, G×nparts bucket counts to the driver, then ONLY the rank-covering buckets re-read and rank in a (group,bucket)-partitioned window",
    "zarr24_prefix_sum": "running sum over the store with the chunk grid as prefix-sum buckets: the data-sized window partitions by chunk id (hashpartitioning(__b)); cross-chunk offsets cumulate in a window over the one-row-per-chunk carry table (never driver-resident) and join back on the chunk id",
    "h01_shipping_priority": "date filters pushed to all three FileScans; customer side broadcast; ORDER BY+LIMIT compiles to TakeOrderedAndProject (per-partition top-k), never a global Sort",
    "d07_best_per_source": "keep-best is ONE partial-then-final hash aggregate (max_by) — no window, no per-partition sort of the corpus",
    "p03_contamination": "the semi-join shuffles int64 shingle hashes only (xxhash64 projected before the Exchange); no shingle string ever crosses the wire",
    "zarr25_rechunk": "the scan after migration plans on the NEW 1331-cell grid — pruned chunk range for [500, 10000) is ceil-bounded by the new chunk size, decode stays one batch stage",
    "h02_pricing_summary": "one wide partial-aggregatable scan: every measure is an exact fixed-point integer sum (map-side combine), shipdate filter pushed to the FileScan, 6 grouped rows shuffle",
    "h03_local_supplier_volume": "region→nation prune runs BEFORE the fact joins; supplier/customer/nation/region all broadcast — the only exchanges left are lineitem⋈orders and the 5-row group-by",
    "t11_repetition": "bigrams built map-side inside codegen (array transform + explode), then two keyed hash aggregates — (doc_id,bigram) then doc_id; partial agg absorbs within-doc repeats before the exchange",
    "d08_block_dedup": "16-token blocks become 32-char md5 hashes MAP-SIDE, so the shuffle carries (hash,id) only; two-phase count-distinct agg; HAVING filter after partial agg",
    "v05_knn_join": "all-pairs kNN with NO broadcast and NO cross product: one shuffle keyed on the LSH bucket string (self equi-join, plane count density-adaptive from a count probe), per-query rank window partitions on q_id",
    "p04_token_budget_mix": "token counts map-side; ONE window partitioned by source (parallel across sources, never global); budget filter after the running sum",
    "zarr27_halo_stencil": "halo exchange relationally: boundary cells replicate into neighbor chunk buckets map-side (explode of ≤2 targets), window partitions on bucket — no SinglePartition window over the array",
    "u01_merge_upsert": "MERGE with a small changeset: the target NEVER shuffles — U/D apply via BroadcastHashJoin LeftOuter, inserts via broadcast LeftSemi probe + tiny LeftAnti; the only exchange is the gate's output sort",
    "ts01_resample_locf": "grid explode is map-side (sequence per user), hourly agg is a partial-then-final hash agg, LOCF window partitions by user_id — no global stage",
    "h07_large_quantity_orders": "the HAVING key set (tiny) semi-prunes orders BEFORE the three-way join; top-20 compiles to TakeOrderedAndProject, never a global sort",
    "h10_market_share": "broadcast nation dims filter supplier/customer ahead of the fact shuffle; share = conditional agg in ONE grouped pass (no self-join of aggregates)",
    "zarr29_zonemap_filter": "zone-map-pruned value scan: the task manifest contains ONLY chunks whose [min,max] can satisfy price>=450000 (driver-enumerated here; executor-side skip beyond 65536 chunks) — pruned chunks never get a kvstore GET",
    "mm05_embed_batch": "Arrow-batched mapInPandas inference stage (payloads move once, map-only); posexplode to scalar rows happens JVM-side after the Python stage",
    "h05_revenue_forecast": "the pure-pushdown query: all three predicates in PushedFilters, 4-column ReadSchema, partial agg to one row — no shuffle of data anywhere",
    "h06_order_priority": "LEFT SEMI with a non-equi residual: only (orderkey, orderdate) ships; date filters pushed to the orders scan",
    "t12_unigram_surprisal": "vocab counts partial-agg before the term join; total broadcasts as a 1-row agg; per-doc reduce keyed on doc_id",
    "p06_quality_band": "percentile bands from the buffer-free operator broadcast onto the scored scan; the band filter is a broadcast join + filter, no window over the corpus",
    "zarr31_dsv2_write": "BatchWrite over the python DSv2 writer: chunk-partitioned exchange feeds per-task chunk RMW; readback is a PythonScan over the fresh store",
    "zarr39_interp_bilinear": "corner gather as a BroadcastHashJoin (exploded targets broadcast onto the chunk-pruned grid scan — the grid never shuffles); 4-slot agg then fixed-order weighted sum",
    "d10_semdedup": "centroid assignment = broadcast nested loop over K + partial max_by; within-cell pair search is an equi-join on the cell id, drop set joins back broadcast",
    "p09_split_leakage": "split + fingerprint computed map-side; ONE exchange keyed on the fingerprint carrying (fp, split) only; the 2-row report explodes from the groups",
    "p10_temperature_mix": "rate table = tiny agg + broadcast 1-row min; keep decision is a map-side hash filter after a BroadcastHashJoin — the corpus never shuffles",
    "h14_priority_class_count": "lineitem pre-aggregates to (orderkey, flag, cnt) BEFORE the fact-fact join — the orderkey exchange carries order-level rows, not lines; date+flag filters pushed to the lineitem scan",
    "h17_small_qty_revenue": "part-class semi-join pruned BELOW the correlated per-part average: both lineitem passes scan with the broadcast semi filter; the avg joins back on partkey (AQE picks broadcast when it fits — no forced broadcast of an SF-scaling agg)",
    "h20_sole_returning_supplier": "Q21's EXISTS/NOT-EXISTS self-joins collapsed to a two-level aggregate: one pair-keyed shuffle (each (order,supplier) once — no Expand, no 2x countDistinct exchange), then an order-keyed reduce + semi-join back",
    "h21_min_cost_supplier": "the part filter broadcasts below the pair aggregate, so the heavy (part,supplier) min runs only over the selected class; the per-part min joins back on equality keeping ties; supplier detail broadcasts last",
    "h22_nation_profit": "part-name broadcast prune runs before the lineitem-orders join (the only fact-fact edge); supplier/nation broadcast; profit is one exact fixed-point expression inside the partial agg",
    "zarr50_dsv2_value_pushdown": "Catalyst-pushed value predicate: the PythonScan consumed value>=450000 via pushFilters (decoder-exact mask + zone-map chunk skip) — the only Filter left upstream is the isnotnull residual, and pruned chunks never get a kvstore GET",
    "zarr53_dsv2_multivar_fused": "fused multi-variable read: NO Join anywhere — both aligned arrays decode in the same PythonScan task per chunk, and the only exchange is the 10-group partial aggregate",
    "ga05_label_prop_step": "ONE groupBy(src) with least(src, min(dst)) over the explode-mirrored edge list — the node-frame + left-join formulation (two extra exchanges + a persist) is gone; 4 exchanges total incl. the sort, 0 joins",
    "zarr112_sharded_lz4_pushdown": "sharded store + blosc-lz4 inner chain + DSv2: dim range consumed into the pruning box (partial range-GET shard reads), value predicate consumed by pushFilters (decoder-exact mask) — Filter above the scan only re-checks what the source already bounded",
    "zarr113_reshard_migration": "scan of the MIGRATED sharded store: chunk-pruned manifest over shard-grid coords, partial range-GET decode; the migration itself was a shuffle-free mapInPandas over destination shard ids",
    "zarr111_zstd_store": "chunk-pruned scan over handcrafted zstd chunk objects; decode runs in the executor batch stage through the native zstd kernel — plan identical in shape to the gzip store scans",
    "a11_grouped_mad": "duplicate-collapsing MAD: ONE partial-agg groupBy to the (group, value) run-length table (limit-probe bounded), both quantiles derived from it; the plan shows a single scan + hash aggregate, no window, no second pass (distributed two-pass fallback kicks in past the probe bound)",
    "zarr55_ffill": "gap fill with NO global data window: the in-chunk LOCF window partitions on the chunk id; the only global window is the one-row-per-chunk carry table (bounded by construction), joined back broadcast",
    "p11_epoch_shuffle": "deterministic epoch shuffle without a global row_number: 16 hash-digit bucket windows rank in parallel; positions = broadcast bucket offsets + in-bucket rank",
    "v07_radius_search": "all-pairs radius query: one shuffle keyed on the LSH bucket string (self equi-join), exact cosine threshold filter — no broadcast, no cross product",
    "zarr56_transcode": "codec migration is a single mapInPandas stage over a lazy chunk-id range: decode, re-encode, write at the same coordinates — zero shuffle at any store size",
    "zarr40_shift_roll": "shift/roll with ZERO shuffle: two chunk-pruned scans re-keyed map-side (body + wrap slice), union, no lag window anywhere; only the gate's output sort exchanges",
    "zarr41_stack_unstack": "the z-range predicate unstacks into row-chunk pruning: the scan's manifest covers rows [1,5) only; z and (row,col) re-derive map-side",
    "zarr42_weighted_mean": "the stored col coordinate broadcasts onto the chunk-pruned grid scan; weighted products stay integer fixed-point through the partial agg — shuffle carries one partial per (row, partition)",
    "ev01_funnel": "all three stage aggregates and both residual joins key on user_id — one hash partitioning reused end-to-end, frames shrink monotonically",
    "ev02_cohort_retention": "distinct (user, day) collapse happens FIRST (partial distinct before the exchange); the first-activity agg and the join reuse the user_id partitioning",
    "u02_scd2_history": "the dimension never shuffles: close = BroadcastHashJoin LeftOuter + map-side CASE, new versions filter off the same joined stream, inserts probe tiny-vs-tiny",
    "ml01_group_ols": "five integer sufficient statistics per group in one partial-aggregatable pass; nation broadcasts onto the customer bridge; the only data-sized exchange is orders-customer",
    "zarr44_sel_datetime": "datetime endpoints translate to an index range on the driver (coordinate read), then the scan manifest covers only chunks in [96, 265) — value-sel compiles to chunk pruning",
    "zarr63_trend_axis": "per-row OLS trend from four integer sums: ONE partial-then-final hash aggregate keyed on the surviving dim over the chunk-pruned scan — the shuffle carries 4 longs per key, the division happens on the reduced rows",
    "zarr65_concat_stores": "cross-store/cross-version concat with ZERO shuffle: two chunk-pruned PythonScans (v2 + v3) union map-side with a constant index remap — no join, no window; only the gate's output sort exchanges",
    "ev05_last_touch_attribution": "touches and purchases co-partition on user_id; the 30-day lookback is a residual range predicate on the equi-join (bounded per-user fanout); last-touch collapses via partial max_by keyed on the purchase before the tiny channel rollup",
    "ml02_group_ridge": "closed-form ridge: nine integer sufficient statistics in ONE partial-aggregatable pass over the pushed-down 4-column scan; the normal-equation solve is scalar arithmetic on the 3 grouped rows",
    "v08_centroid_classify": "centroids build as a (label, position) partial agg; classification is a broadcast nested loop over the 10 reassembled centroid rows + partial max_by — corpus vectors never shuffle; confusion matrix is a |labels|^2 reduce",
    "v09_stored_ivf": "ANN from a PERSISTED index: both index arrays arrive via PythonScan over the reopened store; centroid reassembly is a K*dim-row agg; query assignment broadcasts; the payload join keys on vec_id and the cell join confines search to one cell",
    "w10_session_window": "native session_window groupBy: ONE user-keyed exchange feeds the fused session-merge aggregate (no lag/cumsum windows in the plan — compare the oracle's two-window formulation)",
    "asof05_nearest": "nearest-direction as-of: the backward and forward passes are the SAME bucketed plan on a mirrored time axis (hashpartitioning(__b) windows, |buckets|-row boundary tables); the final event-keyed join picks the closer side by exact integer microseconds",
    "a14_weighted_median": "weighted median: duplicate prices collapse in a partial agg BEFORE the per-group cumsum window (the window input is distinct values, repeats absorbed map-side); the crossing filter and final min are grouped reductions",
    "w12_activity_streaks": "gaps-and-islands: DISTINCT (user, day) collapse runs before the island window, so the window input is bounded at users*days; island grouping is one hash aggregate",
    "p13_curation_funnel": "all four funnel stages share one FileScan lineage with the filters stacked map-side; the dedup-survivor join is a (hash -> min id) aggregate, no corpus window; four 1-row counts union",
    "v12_pq_adc": "PQ search without touching float vectors: the scan side carries 4 stored code ints per vector; scoring is FOUR BroadcastHashJoins against the per-query LUT (|q|*4*8 rows) and one fixed-order arithmetic expression; ranking partitions per query",
    "mm09_shard_plan": "byte-offset shard packing: the only ordered-global window is the <=4096-row bucket-offset cumulation; the corpus-sized running sum partitions on the bucket (hashpartitioning(__pid)); shard rollup is one hash aggregate",
    "zarr88_velocity_scan": "the trial-velocity panel is a BroadcastHashJoin of the 3*16*48-row analytic moveout table onto ONE chunk-pruned scan — more velocities grow the broadcast side, never the scan count; semblance reduces on (k, t0)",
    "zarr90_cube_scan": "rank-3 chunk-box pruning: the il/xl/t isel ranges intersect the 4x4x8 chunk grid in the planner — the task manifest covers only boxes overlapping the requested brick",
    "zarr96_cube_writeback": "rank-3 attribute write-back: derive map-side from the cube scan, ONE chunk-keyed exchange into the writer, verification scan reads the fresh store via PythonScan — no other shuffle",
    "d14_minhash_estimate_audit": "estimator audit sharing ONE minhash pass: the persisted signature frame (InMemoryTableScan) feeds both the banded candidate expansion and the agreement estimate; exact Jaccard joins semi-pushed shingles for candidates only",
    "zarr89_zonemap_report": "the index read back as data: two PythonScans over the tiny sidecar store (2*nchunks float64s), an equi-join on the linear id, constant div/mod to chunk coords — the data store is never touched",
    "w15_rolling_corr": "rolling correlation from SIX exact integer frame sums over the per-day aggregate (|days| rows, the asof-boundary allowance); the correlation is one fixed-shape row expression — no second pass, no float accumulation",
    "s10_priority_sample": "weighted sampling as TakeOrderedAndProject: priority keys compute map-side (one md5 + one division per row), the engine keeps per-partition top-16 — no shuffle of the corpus, no window over data",
    "ga04_pagerank_step": "one message-passing iteration: bounded within-order pair expansion, a 2x map-side mirror, strength agg co-partitioned with the contribution join on src, dst-keyed rank update",
    "geo02_peak_location": "both picks (peak+trough) come from ONE partial-aggregatable pass over the volume (lexicographic struct min/max); the 2-row pick frame broadcasts into the chunk-aligned coordinate-grid join; the 14-stage UTM conversion is pure codegen'd column math after the join",
    "geo03_latlon_bbox": "whole-grid UTM->geo: every transcendental stage is a projection over the chunk-pruned coordinate scans (no UDF, no Python), the grid join is chunk-aligned on (il, xl), and the only reduce is a partial-agg min/max to ONE row — nothing data-sized shuffles",
    "ts03_ohlc_downsample": "tick->bar compaction is ONE partial-then-final hash aggregate: open/close are min_by/max_by pairs over the composite integer order key — no sorted window, no per-group buffer, the bar table is |keys|*|days|",
    "ts04_gap_interpolate": "gap discovery is a per-key lead() window over the per-day aggregate; missing days emit via sequence+explode map-side (output proportional to gaps, not span); no calendar cross-join anywhere",
    "ml09_naive_bayes": "NB train+classify in-plan: model is a (class,term) partial agg; scoring fans test tokens x |classes| (bounded), joins the model on (class,term), reduces per doc — quantized integer scores, no driver state",
    "w16_max_drawdown": "two stacked per-key running windows (cumsum then running max) over the per-day aggregate share one event_type partitioning; argmax is a row_number on integer deviations — no SinglePartition stage",
    "j06_interval_overlap": "interval overlap as an equi-join on (day, hour-cell) with the canonical-cell residual — no dedup shuffle after the join, no within-day cross product in the plan",
    "ev16_concurrency_sweep": "the sweep line: 2 boundary rows per interval through ONE day-partitioned ordered window (running k, lead) — no pair materialization anywhere in the plan",
    "u06_incremental_agg": "delta maintenance: the target STREAMS through a broadcast LeftSemi prune (changeset keys build side), the old-value join is changeset-sized-vs-changeset-sized, and the only data-sized aggregate is the |groups|-row base — Spark can't build the right side of broadcast(chg).join(target, 'left'), so the naive form would broadcast the TARGET",
    "s11_coordinated_sample": "both sample predicates sit directly on the FileScans (map-side md5 filters, no sampling state); the join runs over 1/16-sized inputs",
    "p17_pack_efficiency": "two stacked partial aggs ((shard, pack) then shard) over the packing frame; the packing windows partition by shard — no global stage",
    "zarr114_reshard_struct": "the migrated struct cube scans through the chunk-pruned mapInPandas path (shard grid = chunk grid); the ok2 value filter sits inside the scan before the one-row aggregate — no data-sized exchange",
    "segy01_ingest": "the cube scan plans only the isel box's chunks; aggregate is partial-then-final over the pruned scan — ingest (trace-index-parallel read + chunk-keyed write shuffle) happens once at build, never in the measured query",
    "t26_bm25": "tf is term-filtered BEFORE its exchange (the shuffled frame is ≤|terms|x|docs| integers); idf and corpus stats broadcast back; rank = TakeOrderedAndProject then a ≤15-row window — no corpus-sized single-partition stage",
    "v16_hybrid_rrf": "two independent top-50 lists (BM25 pipeline + broadcast-query cosine scan that never shuffles corpus vectors) meet in a full-outer join of two 50-row frames; everything after the lists is constant-size",
    "d17_substring_spans": "window hashes are md5'd MAP-SIDE so the one exchange carries (hash, doc, pos) triples; repeats come from an h-partitioned count window (no back-join); islands window partitions by doc_id",
    "u07_schema_evolution": "schema-evolution MERGE keeps u01's shape: the widened target NEVER shuffles (BroadcastHashJoin LeftOuter + broadcast semi/anti inserts); the added column is a NULL literal projection, not a join",
    "dq10_psi_drift": "one partial-aggregatable scan reduces to a |years|x|bins| frame; the baseline year is a 1-row broadcast; the six PSI terms are fixed-column expressions — nothing data-sized past the first agg",
    "segy06_rev2_le": "the rev2 little-endian file reads through the same trace-index-partitioned DSv2 scan (byte order is metadata resolved once from the header mark, not a plan change); per-inline rollup is partial-then-final",
    "p19_shard_manifest": "ONE scan with map-side partial agg into 8 shard groups — per-doc hash/token work runs where the row lives, the exchange carries 8 keys x |map partitions| partial rows, never bodies; the modular checksum is order-independent",
    "t28_bpe_train": "the corpus collapses to the persisted vocab once; each merge iteration is a vocab-sized pair agg + TakeOrdered(1) (the 1-row learned rule is the only driver materialization) + a literal-replace codegen projection",
    "u08_deletion_vectors": "merge-on-read probe = BroadcastHashJoin LeftAnti on (file, pos) — the base table never exchanges; DV stats (cardinality + bitmap extent) come from the delete-side agg in the same frame",
    "d18_incremental_minhash": "delta band keys BROADCAST onto the base band table (BroadcastHashJoin, no base exchange, no base-vs-base pairs) — the incremental-ingest asymmetry d02 cannot express",
    "zarr115_resize_append": "grow is one metadata PUT; the append shuffles only appended rows chunk-keyed (boundary-chunk RMW); the scan-back plans fill synthesis for the virgin tail",
    "p20_dsir_resample": "the corpus is tokenised once into a persisted hashed feature stream, read twice (bucket counts as ONE conditional agg, then scoring); the 256-row log-ratio model is built off spark.range and BROADCAST back — the doc-side join is BroadcastHashJoin, the top-K is TakeOrderedAndProject, no global sort, no text in any exchange",
    "v18_jl_grid": "the 2x64 plane matrix is a plan literal — projection is codegen'd zip_with/aggregate column math; both aggs (cell-label, cell rollup) are map-side combined into the bounded grid; the majority-label window partitions by cell over the grid-sized frame, never the corpus",
    "p21_perplexity_buckets": "LM scoring reuses t17's skew-split joins; the band cuts come from a cumulative window over the per-(lang, 4dp-score) COUNT lattice (bounded by score range x 1e4, not docs) and band assignment is a broadcast join of the |langs|-row cut table",
    "ml11_embedding_cov": "each row expands its dim-squared upper-triangle products IN PLACE (higher-order transform — no self-join, no vector shuffle); partial agg collapses to <=2080 rows per map partition regardless of corpus size; the 64-row mean table broadcasts onto the sum frame",
    "p22_pack_spans": "p01's shard-partitioned offset windows, then a pure map-side sequence explode (fan-out ceil(n_tok/budget)+1 per doc); every span column is exact int64 DIV/GREATEST/LEAST math — zero exchanges beyond p01's",
    "u09_compaction_plan": "pass-through files split off as a pure map-side Filter; only sub-cutoff files enter the per-partition running-offset window (parallelism = partition count); the plan is exact integer arithmetic and idempotent — no RNG, no timestamps",
    "v20_binary_quant": "signatures are one posexplode partial agg (two int32 shift-sum words per vector — 8 bytes of index per corpus vector); the query signature is a 1-row broadcast, the Hamming screen is integer XOR/POPCNT compiling to TakeOrderedAndProject, and only the K survivors fetch float vectors for the exact rerank",
    "ml12_auc": "no per-row rank window: scores collapse to the (class, 6dp-score) count lattice, tie-averaged ranks come from a class-partitioned prefix sum over that bounded frame, and the Mann-Whitney statistic is one more lattice-sized aggregate",
    "s12_poisson_bootstrap": "the 8 digests per ORDER are computed below the x32 broadcast fan-out (digest work scales with rows, not rows x B); each replicate slices its 8-hex fraction and the inverse-CDF ladder is codegen'd STRING compares (no conv); the exchange carries 32 exact-int64 (sum_k_cents, sum_k) partials per map partition",
    "ml13_ridge_cv": "k-free distributed CV: pass 1 is one map-side-combined agg into 5 fold rows; training stats are total-minus-fold on that 5-row frame; pass 2 scores held-out rows against the broadcast 5-row model table — two corpus passes for any k",
    "ml15_pr_curve": "scores collapse to the (6dp-score) count lattice (map-side combined, bounded by score range); the entire threshold sweep is ONE descending suffix-sum window over that bounded frame + a broadcast 1-row total — no per-row window, no corpus sort",
    "st10_out_of_order_audit": "one lag window partitioned by user_id (per-key parallel at any cardinality) feeding a map-side-combined rollup into |types| groups; all time math is exact integer microseconds (unix_micros), zero floats in the plan",
    "a09_approx_sketches": "three independent passes JOINED at 5 rows, never one Expand plan: sketch agg (HLL + KLL, map-side mergeable), two-phase (type,user) exact-distinct pre-aggregate, and the lattice-exact median (count lattice -> type-partitioned prefix window -> rank-covering rows); mixing count_distinct into the sketch agg would Expand-replicate every row (measured 6.8s vs 1.3s)",
    "zarr117_delta_filter_store": "the delta-filtered EXTERNAL store scans through the same chunk-pruned mapInPandas stage as any v2 array (filter decode happens inside the Python decoder, per chunk — no extra plan stage); the isel range prunes the manifest before any GET; one partial-then-final agg to 1 row",
    "zarr118_be_struct_store": "BE-struct decode is a per-field astype inside the chunk decoder — the Spark plan is the standard pruned scan; SelectField pruning means only the two requested fields (not the 20-byte record) cross the Arrow boundary; output sort is the gate's own ORDER BY",
}


def main() -> None:
    from mdio_cpp_spark.plans import REGISTRY
    from mdio_cpp_spark.session import get_spark

    spark = get_spark("explain")
    out = [
        "# PLANS — physical-plan audit (generated by tools/explain.py)",
        "",
        f"Spark {spark.version}, sf0.01 inputs. Each section: what to look for, then the",
        "formatted plan (post-AQE initial plan; AQE may re-plan at runtime).",
        "",
    ]
    for name, note in PICKS.items():
        df = REGISTRY[name].spark(spark, SF)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        out.append(f"## {name}")
        out.append("")
        out.append(f"**Check:** {note}")
        out.append("")
        out.append("```")
        out.append(plan.strip())
        out.append("```")
        out.append("")
    with open("/root/repo/PLANS.md", "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
