"""Deduplication operators over a documents table — exact, MinHash+LSH,
SimHash, n-gram Jaccard, embedding-cosine near-dup.

The reference has no dedup surface; this is north-star extension work
(BASELINE.json). Every operator is expressed with built-in functions only and
has an exact DuckDB oracle in ``plans/pipeline.py``.

Scale design (the point of each algorithm at 100 TB):
  * exact — one hash-groupBy; shuffle key is the content hash, so the shuffle
    carries (hash, id) pairs, not document bodies.
  * MinHash+LSH — signatures are computed map-side per document (no shuffle),
    then ONLY (band_id, band_hash, doc_id) tuples shuffle; candidate pairs
    come from an equi-join on (band, hash) buckets instead of an O(n²) cross
    product. Banding (b bands × r rows) tunes the similarity threshold
    ≈ (1/b)^(1/r).
  * SimHash — per-document bit signature, map-side only; near-dup = signature
    (or band-of-bits) equality, again an equi-join.
  * n-gram Jaccard — the *verify* step on candidate pairs (never run on the
    full cross product).
  * embedding near-dup — sign-LSH buckets from deterministic hyperplanes,
    exact cosine verification only within buckets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mdio_cpp_spark.functions import hashing, text, vectors
from mdio_cpp_spark.session import local_frame


def ensure_map_parallelism(df: DataFrame) -> DataFrame:
    """Spread rows across the cluster before expensive map-side work.

    Small single-file inputs plan as ONE partition, serializing the whole
    signature computation; a round-robin repartition fixes that. On real
    multi-file datasets the input is already parallel and this is a no-op.
    The no-op check is file-count first (analysis only — cheap) and falls
    back to the physical-plan partition probe only for few-file inputs, so
    the common at-scale path never forces physical planning per call."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        if len(df.inputFiles()) >= target:
            return df
    except Exception:  # non-file sources: fall through to the probe
        pass
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def staged_token_base(df: DataFrame, text_col: str, min_tokens: int) -> DataFrame:
    """Token-staged length-filtered base frame: materialize the token array
    as column ``__toks`` ONCE and filter on its size. word_shingles
    references its input 3x and higher-order functions are never CSE'd by
    codegen, so inline token expressions re-run the regex tokenizer up to
    4x per row; every shingle consumer should build on this frame and read
    F.col("__toks"). The length filter still pushes to the scan (Catalyst
    substitutes the alias)."""
    return ensure_map_parallelism(
        df.withColumn("__toks", text.tokens(F.col(text_col) if isinstance(text_col, str) else text_col))
        .filter(F.size("__toks") >= min_tokens)
    )


def exact_dedup_groups(df: DataFrame, id_col: str, content_col: str) -> DataFrame:
    """Exact duplicate groups by content hash: (h, keep_id, dup_cnt).
    keep_id = min id in the group (the canonical survivor)."""
    return (
        df.groupBy(F.md5(F.col(content_col)).alias("h"))
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("dup_cnt"))
    )


def exact_dedup(df: DataFrame, id_col: str, content_col: str) -> DataFrame:
    """Keep exactly one row (min id) per distinct content value."""
    w_keep = exact_dedup_groups(df, id_col, content_col).select("keep_id")
    return df.join(w_keep, df[id_col] == F.col("keep_id"), "left_semi")


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int, shingle_n: int = 3
) -> DataFrame:
    """MinHash signature (id, mh0..mh{k-1}) via explode → hash → min-agg.

    Plan shape matters enormously here: computing k ``array_min(transform(
    shingles, md5))`` columns inlines the whole tokenize+shingle pipeline k
    times and evaluates it in Catalyst's INTERPRETED higher-order-function
    path (~100× slower than codegen). Instead: build the shingle array once,
    EXPLODE it, compute the k seeded md5s per (doc, shingle) row inside
    whole-stage codegen, and take per-doc mins with a partial-aggregating
    groupBy — the shuffle carries one k-hash row per doc per partition, never
    shingles or bodies."""
    base = staged_token_base(df, text_col, shingle_n)
    exploded = base.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(text.word_shingles(F.col("__toks"), shingle_n))
        ).alias("__s"),
    )
    # hash family: Kirsch–Mitzenmacher double hashing — ONE md5 per shingle,
    # h1/h2 = its two leading 32-bit hex slices, member j = (h1 + j*h2) mod
    # 2^32. k members cost 1 md5 + k integer ops per row (the md5 is the
    # expensive part and codegen's subexpression elimination evaluates it,
    # h1, and h2 once each); max value h1 + (k-1)*h2 < 2^32·k stays far
    # inside BIGINT. Same construction verbatim in the SQL oracle
    # (('0x' || substr(md5(s), ...))::BIGINT).
    digest = F.md5(F.col("__s"))
    h1 = F.conv(F.substring(digest, 1, 8), 16, 10).cast("long")
    h2 = F.conv(F.substring(digest, 9, 8), 16, 10).cast("long")
    hashed = exploded.select(
        id_col,
        *[
            ((h1 + F.lit(j) * h2) % F.lit(4294967296)).alias(f"__h{j}")
            for j in range(num_hashes)
        ],
    )
    return hashed.groupBy(id_col).agg(
        *[F.min(f"__h{j}").alias(f"mh{j}") for j in range(num_hashes)]
    )


def bands_from_signatures(sig: DataFrame, id_col: str, bands: int, rows: int) -> DataFrame:
    """(id, band, bh) from an EXISTING wide signature frame (mh0..mh{k-1})
    — lets callers that also need the raw signature (d14's estimator
    audit) pay the shingle+md5 pipeline once instead of per consumer."""
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        ":", *[F.col(f"mh{b * rows + r}").cast("string") for r in range(rows)]
                    )
                ).alias("bh"),
            )
            for b in range(bands)
        ]
    )
    return sig.select(F.col(id_col), F.explode(band_structs).alias("e")).select(
        id_col, F.col("e.band").alias("band"), F.col("e.bh").alias("bh")
    )


def minhash_bands(df: DataFrame, id_col: str, text_col: str, bands: int, rows: int, shingle_n: int = 3) -> DataFrame:
    """(id, band, bh) — one row per LSH band; bh = md5 of the ':'-joined
    band slice of the signature (separator disambiguates adjacent numeric
    minhashes). Docs with < shingle_n tokens are dropped."""
    sig = minhash_signatures(df, id_col, text_col, bands * rows, shingle_n)
    return bands_from_signatures(sig, id_col, bands, rows)


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bands: int = 4,
    rows: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """Distinct candidate near-dup pairs (doc_a < doc_b) via MinHash banding.

    Pairs are generated from GROUPED buckets rather than a self-join: one
    groupBy on (band, bh) collects ids per bucket, then pairs expand
    map-side. This computes the signatures exactly once (a self-join would
    recompute the whole minhash pipeline for both sides) and shuffles only
    (band, bh, id) — never document bodies.

    ``max_bucket`` hardens against degenerate buckets (mass-duplicated
    boilerplate makes one bucket O(k²)): buckets larger than the cap are
    truncated to their ``max_bucket`` smallest ids (deterministic), bounding
    any single task's pair expansion. None = exact/uncapped (the oracle-
    matched default)."""
    b = minhash_bands(df, id_col, text_col, bands, rows)
    return candidate_pairs_from_bands(b, id_col, max_bucket)


def candidate_pairs_from_bands(
    b: DataFrame, id_col: str, max_bucket: int | None = None
) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs from an existing (id, band, bh)
    frame — the grouped-bucket expansion of lsh_candidate_pairs, split out
    so signature-sharing callers skip the second minhash pass."""
    buckets = (
        b.groupBy("band", "bh")
        .agg(F.array_sort(F.collect_list(id_col)).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if max_bucket is not None:
        buckets = buckets.select("band", "bh", F.slice("ids", 1, max_bucket).alias("ids"))
    pairs = F.expr(
        "flatten(transform(ids, (a, i) -> "
        "transform(slice(ids, i + 2, size(ids) - i - 1), b -> struct(a AS doc_a, b AS doc_b))))"
    )
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .distinct()
    )


def simhash_bits(df: DataFrame, id_col: str, text_col: str, n_bits: int = 16) -> DataFrame:
    """Long-form SimHash: (id, pos, bit) for pos in 1..n_bits.

    bit_p = sign of Σ_tokens (±1), where a token votes +1 on position p iff
    the p-th hex digit of md5(token) has its high bit set (digit >= '8').
    Frequency-weighted (every occurrence votes). Map-side explode + one
    groupBy on (id, pos) — shuffle carries counts, not text.
    """
    toks = ensure_map_parallelism(df).select(F.col(id_col), F.explode(text.tokens(text_col)).alias("tok"))
    votes = toks.select(
        id_col,
        F.explode(F.sequence(F.lit(1), F.lit(n_bits))).alias("pos"),
        F.col("tok"),
    ).select(
        id_col,
        "pos",
        F.when(F.substring(F.md5("tok"), F.col("pos"), 1) >= F.lit("8"), 1).otherwise(-1).alias("c"),
    )
    return (
        votes.groupBy(id_col, "pos")
        .agg(F.sum("c").alias("s"))
        .select(id_col, "pos", F.when(F.col("s") > 0, 1).otherwise(0).alias("bit"))
    )


def ngram_jaccard(left_sh: Column, right_sh: Column) -> Column:
    """Jaccard similarity of two distinct-shingle arrays (double)."""
    inter = F.size(F.array_intersect(left_sh, right_sh))
    union = F.size(F.array_union(left_sh, right_sh))
    # two empty shingle sets are identical (1.0) rather than an ANSI
    # divide-by-zero abort
    return F.when(union > 0, inter / union).otherwise(F.lit(1.0))


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_planes: int = 8,
    threshold: float = 0.9,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine: sign-LSH bucket (equi-join)
    then exact cosine >= threshold within buckets. Returns
    (doc_a, doc_b, cos) with cos rounded to 4 places."""
    bucket = sign_lsh_bucket(F.col(vec_col), dim, n_planes)
    # norm computed once per vector map-side; cosine per PAIR is then one
    # dot + divide (same IEEE value — the norm is the identical expression)
    b = df.select(
        F.col(id_col), F.col(vec_col), bucket.alias("bk"),
        vectors.norm(F.col(vec_col)).alias("nv"),
    )
    a = b.select(F.col(id_col).alias("doc_a"), F.col(vec_col).alias("va"), "bk",
                 F.col("nv").alias("na"))
    c = b.select(F.col(id_col).alias("doc_b"), F.col(vec_col).alias("vb"), "bk",
                 F.col("nv").alias("nb"))
    cos = F.round(vectors.cosine_parts(vectors.dot(F.col("va"), F.col("vb")), F.col("na"), F.col("nb")), 4)
    return (
        a.join(c, on="bk")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", cos.alias("cos"))
        .filter(F.col("cos") >= F.lit(threshold))
    )


def sign_lsh_bucket(vec: Column, dim: int, n_planes: int = 8) -> Column:
    """Sign-LSH bucket id: concatenated sign bits of projections onto
    deterministic ±1 hyperplanes (functions.hashing.hyperplane_weights)."""
    planes = hashing.hyperplane_weights(n_planes, dim)
    bits = []
    for row in planes:
        w = F.array(*[F.lit(x) for x in row])
        proj = vectors.dot(vec, w)
        bits.append(F.when(proj >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


_SMALL_GRAPH_LIMIT = 100_000  # pair rows that comfortably fit on the driver


def duplicate_clusters(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Connected components over candidate near-dup pairs → (doc_id,
    cluster_id), cluster_id = MIN doc id reachable through the pair graph.

    The at-scale dedup endgame: LSH emits PAIRS, but survivorship decisions
    need CLUSTERS (keep one doc per component). Iterative min-label
    propagation: each round every node adopts the smallest label among
    itself and its neighbors — a join + groupBy per round, all stages
    parallel, converging in O(component diameter) rounds (dup clusters are
    shallow in practice; ``max_iter`` bounds the pathological chain). The
    driver sees only the per-round changed-count (one scalar action) — the
    label table itself never leaves the cluster.

    Caching: each round persists its label table and unpersists the prior
    one, so round N+1 reads a materialized round N instead of recomputing
    the whole lineage (the standard iterative-algorithm pattern on Spark)."""
    pairs = pairs.persist()
    # small-graph fast path: candidate pairs are duplicate-bounded, usually
    # orders of magnitude below the corpus. When the pair set fits on the
    # driver (same judgment as a broadcast join), union-find locally in one
    # job instead of N iterative join rounds — identical min-label result.
    head = pairs.limit(_SMALL_GRAPH_LIMIT + 1).collect()
    if len(head) <= _SMALL_GRAPH_LIMIT:
        spark = pairs.sparkSession
        pairs.unpersist()
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:
                parent[x], x = r, parent[x]
            return r

        for row in head:
            a, b = find(row["doc_a"]), find(row["doc_b"])
            if a != b:
                parent[max(a, b)] = min(a, b)
        comp: dict = {}
        nodes = {row["doc_a"] for row in head} | {row["doc_b"] for row in head}
        for n in nodes:
            comp.setdefault(find(n), []).append(n)
        rows = []
        for members in comp.values():
            m = min(members)
            rows.extend((n, m) for n in members)
        from pyspark.sql.types import StructField, StructType

        id_type = pairs.schema["doc_a"].dataType  # id-type-agnostic (string
        # / uuid ids take the same path as longs; the iterative branch
        # already handled them)
        schema = StructType([
            StructField("doc_id", id_type), StructField("cluster_id", id_type)
        ])
        return local_frame(spark, sorted(rows), schema)

    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .distinct()
    )
    edges = edges.persist()
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("lbl"))
    )
    prev_cache = None
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("lbl").alias("nlbl"))
        )
        updated = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(F.col("lbl"), F.coalesce(F.col("nlbl"), F.col("lbl"))).alias("lbl"),
                (F.col("nlbl") < F.col("lbl")).alias("chg"),
            )
        ).persist()
        # this count MATERIALIZES `updated` into the cache; only then is the
        # previous round's cache safe to drop (unpersisting earlier would
        # silently rebuild the whole multi-round lineage every iteration)
        changed = updated.filter(F.col("chg")).limit(1).count()
        if prev_cache is not None:
            prev_cache.unpersist()
        prev_cache = updated
        labels = updated.select("node", "lbl")
        if changed == 0:
            break
    edges.unpersist()
    return labels.select(F.col("node").alias("doc_id"), F.col("lbl").alias("cluster_id"))


# semantic_dedup's internal persist must outlive the caller's action; this
# holds the previous call's handle so the next call can free it (see the
# docstring's cache-lifetime contract).
_SEMDEDUP_PREV_CACHE: list = []


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int = 8,
    threshold: float = 0.9,
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    cluster embeddings with a coarse quantizer, then within each cluster drop
    every vector that has a LOWER-id near-identical neighbor (cosine >=
    ``threshold``) — one representative per semantic duplicate set survives.

    The quantizer is ``similarity.ivf_assign``'s deterministic exemplar
    centroids (first ``n_cells`` ids): swapping in trained k-means centroids
    changes nothing structurally, and exemplars keep the op oracle-checkable.
    Scale shape: the within-cell pair join is an equi-join on the cell id —
    never all-pairs across the corpus — and production sizes ``n_cells``
    proportional to N so the per-cell population (and thus per-cell pair
    work) stays constant. Shuffles carry (id, vec, cell) once; the drop
    decision is a within-cell join + distinct on ids only.

    Returns (``id_col``, cell, kept) for every input vector, kept=false for
    dropped near-duplicates.

    Cache lifetime: the internal (id, vec, cell, norm) persist MUST outlive
    the caller's action (the returned frame is lazy), so it cannot be
    unpersisted here. Callers own it via ``result.cached_deps`` (a tuple of
    persisted frames to ``unpersist()`` after consuming the result); as a
    backstop for long-lived sessions that never do, each call unpersists
    the PREVIOUS call's handle, bounding the leak to one call's cache.
    """
    from mdio_cpp_spark.operators.similarity import ivf_assign

    cents = df.orderBy(F.col(id_col)).limit(n_cells).select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cv")
    )
    assigned = ivf_assign(df, id_col, vec_col, cents)
    # THREE consumers read the assignment (both pair sides + the final
    # kept-join); unpersisted, each re-runs the scan + centroid argmin —
    # measured 6 embeddings scans in the executed plan. Persist the
    # (id, vec, cell, norm) frame ONCE (the same rows the pair join
    # shuffles anyway; MEMORY_AND_DISK spills rather than OOMs at scale)
    # and precompute the norm so neither side re-derives it.
    from pyspark.storagelevel import StorageLevel

    # Bound the cross-call leak to one handle — and unpersist BEFORE the
    # new persist registers: Spark's CacheManager resolves unpersist by
    # CANONICALIZED plan, so a repeat call with the identical frame would
    # otherwise have its brand-new cache entry dropped by the old handle
    # (measured: d10 1.2 s → 4.6 s from exactly that ordering bug).
    while _SEMDEDUP_PREV_CACHE:
        try:
            _SEMDEDUP_PREV_CACHE.pop().unpersist()
        except Exception:  # session of the old handle may be gone
            pass
    b = assigned.select(
        F.col(id_col), F.col(vec_col), "cell",
        vectors.norm(F.col(vec_col)).alias("nv"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    _SEMDEDUP_PREV_CACHE.append(b)
    a = b.select(F.col(id_col).alias("__ida"), F.col(vec_col).alias("va"), "cell",
                 F.col("nv").alias("na"))
    c = b.select(F.col(id_col).alias("__idb"), F.col(vec_col).alias("vb"), "cell",
                 F.col("nv").alias("nb"))
    cos = F.round(vectors.cosine_parts(vectors.dot(F.col("va"), F.col("vb")), F.col("na"), F.col("nb")), 4)
    dropped = (
        a.join(c, on="cell")
        .filter(F.col("__idb") < F.col("__ida"))
        .select("__ida", cos.alias("__cos"))
        .filter(F.col("__cos") >= F.lit(threshold))
        .select(F.col("__ida").alias(id_col))
        .distinct()
        .withColumn("__dropped", F.lit(True))
    )
    out = (
        b.join(dropped, on=id_col, how="left")
        .select(
            id_col,
            F.col("cell").cast("long").alias("cell"),
            F.coalesce(~F.col("__dropped"), F.lit(True)).alias("kept"),
        )
    )
    out.cached_deps = (b,)  # caller-owned: unpersist after the action
    return out
