"""Mergeable-sketch aggregation — the pattern that makes 100 TB metrics
cheap: pre-aggregate each partition (day/shard) into a FIXED-SIZE sketch
once, then answer rollup queries by merging sketches instead of
re-scanning raw data.

Spark ships the DataSketches aggregates, so the scale path runs on
built-ins that stay in codegen'd JVM aggregates:

- HLL (distinct counts): hll_sketch_agg / hll_union_agg /
  hll_sketch_estimate — `daily_sketches` / `merged_distinct` /
  `distinct_rollup` (q59);
- KLL (row-level quantiles): kll_sketch_agg_double /
  kll_merge_agg_double / kll_sketch_get_quantile_double —
  `kll_quantiles` (q97);
- Theta (distinct-set algebra): theta_sketch_agg / theta_union /
  theta_intersection / theta_sketch_estimate — `theta_overlap_estimate`
  (q122);
- bitmaps (EXACT distinct counts over dense ids): bitmap_construct_agg /
  bitmap_or_agg / bitmap_count — `bitmap_daily_partials` /
  `bitmap_distinct_rollup` (q147).

Two sketches stay hand-rolled on purpose, because no built-in answers
their query:

- KMV bottom-k (`kmv_partials` / `kmv_merge_estimate`, q88): its p50 is
  over the DISTINCT values, read off the sampled values the sketch keeps.
  Theta keeps hashes, not values, and a KLL built from per-day partials
  counts a value once for every day it appears in.
- Count-min (`cms_cells` / `cms_merge` / `cms_estimate`, q69): Spark's
  count_min_sketch aggregate returns a serialized blob that no SQL
  function can point-query, so the cells are kept as rows that a join
  probes.

The two-level shape below is exactly how a hypertable/cube maintains
distinct-count metrics: level 1 runs in the daily ingest job and is tiny
(one sketch blob per (key, day)); level 2 answers "distinct over any day
range" by unioning blobs — O(days x sketch_size), never O(rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def daily_sketches(
    df: DataFrame, key_col: str, id_col: str, ts_col: str = "ts"
) -> DataFrame:
    """Level 1: one HLL sketch of `id_col` per (key, day) — the
    materialize-once pre-aggregation."""
    return (
        df.withColumn("__day", F.to_date(ts_col))
        .groupBy(key_col, "__day")
        .agg(F.hll_sketch_agg(id_col).alias("sketch"))
    )


def merged_distinct(daily: DataFrame, key_col: str) -> DataFrame:
    """Level 2: distinct count per key over all days, by sketch union —
    never touches raw rows."""
    return daily.groupBy(key_col).agg(
        F.count("*").alias("n_days"),
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("approx_nd"),
    )


def distinct_rollup(
    df: DataFrame, key_col: str, id_col: str, ts_col: str = "ts"
) -> DataFrame:
    """(key, n_days, approx_nd, exact_nd): the merged two-level estimate
    side-by-side with the exact distinct count, so merge fidelity is
    visible in the output itself."""
    approx = merged_distinct(daily_sketches(df, key_col, id_col, ts_col), key_col)
    exact = df.groupBy(key_col).agg(
        F.countDistinct(id_col).alias("exact_nd")
    )
    return approx.join(exact, key_col).select(
        key_col, "n_days", "approx_nd", "exact_nd"
    )


def kll_quantiles(
    df: DataFrame,
    key_col: str,
    part_col: str,
    value_col: str,
    quantiles: list[float],
) -> DataFrame:
    """Rank-bounded row quantiles per key on KLL sketches (Karnin, Lang &
    Liberty, FOCS 2016), in the HLL pair's two levels: one sketch of
    `value_col` per (key, part), merged per key — never the raw rows.
    Compaction is randomised: a rerun may return another in-bound value.

    Output: (key, est_q<NN> double ...), e.g. est_q50 for 0.5."""
    partials = df.groupBy(key_col, part_col).agg(
        F.kll_sketch_agg_double(F.col(value_col).cast("double")).alias("sketch")
    )
    merged = partials.groupBy(key_col).agg(
        F.kll_merge_agg_double("sketch").alias("sketch")
    )
    return merged.select(
        key_col,
        *[
            F.kll_sketch_get_quantile_double("sketch", F.lit(q)).alias(
                f"est_q{int(round(q * 100)):02d}"
            )
            for q in quantiles
        ],
    )


# ---------------------------------------------------------------------------
# Count-min sketch: mergeable heavy-hitter / frequency estimation
# ---------------------------------------------------------------------------


def cms_cells(
    df: DataFrame,
    item_col: str,
    depth: int = 4,
    width: int = 1024,
    shard_col: str | None = None,
) -> DataFrame:
    """Level 1: count-min sketch cells (Cormode & Muthukrishnan, J.Alg
    2005) per optional shard — the frequency twin of `daily_sketches`.

    Each item increments one cell per hash row: (row r, xxhash64(item, r)
    mod width). The sketch is the depth x width count grid, stored SPARSE
    (only touched cells) as rows — at most depth*width rows per shard no
    matter how many items, and two sketches merge by summing cells
    (groupBy-sum), so shard/day rollups never re-scan raw data. Everything
    is explode + groupBy: codegen'd, map-side-combined, no UDFs."""
    rows = F.explode(
        F.transform(
            F.sequence(F.lit(0), F.lit(depth - 1)),
            lambda r: F.struct(
                r.cast("int").alias("r"),
                F.pmod(F.xxhash64(F.col(item_col), r), F.lit(width))
                .cast("int")
                .alias("c"),
            ),
        )
    )
    keys = ([shard_col] if shard_col else []) + ["r", "c"]
    return (
        df.select(*([shard_col] if shard_col else []), rows.alias("__rc"))
        .select(*([shard_col] if shard_col else []), "__rc.r", "__rc.c")
        .groupBy(*keys)
        .agg(F.count("*").alias("cnt"))
    )


def cms_merge(cells: DataFrame) -> DataFrame:
    """Level 2: merge sharded sketches into one by summing cells."""
    return cells.groupBy("r", "c").agg(F.sum("cnt").alias("cnt"))


def cms_estimate(
    cells: DataFrame,
    items: DataFrame,
    item_col: str,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Point-query the sketch for each row of `items`: estimate =
    min over hash rows of the item's cell count (>= true count always;
    over-counts only via collisions, P[err > 2N/width] < (1/2)^depth with
    the standard bounds). `items` is the small probe side (broadcast);
    the sketch is at most depth*width rows."""
    probes = items.select(
        F.col(item_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(depth - 1)),
                lambda r: F.struct(
                    r.cast("int").alias("r"),
                    F.pmod(F.xxhash64(F.col(item_col), r), F.lit(width))
                    .cast("int")
                    .alias("c"),
                ),
            )
        ).alias("__rc"),
    ).select(item_col, "__rc.r", "__rc.c")
    return (
        probes.join(cells, ["r", "c"], "left")
        .fillna(0, subset=["cnt"])
        .groupBy(item_col)
        .agg(F.min("cnt").cast("long").alias("est_count"))
    )


# ---------------------------------------------------------------------------
# KMV (bottom-k) sketch: one mergeable sketch giving BOTH a distinct-count
# estimate and a uniform sample of the distinct values (so quantile
# estimates too) — Bar-Yossef et al., "Counting distinct elements in a
# data stream" (RANDOM 2002); beats keeping HLL + a separate sampler when
# both metrics are needed, and is the only sketch here whose quantile is
# over DISTINCT values (see the module docstring).
# ---------------------------------------------------------------------------

_TWO_63 = float(2**63)
_TWO_64 = float(2**64)


def _hash_pos(h):  # xxhash64 long -> uniform (0, 1)
    return (h.cast("double") + _TWO_63 + 1.0) / (_TWO_64 + 2.0)


def kmv_partials(
    df: DataFrame,
    key_col: str,
    part_col: str,
    value_col: str,
    k: int = 64,
) -> DataFrame:
    """Level 1: per (key, part) bottom-k sketch — the k DISTINCT values
    with the smallest xxhash64, as a sorted array of (h, v) structs.

    Shape: distinct -> per-group window rank by hash -> keep k ->
    collect_list. The window sorts only within (key, part) groups (never
    global), and the output is FIXED-SIZE per group regardless of input
    rows — the materialize-once ingest aggregation, like daily_sketches.
    Deterministic: xxhash64 has no RNG state."""
    from pyspark.sql import Window

    hv = df.select(
        key_col,
        part_col,
        F.struct(
            F.xxhash64(F.col(value_col)).alias("h"),
            F.col(value_col).cast("double").alias("v"),
        ).alias("hv"),
    ).distinct()
    w = Window.partitionBy(key_col, part_col).orderBy(F.col("hv.h"))
    return (
        hv.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .groupBy(key_col, part_col)
        .agg(F.array_sort(F.collect_list("hv")).alias("sketch"))
    )


def kmv_merge_estimate(
    partials: DataFrame, key_col: str, k: int = 64
) -> DataFrame:
    """Level 2: merge each key's part-sketches (union of (h, v) pairs,
    re-truncate to the k smallest hashes) and read off:

    - est_nd: the KMV estimator (k-1)/u_k, where u_k is the k-th smallest
      hash mapped to (0,1) — or the exact sample size when fewer than k
      distinct values exist (the sketch then holds ALL of them);
    - est_p50: the median of the sampled values. Bottom-k-by-hash is a
      uniform sample of the DISTINCT values, so sample quantiles estimate
      distinct-value quantiles.

    Merging touches O(parts x k) rows per key — never the raw data."""
    from pyspark.sql import Window

    exploded = (
        partials.select(key_col, F.explode("sketch").alias("hv"))
        .select(key_col, "hv.h", "hv.v")
        .distinct()  # same (h, v) may appear in several part-sketches
    )
    w = Window.partitionBy(key_col).orderBy("h")
    bottom = (
        exploded.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
    )
    agg = bottom.groupBy(key_col).agg(
        F.count("*").alias("__n"),
        F.max(F.when(F.col("__rn") == k, _hash_pos(F.col("h")))).alias("__uk"),
        F.expr("percentile(v, 0.5)").alias("est_p50"),
    )
    est = F.when(
        F.col("__n") < k, F.col("__n").cast("double")
    ).otherwise((k - 1) / F.col("__uk"))
    return agg.select(
        key_col,
        F.round(est).cast("long").alias("est_nd"),
        F.round("est_p50", 4).alias("est_p50"),
    )


def theta_overlap_estimate(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Theta-sketch SET ALGEBRA (Dasgupta et al., "A Framework for
    Estimating Stream Expression Cardinalities", ICDT 2016): estimate
    |A ∪ B|, |A ∩ B| and Jaccard(A, B) of two groups' distinct-value sets
    from their sketches alone — sketch every shard once, answer any
    pairwise overlap later. One filtered scan builds both sketches;
    Jaccard = intersection / union.

    Returns ONE row: (est_union double, est_inter double, est_jaccard
    double)."""
    g, v = F.col(group_col), F.col(value_col)
    sk = df.filter(g.isin(group_a, group_b)).agg(
        F.theta_sketch_agg(F.when(g == group_a, v)).alias("__sa"),
        F.theta_sketch_agg(F.when(g == group_b, v)).alias("__sb"),
        F.count(F.when(g == group_a, 1)).alias("__na"),
        F.count(F.when(g == group_b, 1)).alias("__nb"),
    )
    # FAIL LOUDLY on an empty group (ADVICE r6): an empty group's Theta
    # sketch is an EMPTY sketch (estimate 0), not NULL, so the estimates
    # would silently read 0 / NaN and flow into downstream math — the
    # opposite of sample_train_matrix's empty-input ValueError. The guard
    # tests the per-group ROW counts and lives INSIDE every output column
    # so no projection of the result can prune it (review r7 — reproduced
    # live with .select("est_jaccard")), and the single global-agg row
    # always exists to evaluate it.
    empty_a, empty_b = F.col("__na") == 0, F.col("__nb") == 0
    empty_err = F.raise_error(
        F.concat(
            F.lit("theta_overlap_estimate: empty group ("),
            F.when(empty_a, F.lit(f"{group_a!r} has no rows; ")).otherwise(F.lit("")),
            F.when(empty_b, F.lit(f"{group_b!r} has no rows; ")).otherwise(F.lit("")),
            F.lit("an overlap estimate needs both groups non-empty)"),
        )
    )

    def guarded(est):
        return F.when(empty_a | empty_b, empty_err.cast("double")).otherwise(est)

    union = F.theta_sketch_estimate(F.theta_union("__sa", "__sb")).cast("double")
    inter = F.theta_sketch_estimate(
        F.theta_intersection("__sa", "__sb")
    ).cast("double")
    return sk.select(
        guarded(union).alias("est_union"),
        guarded(inter).alias("est_inter"),
        guarded(inter / union).alias("est_jaccard"),
    )


# ---------------------------------------------------------------------------
# Roaring-style bitmap partials: mergeable EXACT distinct counting
# ---------------------------------------------------------------------------


def bitmap_daily_partials(
    df: DataFrame, key_col: str, id_col: str, ts_col: str = "ts"
) -> DataFrame:
    """Level 1 of the EXACT twin of `daily_sketches`: one fixed-width
    bitmap per (key, day, bucket) via Spark's bitmap aggregates
    (bitmap_bucket_number / bitmap_bit_position / bitmap_construct_agg).

    Where the HLL rollup trades exactness for a ~1.6% RSE, the bitmap
    partial is EXACT and still mergeable: each bucket covers a fixed
    32768-id range, so a partial is a <= 4 KiB blob no matter how many
    rows fed it, two partials for the same (key, day-range, bucket)
    merge with a byte-wise OR (bitmap_or_agg), and the partial count is
    the number of buckets the id domain actually touches — for dense
    surrogate ids that is |ids|/32768 blobs per (key, day). That makes
    exact distinct-over-any-day-range O(days x touched_buckets), never
    O(rows), which is the 100 TB posture; HLL remains the fallback when
    the id domain is sparse/unbounded (strings, uuids)."""
    return (
        df.filter(F.col(ts_col).isNotNull())
        .groupBy(
            key_col,
            F.to_date(ts_col).alias("day"),
            F.bitmap_bucket_number(F.col(id_col)).alias("bucket"),
        )
        .agg(
            F.bitmap_construct_agg(
                F.bitmap_bit_position(F.col(id_col))
            ).alias("bm")
        )
    )


def bitmap_distinct_rollup(partials: DataFrame, key_col: str) -> DataFrame:
    """Level 2: exact distinct per key over all days (OR-merge each
    bucket's daily bitmaps, count bits, sum buckets) plus the per-day
    profile (day count, busiest-day distinct) — every aggregate reads
    the PARTIALS only, never raw rows. Pass a persisted `partials` when
    both consumers should reuse one materialization."""
    per_day = partials.groupBy(key_col, "day").agg(
        F.sum(F.bitmap_count("bm")).alias("daily_nd")
    )
    merged = (
        partials.groupBy(key_col, "bucket")
        .agg(F.bitmap_count(F.bitmap_or_agg("bm")).alias("bucket_nd"))
        .groupBy(key_col)
        .agg(F.sum("bucket_nd").alias("nd"))
    )
    days = per_day.groupBy(key_col).agg(
        F.count("*").alias("n_days"),
        F.max("daily_nd").alias("max_daily_nd"),
    )
    return merged.join(days, key_col)
