"""Exact set-similarity join via prefix filtering (PPJoin-style).

The LSH family (operators/dedup.py) trades recall for speed; this operator
is the EXACT counterpart: every pair with Jaccard >= t is found, yet the
pair space is never materialized all-pairs. The guarantee comes from the
prefix-filtering principle (Chaudhuri et al., "A Primitive Operator for
Similarity Joins", ICDE 2006; Xiao et al. PPJoin, WWW 2008):

    Order every set by one global token order. If J(a, b) >= t, then the
    first |s| - ceil(t * |s|) + 1 tokens of each set (its "prefix") must
    share at least one token.

So candidates = pairs sharing >= 1 PREFIX token — an equi-join on the
token, exactly like LSH banding but with a 100% recall floor. Ordering by
ascending corpus frequency puts the RAREST tokens in the prefix, which
minimizes candidate fan-out (frequent tokens never join).

Plan shape (all native, no UDF):
  explode sets -> groupBy(token) df counts -> join back -> per-set
  row_number by (df, token) -> keep (extended) prefix rows ->
  self-equi-join on (token, size-bucket) (+ exact size pruning
  t*|a| <= |b|) -> groupBy pair (match count + deepest match) ->
  adaptive count filter + accumulated PPJoin positional bound ->
  exact verify.

Length partitioning (PassJoin-flavored; Li et al., "PassJoin: A
Partition-based Method for Similarity Joins", PVLDB 2012 apply it to
edit distance — here the set-size analogue): Jaccard >= t forces
t*|probe| <= |index| <= |probe|, a size window spanning a factor of
exactly 1/t. Bucketing sizes GEOMETRICALLY with ratio 1/t therefore
means any qualifying pair lands within one bucket-width, so the probe
side explodes at most ~2-3 bucket ids and the join key becomes
(token, bucket). Size-incompatible pairs — ~40% of the raw token-join
fan-out on the uniform-df word-soup corpus (measured 12.0M -> 7.4M rows
at sf0.1) — are now never materialized by the join at all, instead of
being filtered afterwards.

Scale notes: the token-frequency join and the prefix self-join shuffle on
the token — skew lives in frequent tokens, which prefix selection mostly
excludes (a token appears in a prefix only when it is among the rarest of
its set). Size + positional pruning bound fan-out further. Set elements
are xxhash64-ed to longs up front, so every downstream shuffle carries
8-byte keys and exact verification intersects long arrays, not strings
(Jaccard over distinct 64-bit hashes equals Jaccard over the elements up
to a ~2^-64-per-pair collision). Verification joins sets back by id
(broadcast-able) and is explicitly repartitioned to the session's
parallelism — AQE would otherwise coalesce the small candidate shuffle
(pairs of longs) into a couple of tasks and serialize the CPU-heavy
intersect work.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from reddit_big_data_spark.operators.dedup import jaccard

# Recall-safety guard: prefix length and size bounds must never be
# UNDER-estimated from float noise in t * |s| (e.g. 0.6 * 5 straddling 3).
_EPS = 1e-9
# Adaptive prefix extension: tokens added to each prefix (see
# prefix_candidates).
_PREFIX_EXT = 4


def _hash_sets(df: DataFrame, id_col: str, set_col: str) -> DataFrame:
    """Replace each set of elements with its set of xxhash64 values."""
    return df.select(
        F.col(id_col),
        F.array_distinct(
            F.transform(F.col(set_col), lambda x: F.xxhash64(x))
        ).alias(set_col),
    )


def prefix_candidates(
    df: DataFrame, id_col: str, set_col: str, threshold: float
) -> DataFrame:
    """(id_a, id_b) candidate pairs, id_a < id_b — a SUPERSET of all pairs
    with Jaccard >= threshold (prefix-filter guarantee), generated by an
    equi-join on prefix tokens, never all-pairs.

    Asymmetric prefixes (PPJoin §4, Xiao et al. WWW 2008): order sets by
    (size, id). For a qualifying pair, the LATER set's probing prefix
    (|s| - ceil(t*|s|) + 1 rarest tokens) must share a token with the
    EARLIER set's shorter index prefix (|s| - ceil(2t/(1+t)*|s|) + 1) —
    at t=0.6 the index side is ~37% shorter than a symmetric join's,
    which cuts candidate fan-out roughly proportionally while recall
    stays 1.0 (property-tested against brute force).

    Adaptive prefix extension (ext = _PREFIX_EXT; Wang et al., "Can we
    beat the prefix filtering?", SIGMOD 2012): both prefixes are
    lengthened by ext tokens (capped at the set size) and a qualifying
    pair must then share >= ext+1 prefix tokens. Proof sketch: with
    <= ext matches, the (ext+1)-th smallest shared token is unmatched,
    so it sits beyond one side's EXTENDED prefix; the >= O-ext shared
    tokens from it onward all fit in that side's tail, giving
    O <= (|s| - base_prefix_len), which already contradicts the overlap
    requirement (the classic l=0 bound).
    When a prefix caps at the whole set, every shared token is matched,
    so c >= ceil(min_overlap) holds instead — hence the required count is
    least(ext+1, ceil(min_overlap)). This is the decisive filter on
    uniform-df corpora (VERDICT r4 #3): random near-miss pairs share ONE
    prefix token ~quadratically often but >= ext+1 tokens geometrically
    rarely, so candidates collapse (measured 2.37M -> thousands on the
    sf0.1 word-soup corpus) at the cost of ~(1 + ext/prefix)^2 more raw
    join rows.

    The multi-match count also upgrades the positional filter to PPJoin's
    accumulated form: grouping matches per pair, overlap <=
    c + min(|p| - last_rn_p, |i| - last_rn_i) (every shared token ordered
    before the deepest match is itself a match — both its positions are
    below the deepest match's, hence inside both extended prefixes), so
    pairs whose bound misses min_overlap are dropped exactly. Matches are
    monotone in both rank coordinates (shared global token order), so the
    deepest match's coordinates are simply (max rn_p, max rn_i) — two
    primitive max aggregates, not an interpreted struct-ordering max.

    Length partitioning (module docstring): sizes are bucketed
    geometrically with ratio 1/t, the index side joins under its own
    bucket, and the probe side explodes the (<= 2-3) bucket ids its size
    window [ceil(t*|p|), |p|] can reach. Recall is preserved because the
    bucket function is MONOTONE in the size: every compatible index size
    lies between the probe's two endpoint sizes, so its bucket lies
    between the endpoint buckets, all computed by the one expression."""
    t = float(threshold)
    if t <= 0.0:
        # t <= 0 makes every pair qualify — an all-pairs cartesian the
        # whole operator exists to avoid. Refuse it loudly: with the
        # geometric size bucket a non-positive t would otherwise yield a
        # degenerate log base, null buckets, and a SILENT empty candidate
        # set (recall 0, the worst failure mode for an exact join).
        raise ValueError(
            f"similarity-join threshold must be in (0, 1], got {t}: "
            "thresh <= 0 qualifies every pair (use a cross join if you "
            "really mean that)"
        )
    l = _PREFIX_EXT
    ex = df.select(
        F.col(id_col).alias("__id"),
        F.size(set_col).alias("__sz"),
        F.explode(set_col).alias("__tok"),
    )
    freq = ex.groupBy("__tok").agg(F.count("*").alias("__df"))
    w = Window.partitionBy("__id").orderBy("__df", "__tok")
    probe_len = F.least(
        F.col("__sz") - F.ceil(F.lit(t) * F.col("__sz") - _EPS) + 1 + l,
        F.col("__sz"),
    )
    index_len = F.least(
        F.col("__sz")
        - F.ceil(F.lit(2.0 * t / (1.0 + t)) * F.col("__sz") - _EPS)
        + 1
        + l,
        F.col("__sz"),
    )
    par = df.sparkSession.sparkContext.defaultParallelism
    pref = (
        ex.join(freq, "__tok")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= probe_len)
        .withColumn("__ix", F.col("__rn") <= index_len)
        .select("__id", "__tok", "__sz", "__rn", "__ix")
        # Materialize ONCE before the self-join: its two shuffle-map
        # stages run concurrently, so each would otherwise re-execute the
        # whole explode -> frequency-join -> window prefix computation
        # (measured ~2x the q36 candidate stage; same trap as the
        # components symmetrize-union, VERDICT r2 #1). Prefix rows are
        # |sets| x prefix_len — tiny next to the corpus.
        .localCheckpoint()
    )
    # Geometric size bucket, ratio 1/t: any qualifying pair's sizes land
    # at most one bucket-width apart. For t >= 1 only equal sizes qualify
    # and any monotone bucket works (base 2 avoids log base 1). The +1e-9
    # only steadies exact powers; monotonicity, not exactness, carries
    # the recall proof, and both sides evaluate the SAME expression.
    base = 1.0 / t if t < 1.0 else 2.0

    def bkt(size_col):
        return F.floor(F.log(float(base), size_col) + F.lit(1e-9))

    # Explicit partition count on the two join branches: their shuffles
    # are tiny (prefix rows of longs), so AQE would coalesce the
    # k^2-fan-out join stage down to a couple of tasks; the explicit
    # repartition keeps it wide AND co-partitions both sides on the full
    # join key (no extra exchange at the join).
    n_join = par * 2
    i = (
        pref.filter(F.col("__ix"))
        .select(
            F.col("__id").alias("__id_i"),
            "__tok",
            F.col("__sz").alias("__sz_i"),
            F.col("__rn").alias("__rn_i"),
            bkt(F.col("__sz")).alias("__bkt"),
        )
        .repartition(n_join, "__tok", "__bkt")
    )
    p = (
        pref.select(
            F.col("__id").alias("__id_p"),
            "__tok",
            F.col("__sz").alias("__sz_p"),
            F.col("__rn").alias("__rn_p"),
            F.explode(
                F.sequence(
                    # Clamp the window's lower size endpoint to 1: for
                    # pathologically small t (or a size straddling _EPS),
                    # ceil(t*sz - eps) evaluates to 0, log(0) is NULL,
                    # sequence(NULL, x) is NULL, and explode would then
                    # SILENTLY drop the probe row — invisible recall
                    # loss, the exact failure mode the t<=0 guard exists
                    # to prevent (ADVICE r6). Compatible index sizes are
                    # always >= 1 (empty sets emit no tokens), so the
                    # clamp never excludes a qualifying pair.
                    bkt(
                        F.greatest(
                            F.lit(1),
                            F.ceil(F.lit(t) * F.col("__sz") - _EPS),
                        )
                    ),
                    bkt(F.col("__sz")),
                )
            ).alias("__bkt"),
        )
        .repartition(n_join, "__tok", "__bkt")
    )
    # One row per matched prefix token; per-pair aggregation (replaces the
    # old per-row filter + distinct — same shuffle count, pairs arrive
    # deduped). The (size, deepest-rank) pair of each side travels PACKED
    # into one long (r17, guide §2.3 — shuffle fewer bytes): the size is
    # constant within a pair group, so max(packed) == (size << 32) | max
    # rank, and the pair-agg exchange carries 4 longs per row instead of
    # 6 (measured 162 MB -> ~119 MB at sf0.1 for q36's candidate stage).
    # Ranks and sizes are bounded by the set size, far below 2^31.
    def packed(sz_col: str, rn_col: str):
        # cast BEFORE the shift: shiftleft on an IntegerType wraps at 32
        # bits and would corrupt the packing
        return F.shiftleft(F.col(sz_col).cast("long"), 32) + F.col(rn_col)

    grouped = (
        p.join(i, ["__tok", "__bkt"])
        # the indexed set precedes the probing set in (size, id) order
        .filter(
            (F.col("__sz_i") < F.col("__sz_p"))
            | (
                (F.col("__sz_i") == F.col("__sz_p"))
                & (F.col("__id_i") < F.col("__id_p"))
            )
        )
        # Jaccard >= t forces t*|p| <= |i| (|i| <= |p| holds by the
        # order); buckets are coarse, so the exact size check stays.
        .filter(F.lit(t) * F.col("__sz_p") <= F.col("__sz_i") + _EPS)
        .select(
            "__id_p",
            "__id_i",
            packed("__sz_p", "__rn_p").alias("__pk_p"),
            packed("__sz_i", "__rn_i").alias("__pk_i"),
        )
        .groupBy("__id_p", "__id_i")
        .agg(
            F.count("*").alias("__c"),
            F.max("__pk_p").alias("__mp"),
            F.max("__pk_i").alias("__mi"),
        )
        .select(
            "__id_p",
            "__id_i",
            "__c",
            F.shiftright("__mp", 32).alias("__sz_p"),
            F.col("__mp").bitwiseAND(F.lit(0xFFFFFFFF)).alias("__lp"),
            F.shiftright("__mi", 32).alias("__sz_i"),
            F.col("__mi").bitwiseAND(F.lit(0xFFFFFFFF)).alias("__li"),
        )
    )
    min_overlap = F.lit(t / (1.0 + t)) * (F.col("__sz_p") + F.col("__sz_i"))
    required_c = F.least(F.lit(l + 1), F.ceil(min_overlap - _EPS))
    overlap_ubound = F.col("__c") + F.least(
        F.col("__sz_p") - F.col("__lp"),
        F.col("__sz_i") - F.col("__li"),
    )
    return (
        grouped.filter(F.col("__c") >= required_c)
        .filter(overlap_ubound >= min_overlap - _EPS)
        .select(
            F.least("__id_p", "__id_i").alias("id_a"),
            F.greatest("__id_p", "__id_i").alias("id_b"),
        )
    )


def similarity_join(
    df: DataFrame,
    id_col: str,
    set_col: str,
    threshold: float,
) -> DataFrame:
    """EXACT Jaccard self-join: (id_a, id_b, jaccard) for every pair with
    Jaccard >= threshold. Prefix-filtered candidates (adaptively extended
    prefixes, see prefix_candidates) over xxhash64-ed elements + exact
    verification; precision and recall are both 1.0 (unlike
    MinHash-LSH)."""
    # consumed by candidate generation + both verify joins
    df = _hash_sets(df, id_col, set_col).persist()
    par = df.sparkSession.sparkContext.defaultParallelism
    cand = prefix_candidates(df, id_col, set_col, threshold)
    sets_a = df.select(F.col(id_col).alias("id_a"), F.col(set_col).alias("__s_a"))
    sets_b = df.select(F.col(id_col).alias("id_b"), F.col(set_col).alias("__s_b"))
    return (
        # Explicit round-robin split: candidates are pairs of longs, so AQE
        # sees a tiny shuffle and would coalesce the CPU-heavy intersect
        # stage onto a couple of cores.
        cand.repartition(par)
        .join(sets_a, "id_a")
        .join(sets_b, "id_b")
        .withColumn("jaccard", jaccard(F.col("__s_a"), F.col("__s_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
