"""Scaling-curve harness (VERDICT r6 #3): EMPIRICAL evidence that the
banded/bucketed flagship operators grow sub-quadratically with corpus
size — the 100x-posture claims argued from plan shapes, now measured.

For each flagship family this runs the operator's OWN candidate-stage
code path (not a reimplementation) at every scale factor and records:

- ``n_input``      rows feeding the candidate stage (docs / vectors)
- ``candidates``   candidate rows the stage emits (the join fan-out that
                   dominates work at scale)
- ``shuffle_records`` delta of cluster-wide shuffle WRITE records while
                   running the FULL registered query to a noop sink (from
                   Spark's AppStatusStore stage metrics — real shuffled
                   rows, not an estimate)

Families and their candidate stages:

- q31  MinHash-LSH near-dup : operators/dedup.lsh_candidate_pairs (32x4
       threshold-matched banded equi-join on the q31 shingle input)
- q36  exact prefix simjoin : operators/simjoin.prefix_candidates at
       t=0.6 on the q36 (hashed) shingle input
- q41  LSH ANN              : operators/similarity.lsh_ann_candidates
       (4 planes x 12 tables, the q41 configuration)
- q102 flat PQ ANN          : a LINEAR SCAN by construction — every
       corpus row is ADC-scored per probe, so candidates =
       |corpus| x |queries| exactly (recorded from the two counts; the
       scale path for corpus growth is q104's IVF-PQ cell join, whose
       probe cost is nprobe/nlist of the corpus)
- q112 substring dedup      : the positional k-gram anchor table (one
       row per (doc, start) — sum(max(0, len-k+1)) over docs), the
       shuffle-volume driver of the Lee-et-al-shaped dedup; linear in
       corpus tokens by construction (no suffix array, no pair join)
- q98  simhash hamming join : operators/dedup.simhash_band_candidates
       at the PRODUCTION adaptive width (r9, VERDICT r8 #4:
       w = 16 + ceil(log2(n/500)) per band via adaptive_band_width) —
       the exact join's pigeonhole collision fan-out, sub-quadratic by
       the log2(n) width rule (the registry query pins the 64-bit
       oracle instance)
- q105 incremental near-dup : the cross-set banded join's distinct
       (new, index) pairs — q31's 32x4 banding restricted to
       batch-probes-index (r9, VERDICT r8 #9: the one banded dedup
       family previously without a measured exponent)
- q116 SemDeDup             : cluster-scoped pair counts (sum of
       C(size, 2)) after the production kmeans_assign at
       k = semdedup_k(N) — the r6 k-scaling fix measured on the
       production path (r8, VERDICT r7 #7)

Exponent fit: least-squares slope of log(candidates) vs log(n_input)
over ALL measured points (the driver testdata repeats row counts
between sf0.001 and sf0.01 with different content; each measurement is
kept as evidence — least squares handles repeated sizes natively and
needs >= 2 distinct sizes for a slope). Sub-quadratic == exponent < 2; the
banded paths measure ~1 (see SCALING.json), because bucket/prefix
granularity scales with the corpus. tests/test_scaling.py pins the
exponents in CI at the two distinct documents/embeddings sizes.

Usage: ``python scaling.py`` writes SCALING.json next to this file and
prints it. ``SPARK_GRAFT_SCALING_SFS`` overrides the sf-dir list
(comma-separated).
"""

from __future__ import annotations

import json
import math
import os

from pyspark.sql import functions as F


# Retained-stage floor that rules out AppStatusStore eviction for a full
# harness run (a complete sweep submits ~2-3k stages; 200k is two orders
# of magnitude of headroom). main() creates its session with this value;
# run() records the synthetic families' shuffle column only when the
# live session meets it (VERDICT r11 #7a).
_NO_EVICTION_RETAINED_STAGES = 200_000


def shuffle_write_records(spark) -> int:
    """Cluster-lifetime total of shuffle records WRITTEN, summed over the
    stages retained by the AppStatusStore. Measure deltas around a
    bounded region (the store retains spark.ui.retainedStages stages;
    deltas spanning eviction are clamped at 0 by callers).

    The store is fed ASYNCHRONOUSLY by the listener bus — reading right
    after a job finishes can miss its stages entirely (the synthetic
    families' first SCALING.json run read 0 shuffle records for jobs
    that demonstrably shuffled) — so drain the bus first."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    gw = sc._gateway
    store = sc._jsc.sc().statusStore()
    seq = store.stageList(
        gw.jvm.java.util.ArrayList(),  # all statuses
        False,
        False,
        gw.new_array(gw.jvm.double, 0),
        gw.jvm.java.util.ArrayList(),
    )
    total = 0
    it = seq.iterator()
    while it.hasNext():
        total += it.next().shuffleWriteRecords()
    return int(total)


def _doc_shingles(spark, sf_dir: str):
    """Exactly q31/q36's candidate input: 2-word shingles of normalized
    document tokens (queries/dedup._tokens + word_shingles)."""
    from reddit_big_data_spark.operators.dedup import word_shingles
    from reddit_big_data_spark.queries.dedup import _tokens

    toks = _tokens(spark, sf_dir)
    return toks.select(
        "doc_id", word_shingles(F.col("toks"), 2).alias("shingles")
    )


def measure_q31(spark, sf_dir: str) -> dict:
    from reddit_big_data_spark.operators.dedup import lsh_candidate_pairs
    from reddit_big_data_spark.queries.dedup import (
        _NEARDUP_BANDS,
        _NEARDUP_EST_CUT,
        _NEARDUP_ROWS,
    )

    sh = _doc_shingles(spark, sf_dir)
    out = {
        "n_input": sh.count(),
        # raw banded admissions: a threshold-matched curve admits the
        # corpus's near/below-threshold similarity mass, which on this
        # template-generated corpus is a constant allpairs fraction
        "candidates": lsh_candidate_pairs(
            sh, "doc_id", "shingles", bands=_NEARDUP_BANDS, rows=_NEARDUP_ROWS
        ).count(),
    }
    # drop the raw call's persisted signature/band tables before the
    # gated twin re-derives its own — without this boundary the two
    # calls' 128-long signature caches coexist and pile onto the sweep's
    # LRU (ADVICE r12); counts are complete, so the release is safe
    sh.sparkSession.catalog.clearCache()
    # what the exact shingle-set verify actually sees: candidates after
    # q31's production signature-estimate gate (est >= _NEARDUP_EST_CUT).
    # Deliberately a second full operator call (re-deriving signatures)
    # rather than a hand-rolled est join over the first call's pairs:
    # the harness measures PRODUCTION stages only (review r9), at the
    # price of ~2x wall-clock for this family.
    out["verify_pairs"] = lsh_candidate_pairs(
        sh, "doc_id", "shingles",
        bands=_NEARDUP_BANDS, rows=_NEARDUP_ROWS, est_cut=_NEARDUP_EST_CUT,
    ).count()
    return out


def measure_q36(spark, sf_dir: str) -> dict:
    from reddit_big_data_spark.operators.simjoin import (
        _hash_sets,
        prefix_candidates,
    )

    sh = _hash_sets(_doc_shingles(spark, sf_dir), "doc_id", "shingles")
    return {
        "n_input": sh.count(),
        "candidates": prefix_candidates(
            sh, "doc_id", "shingles", threshold=0.6
        ).count(),
    }


def measure_q41(spark, sf_dir: str) -> dict:
    from reddit_big_data_spark.operators.similarity import lsh_ann_candidates
    from reddit_big_data_spark.sources.io import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return {
        "n_input": emb.count(),
        "candidates": lsh_ann_candidates(
            emb, queries, n_planes=4, n_tables=12
        ).count(),
    }


def measure_q112(spark, sf_dir: str) -> dict:
    """Substring-level dedup (q112): the shuffle-volume driver is the
    positional k-gram table — exactly one row per (doc, start position),
    so sum(max(0, len - k + 1)) over docs. Linear in corpus TOKENS by
    construction (the Lee et al. anchor trick's whole point: no suffix
    array, no pair join — one shuffle on the gram digest)."""
    from reddit_big_data_spark.queries.dedup import _tokens

    toks = _tokens(spark, sf_dir)
    k = 8  # q112's anchor length
    row = toks.select(
        F.count("*").alias("n"),
        F.sum(
            F.greatest(F.lit(0), F.size("toks") - (k - 1))
        ).alias("grams"),
    ).collect()[0]
    return {"n_input": int(row["n"]), "candidates": int(row["grams"])}


def measure_q102(spark, sf_dir: str) -> dict:
    from reddit_big_data_spark.sources.io import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    n = emb.count()
    nq = emb.filter(F.col("vec_id") < 10).count()
    # Flat PQ is a scan: every corpus row is ADC-scored against every
    # probe (pq_topk's codes x broadcast(probes) join) — candidates are
    # |corpus| x |queries| BY CONSTRUCTION, minus the self matches.
    return {"n_input": n, "candidates": n * nq - nq}


def measure_q98(spark, sf_dir: str) -> dict:
    """SimHash hamming join (q98): candidates are the operator's OWN
    pigeonhole band-collision pairs at the PRODUCTION scale
    configuration — simhash_hamming_pairs_scaled's corpus-adaptive
    chunk width w = adaptive_band_width(n) (VERDICT r8 #4: the chunk
    width grows with log2(n), holding spurious collision mass ~linear;
    the registry query q98 keeps the 64-bit oracle-pinned instance, so
    the width actually measured is recorded per scale)."""
    from reddit_big_data_spark.operators.dedup import (
        adaptive_band_width,
        simhash_band_candidates,
        simhash_wide,
    )
    from reddit_big_data_spark.queries.dedup import _tokens

    toks = _tokens(spark, sf_dir)
    n = toks.count()
    width = adaptive_band_width(n)
    bits = 4 * width
    sig = simhash_wide(toks, "doc_id", "toks", bits=bits)
    return {
        "n_input": n,
        "band_width": width,
        "candidates": simhash_band_candidates(
            sig, "doc_id", bits=bits, bands=4
        ).count(),
    }


def measure_q105(spark, sf_dir: str) -> dict:
    """Incremental ingest-vs-index screen (q105): candidates are the
    CROSS-SET banded join's distinct (new, index) pairs, via the SAME
    operator the registered query runs (cross_set_lsh_candidates at
    q105's 32x4 banding and src0 index predicate — review r9 factored it
    out so this measurement cannot drift from the production stage).
    The one banded dedup family without a measured exponent until r9
    (VERDICT r8 #9)."""
    from reddit_big_data_spark.operators.dedup import cross_set_lsh_candidates
    from reddit_big_data_spark.queries.dedup import (
        _NEARDUP_BANDS,
        _NEARDUP_EST_CUT,
        _NEARDUP_ROWS,
    )
    from reddit_big_data_spark.sources.io import read_table

    src = read_table(spark, sf_dir, "documents").select("doc_id", "source")
    sh = _doc_shingles(spark, sf_dir).join(src, "doc_id")
    out = {
        "n_input": sh.count(),
        "candidates": cross_set_lsh_candidates(
            sh, "doc_id", "shingles", "source", "src0",
            bands=_NEARDUP_BANDS, rows=_NEARDUP_ROWS,
        ).count(),
    }
    # same cache boundary as measure_q31: release the raw call's persisted
    # band table before the gated twin caches its own (ADVICE r12)
    spark.catalog.clearCache()
    out["verify_pairs"] = cross_set_lsh_candidates(
        sh, "doc_id", "shingles", "source", "src0",
        bands=_NEARDUP_BANDS, rows=_NEARDUP_ROWS, est_cut=_NEARDUP_EST_CUT,
    ).count()
    return out


def measure_q116(spark, sf_dir: str) -> dict:
    """SemDeDup (q116): candidates are the cluster-scoped pair counts —
    sum over clusters of C(size, 2) after the PRODUCTION assignment path
    (the same seeded kmeans_assign at k = semdedup_k(N) the registered
    query runs), i.e. exactly the rows q116's cluster equi-join emits
    before the cosine filter. This measures the r6 k-scaling fix on the
    production path (VERDICT r7 #7): k grows with N to hold expected
    cluster size constant, so total pair work is ~linear above the K_MIN
    clamp (the clamp makes the smallest corpora run FEWER, larger
    clusters — steeper apparent growth at the small end, bounded < 2)."""
    from reddit_big_data_spark.operators.clustering import kmeans_assign
    from reddit_big_data_spark.queries.similarity import semdedup_k
    from reddit_big_data_spark.sources.io import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    n = emb.count()
    assigned = kmeans_assign(
        emb, "vec_id", "embedding", k=semdedup_k(n), iters=2
    )
    row = (
        assigned.groupBy("cluster")
        .agg(F.count("*").alias("sz"))
        .select(
            F.sum(F.col("sz") * (F.col("sz") - 1) / 2).alias("pairs")
        )
        .collect()[0]
    )
    return {"n_input": n, "candidates": int(row["pairs"])}


def measure_q142(spark, sf_dir: str) -> dict:
    """Triangle counting (q142): candidates are the ACTUAL wedge-join
    fan-out of the production plan — oriented e1 JOIN e2 ON e1.hi =
    e2.lo rows (paths lo->hi->w), via the exact shared builders the
    registered query uses (copurchase_edges -> degree_table ->
    orient_edges). n_input is the EDGE count m: the Suri-Vassilvitskii
    bound is wedges <= m^1.5 (each out-degree <= O(sqrt(m)) after
    degree ordering), so the fitted exponent vs m must land under 1.5
    regardless of hub skew — the 'last reducer' curse the orientation
    exists to kill (VERDICT r9 #4: this was argued in the q142
    docstring, unmeasured)."""
    from reddit_big_data_spark.queries.graph import (
        copurchase_edges,
        degree_table,
        orient_edges,
    )

    edges = copurchase_edges(spark, sf_dir).persist()
    m = edges.count()
    deg = degree_table(edges)
    oriented = orient_edges(edges, deg).persist()
    e2 = oriented.select(F.col("lo").alias("hi"), F.col("hi").alias("w"))
    wedges = oriented.join(e2, "hi").count()
    edges.unpersist()
    oriented.unpersist()
    return {"n_input": m, "candidates": wedges}


def measure_q152(spark, sf_dir: str) -> dict:
    """Bounded BFS (q152): candidates are the TOTAL frontier-join
    fan-out across the three hops — the rows each hop's
    frontier-JOIN-edges emits BEFORE dedup/anti-join (the real per-hop
    work), on the registered query's own graph (symmetrized
    support-thresholded co-purchase edges) and seed rule (max-degree
    hub). Each hop's fan-out is bounded by the total symmetrized edge
    mass 2m (a node's edges are traversed at most once from a frontier
    containing it, and anti-join dedup keeps every node in at most one
    frontier), so total work <= hops * 2m — linear in m, the property
    that makes frontier BFS the scale-correct pattern vs path
    enumeration (VERDICT r9 #4)."""
    from reddit_big_data_spark.queries.graph import copurchase_edges

    par = spark.sparkContext.defaultParallelism
    edges = copurchase_edges(spark, sf_dir)
    und = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col("u"), F.col("v")),
                    F.struct(F.col("v").alias("u"), F.col("u").alias("v")),
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
        .repartition(par, "u")
        .localCheckpoint()
    )
    m2 = und.count()
    hub = (
        und.groupBy("u")
        .agg(F.count("*").alias("d"))
        .orderBy(F.desc("d"), "u")
        .first()
    )
    seed = spark.createDataFrame([(hub["u"], 0)], "node long, hop int")
    visited, frontier = seed, seed
    fanout = 0
    for h in (1, 2, 3):
        joined = frontier.join(und, frontier["node"] == und["u"])
        fanout += joined.count()
        new = (
            joined.select(und["v"].alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
            .select("node", F.lit(h).alias("hop"))
            .localCheckpoint()
        )
        visited = visited.unionAll(new)
        frontier = new
    return {"n_input": m2, "candidates": fanout}


def measure_q160(spark, sf_dir: str) -> dict:
    """Two-phase global ranking (q160's rank stage; the same
    operators/ranking.py path underlies q18, q156, q158, q159, q160 —
    VERDICT r9 #7a): the scale hazard of a total order is the single
    reducer, and the design's claim is that repartitionByRange spreads
    the sort evenly at any scale. Measured on the production stage
    itself (range_partitioned + partition_sizes, the operator's own
    phase 1) over q160's input (per-customer revenue ordered by
    (rev, custkey)): candidates = the LARGEST partition's rows (the
    worst reducer's work — exponent ~1 with the fixed partition count,
    vs a single-partition window where it would be n itself at 32x the
    slope constant), and `balance` = max/ideal, the skew ratio the CI
    pins near 1 at every scale."""
    from reddit_big_data_spark.operators.ranking import (
        partition_sizes,
        range_partitioned,
    )
    from reddit_big_data_spark.sources.io import read_table

    per_cust = (
        read_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            ).alias("rev")
        )
    )
    ranged = range_partitioned(per_cust, ["rev", "o_custkey"])
    sizes = list(partition_sizes(ranged).values())
    n = sum(sizes)
    n_used = max(1, len([s for s in sizes if s > 0]))
    return {
        "n_input": n,
        "candidates": max(sizes) if sizes else 0,
        "n_partitions": len(sizes),
        "balance": round(max(sizes) / (n / n_used), 4) if n else 0.0,
    }


# ---------------------------------------------------------------------------
# Density-controlled SYNTHETIC graph measurements (VERDICT r10 #5): the
# co-purchase graph's density FALLS as sf grows (the support>=2 threshold
# thins it: edge count near-flat while lineitem rows grow 10x), so the
# cross-sf exponents for the graph family are confounded and SCALING.json
# pins only per-scale bounds there. These measures run the SAME production
# builders (degree_table / orient_edges / the q152 frontier loop / the
# q164 peel loop) on a planted generator with FIXED density, so the
# fitted slopes are honest:
#
#   ring (connectivity) + d=6 hash-chords per node (fixed density,
#   m ~ 7n) + a planted HUB adjacent to every 10th node (the skew the
#   orientation and hub-seeded BFS must survive) + a planted 32-clique
#   (a nontrivial k-core fixpoint the peel must NOT erode).
#
# Deterministic by construction (xxhash64 chords), pure DataFrame
# expressions — no driver-side edge list, so the generator itself scales.
# ---------------------------------------------------------------------------
SYNTHETIC_SIZES = [1000, 4000, 16000]
_SYN_KCORE_K = 12


def synthetic_graph(spark, n: int, d: int = 6) -> "DataFrame":
    nodes = spark.range(n).select(F.col("id").alias("u"))
    ring = nodes.select("u", ((F.col("u") + 1) % n).alias("v"))
    chords = nodes.select(
        "u", F.explode(F.sequence(F.lit(1), F.lit(d))).alias("c")
    ).select("u", (F.abs(F.xxhash64("u", "c")) % n).alias("v"))
    hub = spark.range(0, n, 10).select(
        F.lit(0).cast("long").alias("u"), F.col("id").alias("v")
    )
    clique = (
        spark.range(32)
        .select(F.col("id").alias("u"))
        .crossJoin(spark.range(32).select(F.col("id").alias("v")))
        .filter("u < v")
    )
    edges = ring.unionAll(chords).unionAll(hub).unionAll(clique)
    return (
        edges.filter(F.col("u") != F.col("v"))
        .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
        .distinct()
    )


def measure_synthetic_wedges(spark, n: int) -> dict:
    """q142's wedge join on the fixed-density graph: with degrees bounded
    by a constant (plus one hub the orientation defuses), wedge fan-out
    must grow ~linearly in m — the honest slope the co-purchase confound
    hides."""
    from reddit_big_data_spark.queries.graph import degree_table, orient_edges

    edges = synthetic_graph(spark, n).persist()
    m = edges.count()
    oriented = orient_edges(edges, degree_table(edges)).persist()
    e2 = oriented.select(F.col("lo").alias("hi"), F.col("hi").alias("w"))
    wedges = oriented.join(e2, "hi").count()
    edges.unpersist()
    oriented.unpersist()
    return {"n_nodes": n, "n_input": m, "candidates": wedges}


def measure_synthetic_bfs(spark, n: int) -> dict:
    """q152's 3-hop frontier BFS seeded at the planted hub: hop-1 fan-out
    alone is ~n/10, so total fan-out grows ~linearly in m — and stays
    under the hops * 2m anti-join bound at every size."""
    edges = synthetic_graph(spark, n)
    und = (
        edges.select("u", "v")
        .unionAll(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .localCheckpoint()
    )
    m2 = und.count()
    visited = frontier = spark.createDataFrame([(0, 0)], "node long, hop int")
    fanout = 0
    for h in (1, 2, 3):
        joined = frontier.join(und, frontier["node"] == und["u"])
        fanout += joined.count()
        new = (
            joined.select(und["v"].alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
            .select("node", F.lit(h).alias("hop"))
            .localCheckpoint()
        )
        visited = visited.unionAll(new)
        frontier = new
    return {"n_nodes": n, "n_input": m2, "candidates": fanout}


def measure_synthetic_kcore(spark, n: int) -> dict:
    """q164's iterative peel at k=12 (typical degree ~14, so the cascade
    peels everything EXCEPT the planted 32-clique): candidates = total
    edge rows examined across rounds (sum of each round's current m —
    the real work). At fixed density the round count is CONSTANT across
    n (measured: 6 at every size), so total work grows ~linearly in m."""
    from reddit_big_data_spark.queries.graph import degree_table

    edges = synthetic_graph(spark, n).localCheckpoint()
    m = edges.count()
    prev = -1
    rounds = 0
    work = 0
    converged = False
    while rounds <= 64:
        work += edges.count()
        rounds += 1
        keep = (
            degree_table(edges)
            .filter(F.col("d") >= _SYN_KCORE_K)
            .select("node")
            .localCheckpoint()
        )
        n_keep = keep.count()
        if n_keep == prev:
            converged = True
            break
        prev = n_keep
        edges = (
            edges.join(keep.withColumnRenamed("node", "u"), "u")
            .join(keep.withColumnRenamed("node", "v"), "v")
            .select("u", "v")
            .localCheckpoint()
        )
    # ADVICE r11: exiting via the 64-round cap instead of the fixpoint
    # would truncate work/core_nodes; the flag makes such a row
    # self-identify in SCALING.json rather than read as a valid point
    # (the fixed-density corpus converges in ~6 rounds, so converged
    # should always be True — a False here is the signal to investigate).
    return {
        "n_nodes": n,
        "n_input": m,
        "candidates": work,
        "peel_rounds": rounds,
        "core_nodes": prev,
        "converged": converged,
    }


SYNTHETIC_MEASURES = {
    "synthetic_wedges": measure_synthetic_wedges,
    "synthetic_bfs_fanout": measure_synthetic_bfs,
    "synthetic_kcore_peel": measure_synthetic_kcore,
}

SYNTHETIC_NOTES = {
    "synthetic_wedges": (
        "q142's degree-ordered wedge join on the planted fixed-density "
        "graph (ring + 6 hash-chords + hub + 32-clique): the honest "
        "cross-size slope the co-purchase density confound hides — "
        "~linear in m with bounded degrees, hub defused by orientation"
    ),
    "synthetic_bfs_fanout": (
        "q152's 3-hop frontier BFS seeded at the planted hub (degree "
        "n/10): fan-out grows ~linearly in m and stays under the "
        "hops * 2m anti-join bound at every size"
    ),
    "synthetic_kcore_peel": (
        "q164's peel at k=12 on the planted graph: round count constant "
        "(6) at every size — fixed density pins the cascade depth — so "
        "total edge rows examined grow ~linearly in m; the planted "
        "32-clique survives as the exact fixpoint at every size"
    ),
}


MEASURES = {
    "q31_minhash_neardup": measure_q31,
    "q36_prefix_simjoin": measure_q36,
    "q41_lsh_ann": measure_q41,
    "q98_simhash_hamming": measure_q98,
    "q102_pq_ann": measure_q102,
    "q105_incremental_neardup": measure_q105,
    "q112_substring_dedup": measure_q112,
    "q116_semdedup": measure_q116,
    "q142_triangle_count": measure_q142,
    "q152_khop_reachability": measure_q152,
    "q160_gini_revenue": measure_q160,
}

# Paths whose candidate growth MUST be sub-quadratic (banded/bucketed);
# q102 is a documented linear scan (exponent ~1 trivially, asserted too).
#
# q36 is deliberately NOT here: it is the EXACT set-similarity join, and
# its candidate growth on a uniform (word-soup) corpus is intrinsically
# ~quadratic — prefix/positional/length filters prune by large CONSTANT
# factors (measured: candidates are <0.3% of all-pairs at sf0.1, see
# `allpairs_fraction`), but no exact algorithm can beat the Theta(n^2)
# near-miss pair mass such corpora generate (VERDICT r4/r6 accepted
# this; the banded MinHash/SimHash families are the sanctioned route
# when the corpus outgrows the exact join). SCALING.json records q36's
# measured exponent and all-pairs fraction rather than hiding them.
# q98 joined in r9: the measured path is now the adaptive-width band
# join (sub-quadratic by the log2(n) width rule), not the fixed 64-bit
# registry instance.
BANDED = (
    "q31_minhash_neardup",
    "q41_lsh_ann",
    "q112_substring_dedup",
    "q98_simhash_hamming",
    "q105_incremental_neardup",
)
NOTES = {
    "q36_prefix_simjoin": (
        "exact join: candidate growth is intrinsically ~quadratic on "
        "uniform corpora; the pruning claim is the all-pairs FRACTION "
        "(constant-factor), and the banded families are the scale route"
    ),
    "q98_simhash_hamming": (
        "exact hamming join (recall 1.0 by pigeonhole, width-"
        "independent): measured at the PRODUCTION adaptive-width path "
        "(simhash_hamming_pairs_scaled, w = 16 + ceil(log2(n/500)) per "
        "band) — growing the chunk width with log2(n) cancels one "
        "factor of n in the ~bands * allpairs * 2^-w spurious collision "
        "mass, so candidates grow ~linearly; the registry query q98 "
        "pins the fixed 64-bit instance for the DuckDB oracle. NB "
        "shuffle_records/shuffle_exponent come from running that fixed "
        "64-bit REGISTRY query (run() times every family's registered "
        "query for shuffle), not the adaptive path — only "
        "candidate_exponent/band_width describe the adaptive "
        "configuration (review r9)"
    ),
    "q116_semdedup": (
        "cluster-scoped pairs at k = clamp(ceil(N/100), 10, 4096): "
        "per-vector pair work is the designed TARGET_CLUSTER/2 constant "
        "in the unclamped regime (linear total); the K_MIN clamp makes "
        "the smallest corpora run fewer, larger clusters, steepening "
        "the small-end fit (tests/test_scaling.py pins both claims)"
    ),
    "q102_pq_ann": (
        "flat ADC scan: candidates = |corpus| x |queries| by "
        "construction (linear in corpus for a fixed probe set); q104 "
        "IVF-PQ is the cell-scoped variant"
    ),
    "q105_incremental_neardup": (
        "cross-set banded join: each ingest batch probes the stored "
        "index band table only at colliding buckets — never re-pairs "
        "the index against itself; same 32x4 banding as q31"
    ),
    "q112_substring_dedup": (
        "k-gram anchor table: one row per (doc, position) — linear in "
        "corpus tokens, shuffled once on the gram digest (no suffix "
        "array, no pair join)"
    ),
    "q142_triangle_count": (
        "degree-ordered wedge join (Suri-Vassilvitskii): n_input is the "
        "EDGE count m; orientation bounds every out-degree at sqrt(2m) "
        "so wedge fan-out <= sqrt(2) * m^1.5 regardless of hub skew. NB "
        "the fitted cross-sf exponent is CONFOUNDED on this testdata: "
        "the support>=2 co-purchase graph gets sparser as the corpus "
        "grows (edge count near-flat, degrees collapsing), so the "
        "honest CI pin is the PER-SCALE bound wedges <= sqrt(2)*m^1.5 "
        "(tests/test_scaling.py), not the slope. The shuffle_records column "
        "is dominated by the basket self-join UPSTREAM of the graph (its "
        "input is lineitem rows, which DO grow 10x per sf while m stays "
        "near-flat), so shuffle_exponent vs m is the same confound, not "
        "a regression signal"
    ),
    "q152_khop_reachability": (
        "frontier BFS: n_input is the symmetrized edge mass 2m; "
        "candidates are the summed per-hop frontier-join fan-out, "
        "bounded by hops * 2m (anti-join dedup keeps every node in at "
        "most one frontier) — linear in m vs the exponential path "
        "enumeration it replaces; same density confound as q142, so "
        "the CI pin is the per-scale bound. shuffle_records is dominated "
        "by the same upstream basket self-join as q142 (lineitem-driven), "
        "so shuffle_exponent vs the near-flat edge mass carries no signal"
    ),
    "q160_gini_revenue": (
        "two-phase global rank (operators/ranking.py; also under q18, "
        "q156, q158, q159): candidates = the largest range-partition's "
        "rows — the worst reducer's work, ~n/P with the fixed partition "
        "count (exponent ~1, slope constant 1/P) where a single-"
        "partition orderBy window is n itself; `balance` = max/ideal "
        "partition size, pinned near 1 in CI at every scale (the "
        "RangePartitioner sampling claim, measured)"
    ),
}


def fit_exponent(points: list[tuple[int, int]]) -> float | None:
    """Least-squares slope of log(candidates) vs log(n_input) over ALL
    measured points. Same-size points are NOT collapsed: different sf
    dirs can share a row count but hold different content (sf0.001 and
    sf0.01 both ship 500 docs with different text — review r7), so each
    measurement is evidence; least squares handles repeated x values
    natively and is ordering-independent. None when fewer than 2
    DISTINCT sizes (no slope information) or any count is 0 (log
    undefined)."""
    pts = [(n, c) for n, c in points if n > 0]
    if any(c <= 0 for _, c in pts) or len({n for n, _ in pts}) < 2:
        return None
    xs = [math.log(n) for n, _ in pts]
    ys = [math.log(c) for _, c in pts]
    mx = sum(xs) / len(xs)
    my = sum(ys) / len(ys)
    denom = sum((x - mx) ** 2 for x in xs)
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / denom


def run(spark, sf_dirs: list[str], with_shuffle: bool = True) -> dict:
    from reddit_big_data_spark.registry import all_queries

    queries = all_queries()
    out: dict = {"sf_dirs": sf_dirs, "families": {}}
    for name, measure in MEASURES.items():
        rows = []
        for sf_dir in sf_dirs:
            rec = {"sf_dir": sf_dir}
            rec.update(measure(spark, sf_dir))
            if with_shuffle:
                before = shuffle_write_records(spark)
                queries[name].fn(spark, sf_dir).write.mode(
                    "overwrite"
                ).format("noop").save()
                rec["shuffle_records"] = max(
                    0, shuffle_write_records(spark) - before
                )
            # Same boundary mop-up as bench.py: clearCache alone leaves
            # ContextCleaner-owned localCheckpoint blocks (q36's prefix
            # table checkpoints on every measurement) accumulating across
            # the 12-run harness session (review r7).
            spark.catalog.clearCache()
            from reddit_big_data_spark.plans.cache import (
                release_local_checkpoints,
            )

            release_local_checkpoints(spark)
            rows.append(rec)
        for r in rows:
            # candidate pruning as a fraction of the all-pairs join the
            # operator avoids (n*(n-1)/2 for self-joins)
            n = r["n_input"]
            allpairs = n * (n - 1) / 2 or 1
            r["allpairs_fraction"] = round(r["candidates"] / allpairs, 6)
        fam = {"scales": rows}
        fam["candidate_exponent"] = fit_exponent(
            [(r["n_input"], r["candidates"]) for r in rows]
        )
        if all("verify_pairs" in r for r in rows):
            # growth of the exact-verify input AFTER the signature-
            # estimate gate — the stage whose per-pair cost (shingle-set
            # fetch + intersect) dominates at scale
            fam["verify_exponent"] = fit_exponent(
                [(r["n_input"], r["verify_pairs"]) for r in rows]
            )
        if with_shuffle:
            fam["shuffle_exponent"] = fit_exponent(
                [(r["n_input"], r.get("shuffle_records", 0)) for r in rows]
            )
        fam["banded"] = name in BANDED
        if name in NOTES:
            fam["note"] = NOTES[name]
        out["families"][name] = fam
    # Synthetic density-controlled graph families (VERDICT r10 #5): no
    # sf_dir and no registered query to re-run. The shuffle column is
    # recorded ONLY when the session cannot evict stages: the iterative
    # measures (6-round peel, 3-hop BFS) run hundreds of stages late in
    # the harness session, and the AppStatusStore's retained-stage
    # eviction makes cumulative deltas unreliable there (observed in the
    # first run: clamped zeros and a shrinking wedge total on reruns).
    # VERDICT r11 #7a: main() now creates the session with
    # spark.ui.retainedStages high enough that nothing is evicted across
    # the whole harness, restoring exact deltas; sessions without that
    # guarantee (tests reusing a default session) still omit the column
    # rather than record a known-bad number that reads as signal.
    synthetic_shuffle = with_shuffle and (
        int(spark.conf.get("spark.ui.retainedStages", "1000"))
        >= _NO_EVICTION_RETAINED_STAGES
    )
    out["synthetic_sizes"] = SYNTHETIC_SIZES
    for name, measure in SYNTHETIC_MEASURES.items():
        rows = []
        for n in SYNTHETIC_SIZES:
            before = shuffle_write_records(spark) if synthetic_shuffle else 0
            rec = measure(spark, n)
            if synthetic_shuffle:
                rec["shuffle_records"] = max(
                    0, shuffle_write_records(spark) - before
                )
            spark.catalog.clearCache()
            from reddit_big_data_spark.plans.cache import (
                release_local_checkpoints,
            )

            release_local_checkpoints(spark)
            rows.append(rec)
        fam = {"scales": rows}
        fam["candidate_exponent"] = fit_exponent(
            [(r["n_input"], r["candidates"]) for r in rows]
        )
        if synthetic_shuffle:
            fam["shuffle_exponent"] = fit_exponent(
                [(r["n_input"], r.get("shuffle_records", 0)) for r in rows]
            )
        fam["banded"] = False
        fam["note"] = SYNTHETIC_NOTES[name]
        out["families"][name] = fam
    return out


# ---------------------------------------------------------------------------
# Measurement fixture cache (round 16, VERDICT r15 #5): the CI scaling
# pins (tests/test_scaling.py) re-derived every candidate count live on
# every suite run — ~2 min of the 15-minute budget spent re-measuring
# numbers that are DETERMINISTIC functions of (package code, corpus,
# partition conf, Spark build). This cache stores each measure's record
# under exactly that key, same discipline as the oracle truth fixtures
# (oracle_sweep.py): a conservative lineage digest decides validity —
# ANY package/harness source edit, corpus regeneration, partition-conf
# change, or Spark upgrade misses the key and forces a live re-measure
# (the refreshed cache is committed at HEAD, so a reviewer's run at the
# same tree hits it). A rotating live audit
# (tests/test_scaling.py::test_scaling_cache_rotating_audit) re-derives
# one cached entry per suite run and fails on divergence, bounding how
# long a nondeterministic measure could hide behind its cached value.
# ---------------------------------------------------------------------------

SCALING_CACHE_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)),
    "tests", "fixtures", "scaling_counts.json",
)

_CODE_DIGEST: str | None = None


def scaling_code_digest() -> str:
    """md5 over this harness + every package source + the Spark build:
    conservative on purpose (any package edit invalidates every cached
    measurement rather than tracking per-measure lineage)."""
    global _CODE_DIGEST
    if _CODE_DIGEST is not None:
        return _CODE_DIGEST
    import glob as _glob
    import hashlib as _hashlib

    import pyspark as _pyspark

    root = os.path.dirname(os.path.abspath(__file__))
    files = [os.path.abspath(__file__)] + sorted(
        _glob.glob(
            os.path.join(root, "reddit_big_data_spark", "**", "*.py"),
            recursive=True,
        )
    )
    h = _hashlib.md5()
    for p in files:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update(_pyspark.__version__.encode())
    _CODE_DIGEST = h.hexdigest()[:16]
    return _CODE_DIGEST


def _measure_arg_key(arg) -> str:
    """Corpus measures key on the full-corpus content digest (regenerated
    testdata misses); synthetic measures key on the planted size."""
    if isinstance(arg, str):
        from oracle_sweep import corpus_digest

        return f"c{corpus_digest(arg)}"
    return f"n{int(arg)}"


def load_measure_cache() -> dict:
    """The committed cache iff its lineage digest matches the current
    tree; a stale or unreadable cache reads as empty (=> live measure)."""
    try:
        with open(SCALING_CACHE_PATH) as f:
            d = json.load(f)
    except (FileNotFoundError, ValueError):
        return {}
    if d.get("code") != scaling_code_digest():
        return {}
    return d


def cached_measure(spark, measure_fn, arg) -> dict:
    """measure_fn(spark, arg) through the fixture cache: a hit returns
    the committed record without touching Spark; a miss measures live
    and writes through (atomic replace). The entry records the measure
    name and arg so the rotating audit can re-derive it blind."""
    part = spark.conf.get("spark.sql.shuffle.partitions")
    key = f"{measure_fn.__name__}|{_measure_arg_key(arg)}|p{part}"
    cache = load_measure_cache()
    hit = cache.get("entries", {}).get(key)
    if hit is not None:
        return dict(hit["rec"])
    rec = measure_fn(spark, arg)
    full = cache or {"code": scaling_code_digest(), "entries": {}}
    full["entries"][key] = {
        "measure": measure_fn.__name__,
        "arg": arg,
        "rec": rec,
    }
    os.makedirs(os.path.dirname(SCALING_CACHE_PATH), exist_ok=True)
    tmp = SCALING_CACHE_PATH + ".tmp"
    with open(tmp, "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)
    os.replace(tmp, SCALING_CACHE_PATH)
    return dict(rec)


def main() -> int:
    from reddit_big_data_spark.session import get_spark

    sf_dirs = os.environ.get(
        "SPARK_GRAFT_SCALING_SFS",
        "/root/testdata/sf0.001,/root/testdata/sf0.01,/root/testdata/sf0.1",
    ).split(",")
    spark = get_spark(
        app_name="scaling",
        extra_confs={
            # static conf, must be set at session creation: disable
            # stage eviction so cumulative shuffle deltas stay exact
            # across the whole harness (VERDICT r11 #7a)
            "spark.ui.retainedStages": str(_NO_EVICTION_RETAINED_STAGES),
        },
    )
    result = run(spark, sf_dirs)
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "SCALING.json"
    )
    with open(path, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
