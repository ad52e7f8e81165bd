"""Unit tests for operators/similarity.py: exact cosine arithmetic, plan
shape (no cartesian in the LSH path), and LSH recall on planted clusters
vs the brute-force truth — the check SURVEY/VERDICT ask for in place of a
SQL oracle for approximate ANN."""

from __future__ import annotations

import math
import random

from pyspark.sql import Column
from pyspark.sql import functions as F

from reddit_big_data_spark.operators.similarity import (
    brute_force_topk,
    cosine,
    lsh_topk,
)


def test_cosine_exact(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [0.0, 1.0]), ([1.0, 2.0], [2.0, 4.0])],
        "a: array<float>, b: array<float>",
    )
    got = [r["c"] for r in df.select(cosine(F.col("a"), F.col("b")).alias("c")).collect()]
    assert abs(got[0] - 0.0) < 1e-12
    assert abs(got[1] - 1.0) < 1e-12


def _planted(seed: int = 7, n_clusters: int = 5, per_cluster: int = 8, dims: int = 16):
    rng = random.Random(seed)
    rows, vid = [], 0
    for c in range(n_clusters):
        base = [rng.gauss(0, 1) for _ in range(dims)]
        for _ in range(per_cluster):
            noisy = [x + rng.gauss(0, 0.05) for x in base]
            rows.append((vid, c, [float(x) for x in noisy]))
            vid += 1
    return rows


def test_brute_force_topk_finds_cluster_mates(spark):
    rows = _planted()
    df = spark.createDataFrame(rows, "vec_id: long, label: int, embedding: array<float>")
    queries = df.filter(F.col("vec_id") < 3)  # all from cluster 0
    top = brute_force_topk(df, queries, k=5).collect()
    labels = {r[0]: r[1] for r in rows and [(x[0], x[1]) for x in rows]}
    assert len(top) == 15
    # every neighbor of a cluster-0 query is cluster 0 (noise is tiny)
    assert all(labels[r["neighbor_id"]] == 0 for r in top)


def test_lsh_recall_on_planted_clusters(spark):
    rows = _planted()
    df = spark.createDataFrame(rows, "vec_id: long, label: int, embedding: array<float>")
    queries = df.filter(F.col("vec_id") % 8 == 0)  # one probe per cluster
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(df, queries, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in lsh_topk(df, queries, k=5, n_planes=6, n_tables=4, dims=16).collect()
    }
    recall = len(truth & approx) / len(truth)
    assert recall >= 0.8, f"LSH recall {recall} below 0.8"


def test_lsh_plan_no_cartesian(spark):
    rows = _planted(n_clusters=2, per_cluster=4)
    df = spark.createDataFrame(rows, "vec_id: long, label: int, embedding: array<float>")
    q = df.filter(F.col("vec_id") == 0)
    plan = lsh_topk(df, q, k=3, n_planes=4, n_tables=2, dims=16)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_brute_force_math_matches_numpy(spark):
    rows = _planted(n_clusters=2, per_cluster=3)
    df = spark.createDataFrame(rows, "vec_id: long, label: int, embedding: array<float>")
    q = df.filter(F.col("vec_id") == 0)
    got = {r["neighbor_id"]: r["cosine_sim"] for r in brute_force_topk(df, q, k=5).collect()}
    emb = {r[0]: r[2] for r in rows}

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / math.sqrt(sum(x * x for x in a)) / math.sqrt(sum(y * y for y in b))

    for nid, c in got.items():
        assert abs(c - round(cos(emb[0], emb[nid]), 6)) < 2e-6


def test_ivf_recall_on_planted_clusters(spark):
    from reddit_big_data_spark.operators.similarity import ivf_topk

    rows = _planted()
    df = spark.createDataFrame(rows, "vec_id: long, label: int, embedding: array<float>")
    queries = df.filter(F.col("vec_id") % 8 == 1)
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(df, queries, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(df, queries, k=5, n_cells=5, nprobe=2).collect()
    }
    recall = len(truth & approx) / len(truth)
    assert recall >= 0.8, f"IVF recall {recall} below 0.8"


def test_ivf_assignment_is_total(spark):
    from reddit_big_data_spark.operators.similarity import ivf_assign, make_centroids

    rows = _planted(n_clusters=3, per_cluster=5)
    df = spark.createDataFrame(rows, "vec_id: long, label: int, embedding: array<float>")
    cents = make_centroids(df, k=4)
    assigned = ivf_assign(df, cents)
    assert assigned.count() == df.count()  # every vector lands in exactly one cell
    assert assigned.select("cell").distinct().count() <= 4


def _pair_set(df):
    return {(r["id_a"], r["id_b"]) for r in df.collect()}


def _pairs_via(df, engine, **gate):
    """Candidate pairs from cosine_candidate_pairs, asserting the size
    gate picked `engine`: the broadcast engine streams through
    mapInPandas, the blocked one through a grouped applyInPandas."""
    from reddit_big_data_spark.operators.similarity import cosine_candidate_pairs
    from reddit_big_data_spark.plans.audit import plan_nodes

    out = cosine_candidate_pairs(df, 0.6, **gate)
    names = {n for n, _ in plan_nodes(out._jdf.queryExecution().executedPlan())}
    node = {"broadcast": "MapInPandasExec", "blocked": "FlatMapGroupsInPandasExec"}
    assert node[engine] in names, (engine, sorted(names))
    return _pair_set(out)


def test_blocked_candidate_pairs_match_broadcast(spark):
    """VERDICT r2 #3: the distributed triangle-blocked path must return
    IDENTICAL pairs to the driver-broadcast path (both are exact; the
    blocked one just removes the driver-memory bound). block_rows=7 forces
    many blocks, including ragged and same-block (diagonal) groups."""
    rows = [(vid, emb) for vid, _, emb in _planted(seed=3, n_clusters=4, per_cluster=10)]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    want = _pairs_via(df, "broadcast")
    got = _pairs_via(df, "blocked", broadcast_threshold_rows=0, block_rows=7)
    assert want  # planted clusters must actually produce pairs
    assert got == want


def test_blocked_single_block_degenerate(spark):
    rows = [(vid, emb) for vid, _, emb in _planted(seed=5, n_clusters=2, per_cluster=4)]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    want = _pairs_via(df, "broadcast")
    got = _pairs_via(df, "blocked", broadcast_threshold_rows=0, block_rows=10**6)
    assert got == want


def test_auto_gate_routes_to_blocked(spark):
    """A zero broadcast threshold must route through the blocked path
    and still produce the exact pair set."""
    rows = [(vid, emb) for vid, _, emb in _planted(seed=11, n_clusters=3, per_cluster=6)]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    want = _pairs_via(df, "broadcast")
    got = _pairs_via(df, "blocked", broadcast_threshold_rows=0, block_rows=5)
    assert got == want


def test_ivf_trained_centroids_recall_and_balance(spark):
    """train_iters>0 runs the real Lloyd's index build. On planted
    clusters with first-k seeds all drawn from cluster 0 (ids 0..7 = one
    blob), training must (a) keep recall >= the untrained path's bar and
    (b) spread the corpus over more than one populated cell."""
    from reddit_big_data_spark.operators.similarity import (
        ivf_assign,
        ivf_topk,
        make_centroids,
    )

    rows = _planted(seed=13, n_clusters=5, per_cluster=8)
    df = spark.createDataFrame(rows, "vec_id: long, label: int, embedding: array<float>")
    queries = df.filter(F.col("vec_id") % 8 == 1)
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(df, queries, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(df, queries, k=5, n_cells=5, nprobe=2, train_iters=3).collect()
    }
    recall = len(truth & approx) / len(truth)
    assert recall >= 0.8, f"trained-IVF recall {recall} below 0.8"

    trained = make_centroids(df, k=5, train_iters=3)
    pops = (
        ivf_assign(df, trained).groupBy("cell").count().collect()
    )
    sizes = sorted(r["count"] for r in pops)
    # 5 planted blobs, 5 trained cells: no cell may swallow the corpus
    assert len(sizes) >= 3
    assert sizes[-1] <= 3 * 8


def test_hyperplanes_not_aliased_at_high_dims():
    """Regression (round-3 review): with an additive pre-mix, plane j at
    dim 64+i equalled plane j+1 at dim i once dims > 64 — shifted-copy
    planes again. The mixed seed must keep planes independent at any
    dims."""
    from reddit_big_data_spark.operators.similarity import _hyperplane

    for dims in (128, 256):
        p0 = _hyperplane(0, 0, dims)
        p1 = _hyperplane(0, 1, dims)
        assert p0[64:128] != p1[0:64]
        # and no plane is a constant or a duplicate of another
        planes = [tuple(_hyperplane(t, j, dims)) for t in range(3) for j in range(4)]
        assert len(set(planes)) == len(planes)
        assert all(len(set(p)) == 2 for p in planes)


def lsh_table_buckets(emb: Column, n_planes: int, n_tables: int, dims: int) -> Column:
    """The literal-planes reference for the broadcast-planes signature
    path: all tables' buckets at once, array<struct<tbl int, bucket
    string>>. Per-table bucket id = the sign pattern of that table's
    `n_planes` hyperplane dots as a bit-string, with every hyperplane
    inlined as an F.lit tree. The sign bits are computed inside a
    one-element transform so `bs` is a bound lambda attribute, evaluated
    once per row."""
    from reddit_big_data_spark.operators.similarity import _hyperplane

    planes = F.array(
        *[
            F.array(*[F.lit(w) for w in _hyperplane(t, j, dims)])
            for t in range(n_tables)
            for j in range(n_planes)
        ]
    )
    vec = emb.cast("array<double>")
    bits = F.transform(
        planes,
        lambda p: F.when(
            F.aggregate(
                F.zip_with(vec, p, lambda x, y: x * y),
                F.lit(0.0),
                lambda a, v: a + v,
            )
            >= 0,
            F.lit("1"),
        ).otherwise(F.lit("0")),
    )
    return F.element_at(
        F.transform(
            F.array(bits),
            lambda bs: F.transform(
                F.sequence(F.lit(0), F.lit(n_tables - 1)),
                lambda t: F.struct(
                    t.cast("int").alias("tbl"),
                    F.array_join(
                        F.slice(bs, t * F.lit(n_planes) + 1, n_planes), ""
                    ).alias("bucket"),
                ),
            ),
        ),
        1,
    )


def test_broadcast_planes_match_literal_reference(spark):
    """The broadcast-planes signature path (one-row planes frame +
    constant-key hash join) must bucket IDENTICALLY to the literal-based
    reference `lsh_table_buckets` — the optimization changes plan shape,
    never hash values."""
    from reddit_big_data_spark.operators.similarity import (
        _banded_signatures,
        _planes_frame,
        _with_planes,
    )

    rows = _planted(seed=3, n_clusters=3, per_cluster=4, dims=16)
    df = spark.createDataFrame(rows, "vec_id: long, label: int, embedding: array<float>")
    n_planes, n_tables, dims = 4, 3, 16
    ref = {
        (r["vec_id"], r["tb"]["tbl"]): r["tb"]["bucket"]
        for r in df.select(
            "vec_id",
            F.explode(
                lsh_table_buckets(F.col("embedding"), n_planes, n_tables, dims)
            ).alias("tb"),
        ).collect()
    }
    planes = _planes_frame(spark, n_planes, n_tables, dims)
    got = {
        (r["vec_id"], r["tb"]["tbl"]): r["tb"]["bucket"]
        for r in _with_planes(df, planes, "vec_id")
        .select(
            "vec_id",
            F.explode(
                _banded_signatures("embedding", n_planes, n_tables)
            ).alias("tb"),
        )
        .collect()
    }
    assert got == ref and len(ref) == len(rows) * n_tables


def test_pq_recall_on_planted_clusters(spark):
    from reddit_big_data_spark.operators.pq import pq_topk

    rows = _planted()
    df = spark.createDataFrame(rows, "vec_id: long, label: int, embedding: array<float>")
    queries = df.filter(F.col("vec_id") % 8 == 2)
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(df, queries, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in pq_topk(df, queries, k=5, dims=16, m=4, ksub=8, rerank=10).collect()
    }
    recall = len(truth & approx) / len(truth)
    assert recall >= 0.8, f"PQ recall {recall} below 0.8"


def test_pq_encode_shape_and_determinism(spark):
    from reddit_big_data_spark.operators.pq import pq_encode, train_pq_codebooks

    rows = _planted(seed=5, n_clusters=3, per_cluster=5)
    df = spark.createDataFrame(rows, "vec_id: long, label: int, embedding: array<float>")
    cb = train_pq_codebooks(df, "vec_id", "embedding", dims=16, m=4, ksub=8)
    assert len(cb) == 4 and all(len(sub) == 8 for sub in cb)
    assert all(len(c) == 4 for sub in cb for c in sub)
    a = {r["vec_id"]: r["codes"] for r in pq_encode(df, cb).collect()}
    b = {r["vec_id"]: r["codes"] for r in pq_encode(df, cb).collect()}
    assert a == b and len(a) == len(rows)
    assert all(0 <= c < 8 for codes in a.values() for c in codes)
    # identical training reruns produce identical codebooks (no RNG state)
    cb2 = train_pq_codebooks(df, "vec_id", "embedding", dims=16, m=4, ksub=8)
    assert cb == cb2


def test_pq_reconstruction_fidelity(spark):
    """Decoding a vector's codes back to centroids must land close to the
    normalized original — the property ADC ranking actually relies on.
    (Code AGREEMENT between cluster mates is NOT guaranteed: seeds from
    one tight cluster give two near-identical centroids and mates split
    across the Voronoi boundary, while both decode to ~the same point.)"""
    from reddit_big_data_spark.operators.pq import pq_encode, train_pq_codebooks

    rows = _planted(seed=11, n_clusters=4, per_cluster=6)
    df = spark.createDataFrame(rows, "vec_id: long, label: int, embedding: array<float>")
    cb = train_pq_codebooks(df, "vec_id", "embedding", dims=16, m=4, ksub=8)
    codes = {r["vec_id"]: r["codes"] for r in pq_encode(df, cb).collect()}
    sims = []
    for vid, _, emb in rows:
        n = math.sqrt(sum(x * x for x in emb))
        orig = [x / n for x in emb]
        recon = [x for j, c in enumerate(codes[vid]) for x in cb[j][c]]
        d = sum(a * b for a, b in zip(orig, recon))
        sims.append(
            d
            / (
                math.sqrt(sum(a * a for a in orig))
                * math.sqrt(sum(b * b for b in recon))
            )
        )
    # tiny-corpus quantization is lossy for outlier vectors; a DECODE bug
    # (wrong code indexing / subspace order) would push these toward 0
    assert sum(sims) / len(sims) >= 0.85, sum(sims) / len(sims)
    assert min(sims) >= 0.6, min(sims)


def test_ivfpq_recall_on_planted_clusters(spark):
    from reddit_big_data_spark.operators.pq import ivfpq_topk

    rows = _planted()
    df = spark.createDataFrame(rows, "vec_id: long, label: int, embedding: array<float>")
    queries = df.filter(F.col("vec_id") % 8 == 3)
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(df, queries, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ivfpq_topk(
            df, queries, k=5, dims=16, n_cells=5, nprobe=2, m=4, ksub=8, rerank=10
        ).collect()
    }
    recall = len(truth & approx) / len(truth)
    assert recall >= 0.8, f"IVF-PQ recall {recall} below 0.8"


def test_sample_train_matrix_guards_and_determinism(spark):
    """The shared FAISS-style sample trainer: empty input raises a clear
    ValueError (not a numpy IndexError downstream), repeat calls return
    the identical matrix, and lloyd_rounds keeps emptied clusters."""
    import numpy as np
    import pytest

    from reddit_big_data_spark.operators.clustering import (
        lloyd_rounds,
        sample_train_matrix,
    )

    empty = spark.createDataFrame([], "vec_id: long, embedding: array<double>")
    with pytest.raises(ValueError, match="no training vectors"):
        sample_train_matrix(empty, "vec_id", "embedding")

    df = spark.createDataFrame(
        [(i, [float(i), float(i % 3)]) for i in range(20)],
        "vec_id: long, embedding: array<double>",
    )
    a = sample_train_matrix(df, "vec_id", "embedding", train_rows=8)
    b = sample_train_matrix(df, "vec_id", "embedding", train_rows=8)
    assert a.shape == (8, 2) and (a == b).all()

    # a far-away seed no point wins keeps its coordinates verbatim
    x = np.array([[0.0, 0.0], [0.1, 0.0], [0.2, 0.0]])
    seeds = np.array([[0.1, 0.0], [99.0, 99.0]])
    out = lloyd_rounds(x, seeds, iters=2)
    assert (out[1] == seeds[1]).all()
    assert abs(out[0][0] - 0.1) < 1e-12  # mean of all three points


def test_semdedup_k_formula():
    from reddit_big_data_spark.queries.similarity import (
        SEMDEDUP_K_MAX,
        SEMDEDUP_K_MIN,
        semdedup_k,
    )

    assert semdedup_k(0) == SEMDEDUP_K_MIN
    assert semdedup_k(500) == SEMDEDUP_K_MIN  # sf0.01 corpus: unchanged k
    assert semdedup_k(2000) == 20  # sf0.1 corpus
    assert semdedup_k(10**9) == SEMDEDUP_K_MAX  # centroid-memory knee


def test_semdedup_pair_growth_subquadratic(spark):
    """VERDICT r6 #2: with k scaled to corpus size, SemDeDup's
    cluster-scoped candidate-pair count must grow SUB-quadratically in N
    (a constant k gives O(N^2/k)). Empirical pin: 4x the corpus, fitted
    growth exponent < 1.8, and the LARGEST cluster's pair count stays
    bounded (expected cluster size is constant by construction)."""
    import numpy as np

    from reddit_big_data_spark.operators.clustering import kmeans_assign
    from reddit_big_data_spark.queries.similarity import semdedup_k

    stats = {}
    for n in (1000, 4000):
        rng = np.random.default_rng(7)
        vecs = rng.normal(size=(n, 16)).round(4)
        df = spark.createDataFrame(
            [(i, [float(x) for x in vecs[i]]) for i in range(n)],
            "id: long, vec: array<double>",
        )
        assigned = kmeans_assign(df, "id", "vec", k=semdedup_k(n), iters=2)
        sizes = [r["count"] for r in assigned.groupBy("cluster").count().collect()]
        stats[n] = {
            "pairs": sum(s * (s - 1) // 2 for s in sizes),
            "max_pairs": max(s * (s - 1) // 2 for s in sizes),
        }
    ratio = stats[4000]["pairs"] / stats[1000]["pairs"]
    exponent = math.log(ratio) / math.log(4)
    # Constant k would give exponent ~2 (pairs scale 16x); the scaled-k
    # contract keeps it near 1. Measured ~0.93 on the seeded corpus.
    assert exponent < 1.8, f"pair growth exponent {exponent:.2f} (ratio {ratio:.1f})"
    # Largest cluster's pair work must not blow up either: 4x corpus may
    # not cost more than 4x the max-cluster pairs (measured ~1.2x).
    assert stats[4000]["max_pairs"] < 4 * stats[1000]["max_pairs"], stats


def test_topk_excludes_zero_magnitude_vectors(spark):
    """Review r14: a zero-magnitude embedding scores NULL cosine (dot/0);
    the shared _topk_tail must EXCLUDE it — not emit NULL-sim ranked
    rows — matching the numpy candidate paths where NaN comparisons drop
    such rows. Applies to all four top-k operators via the one tail."""
    from reddit_big_data_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        lsh_topk,
    )

    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, [0.0, 0.0, 0.0]),  # zero vector: NULL cosine vs everything
        (4, [0.8, 0.2, 0.0]),
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = corpus.filter(F.col("vec_id") == 1)
    for op in (brute_force_topk, lsh_topk, ivf_topk):
        out = op(corpus, queries, k=10).collect()
        assert out, op.__name__
        assert all(r["cosine_sim"] is not None for r in out), op.__name__
        assert all(r["neighbor_id"] != 3 for r in out), op.__name__


def test_broadcast_candidate_pairs_empty_corpus(spark):
    """Review r14: an empty corpus used to crash np.stack on the driver
    in the broadcast engine while the blocked engine returned an empty
    frame — both sides of the gate must agree. A 0-row corpus is at or
    under a 0-row threshold, so the blocked side needs a negative one."""
    from reddit_big_data_spark.operators.similarity import (
        cosine_candidate_pairs,
    )

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    for gate in (2_000_000, -1):
        out = cosine_candidate_pairs(empty, 0.5, broadcast_threshold_rows=gate)
        assert out.count() == 0, gate
        assert out.columns == ["id_a", "id_b"], gate
