"""Similarity-search queries over `embeddings` (vec_id, embedding
array<float>, label): exact brute-force cosine top-k with a full DuckDB
oracle, the LSH/IVF approximate variants (full oracles since round 5 via
per-probe recall-floor booleans vs the in-query exact top-k — bucket/cell
membership itself is not SQL-portable), and a label-centroid similarity
matrix.

Oracle alignment: both engines cast float->double per element BEFORE
multiplying and fold sums sequentially, so cosine values match to the
last bit; outputs round to 6dp and order by the rounded value.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from reddit_big_data_spark.operators.similarity import (
    brute_force_topk,
    dot,
    lsh_topk,
)
from reddit_big_data_spark.registry import register
from reddit_big_data_spark.sources.io import read_table, spread


# --------------------------------------------------------------------------
# q40 — exact ANN baseline: cosine top-5 neighbors for a 10-probe batch
# against the whole corpus. Query side broadcast; corpus scanned once.
# --------------------------------------------------------------------------
@register(
    "q40_cosine_topk",
    oracle="""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e,
             sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
      FROM embeddings
    ),
    q AS (SELECT * FROM v WHERE vec_id < 10),
    scored AS (
      SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
             ROUND(list_sum(list_transform(generate_series(1, len(q.e)),
                                           i -> q.e[i] * v.e[i]))
                   / (q.nrm * v.nrm), 6) AS cosine_sim
      FROM q JOIN v ON v.vec_id <> q.vec_id
    )
    SELECT query_id, neighbor_id, cosine_sim, CAST(rn AS INTEGER) AS rn
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine_sim DESC, neighbor_id) AS rn
      FROM scored
    )
    WHERE rn <= 5
    ORDER BY query_id, rn
    """,
    doc="brute-force cosine top-k, broadcast probe batch (ANN exact baseline)",
)
def q40_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread (r17, guide §2.5/§6): the embeddings table is ONE parquet
    # file, so the scan — and every per-row scoring/signature/assignment
    # pass above it — otherwise runs single-task. All value-producing
    # folds here are row-local, so partitioning cannot move results.
    emb = spread(read_table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 10)
    return brute_force_topk(emb, queries, k=5).orderBy("query_id", "rn")


# Shared DuckDB CTE: exact cosine top-1 per probe (the SQL-checkable half
# of the q41/q43 recall oracles; same fold discipline as q40's oracle).
_EXACT_TOP1_SQL = """
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e,
             sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
      FROM embeddings
    ),
    q AS (SELECT * FROM v WHERE vec_id < 10),
    scored AS (
      SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
             ROUND(list_sum(list_transform(generate_series(1, len(q.e)),
                                           i -> q.e[i] * v.e[i]))
                   / (q.nrm * v.nrm), 6) AS cosine_sim
      FROM q JOIN v ON v.vec_id <> q.vec_id
    ),
    top1 AS (
      SELECT query_id, neighbor_id AS exact_top1_id, cosine_sim AS exact_top1_sim
      FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine_sim DESC, neighbor_id) AS rn
        FROM scored
      ) WHERE rn = 1
    )
"""

# The full recall oracle both ANN queries share: exact top-1 per probe
# (SQL-checkable) + the TRUE literal the in-query recall boolean must
# match. One constant so q41/q43 cannot silently diverge.
_RECALL_ORACLE = (
    _EXACT_TOP1_SQL
    + """
    SELECT query_id, exact_top1_id, exact_top1_sim, TRUE AS recall_ok
    FROM top1
    ORDER BY query_id
    """
)


def _ann_recall_frame(build_ann, exact: DataFrame, floor: int) -> DataFrame:
    """(query_id, exact_top1_id, exact_top1_sim, recall_ok): join the ANN
    result against the exact top-k computed in the SAME query; recall_ok
    asserts >= `floor` of the exact top-k were found. The q31 pattern:
    the driver row then checks ANN RECALL, not just arithmetic.

    `build_ann` is a zero-arg BUILDER returning the ANN DataFrame (r17,
    guide §2.6 — overlap independent driver work): the exact top-k
    materialization below is a full scoring job, and the ANN index
    builds are sequences of driver-blocking training collects, so the
    exact job runs on a driver thread WHILE the index trains, instead of
    as one more serial barrier afterwards."""
    # Materialize the exact top-k once (k x probes rows): it feeds BOTH
    # the hit semi-join and the top-1 projection, and each would
    # otherwise re-run the corpus-scan scoring pass.
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    with ThreadPoolExecutor(max_workers=1) as pool:
        fut = pool.submit(
            inheritable_thread_target(exact.sparkSession)(exact.localCheckpoint)
        )
        ann = build_ann()
        exact = fut.result()
    hits = (
        ann.select("query_id", "neighbor_id")
        .join(
            exact.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
            "left_semi",
        )
        .groupBy("query_id")
        .agg(F.count("*").alias("__hits"))
    )
    top1 = exact.filter(F.col("rn") == 1).select(
        "query_id",
        F.col("neighbor_id").alias("exact_top1_id"),
        F.col("cosine_sim").alias("exact_top1_sim"),
    )
    return (
        top1.join(hits, "query_id", "left")
        .select(
            "query_id",
            "exact_top1_id",
            "exact_top1_sim",
            (F.coalesce(F.col("__hits"), F.lit(0)) >= floor).alias("recall_ok"),
        )
        .orderBy("query_id")
    )


# --------------------------------------------------------------------------
# q41 — LSH-bucketed approximate top-k: the 100 TB path (bucket join prunes
# the pair space; exact cosine reranks). Oracle contract (VERDICT r4 #5):
# bucket membership is implementation-defined, so the query emits per-probe
# recall-vs-exact booleans plus the SQL-checkable exact top-1 — the oracle
# asserts recall_ok = TRUE for every probe. 4 planes x 12 tables puts the
# collision S-curve where the testdata's weak neighbors (cosine 0.25-0.49)
# still collide: observed per-probe hits at sf0.01 are 3-5 of 5 (identical
# min to 16 tables at 25% less work); the floor of 2 leaves 1 hit of
# margin. Deterministic: hyperplanes are splitmix64 constants, no RNG
# state. tests/test_similarity_ops.py separately pins recall >= 0.8 on
# planted clusters.
# --------------------------------------------------------------------------
@register(
    "q41_lsh_ann",
    oracle=_RECALL_ORACLE,
    doc="random-hyperplane LSH ANN with per-probe recall-vs-exact oracle",
)
def q41_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread (r17, guide §2.5/§6): the embeddings table is ONE parquet
    # file, so the scan — and every per-row scoring/signature/assignment
    # pass above it — otherwise runs single-task. All value-producing
    # folds here are row-local, so partitioning cannot move results.
    emb = spread(read_table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 10)
    exact = brute_force_topk(emb, queries, k=5)
    return _ann_recall_frame(
        lambda: lsh_topk(emb, queries, k=5, n_planes=4, n_tables=12),
        exact,
        floor=2,
    )


# --------------------------------------------------------------------------
# q42 — embedding aggregation: per-label centroid (element-wise mean via
# aggregate over zipped arrays) and each label's centroid self-dot — the
# "cluster summary" shape (A8's correlation-matrix cousin for vectors).
# --------------------------------------------------------------------------
@register(
    "q42_label_centroids",
    oracle="""
    WITH flat AS (
      SELECT label, i AS dim, e[i] AS x
      FROM (SELECT label, embedding::DOUBLE[] AS e FROM embeddings),
           generate_series(1, 64) AS g(i)
    ),
    cent AS (
      SELECT label, dim, AVG(x) AS c FROM flat GROUP BY 1, 2
    )
    SELECT label,
           COUNT(*) AS dims,
           ROUND(SUM(c * c), 6) AS centroid_sq_norm,
           ROUND(AVG(c), 6) AS centroid_mean
    FROM cent
    GROUP BY label
    ORDER BY label
    """,
    doc="per-label centroid via posexplode + element-wise mean (vector agg)",
)
def q42_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    flat = emb.select(
        "label", F.posexplode(F.col("embedding"))
    ).select(
        "label", (F.col("pos") + 1).alias("dim"), F.col("col").cast("double").alias("x")
    )
    cent = flat.groupBy("label", "dim").agg(F.avg("x").alias("c"))
    return (
        cent.groupBy("label")
        .agg(
            F.count("*").alias("dims"),
            F.round(F.sum(F.col("c") * F.col("c")), 6).alias("centroid_sq_norm"),
            F.round(F.avg("c"), 6).alias("centroid_mean"),
        )
        .orderBy("label")
    )


# --------------------------------------------------------------------------
# q43 — IVF approximate top-k: coarse-quantize the corpus into cells
# (broadcast centroids trained with 2 Lloyd's rounds — the real index
# build, VERDICT r2; seeds alone skew cell populations), probe only the
# query's nprobe nearest cells. Oracle contract (VERDICT r4 #5): cell
# routing is implementation-defined, so the query emits per-probe
# recall-vs-exact booleans plus the SQL-checkable exact top-1. Observed
# per-probe hits at sf0.01: 4-5 of 5 (nprobe=6 of 16 cells); floor 3
# leaves a hit of margin. Deterministic: k-means init and Lloyd updates
# are seed-free functions of the data. tests/test_similarity_ops.py
# separately pins recall on planted clusters.
# --------------------------------------------------------------------------
@register(
    "q43_ivf_ann",
    oracle=_RECALL_ORACLE,
    doc="IVF coarse-quantized ANN with per-probe recall-vs-exact oracle",
)
def q43_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reddit_big_data_spark.operators.similarity import ivf_topk

    # spread (r17, guide §2.5/§6): the embeddings table is ONE parquet
    # file, so the scan — and every per-row scoring/signature/assignment
    # pass above it — otherwise runs single-task. All value-producing
    # folds here are row-local, so partitioning cannot move results.
    emb = spread(read_table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 10)
    exact = brute_force_topk(emb, queries, k=5)
    return _ann_recall_frame(
        lambda: ivf_topk(emb, queries, k=5, n_cells=16, nprobe=6, train_iters=2),
        exact,
        floor=3,
    )


# --------------------------------------------------------------------------
# q44 — embedding-cosine near-duplicate pairs (the 5th dedup flavor from
# the brief): all pairs with cosine >= 0.35, exact. Two stages:
#   1. candidate pruning at threshold - 1e-6, SIZE-GATED (VERDICT r2 #3):
#      small corpora use the broadcast BLAS matmul; above the gate the
#      EXACT triangle-blocked distributed matmul takes over (no driver
#      collect, no corpus broadcast — operators/similarity.py). The LSH
#      prefilter is deliberately NOT the scale default here: qualifying
#      testdata pairs sit at cosine 0.35-0.55 where hyperplane-bucket
#      recall is <15%, so it exists only as an explicit approximate mode
#      for >=0.9-style thresholds.
#   2. exact verify — the surviving pairs (a tiny fraction) rejoin their
#      arrays and recompute the sequential-fold HOF dot, so final values
#      are bit-identical to the DuckDB oracle's list_sum fold.
# --------------------------------------------------------------------------
@register(
    "q44_cosine_neardup",
    oracle="""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e,
             sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
      FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_sum(list_transform(generate_series(1, len(a.e)),
                                         i -> a.e[i] * b.e[i]))
                 / (a.nrm * b.nrm), 6) AS cosine_sim
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE list_sum(list_transform(generate_series(1, len(a.e)),
                                  i -> a.e[i] * b.e[i]))
          / (a.nrm * b.nrm) >= 0.35
    ORDER BY id_a, id_b
    """,
    doc="exact embedding-cosine near-dup pairs at threshold (dedup flavor 5)",
)
def q44_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reddit_big_data_spark.operators.similarity import cosine_candidate_pairs

    emb = read_table(spark, sf_dir, "embeddings")
    cand = cosine_candidate_pairs(emb, threshold=0.35)
    v = emb.select(
        "vec_id",
        F.col("embedding").alias("e"),
        F.sqrt(dot(F.col("embedding"), F.col("embedding"))).alias("nrm"),
    )
    a = v.select(
        F.col("vec_id").alias("id_a"), F.col("e").alias("e_a"), F.col("nrm").alias("n_a")
    )
    b = v.select(
        F.col("vec_id").alias("id_b"), F.col("e").alias("e_b"), F.col("nrm").alias("n_b")
    )
    # cand (surviving pairs) is the SMALL side; the vector tables are
    # corpus-sized — leave strategy choice to AQE rather than hinting a
    # corpus broadcast (the round-1 q05 mistake).
    pairs = cand.join(a, "id_a").join(b, "id_b")
    sim = dot(F.col("e_a"), F.col("e_b")) / (F.col("n_a") * F.col("n_b"))
    return (
        pairs.withColumn("__s", sim)
        .filter(F.col("__s") >= 0.35)  # exact threshold on the fold value, like the oracle
        .select("id_a", "id_b", F.round("__s", 6).alias("cosine_sim"))
        .orderBy("id_a", "id_b")
    )

# --------------------------------------------------------------------------
# q45 — distributed k-means (Lloyd's, k=10, 2 deterministic rounds) over the
# embeddings: MLlib's own shape (driver-held centroids shipped as literal
# arrays, one codegen'd argmin pass + one k*dim-row centroid agg per round;
# operators/clustering.py). Init = vectors of the 10 smallest vec_ids, ties
# to the lowest cid, so the DuckDB oracle can replay both rounds exactly as
# unrolled CTEs. Output: per-cluster size + mean squared distance.
# --------------------------------------------------------------------------
# Exact SQL replay of kmeans_assign(k, iters=2): seeds = the vectors
# of the k smallest vec_ids, one centroid update, final assignment in
# `a2` (vec_id, cid, d). One parameterized definition shared by q45
# (cluster report, fixed k=10 by contract) and q116 (SemDeDup,
# corpus-scaled k) so the Lloyd replay cannot drift between the two
# oracles. `k_sql` is a SQL expression — a literal for q45, a
# COUNT(*)-derived scalar subquery for q116 (DuckDB allows expressions,
# including subqueries, in LIMIT).
def _kmeans_a2_cte(k_sql: str = "10") -> str:
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    flat AS (
      SELECT vec_id, i AS dim, e[i] AS x
      FROM v, generate_series(1, 64) AS g(i)
    ),
    ids AS (
      SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cid
      FROM v ORDER BY vec_id LIMIT {k_sql}
    ),
    c0 AS (SELECT ids.cid, f.dim, f.x AS c FROM ids JOIN flat f USING (vec_id)),
    d1 AS (
      SELECT f.vec_id, c.cid, SUM((f.x - c.c) * (f.x - c.c)) AS d
      FROM flat f JOIN c0 c USING (dim) GROUP BY 1, 2
    ),
    a1 AS (
      SELECT vec_id, cid FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        FROM d1) WHERE rn = 1
    ),
    c1 AS (
      SELECT a1.cid, f.dim, AVG(f.x) AS c
      FROM a1 JOIN flat f USING (vec_id) GROUP BY 1, 2
    ),
    d2 AS (
      SELECT f.vec_id, c.cid, SUM((f.x - c.c) * (f.x - c.c)) AS d
      FROM flat f JOIN c1 c USING (dim) GROUP BY 1, 2
    ),
    a2 AS (
      SELECT vec_id, cid, d FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        FROM d2) WHERE rn = 1
    )
"""


@register(
    "q45_kmeans",
    oracle=_kmeans_a2_cte("10")
    + """
    SELECT CAST(cid AS INTEGER) AS cluster_id,
           COUNT(*) AS n_vecs,
           ROUND(AVG(d), 4) AS avg_sq_dist
    FROM a2
    GROUP BY cid
    ORDER BY cluster_id
    """,
    doc="Lloyd's k-means, 2 deterministic rounds; per-cluster size + mean sq dist",
)
def q45_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reddit_big_data_spark.operators.clustering import kmeans_assign

    emb = read_table(spark, sf_dir, "embeddings")
    assigned = kmeans_assign(emb, "vec_id", "embedding", k=10, iters=2)
    return (
        assigned.groupBy(F.col("cluster").alias("cluster_id"))
        .agg(
            F.count("*").alias("n_vecs"),
            F.round(F.avg("sq_dist"), 4).alias("avg_sq_dist"),
        )
        .orderBy("cluster_id")
    )

# --------------------------------------------------------------------------
# q46 — int8 embedding quantization (the storage/IO lever for 100 TB ANN:
# 4x smaller vectors, cosine on dequantized values). Per-vector symmetric
# scale 127/max|x|, round-to-int8, dequantize, and measure the cosine
# between each vector and its dequantized self — per label: mean and worst
# fidelity. All native HOFs; folds are sequential on both engines so the
# cosines are bit-identical.
# --------------------------------------------------------------------------
@register(
    "q46_int8_quantization",
    oracle="""
    WITH v AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings
    ),
    s AS (
      SELECT vec_id, label, e,
             127.0 / list_max(list_transform(e, x -> abs(x))) AS sc
      FROM v
    ),
    d AS (
      SELECT vec_id, label, e,
             list_transform(e, x -> round(x * sc) / sc) AS dq
      FROM s
    ),
    c AS (
      SELECT label,
             list_sum(list_transform(generate_series(1, len(e)),
                                     i -> e[i] * dq[i]))
             / (sqrt(list_sum(list_transform(e, x -> x * x)))
                * sqrt(list_sum(list_transform(dq, x -> x * x)))) AS cos
      FROM d
    )
    SELECT label,
           COUNT(*) AS n_vecs,
           ROUND(AVG(cos), 6) AS avg_fidelity,
           ROUND(MIN(cos), 6) AS worst_fidelity
    FROM c
    GROUP BY label
    ORDER BY label
    """,
    doc="int8 symmetric quantization + dequantized-cosine fidelity per label",
)
def q46_int8_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    e = F.col("embedding").cast("array<double>")
    v = emb.select("vec_id", "label", e.alias("e"))
    sc = 127.0 / F.array_max(F.transform(F.col("e"), lambda x: F.abs(x)))
    d = v.withColumn("sc", sc).withColumn(
        "dq", F.transform(F.col("e"), lambda x: F.round(x * F.col("sc")) / F.col("sc"))
    )
    cos = dot(F.col("e"), F.col("dq")) / (
        F.sqrt(dot(F.col("e"), F.col("e"))) * F.sqrt(dot(F.col("dq"), F.col("dq")))
    )
    return (
        d.withColumn("cos", cos)
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.round(F.avg("cos"), 6).alias("avg_fidelity"),
            F.round(F.min("cos"), 6).alias("worst_fidelity"),
        )
        .orderBy("label")
    )

# --------------------------------------------------------------------------
# q48 — embedding-level dedup CLUSTERS: connected components over the exact
# cosine>=0.35 pairs (q44's edge generator) — the terminal step that turns
# near-dup PAIRS into keep-one-per-cluster decisions, demonstrating that
# the dedup composition (candidates -> exact verify -> components) is
# modality-agnostic: q35 runs it on text shingles, this on embeddings.
# Oracle: recursive-CTE transitive closure over the brute-force edges.
# --------------------------------------------------------------------------
@register(
    "q48_embedding_dedup_clusters",
    oracle="""
    WITH RECURSIVE v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e,
             sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
      FROM embeddings
    ),
    edges AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM v a JOIN v b ON a.vec_id < b.vec_id
      WHERE list_sum(list_transform(generate_series(1, len(a.e)),
                                    i -> a.e[i] * b.e[i]))
            / (a.nrm * b.nrm) >= 0.35
    ),
    sym AS (
      SELECT id_a AS src, id_b AS dst FROM edges
      UNION ALL
      SELECT id_b, id_a FROM edges
    ),
    reach(id, r) AS (
      SELECT DISTINCT src, src FROM sym
      UNION
      SELECT s.dst, reach.r FROM reach JOIN sym s ON s.src = reach.id
    ),
    comp AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
    sizes AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM comp GROUP BY 1)
    SELECT comp.id AS vec_id, comp.cluster_id, sizes.cluster_size
    FROM comp JOIN sizes USING (cluster_id)
    ORDER BY vec_id
    """,
    doc="embedding near-dup clusters: cosine edges -> connected components",
)
def q48_embedding_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reddit_big_data_spark.operators.components import dedup_clusters
    from reddit_big_data_spark.operators.similarity import cosine_candidate_pairs

    emb = read_table(spark, sf_dir, "embeddings")
    cand = cosine_candidate_pairs(emb, threshold=0.35)
    v = emb.select(
        "vec_id",
        F.col("embedding").alias("e"),
        F.sqrt(dot(F.col("embedding"), F.col("embedding"))).alias("nrm"),
    )
    a = v.select(F.col("vec_id").alias("id_a"), F.col("e").alias("e_a"), F.col("nrm").alias("n_a"))
    b = v.select(F.col("vec_id").alias("id_b"), F.col("e").alias("e_b"), F.col("nrm").alias("n_b"))
    sim = dot(F.col("e_a"), F.col("e_b")) / (F.col("n_a") * F.col("n_b"))
    edges = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .filter(sim >= 0.35)
        .select("id_a", "id_b")
    )
    return (
        dedup_clusters(edges)
        .withColumnRenamed("doc_id", "vec_id")
        .orderBy("vec_id")
    )


# --------------------------------------------------------------------------
# q102 — product-quantization ANN (FAISS-style PQ/ADC, Jegou et al. TPAMI
# 2011): the memory-bound scale path — vectors compress to m=16 codes and
# the scan ranks by per-subspace lookup tables; the approximate top-100
# re-rank with exact sequential-fold cosine. Same oracle contract as
# q41/q43 (VERDICT r4 #5): code assignment is implementation-defined, so
# the query emits per-probe recall-vs-exact booleans plus the
# SQL-checkable exact top-1. Observed per-probe hits: 5 of 5 at sf0.01,
# 4-5 of 5 at sf0.1; floor 3 leaves >= 1 hit of margin at both scales.
# Deterministic: codebooks seed from the ksub smallest ids, fixed Lloyd
# rounds, argmin ties to the lowest code.
# --------------------------------------------------------------------------
@register(
    "q102_pq_ann",
    oracle=_RECALL_ORACLE,
    doc="product-quantization ADC ANN with per-probe recall-vs-exact oracle",
)
def q102_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reddit_big_data_spark.operators.pq import pq_topk

    # spread (r17, guide §2.5/§6): the embeddings table is ONE parquet
    # file, so the scan — and every per-row scoring/signature/assignment
    # pass above it — otherwise runs single-task. All value-producing
    # folds here are row-local, so partitioning cannot move results.
    emb = spread(read_table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 10)
    exact = brute_force_topk(emb, queries, k=5)
    return _ann_recall_frame(
        lambda: pq_topk(emb, queries, k=5, m=16, rerank=100),
        exact,
        floor=3,
    )


# --------------------------------------------------------------------------
# q104 — IVF-PQ ANN (the canonical combined FAISS index): coarse inverted
# cells + product-quantized residuals; a probe scans only its nprobe
# nearest cells' code lists (a CELL EQUI-JOIN, unlike q102's flat-PQ
# broadcast scan) and scores with <q,c_cell> + residual table lookups;
# the approximate top-100 re-rank exactly. Same recall-oracle contract as
# q41/q43/q102. Observed per-probe hits: 4-5 of 5 at sf0.01 AND sf0.1;
# floor 3 leaves a hit of margin. Deterministic end-to-end (seeded
# Lloyd's for cells and codebooks, argmin ties to lowest index).
# --------------------------------------------------------------------------
@register(
    "q104_ivfpq_ann",
    oracle=_RECALL_ORACLE,
    doc="IVF-PQ residual-coded ANN with per-probe recall-vs-exact oracle",
)
def q104_ivfpq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reddit_big_data_spark.operators.pq import ivfpq_topk

    # spread (r17, guide §2.5/§6): the embeddings table is ONE parquet
    # file, so the scan — and every per-row scoring/signature/assignment
    # pass above it — otherwise runs single-task. All value-producing
    # folds here are row-local, so partitioning cannot move results.
    emb = spread(read_table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 10)
    exact = brute_force_topk(emb, queries, k=5)
    return _ann_recall_frame(
        lambda: ivfpq_topk(emb, queries, k=5, m=16, rerank=100),
        exact,
        floor=3,
    )


# --------------------------------------------------------------------------
# q116 — semantic dedup (SemDeDup, Abbas et al. 2023): the embedding-space
# dedup that catches near-identical MEANING where q30-q36's lexical
# flavors need shared tokens. The published recipe: k-means the corpus
# embeddings, then look for high-cosine pairs only WITHIN each cluster —
# the cluster scoping is what makes it tractable (pair work is bounded by
# the largest cluster, ~n/k in expectation, instead of n^2), and recall
# loss is confined to cross-cluster pairs the coarse clustering already
# judged dissimilar. Removal rule (deterministic variant): a vector is
# removed iff some same-cluster vector with a SMALLER id pairs with it at
# cosine >= threshold — engine-replayable, no RNG, no iteration order.
# Clustering = exactly q45's seeded 2-round Lloyd, so the oracle reuses
# the same replay CTE; pair cosines are sequential list folds (q44's
# float discipline).
#
# K SCALES WITH THE CORPUS (VERDICT r6 #2): a constant k makes expected
# pair work O(N^2/k) — quadratic at 100x corpus. Published SemDeDup
# practice sizes k so clusters stay constant-sized: here
# k = clamp(ceil(N / TARGET_CLUSTER), K_MIN, K_MAX), which keeps expected
# per-cluster pair work ~TARGET_CLUSTER^2/2 and TOTAL pair work O(N) up to
# the K_MAX knee (4096 clusters = 2 MB of f64 centroids at dim 64 — well
# inside driver/broadcast budget; past that knee, growth is linear-in-N
# with slope N/K_MAX, and the next lever is per-cluster candidate capping).
# Both engines derive k from the SAME formula — Spark from a count()
# scalar, DuckDB from a COUNT(*) scalar subquery in the seed LIMIT — so
# the replay stays bit-exact at every corpus size.
# tests/test_similarity_ops.py::test_semdedup_pair_growth_subquadratic
# pins the sub-quadratic growth empirically across corpus sizes.
# --------------------------------------------------------------------------
SEMDEDUP_TARGET_CLUSTER = 100
SEMDEDUP_K_MIN = 10
SEMDEDUP_K_MAX = 4096


def semdedup_k(n_vectors: int) -> int:
    """Corpus-scaled cluster count: constant expected cluster size."""
    import math

    return max(
        SEMDEDUP_K_MIN,
        min(SEMDEDUP_K_MAX, math.ceil(n_vectors / SEMDEDUP_TARGET_CLUSTER)),
    )


_SEMDEDUP_K_SQL = (
    f"(SELECT GREATEST({SEMDEDUP_K_MIN}, LEAST({SEMDEDUP_K_MAX}, "
    f"CAST(CEIL(COUNT(*) / {SEMDEDUP_TARGET_CLUSTER}.0) AS BIGINT))) FROM v)"
)


@register(
    "q116_semdedup",
    oracle=_kmeans_a2_cte(_SEMDEDUP_K_SQL)
    + """,
    ve AS (
      SELECT vec_id, e,
             sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
      FROM v
    ),
    members AS (
      SELECT a2.vec_id, a2.cid, ve.e, ve.nrm FROM a2 JOIN ve USING (vec_id)
    ),
    pairs AS (
      SELECT a.cid, a.vec_id AS id_a, b.vec_id AS id_b
      FROM members a JOIN members b
        ON a.cid = b.cid AND a.vec_id < b.vec_id
      WHERE list_sum(list_transform(generate_series(1, len(a.e)),
                                    i -> a.e[i] * b.e[i]))
            / (a.nrm * b.nrm) >= 0.35
    ),
    removed AS (SELECT cid, COUNT(DISTINCT id_b) AS n_removed FROM pairs GROUP BY cid),
    pcount AS (SELECT cid, COUNT(*) AS dup_pairs FROM pairs GROUP BY cid),
    sizes AS (SELECT cid, COUNT(*) AS n_vecs FROM a2 GROUP BY cid)
    SELECT CAST(s.cid AS INTEGER) AS cluster_id,
           s.n_vecs,
           COALESCE(pcount.dup_pairs, 0) AS dup_pairs,
           COALESCE(removed.n_removed, 0) AS n_removed,
           s.n_vecs - COALESCE(removed.n_removed, 0) AS n_kept
    FROM sizes s
    LEFT JOIN pcount USING (cid)
    LEFT JOIN removed USING (cid)
    ORDER BY cluster_id
    """,
    doc="SemDeDup: k-means-scoped semantic near-dup removal report per cluster",
)
def q116_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reddit_big_data_spark.operators.clustering import kmeans_assign

    raw = read_table(spark, sf_dir, "embeddings")
    # One count() scalar sizes k (the oracle derives the same k from a
    # COUNT(*) subquery). Counted on the RAW scan (r17): a count above
    # the spread exchange would pay the repartition shuffle for nothing.
    k = semdedup_k(raw.count())
    # spread (r17, guide §2.5/§6): the embeddings table is ONE parquet
    # file, so the scan — and every per-row scoring/signature/assignment
    # pass above it — otherwise runs single-task. All value-producing
    # folds here are row-local, so partitioning cannot move results.
    emb = spread(raw)
    assigned = kmeans_assign(emb, "vec_id", "embedding", k=k, iters=2)
    # Materialize the assignment ONCE: both pair-join branches and the
    # sizes aggregate read it, and each would otherwise re-execute the
    # full Lloyd assignment pass (the simjoin prefix-table trap). One row
    # of (id, cid, vector, norm) per vec — corpus-slim.
    v = (
        assigned.select(
            "vec_id",
            F.col("cluster").alias("cid"),
            F.col("embedding").cast("array<double>").alias("e"),
        )
        .withColumn("nrm", F.sqrt(dot(F.col("e"), F.col("e"))))
        .localCheckpoint()
    )
    a = v.select(
        F.col("cid"), F.col("vec_id").alias("id_a"),
        F.col("e").alias("e_a"), F.col("nrm").alias("n_a"),
    )
    b = v.select(
        F.col("cid"), F.col("vec_id").alias("id_b"),
        F.col("e").alias("e_b"), F.col("nrm").alias("n_b"),
    )
    # cluster equi-join: pair work bounded by the largest cluster — the
    # SemDeDup scoping (never a corpus-wide all-pairs)
    sim = dot(F.col("e_a"), F.col("e_b")) / (F.col("n_a") * F.col("n_b"))
    # Materialize the (small) qualifying-pair set once: the dup_pairs and
    # n_removed aggregates both read it, and each would otherwise re-run
    # the cluster-scoped pair join.
    pairs = (
        a.join(b, "cid")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(sim >= 0.35)
        .select("cid", "id_a", "id_b")
        .localCheckpoint()
    )
    sizes = v.groupBy("cid").agg(F.count("*").alias("n_vecs"))
    pcount = pairs.groupBy("cid").agg(F.count("*").alias("dup_pairs"))
    removed = pairs.groupBy("cid").agg(
        F.countDistinct("id_b").alias("n_removed")
    )
    return (
        sizes.join(pcount, "cid", "left")
        .join(removed, "cid", "left")
        .select(
            F.col("cid").cast("int").alias("cluster_id"),
            "n_vecs",
            F.coalesce("dup_pairs", F.lit(0)).alias("dup_pairs"),
            F.coalesce("n_removed", F.lit(0)).alias("n_removed"),
            (F.col("n_vecs") - F.coalesce("n_removed", F.lit(0))).alias("n_kept"),
        )
        .orderBy("cluster_id")
    )
