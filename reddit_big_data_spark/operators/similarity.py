"""Similarity search over embedding columns (array<float>): brute-force
cosine top-k as the exact baseline, and a random-hyperplane LSH bucketed
variant as the 100 TB scale path.

Not in the reference (no vector data there); LLM-pipeline extension per
the builder brief. All arithmetic is native `pyspark.sql.functions`
(zip_with/aggregate fold in whole-stage codegen) — no UDFs, no NumPy on
the hot path.

Float discipline: elements are cast float->double BEFORE any multiply and
summed left-to-right (aggregate is a sequential fold), which makes the
result bit-identical to a DuckDB oracle doing the same.

Scale notes:
- brute_force_topk broadcasts the QUERY side (small batch of probes) and
  streams the corpus: one scan, no shuffle of the big side, per-partition
  WindowGroupLimit prunes before the final per-query top-k.
- lsh_topk prunes the comparison space with L hash tables of b-bit
  random-hyperplane buckets: candidates share a bucket in >=1 table.
  Hyperplane components are deterministic +/-1 derived from (table, plane,
  dim) by a splitmix64 parity — reproducible across runs and engines, no
  RNG state to ship.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from reddit_big_data_spark.sources.io import local_df


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold double dot product of two float arrays."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k: every query against the full corpus.

    Returns (query_id, neighbor_id, cosine_sim, rn). The query side is
    broadcast (probe batches are small by construction); the corpus is
    scanned once. Norms are computed once per side, not per pair.
    """
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(emb_col).alias("__e_c"),
        norm(F.col(emb_col)).alias("__n_c"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(emb_col).alias("__e_q"),
        norm(F.col(emb_col)).alias("__n_q"),
    )
    pairs = c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
    scored = pairs.withColumn(
        "cosine_sim",
        F.round(
            F.try_divide(
                dot(F.col("__e_q"), F.col("__e_c")),
                F.col("__n_q") * F.col("__n_c"),
            ),
            6,
        ),
    )
    return _topk_tail(scored, k)


def _topk_tail(scored: DataFrame, k: int) -> DataFrame:
    """The ranking tail shared by EVERY exact-cosine top-k operator
    (brute_force_topk, exact_rerank, lsh_topk, ivf_topk): NULL-sim
    exclusion, sim-desc + id tie-break window, int rn, fixed output
    columns. One definition so the contract cannot silently diverge
    between the four operators (review r14 — it used to live in four
    verbatim copies).

    Zero-magnitude vectors score NULL cosine (dot / norm 0); they are
    EXCLUDED rather than ranked — the numpy candidate-pair paths drop
    such rows too (NaN comparisons are False), so without this filter
    the operators disagreed on zero vectors and a sparse bucket could
    emit (query, zero_vec, cosine_sim=NULL, rn=k) rows (review r14)."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.filter(F.col("cosine_sim").isNotNull())
        .withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rn")
    )


def exact_rerank(
    cand: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Re-rank approximate candidates (query_id, neighbor_id) with EXACT
    sequential-fold cosine on the original float vectors: join vectors
    back by id, score, keep the top k per probe. The shared tail of the
    quantized ANN operators (pq_topk, ivfpq_topk) — one definition so the
    re-rank contract (6dp rounding, id tie-break, output columns) cannot
    silently diverge between them."""
    v = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(emb_col).alias("__e_c"),
        norm(F.col(emb_col)).alias("__n_c"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(emb_col).alias("__e_q"),
        norm(F.col(emb_col)).alias("__n_q"),
    )
    scored = (
        cand.join(v, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .withColumn(
            "cosine_sim",
            F.round(
                F.try_divide(
                    dot(F.col("__e_q"), F.col("__e_c")),
                    F.col("__n_q") * F.col("__n_c"),
                ),
                6,
            ),
        )
    )
    return _topk_tail(scored, k)


_M64 = (1 << 64) - 1


def _hyperplane(table: int, plane: int, dims: int) -> list[float]:
    """Deterministic +/-1 hyperplane per (table, plane, dim) via the
    splitmix64 finalizer (Steele/Lea/Vigna — public-domain mixing
    constants). A raw LCG parity here produced near-IDENTICAL planes
    across tables (low-bit periodicity under the regular 64/4096 argument
    strides), so one unlucky split repeated in every table and clone
    pairs at cosine 0.997 could miss ALL buckets; full avalanche makes
    per-table misses independent, restoring the 1-(1-p^b)^L recall
    model."""
    def mix(z: int) -> int:
        z = (z + 0x9E3779B97F4A7C15) & _M64
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & _M64
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & _M64
        return z ^ (z >> 31)

    # Avalanche the (table, plane) seed BEFORE adding the dim index: an
    # additive pre-mix like i + 64*plane aliases whenever dims exceeds the
    # stride (plane j at dim 64+i == plane j+1 at dim i -> shifted-copy
    # planes again, just past the default dims). Mixing twice makes the
    # argument stream collision-free for any dims.
    seed = mix(plane + (table << 20))
    out = []
    for i in range(dims):
        z = mix(seed + i)
        out.append(1.0 if z & 1 else -1.0)
    return out


def _planes_frame(
    spark, n_planes: int, n_tables: int, dims: int
) -> DataFrame:
    """All n_tables x n_planes hyperplanes as ONE one-row DataFrame
    (column `__planes`: array<array<double>>, tables-major). Shipping the
    constant as broadcast DATA instead of an F.lit tree keeps the plan
    free of n_tables*n_planes*dims Literal nodes — at 12x4x64 those 3072
    literals dominated Catalyst analysis/optimization time, and the tree
    is re-walked for every join branch that embeds the ANN plan (measured
    2.2s -> 1.3s for the sf0.1 signature pass alone)."""
    flat = [
        _hyperplane(t, j, dims) for t in range(n_tables) for j in range(n_planes)
    ]
    return local_df(
        spark, [(0, flat)], "__pk: int, __planes: array<array<double>>"
    )


def _with_planes(df: DataFrame, planes: DataFrame, key_col: str) -> DataFrame:
    """Attach the broadcast planes row (see attach.attach_constant_row
    for the constant-key hash-join rationale)."""
    from reddit_big_data_spark.operators.attach import attach_constant_row

    return attach_constant_row(df, planes, key_col)


def _banded_signatures(
    emb_col: str,
    n_planes: int,
    n_tables: int,
) -> Column:
    """(tbl, bucket) structs per row from the broadcast `__planes` column;
    caller must have attached the planes row via `_with_planes` first. The
    sign bits are bound once via the one-element-transform trick so the
    per-table bucket slices don't re-inline the plane dots (CollapseProject
    would otherwise multiply the fold work by n_tables)."""
    vec = F.col(emb_col).cast("array<double>")
    bits = F.transform(
        F.col("__planes"),
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


def lsh_ann_candidates(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    n_planes: int = 10,
    n_tables: int = 3,
    dims: int = 64,
) -> DataFrame:
    """The bucket-join candidate stage of lsh_topk, exposed so the
    scaling harness (scaling.py, VERDICT r6 #3) can measure candidate
    growth on exactly the production code path: distinct (query_id,
    neighbor_id) rows sharing >=1 LSH bucket, carrying both vectors +
    norms for the rerank. lsh_topk consumes this frame unchanged."""
    planes = _planes_frame(corpus.sparkSession, n_planes, n_tables, dims)

    def banded(df: DataFrame, role: str) -> DataFrame:
        tables = _banded_signatures(emb_col, n_planes, n_tables)
        return _with_planes(df, planes, id_col).select(
            F.col(id_col).alias(f"{role}_id"),
            F.col(emb_col).alias(f"__e_{role}"),
            norm(F.col(emb_col)).alias(f"__n_{role}"),
            F.explode(tables).alias("__tb"),
        ).select(
            f"{role}_id", f"__e_{role}", f"__n_{role}",
            F.col("__tb.tbl").alias("tbl"), F.col("__tb.bucket").alias("bucket"),
        )

    return (
        banded(corpus, "neighbor")
        .join(F.broadcast(banded(queries, "query")), ["tbl", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "__e_query", "__n_query", "__e_neighbor", "__n_neighbor")
        .distinct()
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    k: int = 5,
    n_planes: int = 10,
    n_tables: int = 3,
    dims: int = 64,
) -> DataFrame:
    """Approximate cosine top-k: candidates must share an LSH bucket with
    the query in >=1 of `n_tables` tables; exact cosine reranks candidates.

    The corpus is never all-paired: the join key is (table, bucket), so
    cost is sum over buckets of |bucket| x |queries in bucket|. Recall
    rises with n_tables and falls with n_planes (standard tradeoff);
    tests pin recall on planted clusters.
    """
    cand = lsh_ann_candidates(
        corpus, queries, id_col, emb_col, n_planes, n_tables, dims
    )
    scored = cand.withColumn(
        "cosine_sim",
        F.round(
            F.try_divide(
                dot(F.col("__e_query"), F.col("__e_neighbor")),
                F.col("__n_query") * F.col("__n_neighbor"),
            ),
            6,
        ),
    )
    return _topk_tail(scored, k)


def cosine_candidate_pairs(
    corpus: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    slack: float = 1e-6,
    broadcast_threshold_rows: int = 2_000_000,
    block_rows: int = 200_000,
) -> DataFrame:
    """All-pairs cosine candidate generation: (id_a, id_b) with id_a < id_b
    and cosine >= threshold - slack. The `slack` margin absorbs
    BLAS-vs-sequential-fold summation differences, so an exact recompute
    downstream (see queries/similarity.py q44) keeps final values
    bit-identical to a sequential-fold oracle.

    Two EXACT strategies, size-gated like `connected_components`:

    - broadcast (at <= `broadcast_threshold_rows` rows): the corpus is
      collected once, broadcast as a normalized float64 matrix, and
      streamed against itself via mapInPandas + one BLAS matmul per Arrow
      batch. Fastest when one side fits in executor memory; the gate
      bounds the driver collect.
    - blocked (above the threshold): distributed all-pairs. Rows hash
      into B = ceil(n/block_rows) blocks; each row replicates to the B
      block-pairs it participates in; one groupBy(block-pair) + per-task
      BLAS matmul. No driver collect, no corpus broadcast — memory per
      task is 2 x block_rows vectors, communication is n*B rows. The
      n^2/2 flops are inherent to an EXACT all-pairs contract; this
      spreads them across the cluster instead of capping corpus size at
      driver RAM.
    """
    # one count, reused by both engines (the broadcast one's empty-corpus
    # exit, the blocked one's block sizing) — a second count would
    # re-execute the upstream plan (the repeated-action trap
    # components/simjoin hit).
    n_rows = corpus.select(id_col).count()
    if n_rows <= broadcast_threshold_rows:
        return _broadcast_candidate_pairs(
            corpus, threshold, id_col, emb_col, slack, n_rows
        )
    return _blocked_candidate_pairs(
        corpus, threshold, id_col, emb_col, slack, block_rows, n_rows
    )


def _broadcast_candidate_pairs(
    corpus: DataFrame,
    threshold: float,
    id_col: str,
    emb_col: str,
    slack: float,
    n_rows: int,
) -> DataFrame:
    import numpy as np
    import pandas as pd

    spark = corpus.sparkSession
    if n_rows == 0:
        # np.stack over zero arrays raises ValueError; an empty corpus
        # has no pairs — return the same empty frame the blocked path
        # yields instead of a driver crash (review r14)
        return local_df(spark, [], "id_a long, id_b long")
    side = corpus.select(id_col, emb_col).toPandas()
    b_ids = side[id_col].to_numpy()
    b_mat = np.stack(side[emb_col].to_numpy()).astype(np.float64)
    b_mat /= np.linalg.norm(b_mat, axis=1, keepdims=True)
    bc = spark.sparkContext.broadcast((b_ids, b_mat))

    def gen(batches):
        ids_b, mat_b = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            a_ids = pdf[id_col].to_numpy()
            a_mat = np.stack(pdf[emb_col].to_numpy()).astype(np.float64)
            a_mat /= np.linalg.norm(a_mat, axis=1, keepdims=True)
            sims = a_mat @ mat_b.T
            mask = (sims >= threshold - slack) & (a_ids[:, None] < ids_b[None, :])
            i, j = np.nonzero(mask)
            yield pd.DataFrame({"id_a": a_ids[i], "id_b": ids_b[j]})

    return corpus.select(id_col, emb_col).mapInPandas(gen, "id_a long, id_b long")


def _blocked_candidate_pairs(
    corpus: DataFrame,
    threshold: float,
    id_col: str,
    emb_col: str,
    slack: float,
    block_rows: int,
    n_rows: int,
) -> DataFrame:
    import math

    import numpy as np
    import pandas as pd

    spark = corpus.sparkSession
    n_blocks = max(1, math.ceil(n_rows / max(1, block_rows)))
    # Every unordered block pair (bi <= bj); a row in block k serves as the
    # A side of (k, j>=k) and the B side of (i<=k, k) — n_blocks pairs per
    # row, each unordered id pair landing in EXACTLY one group.
    pair_rows = [
        (i, j) for i in range(n_blocks) for j in range(i, n_blocks)
    ]
    pairs_df = local_df(spark, pair_rows, "bi int, bj int")
    blocked = corpus.select(
        F.col(id_col).alias("__id"),
        F.col(emb_col).alias("__emb"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int").alias("__blk"),
    )
    repl = blocked.join(
        F.broadcast(pairs_df),
        (F.col("__blk") == F.col("bi")) | (F.col("__blk") == F.col("bj")),
    )

    def emit(key, pdf):
        bi, bj = int(key[0]), int(key[1])
        a = pdf[pdf["__blk"] == bi]
        b = pdf[pdf["__blk"] == bj] if bi != bj else a
        if len(a) == 0 or len(b) == 0:
            return pd.DataFrame({"id_a": [], "id_b": []}).astype("int64")
        a_ids = a["__id"].to_numpy()
        b_ids = b["__id"].to_numpy()
        a_mat = np.stack(a["__emb"].to_numpy()).astype(np.float64)
        a_mat /= np.linalg.norm(a_mat, axis=1, keepdims=True)
        if bi != bj:
            b_mat = np.stack(b["__emb"].to_numpy()).astype(np.float64)
            b_mat /= np.linalg.norm(b_mat, axis=1, keepdims=True)
        else:
            b_mat = a_mat
        sims = a_mat @ b_mat.T
        if bi == bj:
            # same-block: every unordered pair appears at BOTH (i,j) and
            # (j,i); strict < keeps one and drops the self-diagonal.
            mask = (sims >= threshold - slack) & (a_ids[:, None] < b_ids[None, :])
            i, j = np.nonzero(mask)
            id_a, id_b = a_ids[i], b_ids[j]
        else:
            # cross-block: each unordered pair appears exactly once, but
            # block hashing ignores id order — normalize to (min, max).
            i, j = np.nonzero(sims >= threshold - slack)
            x, y = a_ids[i], b_ids[j]
            id_a, id_b = np.minimum(x, y), np.maximum(x, y)
        return pd.DataFrame({"id_a": id_a, "id_b": id_b})

    return repl.groupBy("bi", "bj").applyInPandas(emit, "id_a long, id_b long")


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """IVF coarse quantizer: assign every vector to its nearest centroid
    (broadcast centroids, argmax over cosine). Returns (id, emb, norm,
    cell). Run once, materialize, reuse across queries — the IVF 'index
    build' step."""
    c = centroids.select(
        F.col("cell").alias("__cell"),
        F.col(emb_col).alias("__c_emb"),
        norm(F.col(emb_col)).alias("__c_n"),
    )
    v = corpus.select(
        F.col(id_col),
        F.col(emb_col),
        norm(F.col(emb_col)).alias("__n"),
    )
    scored = v.join(F.broadcast(c), F.lit(True)).withColumn(
        "__sim",
        F.try_divide(
            dot(F.col(emb_col), F.col("__c_emb")), F.col("__n") * F.col("__c_n")
        ),
    )
    w = Window.partitionBy(id_col).orderBy(F.col("__sim").desc(), F.col("__cell"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(id_col, emb_col, F.col("__n").alias("nrm"), F.col("__cell").alias("cell"))
    )


def make_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    k: int = 16,
    train_iters: int = 0,
) -> DataFrame:
    """Deterministic coarse centroids for the IVF quantizer.

    ``train_iters=0``: the first k vectors by id — cheapest, and exactly
    reproducible in a SQL oracle. ``train_iters>0``: refine those seeds
    with that many Lloyd's rounds, FAISS-style on a bounded
    hash-deterministic sample collected to the driver once (the same
    train-on-subset contract as pq.train_pq_codebooks: one takeOrdered
    collect replaces per-round distributed assign/average barrier jobs;
    a coarse quantizer never needs more training points than a few
    hundred per cell). Balanced cells mean balanced probe work; first-k
    seeds from one dense region would funnel most of the corpus into a
    handful of cells. Still deterministic: pinned sample seed, seeds from
    the k smallest sampled ids, numpy argmin ties to the lowest cell, an
    emptied cell keeps its previous centroid. Consumers (ivf_topk,
    ivfpq_topk) verify recall against exact top-k, not centroid values —
    the exact-replay kmeans contract lives in operators/clustering for
    q45."""
    if train_iters > 0:
        from reddit_big_data_spark.operators.clustering import (
            lloyd_rounds,
            sample_train_matrix,
        )

        x = sample_train_matrix(corpus, id_col, emb_col)
        cents = lloyd_rounds(x, x[: min(k, len(x))], train_iters)
        spark = corpus.sparkSession
        return local_df(
            spark,
            [(i + 1, [float(v) for v in c]) for i, c in enumerate(cents)],
            f"cell int, {emb_col} array<double>",
        )
    return (
        corpus.orderBy(id_col)
        .limit(k)
        .select(
            F.col(emb_col),
            F.row_number().over(Window.orderBy(id_col)).alias("cell"),
        )
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    train_iters: int = 0,
) -> DataFrame:
    """IVF approximate top-k: search only the query's `nprobe` nearest
    cells instead of the whole corpus — comparisons drop by ~nprobe/
    n_cells. Candidates equi-join on cell (no corpus-wide NLJ); exact
    cosine reranks within the probed cells. `train_iters` > 0 refines the
    coarse quantizer with Lloyd's rounds (see make_centroids) — the real
    index build, balancing cell populations and hence probe cost."""
    cents = make_centroids(corpus, id_col, emb_col, n_cells, train_iters)
    # no persist: `assigned` feeds exactly ONE join in this plan, so a
    # cache entry would cost storage memory per call without saving any
    # recomputation (review r14)
    assigned = ivf_assign(corpus, cents, id_col, emb_col)
    # route each query to its nprobe nearest cells
    c = cents.select(
        F.col("cell"), F.col(emb_col).alias("__c_emb"), norm(F.col(emb_col)).alias("__c_n")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(emb_col).alias("__e_q"),
        norm(F.col(emb_col)).alias("__n_q"),
    )
    routed = (
        q.join(F.broadcast(c), F.lit(True))
        .withColumn(
            "__sim",
            F.try_divide(
                dot(F.col("__e_q"), F.col("__c_emb")),
                F.col("__n_q") * F.col("__c_n"),
            ),
        )
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(F.col("__sim").desc(), F.col("cell"))
            ),
        )
        .filter(F.col("__rn") <= nprobe)
        .select("query_id", "__e_q", "__n_q", "cell")
    )
    cand = assigned.join(F.broadcast(routed), "cell").filter(
        F.col(id_col) != F.col("query_id")
    )
    scored = cand.withColumn(
        "cosine_sim",
        F.round(
            F.try_divide(
                dot(F.col("__e_q"), F.col(emb_col)),
                F.col("__n_q") * F.col("nrm"),
            ),
            6,
        ),
    ).withColumnRenamed(id_col, "neighbor_id")
    return _topk_tail(scored, k)
