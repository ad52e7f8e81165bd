"""Dedup queries over `documents`: exact fingerprint dedup, MinHash-LSH
near-dup pairs, SimHash signatures, char-n-gram Jaccard.

Not present in the reference (its corpora are id-keyed Reddit dumps); this
is the LLM-pipeline extension from the builder brief. Every step is
SQL-expressible (md5 exists in both engines), so each query carries a full
DuckDB oracle — including the LSH one, whose oracle is the brute-force
all-pairs truth. q31/q105 run 32 bands x 4 rows, the THRESHOLD-MATCHED
config (S-curve midpoint (1/32)^(1/4) ~= 0.42, per-pair recall 0.988 AT
the 0.6 threshold) — they originally ran 8x8 (midpoint ~0.77), whose
corpus-gap assumption "no qualifying pair below 0.9 Jaccard" held at
sf0.01 but BROKE at sf0.1, where the r12 cross-sf sweep caught two true
pairs missed (j=0.818: 16.7% miss at 8x8, now 5.6e-9; j=0.9: 1.1% miss,
now 1.4e-15). Spark-vs-oracle EQUALITY still assumes a (much smaller)
corpus gap: no qualifying pair in ~[0.6, 0.7), where even 32x4 has
miss probability above ~1e-4; the seeded MinHash permutations make the
outcome a fixed function of the data.
tests/test_dedup_ops.py::test_q31_corpus_gap pins the assumption so a
testdata change fails THERE, not as an opaque driver hash mismatch.

Alignment notes:
- tokens = normalize -> split(' ') (no stopword/stem: dedup wants raw
  content).
- Spark md5 == DuckDB md5 (hex strings); lexicographic mins agree.
- Jaccard rounded to 6dp on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from reddit_big_data_spark.operators.dedup import (
    char_shingles,
    jaccard,
    near_duplicates,
    simhash_bits,
    token_set_fingerprint,
    word_shingles,
)
from reddit_big_data_spark.operators.text import normalize
from reddit_big_data_spark.registry import register
from reddit_big_data_spark.sources.io import read_table, sorted_report, spread

# The threshold-matched near-dup config, one decision for q31, q105,
# q161 (its threshold) and scaling.py's q31/q105 measurements: the
# exact-Jaccard verify threshold and a 32x4 band curve whose midpoint
# (1/32)^(1/4) ~= 0.42 sits below it (recall 0.988 AT the threshold;
# tests/test_dedup_ops.py pins the arithmetic). The signature-estimate
# gate sits 0.2 below the threshold: >= 4.6 sigma at 128 hashes (see
# operators/dedup.signature_jaccard_estimate).
_NEARDUP_THRESHOLD = 0.6
_NEARDUP_BANDS = 32
_NEARDUP_ROWS = 4
_NEARDUP_EST_CUT = 0.4

# Shared DuckDB CTE: normalized token arrays (twin of normalize+split).
_ORACLE_NORM = """
    WITH norm AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(regexp_replace(lower(text),
                 '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')), ' ') AS toks
      FROM documents
    )
"""


def _tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(read_table(spark, sf_dir, "documents"))
    return docs.select("doc_id", F.split(normalize("text"), " ").alias("toks"))


# --------------------------------------------------------------------------
# q30 — exact dedup via content fingerprint (dropDuplicates done right at
# scale: dedup on a 32-byte digest, not on the full text column). Output is
# the cluster-size histogram — how much of the corpus is duplicated.
# --------------------------------------------------------------------------
@register(
    "q30_exact_dedup",
    oracle=_ORACLE_NORM
    + """,
    fp AS (
      SELECT doc_id,
             md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fingerprint
      FROM norm
    ),
    clusters AS (SELECT fingerprint, COUNT(*) AS cluster_size FROM fp GROUP BY 1)
    SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
           COUNT(*) AS n_clusters,
           CAST(SUM(cluster_size) AS BIGINT) AS n_docs
    FROM clusters
    GROUP BY 1
    ORDER BY 1
    """,
    doc="exact dedup via md5 token-set fingerprint; cluster-size histogram",
)
def q30_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _tokens(spark, sf_dir)
    clusters = (
        toks.select(token_set_fingerprint(F.col("toks")).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.count("*").alias("cluster_size"))
    )
    return (
        clusters.groupBy("cluster_size")
        .agg(
            F.count("*").alias("n_clusters"),
            F.sum("cluster_size").alias("n_docs"),
        )
        .orderBy("cluster_size")
    )


# --------------------------------------------------------------------------
# q31 — MinHash-LSH near-duplicate pairs (word 2-shingles, 128 hashes in
# 32 bands x 4 rows — threshold-matched to the 0.6 verify, see module
# docstring — exact-Jaccard verify at 0.6). The Spark side NEVER forms
# the all-pairs space; the oracle IS the all-pairs brute force, so this
# checks LSH recall, not just arithmetic (see module docstring for the
# corpus-gap assumption that makes equality deterministic).
# --------------------------------------------------------------------------
@register(
    "q31_minhash_neardup",
    oracle=_ORACLE_NORM
    + """,
    sh AS (
      SELECT doc_id,
             list_distinct([toks[i] || ' ' || toks[i+1]
                            for i in generate_series(1, len(toks)-1)]) AS shingles
      FROM norm
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.shingles, b.shingles))), 6) AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
          / len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.6
    ORDER BY id_a, id_b
    """,
    doc="MinHash-LSH near-dup pairs vs brute-force oracle (recall check)",
)
def q31_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _tokens(spark, sf_dir)
    sh = toks.select("doc_id", word_shingles(F.col("toks"), 2).alias("shingles"))
    return (
        sorted_report(
            near_duplicates(
                sh, "doc_id", "shingles",
                threshold=_NEARDUP_THRESHOLD,
                bands=_NEARDUP_BANDS,
                rows=_NEARDUP_ROWS,
                est_cut=_NEARDUP_EST_CUT,
            ).select(
                "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
            ),
            "id_a",
            "id_b",
        )
    )


# --------------------------------------------------------------------------
# q32 — SimHash signatures: 32-bit md5-vote signatures per doc, summarized
# as a collision histogram (exact-signature clusters). Near-identical docs
# collide or land within small hamming distance.
# --------------------------------------------------------------------------
@register(
    "q32_simhash",
    oracle=_ORACLE_NORM
    + """,
    tok AS (SELECT doc_id, md5(unnest(toks)) AS h FROM norm),
    votes AS (
      SELECT doc_id, pos,
             SUM(CASE WHEN strpos('89abcdef', substr(h, CAST(pos AS INTEGER), 1)) > 0
                      THEN 1 ELSE -1 END) AS v
      FROM tok, generate_series(1, 32) AS g(pos)
      GROUP BY 1, 2
    ),
    sig AS (
      SELECT doc_id,
             string_agg(CASE WHEN v >= 0 THEN '1' ELSE '0' END, '' ORDER BY pos) AS simhash
      FROM votes GROUP BY 1
    ),
    clusters AS (SELECT simhash, COUNT(*) AS cluster_size FROM sig GROUP BY 1)
    SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
           COUNT(*) AS n_clusters
    FROM clusters
    GROUP BY 1
    ORDER BY 1
    """,
    doc="SimHash 32-bit signatures; exact-collision histogram",
)
def q32_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _tokens(spark, sf_dir)
    sig = simhash_bits(toks, "doc_id", "toks", bits=32)
    clusters = sig.groupBy("simhash").agg(F.count("*").alias("cluster_size"))
    return (
        clusters.groupBy("cluster_size")
        .agg(F.count("*").alias("n_clusters"))
        .orderBy("cluster_size")
    )


# --------------------------------------------------------------------------
# q33 — character n-gram Jaccard within a blocking key: all pairs of docs
# from one source bucket (equi-join on the key — no cartesian product),
# char-3-gram similarity. The "blocked pairwise comparison" pattern that
# stays tractable at scale when block sizes are bounded.
# --------------------------------------------------------------------------
@register(
    "q33_ngram_jaccard",
    oracle="""
    WITH sh AS (
      SELECT doc_id, source,
             list_distinct([substr(text, i, 3)
                            for i in generate_series(1, length(text)-2)]) AS grams
      FROM documents
      WHERE source = 'src0'
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.grams, b.grams))), 6) AS ngram_jaccard
    FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
          / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.5
    ORDER BY id_a, id_b
    """,
    doc="char-3-gram Jaccard, blocked by source key (no cartesian)",
)
def q33_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").filter(F.col("source") == "src0")
    sh = docs.select(
        "doc_id", "source", char_shingles(F.col("text"), 3).alias("grams")
    )
    # The filtered block is one scan task; spread the pairwise-jaccard work
    # across the cluster before the join (the block is small, the compare
    # work is quadratic in it). Partition count = the session's
    # parallelism, not a constant (r16): the driver re-benches at lower
    # core counts, and a hard-coded 32 is exactly the local-mode-tuned
    # constant the scale contract forbids.
    a = sh.select(
        F.col("source"), F.col("doc_id").alias("id_a"), F.col("grams").alias("g_a")
    ).repartition(spark.sparkContext.defaultParallelism, "id_a")
    b = sh.select(
        F.col("source"), F.col("doc_id").alias("id_b"), F.col("grams").alias("g_b")
    )
    return (
        a.join(b, "source")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("__j", jaccard(F.col("g_a"), F.col("g_b")))
        .filter(F.col("__j") >= 0.5)  # threshold on the UNROUNDED value, like the oracle
        .select("id_a", "id_b", F.round("__j", 6).alias("ngram_jaccard"))
        .orderBy("id_a", "id_b")
    )


# --------------------------------------------------------------------------
# q34 — winnowing fingerprints (MOSS): rolling k-gram hashes, sliding-
# window minima, distinct per doc — summarized as shared-fingerprint
# overlap between near-dup docs vs the corpus average. The per-doc window
# is partitioned (parallel across docs); the oracle replays the identical
# algorithm in SQL (('0x'||hex)::BIGINT parses the md5 prefix).
# --------------------------------------------------------------------------
@register(
    "q34_winnowing",
    oracle="""
    WITH grams AS (
      SELECT doc_id, u['pos'] AS pos, u['gram'] AS gram
      FROM (
        SELECT doc_id,
               unnest([{'pos': i, 'gram': substr(text, CAST(i AS INTEGER), 5)}
                       for i in generate_series(1, length(text) - 4)]) AS u
        FROM documents
        WHERE length(text) >= 5
      )
    ),
    hashed AS (
      SELECT doc_id, pos,
             ('0x' || substr(md5(gram), 1, 7))::BIGINT AS h
      FROM grams
    ),
    mins AS (
      SELECT doc_id, pos,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
             MAX(pos) OVER (PARTITION BY doc_id) AS max_pos
      FROM hashed
    ),
    fps AS (
      SELECT DISTINCT doc_id, fp FROM mins WHERE pos <= max_pos - 3
    ),
    per_doc AS (SELECT doc_id, COUNT(*) AS n_fp FROM fps GROUP BY 1)
    SELECT CAST(FLOOR(n_fp / 50) AS BIGINT) AS fp_bucket,
           COUNT(*) AS n_docs,
           CAST(SUM(n_fp) AS BIGINT) AS total_fps
    FROM per_doc
    GROUP BY 1
    ORDER BY 1
    """,
    doc="MOSS winnowing fingerprints (rolling hash + sliding-window minima)",
)
def q34_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reddit_big_data_spark.operators.dedup import winnowing_fingerprints

    docs = read_table(spark, sf_dir, "documents")
    fps = winnowing_fingerprints(docs, "doc_id", "text", k=5, window=4)
    per_doc = fps.groupBy("doc_id").agg(F.count("*").alias("n_fp"))
    return (
        per_doc.groupBy(F.floor(F.col("n_fp") / 50).alias("fp_bucket"))
        .agg(F.count("*").alias("n_docs"), F.sum("n_fp").alias("total_fps"))
        .orderBy("fp_bucket")
    )


# Word-2-shingle sets + brute-force all-pairs Jaccard edges at 0.6 — the
# shared truth for q31 (LSH recall), q36 (prefix-filter exactness), and
# q35 (cluster edges).
_SHINGLES_CTE = """
    sh AS (
      SELECT doc_id,
             list_distinct([toks[i] || ' ' || toks[i+1]
                            for i in generate_series(1, len(toks)-1)]) AS shingles
      FROM norm
    )
"""
_BRUTE_PAIRS_06 = """
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
           / len(list_distinct(list_concat(a.shingles, b.shingles))) AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
          / len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.6
"""


# --------------------------------------------------------------------------
# q36 — EXACT set-similarity self-join via prefix filtering (PPJoin-style):
# same pairs as q31's brute-force truth, but recall is guaranteed 1.0 by
# the prefix-filter principle instead of probabilistic LSH banding — and
# the pair space is still an equi-join (on rarest-prefix tokens), never
# all-pairs. The oracle IS the brute force, so a single missed pair fails.
# --------------------------------------------------------------------------
@register(
    "q36_prefix_simjoin",
    oracle=_ORACLE_NORM
    + ","
    + _SHINGLES_CTE
    + ", pairs AS ("
    + _BRUTE_PAIRS_06
    + """)
    SELECT id_a, id_b, ROUND(jaccard, 6) AS jaccard
    FROM pairs
    ORDER BY id_a, id_b
    """,
    doc="exact Jaccard self-join via prefix filtering (100% recall, no all-pairs)",
)
def q36_prefix_simjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reddit_big_data_spark.operators.simjoin import similarity_join

    toks = _tokens(spark, sf_dir)
    sh = toks.select("doc_id", word_shingles(F.col("toks"), 2).alias("shingles"))
    return sorted_report(
        similarity_join(sh, "doc_id", "shingles", threshold=0.6).select(
            "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
        ),
        "id_a",
        "id_b",
    )


# --------------------------------------------------------------------------
# q35 — duplicate CLUSTERS: connected components over the exact near-dup
# edges (prefix-filter join at 0.6), assigning every clustered doc its
# canonical representative (the minimum member id) and cluster size — the
# terminal dedup step a training pipeline actually keeps. Spark side is
# size-gated connected components (operators/components.py); the oracle
# replays it as a recursive-CTE transitive closure.
# --------------------------------------------------------------------------
@register(
    "q35_dedup_clusters",
    oracle="""
    WITH RECURSIVE norm AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(regexp_replace(lower(text),
                 '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')), ' ') AS toks
      FROM documents
    ),
    """
    + _SHINGLES_CTE
    + ", edges AS ("
    + _BRUTE_PAIRS_06
    + """),
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
    SELECT comp.id AS doc_id, comp.cluster_id, sizes.cluster_size
    FROM comp JOIN sizes USING (cluster_id)
    ORDER BY doc_id
    """,
    doc="near-dup clusters via connected components (canonical doc = min id)",
)
def q35_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reddit_big_data_spark.operators.components import dedup_clusters
    from reddit_big_data_spark.operators.simjoin import similarity_join

    toks = _tokens(spark, sf_dir)
    sh = toks.select("doc_id", word_shingles(F.col("toks"), 2).alias("shingles"))
    pairs = similarity_join(sh, "doc_id", "shingles", threshold=0.6)
    return dedup_clusters(pairs).orderBy("doc_id")


# --------------------------------------------------------------------------
# q29 — dedup APPLIED: materialize the keep-one-per-cluster decision from
# the exact-fingerprint dedup (q30's clusters) — canonical = min doc_id per
# fingerprint, everything else dropped via left_anti — and report the
# corpus shrink per lang: docs and whitespace tokens before/after. The
# "what did dedup actually buy us" report every pipeline run ends with.
# --------------------------------------------------------------------------
@register(
    "q29_dedup_materialized",
    oracle=_ORACLE_NORM
    + """,
    fp AS (
      SELECT doc_id, lang,
             len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
             md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fingerprint
      FROM norm JOIN documents USING (doc_id)
    ),
    keep AS (
      SELECT doc_id FROM (
        SELECT doc_id, row_number() OVER (PARTITION BY fingerprint
                                          ORDER BY doc_id) AS rn
        FROM fp
      ) WHERE rn = 1
    )
    SELECT lang,
           COUNT(*) AS docs_before,
           CAST(SUM(CASE WHEN keep.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_after,
           CAST(SUM(n_tokens) AS BIGINT) AS tokens_before,
           CAST(SUM(CASE WHEN keep.doc_id IS NOT NULL THEN n_tokens ELSE 0 END)
                AS BIGINT) AS tokens_after
    FROM fp LEFT JOIN keep ON fp.doc_id = keep.doc_id
    GROUP BY lang
    ORDER BY lang
    """,
    doc="apply exact dedup (canonical = min id per fingerprint); corpus shrink per lang",
)
def q29_dedup_materialized(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = spread(read_table(spark, sf_dir, "documents"))
    n_tokens = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    fp = docs.select(
        "doc_id",
        "lang",
        n_tokens.alias("n_tokens"),
        token_set_fingerprint(F.split(normalize("text"), " ")).alias(
            "fingerprint"
        ),
    )
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    flagged = fp.withColumn(
        "is_canonical", (F.row_number().over(w) == 1).cast("int")
    )
    return (
        flagged.groupBy("lang")
        .agg(
            F.count("*").alias("docs_before"),
            F.sum("is_canonical").alias("docs_after"),
            F.sum("n_tokens").alias("tokens_before"),
            F.sum(F.col("n_tokens") * F.col("is_canonical")).alias(
                "tokens_after"
            ),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# q66 — benchmark decontamination: flag training documents sharing ANY
# winnowing fingerprint with a held-out probe set (source = 'src0' plays
# the benchmark) — the contamination scan every serious pretraining run
# performs before training. Winnowing's guarantee makes this catch every
# verbatim overlap of length >= k + window - 1 = 8 chars; the fingerprint
# equi-join keys on the 28-bit hash (probe fingerprint set is tiny
# relative to the corpus -> AQE broadcasts it at any scale).
# --------------------------------------------------------------------------
@register(
    "q66_decontamination",
    oracle="""
    WITH grams AS (
      SELECT doc_id, u['pos'] AS pos, u['gram'] AS gram
      FROM (
        SELECT doc_id,
               unnest([{'pos': i, 'gram': substr(text, CAST(i AS INTEGER), 5)}
                       for i in generate_series(1, length(text) - 4)]) AS u
        FROM documents
        WHERE length(text) >= 5
      )
    ),
    hashed AS (
      SELECT doc_id, pos,
             ('0x' || substr(md5(gram), 1, 7))::BIGINT AS h
      FROM grams
    ),
    mins AS (
      SELECT doc_id, pos,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
             MAX(pos) OVER (PARTITION BY doc_id) AS max_pos
      FROM hashed
    ),
    fps AS (
      SELECT DISTINCT doc_id, fp FROM mins WHERE pos <= max_pos - 3
    ),
    probe_fps AS (
      SELECT DISTINCT fp
      FROM fps JOIN documents USING (doc_id)
      WHERE source = 'src0'
    ),
    contaminated AS (
      SELECT DISTINCT fps.doc_id
      FROM fps JOIN probe_fps USING (fp)
    )
    SELECT d.lang,
           COUNT(*) AS train_docs,
           CAST(SUM(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS contaminated_docs,
           -- unrounded integer ratio (r12): identical integer operands
           -- divide to bit-equal doubles; ROUND@4 was a structural tie
           -- whenever the group count is 2,5-smooth
           CAST(SUM(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS contamination_rate
    FROM documents d LEFT JOIN contaminated c USING (doc_id)
    WHERE d.source <> 'src0'
    GROUP BY d.lang
    ORDER BY d.lang
    """,
    doc="benchmark decontamination via shared winnowing fingerprints",
)
def q66_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reddit_big_data_spark.operators.dedup import winnowing_fingerprints

    docs = read_table(spark, sf_dir, "documents")
    # Persist BEFORE the two consumers below: the winnowing pipeline is
    # the per-CHAR posexplode + sliding-min window — the expensive
    # subtree — and both probe_fps and contaminated derive from it
    # (r9 live-scan audit: it ran twice; the (doc, fp) table is ~2/(w+1)
    # of the char count, tiny next to the explosion it saves).
    fps = winnowing_fingerprints(docs, "doc_id", "text", k=5, window=4).persist()
    probe_fps = (
        fps.join(
            docs.filter(F.col("source") == "src0").select("doc_id"), "doc_id"
        )
        .select("fp")
        .distinct()
    )
    contaminated = fps.join(probe_fps, "fp").select("doc_id").distinct()
    hit = F.when(F.col("c_id").isNotNull(), 1.0).otherwise(0.0)
    return (
        docs.filter(F.col("source") != "src0")
        .join(
            contaminated.withColumnRenamed("doc_id", "c_id"),
            F.col("doc_id") == F.col("c_id"),
            "left",
        )
        .groupBy("lang")
        .agg(
            F.count("*").alias("train_docs"),
            F.sum(hit.cast("long")).alias("contaminated_docs"),
            # unrounded integer ratio (see the oracle comment)
            (F.sum(hit.cast("long")).cast("double") / F.count("*")).alias(
                "contamination_rate"
            ),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# q98 — SimHash HAMMING near-dup pairs: the step q32 stops short of.
# q32 summarizes exact-signature collisions; this finds every pair within
# hamming distance 3 on a 64-bit bit-level simhash, EXACTLY, via
# pigeonhole banding (4 bands x 16 bits: <= 3 differing bits force >= 1
# identical band), so the pair space is a chunk equi-join — bit-sampling
# LSH made exact, the hamming twin of q36's prefix filter. The oracle
# replays the full signature construction in SQL and brute-forces ALL
# pairs, so a single missed pair fails the driver row (recall check, not
# just arithmetic).
# --------------------------------------------------------------------------
_Q98_SIG_CTE = (
    _ORACLE_NORM
    + """,
    tok AS (
      SELECT doc_id, md5(unnest(toks)) AS h FROM norm
    ),
    votes AS (
      SELECT doc_id, j,
             SUM(CASE WHEN (('0x' || substr(h, CAST((j - 1) // 4 + 1 AS INTEGER), 1))::BIGINT
                            >> CAST(3 - (j - 1) % 4 AS INTEGER)) & 1 = 1
                      THEN 1 ELSE -1 END) AS v
      FROM tok, generate_series(1, 64) AS g(j)
      GROUP BY 1, 2
    ),
    sig AS (
      SELECT doc_id,
             string_agg(CASE WHEN v >= 0 THEN '1' ELSE '0' END, '' ORDER BY j)
               AS simhash
      FROM votes GROUP BY 1
    )
"""
)


@register(
    "q98_simhash_hamming",
    oracle=_Q98_SIG_CTE
    + """
    SELECT id_a, id_b, hamming
    FROM (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(len([i for i in generate_series(1, 64)
                       if substr(a.simhash, CAST(i AS INTEGER), 1)
                          <> substr(b.simhash, CAST(i AS INTEGER), 1)])
                  AS INTEGER) AS hamming
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    )
    WHERE hamming <= 3
    ORDER BY id_a, id_b
    """,
    doc="exact hamming<=3 simhash pairs via pigeonhole banding vs brute-force oracle",
)
def q98_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reddit_big_data_spark.operators.dedup import (
        simhash_hamming_pairs,
        simhash_wide,
    )

    toks = _tokens(spark, sf_dir)
    sig = simhash_wide(toks, "doc_id", "toks", bits=64)
    return sorted_report(
        simhash_hamming_pairs(sig, "doc_id", bits=64, bands=4, max_hamming=3),
        "id_a",
        "id_b",
    )


# --------------------------------------------------------------------------
# q105 — INCREMENTAL near-dup: screen a new ingest batch against an
# existing corpus index — the shape a daily-crawl pipeline actually runs
# (the q31 self-join answers "dedup the corpus once"; this answers "which
# NEW docs duplicate something we already keep"). source='src0' plays the
# existing index; every other source is the incoming batch. The banded
# join is CROSS-SET only (batch bands probe index bands) — at 100 TB the
# index side's band table is the precomputed, bucketed artifact a real
# deployment stores, and each ingest touches only colliding buckets,
# never re-pairing the index against itself. Same recall contract as
# q31: the oracle is the brute-force cross-set Jaccard, so the driver
# row checks LSH RECALL (corpus-gap assumption, module docstring).
# --------------------------------------------------------------------------
@register(
    "q105_incremental_neardup",
    oracle=_ORACLE_NORM
    + ","
    + _SHINGLES_CTE
    + """,
    src AS (SELECT doc_id, source FROM documents)
    SELECT n.doc_id AS new_id, i.doc_id AS index_id,
           ROUND(CAST(len(list_intersect(n_sh.shingles, i_sh.shingles)) AS DOUBLE)
                 / len(list_distinct(list_concat(n_sh.shingles, i_sh.shingles))), 6)
             AS jaccard
    FROM src n JOIN sh n_sh ON n.doc_id = n_sh.doc_id
    JOIN src i ON i.source = 'src0' AND n.source <> 'src0'
    JOIN sh i_sh ON i.doc_id = i_sh.doc_id
    WHERE CAST(len(list_intersect(n_sh.shingles, i_sh.shingles)) AS DOUBLE)
          / len(list_distinct(list_concat(n_sh.shingles, i_sh.shingles))) >= 0.6
    ORDER BY new_id, index_id
    """,
    doc="incremental ingest-vs-index near-dup screen (cross-set banded join)",
)
def q105_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reddit_big_data_spark.operators.dedup import (
        cross_set_lsh_candidates,
        jaccard,
    )

    docs = spread(read_table(spark, sf_dir, "documents"))
    # Two-step projection (toks THEN shingles, the q31 shape): passing the
    # raw split(normalize(text)) expression into word_shingles would let
    # CollapseProject inline the regex-normalize into every per-position
    # reference inside the shingle transform — measured 0.8s -> 15s for
    # this frame's materialization at sf0.1.
    toks = docs.select(
        "doc_id", "source", F.split(normalize("text"), " ").alias("toks")
    )
    sh = toks.select(
        "doc_id", "source", word_shingles(F.col("toks"), 2).alias("shingles")
    ).persist()  # consumed by signatures + both verify joins
    # The candidate stage is the shared operator (review r9: the scaling
    # harness measures the SAME function, so the measured exponent can't
    # drift from the production path); it persists the band table across
    # its two side-filters internally.
    cand = cross_set_lsh_candidates(
        sh, "doc_id", "shingles", "source", "src0",
        bands=_NEARDUP_BANDS, rows=_NEARDUP_ROWS, est_cut=_NEARDUP_EST_CUT,
    )
    n_side = sh.select(F.col("doc_id").alias("new_id"), F.col("shingles").alias("__sh_n"))
    i_side = sh.select(F.col("doc_id").alias("index_id"), F.col("shingles").alias("__sh_i"))
    return sorted_report(
        cand.join(n_side, "new_id")
        .join(i_side, "index_id")
        # filter on the UNROUNDED value, round only for display — rounding
        # first would admit jaccard in [0.5999995, 0.6) that the oracle's
        # unrounded >= 0.6 predicate rejects (the q31/near_duplicates order)
        .withColumn("__j", jaccard(F.col("__sh_n"), F.col("__sh_i")))
        .filter(F.col("__j") >= _NEARDUP_THRESHOLD)
        .select("new_id", "index_id", F.round("__j", 6).alias("jaccard")),
        "new_id",
        "index_id",
    )


# --------------------------------------------------------------------------
# q112 — exact substring-level dedup (Lee et al. 2022): maximal duplicated
# token spans per doc. The canonical LLM-dedup flavor the suite lacked:
# q30 removes whole-doc duplicates, q31/q98 near-duplicates; this finds
# the verbatim REPEATED PASSAGES inside otherwise-distinct docs.
# Plan shape: positional 8-gram md5 -> ONE count-window shuffle on the
# digest -> per-doc gaps-and-islands coalescing. Never all-pairs.
# --------------------------------------------------------------------------
@register(
    "q112_substring_dedup",
    oracle=_ORACLE_NORM
    + """,
    grams AS (
      SELECT doc_id, i AS pos,
             md5(array_to_string(toks[i:i+7], ' ')) AS g
      FROM norm, unnest(generate_series(1, greatest(len(toks)-7, 0))) AS t(i)
    ),
    hits AS (
      SELECT doc_id, pos
      FROM (SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY g) AS c FROM grams)
      WHERE c >= 2
    ),
    isl AS (
      SELECT doc_id, pos,
             CASE WHEN pos <= lag(pos) OVER w + 8 THEN 0 ELSE 1 END AS brk
      FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    grp AS (
      SELECT doc_id, pos,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS isl_id
      FROM isl
    ),
    spans AS (
      SELECT doc_id, MIN(pos) AS s, MAX(pos) + 7 AS e
      FROM grp GROUP BY doc_id, isl_id
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(e - s + 1) AS BIGINT) AS dup_tokens,
           CAST(MAX(e - s + 1) AS BIGINT) AS longest_span
    FROM spans
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    doc="exact substring dedup (Lee et al. 2022): duplicated 8-token spans, "
    "gram-banded + gaps-and-islands, per-doc span stats",
)
def q112_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reddit_big_data_spark.operators.dedup import duplicated_token_spans

    toks = _tokens(spark, sf_dir)
    spans = duplicated_token_spans(toks, "doc_id", "toks", k=8, min_count=2)
    return (
        spans.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum("span_len").alias("dup_tokens"),
            # span_len is int arithmetic over sequence positions — cast to
            # long: the driver compare is dtype-exact vs DuckDB's BIGINT
            F.max("span_len").cast("long").alias("longest_span"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# q115 — content-defined chunking dedup report (rsync/FastCDC family):
# boundaries from a rolling content-hash condition, so an edit shifts
# every FIXED-stride chunk after it (q100) but CDC boundaries realign
# immediately — the robust unit for chunk-hash dedup across crawl
# snapshots. Per-language report: chunk counts, average chunk length
# (expected = boundary_mod chars), and how many chunks recur in >= 2
# docs. The oracle replays boundary detection, span pairing, and chunk
# hashing exactly in SQL.
# --------------------------------------------------------------------------
@register(
    "q115_cdc_chunks",
    oracle="""
    WITH nrm AS (
      SELECT doc_id, lang,
             trim(regexp_replace(regexp_replace(lower(text),
                 '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')) AS t
      FROM documents
    ),
    base AS (
      SELECT doc_id, lang, t, length(t) AS n FROM nrm WHERE length(t) >= 1
    ),
    bpos AS (
      SELECT doc_id, i
      FROM base, unnest(generate_series(1, n)) AS g(i)
      WHERE i = 1 OR (i <= n - 7 AND
            ('0x' || substr(md5(substr(t, CAST(i AS INTEGER), 8)), 1, 2))::BIGINT < 4)
    ),
    blist AS (
      SELECT doc_id, list(i ORDER BY i) AS bs FROM bpos GROUP BY doc_id
    ),
    spans AS (
      SELECT b.doc_id, base.lang, base.t,
             unnest([struct_pack(s := bs[k],
                                 e := CASE WHEN k = len(bs) THEN base.n
                                      ELSE bs[k+1] - 1 END)
                     for k in generate_series(1, len(bs))]) AS sp
      FROM blist b JOIN base USING (doc_id)
    ),
    chunks AS (
      SELECT doc_id, lang, (sp.e - sp.s + 1) AS clen,
             md5(substr(t, CAST(sp.s AS INTEGER),
                        CAST(sp.e - sp.s + 1 AS INTEGER))) AS h
      FROM spans
    ),
    hashes AS (SELECT h, COUNT(DISTINCT doc_id) AS nd FROM chunks GROUP BY h)
    SELECT lang,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           -- unrounded integer ratios (r12): identical integer operands
           -- divide to bit-equal doubles; the ROUNDs were structural
           -- ties for 2,5-smooth counts
           CAST(SUM(clen) AS DOUBLE) / COUNT(clen) AS avg_chunk_len,
           CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS dup_chunks,
           CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS dup_ratio
    FROM chunks JOIN hashes USING (h)
    GROUP BY lang ORDER BY lang
    """,
    doc="content-defined chunking (FastCDC shape): per-lang chunk stats + "
    "cross-doc duplicate-chunk rate",
)
def q115_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reddit_big_data_spark.operators.text import cdc_chunks

    docs = spread(read_table(spark, sf_dir, "documents")).select(
        "doc_id", "lang", normalize("text").alias("t")
    )
    # Cache the chunk table: it feeds BOTH the per-hash doc-count
    # aggregate and the final per-lang rollup, and each would otherwise
    # re-run the whole CDC boundary computation (the q70/q96 multi-
    # consumer trap). persist(), NOT localCheckpoint (review r6): the
    # lazy cache keeps the CDC subtree visible to the plan-lint sweep
    # (localCheckpoint truncates lineage to a Scan ExistingRDD and its
    # eagerness would execute the job at plan-build time); clearCache is
    # the mop-up point (tests/test_cache_ledger.py contract). Rows are
    # (ids, hash, len) — never chunk text.
    ch = (
        cdc_chunks(docs, "doc_id", "t", window=8, boundary_mod=64)
        .join(docs.select("doc_id", "lang"), "doc_id")
        .persist()
    )
    nd = ch.groupBy("chunk_md5").agg(
        F.countDistinct("doc_id").alias("__nd")
    )
    dup = (F.col("__nd") >= 2).cast("long")
    return (
        ch.join(nd, "chunk_md5")
        .groupBy("lang")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_chunks"),
            # unrounded integer ratios (see the oracle comments)
            (
                F.sum("chunk_len").cast("double") / F.count("chunk_len")
            ).alias("avg_chunk_len"),
            F.sum(dup).alias("dup_chunks"),
            (F.sum(dup).cast("double") / F.count("*")).alias("dup_ratio"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# q130 — near-dup retention (the TERMINAL dedup decision): q35 finds the
# near-duplicate clusters; this query decides WHO SURVIVES. Real
# pipelines do not keep the minimum id — they keep the highest-quality
# representative per cluster (Lee et al. 2022 keep-longest practice):
# canonical = the cluster member with the most whitespace tokens, ties
# to the smallest doc_id; docs in no cluster keep themselves (singleton
# cluster = own id via the left-join coalesce). Output is q29's shrink
# report shape — docs/tokens before and after — per language, so exact
# dedup (q29) and near-dup retention (q130) read side by side.
#
# Scale shape: the cluster table is pair-derived (only docs with >= 1
# near-dup edge — corpus-small), the left join keys on doc_id, and the
# argmax is a window over CLUSTER partitions (bounded by the largest
# cluster, never global). Oracle replays the closure recursively and
# the same keep rule as a window.
# --------------------------------------------------------------------------
@register(
    "q130_neardup_retention",
    oracle="""
    WITH RECURSIVE norm AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(regexp_replace(lower(text),
                 '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')), ' ') AS toks
      FROM documents
    ),
    """
    + _SHINGLES_CTE
    + ", edges AS ("
    + _BRUTE_PAIRS_06
    + """),
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
    meta AS (
      SELECT doc_id, lang,
             len(string_split_regex(trim(text), '\\s+')) AS n_tokens
      FROM documents
    ),
    labeled AS (
      SELECT m.doc_id, m.lang, m.n_tokens,
             COALESCE(comp.cluster_id, m.doc_id) AS cid
      FROM meta m LEFT JOIN comp ON comp.id = m.doc_id
    ),
    keep AS (
      SELECT doc_id FROM (
        SELECT doc_id, row_number() OVER (PARTITION BY cid
                                          ORDER BY n_tokens DESC, doc_id) AS rn
        FROM labeled
      ) WHERE rn = 1
    )
    SELECT lang,
           COUNT(*) AS docs_before,
           CAST(SUM(CASE WHEN keep.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS docs_after,
           CAST(SUM(n_tokens) AS BIGINT) AS tokens_before,
           CAST(SUM(CASE WHEN keep.doc_id IS NOT NULL THEN n_tokens ELSE 0 END)
                AS BIGINT) AS tokens_after
    FROM labeled LEFT JOIN keep USING (doc_id)
    GROUP BY lang
    ORDER BY lang
    """,
    doc="near-dup retention: keep the longest doc per q35 cluster "
    "(ties to smallest id); per-lang corpus shrink report",
)
def q130_neardup_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r10 (VERDICT r9 #7b): consume the MANAGED cluster-table artifact —
    # first run per corpus pays the simjoin+components once and writes
    # the stage boundary, every later run is the artifact scan (the
    # production shape; identity with the fused plan is test-pinned).
    docs = spread(read_table(spark, sf_dir, "documents"))
    return neardup_retention_report(
        docs, cluster_table_artifact(spark, sf_dir)
    )


# --------------------------------------------------------------------------
# MATERIALIZE-ONCE pipeline composition (VERDICT r7 #5; r10 promoted
# q130 onto the managed artifact — a lone driver run still needs no
# pre-existing side artifacts because cluster_table_artifact writes the
# stage boundary itself on first use): a real pipeline computes
# the cluster table ONCE and checkpoints it — the reference's
# write-then-reread stage boundaries (SURVEY §4.1: the EDA notebooks
# materialize filtered/joined tables to parquet and every downstream
# notebook re-reads them, e.g. reference code/eda/project_eda.py:568,
# code/nlp/Data_Gathering.py:184). The exact simjoin + connected
# components is the expensive stage (~5s of q130's 5.65s at bench sf0.1);
# retention, decontamination, and any other cluster consumer should pay
# it once. tests/test_dedup_ops.py proves the artifact path produces
# byte-identical retention output to the fused q130 plan.
# --------------------------------------------------------------------------
def doc_cluster_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q35's near-dup cluster assignment — (doc_id, cluster_id), one row
    per doc that has at least one near-dup edge (corpus-small: the pair
    join only emits docs with >= 0.6-Jaccard partners). THE shared
    upstream of q35/q130 and the frame `write_cluster_table`
    checkpoints."""
    from reddit_big_data_spark.operators.components import dedup_clusters
    from reddit_big_data_spark.operators.simjoin import similarity_join

    toks = _tokens(spark, sf_dir)
    sh = toks.select(
        "doc_id", word_shingles(F.col("toks"), 2).alias("shingles")
    )
    return dedup_clusters(
        similarity_join(sh, "doc_id", "shingles", threshold=0.6)
    ).select("doc_id", "cluster_id")


def write_cluster_table(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Materialize the cluster table as a parquet artifact (the stage
    boundary). Downstream consumers `spark.read.parquet(path)` it into
    `neardup_retention_report` (or any other keep/drop policy) instead of
    re-paying the exact simjoin per consumer."""
    doc_cluster_table(spark, sf_dir).write.mode("overwrite").parquet(path)


# Version token for the managed cluster-table artifact: bump on ANY change
# to the clustering semantics (doc_cluster_table's shingle size, simjoin
# threshold, components algorithm, or output schema). It keys the artifact
# DIRECTORY, so artifacts computed by old code/params orphan instead of
# silently serving (ADVICE r10: mtime-only freshness missed code changes).
_CLUSTER_TABLE_PARAMS = "v1:shingle=2:threshold=0.6:schema=doc_id,cluster_id"


def _cluster_table_artifact_path(sf_dir: str) -> str:
    """Artifact directory for (corpus, clustering-version) — shared by
    cluster_table_artifact and its freshness tests so the key formula
    can't drift between them. The corpus and params hash SEPARATELY
    (``neardup_clusters_{corpus}_{params}``) so a params/code version
    bump can recognize — and prune — the same corpus's stale sibling
    directories (ADVICE r11: the old single-hash key orphaned every
    superseded version, growing spark-warehouse unboundedly)."""
    import hashlib
    import os

    corpus_key = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    params_key = hashlib.md5(_CLUSTER_TABLE_PARAMS.encode()).hexdigest()[:8]
    repo_root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    return os.path.join(
        repo_root,
        "spark-warehouse",
        f"neardup_clusters_{corpus_key}_{params_key}",
    )


def _prune_stale_artifact_versions(current_path: str) -> None:
    """Remove superseded cluster-table artifact directories once a fresh
    one is in place (ADVICE r11): siblings for the SAME corpus under any
    other params/code version, plus old-format single-hash directories
    (``neardup_clusters_`` + 12 hex chars — a shape the current key can
    never produce, so they are stale by construction; their hash mixed
    corpus+params and cannot be matched to a corpus). Called AFTER a
    successful write so a failed rewrite never destroys the only good
    artifact."""
    import os
    import re
    import shutil

    parent = os.path.dirname(current_path)
    base = os.path.basename(current_path)
    corpus_prefix = base.rsplit("_", 1)[0] + "_"
    if not os.path.isdir(parent):
        return
    for name in os.listdir(parent):
        if name == base:
            continue
        stale_sibling = name.startswith(corpus_prefix)
        old_format = re.fullmatch(r"neardup_clusters_[0-9a-f]{12}", name)
        if stale_sibling or old_format:
            shutil.rmtree(os.path.join(parent, name), ignore_errors=True)


def cluster_table_artifact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized cluster table as a managed, freshness-checked
    artifact (VERDICT r9 #7b): first caller per (corpus, repo) pays the
    exact simjoin + components once and writes the parquet stage
    boundary; every later caller — q130 included — reads the scan-cost
    artifact, exactly like the 100 TB pipeline would. Freshness: the
    artifact is regenerated when the source documents parquet is newer
    than the artifact's _SUCCESS marker (a corpus swap invalidates it;
    same-path content edits bump mtime) OR when the clustering
    code/params version token below changes — ADVICE r10: mtime alone
    let an edit to the simjoin threshold / shingle size / components
    algorithm silently serve clusters computed by old code, because the
    parameters live in the directory key the old artifact no longer
    matches. Single-process contract, like every other registry artifact
    (bench and tests drive one session). tests/test_dedup_ops.py pins
    artifact-vs-fused byte identity."""
    import os

    path = _cluster_table_artifact_path(sf_dir)
    src = os.path.join(sf_dir, "documents.parquet")
    src_mtime = os.path.getmtime(src) if os.path.exists(src) else 0.0
    marker = os.path.join(path, "_SUCCESS")
    if not (
        os.path.exists(marker) and os.path.getmtime(marker) >= src_mtime
    ):
        write_cluster_table(spark, sf_dir, path)
        _prune_stale_artifact_versions(path)
    return spark.read.parquet(path)


def neardup_retention_report(
    docs: DataFrame, clusters: DataFrame
) -> DataFrame:
    """Keep-longest retention over a (doc_id, cluster_id) cluster table —
    q130's decision logic with the cluster table as an INPUT, so a
    materialized artifact (write_cluster_table) and the fused
    re-derivation (doc_cluster_table) compose identically.

    Canonical = most whitespace tokens per cluster, ties to the smallest
    doc_id (Lee et al. 2022 keep-longest practice); docs in no cluster
    keep themselves via the left-join coalesce. The argmax window is
    partitioned by cluster — bounded by the largest cluster, never
    global."""
    from pyspark.sql import Window

    meta = docs.select(
        "doc_id",
        "lang",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tokens"),
    )
    labeled = meta.join(
        clusters.select("doc_id", "cluster_id"), "doc_id", "left"
    ).withColumn("cid", F.coalesce("cluster_id", "doc_id"))
    w = Window.partitionBy("cid").orderBy(F.desc("n_tokens"), "doc_id")
    flagged = labeled.withColumn(
        "is_kept", (F.row_number().over(w) == 1).cast("int")
    )
    return (
        flagged.groupBy("lang")
        .agg(
            F.count("*").alias("docs_before"),
            F.sum("is_kept").alias("docs_after"),
            F.sum("n_tokens").alias("tokens_before"),
            F.sum(F.col("n_tokens") * F.col("is_kept")).alias("tokens_after"),
        )
        .orderBy("lang")
    )
