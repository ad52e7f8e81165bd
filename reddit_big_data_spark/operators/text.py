"""Text operators N1-N9 (SURVEY.md §2.9) — the reference's closest thing to
a bespoke engine, rebuilt as native DataFrame expressions.

The reference pipeline (reference code/nlp/NFL_Processing.py:143-167):
DocumentAssembler -> Tokenizer -> Normalizer -> StopWordsCleaner -> Stemmer
-> Finisher, all JVM Spark-NLP stages; its TF-IDF is a hand-rolled RDD
flatMap/reduceByKey chain with a HARD-CODED corpus size N=7511
(NFL_Processing.py:477-494, repeated as a latent bug in
Yankees_Processing_with_NLP.py:619-632).

Ours is pure `pyspark.sql.functions` — every op stays inside whole-stage
codegen, no Python workers, no JVM NLP dependency:

- tokenize:   split on whitespace runs
- normalize:  lower + strip non-alphanumerics (Normalizer's cleanup pattern,
              NFL_Processing.py:151-156)
- stopwords:  an inline literal list (the Spark ML StopWordsRemover
              default list's core; StopWordsCleaner at
              NFL_Processing.py:158-161)
- stem:       S-stemmer (ies->y, sses->ss, trailing s) as a regexp_replace
              chain — deterministic, SQL-expressible on both engines, unlike
              the Porter stemmer the reference downloads (NFL_Processing.py:
              411-413). A full Porter pandas UDF can slot in behind the same
              signature when parity with an external model matters.
- tf:         dictionary_stemmed_tf — explode -> groupBy(doc, raw term),
              then stopwords dropped and the stemmer run on the distinct
              vocabulary only
- tf_idf:     tf_idf_from_tf — groupBy(term) (DF) -> join -> log10(N/df),
              N passed in by the caller, COUNTED from the corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Core English stopword list (subset of Spark ML's StopWordsRemover default;
# kept inline so the DuckDB oracle can pin the identical literal list).
STOPWORDS: tuple[str, ...] = (
    "a", "an", "and", "are", "as", "at", "be", "but", "by", "for", "if",
    "in", "into", "is", "it", "no", "not", "of", "on", "or", "such", "that",
    "the", "their", "then", "there", "these", "they", "this", "to", "was",
    "will", "with",
)


def normalize(col: Column | str) -> Column:
    """N2: lowercase + collapse everything non-alphanumeric to single spaces
    (the Normalizer cleanup at reference NFL_Processing.py:151-156)."""
    c = F.col(col) if isinstance(col, str) else col
    cleaned = F.regexp_replace(F.lower(c), r"[^a-z0-9\s]", " ")
    return F.trim(F.regexp_replace(cleaned, r"\s+", " "))


def tokenize(col: Column | str) -> Column:
    """N1: whitespace tokenizer over normalized text -> array<string>."""
    return F.split(normalize(col), r"\s+")


def s_stem(token: Column) -> Column:
    """N4: S-stemmer — the common plural-stripping subset of Porter step 1a:
    *ies->y, *sses->ss, *s (not *ss, not *us) -> drop s. One regexp chain,
    expressible identically in DuckDB for the oracle.

    All three rules only match s-final tokens, so a cheap endswith gate
    skips the regex chain for the ~80% of tokens it can't touch (measured
    ~25% off the tokenize+stem stage at sf0.1)."""
    t = F.regexp_replace(token, r"ies$", "y")
    t = F.regexp_replace(t, r"sses$", "ss")
    stemmed = F.regexp_replace(t, r"([^su])s$", r"$1")
    return F.when(token.endswith("s"), stemmed).otherwise(token)


def dictionary_stemmed_tf(
    docs: DataFrame, doc_col: str, text_col: str
) -> DataFrame:
    """(doc, term, tf) through the N1-N4 chain with the stemmer applied to
    the DISTINCT raw vocabulary only — the fully-native twin of q68's
    dictionary-stemming trick. Per-occurrence regex work collapses from
    |corpus tokens| chains to |vocabulary| chains (~300x fewer on the
    testdata; the same orders-of-magnitude gap on any Zipfian corpus).

    Output is IDENTICAL to stem-every-occurrence-then-count: stemming is a
    deterministic per-token function, so TF(stem) = sum of the raw-term
    counts mapping to it — the groupBy proves it against q09's oracle.
    Stopwords are dropped on the vocabulary side for the same reason.
    """
    raw = docs.select(
        F.col(doc_col),
        F.explode(
            F.filter(F.split(normalize(text_col), " "), lambda t: t != "")
        ).alias("__raw"),
    )
    rawtf = raw.groupBy(doc_col, "__raw").agg(F.count("*").alias("__cnt"))
    vocab = (
        rawtf.select("__raw")
        .distinct()
        .filter(~F.col("__raw").isin(*STOPWORDS))
    )
    stem_map = vocab.select("__raw", s_stem(F.col("__raw")).alias("term"))
    return (
        rawtf.join(F.broadcast(stem_map), "__raw")
        .groupBy(doc_col, "term")
        .agg(F.sum("__cnt").cast("long").alias("tf"))
    )


def tf_idf_from_tf(tf: DataFrame, doc_col: str, n_docs: int) -> DataFrame:
    """N7 flagship rewrite: DataFrame-native TF-IDF from a (doc, term, tf)
    table over a corpus of ``n_docs`` documents.

    Replaces the reference's RDD chain (NFL_Processing.py:477-494): zero
    Python round-trips, and the corpus size N is an argument the caller
    counts (the reference hard-codes 7511 — carried wrongly into the
    Yankees notebook at Yankees_Processing_with_NLP.py:628).

    idf = log10(N / df_term); tfidf = tf * idf. The DF agg runs over the
    already-reduced (doc,term) pairs, not raw tokens; the idf join is a
    term-keyed join of two aggregated sides (AQE broadcasts the term side
    when small). Returns (doc, term, tf, idf, tf_idf).
    """
    from pyspark import StorageLevel

    # Persisted: both the doc-frequency branch and the final join consume
    # the TF table, and Catalyst does NOT reuse the exchange across the
    # two branches (verified on the executed plan) — without this the
    # full scan+explode+aggregate of the corpus runs twice. (doc,term,tf)
    # is orders of magnitude smaller than the raw token stream, so
    # MEMORY_AND_DISK is cheap even at 100 TB.
    tf = tf.persist(StorageLevel.MEMORY_AND_DISK)
    docfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf = docfreq.withColumn("idf", F.log10(F.lit(float(n_docs)) / F.col("df")))
    return tf.join(idf.select("term", "idf"), "term").withColumn(
        "tf_idf", F.col("tf") * F.col("idf")
    )


def top_k_terms(tfidf: DataFrame, doc_col: str, k: int = 5) -> DataFrame:
    """N8: per-doc top-k TF-IDF terms via W3+W4 (row_number window
    partitioned by doc — parallel across docs), replacing reference
    NFL_Processing.py:502-506. Ties broken by term for determinism."""
    from pyspark.sql import Window

    w = Window.partitionBy(doc_col).orderBy(F.col("tf_idf").desc(), F.col("term"))
    return tfidf.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    size: int = 200,
    stride: int = 150,
) -> DataFrame:
    """Context-window chunking: split each document into `size`-char
    chunks every `stride` chars (overlap = size - stride), the unit-of-
    work transform feeding a pretraining tokenizer or a RAG embedder.

    Chunk i covers [1 + i*stride, 1 + i*stride + size); the final chunk
    truncates at the text end; every doc yields >= 1 chunk (n = 1 +
    ceil(max(len - size, 0) / stride)). All native: one sequence +
    posexplode per doc — no shuffle at all until a consumer aggregates,
    and the explode factor is bounded by len/stride.

    Returns (id, chunk_idx int, chunk_start int, chunk_len int, chunk
    string) — one row per chunk.
    """
    if stride <= 0 or size <= 0:
        raise ValueError("size and stride must be positive")
    if stride > size:
        # overlap = size - stride would be negative: characters between
        # consecutive windows are silently never covered — data loss in a
        # pretraining/RAG feed, never what a caller wants.
        raise ValueError(
            f"stride {stride} > size {size} leaves uncovered gaps"
        )
    n = 1 + F.ceil(
        F.greatest(F.length(text_col) - size, F.lit(0)) / float(stride)
    ).cast("int")
    starts = F.sequence(F.lit(0), n - 1)
    out = df.select(
        F.col(id_col),
        F.col(text_col).alias("__t"),
        F.posexplode(starts).alias("chunk_idx", "__i"),
    ).select(
        id_col,
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        (F.col("__i") * stride + 1).cast("int").alias("chunk_start"),
        F.col("__t").substr(F.col("__i") * stride + 1, F.lit(size)).alias("chunk"),
    )
    return out.withColumn("chunk_len", F.length("chunk").cast("int")).select(
        id_col, "chunk_idx", "chunk_start", "chunk_len", "chunk"
    )


def cdc_chunks(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 8,
    boundary_mod: int = 64,
) -> DataFrame:
    """Content-defined chunking (the rsync/FastCDC family; Muthitacharoen
    et al., "A Low-bandwidth Network File System", SOSP 2001): cut each
    text at positions where a rolling content hash satisfies a boundary
    condition, so chunk boundaries move WITH the content — an insertion
    shifts every fixed-stride chunk after it (chunk_documents), but CDC
    boundaries realign immediately, which is what makes chunk-hash dedup
    robust to edits. Expected chunk length = `boundary_mod` chars.

    Boundary rule (engine-portable, no custom rolling state): position i
    starts a chunk iff i == 1 or the first hex byte of
    md5(substr(text, i, window)) is < 256/boundary_mod. Positions within
    `window` of the end never cut (the tail merges into the last chunk).

    Plan shape: ENTIRELY ROW-LOCAL until the chunk explode — the boundary
    array is a higher-order filter over the position sequence (ascending
    by construction, ~len/boundary_mod ints), spans derive by array index
    pairing, and chunks explode with their substrings sliced from the
    carried text. No shuffle at all until a consumer aggregates, and the
    chunk STRING is never assembled char-by-char. (The first cut computed
    boundaries via a per-character explode + groupBy — n rows each
    carrying the whole document through a shuffle; the row-local filter
    produces the identical array with zero exchanges.)

    Returns (id, chunk_idx int, chunk_start int, chunk_len int,
    chunk_md5 string) — one row per chunk; dedup consumers join/group on
    chunk_md5 and never need the chunk text itself.
    """
    if window < 1 or boundary_mod < 2 or 256 % boundary_mod:
        raise ValueError(
            f"need window >= 1 and boundary_mod a divisor of 256 in "
            f"[2, 256], got window={window} boundary_mod={boundary_mod}"
        )
    cut = 256 // boundary_mod
    base = df.select(
        F.col(id_col), F.col(text_col).alias("__t"), F.length(text_col).alias("__n")
    ).filter(F.col("__n") >= 1)
    bs = F.filter(
        F.sequence(F.lit(1), F.col("__n")),
        lambda i: (i == 1)
        | (
            (i <= F.col("__n") - (window - 1))
            & (
                F.conv(
                    F.substring(
                        F.md5(F.substring("__t", i, F.lit(window))), 1, 2
                    ),
                    16,
                    10,
                ).cast("int")
                < cut
            )
        ),
    )
    bounds = base.select(id_col, "__t", "__n", bs.alias("__bs"))
    # span k: [bs[k], next_boundary - 1] (or text end for the last chunk).
    # F.get is 0-based and null-safe past the end (unlike element_at under
    # ANSI mode), so the last span's end coalesces to the text length.
    spans = F.transform(
        F.col("__bs"),
        lambda b, k: F.struct(
            b.alias("s"),
            F.coalesce(F.get(F.col("__bs"), k + 1) - 1, F.col("__n")).alias("e"),
        ),
    )
    out = bounds.select(
        id_col,
        "__t",
        F.posexplode(spans).alias("chunk_idx", "__sp"),
    )
    clen = (F.col("__sp.e") - F.col("__sp.s") + 1).cast("int")
    return out.select(
        id_col,
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.col("__sp.s").cast("int").alias("chunk_start"),
        clen.alias("chunk_len"),
        F.md5(F.substring("__t", F.col("__sp.s"), clen)).alias("chunk_md5"),
    )
