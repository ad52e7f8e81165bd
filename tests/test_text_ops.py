"""Unit tests for operators/text.py — pins the TF-IDF formula
(idf = log10(N/df), N the corpus size the caller counts) against a
hand-computed fixture, the test SURVEY.md §5.2 calls for (the reference
hard-codes N=7511 at code/nlp/NFL_Processing.py:486; q09 counts it)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from reddit_big_data_spark.operators.text import (
    normalize,
    s_stem,
    tf_idf_from_tf,
    tokenize,
    top_k_terms,
)


def test_normalize_tokenize(spark):
    df = spark.createDataFrame([("Hello, WORLD!!  spark-SQL  ",)], ["text"])
    row = df.select(
        normalize("text").alias("n"), tokenize("text").alias("t")
    ).first()
    assert row["n"] == "hello world spark sql"
    assert row["t"] == ["hello", "world", "spark", "sql"]


def test_s_stem(spark):
    df = spark.createDataFrame(
        [("queries",), ("classes",), ("tables",), ("chess",), ("bus",), ("cat",)],
        ["w"],
    )
    got = [r["s"] for r in df.select(s_stem(F.col("w")).alias("s")).collect()]
    assert got == ["query", "class", "table", "chess", "bus", "cat"]


def test_tfidf_formula_n_computed(spark):
    # 3 docs (1: a a b, 2: a c, 3: c c c) as a hand-built (doc, term, tf)
    # table; term distribution hand-computed.
    tf = spark.createDataFrame(
        [(1, "a", 2), (1, "b", 1), (2, "a", 1), (2, "c", 1), (3, "c", 3)],
        ["doc", "term", "tf"],
    )
    n = 3
    out = {
        (r["doc"], r["term"]): (r["tf"], r["idf"], r["tf_idf"])
        for r in tf_idf_from_tf(tf, "doc", n_docs=n).collect()
    }
    # term a: df=2; term b: df=1; term c: df=2
    assert out[(1, "a")][0] == 2
    assert math.isclose(out[(1, "a")][1], math.log10(n / 2))
    assert math.isclose(out[(1, "a")][2], 2 * math.log10(n / 2))
    assert math.isclose(out[(1, "b")][1], math.log10(n / 1))
    assert math.isclose(out[(3, "c")][2], 3 * math.log10(n / 2))


def test_top_k_deterministic_ties(spark):
    df = spark.createDataFrame(
        [(1, "z", 1, 0.5, 0.5), (1, "a", 1, 0.5, 0.5), (1, "m", 1, 0.9, 0.9)],
        ["doc", "term", "tf", "idf", "tf_idf"],
    )
    got = [r["term"] for r in top_k_terms(df, "doc", k=2).orderBy("rn").collect()]
    assert got == ["m", "a"]  # tie between a/z broken alphabetically


def test_q70_survives_single_token_documents(spark, tmp_path):
    """Regression (round-3 review): a document whose normalized text is a
    single token must not crash the bigram builder — Spark's
    sequence(1, 0) is the DESCENDING [1, 0] and element_at(t, 0) throws
    without the size guard."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from reddit_big_data_spark.queries.cooc import q70_pmi_bigrams

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": ["hello", "a!!", "big data big data", "spark query engine"],
            "lang": ["en"] * 4,
            "source": ["t"] * 4,
            "n_chars": [5, 3, 17, 18],
        }
    )
    pq.write_table(pa.Table.from_pandas(pdf), str(tmp_path / "documents.parquet"))
    rows = q70_pmi_bigrams(spark, str(tmp_path)).collect()
    got = {(r["w1"], r["w2"]) for r in rows}
    assert ("big", "data") in got and ("data", "big") in got
    # single-token docs contribute unigrams (PMI denominators) but no pairs
    assert not any("hello" in p or "a" in p for p in got)


def test_chunk_documents_rejects_gap_leaving_stride(spark):
    """stride > size silently skips characters between windows — must be
    rejected up front (data loss in a training feed)."""
    import pytest

    from reddit_big_data_spark.operators.text import chunk_documents

    df = spark.createDataFrame([(1, "abcdef")], "doc_id: int, text: string")
    with pytest.raises(ValueError, match="gap"):
        chunk_documents(df, "doc_id", "text", size=2, stride=10)


def test_chunk_documents_covers_every_char(spark):
    """Union of emitted chunks must cover the full text with the promised
    overlap, including the truncated final chunk and the one-chunk case."""
    from reddit_big_data_spark.operators.text import chunk_documents

    rows = [(1, "x" * 450), (2, "short"), (3, "y" * 200), (4, "z" * 201)]
    df = spark.createDataFrame(rows, "doc_id: int, text: string")
    got = chunk_documents(df, "doc_id", "text", size=200, stride=150).collect()
    by_doc: dict[int, list] = {}
    for r in got:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, text in rows:
        chunks = sorted(by_doc[doc_id], key=lambda r: r["chunk_idx"])
        covered = set()
        for r in chunks:
            assert r["chunk"] == text[r["chunk_start"] - 1 : r["chunk_start"] - 1 + 200]
            assert r["chunk_len"] == len(r["chunk"])
            covered.update(range(r["chunk_start"] - 1, r["chunk_start"] - 1 + r["chunk_len"]))
        assert covered == set(range(len(text))), doc_id
    assert len(by_doc[2]) == 1 and len(by_doc[3]) == 1  # len <= size -> 1 chunk
    assert len(by_doc[4]) == 2  # 201 chars -> second (truncated) chunk


def test_cdc_chunks_tile_and_realign(spark):
    """CDC contract: chunks tile [1, len] exactly (no gaps/overlaps), and
    a PREFIX INSERTION leaves the suffix's chunk hashes intact from the
    first content-defined boundary onward — the edit-robustness property
    fixed-stride chunking (chunk_documents) lacks, and the reason CDC is
    the dedup-stable unit."""
    from pyspark.sql import functions as F

    from reddit_big_data_spark.operators.text import cdc_chunks

    text = "the quick brown fox jumps over the lazy dog " * 8
    edited = "inserted new preamble words here " + text
    df = spark.createDataFrame(
        [(1, text.strip()), (2, edited.strip())], "doc_id: long, t: string"
    )
    rows = cdc_chunks(df, "doc_id", "t", window=8, boundary_mod=16).collect()
    by_doc = {1: [], 2: []}
    for r in rows:
        by_doc[r["doc_id"]].append(r)
    for doc_id, chunks in by_doc.items():
        chunks.sort(key=lambda r: r["chunk_idx"])
        n = len(text.strip()) if doc_id == 1 else len(edited.strip())
        assert chunks[0]["chunk_start"] == 1
        for prev, cur in zip(chunks, chunks[1:]):
            assert cur["chunk_start"] == prev["chunk_start"] + prev["chunk_len"]
        assert chunks[-1]["chunk_start"] + chunks[-1]["chunk_len"] - 1 == n
    # suffix chunk hashes realign after the insertion: the edited doc
    # shares most of the original's chunk hashes (fixed-stride would
    # share none — every boundary shifts by the insertion length)
    h1 = {r["chunk_md5"] for r in by_doc[1]}
    h2 = {r["chunk_md5"] for r in by_doc[2]}
    assert len(h1 & h2) >= max(1, len(h1) - 2), (sorted(h1), sorted(h2))


def test_cdc_chunks_validates_params(spark):
    import pytest

    from reddit_big_data_spark.operators.text import cdc_chunks

    df = spark.createDataFrame([(1, "abc")], "doc_id: long, t: string")
    with pytest.raises(ValueError, match="boundary_mod"):
        cdc_chunks(df, "doc_id", "t", window=0)
    with pytest.raises(ValueError, match="boundary_mod"):
        cdc_chunks(df, "doc_id", "t", boundary_mod=7)


def test_bm25_guards_empty_corpus(spark, tmp_path):
    import pytest

    from reddit_big_data_spark.queries.text import _bm25_scored
    from reddit_big_data_spark.schemas import DOCUMENTS

    spark.createDataFrame([], DOCUMENTS).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    with pytest.raises(ValueError, match="non-empty corpus"):
        _bm25_scored(spark, str(tmp_path))


def test_hybrid_rrf_guards_missing_query_vector(spark, tmp_path):
    import pytest

    from reddit_big_data_spark.schemas import DOCUMENTS, EMBEDDINGS

    spark.createDataFrame(
        [(1, "spark query window text", "en", "src0", 23)], DOCUMENTS
    ).write.parquet(str(tmp_path / "documents.parquet"))
    # no vec_id == 0 row: the query-vector contract is violated
    spark.createDataFrame(
        [(1, [0.1, 0.2], 0)], EMBEDDINGS
    ).write.parquet(str(tmp_path / "embeddings.parquet"))
    from reddit_big_data_spark.queries.text import q49_hybrid_rrf

    with pytest.raises(ValueError, match="vec_id = 0"):
        q49_hybrid_rrf(spark, str(tmp_path))


def test_pmi_guards_bigramless_corpus(spark, tmp_path):
    import pytest

    from reddit_big_data_spark.queries.cooc import q70_pmi_bigrams
    from reddit_big_data_spark.schemas import DOCUMENTS

    # single-token docs produce unigrams but zero bigrams: the PMI
    # totals are NULL sums and must fail loud, not TypeError on float(None)
    spark.createDataFrame(
        [(1, "hello", "en", "src0", 5)], DOCUMENTS
    ).write.parquet(str(tmp_path / "documents.parquet"))
    with pytest.raises(ValueError, match="at least one bigram"):
        q70_pmi_bigrams(spark, str(tmp_path))
