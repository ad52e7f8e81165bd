"""Unit tests for operators/dedup.py — shingle edge cases, MinHash recall
on planted near-dups, and the plan-shape guarantee that LSH candidate
generation never degrades to a cartesian product."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_LARGE

from reddit_big_data_spark.operators.dedup import (
    char_shingles,
    jaccard,
    lsh_candidate_pairs,
    near_duplicates,
    simhash_bits,
    token_set_fingerprint,
    word_shingles,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_word_shingles_short_docs(spark):
    df = spark.createDataFrame(
        [(1, ["a", "b", "c"]), (2, ["a"]), (3, [])],
        "id: int, toks: array<string>",
    )
    got = {
        r["id"]: r["s"]
        for r in df.select("id", word_shingles(F.col("toks"), 2).alias("s")).collect()
    }
    assert got[1] == ["a b", "b c"]
    assert got[2] == []  # n < k must be empty, not sequence(1,0)=[1,0]
    assert got[3] == []


def test_char_shingles(spark):
    df = spark.createDataFrame([("abcd",), ("ab",)], ["t"])
    got = [r["s"] for r in df.select(char_shingles(F.col("t"), 3).alias("s")).collect()]
    assert got[0] == ["abc", "bcd"]
    assert got[1] == []


def test_fingerprint_order_and_multiplicity_invariant(spark):
    df = spark.createDataFrame(
        [(1, ["b", "a", "a"]), (2, ["a", "b"]), (3, ["a", "c"])],
        "id: int, toks: array<string>",
    )
    fps = {
        r["id"]: r["fp"]
        for r in df.select("id", token_set_fingerprint(F.col("toks")).alias("fp")).collect()
    }
    assert fps[1] == fps[2]
    assert fps[1] != fps[3]


def test_jaccard(spark):
    df = spark.createDataFrame(
        [(["a", "b"], ["b", "c"]), ([], [])], "a: array<string>, b: array<string>"
    )
    got = [r["j"] for r in df.select(jaccard(F.col("a"), F.col("b")).alias("j")).collect()]
    assert abs(got[0] - 1 / 3) < 1e-12
    assert got[1] == 0.0  # empty/empty defined as 0, not NULL/div-by-zero


def test_lsh_no_cartesian_product(spark):
    df = spark.createDataFrame(
        [(i, [f"tok{i}", f"tok{i+1}", "shared"]) for i in range(20)],
        "doc_id: int, shingles: array<string>",
    )
    pairs = lsh_candidate_pairs(df, "doc_id", "shingles", bands=4, rows=2)
    plan = _plan(pairs)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    pairs.collect()  # and it actually runs


def test_near_duplicates_finds_planted_pair(spark):
    base = [f"w{i}" for i in range(50)]
    near = base[:48] + ["x1", "x2"]  # jaccard 48/52 ~ 0.92
    far = [f"z{i}" for i in range(50)]
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id: int, sh: array<string>"
    )
    got = near_duplicates(df, "doc_id", "sh", threshold=0.6).collect()
    assert [(r["id_a"], r["id_b"]) for r in got] == [(1, 2)]
    assert abs(got[0]["jaccard"] - 48 / 52) < 1e-9


def test_simhash_near_dup_small_hamming(spark):
    base = [f"w{i}" for i in range(60)]
    near = base[:58] + ["x1", "x2"]
    far = [f"z{i}" for i in range(60)]
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id: int, toks: array<string>"
    )
    sigs = {r["doc_id"]: r["simhash"] for r in simhash_bits(df, "doc_id", "toks").collect()}
    assert all(len(s) == 32 and set(s) <= {"0", "1"} for s in sigs.values())
    ham = lambda a, b: sum(x != y for x, y in zip(a, b))
    assert ham(sigs[1], sigs[2]) < ham(sigs[1], sigs[3])


def test_winnowing_guarantee(spark):
    """Winnowing guarantee: two docs sharing a substring of length >=
    k + window - 1 (here 8) must share at least one fingerprint."""
    from reddit_big_data_spark.operators.dedup import winnowing_fingerprints

    shared = "zqxjkwvp_common_block_zqxjkwvp"
    df = spark.createDataFrame(
        [
            (1, "aaaa" + shared + "bbbb"),
            (2, "cccc" + shared + "dddd"),
            (3, "totally different content here with no overlap at all"),
            (4, "abc"),  # shorter than k: no fingerprints
        ],
        "doc_id: int, text: string",
    )
    fps = winnowing_fingerprints(df, "doc_id", "text", k=5, window=4)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert by_doc[1] & by_doc[2], "docs sharing a long substring must overlap"
    assert not (by_doc[1] & by_doc[3]) or len(by_doc[1] & by_doc[3]) < len(
        by_doc[1] & by_doc[2]
    )
    assert 4 not in by_doc  # sub-k doc contributes nothing


def test_similarity_join_matches_brute_force(spark):
    """Prefix-filter + positional-filter join must return EXACTLY the
    brute-force pairs (recall and precision 1.0) across awkward set sizes
    (where ceil(t*|s|) float noise could under-shoot the prefix)."""
    import itertools

    from reddit_big_data_spark.operators.simjoin import similarity_join

    sets = {
        1: ["a", "b", "c", "d", "e"],
        2: ["a", "b", "c", "d", "f"],          # J(1,2)=4/6=0.667
        3: ["a", "b", "c", "d", "e"],          # J(1,3)=1.0
        4: ["x", "y", "z"],
        5: ["x", "y", "z", "w"],               # J(4,5)=0.75
        6: ["p", "q"],
        7: ["a", "f", "g", "h", "i", "j"],
        8: list("abcdefghij"),
        9: list("abcdefghkl"),                 # J(8,9)=8/12=0.667
    }
    for t in (0.5, 0.6, 0.75, 1.0):
        truth = set()
        for i, j in itertools.combinations(sorted(sets), 2):
            a, b = set(sets[i]), set(sets[j])
            if len(a & b) / len(a | b) >= t:
                truth.add((i, j))
        df = spark.createDataFrame(
            [(k, v) for k, v in sets.items()], "id: int, s: array<string>"
        )
        got = {
            (r["id_a"], r["id_b"])
            for r in similarity_join(df, "id", "s", t).collect()
        }
        assert got == truth, f"t={t}: {got} != {truth}"


def test_connected_components_known_graph(spark):
    """Two components incl. a 4-chain (multi-round propagation) + a pair."""
    from reddit_big_data_spark.operators.components import (
        connected_components,
        dedup_clusters,
    )

    edges = spark.createDataFrame(
        [(10, 20), (20, 30), (30, 40), (7, 9)], "id_a: int, id_b: int"
    )
    comp = {
        r["id"]: r["comp"]
        for r in connected_components(edges, "id_a", "id_b").collect()
    }
    assert comp == {10: 10, 20: 10, 30: 10, 40: 10, 7: 7, 9: 7}
    rows = dedup_clusters(edges).collect()
    assert {(r["doc_id"], r["cluster_id"], r["cluster_size"]) for r in rows} == {
        (10, 10, 4), (20, 10, 4), (30, 10, 4), (40, 10, 4), (7, 7, 2), (9, 7, 2),
    }


def test_connected_components_distributed_path_matches_driver(spark):
    """Force the iterative distributed path (driver_threshold=0) and
    assert it produces exactly the union-find result on a graph with
    chains, a cycle, and singleton-pair components."""
    from reddit_big_data_spark.operators.components import connected_components

    edge_list = [(1, 2), (2, 3), (3, 4), (4, 1), (5, 6), (7, 8), (8, 9), (2, 4)]
    edges = spark.createDataFrame(edge_list, "id_a: long, id_b: long")
    fast = {
        (r["id"], r["comp"])
        for r in connected_components(edges, "id_a", "id_b").collect()
    }
    dist = {
        (r["id"], r["comp"])
        for r in connected_components(
            edges, "id_a", "id_b", driver_threshold=0
        ).collect()
    }
    assert fast == dist == {
        (1, 1), (2, 1), (3, 1), (4, 1), (5, 5), (6, 5), (7, 7), (8, 7), (9, 7),
    }


def test_lsh_recall_matches_s_curve_on_planted_pairs(spark):
    """Empirical validation of the band-matching arithmetic the r12
    pipeline fix rests on (ADVICE r11): on 200 planted pairs at EXACTLY
    the deployment threshold's Jaccard (|A|=|B|=40, intersection 30 ->
    j = 30/50 = 0.6), measured lsh_candidate_pairs recall must track
    the 1-(1-j^rows)^bands S-curve — high for the threshold-matched
    32x4 deployment default, and demonstrably broken for the old 8x8
    (theory 0.988 vs 0.127; measured 0.980 vs 0.155 — deterministic,
    since MinHash here is md5 over fixed token strings). This is the
    formula test_banded_default_band_config_matches_threshold pins,
    proven against the operator instead of assumed."""
    from reddit_big_data_spark.operators.dedup import lsh_candidate_pairs

    n_pairs, shared, only = 200, 30, 10
    rows = []
    for p in range(n_pairs):
        sh = [f"p{p}_s{k}" for k in range(shared)]
        rows.append((2 * p, sh + [f"p{p}_a{k}" for k in range(only)]))
        rows.append((2 * p + 1, sh + [f"p{p}_b{k}" for k in range(only)]))
    df = spark.createDataFrame(
        rows, "doc_id long, shingles array<string>"
    ).persist()
    try:
        measured = {}
        for bands, rws in [(32, 4), (8, 8)]:
            found = (
                lsh_candidate_pairs(df, "doc_id", "shingles", bands, rws)
                .filter("id_b = id_a + 1 and id_a % 2 = 0")
                .count()
            )
            measured[(bands, rws)] = found / n_pairs
            theory = 1 - (1 - 0.6**rws) ** bands
            assert abs(measured[(bands, rws)] - theory) < 0.08, (
                bands, rws, measured[(bands, rws)], theory
            )
        # the deployment default actually delivers at the threshold ...
        assert measured[(32, 4)] >= 0.95, measured
        # ... and the old default really was broken there
        assert measured[(8, 8)] <= 0.30, measured
    finally:
        df.unpersist()


def test_signature_estimate_tracks_true_jaccard(spark):
    """The 128-hash signature Jaccard estimate (the est_cut gate's
    statistic) must sit near the true Jaccard: Binomial(128, j)/128 has
    std sqrt(j(1-j)/128) <= 0.045, so |est - j| < 0.15 is ~3.4 sigma."""
    from reddit_big_data_spark.operators.dedup import (
        minhash_signatures,
        signature_jaccard_estimate,
    )

    shared = [f"s{k}" for k in range(30)]
    df = spark.createDataFrame(
        [
            (0, shared + [f"a{k}" for k in range(10)]),  # j(0,1) = 0.6
            (1, shared + [f"b{k}" for k in range(10)]),
            (2, shared[:5] + [f"c{k}" for k in range(35)]),  # j(0,2) = 5/75
        ],
        "doc_id long, shingles array<string>",
    )
    sigs = {
        r["doc_id"]: r["signature"]
        for r in minhash_signatures(df, "doc_id", "shingles", 128).collect()
    }
    sdf = spark.createDataFrame(
        [(sigs[0], sigs[1], 0.6), (sigs[0], sigs[2], 5 / 75)],
        "sa array<bigint>, sb array<bigint>, true_j double",
    )
    for row in sdf.select(
        signature_jaccard_estimate(F.col("sa"), F.col("sb")).alias("est"),
        "true_j",
    ).collect():
        assert abs(row["est"] - row["true_j"]) < 0.15, row


def test_est_cut_gate_preserves_threshold_pairs_and_drops_background(spark):
    """q31's production est_cut=0.4 gate must pass every planted pair AT
    the 0.6 threshold that banding found (P(drop) ~ 2e-6/pair — zero of
    200 here, deterministic under the seeded permutations) while
    discarding planted j~0.1 background pairs that band-collide; and
    near_duplicates' verified output must be IDENTICAL with and without
    the gate — the gate only removes pairs the exact verify would have
    rejected anyway."""
    from reddit_big_data_spark.operators.dedup import (
        lsh_candidate_pairs,
        near_duplicates,
    )

    n_pairs, shared, only = 200, 30, 10
    rows = []
    for p in range(n_pairs):
        sh = [f"p{p}_s{k}" for k in range(shared)]
        rows.append((2 * p, sh + [f"p{p}_a{k}" for k in range(only)]))
        rows.append((2 * p + 1, sh + [f"p{p}_b{k}" for k in range(only)]))
    # background docs: 4 shingles shared with pair-0's doc-0, 36 unique
    # -> j ~ 4/76 ~ 0.05 against doc 0, far below the 0.4 gate
    base = [f"p0_s{k}" for k in range(4)]
    for b in range(50):
        rows.append((10_000 + b, base + [f"bg{b}_{k}" for k in range(36)]))
    df = spark.createDataFrame(
        rows, "doc_id long, shingles array<string>"
    ).persist()
    try:
        banded = lsh_candidate_pairs(df, "doc_id", "shingles", 32, 4)
        gated = lsh_candidate_pairs(
            df, "doc_id", "shingles", 32, 4, est_cut=0.4
        )
        is_planted = "id_b = id_a + 1 and id_a % 2 = 0 and id_a < 10000"
        assert (
            gated.filter(is_planted).count()
            == banded.filter(is_planted).count()
        )
        # the background mass band-collides somewhere but never survives
        # the estimate gate
        assert gated.filter("id_a >= 10000 or id_b >= 10000").count() == 0
        verified_plain = {
            (r["id_a"], r["id_b"])
            for r in near_duplicates(
                df, "doc_id", "shingles", threshold=0.6, bands=32, rows=4
            ).collect()
        }
        verified_gated = {
            (r["id_a"], r["id_b"])
            for r in near_duplicates(
                df,
                "doc_id",
                "shingles",
                threshold=0.6,
                bands=32,
                rows=4,
                est_cut=0.4,
            ).collect()
        }
        assert verified_gated == verified_plain
    finally:
        df.unpersist()


def test_q31_corpus_gap(duck):
    """Pin the corpus-gap assumption that makes q31's Spark==oracle equality
    deterministic: the threshold-matched 32x4 LSH still has miss
    probability above ~1e-4 for pairs in [0.6, 0.7) Jaccard (1.2e-2 at
    0.6 itself); the testdata must contain NO qualifying pair in that
    band. If testdata regeneration ever plants one, THIS fails — instead
    of q31 flaking at the driver's hash gate. (The old 8x8 config needed
    the gap to span [0.6, 0.9) and sf0.1 violated it — two true pairs at
    j=0.818/0.9 missed, caught by the r12 cross-sf sweep; above 0.7 the
    32x4 per-pair miss is <=1.5e-4 and falls super-exponentially.)"""
    from tests.conftest import SF_ORACLE

    duck.execute(
        "CREATE OR REPLACE VIEW __gap_docs AS SELECT * FROM "
        f"read_parquet('{SF_ORACLE}/documents.parquet')"
    )
    js = [
        r[0]
        for r in duck.execute(
            """
            WITH norm AS (
              SELECT doc_id,
                     string_split(trim(regexp_replace(regexp_replace(lower(text),
                         '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')), ' ') AS toks
              FROM __gap_docs
            ),
            sh AS (
              SELECT doc_id,
                     list_distinct([toks[i] || ' ' || toks[i+1]
                                    for i in generate_series(1, len(toks)-1)]) AS shingles
              FROM norm
            )
            SELECT CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                  / len(list_distinct(list_concat(a.shingles, b.shingles))) AS j
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                  / len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.6
            """
        ).fetchall()
    ]
    assert js, "expected planted near-dup pairs in the testdata"
    in_band = [j for j in js if j < 0.7]
    assert not in_band, f"qualifying pairs inside the LSH low-recall band: {in_band}"


@pytest.mark.skipif(
    not os.path.isdir(SF_LARGE),
    reason="sf0.1 corpus not present on this checkout (ADVICE r12)",
)
def test_q31_corpus_gap_sf01(spark):
    """The sf0.1 twin of the corpus-gap pin, via the EXACT prefix-filter
    simjoin (recall 1.0 by construction, itself oracle-verified at sf0.1
    this round) instead of the DuckDB all-pairs CTE, which takes minutes
    at 5000 docs. This is the corpus where the gap actually broke in r12
    (true pairs at j=0.818/0.9 sat inside 8x8's [0.6, 0.9) low-recall
    band): a testdata regeneration that plants a qualifying pair below
    0.7 at ANY shipped scale factor must fail a test, not the driver
    gate or only the slow cross-sf sweep."""
    from reddit_big_data_spark.operators.simjoin import similarity_join
    from reddit_big_data_spark.queries.dedup import _tokens
    from reddit_big_data_spark.operators.dedup import word_shingles

    sh = _tokens(spark, SF_LARGE).select(
        "doc_id", word_shingles(F.col("toks"), 2).alias("shingles")
    )
    pairs = similarity_join(sh, "doc_id", "shingles", threshold=0.6)
    js = [r["jaccard"] for r in pairs.collect()]
    assert js, "expected planted near-dup pairs in the sf0.1 testdata"
    in_band = [j for j in js if j < 0.7]
    assert not in_band, f"qualifying sf0.1 pairs inside the 32x4 low-recall band: {in_band}"
    # the r12 sweep's two 8x8-missed pairs are still the corpus floor
    assert min(js) > 0.8, min(js)


def test_simhash_hamming_banding_equals_brute_force(spark):
    """Pigeonhole recall property: the banded hamming join must return
    EXACTLY the brute-force pairs within max_hamming, on signatures
    engineered to sit at distances straddling the threshold (0, 1, 3, 4
    bits, including differences concentrated in one band and spread
    across bands)."""
    import itertools

    from reddit_big_data_spark.operators.dedup import simhash_hamming_pairs

    def flip(sig, *positions):
        s = list(sig)
        for p in positions:
            s[p] = "1" if s[p] == "0" else "0"
        return "".join(s)

    base = ("01" * 32)
    rows = [
        (0, base),                      # identical to 1 -> hamming 0
        (1, base),
        (2, flip(base, 5)),             # 1 bit from base
        (3, flip(base, 5, 6, 7)),       # 3 bits, same band
        (4, flip(base, 0, 17, 33)),     # 3 bits, three bands
        (5, flip(base, 0, 17, 33, 49)), # 4 bits, all bands differ -> out
        (6, flip(base, *range(32))),    # far away
    ]
    df = spark.createDataFrame(rows, "doc_id: int, simhash: string")
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_hamming_pairs(
            df, "doc_id", bits=64, bands=4, max_hamming=3
        ).collect()
    }
    want = {}
    for (ia, sa), (ib, sb) in itertools.combinations(rows, 2):
        d = sum(x != y for x, y in zip(sa, sb))
        if d <= 3:
            want[(ia, ib)] = d
    # sanity of the fixture itself: an identical pair is in, the 4-bit
    # all-bands-differ pair (0 vs 5) is out
    assert (0, 1) in want and (0, 5) not in want
    assert got == want


def test_simhash_hamming_rejects_wide_bands(spark):
    """Band width > 63 bits would overflow the signed-long hamming verify
    (silent pair loss with ANSI off) — must be rejected up front."""
    import pytest

    from reddit_big_data_spark.operators.dedup import simhash_hamming_pairs

    df = spark.createDataFrame([(1, "0" * 128)], "doc_id: int, simhash: string")
    with pytest.raises(ValueError, match="63"):
        simhash_hamming_pairs(df, "doc_id", bits=128, bands=2, max_hamming=1)


def test_simhash_scaled_equals_brute_force_at_adapted_width(spark):
    """Recall re-proof for the r9 adaptive-width lever (VERDICT r8 #4):
    simhash_hamming_pairs_scaled on a real token corpus, with base_n
    forced low so the corpus adapts to a WIDER-than-base chunk (w=19,
    76-bit signatures), must return exactly the brute-force hamming
    pairs over the same 76-bit signatures — the pigeonhole guarantee is
    width-independent, so widening for scale never costs a pair."""
    import itertools

    from reddit_big_data_spark.operators.dedup import (
        adaptive_band_width,
        simhash_hamming_pairs_scaled,
        simhash_wide,
    )

    # 30 docs: 10 near-dup pairs (one token swapped) + 10 unrelated
    rows = []
    for i in range(10):
        base = [f"w{i}_{j}" for j in range(12)]
        rows.append((2 * i, base))
        rows.append((2 * i + 1, base[:-1] + [f"alt{i}"]))
    rows += [(100 + i, [f"u{i}_{j}" for j in range(12)]) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id: int, toks: array<string>")

    w = adaptive_band_width(len(rows), base_n=4)
    assert w == 19  # 16 + ceil(log2(30/4)) — genuinely wider than base
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_hamming_pairs_scaled(
            df, "doc_id", "toks", base_n=4
        ).collect()
    }
    sigs = {
        r["doc_id"]: r["simhash"]
        for r in simhash_wide(df, "doc_id", "toks", bits=4 * w).collect()
    }
    assert all(len(s) == 4 * w for s in sigs.values())
    want = {}
    for ia, ib in itertools.combinations(sorted(sigs), 2):
        d = sum(x != y for x, y in zip(sigs[ia], sigs[ib]))
        if d <= 3:
            want[(ia, ib)] = d
    assert want, "fixture must plant at least one within-threshold pair"
    assert got == want


def test_simhash_wide_multiblock_extends_not_rewrites(spark):
    """Signatures wider than one md5 (>128 bits) draw extra digits from
    salted per-block digests; block 0 stays the plain md5, so any
    narrower signature is a PREFIX of the wider one (the <=128-bit
    registry/oracle semantics are untouched by the r9 headroom)."""
    from reddit_big_data_spark.operators.dedup import simhash_wide

    df = spark.createDataFrame(
        [(1, ["a", "b", "c"]), (2, ["x", "y"])],
        "doc_id: int, toks: array<string>",
    )
    s64 = {r["doc_id"]: r["simhash"] for r in simhash_wide(df, "doc_id", "toks", 64).collect()}
    s160 = {r["doc_id"]: r["simhash"] for r in simhash_wide(df, "doc_id", "toks", 160).collect()}
    assert all(len(s) == 160 and set(s) <= {"0", "1"} for s in s160.values())
    assert all(s160[k].startswith(s64[k]) for k in s64)
    # the salted tail is real signal, not a constant fill
    assert s160[1][128:] != s160[2][128:]


def test_duplicated_token_spans_coalesces_and_catches_self_repeats(spark):
    """q112 operator semantics on a hand-built corpus: a 10-token passage
    shared by two docs yields one maximal span in EACH doc (adjacent gram
    starts coalesce); a doc repeating its own 8-gram twice is flagged even
    with no cross-doc partner (Lee et al.'s self-repetition case); unique
    docs and docs shorter than k contribute nothing."""
    from reddit_big_data_spark.operators.dedup import duplicated_token_spans

    passage = [f"p{i}" for i in range(10)]
    rows = [
        (1, ["a1", "a2"] + passage + ["a3"]),          # shared at pos 3..12
        (2, passage + ["b1", "b2", "b3"]),             # shared at pos 1..10
        (3, [f"u{i}" for i in range(12)]),             # all unique
        (4, [f"s{i % 8}" for i in range(16)]),         # self-repeating 8-cycle
        (5, ["t1", "t2", "t3"]),                       # shorter than k
    ]
    df = spark.createDataFrame(rows, "doc_id: int, toks: array<string>")
    got = {
        (r.doc_id, r.span_start, r.span_end, r.span_len)
        for r in duplicated_token_spans(df, "doc_id", "toks", k=8).collect()
    }
    # doc 4: gram at pos i equals gram at pos i+8 for i=1..8 (wrap of the
    # 8-cycle), plus pos 9; all starts 1..9 coalesce into one full span.
    assert got == {
        (1, 3, 12, 10),
        (2, 1, 10, 10),
        (4, 1, 16, 16),
    }


def test_similarity_join_tiny_threshold_no_silent_drop(spark):
    """ADVICE r6: with a pathologically small (but valid) threshold,
    ceil(t*|s| - eps) used to evaluate to 0, log(0) -> NULL bucket,
    sequence(NULL, x) -> NULL, and explode SILENTLY dropped every probe
    row — recall 0 with no error. The greatest(1, ...) clamp keeps the
    bucket window well-defined, so every qualifying pair still surfaces."""
    import itertools

    from reddit_big_data_spark.operators.simjoin import similarity_join

    sets = {
        1: ["a", "b", "c"],
        2: ["a", "b", "d"],
        3: ["x", "y"],
        4: ["x", "z"],
    }
    t = 1e-12  # every overlapping pair qualifies; disjoint pairs never do
    truth = set()
    for i, j in itertools.combinations(sorted(sets), 2):
        a, b = set(sets[i]), set(sets[j])
        if a & b and len(a & b) / len(a | b) >= t:
            truth.add((i, j))
    df = spark.createDataFrame(
        [(k, v) for k, v in sets.items()], "id: int, s: array<string>"
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in similarity_join(df, "id", "s", t).collect()
    }
    assert got == truth, f"{got} != {truth}"


def test_duplicated_spans_detection_guarantee(spark):
    """Adversarial pin of duplicated_token_spans' documented contract
    (VERDICT r6 #7), k=4: (1) every duplicated span of length >= k is
    reported with EXACT boundaries — at the doc start, doc end, and
    mid-doc; (2) nothing shorter than k is reported; (3) two duplicated
    spans separated by a single token stay separate, touching spans
    merge; (4) no false extent into unique filler."""
    from reddit_big_data_spark.operators.dedup import duplicated_token_spans

    k = 4
    A = [f"a{i}" for i in range(k)]          # length exactly k
    B = [f"b{i}" for i in range(6)]          # length k+2
    S = [f"s{i}" for i in range(k - 1)]      # length k-1: must be invisible

    def filler(doc, start, n):
        return [f"f{doc}_{start + i}" for i in range(n)]

    docs = {
        # A at the very START; B mid-doc
        1: A + filler(1, 0, 3) + B + filler(1, 3, 2),
        # A at the very END; B at start
        2: B + filler(2, 0, 3) + A,
        # two copies of A in ONE doc separated by one unique token ->
        # two separate spans (self-repetition case)
        3: filler(3, 0, 2) + A + [f"gap3"] + A + filler(3, 2, 2),
        # S (too short) planted twice — plus A and B touching
        # back-to-back: their islands overlap-or-touch and must merge
        4: S + [f"u4"] + S + A + B,
    }
    df = spark.createDataFrame(
        [(i, t) for i, t in docs.items()], "doc_id: int, toks: array<string>"
    )
    spans = {
        (r["doc_id"], r["span_start"], r["span_end"]): r["span_len"]
        for r in duplicated_token_spans(df, "doc_id", "toks", k=k, min_count=2).collect()
    }
    # (1) exact boundaries, 1-based inclusive
    assert spans[(1, 1, k)] == k                      # A at start of doc 1
    assert spans[(1, k + 4, k + 9)] == 6              # B mid doc 1
    assert spans[(2, 1, 6)] == 6                      # B at start of doc 2
    assert spans[(2, 10, 13)] == k                    # A at end of doc 2
    # (3) one-token gap -> SEPARATE spans in doc 3
    assert spans[(3, 3, 6)] == k and spans[(3, 8, 11)] == k
    # (4) touching A+B in doc 4 merge into one maximal span
    assert spans[(4, 8, 17)] == 10
    # (2) the k-1 span never appears; no other spans beyond the expected
    assert len(spans) == 7, sorted(spans)


def test_cluster_table_artifact_reuse(spark, tmp_path):
    """The materialize-once composition (VERDICT r7 #5): retention over a
    parquet-checkpointed cluster table must equal the fused q130 plan
    byte-for-byte — the artifact path is the sanctioned way for several
    consumers to share one simjoin+components run (the reference's
    write-then-reread stage boundaries, SURVEY §4.1)."""
    from reddit_big_data_spark.queries.dedup import (
        doc_cluster_table,
        neardup_retention_report,
        q130_neardup_retention,
        write_cluster_table,
    )
    from reddit_big_data_spark.sources.io import read_table, spread
    from tests.conftest import SF_SMOKE

    path = str(tmp_path / "clusters.parquet")
    write_cluster_table(spark, SF_SMOKE, path)

    docs = spread(read_table(spark, SF_SMOKE, "documents"))
    via_artifact = neardup_retention_report(
        docs, spark.read.parquet(path)
    ).collect()
    # the truly FUSED plan (r10: q130 itself now reads the managed
    # artifact, so the fused arm must come from doc_cluster_table)
    fused = neardup_retention_report(
        docs, doc_cluster_table(spark, SF_SMOKE)
    ).collect()
    via_registry = q130_neardup_retention(spark, SF_SMOKE).collect()
    assert via_artifact == fused == via_registry and len(fused) > 0
    # and the reuse path's plan re-reads the ARTIFACT — no shingle
    # similarity join in sight (the whole point of the checkpoint)
    plan = _plan(neardup_retention_report(docs, spark.read.parquet(path)))
    # a parquet FileScan of the ARTIFACT must appear (ADVICE r8: the old
    # `"Join" in plan` assertion was vacuous — any join matched). The
    # plan elides long paths, so key on the artifact scan's unique
    # ReadSchema: only the cluster table carries a cluster_id column.
    assert any(
        "FileScan parquet" in ln and "cluster_id" in ln
        for ln in plan.splitlines()
    ), plan
    assert "posexplode" not in plan.lower()  # no shingle re-derivation


def test_cluster_table_artifact_freshness(spark, tmp_path, monkeypatch):
    """cluster_table_artifact (r10, VERDICT r9 #7b): the first call per
    corpus writes the parquet stage boundary, later calls reuse it
    (same _SUCCESS mtime), a NEWER source corpus invalidates it, and —
    ADVICE r10 — a clustering code/params VERSION bump invalidates it
    too (the version token keys the artifact directory, so old-code
    artifacts orphan instead of silently serving)."""
    import os

    from reddit_big_data_spark.queries import dedup as dmod
    from tests.conftest import SF_SMOKE

    # redirect the artifact root into the test sandbox
    calls = {"writes": 0}
    real_write = dmod.write_cluster_table

    def counting_write(spark_, sf_dir_, path_):
        calls["writes"] += 1
        real_write(spark_, sf_dir_, path_)

    monkeypatch.setattr(dmod, "write_cluster_table", counting_write)

    df1 = dmod.cluster_table_artifact(spark, SF_SMOKE)
    n1 = df1.count()
    w_after_first = calls["writes"]
    df2 = dmod.cluster_table_artifact(spark, SF_SMOKE)
    assert df2.count() == n1
    assert calls["writes"] == w_after_first, "fresh artifact rewritten"
    # a newer source must invalidate: bump the marker BACKWARD to fake
    # an older artifact than the corpus
    marker = os.path.join(
        dmod._cluster_table_artifact_path(SF_SMOKE), "_SUCCESS"
    )
    assert os.path.exists(marker), "managed artifact _SUCCESS marker missing"
    # strictly older than the source corpus, whatever its mtime is
    old = os.path.getmtime(os.path.join(SF_SMOKE, "documents.parquet")) - 1
    os.utime(marker, (old, old))
    dmod.cluster_table_artifact(spark, SF_SMOKE)
    assert calls["writes"] == w_after_first + 1, "stale artifact reused"
    # a clustering code/params version bump must also invalidate: the
    # token keys the directory, so the bumped key has no artifact yet —
    # remove any leftover from a PREVIOUS run of this test first (the
    # bump string is deterministic, so rerunning the suite would
    # otherwise find the last run's bumped artifact fresh)
    import shutil

    real_path = dmod._cluster_table_artifact_path(SF_SMOKE)
    monkeypatch.setattr(
        dmod, "_CLUSTER_TABLE_PARAMS", dmod._CLUSTER_TABLE_PARAMS + ":bumped"
    )
    bumped_path = dmod._cluster_table_artifact_path(SF_SMOKE)
    shutil.rmtree(bumped_path, ignore_errors=True)
    df3 = dmod.cluster_table_artifact(spark, SF_SMOKE)
    assert df3.count() == n1
    assert calls["writes"] == w_after_first + 2, (
        "params/version bump silently served the old-code artifact"
    )
    # the bump's write PRUNES the superseded real-params sibling
    # (ADVICE r11: version bumps used to orphan old directories forever)
    assert not os.path.exists(real_path), (
        "superseded artifact version not pruned on rewrite"
    )
    # don't leave the ':bumped' artifact behind either (ADVICE r11); the
    # monkeypatch is gone after this test, so nothing would prune it
    shutil.rmtree(bumped_path, ignore_errors=True)


def test_cluster_table_artifact_prune_scope(tmp_path, monkeypatch):
    """_prune_stale_artifact_versions removes ONLY same-corpus siblings
    under other params versions and old-format single-hash directories —
    never the current artifact, other corpora's artifacts, or unrelated
    warehouse content."""
    import os

    from reddit_big_data_spark.queries import dedup as dmod

    parent = tmp_path / "warehouse"
    current = parent / "neardup_clusters_aaaaaaaaaaaa_11111111"
    same_corpus_old_params = parent / "neardup_clusters_aaaaaaaaaaaa_22222222"
    other_corpus = parent / "neardup_clusters_bbbbbbbbbbbb_11111111"
    old_format = parent / "neardup_clusters_cfc1c0f83032"
    unrelated = parent / "some_table"
    for d in (current, same_corpus_old_params, other_corpus, old_format, unrelated):
        os.makedirs(d)

    dmod._prune_stale_artifact_versions(str(current))
    assert os.path.exists(current)
    assert os.path.exists(other_corpus)
    assert os.path.exists(unrelated)
    assert not os.path.exists(same_corpus_old_params)
    assert not os.path.exists(old_format)
    # missing parent is a no-op, not an error
    dmod._prune_stale_artifact_versions(str(tmp_path / "nope" / "x_1_2"))


def test_simhash_bits_rejects_widths_past_md5_digits(spark):
    """Review r14: bits > 32 used to silently produce constant votes on
    bits 33+ (substring past the 32-digit md5 returns ''), halving
    effective signature width — now a loud ValueError."""
    import pytest

    from reddit_big_data_spark.operators.dedup import simhash_bits

    df = spark.createDataFrame(
        [(1, ["a", "b"])], "doc_id long, toks array<string>"
    )
    with pytest.raises(ValueError, match="must be in \\[1, 32\\]"):
        simhash_bits(df, "doc_id", "toks", bits=64)
    with pytest.raises(ValueError, match="must be in \\[1, 32\\]"):
        simhash_bits(df, "doc_id", "toks", bits=0)
    assert simhash_bits(df, "doc_id", "toks", bits=32).count() == 1


def test_banded_default_band_config_matches_threshold():
    """ADVICE r11: the shared near-dup LSH S-curve (q31, q105) must be
    matched to its verify threshold (0.6) — midpoint below the threshold
    and per-pair recall >= 0.98 AT the threshold, i.e. the config must not
    silently raise the operative near-dup threshold the way the old 8x8
    default did (midpoint ~0.77, recall ~13% at j=0.6)."""
    from reddit_big_data_spark.queries.dedup import (
        _NEARDUP_BANDS as bands,
        _NEARDUP_ROWS as rows,
        _NEARDUP_THRESHOLD as threshold,
    )
    midpoint = (1.0 / bands) ** (1.0 / rows)
    recall_at_t = 1.0 - (1.0 - threshold**rows) ** bands
    assert midpoint < threshold, (bands, rows, midpoint)
    assert recall_at_t >= 0.98, (bands, rows, recall_at_t)
    # and the old default really was broken — keep the counterexample
    assert 1.0 - (1.0 - threshold**8) ** 8 < 0.15


def test_lsh_band_keys_null_signature_never_buckets(spark):
    """Review r14: lsh_band_keys over the all-NULL MinHash signature of
    an empty shingle set must honor 'NULL mins never collide
    into buckets' — concat_ws used to map EVERY empty doc to the same
    '' key in every band (quadratic blowup of exactly the docs claimed
    safe); the null-propagating fold yields NULL keys instead, which no
    groupBy bucket or equi-join ever matches."""
    from pyspark.sql import functions as F

    from reddit_big_data_spark.operators.dedup import lsh_band_keys

    # docs 2 and 3 carry the all-NULL signature of an empty shingle set
    # (each permutation's array_min over no hashes is NULL)
    df = spark.createDataFrame(
        [(1, list(range(11, 19))), (2, [None] * 8), (3, [None] * 8)],
        "doc_id long, sig array<long>",
    )
    keyed = df.select(
        "doc_id",
        lsh_band_keys(F.col("sig"), bands=2, rows=4).alias("keys"),
    )
    rows = {r["doc_id"]: r["keys"] for r in keyed.collect()}
    assert all(k is not None for k in rows[1])
    assert all(k is None for k in rows[2]) and all(k is None for k in rows[3])
    # the two empty docs must NOT meet under the production pattern: an
    # EQUI-JOIN on (band position, key) — NULL keys never satisfy it
    banded = keyed.select(
        "doc_id", F.posexplode("keys").alias("band", "k")
    )
    pairs = banded.alias("a").join(
        banded.alias("b"),
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.k") == F.col("b.k"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    )
    assert pairs.count() == 0


def test_lsh_band_keys_rejects_short_signature(spark):
    """ADVICE r14 geometry precondition: a signature SHORTER than
    bands*rows would make trailing band slices empty and fold every doc
    to the same '' init key — a silent all-docs collision in those
    bands. The runtime guard must raise instead; a NULL signature
    column (outer-join shape) still propagates to NULL keys."""
    from pyspark.sql import functions as F

    from reddit_big_data_spark.operators.dedup import lsh_band_keys

    short = spark.createDataFrame(
        [(1, [11, 22, 33])], "doc_id long, sig array<bigint>"
    )
    with pytest.raises(Exception, match="shorter than bands\\*rows"):
        short.select(
            lsh_band_keys(F.col("sig"), bands=2, rows=4).alias("k")
        ).collect()
    # exact geometry passes; whole-NULL signature stays NULL-propagating
    ok = spark.createDataFrame(
        [(1, [1, 2, 3, 4, 5, 6, 7, 8])], "doc_id long, sig array<bigint>"
    ).select(lsh_band_keys(F.col("sig"), bands=2, rows=4).alias("k"))
    assert all(k is not None for k in ok.collect()[0]["k"])
    null_sig = spark.range(1).select(
        F.lit(None).cast("array<bigint>").alias("sig")
    )
    keys = null_sig.select(
        lsh_band_keys(F.col("sig"), bands=2, rows=4).alias("k")
    ).collect()[0]["k"]
    assert all(k is None for k in keys)


def test_connected_components_null_edges_agree_across_strategies(spark):
    """Review r15: a NULL-endpoint edge asserts no linkage and must be
    dropped WHOLE by both strategies. The driver union-find's src <= dst
    filter already dropped it silently, but the star path's node frame
    used to surface the non-NULL endpoint and a NULL node as singleton
    components — the same input produced different node sets depending
    on which side of the size gate it landed."""
    from reddit_big_data_spark.operators.components import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (3, None), (None, 4), (None, None)],
        "id_a: long, id_b: long",
    )
    expect = {(1, 1), (2, 1)}
    for kwargs in (
        {},                              # driver union-find
        {"driver_threshold": 0},         # star
    ):
        got = {
            (r["id"], r["comp"])
            for r in connected_components(edges, "id_a", "id_b", **kwargs).collect()
        }
        assert got == expect, (kwargs, got)


def _py_base_hash(s: str) -> int:
    """The engine-independent reference for the MinHash base hash:
    first 7 hex digits of md5, as an integer."""
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:7], 16)


def test_minhash_signatures_match_pure_python_reference(spark):
    """r16: minhash_signatures was rewritten from explode + per-
    permutation MIN aggregates to one in-row higher-order-function pass
    (with the lambda-bound base hashes). This pins the output against a
    PURE-PYTHON replay of the documented definition — md5-derived base
    hash, (a_i*h + b_i) mod 2^31-1 permutations, min per permutation —
    so a future binding or coefficient regression in the HOF form fails
    here, independent of any Spark evaluation path."""
    from reddit_big_data_spark.operators.dedup import (
        _MERSENNE31,
        _perm_coeffs,
        minhash_signatures,
    )

    docs = {
        0: ["a b", "b c", "c d"],
        1: ["x y"],
        2: [],  # empty shingle set: must vanish
    }
    df = spark.createDataFrame(
        list(docs.items()), "doc_id long, shingles array<string>"
    )
    got = {
        r["doc_id"]: list(r["signature"])
        for r in minhash_signatures(df, "doc_id", "shingles", 16).collect()
    }
    want = {}
    for doc_id, shingles in docs.items():
        if not shingles:
            continue
        base = [_py_base_hash(s) for s in shingles]
        sig = []
        for i in range(16):
            a, b = _perm_coeffs(i)
            sig.append(min((a * h + b) % _MERSENNE31 for h in base))
        want[doc_id] = sig
    assert got == want


def test_simhash_match_pure_python_reference(spark):
    """r16: simhash_bits/simhash_wide were rewritten from explode +
    per-bit SUM aggregates to one in-row vote fold. Pinned against a
    pure-python replay of both documented definitions (hex-digit votes
    for bits; salted-block bit votes for wide, including a multi-block
    width), token MULTIPLICITY included."""
    import hashlib

    from reddit_big_data_spark.operators.dedup import simhash_bits, simhash_wide

    docs = {0: ["the", "cat", "the"], 1: ["dog"]}
    df = spark.createDataFrame(
        list(docs.items()), "doc_id long, toks array<string>"
    )

    def py_bits(tokens, bits):
        votes = [0] * bits
        for t in tokens:
            h = hashlib.md5(t.encode()).hexdigest()
            for j in range(bits):
                votes[j] += 1 if h[j] in "89abcdef" else -1
        return "".join("1" if v >= 0 else "0" for v in votes)

    def py_wide(tokens, bits):
        ndig = (bits + 3) // 4
        nblocks = (ndig + 31) // 32
        votes = [0] * bits
        for t in tokens:
            hs = [
                hashlib.md5(
                    (t if b == 0 else f"{t}#{b}").encode()
                ).hexdigest()
                for b in range(nblocks)
            ]
            for j in range(bits):
                d = int(hs[(j // 4) // 32][(j // 4) % 32], 16)
                bit = (d >> (3 - j % 4)) & 1
                votes[j] += 1 if bit else -1
        return "".join("1" if v >= 0 else "0" for v in votes)

    got_bits = {
        r["doc_id"]: r["simhash"]
        for r in simhash_bits(df, "doc_id", "toks", 32).collect()
    }
    assert got_bits == {k: py_bits(v, 32) for k, v in docs.items()}
    for width in (64, 160):  # one md5 block / multi-block salted
        got_wide = {
            r["doc_id"]: r["simhash"]
            for r in simhash_wide(df, "doc_id", "toks", width).collect()
        }
        assert got_wide == {k: py_wide(v, width) for k, v in docs.items()}
