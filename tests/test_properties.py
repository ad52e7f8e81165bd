"""Property-based tests (hypothesis): invariants a fixed fixture can't
pin — distributed NTILE vs the SQL-standard definition on arbitrary
(N, buckets), sessionization vs a pure-Python reference on random event
streams, Jaccard's set identity on random token bags. The reference repo
has no property tests at all (SURVEY.md §5.1); these guard the operators
whose edge cases live in arithmetic, not data."""

from __future__ import annotations

import datetime as dt

from hypothesis import example, given, settings, strategies as st

from pyspark.sql import functions as F

from reddit_big_data_spark.operators.dedup import jaccard
from reddit_big_data_spark.operators.ranking import ntile_from_rank, with_global_ntile
from reddit_big_data_spark.operators.temporal_joins import sessionize

_SETTINGS = dict(max_examples=8, deadline=None)


def eng_round(x: float, p: int) -> float:
    """Replay the ENGINES' rounding rule in a pure-Python reference.

    Both Spark (BigDecimal.valueOf(double) + HALF_UP) and DuckDB round
    the double's SHORTEST decimal representation half-away-from-zero —
    round(0.015, 2) = 0.02 on both even though the exact binary value
    sits below the boundary. Python's round() is banker's AND uses the
    exact binary value — wrong on both axes (ADVICE r10: the KM test
    used round() and could flake on any survival product whose shortest
    repr ties at the rounded digit) — so references replay the engines'
    rule via repr() + HALF_UP."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal(f"1e-{p}"), ROUND_HALF_UP))


@settings(**_SETTINGS)
@given(n_rows=st.integers(1, 200), n_buckets=st.integers(1, 12))
def test_ntile_formula_matches_sql_standard(spark, n_rows, n_buckets):
    df = spark.range(1, n_rows + 1).select(F.col("id").alias("rank"))
    got = [
        r["b"]
        for r in df.select(ntile_from_rank(F.col("rank"), n_rows, n_buckets).alias("b"))
        .orderBy("rank")
        .collect()
    ]
    # SQL standard: first N % n buckets get N//n + 1 rows, rest N//n
    q, m = divmod(n_rows, n_buckets)
    want = []
    for b in range(1, n_buckets + 1):
        want += [b] * (q + 1 if b <= m else q)
    assert got == want


@settings(**_SETTINGS)
@given(
    n_rows=st.integers(1, 150),
    n_buckets=st.integers(1, 6),
    n_parts=st.integers(1, 5),
)
def test_distributed_ntile_equals_builtin(spark, n_rows, n_buckets, n_parts):
    from pyspark.sql import Window

    df = spark.range(n_rows).select(
        (F.col("id") * 37 % 101).alias("v"), F.col("id").alias("tie")
    )
    got = {
        (r["v"], r["tie"]): r["nt"]
        for r in with_global_ntile(
            df, ["v", "tie"], n_buckets, ntile_col="nt", num_partitions=n_parts
        ).collect()
    }
    want = {
        (r["v"], r["tie"]): r["nt"]
        for r in df.withColumn(
            "nt", F.ntile(n_buckets).over(Window.orderBy("v", "tie"))
        ).collect()
    }
    assert got == want


def test_distributed_ntile_broadcast_offset_branch(spark):
    """num_partitions > 64 takes the broadcast-join offset path (the
    when-chain constant-fold only covers few-partition plans) — both
    branches must agree with the builtin single-partition NTILE."""
    from pyspark.sql import Window

    df = spark.range(500).select(
        (F.col("id") * 37 % 101).alias("v"), F.col("id").alias("tie")
    )
    got = {
        (r["v"], r["tie"]): r["nt"]
        for r in with_global_ntile(
            df, ["v", "tie"], 7, ntile_col="nt", num_partitions=100
        ).collect()
    }
    want = {
        (r["v"], r["tie"]): r["nt"]
        for r in df.withColumn(
            "nt", F.ntile(7).over(Window.orderBy("v", "tie"))
        ).collect()
    }
    assert got == want


@settings(**_SETTINGS)
@given(
    events=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 5000)), min_size=1, max_size=40
    ),
    gap_min=st.integers(1, 90),
)
def test_sessionize_matches_python_reference(spark, events, gap_min):
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (u, t0 + dt.timedelta(minutes=m)) for u, m in events
    ]
    df = spark.createDataFrame(rows, "user_id: int, ts: timestamp")
    got = {
        (r["user_id"], r["ts"]): r["session_id"]
        for r in sessionize(df, "user_id", "ts", f"{gap_min} minutes").collect()
    }
    # pure-python reference (ties: same ts never breaks a session)
    want = {}
    by_user: dict[int, list[dt.datetime]] = {}
    for u, ts in sorted(set(rows), key=lambda x: (x[0], x[1])):
        by_user.setdefault(u, []).append(ts)
    for u, times in by_user.items():
        sid, prev = 0, None
        for ts in times:
            if prev is None or (ts - prev) > dt.timedelta(minutes=gap_min):
                sid += 1
            want[(u, ts)] = sid
            prev = ts
    # duplicated (user, ts) rows get the same session id, so compare on keys
    assert got == {k: want[k] for k in got}


@settings(**_SETTINGS)
@given(
    a=st.lists(st.sampled_from("abcdefgh"), max_size=12),
    b=st.lists(st.sampled_from("abcdefgh"), max_size=12),
)
def test_jaccard_set_identity(spark, a, b):
    df = spark.createDataFrame(
        [(list(set(a)), list(set(b)))], "a: array<string>, b: array<string>"
    )
    got = df.select(jaccard(F.col("a"), F.col("b")).alias("j")).first()["j"]
    sa, sb = set(a), set(b)
    want = len(sa & sb) / len(sa | sb) if (sa | sb) else 0.0
    assert abs(got - want) < 1e-12


@settings(**_SETTINGS)
@given(
    sets=st.lists(
        st.lists(
            st.sampled_from("abcdefghij"), min_size=1, max_size=8, unique=True
        ),
        min_size=2,
        max_size=12,
    ),
    threshold=st.sampled_from([0.34, 0.5, 0.67, 0.8, 1.0]),
)
def test_similarity_join_equals_brute_force(spark, sets, threshold):
    """Property: prefix+positional-filtered exact similarity join returns
    EXACTLY the brute-force Jaccard pairs, for arbitrary small-vocab set
    families (the worst case for prefix filtering) and thresholds chosen
    to stress ceil() boundary arithmetic."""
    import itertools

    from reddit_big_data_spark.operators.simjoin import similarity_join

    rows = [(i, list(s)) for i, s in enumerate(sets)]
    truth = set()
    for (ia, sa), (ib, sb) in itertools.combinations(rows, 2):
        a, b = set(sa), set(sb)
        if len(a & b) / len(a | b) >= threshold:
            truth.add((ia, ib))
    df = spark.createDataFrame(rows, "id: int, s: array<string>")
    got = {
        (r["id_a"], r["id_b"])
        for r in similarity_join(df, "id", "s", threshold).collect()
    }
    assert got == truth


@settings(**_SETTINGS)
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from("abc"),
            st.floats(min_value=-100, max_value=100, allow_nan=False, width=32),
        ),
        min_size=1,
        max_size=60,
    ),
    n_salt=st.sampled_from([1, 2, 16]),
)
# The VERDICT r10 catastrophic-cancellation counterexample, pinned
# explicitly: the .hypothesis example database is gitignored, so a fresh
# checkout would otherwise have to rediscover it.
@example(
    rows=[("c", 1.1920928955078125e-05), ("c", -1.1920928955078125e-05),
          ("c", 1.1754943508222875e-38)],
    n_salt=2,
)
def test_salted_aggregate_equals_plain_groupby(spark, rows, n_salt):
    """Property: two-phase salted aggregation is REASSOCIATION-EQUIVALENT
    to the plain groupBy — count/min/max are exact, float sum/avg agree
    up to float-addition reassociation (exactly plain Spark's own
    partial-aggregation semantics; VERDICT r10 adjudicated the old
    "sum (exact)" claim overclaimed after hypothesis found a
    catastrophic-cancellation counterexample: [('c', 1.19e-05),
    ('c', -1.19e-05), ('c', 1.18e-38)] at n_salt=2 gives salted sum 0.0
    vs plain 1.18e-38, and rel_tol cannot absorb a cancellation). Float
    sums therefore compare with an ABSOLUTE tolerance scaled to the
    input mass, abs_tol = 1e-9 * Σ|v| — the correct ulp-style bound for
    any reassociated float sum. test_salted_aggregate_exact_on_integers
    below pins EXACT sum equality on integer inputs, where addition is
    associative."""
    import math

    from reddit_big_data_spark.operators.skew import salted_aggregate

    df = spark.createDataFrame(rows, "k: string, v: double")
    got = {
        r["k"]: r
        for r in salted_aggregate(
            df,
            ["k"],
            {
                "cnt": ("count", "v"),
                "s": ("sum", "v"),
                "mn": ("min", "v"),
                "mx": ("max", "v"),
                "a": ("avg", "v"),
            },
            n_salt=n_salt,
        ).collect()
    }
    want = {
        r["k"]: r
        for r in df.groupBy("k")
        .agg(
            F.count("v").alias("cnt"),
            F.sum("v").alias("s"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
            F.avg("v").alias("a"),
        )
        .collect()
    }
    mass = {k: sum(abs(v) for kk, v in rows if kk == k) for k, _ in rows}
    assert set(got) == set(want)
    for k in want:
        assert got[k]["cnt"] == want[k]["cnt"]
        assert got[k]["mn"] == want[k]["mn"]
        assert got[k]["mx"] == want[k]["mx"]
        # reassociated float sums: absolute tolerance scaled to Σ|v|
        tol = 1e-9 * mass[k]
        assert math.isclose(got[k]["s"], want[k]["s"], rel_tol=1e-9, abs_tol=tol)
        assert math.isclose(
            got[k]["a"], want[k]["a"], rel_tol=1e-9, abs_tol=tol / want[k]["cnt"]
        )


@settings(**_SETTINGS)
@given(
    rows=st.lists(
        st.tuples(st.sampled_from("abc"), st.integers(-(2**40), 2**40)),
        min_size=1,
        max_size=60,
    ),
    n_salt=st.sampled_from([1, 2, 16]),
)
def test_salted_aggregate_exact_on_integers(spark, rows, n_salt):
    """Property: on INTEGER inputs — where addition is associative — the
    salted two-phase sum is bit-exact equal to the plain groupBy sum.
    This is the exactness half of the salted_aggregate contract; the
    float half (reassociation-equivalence) is the test above."""
    from reddit_big_data_spark.operators.skew import salted_aggregate

    df = spark.createDataFrame(rows, "k: string, v: long")
    got = {
        r["k"]: r["s"]
        for r in salted_aggregate(df, ["k"], {"s": ("sum", "v")}, n_salt=n_salt)
        .collect()
    }
    want = {
        r["k"]: r["s"]
        for r in df.groupBy("k").agg(F.sum("v").alias("s")).collect()
    }
    assert got == want


@settings(**_SETTINGS)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)),
        min_size=1,
        max_size=25,
    ),
    path=st.sampled_from(["driver", "star"]),
)
def test_connected_components_matches_reference(spark, edges, path):
    """Property: BOTH component paths (driver union-find, distributed
    large-star/small-star) match a simple reachability reference on
    random graphs with self-loops (including self-loop-ONLY nodes —
    ADVICE r2: every path must surface them as singleton components),
    duplicates, and cycles."""
    from reddit_big_data_spark.operators.components import connected_components

    # python reference: self-loops register the node but link nothing
    nodes = {x for e in edges for x in e}
    real = [(a, b) for a, b in edges if a != b]
    label = {x: x for x in nodes}
    changed = True
    while changed:
        changed = False
        for a, b in real:
            lo = min(label[a], label[b])
            if label[a] != lo or label[b] != lo:
                label[a] = label[b] = lo
                changed = True
    df = spark.createDataFrame(edges, "a: long, b: long")
    # edges is non-empty, so a 0-edge threshold always picks the star path
    threshold = 10**6 if path == "driver" else 0
    got = {
        (r["id"], r["comp"])
        for r in connected_components(
            df, "a", "b", driver_threshold=threshold
        ).collect()
    }
    assert got == set(label.items())


@settings(**_SETTINGS)
@given(
    words=st.lists(
        st.text(alphabet="abcdex", min_size=1, max_size=10), min_size=1, max_size=12
    ),
    pieces=st.sets(
        st.text(alphabet="abcdex", min_size=2, max_size=4), max_size=8
    ),
)
def test_greedy_segment_partition_invariants(words, pieces):
    """Pure-driver properties of the q128/q129 apply rule, on arbitrary
    words and piece sets: (1) round-trip — concatenating a word's pieces
    reproduces it exactly (segmentation partitions, never rewrites);
    (2) every multi-char output token is a real piece; (3) greedy
    longest-match — at each position the emitted token is the LONGEST
    piece prefixing the remainder (single char when none matches)."""
    from reddit_big_data_spark.operators.unigram import greedy_segment

    mx = max((len(p) for p in pieces), default=1)
    for w in words:
        toks = greedy_segment(w, pieces, mx)
        assert "".join(toks) == w
        i = 0
        for t in toks:
            if len(t) > 1:
                assert t in pieces
            # longest-match: no LONGER piece also matches here
            for L in range(len(t) + 1, min(mx, len(w) - i) + 1):
                assert w[i : i + L] not in pieces, (w, i, t, w[i : i + L])
            i += len(t)


@settings(**_SETTINGS)
@given(
    corpus=st.lists(
        st.text(alphabet="abcd ", min_size=1, max_size=30), min_size=1, max_size=8
    ),
    vocab_size=st.integers(8, 40),
)
def test_train_unigram_artifact_invariants(spark, corpus, vocab_size):
    """train_unigram on arbitrary corpora: the artifact is sorted and
    deduplicated, respects vocab_size up to the single-char coverage
    floor, always contains every corpus character, and every piece is a
    substring of some corpus word (nothing invented)."""
    from reddit_big_data_spark.operators.unigram import train_unigram

    df = spark.createDataFrame([(t,) for t in corpus], "text: string")
    all_words = [w for t in corpus for w in t.split() if w]
    pieces = train_unigram(df, "text", vocab_size=vocab_size)
    chars = {c for w in all_words for c in w}
    if not all_words:
        assert pieces == []
        return
    assert pieces == sorted(set(pieces))
    assert chars <= set(pieces)
    assert len(pieces) <= max(vocab_size, len(chars))
    for p in pieces:
        assert any(p in w for w in all_words), p


def test_dsir_ranks_target_like_docs_first(spark, tmp_path):
    """q140's estimator on a planted corpus: raw-pool docs written in the
    TARGET domain's vocabulary must outrank raw-pool docs written in the
    raw pool's own vocabulary — the defining property of importance
    resampling (target-domain-likeness ordering), independent of the
    real testdata."""
    import pandas as pd

    from reddit_big_data_spark.queries.mixture import q140_dsir_importance

    rows = []
    # target domain (src0): vocabulary {alpha beta gamma}
    for i in range(20):
        rows.append((i, "alpha beta gamma alpha beta", "en", "src0", 0))
    # raw pool: 5 target-like docs, 15 raw-flavored docs
    for i in range(5):
        rows.append((100 + i, "alpha beta gamma beta alpha gamma", "en", "src1", 0))
    for i in range(15):
        rows.append((200 + i, "delta epsilon zeta delta epsilon zeta", "en", "src2", 0))
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source", "n_chars"])
    sf_dir = str(tmp_path)
    spark.createDataFrame(pdf).write.parquet(f"{sf_dir}/documents.parquet")

    got = q140_dsir_importance(spark, sf_dir).toPandas()
    # the 5 target-like raw docs must occupy the top 5 slots, every one
    # with a strictly positive mean log-weight; raw-flavored docs must
    # score negative
    top5 = set(got.head(5)["doc_id"])
    assert top5 == {100, 101, 102, 103, 104}, got.head(8)
    assert (got.head(5)["avg_log_weight"] > 0).all()
    assert (got[got["doc_id"] >= 200]["avg_log_weight"] < 0).all()


def test_zipf_slope_recovers_planted_exponent(spark, tmp_path):
    """q141 on a corpus MANUFACTURED to follow freq = round(C * rank^-s)
    exactly: the fitted slope must recover s to within the rounding
    granularity of the planted integer frequencies (the estimator's
    defining property, independent of the real testdata)."""
    import math

    import pandas as pd

    from reddit_big_data_spark.queries.text import q141_zipf_slope

    s_true = 1.0
    C = 2000.0
    words = []
    for rank in range(1, 81):
        freq = max(1, round(C * rank ** (-s_true)))
        words.extend([f"w{rank:03d}"] * freq)
    text = " ".join(words)
    pdf = pd.DataFrame(
        [(1, text, "en", "zipfsrc", len(text))],
        columns=["doc_id", "text", "lang", "source", "n_chars"],
    )
    sf_dir = str(tmp_path)
    spark.createDataFrame(pdf).write.parquet(f"{sf_dir}/documents.parquet")

    got = q141_zipf_slope(spark, sf_dir).toPandas()
    assert list(got["source"]) == ["zipfsrc"]
    slope = float(got["zipf_slope"].iloc[0])
    # integer rounding of the planted freqs perturbs the tail; 5% is far
    # tighter than the word-soup-vs-natural-text gap the metric flags
    assert math.isclose(slope, -s_true, abs_tol=0.05), slope


@settings(**_SETTINGS)
@given(
    lifetimes=st.lists(
        st.tuples(st.integers(0, 20), st.integers(0, 1)),
        min_size=1,
        max_size=60,
    )
)
def test_km_curve_matches_python_reference(spark, lifetimes):
    """q162's Kaplan-Meier math on arbitrary censoring patterns: the
    distributed suffix-sum at-risk counts and left-fold survival must
    equal a pure-Python KM (same binary64 left fold, so equality is
    EXACT, not approximate; the reference rounds via eng_round because
    Spark's F.round is HALF_UP on the shortest repr, not Python's
    banker's-on-exact-binary — ADVICE r10)."""
    from reddit_big_data_spark.queries.events import km_curve

    df = spark.createDataFrame(lifetimes, "dur long, death int")
    got = {
        r["duration_days"]: (
            r["at_risk"],
            r["deaths"],
            r["censored_here"],
            r["survival"],
        )
        for r in km_curve(df).collect()
    }
    # python reference
    from collections import Counter

    d = Counter()
    c = Counter()
    for dur, death in lifetimes:
        (d if death else c)[dur] += 1
    want = {}
    s = 1.0
    at_risk = len(lifetimes)
    for t in sorted(set(d) | set(c)):
        if d[t] > 0:
            s = s * (1.0 - d[t] / at_risk)
            want[t] = (at_risk, d[t], c[t], eng_round(s, 6))
        at_risk -= d[t] + c[t]
    assert got == want


@settings(**_SETTINGS)
@given(
    revs=st.lists(st.integers(1, 10_000_00), min_size=2, max_size=50),
)
def test_cusum_changepoint_matches_exact_reference(spark, revs):
    """q163's CUSUM argmax on arbitrary integer series: the decimal
    deviation |nd*cumsum - t*total| and the (|D| desc, day asc)
    tie-break must pick exactly the day a pure-integer Python
    reference picks, with identical rounded side means."""
    import datetime as _dt

    from reddit_big_data_spark.queries.temporal import cusum_changepoint

    days = [_dt.date(2020, 1, 1) + _dt.timedelta(days=i) for i in range(len(revs))]
    df = spark.createDataFrame(
        list(zip(days, revs)), "day date, rev long"
    ).persist()
    row = cusum_changepoint(df).collect()[0]
    df.unpersist()
    nd, total = len(revs), sum(revs)
    best = None
    cs = 0
    for t, (day, rev) in enumerate(zip(days, revs), start=1):
        cs += rev
        ad = abs(nd * cs - t * total)
        if best is None or ad > best[0]:
            best = (ad, day, t)
    ad, cp, t_cp = best
    before = revs[:t_cp]
    after = revs[t_cp:]

    # engines-rule rounding: see the module-level eng_round helper
    assert row["change_day"] == cp.strftime("%Y-%m-%d")
    assert row["n_days"] == nd
    assert row["cusum_peak"] == eng_round(ad / nd / 100.0, 2)
    assert row["before_mean"] == eng_round(sum(before) / len(before) / 100.0, 2)
    if after:
        assert row["after_mean"] == eng_round(sum(after) / len(after) / 100.0, 2)
    else:
        assert row["after_mean"] is None


@settings(**_SETTINGS)
@given(
    edge_ids=st.lists(
        st.tuples(st.integers(0, 14), st.integers(0, 14)),
        min_size=0,
        max_size=40,
    ),
    k=st.integers(2, 4),
)
def test_kcore_matches_python_peel(spark, edge_ids, k):
    """q164's distributed peel on arbitrary graphs: the k-core is a
    confluent fixpoint, so the Spark loop must land on exactly the
    node/edge set a pure-Python peel produces."""
    from reddit_big_data_spark.queries.graph import kcore_subgraph

    edges = sorted({(min(a, b), max(a, b)) for a, b in edge_ids if a != b})
    # python reference peel
    import collections

    adj = collections.defaultdict(set)
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
    nodes = set(adj)
    while True:
        drop = {x for x in nodes if len(adj[x] & nodes) < k}
        if not drop:
            break
        nodes -= drop
    want_edges = {(u, v) for u, v in edges if u in nodes and v in nodes}

    if not edges:
        return  # empty frames need explicit schemas; nothing to check
    df = spark.createDataFrame(edges, "u long, v long")
    keep, kept_edges = kcore_subgraph(df, k)
    assert {r["node"] for r in keep.collect()} == nodes
    assert {(r["u"], r["v"]) for r in kept_edges.collect()} == want_edges


def test_khop_guards_empty_graph(spark, tmp_path):
    import pytest

    from reddit_big_data_spark.queries.graph import q152_khop_reachability
    from reddit_big_data_spark.schemas import LINEITEM

    # an empty lineitem table yields an empty co-purchase graph: the BFS
    # seed is undefined and must fail loud, not TypeError on a None row
    spark.createDataFrame([], LINEITEM).write.parquet(
        str(tmp_path / "lineitem.parquet")
    )
    with pytest.raises(ValueError, match="non-empty co-purchase graph"):
        q152_khop_reachability(spark, str(tmp_path))


def test_dsir_guards_tokenless_corpus(spark, tmp_path):
    import pytest

    from reddit_big_data_spark.queries.mixture import q140_dsir_importance
    from reddit_big_data_spark.schemas import DOCUMENTS

    # text that normalizes to nothing: zero tokens, NULL count sums
    spark.createDataFrame(
        [(1, "!!!", "en", "src0", 3), (2, "???", "en", "src1", 3)], DOCUMENTS
    ).write.parquet(str(tmp_path / "documents.parquet"))
    with pytest.raises(ValueError, match="at least one token"):
        q140_dsir_importance(spark, str(tmp_path))
