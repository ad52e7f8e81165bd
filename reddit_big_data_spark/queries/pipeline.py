"""q161 — the END-TO-END corpus-pipeline composition (VERDICT r9 #3):
the actual production DAG a 100 TB pretraining-data user runs, as ONE
registered query. Every stage is an operator the registry already
verifies in isolation; composing them shakes out the cross-operator
contract mismatches no per-query oracle can see (does the dedup stage
accept exactly what the quality stage emits? does decontamination key on
the same text the probe set hashed?).

Stage chain (each consumes the previous stage's survivor set):

  s0_all            the raw corpus (documents table)
  s1_quality        q76's C4/Gopher funnel, ALL five gates (survivors of
                    the full funnel, not a per-gate report)
  s2_exact_dedup    q30/q29's token-set-md5 canonical keep (min doc_id
                    per fingerprint)
  s3_near_dedup     near-dup pairs at Jaccard >= 0.6 (q35/q36's exact
                    prefix-filter similarity join) -> connected
                    components -> keep cluster canonicals (min member)
                    + singletons
  s4_decontaminated q66's winnowing-fingerprint screen against the src0
                    probe set, at the composition's own (k=20, w=10)
                    contract — guaranteed catch of any verbatim overlap
                    >= k+w-1 = 29 chars. q66's default (k=5: 8-char
                    overlaps) flags shared PHRASES; at this corpus that
                    marks ~100% of docs contaminated and is the wrong
                    contract for a FILTERING stage (q66 itself only
                    reports the rate). src0 docs are also dropped here —
                    they are the benchmark, not training data.
  s5_mixture        q85's deterministic-hash token-budget fill, with
                    pipeline-scale budgets (_PIPE_BUDGETS) sized to BIND
                    on this corpus's post-filter mass
  s6_shards         q113's hash-routed shard layout (no attrition;
                    detail = shards actually used)
  s7_tokenize       q123's pinned-merge BPE application over the final
                    set (detail = total BPE tokens)
  s8_pack           q39's windowed-cumsum packing into fixed
                    token-budget bins (detail = bins emitted)

Output: one row per stage — (stage, docs, ws_tokens, detail), where
docs/ws_tokens describe the surviving set AFTER the stage (whitespace
tokens = len(split(text, ' ')), the q85/q113 token contract) and detail
is the stage's own metric: docs dropped (s1-s5), shards used (s6), BPE
tokens (s7), bins (s8); 0 for s0.

MATERIALIZE-ONCE DISCIPLINE (the scan audit enforces the ceiling):
three corpus passes over `documents`, each filling a distinct persisted
artifact — (1) the explode pass for per-doc quality stats + attrs,
(2) the normalized-text cache for quality SURVIVORS only (feeds the
dedup fingerprint, the shingle build, AND the BPE stage), (3) the
full-corpus winnowing fingerprint table (the probe set must hash ALL of
src0, filtered or not). Every downstream stage reads those caches; the
expensive subtrees (explode stats, simjoin, winnowing, tokenized
vocabulary) each execute exactly once. At 100 TB the survivor text
cache becomes a written parquet artifact between stages (the q29
materialized-dedup pattern, the managed-artifact path q130 ships);
persist() is the registry-query surrogate.

Scale posture: no stage joins corpus x corpus (near-dup candidates are
a prefix-token equi-join, never all-pairs — candidate growth is still
~quadratic on uniform corpora, exponent 2.18 in SCALING.json, and
q31's banded MinHash-LSH, exponent 0.98, is the scale route;
decontamination is a fingerprint equi-join whose probe side AQE
broadcasts), every window is partitioned (lang / source /
fingerprint), and the per-stage report aggregates are attached
via constant-key broadcast-hash joins (operators/attach.py), never a
nested-loop scalar join.

Reference parity: the reference has no composed pipeline either — this
is the gap VERDICT r9 #3 ordered closed; stage semantics cite the
individual queries' reference anchors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from reddit_big_data_spark.operators.attach import attach_constant_row
from reddit_big_data_spark.operators.bpe import bpe_encode
from reddit_big_data_spark.operators.components import dedup_clusters
from reddit_big_data_spark.operators.dedup import (
    token_set_fingerprint,
    winnowing_fingerprints,
    word_shingles,
)
from reddit_big_data_spark.operators.simjoin import similarity_join
from reddit_big_data_spark.operators.text import normalize
from reddit_big_data_spark.queries.assembly import _N_SHARDS
from reddit_big_data_spark.queries.cleaning import _STOPS
from reddit_big_data_spark.queries.cooc import _Q123_MERGES, _bpe_bracket_expr
from reddit_big_data_spark.queries.dedup import _NEARDUP_THRESHOLD
from reddit_big_data_spark.queries.text import _PACK_BUDGET
from reddit_big_data_spark.registry import register
from reddit_big_data_spark.sources.io import read_table, spread

# Decontamination contract: verbatim overlap >= _K + _W - 1 = 29 chars.
_K = 20
_W = 10
# Mixture budgets (whitespace tokens per lang) sized to BIND on the
# post-filter mass of this corpus (s4 carries ~2.5k en tokens at
# sf0.01); q85's corpus-level budgets would be no-ops here. The shard
# and pack contracts are IMPORTED from q113/q39 (review r10: local
# copies would drift silently if those queries ever retuned).
_PIPE_BUDGETS = {"en": 1500, "de": 700, "es": 600, "fr": 600, "zh": 400}


def _norm_sql(src: str) -> str:
    """The proven _ORACLE_NORM normalization (queries/dedup.py) over an
    arbitrary source CTE."""
    return f"""
      SELECT doc_id, string_split(trim(regexp_replace(regexp_replace(
                 lower(text), '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ',
                 'g')), ' ') AS toks
      FROM {src}
    """


def _oracle() -> str:
    stops = str(tuple(sorted(_STOPS)))
    budget_arms = " ".join(
        f"WHEN '{k}' THEN {v}" for k, v in sorted(_PIPE_BUDGETS.items())
    )
    bpe = _bpe_bracket_expr()
    return f"""
    WITH RECURSIVE
    base AS (
      SELECT doc_id, lang, source, n_chars,
             len(string_split(text, ' ')) AS ws_tok, text
      FROM documents
    ),
    toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    tc AS (
      SELECT doc_id, w, COUNT(*) AS c, SUM(length(w)) AS wchars,
             SUM(CASE WHEN w IN {stops} THEN 1 ELSE 0 END) AS stops
      FROM toks GROUP BY doc_id, w
    ),
    stats AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
             CAST(SUM(wchars) AS DOUBLE) / SUM(c) AS mean_wlen,
             CAST(SUM(stops) AS DOUBLE) / SUM(c) AS stop_ratio,
             CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_tok_frac
      FROM tc GROUP BY doc_id
    ),
    s1 AS (
      SELECT b.* FROM base b JOIN stats s USING (doc_id)
      WHERE b.n_chars BETWEEN 100 AND 400 AND s.n_words >= 30
        AND s.mean_wlen BETWEEN 3.0 AND 4.6 AND s.stop_ratio >= 0.03
        AND s.top_tok_frac <= 0.11
    ),
    norm AS ({_norm_sql("s1")}),
    fp AS (
      SELECT doc_id,
             md5(array_to_string(list_sort(list_distinct(toks)), ' '))
               AS fingerprint
      FROM norm
    ),
    s2 AS (
      SELECT s1.* FROM s1 JOIN (
        SELECT doc_id, row_number() OVER (PARTITION BY fingerprint
                                          ORDER BY doc_id) AS rn
        FROM fp
      ) k USING (doc_id) WHERE k.rn = 1
    ),
    sh AS (
      SELECT n.doc_id,
             list_distinct([n.toks[i] || ' ' || n.toks[i+1]
                            for i in generate_series(1, len(n.toks)-1)])
               AS shingles
      FROM norm n JOIN s2 USING (doc_id)
    ),
    edges AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
            / len(list_distinct(list_concat(a.shingles, b.shingles)))
            >= 0.6
    ),
    sym AS (
      SELECT id_a AS src, id_b AS dst FROM edges
      UNION ALL SELECT id_b, id_a FROM edges
    ),
    reach(id, r) AS (
      SELECT DISTINCT src, src FROM sym
      UNION
      SELECT s.dst, reach.r FROM reach JOIN sym s ON s.src = reach.id
    ),
    comp AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id),
    s3 AS (
      SELECT s2.* FROM s2 LEFT JOIN comp USING (doc_id)
      WHERE comp.cluster_id IS NULL OR comp.cluster_id = s2.doc_id
    ),
    grams AS (
      SELECT doc_id, u['pos'] AS pos, u['gram'] AS gram
      FROM (
        SELECT doc_id,
               unnest([{{'pos': i,
                         'gram': substr(text, CAST(i AS INTEGER), {_K})}}
                       for i in generate_series(1, length(text) - {_K - 1})])
                 AS u
        FROM documents WHERE length(text) >= {_K}
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
                          ROWS BETWEEN CURRENT ROW AND {_W - 1} FOLLOWING)
               AS wfp,
             MAX(pos) OVER (PARTITION BY doc_id) AS max_pos
      FROM hashed
    ),
    fps AS (
      SELECT DISTINCT doc_id, wfp FROM mins WHERE pos <= max_pos - {_W - 1}
    ),
    probe_fps AS (
      SELECT DISTINCT wfp FROM fps JOIN documents USING (doc_id)
      WHERE source = 'src0'
    ),
    contaminated AS (
      SELECT DISTINCT fps.doc_id FROM fps JOIN probe_fps USING (wfp)
    ),
    s4 AS (
      SELECT s3.* FROM s3 LEFT JOIN contaminated c USING (doc_id)
      WHERE s3.source <> 'src0' AND c.doc_id IS NULL
    ),
    mix AS (
      SELECT *,
             SUM(ws_tok) OVER (PARTITION BY lang
                               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                               ROWS UNBOUNDED PRECEDING) AS cum,
             CASE lang {budget_arms} ELSE 0 END AS budget
      FROM s4
    ),
    s5 AS (SELECT * FROM mix WHERE cum <= budget),
    shards AS (
      SELECT COUNT(DISTINCT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                            1, 8))::BIGINT % {_N_SHARDS})
               AS v
      FROM s5
    ),
    norm5 AS ({_norm_sql("s5")}),
    words5 AS (
      SELECT doc_id, w
      FROM (SELECT doc_id, unnest(toks) AS w FROM norm5)
      WHERE w <> ''
    ),
    bpe AS (
      SELECT COALESCE(CAST(SUM(length({bpe})
                   - length(replace({bpe}, '<', ''))) AS BIGINT), 0) AS v
      FROM words5
    ),
    packed AS (
      SELECT source,
             CAST(FLOOR(CAST(SUM(ws_tok) OVER (PARTITION BY source
                      ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - ws_tok
                      AS DOUBLE) / {_PACK_BUDGET}) AS BIGINT) AS bin
      FROM s5
    ),
    bins AS (
      SELECT COUNT(*) AS v FROM (SELECT DISTINCT source, bin FROM packed)
    ),
    m0 AS (SELECT COUNT(*) c, COALESCE(CAST(SUM(ws_tok) AS BIGINT), 0) t FROM base),
    m1 AS (SELECT COUNT(*) c, COALESCE(CAST(SUM(ws_tok) AS BIGINT), 0) t FROM s1),
    m2 AS (SELECT COUNT(*) c, COALESCE(CAST(SUM(ws_tok) AS BIGINT), 0) t FROM s2),
    m3 AS (SELECT COUNT(*) c, COALESCE(CAST(SUM(ws_tok) AS BIGINT), 0) t FROM s3),
    m4 AS (SELECT COUNT(*) c, COALESCE(CAST(SUM(ws_tok) AS BIGINT), 0) t FROM s4),
    m5 AS (SELECT COUNT(*) c, COALESCE(CAST(SUM(ws_tok) AS BIGINT), 0) t FROM s5)
    SELECT stage, docs, ws_tokens, detail FROM (
      SELECT 's0_all' AS stage, m0.c AS docs, m0.t AS ws_tokens,
             CAST(0 AS BIGINT) AS detail FROM m0
      UNION ALL SELECT 's1_quality', m1.c, m1.t, m0.c - m1.c FROM m0, m1
      UNION ALL SELECT 's2_exact_dedup', m2.c, m2.t, m1.c - m2.c FROM m1, m2
      UNION ALL SELECT 's3_near_dedup', m3.c, m3.t, m2.c - m3.c FROM m2, m3
      UNION ALL SELECT 's4_decontaminated', m4.c, m4.t, m3.c - m4.c FROM m3, m4
      UNION ALL SELECT 's5_mixture', m5.c, m5.t, m4.c - m5.c FROM m4, m5
      UNION ALL SELECT 's6_shards', m5.c, m5.t, shards.v FROM m5, shards
      UNION ALL SELECT 's7_tokenize', m5.c, m5.t, bpe.v FROM m5, bpe
      UNION ALL SELECT 's8_pack', m5.c, m5.t, bins.v FROM m5, bins
    ) ORDER BY stage
    """


@register(
    "q161_corpus_pipeline",
    oracle=_oracle(),
    doc="end-to-end corpus pipeline: quality -> exact dedup -> near dedup "
    "-> decontaminate -> mixture -> shard -> tokenize -> pack, with "
    "per-stage attrition",
)
def q161_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed pipeline (stages in the module docstring).

    Why s3 does NOT read q130's managed cluster-table artifact
    (VERDICT r10 #7b, probed and declined): the artifact clusters the
    WHOLE corpus, while s3 clusters the s1/s2 SURVIVOR subgraph — a
    corpus-wide component can merge two survivors through a dropped
    intermediate document, changing the canonical-keep decision, so the
    artifact is not a drop-in for the composition's semantics (the
    oracle's CTE chain computes on survivors)."""
    docs = spread(read_table(spark, sf_dir, "documents"))

    # -- artifact 1: per-doc stats + attrs + fingerprint, ONE explode
    #    pass (attrs ride the explode and come back via first(), q76's
    #    n_chars pattern — a second attribute scan saved).
    base = docs.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.size(F.split("text", " ")).alias("ws_tok"),
        F.explode(F.split("text", " ")).alias("w"),
    )
    # NB: the dedup FINGERPRINT deliberately does NOT ride this explode —
    # Catalyst collapses a pre-explode projection into the generated
    # output, re-evaluating the sort+distinct+md5 once per TOKEN row
    # (~10x this stage's cost, measured); it is derived from the survivor
    # text cache below instead, where it is needed (s2) and cheap.
    tc = base.groupBy("doc_id", "w").agg(
        F.first("lang").alias("lang"),
        F.first("source").alias("source"),
        F.first("n_chars").alias("n_chars"),
        F.first("ws_tok").alias("ws_tok"),
        F.count("*").alias("c"),
        F.sum(F.length("w")).alias("wchars"),
        F.sum(F.when(F.col("w").isin(*_STOPS), 1).otherwise(0)).alias(
            "stops"
        ),
    )
    quality = (
        F.col("n_chars").between(100, 400)
        & (F.col("n_words") >= 30)
        & F.col("mean_wlen").between(3.0, 4.6)
        & (F.col("stop_ratio") >= 0.03)
        & (F.col("top_tok_frac") <= 0.11)
    )
    per_doc = (
        tc.groupBy("doc_id")
        .agg(
            F.first("lang").alias("lang"),
            F.first("source").alias("source"),
            F.first("n_chars").alias("n_chars"),
            F.first("ws_tok").alias("ws_tok"),
            F.sum("c").alias("n_words"),
            (F.sum("wchars").cast("double") / F.sum("c")).alias("mean_wlen"),
            (F.sum("stops").cast("double") / F.sum("c")).alias("stop_ratio"),
            (F.max("c").cast("double") / F.sum("c")).alias("top_tok_frac"),
        )
        .withColumn("in1", quality)
        .persist()
    )

    # -- artifact 2: normalized text for quality SURVIVORS only (feeds
    #    the shingle build AND the BPE stage; at 100 TB this is the
    #    between-stage parquet artifact).
    s1_ids = per_doc.filter("in1").select("doc_id")
    s1_txt = (
        docs.join(s1_ids, "doc_id")
        .select("doc_id", normalize("text").alias("t"))
        .persist()
    )

    # -- s2: exact-dedup canonicals (min doc_id per fingerprint); the
    #    fingerprint derives from the survivor text cache (t is already
    #    the normalized text, so this is exactly q30's contract).
    fingerprints = s1_txt.select(
        "doc_id",
        token_set_fingerprint(F.split("t", " ")).alias("fingerprint"),
    )
    w_fp = Window.partitionBy("fingerprint").orderBy("doc_id")
    s2 = (
        per_doc.filter("in1")
        .join(fingerprints, "doc_id")
        .withColumn("rn", F.row_number().over(w_fp))
        .filter(F.col("rn") == 1)
        .drop("rn", "fingerprint")
        .persist()  # consumers: shingle build, s3, the m2 report row
    )

    # -- artifact 3 (DEFINED here, consumed in s4): full-corpus winnowing
    #    fingerprints — the probe must hash ALL of src0, filtered or not;
    #    two consumers (probe set + contamination join), q66's persist
    #    rule. Forced on a DRIVER THREAD while the s3 near-dup engine
    #    below runs its construction jobs (r17, guide §2.6): the
    #    similarity join + component collect are sequences of driver
    #    barriers with idle executors, and the winnowing pass is
    #    independent of them — overlapped, construction pays
    #    max(simjoin, winnowing) instead of their sum. The count() only
    #    fills the persist; content is a pure function of the corpus.
    #    The with-block waits for the count even when s3 construction
    #    raises, and the session-bound target carries the caller's job
    #    tags and local properties onto the thread.
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    fps = winnowing_fingerprints(docs, "doc_id", "text", k=_K, window=_W).persist()
    with ThreadPoolExecutor(max_workers=1) as pool:
        fps_done = pool.submit(inheritable_thread_target(spark)(fps.count))

        # -- s3: near-dup cluster canonicals + singletons.
        shingles = s1_txt.join(s2.select("doc_id"), "doc_id").select(
            "doc_id", word_shingles(F.split("t", " "), 2).alias("shingles")
        )
        pairs = similarity_join(
            shingles, "doc_id", "shingles", threshold=_NEARDUP_THRESHOLD
        )
        drop3 = (
            dedup_clusters(pairs)
            .filter(F.col("doc_id") != F.col("cluster_id"))
            .select("doc_id")
        )
        s3 = s2.join(drop3, "doc_id", "left_anti").persist()
        # ^ two consumers (s4 chain + the m3 report row); unpersisted, each
        #   would re-run the simjoin verify joins and the component
        #   propagation above.

    # -- s4: join the overlapped winnowing artifact (forced above); the
    #    pool has drained, result() re-raises a failed count.
    fps_done.result()
    probe_fps = (
        fps.join(
            per_doc.filter(F.col("source") == "src0").select("doc_id"),
            "doc_id",
        )
        .select("fp")
        .distinct()
    )
    contaminated = fps.join(probe_fps, "fp").select("doc_id").distinct()
    s4 = (
        s3.filter(F.col("source") != "src0")
        .join(contaminated, "doc_id", "left_anti")
        .persist()  # consumers: mixture window + the m4 report row
    )

    # -- s5: deterministic-hash token-budget mixture fill.
    budget = F.coalesce(
        *[
            F.when(F.col("lang") == k, F.lit(v))
            for k, v in sorted(_PIPE_BUDGETS.items())
        ],
        F.lit(0),
    )
    w_mix = (
        Window.partitionBy("lang")
        .orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s5 = (
        s4.withColumn("cum", F.sum("ws_tok").over(w_mix))
        .filter(F.col("cum") <= budget)
        .persist()  # consumers: shards, BPE id set, pack, the m5 row
    )

    # -- layout/tokenize/pack stage metrics (no attrition).
    shard = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % _N_SHARDS
    )
    # nsh and nbins share ONE aggregate over s5 (r17, guide §2.4): the
    # separate m_shards/m_bins subtrees each cost a scan + exchange +
    # broadcast-attach of their own. The two count-distincts expand the
    # (already mixture-budget-bounded) s5 rows 2x inside one stage —
    # far cheaper than a second subtree at any scale.
    enc = bpe_encode(
        s1_txt.join(s5.select("doc_id"), "doc_id"),
        "doc_id",
        "t",
        _Q123_MERGES,
        include_empty=False,
    )
    m_bpe = enc.agg(
        F.coalesce(F.sum("n_tokens"), F.lit(0)).cast("long").alias("bpet")
    )
    w_pack = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    m_layout = (
        s5.select(
            "source",
            shard.alias("sh"),
            F.floor(
                (F.sum("ws_tok").over(w_pack) - F.col("ws_tok")).cast(
                    "double"
                )
                / _PACK_BUDGET
            ).alias("bin"),
        )
        .agg(
            F.count_distinct("sh").alias("nsh"),
            # struct-wrapped so NULL fields still count as a distinct
            # combination, exactly like the old .distinct().count()
            F.count_distinct(F.struct("source", "bin")).alias("nbins"),
        )
    )

    # -- per-stage report (r17, guide §2.4/§2.6): ONE union-tagged
    #    aggregate replaces the six separate count/sum subtrees (each was
    #    its own scan + partial/final agg exchange + broadcast attach —
    #    ~2/3 of the query's job count was this report assembly, pure
    #    AQE-stage scheduling on persisted inputs). Every source frame is
    #    persisted, so the union scans cost what the six scans cost; the
    #    s0/s1 rows ride ONE per_doc scan via the in1 flag. A global
    #    (group-less) aggregate always yields exactly one row, so empty
    #    stages still report zeros — same contract as the old per-frame
    #    aggs.
    tagged = None
    for tag, frame in (
        ("p", per_doc.select(F.lit("p").alias("__src"), "in1", "ws_tok")),
        ("2", s2.select(F.lit("2").alias("__src"), F.lit(True).alias("in1"), "ws_tok")),
        ("3", s3.select(F.lit("3").alias("__src"), F.lit(True).alias("in1"), "ws_tok")),
        ("4", s4.select(F.lit("4").alias("__src"), F.lit(True).alias("in1"), "ws_tok")),
        ("5", s5.select(F.lit("5").alias("__src"), F.lit(True).alias("in1"), "ws_tok")),
    ):
        tagged = frame if tagged is None else tagged.unionByName(frame)

    def c_of(cond) -> object:
        return F.count(F.when(cond, F.lit(1)))

    def t_of(cond) -> object:
        return (
            F.coalesce(F.sum(F.when(cond, F.col("ws_tok"))), F.lit(0))
            .cast("long")
        )

    is_p = F.col("__src") == "p"
    conds = [
        is_p,
        is_p & F.col("in1"),
        F.col("__src") == "2",
        F.col("__src") == "3",
        F.col("__src") == "4",
        F.col("__src") == "5",
    ]
    wide = tagged.agg(
        *[c_of(cond).alias(f"c{i}") for i, cond in enumerate(conds)],
        *[t_of(cond).alias(f"t{i}") for i, cond in enumerate(conds)],
    )

    # key derives non-foldably from the aggregate (always 0): a plain
    # lit(0) constant-folds and degrades every attach to a BNLJ
    # (operators/attach.with_constant_key holds the rule).
    from reddit_big_data_spark.operators.attach import with_constant_key as keyed

    for frame in (m_layout, m_bpe):
        wide = attach_constant_row(wide, keyed(frame), "c0").drop("__k")

    stage_rows = ", ".join(
        [
            "'s0_all', c0, t0, CAST(0 AS BIGINT)",
            "'s1_quality', c1, t1, c0 - c1",
            "'s2_exact_dedup', c2, t2, c1 - c2",
            "'s3_near_dedup', c3, t3, c2 - c3",
            "'s4_decontaminated', c4, t4, c3 - c4",
            "'s5_mixture', c5, t5, c4 - c5",
            "'s6_shards', c5, t5, nsh",
            "'s7_tokenize', c5, t5, bpet",
            "'s8_pack', c5, t5, CAST(nbins AS BIGINT)",
        ]
    )
    return wide.selectExpr(
        f"stack(9, {stage_rows}) AS (stage, docs, ws_tokens, detail)"
    ).orderBy("stage")
