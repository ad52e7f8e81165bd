"""Deduplication operators for LLM-scale data pipelines: exact fingerprint
dedup, word-shingling, MinHash signatures, LSH banding, and candidate-pair
generation that NEVER goes all-pairs.

The reference has no dedup (its working sets are id-keyed Reddit dumps);
this family is the training-data-pipeline extension the builder brief
demands. Design for 100 TB:

- Fingerprints and MinHash use md5 (JVM-side, codegen'd; also available in
  DuckDB so every step is oracle-checkable).
- MinHash = min over md5(seed || shingle) per seed: the lexicographic min
  of an md5 hex digest is a uniform random permutation minimum, no
  numeric-overflow games needed.
- LSH: signatures are split into bands; docs sharing any (band_idx,
  band_hash) bucket become candidates via a SELF-JOIN ON THE BUCKET KEY —
  a hash join whose cost is sum(bucket_size^2), not n^2. The exact Jaccard
  filter then removes false positives; false-negative probability at
  Jaccard j is (1 - j^rows)^bands (standard S-curve).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def token_set_fingerprint(tokens: Column) -> Column:
    """Exact-dedup key: md5 of the sorted distinct token set. Two docs with
    the same bag of words (any order/multiplicity) collide — the cheap
    first-pass dedup gate before MinHash.

    PRECONDITION (review r14): tokens must be whitespace-free — ' ' is
    the unescaped join separator here (and in word_shingles /
    duplicated_token_spans), so ['a b'] and ['a','b'] would collide.
    Every tokenizer in this package splits on whitespace, so the
    precondition holds by construction for package-produced tokens;
    callers feeding externally-tokenized arrays must guarantee it."""
    return F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(tokens))))


def word_shingles(tokens: Column, k: int = 2) -> Column:
    """Distinct word k-shingles of a token array, as strings.

    transform over a 0-based index sequence; slice is 1-based. Docs shorter
    than k yield an empty array. Tokens must be whitespace-free (' ' is
    the shingle separator — see token_set_fingerprint's precondition).
    """
    n = F.size(tokens)
    # Guard n < k explicitly: Spark's sequence(1, 0) yields a DESCENDING
    # [1, 0], not an empty array.
    sh = F.transform(
        F.sequence(F.lit(1), n - (k - 1)),
        lambda i: F.concat_ws(" ", F.slice(tokens, i, k)),
    )
    return F.when(n >= k, F.array_distinct(sh)).otherwise(
        F.expr("CAST(array() AS array<string>)")
    )


def char_shingles(text: Column, k: int = 3) -> Column:
    """Distinct character k-grams — the n-gram-Jaccard flavor of near-dup."""
    n = F.length(text)
    # Column.substr takes Column positions (F.substring wants Python ints).
    sh = F.transform(
        F.sequence(F.lit(1), n - (k - 1)),
        lambda i: text.substr(i, F.lit(k)),
    )
    return F.when(n >= k, F.array_distinct(sh)).otherwise(
        F.expr("CAST(array() AS array<string>)")
    )


_MERSENNE31 = 2147483647  # 2^31 - 1


def _perm_coeffs(i: int) -> tuple[int, int]:
    """Deterministic universal-hash coefficients for permutation i (LCG-
    derived; a != 0)."""
    a = (1103515245 * (2 * i + 1) + 12345) % _MERSENNE31 or 1
    b = (1103515245 * (2 * i + 2) + 12345) % _MERSENNE31
    return a, b


def lsh_band_keys(signature: Column, bands: int, rows: int) -> Column:
    """Collapse a signature into `bands` bucket keys (one per row-group).
    Returns array<string> of length `bands`.

    Built as ONE transform over a band-index sequence so the (expensive)
    signature subtree occurs once in the projection: a per-band list of
    F.slice(signature, ...) expressions would INLINE the whole MinHash
    computation into every band key — measured 16x recompute (~370 s vs
    ~25 s for candidate generation at sf0.1).

    NULL-safe (review r14): the per-band fold concatenates with
    null-PROPAGATING concat (not concat_ws, which SKIPS nulls), so an
    all-NULL signature (the array_min of an empty set, per component)
    yields NULL band keys, which no EQUI-JOIN ever matches (the
    production bucket-join pattern): NULL mins never collide into
    buckets. (concat_ws mapped every empty doc to the SAME '' key in
    every band: a quadratic candidate blowup of exactly the docs
    claimed safe.) Spark's groupBy DOES form a NULL group, so a
    groupBy-bucketing caller must still drop null keys first;
    minhash_signatures additionally drops empty sets up front, which
    also keeps the signature stage cheaper.

    GEOMETRY PRECONDITION (ADVICE r14): size(signature) must be >=
    bands*rows — a shorter signature would make trailing band slices
    empty, and the fold would return the '' init for EVERY doc in those
    bands: a silent all-docs collision. Enforced at runtime below via an
    assert_true folded into the init value (one O(1) size() per band —
    the internal callers derive the signature as minhash_signatures(_,
    _, _, bands*rows) so it never fires for them; it exists for direct
    callers). A NULL signature column (e.g. from an outer join) is
    exempt: it propagates to NULL keys exactly as before.

    Cost note (ADVICE r15): the check is folded into the per-band
    aggregate INIT, so the size()+compare evaluates bands x per row —
    acceptable because array size() is O(1) metadata and bands is 32
    here; if a future config pushes bands into the hundreds, hoist it
    to one per-row assert wrapping the signature reference (evaluate
    the assert_true once outside the transform and gate the whole key
    array on it) rather than paying bands x per row.
    """
    geometry_ok = signature.isNull() | (F.size(signature) >= F.lit(bands * rows))
    checked_init = F.coalesce(
        F.assert_true(
            geometry_ok,
            F.lit(
                f"lsh_band_keys: signature shorter than bands*rows={bands * rows} "
                "— trailing bands would silently collide all docs"
            ),
        ).cast("string"),
        F.lit(""),
    )
    idx = F.sequence(F.lit(0), F.lit(bands - 1))
    return F.transform(
        idx,
        lambda b: F.aggregate(
            F.slice(signature, b * rows + 1, rows),
            checked_init,
            lambda acc, v: F.concat(acc, F.lit("|"), v.cast("string")),
        ),
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two distinct-element arrays.

    |union| is derived as |a| + |b| - |intersect| instead of a second
    array_union hash build — one set operation per pair, not two
    (codegen subexpression elimination binds the intersect once; measured
    ~30% off q36's verify stage over 2.4M candidate pairs)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))


def signature_jaccard_estimate(sig_a: Column, sig_b: Column) -> Column:
    """Unbiased MinHash Jaccard estimate: the fraction of equal signature
    components (each component matches with probability exactly j, so the
    estimate is Binomial(k, j)/k over k = bands*rows hashes).

    This is the cheap middle gate between banding and exact verify: a
    threshold-matched band config (midpoint at/below the verify
    threshold) necessarily admits the corpus's ENTIRE similarity mass
    near the midpoint as candidates — on template-heavy corpora that is
    a constant fraction of all pairs — but estimating j from the
    signatures the banding already computed costs one long-array
    comparison per pair, no shingle-set fetch. At k=128 the estimate's
    std is sqrt(j(1-j)/128) <= 0.044, so a cut 0.2 BELOW the verify
    threshold (>=4.6 sigma) keeps a true threshold pair with
    P(drop) ~ 2e-6 while discarding the j~0.3 background mass. Avoid
    cuts where cut*k is an integer (exact ties); 0.4*128 = 51.2 cannot
    tie."""
    eq = F.zip_with(sig_a, sig_b, lambda x, y: (x == y).cast("int"))
    return (
        F.aggregate(eq, F.lit(0), lambda acc, v: acc + v).cast("double")
        / F.size(sig_a)
    )


def minhash_signatures(
    df: DataFrame, id_col: str, shingle_col: str, num_hashes: int = 64
) -> DataFrame:
    """(id, signature array<long>) computed IN-ROW with higher-order
    functions (r16, guide §2.4/§4) — one WholeStageCodegen-adjacent scan
    stage, no explode, no shuffle, no num_hashes-buffer hash aggregate.
    The previous shape (explode shingles -> md5 per row -> num_hashes MIN
    aggregates) paid the row blowup plus a 128-min-buffer HashAggregate;
    the per-doc work is embarrassingly row-local, and the in-row form
    measured 3.9x faster on the sf0.1 corpus (1.91 s -> 0.49 s for the
    signature pass) with BIT-IDENTICAL signatures (xxhash64 checksum
    equality over all 5,000 docs).

    Binding discipline (same as winnowing_fingerprints): the base gram
    hashes are bound through a one-element-array transform lambda —
    referenced as a plain expression, CollapseProject would inline the
    md5 map into the per-permutation lambda and re-hash every shingle
    once per permutation (O(n*num_hashes) md5s); a lambda variable is
    not a collapsible alias, so the md5s evaluate exactly once per
    shingle.

    CONSUMER CONTRACT: the returned `signature` is a projected
    EXPRESSION, not an aggregation-bounded attribute — a consumer that
    references it inside its own lambda (e.g. lsh_band_keys' per-band
    fold) must first materialize the frame (persist/localCheckpoint), or
    CollapseProject will inline the whole MinHash into the per-band
    lambda (bands x recompute). Both in-package consumers
    (lsh_candidate_pairs, cross_set_lsh_candidates) persist it.

    Docs with empty (or NULL) shingle sets vanish — same as the old
    explode, which emitted no rows for them; they can't be
    near-duplicates of anything.

    Duplicate-id caveat (ADVICE r16, same contract as simhash_bits/
    simhash_wide): the in-row form emits one signature row PER INPUT ROW.
    The pre-r16 explode+groupBy(id) shape merged rows sharing an id into
    one signature over the union of their shingles — callers must feed a
    primary-keyed frame, or pre-aggregate shingles per id first. Every
    in-package caller feeds primary-keyed documents.
    """
    a_arr = F.array(*[F.lit(_perm_coeffs(i)[0]) for i in range(num_hashes)])
    b_arr = F.array(*[F.lit(_perm_coeffs(i)[1]) for i in range(num_hashes)])
    base = F.transform(
        F.col(shingle_col),
        lambda s: F.conv(F.substring(F.md5(s), 1, 7), 16, 10).cast("long"),
    )
    sig = F.get(
        F.transform(
            F.array(base),  # lambda-bind: md5s evaluate ONCE (see doc)
            lambda hs: F.transform(
                F.sequence(F.lit(0), F.lit(num_hashes - 1)),
                lambda i: F.array_min(
                    F.transform(
                        hs,
                        lambda h: (
                            F.element_at(a_arr, i + 1) * h
                            + F.element_at(b_arr, i + 1)
                        )
                        % _MERSENNE31,
                    )
                ),
            ),
        ),
        F.lit(0),
    )
    return df.filter(F.size(F.col(shingle_col)) > 0).select(
        F.col(id_col), sig.alias("signature")
    )


def _estimate_gate(
    pairs: DataFrame,
    sigs: DataFrame,
    id_col: str,
    left: str,
    right: str,
    est_cut: float | None,
) -> DataFrame:
    """`pairs` (columns `left`, `right`) kept where the signature Jaccard
    estimate is >= est_cut; unchanged when est_cut is None. Both sides
    rejoin the PERSISTED signature table `sigs` (left side first), never
    the shingle sets."""
    if est_cut is None:
        return pairs
    sig_l = sigs.select(
        F.col(id_col).alias(left), F.col("signature").alias("__sig_l")
    )
    sig_r = sigs.select(
        F.col(id_col).alias(right), F.col("signature").alias("__sig_r")
    )
    return (
        pairs.join(sig_l, left)
        .join(sig_r, right)
        .filter(
            signature_jaccard_estimate(F.col("__sig_l"), F.col("__sig_r"))
            >= est_cut
        )
        .select(left, right)
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    shingle_col: str,
    bands: int = 8,
    rows: int = 8,
    est_cut: float | None = None,
) -> DataFrame:
    """(id_a, id_b) candidate pairs sharing >=1 LSH bucket, id_a < id_b.

    Plan shape: in-row signatures (minhash_signatures) -> explode
    bands -> shuffle on (band_idx, band_hash) -> hash self-join inside
    buckets -> distinct. No cartesian product anywhere; the unit test
    asserts the plan has no CartesianProduct. Signatures are persisted
    across the two join branches (5000 docs x bands*rows longs per 0.01 SF — tiny
    relative to the corpus).

    `est_cut`: when set, candidates are additionally pruned by the
    signature Jaccard estimate (signature_jaccard_estimate) before being
    returned — the pairs rejoin the PERSISTED signature table, never the
    shingle sets, so a threshold-matched band config's background
    candidate mass (constant allpairs-fraction on template-heavy
    corpora) is cut to the near-threshold pairs the exact verify
    actually needs to see. Pick cut <= threshold - 0.2 at 128 hashes
    (see signature_jaccard_estimate for the sigma arithmetic).
    """
    sigs = minhash_signatures(df, id_col, shingle_col, bands * rows).persist()
    banded = sigs.select(
        F.col(id_col).alias("__id"),
        F.posexplode(lsh_band_keys(F.col("signature"), bands, rows)).alias(
            "band_idx", "band_hash"
        ),
    )
    left = banded.withColumnsRenamed({"__id": "id_a"})
    right = banded.withColumnsRenamed({"__id": "id_b"})
    pairs = (
        left.join(right, ["band_idx", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return _estimate_gate(pairs, sigs, id_col, "id_a", "id_b", est_cut)


def cross_set_lsh_candidates(
    sh: DataFrame,
    id_col: str,
    shingle_col: str,
    source_col: str,
    index_value: str,
    bands: int = 8,
    rows: int = 8,
    est_cut: float | None = None,
) -> DataFrame:
    """CROSS-SET banded MinHash candidates: rows whose `source_col` is
    NOT `index_value` (the ingest batch) probe rows that ARE (the stored
    index) — never index-vs-index, never batch-vs-batch. Returns
    distinct (new_id, index_id) pairs sharing >= 1 LSH bucket; with
    `est_cut` set, pairs are additionally pruned by the signature
    Jaccard estimate against the persisted signatures (see
    lsh_candidate_pairs) before the caller's exact verify.

    This is the candidate stage of q105 (incremental ingest-vs-index
    screen), factored out in r9 so the scaling harness measures the
    PRODUCTION stage instead of a copy that could drift (review r9).

    Plan shape: one signature computation + one band explosion, persisted
    and filtered into the two join sides (the persist matters — without
    it each side re-runs the whole bands*rows-hash signature pass from
    the source scan). At 100 TB the index side's band table
    is the precomputed, bucketed artifact a deployment stores; each
    ingest touches only colliding buckets."""
    sigs = minhash_signatures(sh, id_col, shingle_col, bands * rows).join(
        sh.select(id_col, source_col), id_col
    ).persist()
    # Persist UNCONDITIONALLY (r16): minhash_signatures' signature is now
    # a projected expression (see its consumer contract) — without the
    # materialization boundary, lsh_band_keys' per-band fold would inline
    # the whole MinHash into its lambda (bands x recompute). With est_cut
    # the cache additionally serves the two estimate sides.
    banded = sigs.select(
        id_col,
        source_col,
        F.posexplode(lsh_band_keys(F.col("signature"), bands, rows)).alias(
            "band_idx", "band_hash"
        ),
    ).persist()
    new_b = banded.filter(F.col(source_col) != index_value).select(
        F.col(id_col).alias("new_id"), "band_idx", "band_hash"
    )
    idx_b = banded.filter(F.col(source_col) == index_value).select(
        F.col(id_col).alias("index_id"), "band_idx", "band_hash"
    )
    pairs = (
        new_b.join(idx_b, ["band_idx", "band_hash"])
        .select("new_id", "index_id")
        .distinct()
    )
    return _estimate_gate(pairs, sigs, id_col, "new_id", "index_id", est_cut)


def near_duplicates(
    df: DataFrame,
    id_col: str,
    shingle_col: str,
    threshold: float = 0.6,
    bands: int = 32,
    rows: int = 4,
    est_cut: float | None = None,
) -> DataFrame:
    """MinHash-LSH near-dup pairs with exact-Jaccard verification:
    (id_a, id_b, jaccard) for pairs >= threshold. The LSH stage prunes the
    pair space; the join back to shingle sets verifies candidates exactly,
    so precision is 1.0 and recall is 1-(1-j^rows)^bands at similarity j.

    Band tuning matters enormously: the S-curve midpoint is roughly
    (1/bands)^(1/rows), and it must sit AT OR BELOW the verify threshold
    or the operator silently under-recalls right where it claims to work
    (ADVICE r11; the r12 cross-sf sweep caught 8x8 — midpoint ~0.77 —
    missing a j=0.818 pair with 16.7% probability and a j=0.9 pair with
    1.1%). The 32x4 default matches the 0.6 threshold default: midpoint
    ~0.42, recall 0.988 at j=0.6 and 1-1.4e-15 at j=0.9. The cost of a
    lower midpoint is candidate volume — a too-shallow 16x2 curve
    (midpoint 0.25) admits ~80% of ALL pairs on this corpus (measured:
    250k of 312k at sf0.1) where 32x4 admits thousands — so when raising
    `threshold`, re-match bands/rows instead of inheriting the default
    (e.g. 8x8 is the right shape for threshold ~0.8).

    `est_cut` (recommended: threshold - 0.2 at >= 128 hashes) prunes the
    banded candidates by the signature Jaccard estimate BEFORE the
    shingle-set verify joins — the threshold-matched curve's background
    admissions (j ~ 0.3 template mass) never touch the shingle sets.

    THE 128-HASH WIDTH IS LOAD-BEARING (r13 A/B, VERDICT r12 #5): both
    96-hash alternatives failed on this corpus at all three SFs. 32x3
    (midpoint 0.315) keeps threshold recall (0.9996 at j=0.6) but its
    shallower curve admits 6.1x the raw background candidates (41,291
    vs 6,756 at sf0.1 — a constant factor on the QUADRATIC background
    term, dwarfing the 25% linear signature saving at scale); 24x4
    (midpoint 0.452) keeps candidate volume (6,371) but drops banding
    recall at the 0.6 contract threshold to 0.9645 — it passes this
    corpus only through the >=0.8 corpus gap, the exact reliance the
    r12 fix removed. All three configs returned the identical 256-pair
    sf0.1 truth; the distinction is contract recall and scale cost,
    not this corpus's answer.
    """
    df = df.persist()  # consumed by 3 branches (banding + both set joins)
    pairs = lsh_candidate_pairs(
        df, id_col, shingle_col, bands, rows, est_cut=est_cut
    )
    sets_a = df.select(
        F.col(id_col).alias("id_a"), F.col(shingle_col).alias("__sh_a")
    )
    sets_b = df.select(
        F.col(id_col).alias("id_b"), F.col(shingle_col).alias("__sh_b")
    )
    return (
        pairs.join(sets_a, "id_a")
        .join(sets_b, "id_b")
        .withColumn("jaccard", jaccard(F.col("__sh_a"), F.col("__sh_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash_bits(df: DataFrame, id_col: str, token_col: str, bits: int = 32) -> DataFrame:
    """SimHash: per-doc `bits`-bit signature as a bit-string column.

    Each token votes +1/-1 on bit j according to hex digit j of its md5
    (digit >= 8 -> 1). A near-identical token multiset flips few votes, so
    near-dups land at small hamming distance. Fully native: explode tokens
    x explode bit positions -> groupBy(doc, pos) sum -> assemble string.

    `bits` is capped at 32 — one md5 hex digit votes per bit, and
    substring past the 32-digit digest returns '' so bits 33+ would be
    the SAME constant vote for every token and every doc (a silently
    degenerate signature that halves effective width and inflates false
    matches — review r14). Use simhash_wide for wider signatures.

    Computed IN-ROW (r16, guide §2.4): the vote fold runs per document
    with higher-order functions — no token explode, no shuffle, no
    `bits`-buffer aggregate (measured 0.82 s -> 0.21 s on the sf0.1
    corpus, signatures bit-identical). Each token's md5 is bound once
    through a one-element-array lambda. Per-row == per-doc because every
    caller feeds a primary-keyed frame; a caller with duplicate ids
    would previously have merged their votes (the old groupBy) — pre-
    aggregate tokens per id first if that input shape ever appears.
    Empty/NULL token arrays vanish, same as the old explode.
    """
    if not 1 <= bits <= 32:
        raise ValueError(
            f"simhash_bits: bits must be in [1, 32] (one md5 hex digit "
            f"votes per bit; got {bits}) — use simhash_wide for wider "
            f"signatures"
        )

    def token_votes(t):
        return F.get(
            F.transform(
                F.array(F.md5(t)),  # lambda-bind: one md5 per token
                lambda h: F.transform(
                    F.sequence(F.lit(1), F.lit(bits)),
                    lambda j: F.when(
                        F.instr(F.lit("89abcdef"), h.substr(j, F.lit(1))) > 0,
                        F.lit(1),
                    ).otherwise(F.lit(-1)),
                ),
            ),
            F.lit(0),
        )

    votes = F.aggregate(
        F.col(token_col),
        F.array_repeat(F.lit(0), bits),
        lambda acc, t: F.zip_with(acc, token_votes(t), lambda a, v: a + v),
    )
    sim = F.array_join(
        F.transform(
            votes, lambda v: F.when(v >= 0, F.lit("1")).otherwise(F.lit("0"))
        ),
        "",
    )
    return df.filter(F.size(F.col(token_col)) > 0).select(
        F.col(id_col), sim.alias("simhash")
    )


def winnowing_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    window: int = 4,
) -> DataFrame:
    """Document fingerprinting via winnowing (the MOSS algorithm): hash
    every char k-gram, slide a `window` over the hash sequence, keep each
    window's minimum — guaranteeing any match of length >= k+window-1
    shares a fingerprint, with ~2/(window+1) selection density.

    Fully native AND fully in-row (r16, guide §2.4): the gram hashes and
    the sliding minima are computed per document with higher-order
    functions, so the operator runs as ONE WholeStageCodegen scan stage —
    no per-char posexplode (a ~|text|x row blowup: 1.39M rows / 15.5 MB
    shuffled at sf0.1), no per-doc sort-window exchange, no distinct
    exchange. The previous shape (posexplode -> window min over
    PARTITION BY doc -> distinct) paid three exchanges and two sorts for
    work that is embarrassingly row-local. Per-doc distinct minima ==
    global distinct because `id_col` is unique per input row (every
    caller feeds a primary-keyed table).

    The hash-array projection is bound through a one-element-array
    transform lambda: referenced as a plain column, CollapseProject would
    inline the whole md5 map into the per-window lambda and re-hash every
    gram once PER WINDOW (O(n*w) md5s instead of O(n)); a lambda variable
    is not a collapsible alias, so the hashes evaluate exactly once.

    Returns (id, fingerprint) pairs, one row per distinct fingerprint.
    """
    from reddit_big_data_spark.sources.io import spread

    n = F.length(F.col(text_col))
    # Docs need at least one FULL window of grams to emit anything:
    # n_grams = n - k + 1 >= window  <=>  n >= k + window - 1 (shorter
    # docs emitted zero rows under the old tail-truncation filter too).
    hashes = F.transform(
        F.sequence(F.lit(1), n - (k - 1)),
        lambda i: F.conv(
            F.md5(F.col(text_col).substr(i, F.lit(k))).substr(1, 7), 16, 10
        ).cast("long"),
    )
    fps = F.transform(
        F.array(hashes),  # lambda-bind: hashes evaluate ONCE (see doc)
        lambda hs: F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(hs) - (window - 1)),
                lambda i: F.array_min(F.slice(hs, i, window)),
            )
        ),
    )[0]
    # The per-row work is ~|text| md5s — spread the scan so it isn't
    # pinned to the input's file count.
    return (
        spread(df)
        .filter(n >= k + window - 1)
        .select(F.col(id_col).alias(id_col), F.explode(fps).alias("fp"))
    )


def simhash_wide(
    df: DataFrame, id_col: str, token_col: str, bits: int = 64
) -> DataFrame:
    """SimHash over the BIT level of each token's md5 (vs `simhash_bits`,
    which votes on one bit per hex DIGIT and so caps at 32 bits): bit j
    of the signature is the sign of the sum over tokens of (+1 if bit j
    of md5(token) is set else -1). 64 bits is the production sweet spot —
    at 32 bits a few thousand word-soup docs already collapse to within
    hamming 3 of each other (measured: 51% of all sf0.1 pairs), while 64
    bits keeps the distance distribution spread.

    Fully native and IN-ROW (r16, guide §2.4): the vote fold runs per
    document with higher-order functions — no token explode, no shuffle,
    no `bits`-buffer aggregate (measured 1.37 s -> 0.43 s at 64 bits on
    the sf0.1 corpus, signatures bit-identical incl. the multi-block
    160-bit case). Per token, the salted md5 blocks and the hex digits
    are each bound once through one-element-array lambdas, and the 4
    bits of every digit unroll MSB-first — the exact j-ordering of the
    old per-bit SUM aggregates. Per-row == per-doc because every caller
    feeds a primary-keyed frame (duplicate ids would previously have
    merged votes via the groupBy — pre-aggregate first if that shape
    ever appears); empty/NULL token arrays vanish, same as the old
    explode.

    Signatures wider than one md5 (128 bits / 32 hex digits) draw their
    extra digits from SALTED digests md5(token || '#blockIdx') — block 0
    stays the plain md5, so every width <= 128 is bit-identical to the
    pre-r9 output (and to the q98 DuckDB oracle). The adaptive-width
    scale path (adaptive_band_width) needs this headroom: 4 bands only
    reach the 128-bit ceiling at w=32, i.e. ~33M docs from the 500-doc
    base."""
    ndig = (bits + 3) // 4
    nblocks = (ndig + 31) // 32

    def hs_of(t):
        return F.array(
            *[
                F.md5(t) if b == 0 else F.md5(F.concat(t, F.lit(f"#{b}")))
                for b in range(nblocks)
            ]
        )

    def digits_of(t):
        return F.get(
            F.transform(
                F.array(hs_of(t)),  # lambda-bind: md5 blocks once per token
                lambda hsb: F.transform(
                    F.sequence(F.lit(1), F.lit(ndig)),
                    lambda d: F.conv(
                        F.element_at(
                            hsb, (F.floor((d - 1) / 32) + 1).cast("int")
                        ).substr(((d - 1) % 32 + 1).cast("int"), F.lit(1)),
                        16,
                        10,
                    ).cast("int"),
                ),
            ),
            F.lit(0),
        )

    def token_votes(t):
        return F.get(
            F.transform(
                F.array(digits_of(t)),  # lambda-bind: digits once per token
                lambda ds: F.slice(
                    F.flatten(
                        F.transform(
                            ds,
                            lambda dgt: F.array(
                                *[
                                    F.when(
                                        dgt.bitwiseAND(F.lit(m)) != 0,
                                        F.lit(1),
                                    ).otherwise(F.lit(-1))
                                    for m in (8, 4, 2, 1)
                                ]
                            ),
                        )
                    ),
                    1,
                    bits,
                ),
            ),
            F.lit(0),
        )

    votes = F.aggregate(
        F.col(token_col),
        F.array_repeat(F.lit(0), bits),
        lambda acc, t: F.zip_with(acc, token_votes(t), lambda a, v: a + v),
    )
    sim = F.array_join(
        F.transform(
            votes, lambda v: F.when(v >= 0, F.lit("1")).otherwise(F.lit("0"))
        ),
        "",
    )
    return df.filter(F.size(F.col(token_col)) > 0).select(
        F.col(id_col), sim.alias("simhash")
    )


def simhash_band_candidates(
    sig: DataFrame,
    id_col: str,
    sig_col: str = "simhash",
    bits: int = 64,
    bands: int = 4,
) -> DataFrame:
    """The CANDIDATE stage of simhash_hamming_pairs, exposed so the
    scaling harness (scaling.py) measures the operator's own band-join
    fan-out: distinct (id_a, id_b, sig_a, sig_b) pairs agreeing exactly
    on at least one signature chunk. The pigeonhole guarantee (a pair
    within max_hamming < bands bits MUST collide on some chunk) belongs
    to the caller; this stage is pure equi-join — never all-pairs."""
    if bits % bands:
        raise ValueError(f"signature width {bits} not divisible by {bands} bands")
    width = bits // bands
    if width > 63:
        # conv(chunk, 2, 10).cast(long) is signed: a 64-bit chunk with the
        # top bit set overflows — CAST_INVALID_INPUT under ANSI, silent
        # null (= dropped pairs) otherwise. Narrower bands are also better
        # banding, so reject rather than sub-slice.
        raise ValueError(
            f"band width {width} exceeds 63 bits (signed-long hamming "
            f"verify); use more bands"
        )
    # Materialize signatures ONCE: both self-join sides would otherwise
    # re-run the (64-aggregate) signature computation from the source scan
    # (same trap as simjoin's prefix table). One row of (id, 64-char
    # string) per doc — tiny next to the corpus.
    sig = sig.localCheckpoint()

    def banded(role: str) -> DataFrame:
        # Rename FIRST and slice chunks as PLAIN literal-indexed exprs
        # (no higher-order-function lambdas): both join sides derive from
        # the same `sig` plan, and HOF lambda variables referencing the
        # shared plan trip Spark's self-join attribute disambiguation
        # (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND). Band count is a small
        # Python constant, so an unrolled array literal is also the
        # faster codegen.
        s = sig.select(
            F.col(id_col).alias(f"id_{role}"),
            F.col(sig_col).alias(f"sig_{role}"),
        )
        chunks = F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.col(f"sig_{role}")
                        .substr(i * width + 1, width)
                        .alias("chunk"),
                    )
                    for i in range(bands)
                ]
            )
        )
        return s.select(
            f"id_{role}", f"sig_{role}", chunks.alias("__bc")
        ).select(f"id_{role}", f"sig_{role}", "__bc.band", "__bc.chunk")

    return (
        banded("a")
        .join(banded("b"), ["band", "chunk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sig_a", "sig_b")
        .distinct()
    )


def simhash_hamming_pairs(
    sig: DataFrame,
    id_col: str,
    sig_col: str = "simhash",
    bits: int = 64,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """EXACT hamming-distance self-join over bit-string signatures:
    (id_a, id_b, hamming) for every pair within `max_hamming` bits.

    Pigeonhole banding (the bit-sampling LSH made exact): split the
    signature into `bands` equal chunks; a pair differing in at most
    max_hamming <= bands - 1 bits must agree EXACTLY on >= 1 chunk, so
    candidates come from an equi-join on (band, chunk) — never all-pairs
    — with recall 1.0 by construction. Verification recomputes the true
    hamming distance natively (per-band conv -> xor -> bit_count fold).

    Scale: same banded-join shape as MinHash-LSH (operators/dedup.py
    near_duplicates) — shuffle keys are 16-bit chunks, skewed chunks mean
    near-identical doc clusters, which is exactly the signal dedup wants."""
    if max_hamming >= bands:
        raise ValueError(
            f"pigeonhole guarantee needs max_hamming < bands "
            f"(got {max_hamming} >= {bands})"
        )
    width = bits // bands
    cand = simhash_band_candidates(sig, id_col, sig_col, bits, bands)
    # Exact distance: per-band ints xor'd and popcounted, summed as plain
    # unrolled exprs — no string scan per pair beyond the substr slicing.
    band_hams = [
        F.bit_count(
            F.conv(F.col("sig_a").substr(i * width + 1, width), 2, 10)
            .cast("long")
            .bitwiseXOR(
                F.conv(F.col("sig_b").substr(i * width + 1, width), 2, 10).cast(
                    "long"
                )
            )
        )
        for i in range(bands)
    ]
    ham = sum(band_hams[1:], band_hams[0]).cast("int")
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def adaptive_band_width(
    n: int,
    base_width: int = 16,
    base_n: int = 500,
    max_width: int = 63,
) -> int:
    """Chunk width for the hamming band join at corpus size `n` — the
    q98 scale lever (VERDICT r8 #4), now code instead of a comment:

        w(n) = base_width + ceil(log2(n / base_n)),  clamped to
               [base_width, max_width].

    Why log2(n): a random (non-near-dup) pair collides on one w-bit
    chunk with probability ~2^-w, so the band join's spurious candidate
    mass is ~bands * C(n,2) * 2^-w — QUADRATIC at fixed width. Growing
    w by exactly log2(n/base_n) multiplies 2^-w by base_n/n, cancelling
    one factor of n: spurious candidates stay ~bands * n * base_n *
    2^-base_width — LINEAR in the corpus (the ceil overshoots, erring on
    fewer collisions). Genuine near-dup pairs are unaffected: the
    pigeonhole recall guarantee (a pair within max_hamming < bands bits
    MUST agree on >= 1 chunk) depends only on (bands, max_hamming),
    never on width.

    The max_width=63 clamp is the signed-long hamming-verify ceiling
    (simhash_band_candidates rejects wider); 4 bands * 63 bits covers
    n ~ base_n * 2^47 docs before clamping — far past any real corpus.

    Semantics note: wider signatures make `max_hamming` a strictly
    TIGHTER similarity threshold (same bit budget per doc-pair spread
    over more bits), which is the conventional trade — FAISS/Annoy-style
    systems likewise grow code length with corpus size. The registered
    q98 pins the 64-bit instance so the DuckDB oracle replays a fixed
    signature definition; production dedup at growing scale should call
    simhash_hamming_pairs_scaled."""
    import math

    if n <= base_n:
        return base_width
    return min(max_width, base_width + math.ceil(math.log2(n / base_n)))


def simhash_hamming_pairs_scaled(
    df: DataFrame,
    id_col: str,
    token_col: str,
    bands: int = 4,
    max_hamming: int = 3,
    base_width: int = 16,
    base_n: int = 500,
) -> DataFrame:
    """simhash_hamming_pairs at the corpus-adaptive chunk width: counts
    the corpus (one cheap count job), picks w = adaptive_band_width(n),
    builds bands*w-bit signatures, and runs the exact pigeonhole band
    join — sub-quadratic candidate growth END TO END (measured by
    scaling.py::measure_q98; the fixed-width registry query q98 keeps
    the oracle-pinned 64-bit instance)."""
    n = df.count()
    width = adaptive_band_width(n, base_width, base_n)
    bits = bands * width
    sig = simhash_wide(df, id_col, token_col, bits=bits)
    return simhash_hamming_pairs(
        sig, id_col, bits=bits, bands=bands, max_hamming=max_hamming
    )


def duplicated_token_spans(
    toks: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "toks",
    k: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Exact substring-level dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): find every maximal token
    span that appears at least `min_count` times across the corpus, as
    (doc, span) rows. Tokens must be whitespace-free (' ' is the gram
    separator — see token_set_fingerprint's precondition).

    The Spark plan is gram-banded, never all-pairs:

    1. positional k-token grams — one row per (doc, start_pos), keyed by
       the md5 of the gram text (32-byte shuffle key regardless of gram
       length; at 100 TB swap md5 for xxhash64 to quarter the shuffle
       bytes at a documented ~2^-64 per-pair collision risk — md5 is kept
       here because DuckDB computes the identical digest, making the
       whole pipeline oracle-checkable);
    2. corpus-frequency filter via a count window PARTITIONed on the
       digest — ONE shuffle on the gram key (vs two for groupBy+semi-join)
       marks each occurrence whose gram appears >= min_count times
       anywhere in the corpus (including twice in the same doc, which is
       exactly Lee et al.'s self-repetition case);
    3. run coalescing per doc (gaps-and-islands, the q53 sessionization
       shape): surviving start positions p cover tokens [p, p+k-1];
       positions within k of the previous start overlap-or-touch, so a
       new island starts only when pos > lag(pos) + k. min/max per island
       yield the maximal duplicated spans.

    Returns (id_col, span_start, span_end, span_len) — token positions
    are 1-based inclusive. Docs shorter than k tokens contribute nothing.

    DETECTION GUARANTEE (anchor stride = 1; VERDICT r6 #7). Every token
    span of length L >= k occurring >= min_count times in the corpus is
    reported with EXACT boundaries: each of its L-k+1 constituent
    k-grams occurs >= min_count times (one occurrence per span copy), so
    its first and last anchor positions survive the frequency filter and
    the island covers [start, start+L-1] precisely. Conversely nothing
    shorter than k is ever reported — k IS the minimum duplicate length
    (the analog of Lee et al.'s 50-token threshold), and every reported
    position lies inside some genuinely duplicated k-gram (no false
    extent). Two duplicated spans coalesce into one reported span iff
    they overlap or touch (next span's start <= previous span's end + 1,
    from the island rule pos <= lag(pos) + k applied to their surviving
    anchor starts); a gap of even one token keeps them separate. A
    strided variant (anchors every s > 1 positions) would weaken the
    bound to L >= k + s - 1 with up to s-1 tokens of boundary slack —
    this implementation keeps s = 1 and the exact bound.
    tests/test_dedup_ops.py::test_duplicated_spans_detection_guarantee
    pins all four properties over adversarial placements.
    """
    from pyspark.sql import Window

    n = F.size(F.col(tokens_col))
    grams = (
        toks.filter(n >= k)
        .select(
            F.col(id_col),
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), n - (k - 1)),
                    lambda i: F.struct(
                        i.alias("pos"),
                        F.md5(
                            F.concat_ws(" ", F.slice(F.col(tokens_col), i, k))
                        ).alias("g"),
                    ),
                )
            ).alias("pg"),
        )
        .select(id_col, "pg.pos", "pg.g")
    )
    hits = (
        grams.withColumn("c", F.count("*").over(Window.partitionBy("g")))
        .filter(F.col("c") >= min_count)
        .select(id_col, "pos")
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    islands = hits.withColumn(
        "brk",
        F.when(F.col("pos") <= F.lag("pos").over(w) + k, F.lit(0)).otherwise(
            F.lit(1)
        ),
    ).withColumn("isl", F.sum("brk").over(w))
    return islands.groupBy(id_col, "isl").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + (k - 1)).alias("span_end"),
        (F.max("pos") + (k - 1) - F.min("pos") + 1).alias("span_len"),
    ).drop("isl")
