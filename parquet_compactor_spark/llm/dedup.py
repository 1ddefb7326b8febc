"""Deduplication operators over the ``documents`` table.

Exact dedup is a hash-groupBy. Near-dup families:

- **MinHash + LSH**: shingle → 64-perm minhash signature → banded LSH
  bucket join → candidate pairs verified with exact shingle Jaccard.
  All signature math is JVM-side higher-order array functions; the only
  shuffle is the band-bucket self-join (keys are (band, hash) — uniform).
- **SimHash**: token-hash bit voting → 64-bit signature → 16-bit chunk
  blocking → Hamming-distance verification (bit_count(xor)).
- **n-gram Jaccard**: character-shingle set similarity (oracle-checkable).

At 100 TB: every stage is a map or a hash-shuffle on a uniform synthetic
key; no stage materializes pairwise candidates beyond colliding buckets,
which is the point of LSH.
"""

from __future__ import annotations

import random
from fractions import Fraction

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_compactor_spark.registry import load, register

MERSENNE_31 = 2147483647  # 2^31 - 1, the classic minhash modulus
NUM_PERM = 64
LSH_BANDS = 16  # 16 bands x 4 rows
BAND_ROWS = NUM_PERM // LSH_BANDS

# Deterministic permutation parameters (seeded — stable across runs/engines).
_rng = random.Random(42)
PERM_COEFFS = [
    (_rng.randrange(1, MERSENNE_31), _rng.randrange(0, MERSENNE_31))
    for _ in range(NUM_PERM)
]


def set_jaccard(x: Column, y: Column) -> Column:
    """Exact Jaccard of two DISTINCT-element arrays without building the
    union array: |x∩y| / (|x| + |y| - |x∩y|) — the inclusion-exclusion
    identity, valid only because every caller passes ``array_distinct``
    outputs (sets). ``size(array_union(x, y))`` materialized a ~|x|+|y|
    array per pair just to count it; the per-pair verify stage is the
    hot loop of every pair family, so that build was the single largest
    per-candidate cost (r14, guide §1.2: don't compute things you throw
    away). Bit-identical to the union form: both denominators are the
    same exact integer, so the IEEE division is unchanged — pinned by
    the unchanged DuckDB oracle hashes of all six caller queries.
    """
    inter = F.size(F.array_intersect(x, y)).cast("double")
    return inter / (F.size(x) + F.size(y) - inter)


@register(
    "q_dedup_exact",
    oracle="""
    SELECT MIN(doc_id) AS keep_id,
           COUNT(*)    AS n_copies,
           MIN(n_chars) AS n_chars
    FROM documents
    GROUP BY md5(text)
    """,
    doc="Exact deduplication: group documents by content hash, keep the "
    "lowest doc_id. Hash-groupBy is one shuffle on a uniform key — the "
    "canonical 100 TB-safe exact-dedup plan.",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5(F.col("text")).alias("content_hash"))
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.min("n_chars").alias("n_chars"),
        )
        .drop("content_hash")
    )


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------


def word_shingles(text: Column, k: int = 3) -> Column:
    """Distinct k-word shingles as an array column (JVM-side).

    Documents shorter than k tokens fall back to the whole text as one
    shingle so every doc has a non-empty set.

    The words array is BOUND to a lambda variable via a single-element
    outer transform before the shingle lambda touches it: referencing
    ``split(text)`` inside the lambda re-evaluates the whole split per
    shingle position (no common-subexpression elimination in
    higher-order lambdas — the round-11 trap, rediscovered in
    q_rouge_overlap round 13), turning an O(words) build into
    O(words^2) per document. Measured on this helper's consumers at
    sf0.1: q_dedup_minhash 4.93 -> 2.83 s, q_ssjoin_exact 3.38 ->
    2.69 s; at 100 TB with book-length documents the asymptotic gap is
    the difference between a map pass and a stall.
    """
    bound = F.transform(
        F.array(F.split(text, " ", -1)),
        lambda w: F.when(
            F.size(w) >= k,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.size(w) - k),
                    lambda i: F.concat_ws(
                        " ", F.slice(w, i + F.lit(1), F.lit(k))
                    ),
                )
            ),
        ).otherwise(F.array(text)),
    )
    return F.element_at(bound, 1)


def lsh_band_hashes(sig: Column) -> Column:
    """Array of LSH_BANDS band hashes over the signature."""
    bands = []
    for b in range(LSH_BANDS):
        band = F.slice(sig, b * BAND_ROWS + 1, BAND_ROWS)
        bands.append(
            F.xxhash64(
                F.concat_ws(",", F.transform(band, lambda x: x.cast("string"))),
                F.lit(b),
            )
        )
    return F.array(*bands)


def minhash_signatures_exploded(
    docs: DataFrame, portable: bool = False
) -> DataFrame:
    """(doc_id, sig) via explode + 64 min-aggregates — the scale form.

    Explode the shingle set to (doc_id, h) rows, hash each shingle ONCE,
    then compute all 64 permutation minima as a single map-side-partial
    hash aggregate. Each permutation is the standard (a*h + b) mod p
    universal hash (h < 2^31 and a, b < 2^31, so a*h+b never overflows
    bigint — ANSI-mode safe). Aggregating exploded rows keeps Catalyst
    from re-inlining the tokenization into every permutation (an
    array-fold form recomputes shingle hashes up to 64x per row).

    ``portable=True`` hashes shingles with the 60-bit md5-derived value
    (``conv(substr(md5(sh),1,15),16,10)``, the simhash portable-hash
    convention) instead of xxhash64, making every signature value
    reproducible bit-for-bit by an independent engine (DuckDB:
    ``('0x' || substr(md5(sh),1,15))::BIGINT``) — q_lsh_tuning's
    differential oracle replays the full signature/band pipeline on it.
    Default xxhash64 is the production fast path (~4x cheaper/token);
    the permutation algebra is identical.
    """
    from parquet_compactor_spark.llm.text import spread_scan

    # Shingling + hashing + 64 partial minima all run in the SCAN
    # stage: a single-file corpus caps them at one task (see
    # text.spread_scan); the check is a no-op for wide inputs and for
    # the streaming gate's already-repartitioned micro-batches.
    if portable:
        h = F.expr("cast(conv(substr(md5(sh), 1, 15), 16, 10) as bigint)")
    else:
        h = F.xxhash64("sh")
    hashed = spread_scan(docs).select(
        "doc_id", F.explode(word_shingles(F.col("text"))).alias("sh")
    ).select("doc_id", F.pmod(h, F.lit(MERSENNE_31)).alias("h"))
    mins = [
        F.min(F.pmod(F.col("h") * F.lit(a) + F.lit(b), F.lit(MERSENNE_31))).alias(f"m{j}")
        for j, (a, b) in enumerate(PERM_COEFFS)
    ]
    return (
        hashed.groupBy("doc_id")
        .agg(*mins)
        .select("doc_id", F.array(*[f"m{j}" for j in range(NUM_PERM)]).alias("sig"))
    )


def minhash_candidate_pairs(docs: DataFrame) -> DataFrame:
    """LSH candidate pairs (id1 < id2) with estimated + exact Jaccard.

    docs: (doc_id, text). Returns (id1, id2, est_jaccard, jaccard,
    jaccard_exact) — est_jaccard/jaccard are 4dp-rounded for display and
    oracle comparison; jaccard_exact is the unrounded value threshold
    cuts must use (cutting on the rounded one admits pairs just below
    the threshold).
    """
    shingle_sets = docs.select(
        "doc_id", word_shingles(F.col("text")).alias("shingles")
    )
    # sigs feeds three branches (bucket explode + both pair-verify sides);
    # Spark's ReusedExchange dedupes the shared subplan, so no explicit
    # persist (measured slower: materializing the shingle arrays costs more
    # than the reuse saves). At lake scale the signature table would be
    # written out once and joined from storage instead.
    sigs = minhash_signatures_exploded(docs).join(shingle_sets, "doc_id")

    buckets = sigs.select(
        "doc_id",
        F.posexplode(lsh_band_hashes(F.col("sig"))).alias("band", "band_hash"),
    )
    left = buckets.select(
        F.col("doc_id").alias("id1"), "band", "band_hash"
    )
    right = buckets.select(
        F.col("doc_id").alias("id2"), "band", "band_hash"
    )
    pairs = (
        left.join(right, ["band", "band_hash"])
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
        .distinct()
    )

    s1 = sigs.select(
        F.col("doc_id").alias("id1"),
        F.col("sig").alias("sig1"),
        F.col("shingles").alias("sh1"),
    )
    s2 = sigs.select(
        F.col("doc_id").alias("id2"),
        F.col("sig").alias("sig2"),
        F.col("shingles").alias("sh2"),
    )
    est = F.aggregate(
        F.zip_with(F.col("sig1"), F.col("sig2"), lambda a, b: (a == b).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    ) / F.lit(NUM_PERM)
    exact = set_jaccard(F.col("sh1"), F.col("sh2"))
    return (
        pairs.join(s1, "id1")
        .join(s2, "id2")
        .select(
            "id1",
            "id2",
            F.round(est, 4).alias("est_jaccard"),
            F.round(exact, 4).alias("jaccard"),
            # Unrounded, for threshold cuts: filtering on the 4dp-rounded
            # value would admit pairs in [threshold-0.00005, threshold)
            # that an exact-valued engine excludes.
            exact.alias("jaccard_exact"),
        )
    )


def prefix_filter_pairs(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """EXACT-recall set-similarity pairs via prefix filtering (the
    AllPairs/PPJoin family, Bayardo et al. WWW'07): J(A,B) >= t implies
    overlap o >= ceil(t * max(|A|,|B|)) (since o >= t*|A∪B|), and two
    sets sharing o elements under ANY global total order must collide
    within their (|X| - o + 1)-prefixes — so exploding only each doc's
    first (|X| - ceil(t*|X|) + 1) shingle hashes in sorted-hash order
    and equi-joining on the hash finds EVERY qualifying pair by
    construction. Contrast banded MinHash (minhash_candidate_pairs):
    its per-pair candidate probability at j = t is 1-(1-t^r)^b (~0.65
    at t=0.5 with 16x4 bands) — fine for recall-tolerant dedup, wrong
    for a stage whose removal count is differentially checked against
    a brute-force oracle. Candidates are verified with exact shingle
    Jaccard before anything downstream sees them.

    Returns (id1 < id2, jaccard 4dp, jaccard_exact unrounded) for the
    colliding pairs — callers cut at their threshold on jaccard_exact.
    EXACT recall holds only for cuts AT OR ABOVE the constructor
    ``threshold`` (after rational snapping, i.e. >= tn/td): the size
    and positional filters prune pairs that cannot reach tn/td, so a
    caller cutting BELOW it gets silently broken recall — construct
    with the lower threshold instead. At scale: one shuffle on the 64-bit
    prefix-hash key (prefix size ~(1-t)|X|+1, half the shingle mass at
    t=0.5); the size filter t*|A| <= |B| <= |A|/t and PPJoin's
    positional filter (1 + min(tail1, tail2) >= ceil(t(|A|+|B|)/(1+t)),
    exact — see the inline proof) prune incompatible collisions before
    the verify join. All threshold bounds are exact int64 rational
    arithmetic (threshold snapped to the nearest tn/td, td <= 1e6). The global order
    is ASCENDING DOCUMENT FREQUENCY (df, hash) — the classic AllPairs
    candidate-minimizing order: prefixes then consist of each doc's
    RAREST shingles, so two docs collide only on genuinely shared rare
    content. Measured against plain hash order on the sf0.1 word-soup
    corpus (dense shingle vocabulary): 430k candidate pairs -> the
    exact-Jaccard verify join dominated the runtime; df order costs
    one extra (hash-keyed df agg + join + per-doc window) over the
    exploded shingle table and collapses the candidate set to ~the
    true pair count. Recall is exact on the hashed universe — a 64-bit
    shingle-hash collision is the only loss channel (P ~ n^2/2^65),
    the same assumption every hash-keyed equality in this module
    already makes — and under it Jaccard over the hashed sets EQUALS
    Jaccard over the string shingle sets, so the verify stage works on
    narrow bigint arrays (the wide string arrays never leave the one
    hashing pass). The hashed-set table is persist_tracked: it feeds
    four branches (prefix explode + df aggregate via it + both
    pair-verify sides) and re-tokenizing per branch measured ~4x the
    shingle-build cost at sf0.1."""
    from parquet_compactor_spark.llm.text import persist_tracked

    hs_tbl = persist_tracked(
        docs.select(
            "doc_id",
            F.array_distinct(
                F.transform(
                    word_shingles(F.col("text")), lambda s: F.xxhash64(s)
                )
            ).alias("hs"),
        ).withColumn("sz", F.size("hs"))
    )
    # The threshold participates in ceil()/size bounds that must be
    # EXACT for the recall proof to hold: double arithmetic breaks it
    # for non-binary-exact thresholds (t=0.3, sz=10: 10*0.3 =
    # 3.0000000000000004 -> ceil 4, one prefix token short). Recover
    # the intended rational tn/td from the float repr (0.3 -> 3/10) and
    # do every bound below in pure int64 arithmetic. Thresholds that
    # are not exactly representable as a rational with denominator
    # <= 1e6 are snapped to the nearest such rational — that rational
    # IS the effective threshold.
    _frac = Fraction(float(threshold)).limit_denominator(1_000_000)
    tn, td = _frac.numerator, _frac.denominator

    ex = hs_tbl.select("doc_id", "sz", F.explode("hs").alias("k"))
    # Document frequency via ONE window count over the hash-keyed
    # shuffle (r15): the former groupBy(k) agg + equi-join BACK onto ex
    # shuffled the full exploded table by k for the join anyway, so the
    # separate df aggregate exchange (and the SortMergeJoin) was pure
    # extra — same df values on the same rows, same hot-key placement
    # (both forms cluster a hot shingle hash on one task). Interleaved
    # same-JVM A/B x4: q_dedup_cascade median 4.92 -> 4.30 s,
    # q_lsh_tuning/q_ssjoin_exact at parity, results identical.
    wk = Window.partitionBy("k")
    wdoc = Window.partitionBy("doc_id").orderBy("df", "k")
    ranked = ex.withColumn("df", F.count(F.lit(1)).over(wk)).select(
        "doc_id", "sz", "k", F.row_number().over(wdoc).alias("pos")
    )
    # plen = sz - ceil(t*sz) + 1; ceil(a/b) = (a + b - 1) div b.
    plen = (
        F.col("sz")
        - F.expr(f"(cast(sz as bigint) * {tn} + {td - 1}) div {td}")
        + F.lit(1)
    )
    pref = ranked.filter(F.col("pos") <= plen).select(
        "doc_id", "sz", "pos", "k"
    )
    a = pref.select(
        F.col("doc_id").alias("id1"),
        F.col("sz").alias("sz1"),
        F.col("pos").alias("pos1"),
        "k",
    )
    b = pref.select(
        F.col("doc_id").alias("id2"),
        F.col("sz").alias("sz2"),
        F.col("pos").alias("pos2"),
        "k",
    )
    # PPJoin positional filter (Xiao et al. WWW'08): J >= t forces
    # overlap o >= o_min = ceil(t*(sz1+sz2)/(1+t)), and at the FIRST
    # common token in the global order no common token precedes either
    # position, so o <= 1 + min(sz1-pos1, sz2-pos2). A true pair's
    # first common token lies inside both prefixes (pos <= sz-o+1 <=
    # plen), where that upper bound >= o >= o_min — so keeping pairs
    # where ANY colliding row passes the bound retains EXACT recall
    # while pruning collisions the size-only filter cannot (late
    # prefix positions with too little tail left to reach o_min).
    o_min = F.expr(
        f"((cast(sz1 as bigint) + sz2) * {tn} + {tn + td - 1})"
        f" div {tn + td}"
    )
    cand = (
        a.join(b, "k")
        .filter(
            (F.col("id1") < F.col("id2"))
            & (F.col("sz2").cast("long") * td >= tn * F.col("sz1").cast("long"))
            & (F.col("sz1").cast("long") * td >= tn * F.col("sz2").cast("long"))
            & (
                F.lit(1)
                + F.least(
                    F.col("sz1") - F.col("pos1"),
                    F.col("sz2") - F.col("pos2"),
                )
                >= o_min
            )
        )
        .select("id1", "id2")
        .distinct()
    )
    s1 = hs_tbl.select(F.col("doc_id").alias("id1"), F.col("hs").alias("h1"))
    s2 = hs_tbl.select(F.col("doc_id").alias("id2"), F.col("hs").alias("h2"))
    exact = set_jaccard(F.col("h1"), F.col("h2"))
    return (
        cand.join(s1, "id1")
        .join(s2, "id2")
        .select(
            "id1",
            "id2",
            F.round(exact, 4).alias("jaccard"),
            exact.alias("jaccard_exact"),
        )
    )


@register(
    "q_dedup_minhash",
    oracle="""
    WITH sp AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
    sh AS (SELECT doc_id,
             CASE WHEN len(w) >= 3
                  THEN list_distinct(list_transform(range(1, len(w) - 1),
                                                    i -> array_to_string(w[i:i+2], ' ')))
                  ELSE [text] END AS s
           FROM sp),
    jc AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
                  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                  / len(list_distinct(list_concat(a.s, b.s))) AS j
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
    SELECT id1, id2, ROUND(j, 4) AS jaccard, TRUE AS est_ok
    FROM jc WHERE j >= 0.5
    """,
    doc="MinHash-LSH near-duplicate pairs over documents, verified with "
    "exact 3-word-shingle Jaccard (pairs with jaccard >= 0.5). "
    "Deterministic: seeded permutations. DIFFERENTIAL ORACLE: DuckDB "
    "computes the ground-truth edge set by brute-force all-pairs Jaccard "
    "(O(n^2) — fine for an oracle, never for the engine); a hash match "
    "therefore proves BOTH shingling parity and 100% LSH recall on every "
    "qualifying pair, plus est_ok pins the 64-perm signature estimate "
    "within 0.2 of exact. tests/test_llm.py adds planted-near-dup recall.",
)
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    # Cut on the UNROUNDED jaccard — the oracle's WHERE j >= 0.5 is
    # unrounded too, and cutting on the 4dp value would differ for
    # pairs in [0.49995, 0.5).
    pairs = minhash_candidate_pairs(d).filter(F.col("jaccard_exact") >= 0.5)
    return pairs.select(
        "id1",
        "id2",
        "jaccard",
        (F.abs(F.col("est_jaccard") - F.col("jaccard")) <= 0.2).alias("est_ok"),
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------


def simhash_signatures_exploded(
    docs: DataFrame, bits: int = 64, portable: bool = False
) -> DataFrame:
    """(doc_id, sim) via explode + per-bit vote sum-aggregates — the scale
    form: each token hashed once, votes partial-aggregated map-side.

    ``portable=True`` hashes tokens with a 60-bit md5-derived value
    (``conv(substr(md5(t),1,15),16,10)``) that an independent engine can
    reproduce bit-for-bit (DuckDB: ``('0x' || substr(md5(t),1,15))::BIGINT``),
    making the whole signature engine-independent and differentially
    checkable. Default xxhash64 is the production fast path (~4x cheaper
    per token); the vote/merge algebra is identical.
    """
    import functools

    tok = F.explode(F.array_distinct(F.split(F.col("text"), " ", -1))).alias("tk")
    if portable:
        h = F.expr("cast(conv(substr(md5(tk), 1, 15), 16, 10) as bigint)")
    else:
        h = F.xxhash64("tk")
    # Deliberately NO spread_scan here (measured r14): warm same-JVM A/B
    # with/without the spread read 1.12 vs 1.17 s at sf0.1 — the vote
    # aggregate and banded join after the shuffle dominate, not the
    # scan-stage token map, so the extra exchange buys nothing (contrast
    # minhash_signatures_exploded, whose per-shingle work is heavier).
    hashed = docs.select("doc_id", tok).select("doc_id", h.alias("h"))
    votes = [
        F.sum(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1))).alias(f"b{b}")
        for b in range(bits)
    ]
    voted = hashed.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"), *votes)
    bit_terms = [
        F.when(
            F.col(f"b{b}") * 2 >= F.col("n"),
            F.shiftleft(F.lit(1).cast("bigint"), b),
        ).otherwise(F.lit(0).cast("bigint"))
        for b in range(bits)
    ]
    sim = functools.reduce(lambda x, y: x.bitwiseOR(y), bit_terms)
    return voted.select("doc_id", sim.alias("sim"))


def hamming_banded_pairs(
    sigs: DataFrame, sig_col: str = "sim", max_hamming: int = 8, bits: int = 64
) -> DataFrame:
    """(id1, id2, hamming) pairs from (doc_id, <sig_col>) bit signatures
    via 4-chunk pigeonhole blocking + Hamming verify.

    Two signatures within Hamming distance 3 must agree on at least one
    of four ``bits/4``-wide chunks (pigeonhole), so chunk-equality
    blocking has FULL recall at distance <= 3 and high recall below
    ``max_hamming``. Shared by the SimHash text near-dup and the
    perceptual-hash (dHash) image near-dup — any 64-bit-or-narrower
    fingerprint family plugs in here. At scale this is ONE shuffle on
    the (chunk_id, chunk_val) key; bucket sizes are bounded by chunk
    selectivity, never all-pairs.
    """
    chunk_bits = bits // 4
    chunk_mask = (1 << chunk_bits) - 1
    s = sigs.select("doc_id", F.col(sig_col).alias("sim"))
    chunks = s.select(
        "doc_id",
        "sim",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_id"),
                        F.shiftright(F.col("sim"), c * chunk_bits)
                        .bitwiseAND(F.lit(chunk_mask))
                        .alias("chunk_val"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("ch"),
    ).select("doc_id", "sim", "ch.chunk_id", "ch.chunk_val")
    left = chunks.select(
        F.col("doc_id").alias("id1"), F.col("sim").alias("sim1"), "chunk_id", "chunk_val"
    )
    right = chunks.select(
        F.col("doc_id").alias("id2"), F.col("sim").alias("sim2"), "chunk_id", "chunk_val"
    )
    return (
        left.join(right, ["chunk_id", "chunk_val"])
        .filter(F.col("id1") < F.col("id2"))
        .select(
            "id1",
            "id2",
            F.bit_count(F.col("sim1").bitwiseXOR(F.col("sim2"))).alias("hamming"),
        )
        # Cut at the Hamming threshold BEFORE the pair dedup: the
        # verify is a map-side bit_count, so filtering first means the
        # distinct's exchange only carries qualifying pairs instead of
        # every chunk-collision candidate (filter∘distinct ≡
        # distinct∘filter on a deterministic projection).
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_near_pairs(
    docs: DataFrame, max_hamming: int = 8, bits: int = 64, portable: bool = False
) -> DataFrame:
    """Near-dup pairs by SimHash: signature build + the shared 4-chunk
    pigeonhole blocking (:func:`hamming_banded_pairs`)."""
    sigs = simhash_signatures_exploded(docs, bits=bits, portable=portable)
    return hamming_banded_pairs(
        sigs, sig_col="sim", max_hamming=max_hamming, bits=bits
    )


@register(
    "q_dedup_simhash",
    oracle="""
    WITH tk AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t
                FROM documents),
    h AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS hv FROM tk),
    v AS (SELECT doc_id, bb.b AS b,
                 SUM(CASE WHEN (hv >> bb.b) & 1 = 1 THEN 1 ELSE 0 END) AS ones,
                 COUNT(*) AS n
          FROM h, (SELECT unnest(range(0, 60)) AS b) bb
          GROUP BY 1, 2),
    sig AS (SELECT doc_id,
                   CAST(SUM(CASE WHEN ones * 2 >= n
                                 THEN (1::BIGINT << CAST(b AS INT)) ELSE 0 END)
                        AS BIGINT) AS sim
            FROM v GROUP BY 1)
    SELECT a.doc_id AS id1, b.doc_id AS id2,
           CAST(bit_count(xor(a.sim, b.sim)) AS INT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sim, b.sim)) <= 3
    """,
    doc="SimHash near-duplicate pairs: 60-bit bit-vote signatures over an "
    "engine-portable md5-derived token hash, 15-bit 4-chunk LSH blocking, "
    "Hamming <= 3 verify. DIFFERENTIAL ORACLE: DuckDB rebuilds the exact "
    "signatures independently and brute-forces all pairs; by the "
    "pigeonhole principle two signatures within Hamming 3 must agree on "
    "one of the four chunks, so the blocked join provably has FULL recall "
    "at the emitted distance and the hash match proves it end-to-end. "
    "Production would swap the token hash to xxhash64 (same algebra, ~4x "
    "cheaper — the default of simhash_near_pairs); Hamming 4-8 operation "
    "uses multi-probe or 8-chunk blocking. Planted-near-dup recall at "
    "Hamming <= 8 is pinned in tests/test_llm.py.",
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return simhash_near_pairs(d, max_hamming=3, bits=60, portable=True)


# --------------------------------------------------------------------------
# n-gram Jaccard (oracle-checkable pair similarity)
# --------------------------------------------------------------------------


@register(
    "q_ngram_jaccard",
    oracle="""
    WITH sh AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   range(1, greatest(length(text) - 1, 2)),
                   i -> substr(text, CAST(i AS INT), 3))) AS shingles
        FROM documents
    )
    SELECT a.doc_id AS id1,
           b.doc_id AS id2,
           ROUND(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.shingles, b.shingles))), 4) AS jaccard
    FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
    """,
    doc="Character-3-gram Jaccard similarity between consecutive doc pairs "
    "— the oracle-checkable member of the near-dup family (set ops via "
    "array_intersect + the inclusion-exclusion union size, fully "
    "JVM-side).",
)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_compactor_spark.llm.text import spread_scan

    # spread_scan (round-11 third adoption wave): the per-row trigram
    # transform is x100+ compute per byte, and the sf0.1 single-file
    # scan ran both join sides' shingle builds on ONE task each.
    d = spread_scan(load(spark, sf_dir, "documents"))
    sh = F.array_distinct(
        F.expr(
            "transform(sequence(1, greatest(length(text) - 2, 1)), i -> substring(text, i, 3))"
        )
    )
    a = d.select(F.col("doc_id").alias("id1"), sh.alias("sh1"))
    b = d.select(F.col("doc_id").alias("id2"), sh.alias("sh2"))
    jac = set_jaccard(F.col("sh1"), F.col("sh2"))
    return (
        a.join(b, F.col("id2") == F.col("id1") + 1)
        .select("id1", "id2", F.round(jac, 4).alias("jaccard"))
    )


# --------------------------------------------------------------------------
# Duplicate clustering: candidate pairs -> connected components -> canonicals
# --------------------------------------------------------------------------


def connected_components(edges: DataFrame, max_iter: int = 25) -> DataFrame:
    """Distributed connected components over undirected (id1, id2) edges.

    Returns (node, component) where component = min node id reachable.
    Min-label propagation with a pointer-doubling hop each round
    (label <- label[label]), so convergence is O(log diameter) rounds,
    not O(diameter) — a 1M-long dup chain resolves in ~20 rounds. Each
    round is one edge-to-label join feeding a min agg (the node's own
    label rides the agg input as a union branch, so no separate
    label-vs-neighbor-min join is needed) plus the label-of-label
    pointer-jump join and a single-scalar convergence probe (sum of
    labels, monotone decreasing).
    The new label table MUST be localCheckpoint'ed every round: the
    pointer-jump step self-joins the round's intermediate, so an
    uncheckpointed plan doubles in size per round (exponential analysis
    cost — measured as a driver OOM by round ~8 with persist() only).
    Only scalars ever reach the driver — the label table itself stays
    distributed, so the loop runs unchanged at lake scale.

    The symmetric edge list is materialized once up front (as GraphX/
    Pregel do): without it, every round would re-execute the upstream
    candidate-pair plan — an LSH or shingle join, the most expensive part
    of the pipeline — instead of re-reading a cached edge table.
    """
    e = edges.select(F.col("id1").alias("src"), F.col("id2").alias("dst"))
    # All checkpoints in this function are LAZY (eager=False): the plan
    # is truncated to a LogicalRDD either way, but materialization is
    # deferred to the next action that already runs — the convergence
    # probe — so each round launches ONE job instead of two
    # (checkpoint-materialize + probe). Measured r14: ~0.3 s/round of
    # job overhead at sf0.1, identical labels.
    sym = e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=False)
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=False)
    )
    # No initial label-sum probe: any edge (a, b) with a < b strictly
    # decreases b's label in round 1, so the pre-loop sum could never
    # equal round 1's and that job was pure overhead (r14). prev_sum
    # None compares equal only to the empty-graph None sum, which
    # breaks round 1 exactly as the probed form did.
    prev_sum = None
    for _ in range(max_iter):
        # min over (own label ∪ neighbor labels) in ONE join + agg: the
        # self-contribution rides the union instead of a separate
        # labels-to-nbr left join (r14: 3 joins/round → 2, identical
        # labels — least(own, min(nbrs)) == min(own ∪ nbrs)).
        # Both per-round joins carry a SHUFFLE_HASH hint on the label
        # side (r15): the build side is a UNIQUE-keyed node table
        # (labels by node, b by b_node), so per-partition hash builds
        # are uniform and bounded — the guide-§3.1 shuffled-hash sweet
        # spot — and each round skips two sort passes the default SMJ
        # paid. Interleaved same-JVM A/B x5 at sf0.1: q_dup_clusters
        # median 8.9 -> 6.2 s (identical labels).
        stepped = (
            sym.join(labels.hint("SHUFFLE_HASH"), sym.dst == labels.node)
            .select(F.col("src").alias("node"), "label")
            .union(labels.select("node", "label"))
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        # Pointer jump: the b side is re-aliased through a select (new
        # expression ids) rather than DataFrame.alias — self-joining the
        # union+agg plan through plain aliases trips a Catalyst
        # attribute-dedup bug ("key not found: node#N") at checkpoint.
        b = stepped.select(
            F.col("node").alias("b_node"), F.col("label").alias("b_label")
        )
        labels = (
            stepped.join(b.hint("SHUFFLE_HASH"), stepped.label == b.b_node, "left")
            .select(
                stepped.node.alias("node"),
                F.coalesce(b.b_label, stepped.label).alias("label"),
            )
            .localCheckpoint(eager=False)
        )
        cur_sum = labels.agg(F.sum("label")).first()[0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels.select("node", F.col("label").alias("component"))


def dedup_clusters(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """(doc_id, component, is_canonical) — the keep/drop decision.

    docs: (doc_id, ...); pairs: (id1, id2) near-dup candidate edges.
    Docs in no edge are their own singleton component. The canonical
    (kept) doc per component is the min doc_id; a real pipeline would
    rank by quality score instead — swap the min for a max_by.
    """
    comp = connected_components(pairs)
    return (
        docs.select("doc_id")
        .join(comp, docs["doc_id"] == comp["node"], "left")
        .select(
            "doc_id",
            F.coalesce("component", F.col("doc_id")).alias("component"),
        )
        .withColumn("is_canonical", F.col("doc_id") == F.col("component"))
    )


@register(
    "q_dup_clusters",
    oracle="""
    WITH sh AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   range(1, greatest(length(text) - 1, 2)),
                   i -> substr(text, CAST(i AS INT), 3))) AS shingles
        FROM documents
    ),
    edges AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2
        FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
        WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
              / len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.55
    ),
    flags AS (
        SELECT d.doc_id,
               CASE WHEN e.id1 IS NULL THEN 1 ELSE 0 END AS starts_run
        FROM documents d LEFT JOIN edges e ON e.id2 = d.doc_id
    ),
    grp AS (
        SELECT doc_id, SUM(starts_run) OVER (ORDER BY doc_id) AS g FROM flags
    )
    SELECT doc_id,
           MIN(doc_id) OVER (PARTITION BY g) AS component,
           doc_id = MIN(doc_id) OVER (PARTITION BY g) AS is_canonical
    FROM grp
    """,
    doc="Dedup clustering: near-dup pairs (char-3-gram Jaccard >= 0.55 on "
    "consecutive docs) -> distributed connected components (pointer-"
    "doubling min-label propagation) -> canonical-doc decision per "
    "component. The consecutive-pair edge set makes the component "
    "structure gaps-and-islands-expressible, so the generic iterative "
    "algorithm IS oracle-checked; tests/test_llm.py additionally proves "
    "it on arbitrary (non-interval) edge topologies.",
)
def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_compactor_spark.llm.text import spread_scan

    d = load(spark, sf_dir, "documents")
    # The per-row trigram transform is x100+ compute per byte; a
    # single-file documents scan runs BOTH join sides' shingle builds
    # on one task each without the spread (q_ngram_jaccard's identical
    # edge join with spread_scan runs ~10x faster — adopted r14).
    ds = spread_scan(d)
    sh = F.array_distinct(
        F.expr(
            "transform(sequence(1, greatest(length(text) - 2, 1)), i -> substring(text, i, 3))"
        )
    )
    a = ds.select(F.col("doc_id").alias("id1"), sh.alias("sh1"))
    b = ds.select(F.col("doc_id").alias("id2"), sh.alias("sh2"))
    jac = set_jaccard(F.col("sh1"), F.col("sh2"))
    pairs = (
        a.join(b, F.col("id2") == F.col("id1") + 1)
        .filter(jac >= 0.55)
        .select("id1", "id2")
    )
    return dedup_clusters(d, pairs)


@register(
    "q_edit_distance",
    oracle="""
    WITH heads AS (
        -- non-ASCII codepoints fold to '?' on BOTH sides first:
        -- DuckDB's levenshtein counts BYTES while Spark's counts
        -- codepoints, so any multi-byte character skews the distance
        -- between engines; after the fold bytes == codepoints and the
        -- distances agree exactly (RE2 and Java regex both match one
        -- non-ASCII codepoint per the hex class below).
        SELECT doc_id, lang,
               substr(regexp_replace(text, '[^\\x00-\\x7F]', '?', 'g'),
                      1, 40) AS head
        FROM documents
    ),
    pairs AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2,
               a.head AS h1, b.head AS h2
        FROM heads a JOIN heads b ON b.doc_id = a.doc_id + 1
    )
    SELECT id1, id2,
           CAST(levenshtein(h1, h2) AS BIGINT) AS edit_dist,
           ROUND(1.0 - CAST(levenshtein(h1, h2) AS DOUBLE)
                 / GREATEST(length(h1), length(h2), 1), 4) AS sim
    FROM pairs
    """,
    doc="Fuzzy near-dup scoring by edit distance: Levenshtein over "
    "40-char heads of consecutive doc-id pairs (the same linear pairing "
    "discipline as q_ngram_jaccard — the all-pairs form is deliberately "
    "absent; MinHash-LSH is the mechanism that FINDS candidate pairs, "
    "and this is the exact verifier you run on them). Bounded-prefix "
    "Levenshtein keeps the per-pair cost O(40^2) regardless of doc size.",
)
def q_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    # ASCII-fold before the distance — see the oracle note (DuckDB
    # levenshtein is byte-based, Spark's codepoint-based).
    heads = d.select(
        "doc_id",
        F.substring(
            F.regexp_replace("text", "[^\\x00-\\x7F]", "?"), 1, 40
        ).alias("head"),
    )
    a = heads.select(F.col("doc_id").alias("id1"), F.col("head").alias("h1"))
    b = heads.select((F.col("doc_id") - 1).alias("id1"), F.col("doc_id").alias("id2"), F.col("head").alias("h2"))
    dist = F.levenshtein("h1", "h2")
    return (
        a.join(b, "id1")
        .select(
            "id1",
            "id2",
            dist.cast("bigint").alias("edit_dist"),
            F.round(
                1.0
                - dist.cast("double")
                / F.greatest(F.length("h1"), F.length("h2"), F.lit(1)),
                4,
            ).alias("sim"),
        )
    )


@register(
    "q_prefix_dups",
    oracle="""
    WITH keyed AS (
        SELECT doc_id, source, substr(text, 1, 40) AS prefix
        FROM documents
    ),
    grp AS (
        SELECT prefix,
               count(*) AS n_docs,
               min(doc_id) AS canonical_id,
               count(DISTINCT source) AS n_sources
        FROM keyed
        GROUP BY prefix
        HAVING count(*) > 1
    )
    SELECT k.doc_id, g.canonical_id, g.n_docs, g.n_sources,
           CAST(k.doc_id = g.canonical_id AS INT) AS is_canonical
    FROM keyed k JOIN grp g ON g.prefix = k.prefix
    """,
    doc="Boilerplate / shared-prefix duplicate detection (the cheap "
    "first pass a crawl pipeline runs before MinHash: repeated "
    "headers, licence blocks, and templated pages collide on their "
    "opening bytes). Block on the first-40-char prefix, keep only "
    "groups of >1, and emit per-doc keep/drop plus how many distinct "
    "sources share the boilerplate. At 100 TB this is one groupBy on "
    "a short uniform string key (hash-partitioned, map-side partial "
    "agg) and a semi-join-shaped re-join of the colliding groups — "
    "no pairwise comparison ever forms, unlike similarity dedup. "
    "Production would hash the prefix (xxhash64) to shrink shuffle "
    "keys; the raw prefix is kept here for oracle transparency.",
)
def q_prefix_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id", "source", F.substring("text", 1, 40).alias("prefix")
    )
    grp = (
        keyed.groupBy("prefix")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("canonical_id"),
            F.countDistinct("source").alias("n_sources"),
        )
        .filter(F.col("n_docs") > 1)
    )
    return keyed.join(grp, "prefix").select(
        "doc_id",
        "canonical_id",
        "n_docs",
        "n_sources",
        (F.col("doc_id") == F.col("canonical_id")).cast("int").alias("is_canonical"),
    )


@register(
    "q_span_dedup",
    oracle="""
    WITH words AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    spans AS (
        SELECT doc_id, CAST(i AS BIGINT) AS span_idx,
               array_to_string(w[(i-1)*10+1:(i-1)*10+10], ' ') AS span
        FROM words, UNNEST(range(1, len(w) // 10 + 1)) AS t(i)
    ),
    o AS (
        SELECT doc_id, span, doc_id * 1048576 + span_idx AS ord
        FROM spans
    ),
    firsts AS (SELECT span, MIN(ord) AS first_ord FROM o GROUP BY span),
    j AS (SELECT o.doc_id, o.ord, f.first_ord
          FROM o JOIN firsts f USING (span))
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(CASE WHEN ord <> first_ord THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dropped,
           FLOOR(CAST(COUNT(*) - SUM(CASE WHEN ord <> first_ord
                                          THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*) * 10000 + 0.5) / 10000 AS kept_frac
    FROM j GROUP BY doc_id
    """,
    doc="C4-style global span-level dedup DECISION (Raffel et al. 2020 "
    "removed every repeated three-sentence span corpus-wide, keeping "
    "only its first occurrence): split each doc into NON-overlapping "
    "10-token spans and drop every span whose exact text occurred "
    "earlier in the corpus — earlier = smaller (doc_id, span_idx), "
    "encoded as the exact bigint doc_id*2^20+span_idx so the "
    "first-occurrence winner is engine-identical integer MIN, never a "
    "float or struct compare (span_idx < 2^20 bounds docs at ~10M "
    "tokens; the upstream chunker enforces far less). Distinct from "
    "q_dup_ngram_coverage (a symmetric per-doc risk SCORE over sliding "
    "distinct 5-grams): this is the asymmetric KEEP/DROP rule, and it "
    "drops within-doc repeats too. Docs under 10 tokens yield no span "
    "and drop out (inner semantics, both engines). Plan: span "
    "generation is a JVM higher-order transform (map-side; "
    "non-overlapping spans mean the exploded row count is ~corpus "
    "tokens / 10, CHEAPER than the corpus itself); one span-keyed "
    "shuffle with map-side partial MIN builds the first-occurrence "
    "table; it joins back behind the measured vocabulary-broadcast "
    "guard (span space is open-ended at 100 TB -> shuffle join); one "
    "per-doc rollup. Never forms document pairs — O(total spans). "
    "Production would key the shuffle on xxhash64(span) to shrink "
    "shuffle bytes; the raw span is kept for oracle transparency.",
)
def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_compactor_spark.llm.text import broadcast_if_bounded, whitespace_tokens

    d = load(spark, sf_dir, "documents")
    words = whitespace_tokens(F.col("text"))
    span_structs = F.when(
        F.size(words) >= 10,
        F.transform(
            F.sequence(F.lit(1), F.floor(F.size(words) / 10).cast("int")),
            lambda i: F.struct(
                i.cast("bigint").alias("span_idx"),
                F.array_join(F.slice(words, (i - 1) * 10 + 1, 10), " ").alias("span"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<span_idx:bigint,span:string>>"))
    spans = (
        d.select("doc_id", F.explode(span_structs).alias("s"))
        .select(
            "doc_id",
            "s.span",
            (F.col("doc_id") * 1048576 + F.col("s.span_idx")).alias("ord"),
        )
    )
    firsts = spans.groupBy("span").agg(F.min("ord").alias("first_ord"))
    j = spans.join(broadcast_if_bounded(firsts), "span")
    dropped = F.sum(F.when(F.col("ord") != F.col("first_ord"), 1).otherwise(0))
    return j.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_spans"),
        dropped.cast("bigint").alias("n_dropped"),
        (
            F.floor(
                (F.count(F.lit(1)) - dropped).cast("double")
                / F.count(F.lit(1))
                * 10000
                + 0.5
            )
            / 10000
        ).alias("kept_frac"),
    )


SUBSTR_W = 15  # sliding-window width in tokens (Lee et al. use 50 BPE tokens)


def sliding_md5_windows(words: Column, w: int) -> Column:
    """``array<struct<pos,h>>`` of width-``w`` sliding token windows:
    pos the 1-based start, h the md5 of the window's space-joined text.
    The shared window generator of the exact-substring family
    (q_substring_dedup, q_eval_contamination): a JVM higher-order
    transform, so window TEXTS never materialize as rows — only the
    32-byte hashes leave the map side. Docs under ``w`` tokens yield an
    empty array (no window, inner semantics downstream)."""
    return F.when(
        F.size(words) >= w,
        F.transform(
            F.sequence(F.lit(1), (F.size(words) - F.lit(w - 1)).cast("int")),
            lambda i: F.struct(
                i.cast("bigint").alias("pos"),
                F.md5(F.array_join(F.slice(words, i, w), " ")).alias("h"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:bigint,h:string>>"))


def merged_interval_coverage(sorted_pos: Column, w: int) -> Column:
    """Tokens covered by the UNION of ``[pos, pos+w)`` intervals over an
    ASCENDING-sorted position array — the classic merged-interval fold
    as ONE JVM higher-order aggregate: acc = (last_end, covered); each
    position adds its non-overlapped extension
    ``max(0, pos + w - max(pos, last_end))``. Runs inside a per-doc
    rollup so coverage costs no second pass over the exploded windows
    (a LEAD-window branch would recompute the upstream subtree — the
    unshared-plan-doubling q_doremi_weights documents)."""
    return F.aggregate(
        sorted_pos,
        F.struct(
            F.lit(-1).cast("bigint").alias("last_end"),
            F.lit(0).cast("bigint").alias("cov"),
        ),
        lambda acc, p: F.struct(
            F.greatest(acc.last_end, p + w).alias("last_end"),
            (
                acc.cov
                + F.greatest(p + w - F.greatest(p, acc.last_end), F.lit(0))
            ).alias("cov"),
        ),
        lambda acc: acc.cov,
    )


@register(
    "q_substring_dedup",
    oracle=f"""
    WITH words AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    wins AS (
        SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
               CAST(i AS BIGINT) AS pos,
               md5(array_to_string(w[i : i + {SUBSTR_W - 1}], ' ')) AS h
        FROM words, UNNEST(range(1, len(w) - {SUBSTR_W - 2})) AS t(i)
    ),
    o AS (
        SELECT doc_id, n_tokens, pos, h,
               {{'d': doc_id, 'p': pos}} AS at
        FROM wins
    ),
    firsts AS (SELECT h, MIN(at) AS first_at FROM o GROUP BY h),
    j AS (SELECT o.*, f.first_at FROM o JOIN firsts f USING (h)),
    per_doc AS (
        SELECT doc_id, MAX(n_tokens) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_windows,
               CAST(SUM(CASE WHEN at <> first_at THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_dup_windows
        FROM j GROUP BY doc_id
    ),
    dropped AS (
        SELECT doc_id, pos,
               LEAD(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
        FROM j WHERE at <> first_at
    ),
    cov AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN nxt IS NULL OR nxt - pos >= {SUBSTR_W}
                             THEN {SUBSTR_W} ELSE nxt - pos END)
                    AS BIGINT) AS dup_tokens
        FROM dropped GROUP BY doc_id
    )
    SELECT p.doc_id, p.n_tokens, p.n_windows, p.n_dup_windows,
           CAST(COALESCE(c.dup_tokens, 0) AS BIGINT) AS dup_tokens,
           FLOOR(CAST(COALESCE(c.dup_tokens, 0) AS DOUBLE)
                 / CAST(p.n_tokens AS DOUBLE) * 10000 + 0.5) / 10000
               AS dup_frac
    FROM per_doc p LEFT JOIN cov c USING (doc_id)
    """,
    doc="Exact-substring duplication measurement over SLIDING fixed-width "
    "token windows — the Spark-native form of Lee et al. 2022's "
    "ExactSubstr dedup ('Deduplicating Training Data Makes Language "
    "Models Better': drop every ≥50-token span whose exact text occurs "
    "elsewhere in the corpus, keeping the first occurrence). Their "
    "suffix-array oracle is a single-machine structure; the "
    "shuffle-native equivalent slides a width-15 window one token at a "
    "time (every duplicated run of ≥W tokens is exactly a run of "
    "duplicated windows), marks every window whose text occurred at a "
    "lexicographically smaller (doc_id, pos) — ordered as a STRUCT "
    "MIN on both engines, not q_span_dedup's packed bigint, whose "
    "2^20-position headroom a sliding per-token window would exhaust "
    "on a 1M-token document — and, per doc, MERGES the dropped "
    "windows' overlapping [pos, pos+W) intervals into the count of "
    "tokens inside duplicated substrings, folded inside the SAME "
    "doc_id rollup (sorted dropped-position array + one JVM "
    "higher-order aggregate; a second LEAD-window branch would "
    "recompute the explode+join subtree — measured 2x wall clock). Distinct from q_span_dedup (NON-overlapping spans "
    "miss duplicates straddling span boundaries; this can't) and from "
    "q_dup_ngram_coverage (symmetric distinct-5-gram risk score; this "
    "is the asymmetric keep-first DECISION measure). Windows are keyed "
    "by md5 on BOTH engines, so the wide shuffle moves 32-byte keys — "
    "at 100 TB the span texts (15x corpus bytes if shipped raw) never "
    "leave the map side; the join back is behind the measured "
    "vocabulary-broadcast guard (open-ended window space -> shuffle "
    "join). Docs under W tokens have no window and drop out (inner "
    "semantics, both engines); the final per-doc rollup and the "
    "interval merge share one doc_id-keyed exchange each.",
)
def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_compactor_spark.llm.text import (
        broadcast_if_bounded,
        spread_scan,
        whitespace_tokens,
    )

    W = SUBSTR_W
    # ~W md5-hashed windows per token: compute-dense map, spread it.
    d = spread_scan(load(spark, sf_dir, "documents"))
    words = whitespace_tokens(F.col("text"))
    win_structs = sliding_md5_windows(words, W)
    # The exploded window stream feeds BOTH the first-occurrence agg
    # (materialized by the guard's eager count) and the probe join —
    # without a cache the per-token window md5 pass runs twice.
    # persist_tracked runs it once (the q_winnowing_fingerprint rule).
    # Session-3 sf0.1 A/B read neutral (2.99 vs 3.07); re-measured at
    # the x25 ramp level where the saved pass dominates: median 15.0 ->
    # 11.8 s (0.78x), identical results — the 100 TB-mandate keep.
    from parquet_compactor_spark.llm.text import persist_tracked

    wins = persist_tracked(
        d.select(
            "doc_id",
            F.size(words).cast("bigint").alias("n_tokens"),
            F.explode(win_structs).alias("s"),
        ).select(
            "doc_id",
            "n_tokens",
            F.col("s.pos").alias("pos"),
            F.col("s.h").alias("h"),
            # First-occurrence ordering is the lexicographic STRUCT
            # (doc_id, pos) — not a packed bigint: doc_id*2^20+pos would
            # silently mis-order keep-first claims for any document with
            # >= 2^20 sliding positions (a 1M-token doc is routine in book
            # corpora at 100 TB). Struct MIN is engine-identical (DuckDB
            # orders structs field-by-field) and shuffles 16 bytes/row.
            F.struct(
                F.col("doc_id").alias("d"), F.col("s.pos").alias("p")
            ).alias("at"),
        )
    )
    firsts = wins.groupBy("h").agg(F.min("at").alias("first_at"))
    j = wins.join(broadcast_if_bounded(firsts), "h")
    dup = F.col("at") != F.col("first_at")
    # SINGLE per-doc pass: rollup counts AND the merged-interval
    # coverage in one doc_id-keyed aggregate. The dropped positions are
    # collected sorted (bounded by the doc's own window count — the
    # SAME per-doc memory bound a LEAD window would need) and folded by
    # the shared ``merged_interval_coverage`` aggregate.
    per_doc = j.groupBy("doc_id").agg(
        F.max("n_tokens").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_windows"),
        F.sum(dup.cast("int")).cast("bigint").alias("n_dup_windows"),
        F.sort_array(
            F.collect_list(F.when(dup, F.col("pos")))
        ).alias("dpos"),
    )
    dup_tokens = merged_interval_coverage(F.col("dpos"), W)
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "n_windows",
        "n_dup_windows",
        dup_tokens.alias("dup_tokens"),
        (
            F.floor(
                dup_tokens.cast("double")
                / F.col("n_tokens").cast("double")
                * 10000
                + 0.5
            )
            / 10000
        ).alias("dup_frac"),
    )


WINNOW_K = 5  # k-gram width (tokens) for winnowing
WINNOW_W = 4  # winnowing window: guarantee = W + K - 1 = 8 tokens


@register(
    "q_winnowing_fingerprint",
    oracle=f"""
    WITH words AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    grams AS (
        SELECT doc_id, CAST(len(w) - {WINNOW_K - 1} AS BIGINT) AS n_grams,
               CAST(i AS BIGINT) AS pos,
               md5(array_to_string(w[i : i + {WINNOW_K - 1}], ' ')) AS h
        FROM words, UNNEST(range(1, len(w) - {WINNOW_K - 2})) AS t(i)
    ),
    wins AS (
        SELECT doc_id, n_grams, pos,
               MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW
                            AND {WINNOW_W - 1} FOLLOWING) AS wmin
        FROM grams
    ),
    sel AS (
        SELECT DISTINCT doc_id, n_grams, wmin
        FROM wins WHERE pos <= n_grams - {WINNOW_W - 1}
    ),
    grp AS (
        SELECT wmin, COUNT(DISTINCT doc_id) AS nd FROM sel GROUP BY wmin
    )
    SELECT s.doc_id,
           MAX(s.n_grams) AS n_grams,
           CAST(COUNT(*) AS BIGINT) AS n_selected,
           CAST(SUM(CASE WHEN g.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_shared,
           CAST((CAST(COUNT(*) AS BIGINT) * 1000000)
                // MAX(s.n_grams) AS BIGINT) AS density_ppm
    FROM sel s JOIN grp g ON s.wmin = g.wmin
    GROUP BY s.doc_id
    """,
    doc="Winnowing document fingerprints (Schleimer, Wilkerson & Aiken "
    "2003 — the MOSS algorithm): hash every 5-token k-gram, slide a "
    "w=4 window over the hash sequence and select each window's "
    "MINIMUM hash — the selected set is a position-robust fingerprint "
    "with the guarantee that any shared run of w+k-1 = 8 tokens "
    "produces at least one shared fingerprint, at expected density "
    "2/(w+1) of the grams (the local-min property makes the selection "
    "content-synchronized: insertions only perturb nearby windows, "
    "unlike every-nth-gram sampling). Distinct from q_fingerprint "
    "(one whole-doc hash), q_dup_ngram_coverage (ALL distinct grams — "
    "w+1 times the state), and q_substring_dedup (keep-first "
    "decisions): this is the bounded-size SKETCH a plagiarism / "
    "boilerplate index stores per document. Hashes are md5 strings "
    "MIN-compared lexicographically — engine-identical, no integer "
    "conversion needed. Output per doc: gram count, selected-set "
    "size, fingerprints shared with ANOTHER doc (the boilerplate "
    "signal), and the exact-ppm density (theory: ~400000 at w=4). "
    "Plan: the ENTIRE selection — gram hashing, per-window minima, "
    "the distinct selected set — is per-doc-local JVM higher-order "
    "work and runs on the map side as a single aggregate fold; only "
    "the selected ~2/(w+1) fingerprints ever explode, feeding ONE "
    "fingerprint-keyed agg + guarded join back on 32-byte keys — "
    "never document pairs, no sort window, no corpus-wide distinct "
    "(equal local wall clock to the exploded+windowed form, ~2.5x "
    "less shuffle volume — the number that matters at 100 TB). "
    "Index state is ~2/(w+1) x grams, tunable by w.",
)
def q_winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_compactor_spark.llm.text import (
        broadcast_if_bounded,
        spread_scan,
        whitespace_tokens,
    )

    K, W = WINNOW_K, WINNOW_W
    # one md5 k-gram per token + the fold: compute-dense map, spread it.
    d = spread_scan(load(spark, sf_dir, "documents"))
    words = whitespace_tokens(F.col("text"))
    # The whole selection runs INSIDE the row as ONE JVM aggregate
    # fold over the gram array (evaluated exactly once — a lambda that
    # re-references a derived hash array re-evaluates it per element,
    # no CSE inside higher-order fns: an array_min-over-slice draft
    # measured 165 s of O(n^2) md5 work at sf0.1, a zip_with doubling
    # draft 29 s of constant-factor re-hashing; this fold and the
    # exploded+sort-window draft both measure ~10.3 s locally, and the
    # fold wins on SHUFFLE: only the ~2/(w+1) selected fingerprints
    # ever explode — no per-gram exchange, no doc-keyed sort window,
    # no corpus-wide DISTINCT). acc = (last w-1 hashes, selected so
    # far); each gram emits its window's array_min once w are in hand.
    n_grams = (F.size(words) - F.lit(K - 1)).cast("bigint")

    def step(acc, s):
        nb = F.concat(acc["buf"], F.array(s["h"]))
        full = F.size(nb) == W
        return F.struct(
            F.when(full, F.slice(nb, 2, W - 1)).otherwise(nb).alias("buf"),
            F.when(
                full, F.concat(acc["sel"], F.array(F.array_min(nb)))
            ).otherwise(acc["sel"]).alias("sel"),
        )

    selected = F.aggregate(
        sliding_md5_windows(words, K),
        F.struct(
            F.array().cast("array<string>").alias("buf"),
            F.array().cast("array<string>").alias("sel"),
        ),
        step,
        lambda acc: F.array_distinct(acc["sel"]),
    )
    # The selected-fingerprint explode sits on top of the expensive
    # per-doc md5 fold, and BOTH the vocabulary agg (materialized by the
    # guard's eager count) and the probe side of the join consume it —
    # without a cache the fold runs twice per query. persist_tracked
    # (the q_dsir_weights multi-consumer rule) runs it once; the cached
    # rows are the ~2/(w+1)-density selected set (doc_id, n_grams,
    # 32-byte wmin) — strictly narrower than the input text, so the
    # cache is cheaper than the pass it saves at any scale (measured
    # r14 interleaved same-JVM A/B x6: median 2.28 -> 2.11 s at sf0.1).
    from parquet_compactor_spark.llm.text import persist_tracked

    sel = persist_tracked(
        d.select(
            "doc_id",
            n_grams.alias("n_grams"),
            F.explode(selected).alias("wmin"),
        )
    )
    grp = sel.groupBy("wmin").agg(F.countDistinct("doc_id").alias("nd"))
    j = sel.join(broadcast_if_bounded(grp), "wmin")
    return (
        j.groupBy("doc_id")
        .agg(
            F.max("n_grams").alias("n_grams"),
            F.count(F.lit(1)).cast("bigint").alias("n_selected"),
            F.sum((F.col("nd") >= 2).cast("int")).cast("bigint").alias(
                "n_shared"
            ),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_selected",
            "n_shared",
            F.expr("CAST((n_selected * 1000000) div n_grams AS BIGINT)").alias(
                "density_ppm"
            ),
        )
    )


@register(
    "q_paragraph_dedup",
    oracle="""
    WITH words AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    paras AS (
        SELECT doc_id,
               md5(trim(regexp_replace(
                   lower(array_to_string(w[(i-1)*30+1:(i-1)*30+30], ' ')),
                   '[^a-z0-9]+', ' ', 'g'))) AS ph
        FROM words,
             UNNEST(range(1, (len(w) + 29) // 30 + 1)) AS t(i)
    ),
    grp AS (
        SELECT ph, COUNT(DISTINCT doc_id) AS nd FROM paras GROUP BY ph
    )
    SELECT p.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_paras,
           CAST(SUM(CASE WHEN g.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_boiler,
           FLOOR(CAST(COUNT(*) - SUM(CASE WHEN g.nd >= 2 THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*) * 10000 + 0.5) / 10000
               AS kept_frac
    FROM paras p JOIN grp g USING (ph)
    GROUP BY p.doc_id
    """,
    doc="CCNet-style cross-document paragraph dedup DECISION (Wenzek et "
    "al. 2020 hash every normalized paragraph across the shard and drop "
    "the duplicated ones — repeated paragraphs across DIFFERENT pages "
    "are near-always boilerplate: headers, licence blocks, nav text). "
    "Paragraphs here are non-overlapping 30-token chunks INCLUDING the "
    "ragged tail, case-folded and punctuation-collapsed before hashing "
    "(CCNet normalizes before hashing; the md5 is the join key, so "
    "shuffle bytes stay 16-byte-fixed no matter how long paragraphs "
    "get). Distinct from q_span_dedup (asymmetric KEEP-FIRST of every "
    "repeated raw 10-token span, within-doc repeats included) and from "
    "q_dup_ngram_coverage (symmetric risk SCORE over sliding 5-grams): "
    "this drops EVERY occurrence of a paragraph seen in >= 2 distinct "
    "documents — the boilerplate rule, where no copy is the 'original'. "
    "Plan: one map-side explode (~tokens/30 rows, cheaper than the "
    "corpus), one hash-keyed agg with map-side partial countDistinct, "
    "join-back behind the measured vocabulary-broadcast guard "
    "(paragraph space is open-ended at 100 TB -> shuffle join), one "
    "per-doc rollup. Never forms document pairs — O(total paragraphs). "
    "Reference parity note: the reference engine "
    "(parquet_compactor.py) has no text operators; this is north-star "
    "surface per SURVEY.md SS2B.",
)
def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_compactor_spark.llm.text import broadcast_if_bounded, whitespace_tokens

    d = load(spark, sf_dir, "documents")
    words = whitespace_tokens(F.col("text"))
    n_paras = F.floor((F.size(words) + 29) / 30).cast("int")
    paras = F.transform(
        F.sequence(F.lit(1), n_paras),
        lambda i: F.md5(
            F.trim(
                F.regexp_replace(
                    F.lower(F.array_join(F.slice(words, (i - 1) * 30 + 1, 30), " ")),
                    "[^a-z0-9]+",
                    " ",
                )
            )
        ),
    )
    # Same two-consumer shape as q_winnowing_fingerprint: the paragraph
    # md5 explode feeds the guard's eager vocabulary count AND the probe
    # join — persist it so the tokenize+hash pass runs once. Cached rows
    # are one 32-byte hash per 30 tokens, far narrower than the text
    # (measured r14 interleaved A/B x6: median 0.96 -> 0.85 s at sf0.1).
    from parquet_compactor_spark.llm.text import persist_tracked

    p = persist_tracked(d.select("doc_id", F.explode(paras).alias("ph")))
    grp = p.groupBy("ph").agg(F.countDistinct("doc_id").alias("nd"))
    j = p.join(broadcast_if_bounded(grp), "ph")
    boiler = F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0))
    return j.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_paras"),
        boiler.cast("bigint").alias("n_boiler"),
        (
            F.floor(
                (F.count(F.lit(1)) - boiler).cast("double")
                / F.count(F.lit(1))
                * 10000
                + 0.5
            )
            / 10000
        ).alias("kept_frac"),
    )


# --------------------------------------------------------------------------
# Incremental (cross-snapshot) MinHash near-dup
# --------------------------------------------------------------------------


@register(
    "q_minhash_incremental",
    oracle="""
    WITH sp AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
    sh AS (SELECT doc_id,
             CASE WHEN len(w) >= 3
                  THEN list_distinct(list_transform(range(1, len(w) - 1),
                                                    i -> array_to_string(w[i:i+2], ' ')))
                  ELSE [text] END AS s
           FROM sp),
    jc AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
                  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                  / len(list_distinct(list_concat(a.s, b.s))) AS j
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           WHERE a.doc_id % 3 = 0 OR b.doc_id % 3 = 0)
    SELECT id1, id2, ROUND(j, 4) AS jaccard,
           CASE WHEN id1 % 3 = 0 AND id2 % 3 = 0 THEN 'new-new'
                ELSE 'new-old' END AS pair_type,
           TRUE AS est_ok
    FROM jc WHERE j >= 0.5
    """,
    doc="INCREMENTAL cross-snapshot MinHash near-dup: dedup a newly "
    "ingested shard (snapshot convention shared with q_snapshot_delta: "
    "new = doc_id % 3 = 0, old = the prior snapshot) against the "
    "existing corpus WITHOUT re-pairing old x old — the production "
    "shape of continuous corpus growth, where each ingest must only "
    "pay for its own documents. The LSH band-bucket join's LEFT side "
    "is restricted to new-shard buckets, so candidate generation is "
    "O(|new| x bands + collisions); an old x old collision can never "
    "form a pair. At 100 TB the old shard's signatures and band "
    "buckets are a PERSISTED signature store (written once at ingest, "
    "~64 ints + 16 band hashes per doc — orders of magnitude narrower "
    "than the corpus) and only the new shard is shingled per batch; "
    "here both sides recompute from the single fixture table for "
    "self-containment, sharing one scan via ReusedExchange. "
    "DIFFERENTIAL ORACLE: DuckDB brute-forces ground truth over every "
    "pair touching the new shard (O(n^2) fine for an oracle, never "
    "for the engine), so a hash match proves 100% LSH recall on the "
    "incremental shape; est_ok pins the 64-perm estimate within 0.2 "
    "of exact. Builds on q_dedup_minhash's helpers (llm/dedup.py:128); "
    "reference parity note: the reference engine (parquet_compactor.py) "
    "has no text operators — north-star surface per SURVEY.md SS2B.",
)
def q_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    is_new = F.col("doc_id") % 3 == 0

    shingle_sets = d.select("doc_id", word_shingles(F.col("text")).alias("shingles"))
    sigs = minhash_signatures_exploded(d).join(shingle_sets, "doc_id")

    buckets = sigs.select(
        "doc_id",
        F.posexplode(lsh_band_hashes(F.col("sig"))).alias("band", "band_hash"),
    )
    # Probe side = NEW docs only; build side = the full bucket index.
    # old x old bucket collisions never become candidates.
    new_buckets = buckets.filter(is_new).select(
        F.col("doc_id").alias("nid"), "band", "band_hash"
    )
    all_buckets = buckets.select(F.col("doc_id").alias("oid"), "band", "band_hash")
    pairs = (
        new_buckets.join(all_buckets, ["band", "band_hash"])
        .filter(F.col("nid") != F.col("oid"))
        .select(
            F.least("nid", "oid").alias("id1"),
            F.greatest("nid", "oid").alias("id2"),
        )
        .distinct()
    )

    s1 = sigs.select(
        F.col("doc_id").alias("id1"),
        F.col("sig").alias("sig1"),
        F.col("shingles").alias("sh1"),
    )
    s2 = sigs.select(
        F.col("doc_id").alias("id2"),
        F.col("sig").alias("sig2"),
        F.col("shingles").alias("sh2"),
    )
    est = F.aggregate(
        F.zip_with(F.col("sig1"), F.col("sig2"), lambda a, b: (a == b).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    ) / F.lit(NUM_PERM)
    exact = set_jaccard(F.col("sh1"), F.col("sh2"))
    # Cut on the UNROUNDED jaccard (round-then-filter bug class).
    return (
        pairs.join(s1, "id1")
        .join(s2, "id2")
        .withColumn("jx", exact)
        .filter(F.col("jx") >= 0.5)
        .select(
            "id1",
            "id2",
            F.round("jx", 4).alias("jaccard"),
            F.when(
                (F.col("id1") % 3 == 0) & (F.col("id2") % 3 == 0), "new-new"
            )
            .otherwise("new-old")
            .alias("pair_type"),
            (F.abs(est - F.col("jx")) <= 0.2).alias("est_ok"),
        )
    )


@register(
    "q_normalized_dedup",
    oracle="""
    WITH c AS (
        SELECT doc_id,
               trim(regexp_replace(regexp_replace(lower(
                   regexp_replace(text, '[^ -~]', ' ', 'g')),
                   '[^a-z0-9]+', ' ', 'g'), ' +', ' ', 'g')) AS canon
        FROM documents WHERE text IS NOT NULL
    ),
    keyed AS (
        SELECT doc_id,
               array_to_string(
                   list_filter(string_split(canon, ' '),
                               x -> x <> '')[1:10], ' ') AS head,
               canon
        FROM c WHERE canon <> ''
    ),
    g AS (
        SELECT md5(head) AS head_md5,
               COUNT(*) AS n_copies,
               MIN(doc_id) AS exemplar_doc,
               CAST(COUNT(DISTINCT md5(canon)) AS BIGINT) AS n_full_forms
        FROM keyed GROUP BY md5(head)
    )
    SELECT substr(head_md5, 1, 8) AS form_key, n_copies, exemplar_doc,
           n_full_forms
    FROM g WHERE n_copies >= 2
    ORDER BY n_copies DESC, form_key LIMIT 15
    """,
    doc="Normalized-form dedup — the standard canonicalization stage "
    "between byte-exact and fuzzy dedup (Dolma and RefinedWeb both "
    "dedup on a lowercased/punctuation-stripped/whitespace-collapsed "
    "form to catch trivially reformatted copies byte-exact hashing "
    "misses). Canonical form: fold non-printable-ASCII to space FIRST "
    "(so ASCII-only lowercasing is engine-identical — unicode case "
    "folding is not), lowercase, collapse every non-alphanumeric run "
    "to one space, trim; the dedup key is the form's first 10 tokens "
    "(templated pages and boilerplate headers collide on their "
    "opening content even when tails differ). Reports the top-15 "
    "duplicated keys by copy count with the kept exemplar (min "
    "doc_id) and how many DISTINCT full canonical forms share the key "
    "(n_full_forms = 1 means exact normalized copies; > 1 means "
    "same-head near-dups a MinHash pass should adjudicate). Ties "
    "break by form key. Plan: map-only canonicalization + md5, ONE "
    "two-level hash agg keyed by the 16-byte head digest — (head, "
    "full-form) partial counts then per-head rollup, avoiding the "
    "count+countDistinct single-agg Expand rewrite (the "
    "q_approx_stats pathology class) — then TakeOrderedAndProject's "
    "bounded heap; fixed-width shuffle rows regardless of document "
    "size (the q_dedup_exact discipline, dedup.py:53), O(docs), "
    "never pairs, scan-bound at 100 TB.",
)
def q_normalized_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    canon = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.lower(F.regexp_replace(F.col("text"), "[^ -~]", " ")),
                "[^a-z0-9]+",
                " ",
            ),
            " +",
            " ",
        )
    )
    c = d.select("doc_id", canon.alias("canon")).filter(F.col("canon") != "")
    head = F.concat_ws(
        " ",
        F.slice(F.filter(F.split(F.col("canon"), " ", -1), lambda x: x != ""), 1, 10),
    )
    keyed = c.select(
        "doc_id",
        F.md5(head).alias("head_md5"),
        F.md5(F.col("canon")).alias("full_md5"),
    )
    per_form = keyed.groupBy("head_md5", "full_md5").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("doc_id").alias("min_doc"),
    )
    g = per_form.groupBy("head_md5").agg(
        F.sum("n").cast("bigint").alias("n_copies"),
        F.min("min_doc").alias("exemplar_doc"),
        F.count(F.lit(1)).cast("bigint").alias("n_full_forms"),
    )
    return (
        g.filter(F.col("n_copies") >= 2)
        .select(
            F.substring("head_md5", 1, 8).alias("form_key"),
            "n_copies",
            "exemplar_doc",
            "n_full_forms",
        )
        .orderBy(F.col("n_copies").desc(), F.col("form_key").asc())
        .limit(15)
    )


@register(
    "q_dedup_survivorship",
    oracle="""
    WITH sh AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   range(1, greatest(length(text) - 1, 2)),
                   i -> substr(text, CAST(i AS INT), 3))) AS shingles
        FROM documents
    ),
    edges AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2
        FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
        WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
              / len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.55
    ),
    flags AS (
        SELECT d.doc_id, d.n_chars,
               CASE WHEN e.id1 IS NULL THEN 1 ELSE 0 END AS starts_run
        FROM documents d LEFT JOIN edges e ON e.id2 = d.doc_id
    ),
    grp AS (
        SELECT doc_id, n_chars,
               SUM(starts_run) OVER (ORDER BY doc_id) AS g
        FROM flags
    )
    SELECT doc_id,
           MIN(doc_id) OVER (PARTITION BY g) AS component,
           FIRST_VALUE(doc_id) OVER (
               PARTITION BY g ORDER BY n_chars DESC, doc_id
           ) AS kept_doc,
           doc_id = FIRST_VALUE(doc_id) OVER (
               PARTITION BY g ORDER BY n_chars DESC, doc_id
           ) AS is_kept
    FROM grp
    """,
    doc="Quality-ranked survivorship over near-dup clusters — the "
    "production form of the keep/drop decision (q_dup_clusters keeps "
    "min doc_id; real pipelines keep the BEST copy — RefinedWeb keeps "
    "the longest, FineWeb the highest-scoring). Same candidate edges "
    "and pointer-doubling connected components as q_dup_clusters "
    "(dedup.py:464), then ONE component-keyed window picks the "
    "survivor by (n_chars DESC, doc_id) — swapping the quality rank "
    "in requires changing only that ORDER BY. Plan: the component "
    "table is node-sized (one row per doc in an edge) and the window "
    "partitions by component — cluster-sized frames, never corpus "
    "windows; singleton docs bypass the window entirely via the "
    "left-join coalesce. The gaps-and-islands oracle proves the "
    "generic iterative algorithm on the interval edge topology; "
    "tests/test_llm.py proves the survivor rule on arbitrary "
    "topologies.",
)
def q_dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from parquet_compactor_spark.llm.text import spread_scan

    d = load(spark, sf_dir, "documents")
    # Spread ONLY the edge-build branches: the trigram transform is
    # compute-dense (see q_dup_clusters) and the single-file scan would
    # run it on one task; the docs/n_chars branch below stays on the
    # raw pushdown-friendly scan.
    ds = spread_scan(d)
    sh = F.array_distinct(
        F.expr(
            "transform(sequence(1, greatest(length(text) - 2, 1)), i -> substring(text, i, 3))"
        )
    )
    a = ds.select(F.col("doc_id").alias("id1"), sh.alias("sh1"))
    b = ds.select(F.col("doc_id").alias("id2"), sh.alias("sh2"))
    jac = set_jaccard(F.col("sh1"), F.col("sh2"))
    pairs = (
        a.join(b, F.col("id2") == F.col("id1") + 1)
        .filter(jac >= 0.55)
        .select("id1", "id2")
    )
    comp = connected_components(pairs)
    docs = d.select("doc_id", "n_chars").join(
        comp, d["doc_id"] == comp["node"], "left"
    ).select(
        "doc_id",
        "n_chars",
        F.coalesce("component", F.col("doc_id")).alias("component"),
    )
    w = Window.partitionBy("component").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    return docs.select(
        "doc_id",
        "component",
        F.first("doc_id").over(w).alias("kept_doc"),
        (F.col("doc_id") == F.first("doc_id").over(w)).alias("is_kept"),
    )


# --------------------------------------------------------------------------
# Content-defined chunking (FastCDC-style) chunk-level dedup
# --------------------------------------------------------------------------

#: Rolling-window width (words) for the CDC boundary test.
CDC_W = 8
#: A position is a chunk boundary when the first hex nibble of the md5 of
#: the CDC_W-word window ENDING there is '0' — boundary probability 1/16,
#: so expected chunk length ~16 words.
CDC_BOUNDARY_NIBBLE = "0"


def cdc_chunks(words: Column) -> Column:
    """``array<struct<n_tok,h>>`` of content-defined chunks of a token
    array — the word-level form of FastCDC/LBFS chunking (Muthitacharoen
    et al. 2001; Xia et al. 2016): a position ``i`` is a cut point iff the
    hash of the fixed-width window ENDING at ``i`` satisfies a mask
    condition, so cut points depend only on local CONTENT, not absolute
    offsets — inserting a sentence shifts every byte downstream, but every
    chunk outside the edit re-aligns and still dedups (the property
    fixed-width q_doc_chunking fundamentally lacks). All JVM higher-order
    expressions: the boundary scan is a ``filter`` over positions, chunk
    spans come from zipping the cut array with its shifted self, and only
    32-byte chunk hashes leave the map side — chunk TEXTS never
    materialize as rows. The mask test compares the md5's first hex
    nibble (string equality — engine-portable, no hex→int conversion).
    Docs shorter than CDC_W words form a single whole-doc chunk."""
    n = F.size(words)
    cuts = F.when(
        n >= CDC_W,
        F.filter(
            F.sequence(F.lit(CDC_W), n),
            lambda i: F.substring(
                F.md5(F.array_join(F.slice(words, i - (CDC_W - 1), CDC_W), " ")),
                1,
                1,
            )
            == F.lit(CDC_BOUNDARY_NIBBLE),
        ),
    ).otherwise(F.array().cast("array<int>"))
    # Cut at i ends a chunk at i; the doc end is always a cut. cuts is
    # ascending (filter preserves sequence order) and n >= last cut, so
    # array_distinct(concat(..)) keeps the sorted invariant.
    ends = F.array_distinct(F.concat(cuts, F.array(n)))
    starts = F.slice(
        F.concat(F.array(F.lit(0)), ends), F.lit(1), F.size(ends)
    )
    return F.zip_with(
        starts,
        ends,
        lambda p, b: F.struct(
            (b - p).cast("bigint").alias("n_tok"),
            F.md5(F.array_join(F.slice(words, p + 1, b - p), " ")).alias("h"),
        ),
    )


@register(
    "q_cdc_chunk_dedup",
    oracle=f"""
    WITH words AS (
        SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
        WHERE text IS NOT NULL
    ),
    pos AS (
        SELECT doc_id, source, i, w[i] AS word,
               CASE WHEN i >= {CDC_W}
                         AND substr(md5(array_to_string(
                                 w[i-{CDC_W - 1}:i], ' ')), 1, 1)
                             = '{CDC_BOUNDARY_NIBBLE}'
                    THEN 1 ELSE 0 END AS b
        FROM words, UNNEST(range(1, len(w) + 1)) AS t(i)
    ),
    ch AS (
        SELECT doc_id, source, i, word,
               COALESCE(SUM(b) OVER (
                   PARTITION BY doc_id ORDER BY i
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS cid
        FROM pos
    ),
    chunks AS (
        SELECT doc_id, source, cid,
               md5(string_agg(word, ' ' ORDER BY i)) AS h,
               CAST(COUNT(*) AS BIGINT) AS n_tok
        FROM ch GROUP BY doc_id, source, cid
    ),
    flagged AS (
        SELECT source, n_tok,
               COUNT(*) OVER (PARTITION BY h) AS copies
        FROM chunks
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN copies > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_shared_chunks,
           ROUND(AVG(CAST(n_tok AS DOUBLE)), 2) AS chunk_tokens_avg,
           ROUND(SUM(CASE WHEN copies > 1 THEN n_tok ELSE 0 END)
                 / CAST(SUM(n_tok) AS DOUBLE), 4) AS shared_token_frac
    FROM flagged GROUP BY source ORDER BY source
    """,
    doc="Content-defined-chunking dedup audit: FastCDC/LBFS-style cut "
    "points (hash of the 8-word window ending at a position masked to "
    "probability 1/16 → ~16-word expected chunks) split every document "
    "into shift-resistant chunks; chunks are deduplicated corpus-wide by "
    "md5 and each source reports its chunk count, token mass, and the "
    "share of chunks/tokens that appear elsewhere verbatim — the "
    "storage-dedup view of corpus redundancy, catching REGION-level "
    "copies (shared boilerplate, quoted paragraphs) that document-hash "
    "dedup misses and doing so cheaper than per-token sliding windows "
    "(q_substring_dedup hashes every position; CDC hashes every position "
    "once but keys the shuffle by ~1/16th as many chunk hashes). "
    "Spark-first: the boundary scan and span assembly are JVM "
    "higher-order array expressions inside one projection (no explode "
    "until finished chunks), the corpus-wide copy count is one window "
    "over the uniform 32-byte hash key, and the per-source rollup is a "
    "20-group hash agg — two shuffles total, both on uniform keys, no "
    "pair formation anywhere. At 100 TB the chunk-hash exchange moves "
    "32-byte keys at ~1/16 token rate and the window state per hash "
    "group is O(copies), so the plan survives arbitrary corpus scale. "
    "The reference engine (parquet_compactor.py) has no dedup surface; "
    "this extends the north-star LLM-curation family.",
)
def q_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_compactor_spark.llm.text import spread_scan

    # NULL-text scope pinned on BOTH engines (hostile-data class: the
    # chunker's size(NULL) = -1 arm would emit a garbage chunk while the
    # oracle's unnest drops the doc).
    d = spread_scan(
        load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    )
    chunks = d.select(
        "source",
        F.explode(cdc_chunks(F.split("text", " ", -1))).alias("c"),
    ).select("source", F.col("c.h").alias("h"), F.col("c.n_tok").alias("n_tok"))
    copies_w = Window.partitionBy("h")
    flagged = chunks.select(
        "source", "n_tok", F.count(F.lit(1)).over(copies_w).alias("copies")
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("n_tok").alias("n_tokens"),
            F.sum(F.when(F.col("copies") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_shared_chunks"),
            F.round(F.avg(F.col("n_tok").cast("double")), 2).alias(
                "chunk_tokens_avg"
            ),
            F.round(
                F.sum(F.when(F.col("copies") > 1, F.col("n_tok")).otherwise(0))
                / F.sum("n_tok").cast("double"),
                4,
            ).alias("shared_token_frac"),
        )
        .orderBy("source")
    )


@register(
    "q_dedup_cascade",
    oracle=r"""
    WITH f AS (
        SELECT doc_id, text,
               doc_id = MIN(doc_id) OVER (PARTITION BY md5(text)) AS keep1
        FROM documents WHERE text IS NOT NULL
    ),
    f2 AS (
        SELECT *,
               keep1 AND doc_id = MIN(CASE WHEN keep1 THEN doc_id END)
                   OVER (PARTITION BY md5(lower(trim(
                       regexp_replace(text, '\s+', ' ', 'g'))))) AS keep2
        FROM f
    ),
    counts AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN keep1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST(SUM(CASE WHEN keep2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
        FROM f2
    ),
    surv AS (
        SELECT doc_id, text, string_split(text, ' ') AS w FROM f2 WHERE keep2
    ),
    sh AS (
        SELECT doc_id,
               CASE WHEN len(w) >= 3
                    THEN list_distinct(list_transform(range(1, len(w) - 1),
                             i -> array_to_string(w[i:i+2], ' ')))
                    ELSE [text] END AS s
        FROM surv
    ),
    rm3 AS (
        SELECT CAST(COUNT(DISTINCT b.doc_id) AS BIGINT) AS r3
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
              / len(list_distinct(list_concat(a.s, b.s))) >= 0.5
    )
    SELECT '1_exact' AS stage, n AS n_in, n - n1 AS n_removed, n1 AS n_out
    FROM counts
    UNION ALL
    SELECT '2_normalized', n1, n1 - n2, n2 FROM counts
    UNION ALL
    SELECT '3_near_dup', n2, r3, n2 - r3 FROM counts, rm3
    """,
    doc="The dedup FUNNEL every production curation pipeline reports: "
    "exact (content md5) → canonical-form (case-fold/whitespace-collapse "
    "fingerprint) → MinHash-LSH near-dup, applied SEQUENTIALLY with "
    "per-stage in/removed/out attribution, so the team sees which stage "
    "buys what (running them independently double-counts: every exact "
    "dup is also a near-dup). Stage-3 removal is the one-hop keep-first "
    "rule (a survivor is dropped iff it near-matches a LOWER-id stage-2 "
    "survivor at exact 3-word-shingle Jaccard >= 0.5 — the unrounded "
    "value, not the displayed 4dp one). Spark-first: stages 1-2 are TWO "
    "window flags over uniform hash partitions computed in one pass "
    "(no joins, no per-stage rescans); stage 3 generates candidates "
    "with the EXACT-recall prefix-filter join (prefix_filter_pairs — "
    "every Jaccard>=0.5 pair collides by construction), never "
    "all-pairs, so equality with the DuckDB oracle's brute-forced "
    "ground truth is STRUCTURAL, not a property of the fixture "
    "(round-12 ADVICE: the earlier banded-MinHash candidates pass only "
    "~65% of borderline j=0.5 pairs per the 1-(1-t^r)^b curve and "
    "matched the oracle only because no fixture pair fell in the gap; "
    "LSH recall is now measured explicitly by q_lsh_tuning instead of "
    "assumed here). The three funnel rows assemble from two 1-row "
    "aggregates via a scalar cross join (allowlisted class) and one "
    "explode. At 100 TB every data-proportional stage is a hash window "
    "or the prefix-hash equi-join; the funnel itself is O(1) rows.",
)
def q_dedup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_compactor_spark.llm.text import normalized_fingerprint, spread_scan

    # NULL-text docs are out of funnel scope on BOTH engines (a NULL
    # shingle fallback would thread NULL through the minhash stage).
    d = spread_scan(
        load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    )
    # Stage flags run over (doc_id, h1, h2) ONLY — the text column never
    # rides the two window exchanges (WindowExec also SORTS each hash
    # partition, so carrying text paid an O(n log n) sort of full rows
    # twice; the narrow form measured 9.8 -> ~7 s at sf0.1, and
    # persisting the text-carrying flags frame instead measured 12-14 s:
    # caching wide rows cost more than recomputing them).
    keyed = d.select(
        "doc_id",
        F.md5("text").alias("h1"),
        normalized_fingerprint(F.col("text")).alias("h2"),
    )
    w1 = Window.partitionBy("h1")
    w2 = Window.partitionBy("h2")
    flags = keyed.select(
        "doc_id",
        "h2",
        (F.col("doc_id") == F.min("doc_id").over(w1)).alias("keep1"),
    ).select(
        "doc_id",
        "keep1",
        (
            F.col("keep1")
            & (
                F.col("doc_id")
                == F.min(F.when(F.col("keep1"), F.col("doc_id"))).over(w2)
            )
        ).alias("keep2"),
    )
    counts = flags.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("keep1").cast("int")).cast("bigint").alias("n1"),
        F.sum(F.col("keep2").cast("int")).cast("bigint").alias("n2"),
    )
    # Survivor TEXT moves exactly once (one doc_id-keyed join), and the
    # result is persist_tracked because the prefix-filter machinery
    # reads it from three branches (prefix explode + both pair-verify
    # sides) — without the materialization each branch recomputes the
    # flag windows AND the join. persist_tracked is the released-guard-
    # cache pattern (q_pagerank's edge table); at lake scale the
    # survivor set would be written out between stages instead.
    from parquet_compactor_spark.llm.text import persist_tracked

    surv = persist_tracked(
        d.select("doc_id", "text").join(
            flags.filter("keep2").select("doc_id"), "doc_id"
        )
    )
    rm3 = (
        prefix_filter_pairs(surv, threshold=0.5)
        .filter(F.col("jaccard_exact") >= 0.5)
        .select("id2")
        .distinct()
        .agg(F.count(F.lit(1)).cast("bigint").alias("r3"))
    )
    n, n1, n2, r3 = F.col("n"), F.col("n1"), F.col("n2"), F.col("r3")
    return (
        counts.crossJoin(rm3)
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit("1_exact").alias("stage"),
                        n.alias("n_in"),
                        (n - n1).alias("n_removed"),
                        n1.alias("n_out"),
                    ),
                    F.struct(
                        F.lit("2_normalized").alias("stage"),
                        n1.alias("n_in"),
                        (n1 - n2).alias("n_removed"),
                        n2.alias("n_out"),
                    ),
                    F.struct(
                        F.lit("3_near_dup").alias("stage"),
                        n2.alias("n_in"),
                        r3.alias("n_removed"),
                        (n2 - r3).alias("n_out"),
                    ),
                )
            ).alias("s")
        )
        .select("s.*")
    )


@register(
    "q_dup_inflation",
    oracle="""
    WITH g AS (
        SELECT source, md5(text) AS h,
               CAST(COUNT(*) AS BIGINT) AS copies,
               CAST(MIN(len(string_split(text, ' '))) AS BIGINT) AS n_tok
        FROM documents WHERE text IS NOT NULL
        GROUP BY source, md5(text)
    )
    SELECT source,
           CAST(SUM(copies * n_tok) AS BIGINT) AS tokens_total,
           CAST(SUM(n_tok) AS BIGINT) AS tokens_distinct,
           CAST(SUM(copies) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_docs,
           CAST((SUM(copies * n_tok) * 1000000) // SUM(n_tok) AS BIGINT)
               AS inflation_micro
    FROM g GROUP BY source ORDER BY source
    """,
    doc="Token-weighted duplication inflation per source — the "
    "'effective dataset size' number data-constrained scaling work "
    "reasons about (Muennighoff et al. 2023: a source at inflation 3x "
    "contributes its distinct tokens for ~3 epochs, with the "
    "diminishing returns that implies): tokens_total / tokens_distinct "
    "where distinct content is keyed by exact md5, in exact integer "
    "micro units. q_dedup_exact reports the copy GROUPS; this weighs "
    "them by token mass and rolls up to the per-source planning "
    "number (inflation 1.0 = every byte unique; the doc-count twin "
    "n_docs/n_distinct_docs rides along to show when duplication is "
    "concentrated in long docs). Plan: one (source, md5) hash agg — "
    "copies of identical text share the token count, so MIN(n_tok) is "
    "exact — then a 20-group rollup; one uniform-keyed shuffle, no "
    "joins, scan-bound at any corpus size.",
)
def q_dup_inflation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_compactor_spark.llm.text import spread_scan

    d = spread_scan(
        load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    )
    g = (
        d.select(
            "source",
            F.md5("text").alias("h"),
            F.size(F.split("text", " ", -1)).cast("bigint").alias("n_tok"),
        )
        .groupBy("source", "h")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("copies"),
            F.min("n_tok").alias("n_tok"),
        )
    )
    return (
        g.groupBy("source")
        .agg(
            F.sum(F.col("copies") * F.col("n_tok")).cast("bigint").alias(
                "tokens_total"
            ),
            F.sum("n_tok").cast("bigint").alias("tokens_distinct"),
            F.sum("copies").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_distinct_docs"),
        )
        .select(
            "source",
            "tokens_total",
            "tokens_distinct",
            "n_docs",
            "n_distinct_docs",
            F.expr(
                "CAST((tokens_total * 1000000) div tokens_distinct AS BIGINT)"
            ).alias("inflation_micro"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# LSH parameter-sweep audit (band/row recall-vs-cost tuning table)
# --------------------------------------------------------------------------

#: The (bands, rows_per_band) grid q_lsh_tuning sweeps — every exact
#: factorization of the standing 64-permutation signature.
LSH_SWEEP_CONFIGS = ((64, 1), (32, 2), (16, 4), (8, 8), (4, 16))


def _lsh_tuning_oracle() -> str:
    perms_values = ", ".join(
        f"({j}, {a}, {b})" for j, (a, b) in enumerate(PERM_COEFFS)
    )

    def caught(b: int, r: int) -> str:
        return (
            f"len(list_filter(range(0, {b}), k -> "
            f"len(list_filter(range(1, {r} + 1), "
            f"i -> g1[k*{r}+i] = g2[k*{r}+i])) = {r})) > 0"
        )

    caught_cols = ",\n           ".join(
        f"COALESCE(CAST(SUM(CASE WHEN {caught(b, r)} THEN 1 ELSE 0 END)"
        f" AS BIGINT), 0) AS c_{b}_{r}"
        for b, r in LSH_SWEEP_CONFIGS
    )
    probe_unions = "\n        UNION ALL\n".join(
        f"""SELECT '{b}x{r}' AS cfg, k,
               array_to_string(list_transform(range(1, {r} + 1),
                   i -> CAST(sig[k*{r}+i] AS VARCHAR)), ',') AS bkey
        FROM sig CROSS JOIN (SELECT unnest(range(0, {b})) AS k)"""
        for b, r in LSH_SWEEP_CONFIGS
    )
    truth_rows = "\n        UNION ALL\n        ".join(
        f"SELECT '{b}x{r}' AS cfg, CAST({b} AS INT) AS bands,"
        f" CAST({r} AS INT) AS rows_per_band, n_true,"
        f" c_{b}_{r} AS n_caught FROM ta"
        for b, r in LSH_SWEEP_CONFIGS
    )
    return f"""
    WITH sp AS (
        SELECT doc_id, text, string_split(text, ' ') AS w FROM documents
        WHERE text IS NOT NULL
    ),
    sh AS (SELECT doc_id,
             CASE WHEN len(w) >= 3
                  THEN list_distinct(list_transform(range(1, len(w) - 1),
                                                    i -> array_to_string(w[i:i+2], ' ')))
                  ELSE [text] END AS s
           FROM sp),
    e AS (SELECT doc_id, unnest(s) AS g FROM sh),
    hh AS (SELECT doc_id,
                  ('0x' || substr(md5(g), 1, 15))::BIGINT % {MERSENNE_31} AS h
           FROM e),
    perms(j, a, b) AS (VALUES {perms_values}),
    mm AS (SELECT doc_id, j, MIN((a * h + b) % {MERSENNE_31}) AS mv
           FROM hh CROSS JOIN perms GROUP BY doc_id, j),
    sig AS (SELECT doc_id, list(mv ORDER BY j) AS sig FROM mm GROUP BY doc_id),
    jc AS (SELECT a.doc_id AS id1, b.doc_id AS id2
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.s, b.s))) >= 0.5),
    ps AS (SELECT jc.id1, jc.id2, s1.sig AS g1, s2.sig AS g2
           FROM jc JOIN sig s1 ON s1.doc_id = jc.id1
                   JOIN sig s2 ON s2.doc_id = jc.id2),
    ta AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true,
           {caught_cols}
           FROM ps),
    pb AS ({probe_unions}),
    pc AS (SELECT cfg, CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS probe_pairs
           FROM (SELECT cfg, k, bkey, COUNT(*) AS n
                 FROM pb GROUP BY cfg, k, bkey)
           GROUP BY cfg),
    tr AS (
        {truth_rows}
    )
    SELECT tr.cfg, tr.bands, tr.rows_per_band, tr.n_true, tr.n_caught,
           CAST(CASE WHEN tr.n_true = 0 THEN 0
                ELSE (tr.n_caught * 1000000) // tr.n_true END AS BIGINT)
               AS recall_ppm,
           pc.probe_pairs
    FROM tr JOIN pc ON tr.cfg = pc.cfg
    """


@register(
    "q_lsh_tuning",
    oracle=_lsh_tuning_oracle(),
    doc="LSH parameter-sweep audit — the recall-vs-cost tuning table "
    "every MinHash dedup deployment sizes its bands with: for each "
    "exact (bands x rows) factorization of the standing 64-permutation "
    "signature, measure (a) RECALL on the true qualifying pair set "
    "(exact 3-word-shingle Jaccard >= 0.5, generated scalably by the "
    "exact-recall prefix_filter_pairs join, NOT by the LSH under test "
    "— the round-12 ADVICE separation: recall is now a measured "
    "quantity, never an assumption baked into another query's oracle) "
    "and (b) JOIN COST as probe_pairs = sum over band buckets of "
    "C(n,2), the candidate probes the config would generate — computed "
    "from bucket sizes alone, no pair join ever forms. Signatures use "
    "the md5-portable shingle hash so the DuckDB oracle replays the "
    "ENTIRE pipeline bit-for-bit: signatures, per-config band-equality "
    "catches, bucket-size probe counts, and the brute-forced ground "
    "truth. Output: one row per config with n_true/n_caught/recall_ppm/"
    "probe_pairs in exact integers. At 100 TB: one signature table "
    "build (explode + 64 partial minima), a bounded-pair truth join, "
    "and per-config bucket COUNT aggs — the sweep adds NO quadratic "
    "stage beyond the truth set itself.",
)
def q_lsh_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_compactor_spark.llm.text import persist_tracked

    d = (
        load(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "text")
    )
    # The signature table feeds 7 branches (both truth-pair sig sides +
    # 5 per-config band explodes): one materialization, the
    # q_dsir_weights multi-consumer rule.
    sigs = persist_tracked(minhash_signatures_exploded(d, portable=True))
    truth = (
        prefix_filter_pairs(d, threshold=0.5)
        .filter(F.col("jaccard_exact") >= 0.5)
        .select("id1", "id2")
    )
    ps = truth.join(
        sigs.select(F.col("doc_id").alias("id1"), F.col("sig").alias("g1")),
        "id1",
    ).join(
        sigs.select(F.col("doc_id").alias("id2"), F.col("sig").alias("g2")),
        "id2",
    )
    caught_aggs = [F.count(F.lit(1)).cast("bigint").alias("n_true")]
    for b, r in LSH_SWEEP_CONFIGS:
        caught = F.expr(
            f"exists(sequence(0, {b - 1}), k -> "
            f"forall(sequence(1, {r}), "
            f"i -> element_at(g1, cast(k*{r}+i as int))"
            f" = element_at(g2, cast(k*{r}+i as int))))"
        )
        caught_aggs.append(
            F.coalesce(F.sum(caught.cast("int")), F.lit(0))
            .cast("bigint")
            .alias(f"c_{b}_{r}")
        )
    ta = ps.agg(*caught_aggs)

    # ONE pass over the signature cache for all configs (r14): concat the
    # per-config band transforms into a single array and explode once —
    # the former per-config union re-scanned the cache and ran its own
    # Generate 5 times for the identical (cfg, k, bkey) row set (guide
    # §1.2 / §2.4: same rows, 1 InMemoryTableScan + 1 explode instead
    # of 5 of each; the groupBy shuffle below is unchanged).
    all_bands = F.concat(
        *[
            F.expr(
                f"transform(sequence(0, {b - 1}), k -> struct("
                f"'{b}x{r}' as cfg, k as k,"
                f" array_join(transform(slice(sig, k*{r}+1, {r}),"
                f" x -> cast(x as string)), ',') as bkey))"
            )
            for b, r in LSH_SWEEP_CONFIGS
        ]
    )
    bands = sigs.select(F.explode(all_bands).alias("bb")).select(
        F.col("bb.cfg").alias("cfg"),
        F.col("bb.k").alias("k"),
        F.col("bb.bkey").alias("bkey"),
    )
    pc = (
        bands.groupBy("cfg", "k", "bkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("cfg")
        .agg(
            F.sum(F.expr("CAST((n * (n - 1)) div 2 AS BIGINT)"))
            .cast("bigint")
            .alias("probe_pairs")
        )
    )
    tr = ta.select(
        "n_true",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(f"{b}x{r}").alias("cfg"),
                        F.lit(b).cast("int").alias("bands"),
                        F.lit(r).cast("int").alias("rows_per_band"),
                        F.col(f"c_{b}_{r}").alias("n_caught"),
                    )
                    for b, r in LSH_SWEEP_CONFIGS
                ]
            )
        ).alias("s"),
    ).select("s.cfg", "s.bands", "s.rows_per_band", "n_true", "s.n_caught")
    return tr.join(pc, "cfg").select(
        "cfg",
        "bands",
        "rows_per_band",
        "n_true",
        "n_caught",
        F.expr(
            "CAST(CASE WHEN n_true = 0 THEN 0"
            " ELSE (n_caught * 1000000) div n_true END AS BIGINT)"
        ).alias("recall_ppm"),
        "probe_pairs",
    )


@register(
    "q_ssjoin_exact",
    oracle="""
    WITH sp AS (
        SELECT doc_id, text, string_split(text, ' ') AS w FROM documents
        WHERE text IS NOT NULL
    ),
    sh AS (SELECT doc_id,
             CASE WHEN len(w) >= 3
                  THEN list_distinct(list_transform(range(1, len(w) - 1),
                                                    i -> array_to_string(w[i:i+2], ' ')))
                  ELSE [text] END AS s
           FROM sp)
    SELECT a.doc_id AS id1, b.doc_id AS id2,
           ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.s, b.s))), 4) AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
          / len(list_distinct(list_concat(a.s, b.s))) >= 0.5
    """,
    doc="EXACT set-similarity join at Jaccard >= 0.5 over 3-word "
    "shingles — the operator q_dedup_minhash approximates, as a "
    "first-class query: prefix_filter_pairs (AllPairs/PPJoin prefix "
    "filtering under the ascending-df global order + t-size filter) "
    "guarantees every qualifying pair collides, so the result is the "
    "complete pair set BY CONSTRUCTION and the brute-force DuckDB "
    "oracle equivalence is structural. Neither Spark nor the reference "
    "ships a set-similarity join primitive; this is the engine's exact "
    "tier (dedup audits, LSH ground truth — q_lsh_tuning's truth "
    "stage), with q_dedup_minhash as the recall-tolerant scale tier. "
    "At 100 TB: one df aggregate + one prefix-hash equi-join + a "
    "narrow hash-set verify; candidate count tracks the corpus's "
    "shared-shingle density (the adversarial dense-vocabulary case is "
    "measured and documented in SCALE.md round-12).",
)
def q_ssjoin_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        load(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "text")
    )
    return (
        prefix_filter_pairs(d, threshold=0.5)
        .filter(F.col("jaccard_exact") >= 0.5)
        .select("id1", "id2", "jaccard")
    )
