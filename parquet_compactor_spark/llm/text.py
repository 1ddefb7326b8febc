"""Text-analysis operators over the ``documents`` table.

Token counting, quality scoring, fingerprinting, language-ID — all as
JVM-side column expressions (regexp/split/length), no Python in the hot
path. Each is embarrassingly parallel (per-row map + one agg shuffle), so
the plans are scale-invariant.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_compactor_spark.registry import load, register

# BPE-ish word/number/punctuation-run tokenizer; same regex dialect
# behavior in Java (Spark) and RE2 (DuckDB).
TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"

# Tiny English stopword inventory for the heuristic scorer.
STOPWORD_REGEX = r"\b(the|a|and|of|to|in|is|it)\b"

#: Every frame persist_tracked has persisted and not yet released.
#: Strong refs on purpose: the cache entry outlives the caller's local
#: variable, so release must too.
_GUARD_CACHES: list[DataFrame] = []


def release_guard_caches() -> int:
    """Unpersist every frame :func:`persist_tracked` has cached so far
    and return how many were released.

    This is the TARGETED alternative to ``spark.catalog.clearCache()``
    for long-lived sessions: it evicts exactly the tracked entries and
    leaves unrelated user caches alone. bench.py / scale_ramp.py call
    it between timed queries so no query's timing reads another's
    cached intermediate. Frames whose session has already stopped are
    skipped silently (their cache died with the session).
    """
    released = 0
    while _GUARD_CACHES:
        df = _GUARD_CACHES.pop()
        try:
            # blocking=True: callers assert/measure immediately after the
            # release (harness cache-isolation, the plan-test persistent-RDD
            # sweep) — the default async unpersist races those checks.
            df.unpersist(blocking=True)
            released += 1
        except Exception:
            pass  # session gone; nothing left to release
    return released


def release_guard_cache(frame: DataFrame) -> bool:
    """Unpersist ONE frame :func:`persist_tracked` returned and stop
    tracking it.

    The per-frame counterpart to :func:`release_guard_caches`, for
    long-lived sessions that want to evict one query's cached
    intermediate when it finishes without touching the others. Returns
    True iff ``frame`` was tracked and released; False for untracked
    frames (releasing twice is a no-op, not an error).
    """
    for i, g in enumerate(_GUARD_CACHES):
        if g is frame:
            del _GUARD_CACHES[i]
            break
    else:
        return False
    try:
        frame.unpersist(blocking=True)
    except Exception:
        return False
    return True


def persist_tracked(df: DataFrame) -> DataFrame:
    """Persist ``df`` (lazily — no job runs here) and track it for
    :func:`release_guard_caches`.

    For intermediate frames a query references from SEVERAL plan
    branches whose subtree AQE does not already run once. AQE reuses a
    query stage only when the branches plan the identical exchange; a
    consumer whose filters the optimizer pushes below the shared
    aggregation (a join's inferred IS NOT NULL included), or that reads
    the subtree with no exchange in between, re-runs it (e.g.
    q_dsir_weights' per-doc scored table feeding the threshold agg, the
    survivor window and the non-survivor branch would scan the corpus
    three times). The cached frame shows up as one InMemoryTableScan
    per consumer instead. Check the final adaptive plan before adding
    one: where every consumer already reads a ``ReusedExchange``, the
    persist only adds a cache build. An aggregation can often be made
    shareable instead, as q_bigram_backoff's count table is: split it
    on an aggregate output rather than a grouping key, and state the
    joins' null checks on the shared frame itself. MEMORY_AND_DISK +
    LRU, so correctness never depends on the cache; release this frame with
    :func:`release_guard_cache`, or all entries with
    :func:`release_guard_caches`.
    """
    df = df.persist()
    _GUARD_CACHES.append(df)
    return df


def spread_scan(df: DataFrame) -> DataFrame:
    """Guarantee at least one task per core for an operator whose
    per-row cost is orders of magnitude above scan cost (per-token
    hashing, K-centroid cosine passes, pair scoring): a narrow scan —
    ``maxPartitionBytes`` proportions partitions to BYTES, so a small
    parquet file is ONE partition — runs the whole compute-dense map
    stage on a single task while the other cores idle (the round-11
    q_knn_classify ramp-cliff root cause: at sf0.1 the single-file
    documents/embeddings scans capped every heavy text/ANN map at one
    task). Driver-side metadata decision: an already-wide scan (the
    100 TB case) passes through untouched, no shuffle added; a narrow
    one pays a trivial round-robin exchange of raw rows to unlock the
    cluster for the expensive map above it."""
    spark = df.sparkSession
    min_parts = spark.sparkContext.defaultParallelism
    # ``df.rdd.getNumPartitions()`` converts the plan to an RDD —
    # ~0.13-0.27 s of driver/py4j work per FRESH DataFrame (measured
    # r14), and the surface makes ~25 such constructor probes per run.
    # For the narrow scan projections this helper documents, the scan's
    # partition count is a function of (session confs, input file set),
    # so the probe is memoized per (input files, parallelism) on the
    # session object (the registry.load memo convention — dies with the
    # session). The memo only steers the spread DECISION: a stale entry
    # can at worst add or skip the perf-only repartition, never change
    # results. Non-file plans (empty inputFiles) probe directly.
    try:
        files = tuple(sorted(df.inputFiles()))
    except Exception:  # pragma: no cover - defensive: plan without files
        files = ()
    if not files:
        if df.rdd.getNumPartitions() < min_parts:
            return df.repartition(min_parts)
        return df
    memo = getattr(spark, "_pcs_spread_memo", None)
    if memo is None:
        memo = {}
        spark._pcs_spread_memo = memo
    key = (files, min_parts)
    n = memo.get(key)
    if n is None:
        n = df.rdd.getNumPartitions()
        memo[key] = n
    if n < min_parts:
        return df.repartition(min_parts)
    return df


def lit_double_array(vals) -> Column:
    """array<double> literal built by parsing ONE expression string.

    ``F.array(*[F.lit(x) for x in vals])`` costs a py4j round trip PER
    ELEMENT — the ANN/PQ model-state arrays (K x dim doubles, codebooks,
    LUTs) built thousands of such literals per query constructor, and
    that driver-side chatter dominated construction time (measured r14:
    q_ivfpq_search construction carried ~1.2k per-element lits). One
    parsed ``array(...)`` expression is a single round trip producing
    the IDENTICAL Literal tree: ``repr(float)`` is the shortest
    round-tripping decimal and Java's ``Double.parseDouble`` recovers
    the exact same IEEE double. Non-finite values fall back to the
    per-element form (their reprs don't parse as SQL literals)."""
    vals = [float(v) for v in vals]
    if not vals:
        return F.expr("CAST(array() AS array<double>)")
    if any(v != v or v in (float("inf"), float("-inf")) for v in vals):
        return F.array(*[F.lit(v) for v in vals])
    return F.expr("array(" + ",".join(f"{v!r}D" for v in vals) + ")")


def lit_long_array(vals) -> Column:
    """array<bigint> literal via ONE parsed expression (see
    :func:`lit_double_array`)."""
    vals = [int(v) for v in vals]
    if not vals:
        return F.expr("CAST(array() AS array<bigint>)")
    return F.expr("array(" + ",".join(f"{v}L" for v in vals) + ")")


def whitespace_tokens(col: Column) -> Column:
    return F.split(col, " ", -1)


def normalized_fingerprint(col: Column) -> Column:
    """The corpus's canonical document identity: md5 of the
    case-folded, whitespace-collapsed, trimmed text. ONE definition
    shared by the snapshot-delta family (q_bloom_delta, the streaming
    fingerprint gate and its batch twin) so the exact gate, its bloom
    pre-filter, and the continuous ingest path can never silently
    compute different identities for the same document. q_snapshot_delta
    (r6-attested source) carries the identical inline expression —
    pinned equal by tests/test_llm.py::test_normalized_fingerprint_is_canonical —
    and unifies onto this helper on its next natural rotation.
    DuckDB oracle twin:
    md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))."""
    return F.md5(F.lower(F.trim(F.regexp_replace(col, r"\s+", " "))))


@register(
    "q_text_stats",
    oracle="""
    SELECT lang,
           COUNT(*)                                   AS n_docs,
           ROUND(AVG(CAST(length(text) AS DOUBLE)), 4) AS avg_chars,
           ROUND(AVG(CAST(len(string_split(text, ' ')) AS DOUBLE)), 4) AS avg_tokens,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
    FROM documents
    GROUP BY lang
    """,
    doc="Per-language corpus statistics: char counts and whitespace token "
    "counts, aggregated. split() is JVM-side; one shuffle on lang.",
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    n_tokens = F.size(whitespace_tokens(F.col("text")))
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg(F.length("text").cast("double")), 4).alias("avg_chars"),
        F.round(F.avg(n_tokens.cast("double")), 4).alias("avg_tokens"),
        F.sum(n_tokens.cast("bigint")).alias("total_tokens"),
    )


@register(
    "q_token_count",
    oracle=f"""
    SELECT lang,
           CAST(SUM(len(regexp_extract_all(text, '{TOKEN_REGEX}'))) AS BIGINT) AS total_bpe_tokens,
           ROUND(AVG(CAST(len(regexp_extract_all(text, '{TOKEN_REGEX}')) AS DOUBLE)), 4) AS avg_bpe_tokens,
           COUNT(*) AS n_docs
    FROM documents
    GROUP BY lang
    """,
    doc="BPE-ish token counting: word/number/punct-run regex tokenizer via "
    "regexp_extract_all — the standard pre-tokenization count used for "
    "training-data budgeting.",
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    n = F.size(F.regexp_extract_all(F.col("text"), F.lit(TOKEN_REGEX), 0))
    return d.groupBy("lang").agg(
        F.sum(n.cast("bigint")).alias("total_bpe_tokens"),
        F.round(F.avg(n.cast("double")), 4).alias("avg_bpe_tokens"),
        F.count(F.lit(1)).alias("n_docs"),
    )


@register(
    "q_token_fertility",
    oracle=f"""
    WITH per_doc AS (
        SELECT lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS words,
               CAST(len(regexp_extract_all(text, '{TOKEN_REGEX}'))
                    AS BIGINT) AS toks,
               CAST(strlen(text) AS BIGINT) AS bytes
        FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(words) AS BIGINT) AS total_words,
           CAST(SUM(toks) AS BIGINT) AS total_tokens,
           CAST(SUM(bytes) AS BIGINT) AS total_bytes,
           CASE WHEN SUM(words) > 0 THEN
               FLOOR(CAST(SUM(toks) AS DOUBLE)
                     / CAST(SUM(words) AS DOUBLE) * 10000 + 0.5) / 10000
           END AS fertility,
           CASE WHEN SUM(toks) > 0 THEN
               FLOOR(CAST(SUM(bytes) AS DOUBLE)
                     / CAST(SUM(toks) AS DOUBLE) * 10000 + 0.5) / 10000
           END AS bytes_per_token
    FROM per_doc
    GROUP BY lang
    """,
    doc="Tokenizer fertility / bytes-per-token audit per language — the "
    "SentencePiece coverage diagnostic every multilingual corpus runs "
    "before fixing a vocabulary (Rust et al. 2021 'How Good is Your "
    "Tokenizer?': fertility = subword tokens emitted per word; a "
    "language paying 2x the tokens of English gets half the effective "
    "context and double the training cost for the same text — the "
    "byte-premium / tokenizer-parity problem). Words are the "
    "whitespace segmentation (q_text_stats' convention), tokens the "
    "BPE-ish regex pre-tokenization (q_token_count's convention), "
    "bytes UTF-8 octets (octet_length / DuckDB strlen — NOT character "
    "length, which hides exactly the multi-byte scripts the audit "
    "exists for). Distinct from q_token_count (raw token budgeting) "
    "and q_mixture_epochs (allocation): this query RELATES the two "
    "tokenizations and the byte economics per language. Ratios are "
    "exact-bigint divisions FLOOR-rounded to 4dp with the identical "
    "IEEE shape in both engines; zero-word / zero-token languages "
    "yield NULL ratios rather than a division error. Plan: per-row "
    "JVM regex counts, ONE lang-keyed hash aggregate with map-side "
    "partials — no joins, no second pass; at 100 TB this is a single "
    "scan-shaped job whose output is |languages| rows.",
)
def q_token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    words = F.size(whitespace_tokens(F.col("text"))).cast("bigint")
    toks = F.size(
        F.regexp_extract_all(F.col("text"), F.lit(TOKEN_REGEX), 0)
    ).cast("bigint")
    nbytes = F.octet_length("text").cast("bigint")
    tw = F.sum(words)
    tt = F.sum(toks)
    tb = F.sum(nbytes)

    def ratio4(num, den):
        return F.when(
            den > 0,
            F.floor(num.cast("double") / den.cast("double") * 10000 + 0.5)
            / 10000,
        )

    return d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        tw.cast("bigint").alias("total_words"),
        tt.cast("bigint").alias("total_tokens"),
        tb.cast("bigint").alias("total_bytes"),
        ratio4(tt, tw).alias("fertility"),
        ratio4(tb, tt).alias("bytes_per_token"),
    )


VOCAB_V = 256  # trained-vocabulary budget for the coverage audit


@register(
    "q_vocab_coverage",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source,
               unnest(regexp_extract_all(text, '{TOKEN_REGEX}')) AS tok
        FROM documents
    ),
    vocab AS (
        SELECT tok FROM (
            SELECT tok, COUNT(*) AS c FROM toks
            WHERE doc_id % 2 = 0 GROUP BY tok
        ) ORDER BY c DESC, tok LIMIT {VOCAB_V}
    ),
    ev AS (
        SELECT t.source, t.tok, v.tok IS NOT NULL AS known
        FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
        WHERE t.doc_id % 2 = 1
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN known THEN 0 ELSE 1 END) AS BIGINT) AS n_oov,
           CAST(COUNT(DISTINCT CASE WHEN NOT known THEN tok END)
                AS BIGINT) AS n_oov_types,
           CAST((CAST(SUM(CASE WHEN known THEN 0 ELSE 1 END) AS BIGINT)
                 * 1000000) // CAST(COUNT(*) AS BIGINT) AS BIGINT)
               AS oov_ppm
    FROM ev GROUP BY source
    """,
    doc="Trained-vocabulary coverage / OOV-rate audit per source — the "
    "companion to q_token_fertility in the tokenizer-prep pair: a "
    "V=256 vocabulary is 'trained' as the top-V tokens by frequency "
    "over the even-doc_id shard (deterministic cut: count DESC, token "
    "ASC — the tie at the boundary is engine-exact), and the held-out "
    "odd shard is scored per source for token coverage: total tokens, "
    "OOV hits, distinct OOV types, and the exact-ppm OOV rate (bigint "
    "div). High OOV for a source means the vocabulary under-serves it "
    "(the byte-fallback blowup SentencePiece coverage reports catch). "
    "Plan: ONE token explode feeds both shards (train branch prunes "
    "doc_id % 2 = 0 below the explode); the vocab cut is a bounded "
    "TakeOrdered heap (V rows — never a global sort of the "
    "vocabulary); the eval probe is a V-row broadcast join; one "
    "source-keyed rollup. At 100 TB: vocabulary state is V rows by "
    "construction, the only wide op is the train-shard term count — "
    "the same saturating vocabulary shuffle as q_zipf_fit's family.",
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "source",
        F.explode(
            F.regexp_extract_all(F.col("text"), F.lit(TOKEN_REGEX), 0)
        ).alias("tok"),
    )
    vocab = (
        toks.filter(F.col("doc_id") % 2 == 0)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("tok"))
        .limit(VOCAB_V)
        .select("tok", F.lit(1).alias("known"))
    )
    ev = toks.filter(F.col("doc_id") % 2 == 1).join(
        F.broadcast(vocab), "tok", "left"
    )
    oov = F.col("known").isNull()
    return (
        ev.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum(oov.cast("int")).cast("bigint").alias("n_oov"),
            F.countDistinct(F.when(oov, F.col("tok"))).cast("bigint").alias(
                "n_oov_types"
            ),
        )
        .select(
            "source",
            "n_tokens",
            "n_oov",
            "n_oov_types",
            F.expr("CAST((n_oov * 1000000) div n_tokens AS BIGINT)").alias(
                "oov_ppm"
            ),
        )
    )


@register(
    "q_quality_score",
    oracle=f"""
    SELECT doc_id,
           length(text) AS n_chars,
           len(string_split(text, ' ')) AS n_tokens,
           ROUND(CAST(length(text) AS DOUBLE) / len(string_split(text, ' ')), 4) AS avg_token_len,
           ROUND(CAST(len(regexp_extract_all(text, '{STOPWORD_REGEX}')) AS DOUBLE)
                 / len(string_split(text, ' ')), 4) AS stopword_ratio,
           CASE
             WHEN len(string_split(text, ' ')) BETWEEN 20 AND 1000
              AND CAST(len(regexp_extract_all(text, '{STOPWORD_REGEX}')) AS DOUBLE)
                  / len(string_split(text, ' ')) > 0.01
             THEN 1 ELSE 0
           END AS keep_flag
    FROM documents
    """,
    doc="Heuristic quality scoring (length band + stopword-density gate) — "
    "the classic pre-training filter shape; pure per-row columnar math.",
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    n_tokens = F.size(whitespace_tokens(F.col("text"))).cast("double")
    stop_hits = F.size(F.regexp_extract_all(F.col("text"), F.lit(STOPWORD_REGEX))).cast(
        "double"
    )
    stop_ratio = stop_hits / n_tokens
    keep = F.when(
        n_tokens.between(20, 1000) & (stop_ratio > 0.01), F.lit(1)
    ).otherwise(F.lit(0))
    return d.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.size(whitespace_tokens(F.col("text"))).alias("n_tokens"),
        F.round(F.length("text").cast("double") / n_tokens, 4).alias("avg_token_len"),
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        keep.alias("keep_flag"),
    )


@register(
    "q_lang_id",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, lang,
               CAST(len(regexp_extract_all(text, '{STOPWORD_REGEX}')) AS DOUBLE)
                 / len(string_split(text, ' ')) AS en_density
        FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN en_density >= 0.05 THEN 'en' ELSE 'unk' END AS pred_lang,
           ROUND(en_density, 4) AS en_density
    FROM scored
    """,
    doc="N-gram/stopword-density language-ID heuristic: density of English "
    "function words → en/unk. (The fixture's lang labels are synthetic "
    "random; the oracle checks the heuristic itself, not label accuracy.)",
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    n_tokens = F.size(whitespace_tokens(F.col("text"))).cast("double")
    density = (
        F.size(F.regexp_extract_all(F.col("text"), F.lit(STOPWORD_REGEX))).cast("double")
        / n_tokens
    )
    return d.select(
        "doc_id",
        "lang",
        F.when(density >= 0.05, "en").otherwise("unk").alias("pred_lang"),
        F.round(density, 4).alias("en_density"),
    )


@register(
    "q_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fingerprint
    FROM documents
    """,
    doc="Document fingerprinting: normalization (lowercase, collapse non-"
    "alphanumerics) + content hash — the join key for cross-corpus exact "
    "dedup after cosmetic edits.",
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    normalized = F.trim(F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9]+", " "))
    return d.select("doc_id", F.md5(normalized).alias("fingerprint"))


@register(
    "q_repetition_ratio",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang, string_split(text, ' ') AS tokens FROM documents
    )
    SELECT doc_id,
           lang,
           CAST(len(tokens) AS BIGINT)                AS n_tokens,
           CAST(len(list_distinct(tokens)) AS BIGINT) AS n_distinct,
           ROUND(CAST(len(list_distinct(tokens)) AS DOUBLE)
                 / len(tokens), 4)                    AS distinct_ratio
    FROM toks
    """,
    doc="Repetition-based quality signal: distinct-token ratio per "
    "document (near-0 = degenerate repetition, the classic low-quality "
    "training-text marker). Pure per-row array math — map-only, no "
    "shuffle at any corpus size.",
)
def q_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = whitespace_tokens(F.col("text"))
    n = F.size(toks)
    nd = F.size(F.array_distinct(toks))
    return d.select(
        "doc_id",
        "lang",
        n.cast("bigint").alias("n_tokens"),
        nd.cast("bigint").alias("n_distinct"),
        F.round(nd.cast("double") / n, 4).alias("distinct_ratio"),
    )


@register(
    "q_whitespace_cleanup",
    oracle="""
    WITH cleaned AS (
        SELECT doc_id, source,
               length(text) AS raw_len,
               length(trim(regexp_replace(text, ' +', ' ', 'g'))) AS clean_len
        FROM documents
    )
    SELECT source,
           COUNT(*)                                    AS n_docs,
           CAST(SUM(raw_len - clean_len) AS BIGINT)    AS chars_removed,
           CAST(SUM(CASE WHEN raw_len <> clean_len THEN 1 ELSE 0 END)
                AS BIGINT)                             AS n_docs_changed
    FROM cleaned
    GROUP BY source
    """,
    doc="Whitespace normalization pass (collapse runs of spaces + trim) "
    "with per-source cleanup accounting — the first stage of any "
    "boilerplate-stripping pipeline. regexp_replace is JVM columnar; "
    "one partial-agg shuffle on source.",
)
def q_whitespace_cleanup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    raw_len = F.length("text")
    clean_len = F.length(F.trim(F.regexp_replace(F.col("text"), " +", " ")))
    return (
        d.select("source", raw_len.alias("_r"), clean_len.alias("_c"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("_r") - F.col("_c")).cast("bigint").alias("chars_removed"),
            F.sum(F.when(F.col("_r") != F.col("_c"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_docs_changed"),
        )
    )


@register(
    "q_char_trigrams",
    oracle="""
    WITH grams AS (
        SELECT lang, text[n : n + 2] AS trigram
        FROM (SELECT lang, text, unnest(range(1, length(text) - 1)) AS n
              FROM documents)
    ),
    counted AS (
        SELECT lang, trigram, COUNT(*) AS n
        FROM grams GROUP BY lang, trigram
    )
    SELECT lang, trigram, n
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
                                       ORDER BY n DESC, trigram) AS rn
          FROM counted)
    WHERE rn <= 5
    """,
    doc="Character-trigram profile: top-5 trigrams per language — the "
    "n-gram frequency table real language-ID models are built from "
    "(q_lang_id's stopword heuristic is the poor man's version). "
    "Spark side: sequence+transform generates the trigram list JVM-side, "
    "explode → two-level agg → per-lang top-k window. The gram explode "
    "is map-side; the only data shuffle carries (lang, trigram) partial "
    "counts.",
)
def q_char_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # one substring per CHARACTER: the densest explode in the text
    # family — spread the scan (see spread_scan).
    d = spread_scan(load(spark, sf_dir, "documents"))
    grams = F.transform(
        F.sequence(F.lit(1), F.length("text") - 2),
        lambda i: F.col("text").substr(i, F.lit(3)),
    )
    counted = (
        d.select("lang", F.explode(grams).alias("trigram"))
        .groupBy("lang", "trigram")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("n"), "trigram")
    return (
        counted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("lang", "trigram", "n")
    )


@register(
    "q_unigram_logprob",
    oracle="""
    WITH terms AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    freq AS (SELECT term, COUNT(*) AS n FROM terms GROUP BY term),
    total AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_total FROM terms)
    SELECT t.doc_id,
           COUNT(*)                                       AS n_tokens,
           ROUND(AVG(ln(freq.n / total.n_total)), 4)      AS avg_logprob
    FROM terms t JOIN freq USING (term) CROSS JOIN total
    GROUP BY t.doc_id
    """,
    doc="Perplexity-proxy quality score: per-document mean unigram "
    "log-probability under the corpus's own unigram model (rare-word-"
    "heavy or OOV-dense documents score low — the classic cheap quality "
    "filter when a real LM is too expensive). The unigram table joins "
    "back onto the exploded tokens; AQE picks the join at runtime from "
    "the vocabulary's measured shuffle bytes (broadcast below "
    "spark.sql.adaptive.autoBroadcastJoinThreshold, shuffle join above "
    "— term space is open-ended at 100 TB); the corpus total is SUM "
    "over the unigram table (identical value to counting the exploded "
    "tokens; it reads the vocabulary agg's reused exchange), a 1-row "
    "scalar crossJoin. Shuffles: vocab agg + per-doc rollup, both "
    "partial-aggregated.",
)
def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    terms = d.select("doc_id", F.explode(whitespace_tokens(F.col("text"))).alias("term"))
    freq = terms.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
    total = freq.agg(F.sum("n").cast("double").alias("n_total"))
    return (
        terms.join(freq, "term")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg(F.log(F.col("n") / F.col("n_total"))), 4).alias("avg_logprob"),
        )
    )


@register(
    "q_perplexity_buckets",
    oracle="""
    WITH terms AS (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
        FROM documents
    ),
    freq AS (SELECT term, COUNT(*) AS n FROM terms GROUP BY term),
    total AS (SELECT CAST(SUM(n) AS DOUBLE) AS n_total FROM freq),
    perdoc AS (
        SELECT t.doc_id, t.lang,
               COUNT(*) AS n_tokens,
               SUM(CAST(FLOOR(ln(f.n / total.n_total) * 1000000 + 0.5)
                        AS BIGINT)) AS lp_sum
        FROM terms t JOIN freq f USING (term) CROSS JOIN total
        GROUP BY t.doc_id, t.lang
    ),
    ranked AS (
        SELECT doc_id, lang, n_tokens,
               NTILE(3) OVER (
                   PARTITION BY lang
                   ORDER BY CAST(lp_sum AS DOUBLE) / n_tokens DESC, doc_id
               ) AS b
        FROM perdoc
    )
    SELECT doc_id, lang, n_tokens,
           CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
               AS bucket
    FROM ranked
    """,
    doc="CCNet-style perplexity bucketing (Wenzek et al. 2020 split each "
    "language's crawl into head/middle/tail thirds by LM perplexity and "
    "train preferentially on the head): each document's perplexity "
    "proxy is its mean unigram log-probability under the corpus's own "
    "unigram model, and NTILE(3) per language assigns the tier. "
    "Engine-exactness: per-term log-probs are floor-rounded to integer "
    "MICRO-units on the vocabulary side, so the per-doc sum is exact "
    "BIGINT under any partitioning, and the ranking key is ONE IEEE "
    "divide of identical operands (sum/len) with doc_id tiebreak — the "
    "same discipline as q_dsir_weights. Plan: one token explode feeds "
    "the vocabulary agg (AQE broadcasts it or shuffle-joins it at "
    "runtime from its measured bytes); corpus total reduces over the "
    "same vocab exchange (1-row broadcast, reused); one per-doc "
    "rollup; one per-LANG window — partitions are languages, so the "
    "sort parallelizes across them, and at 100 TB the tier cut swaps "
    "for two approx-percentile thresholds per language (the same swap "
    "documented for q_dsir_weights' top-k). Output is integers and "
    "labels only — no float column crosses the engine boundary. "
    "Reference parity note: the reference engine has no text "
    "operators; north-star surface per SURVEY.md SS2B.",
)
def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    terms = d.select(
        "doc_id", "lang", F.explode(whitespace_tokens(F.col("text"))).alias("term")
    )
    freq = terms.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
    total = freq.agg(F.sum("n").cast("double").alias("n_total"))
    lp_micro = F.floor(
        F.log(F.col("n") / F.col("n_total")) * 1000000 + 0.5
    ).cast("bigint")
    perdoc = (
        terms.join(freq, "term")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(lp_micro).alias("lp_sum"),
        )
    )
    w = Window.partitionBy("lang").orderBy(
        (F.col("lp_sum").cast("double") / F.col("n_tokens")).desc(),
        F.col("doc_id").asc(),
    )
    b = F.ntile(3).over(w)
    return perdoc.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.when(b == 1, "head").when(b == 2, "middle").otherwise("tail").alias("bucket"),
    )


@register(
    "q_bigram_backoff",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS w
        FROM documents WHERE text IS NOT NULL
    ),
    bg AS (
        SELECT doc_id, p.w1 AS w1, p.w2 AS w2
        FROM (SELECT doc_id,
                     unnest(list_transform(range(1, len(w)),
                                           i -> {'w1': w[i], 'w2': w[i+1]})) AS p
              FROM t WHERE len(w) >= 2)
    ),
    uni AS (
        SELECT term, COUNT(*) AS n_u
        FROM (SELECT unnest(w) AS term FROM t WHERE doc_id % 2 = 0)
        GROUP BY term
    ),
    bi AS (
        SELECT w1, w2, COUNT(*) AS n_b
        FROM bg WHERE doc_id % 2 = 0 GROUP BY w1, w2
    ),
    tot AS (SELECT CAST(SUM(n_u) AS DOUBLE) AS n_train FROM uni)
    SELECT b.doc_id,
           COUNT(*) AS n_bigrams,
           CAST(SUM(CASE WHEN bi.n_b IS NULL AND u2.n_u IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_backoff,
           CAST(SUM(CASE WHEN bi.n_b IS NULL AND u2.n_u IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           CAST(SUM(CAST(FLOOR(
               CASE WHEN bi.n_b IS NOT NULL
                    THEN CAST(bi.n_b AS DOUBLE) / u1.n_u
                    WHEN u2.n_u IS NOT NULL
                    THEN 0.4 * (CAST(u2.n_u AS DOUBLE) / tot.n_train)
                    ELSE 0.0 END * 1000000 + 0.5) AS BIGINT))
                AS BIGINT) AS score_micro
    FROM bg b
    LEFT JOIN bi ON b.w1 = bi.w1 AND b.w2 = bi.w2
    LEFT JOIN uni u1 ON b.w1 = u1.term
    LEFT JOIN uni u2 ON b.w2 = u2.term
    CROSS JOIN tot
    GROUP BY b.doc_id
    """,
    doc="Stupid-Backoff bigram LM scoring (Brants et al. 2007, 'Large "
    "Language Models in Machine Translation' — the distributed-counts "
    "LM built exactly this way over MapReduce): the LM trains on the "
    "even-doc_id shard (the curated-reference-corpus analog — CCNet "
    "scores the crawl with an LM trained on Wikipedia, never on the "
    "crawl itself) and scores EVERY document's bigrams with "
    "S(w2|w1) = n(w1 w2)/n(w1) when the bigram was seen in training, "
    "else the backoff 0.4 * n(w2)/N_train, else 0 for OOV — no "
    "normalization, which is what makes the estimator embarrassingly "
    "parallel (no per-context denominator sweep beyond the counts "
    "themselves). Engine-exactness: each bigram's score is "
    "floor-rounded to integer micro-units BEFORE the per-doc sum "
    "(integer addition is order-independent under any partitioning; "
    "the divide and the 0.4-multiply are single correctly-rounded IEEE "
    "ops written in the same shape on both engines), so only BIGINTs "
    "cross the engine boundary. Plan: ONE tokenized scan feeds the "
    "bigram explode; the two model tables (train unigrams, train "
    "bigrams) split ONE count aggregation on an aggregate output, so "
    "every consumer reads the same exchange and AQE runs it once, with "
    "no cache; AQE broadcasts them or shuffle-joins them at runtime from "
    "their measured bytes (gram space is open-ended at 100 TB); N_train "
    "reduces over the unigram split (1-row broadcast crossJoin); three "
    "LEFT vocabulary joins (both unigram joins read one broadcast), "
    "then one partial-aggregated per-doc "
    "rollup. Docs with <2 non-empty tokens (and NULL text) have no "
    "bigrams and are scoped out on both engines. Reference parity "
    "note: the reference engine has no text operators; north-star "
    "surface per SURVEY.md SS2B.",
)
def q_bigram_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    ws = F.filter(whitespace_tokens(F.col("text")), lambda x: x != "")
    # Deliberately NO spread_scan (measured r14, interleaved same-JVM
    # A/B x6): median 2.28 s without vs 2.72 s with — the round-robin
    # exchange of token arrays costs more than the explode-stage
    # parallelism buys here (the simhash-signatures finding, same
    # class). Contrast minhash_signatures_exploded, whose per-shingle
    # md5 work is heavy enough to flip the trade.
    toks = d.select("doc_id", ws.alias("ws"))
    pair_expr = F.expr(
        """
        CASE WHEN size(ws) >= 2
        THEN transform(sequence(0, size(ws) - 2),
                       i -> struct(ws[i] AS w1, ws[i + 1] AS w2))
        ELSE CAST(array() AS array<struct<w1: string, w2: string>>) END
        """
    )
    bg = toks.select("doc_id", F.explode(pair_expr).alias("p")).select(
        "doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )
    train = F.col("doc_id") % 2 == 0
    # ONE combined model pass: one explode of concat(unigram structs with
    # w2 = '', pair structs) counts both vocabularies in one aggregation
    # over the train shard. A genuine token is never '' or NULL, so the
    # marker cannot collide with a bigram. Its four consumers (bigrams,
    # the two unigram lookups, N_train) share the aggregation's one
    # exchange only if each plans it identically, and the optimizer
    # pushes a filter on a grouping key below the aggregation. So the
    # split filters on an aggregate output (`uni`), which stays above
    # the exchange, and `cnt` states the joins' null checks on its keys
    # itself: every consumer then pushes the same IS NOT NULLs, and the
    # joins infer no others. Every consumer also reads both aggregate
    # outputs, so column pruning leaves the aggregation whole.
    combo_expr = F.expr(
        """
        concat(
          transform(ws, t -> struct(t AS w1, '' AS w2)),
          CASE WHEN size(ws) >= 2
          THEN transform(sequence(0, size(ws) - 2),
                         i -> struct(ws[i] AS w1, ws[i + 1] AS w2))
          ELSE CAST(array() AS array<struct<w1: string, w2: string>>) END
        )
        """
    )
    cnt = (
        toks.filter(train)
        .select(F.explode(combo_expr).alias("p"))
        .groupBy("p.w1", "p.w2")
        .agg(F.count(F.lit(1)).alias("n"), F.max(F.col("p.w2") == "").alias("uni"))
        .filter(F.col("w1").isNotNull() & F.col("w2").isNotNull())
    )
    uni = cnt.filter(F.col("uni")).select(F.col("w1").alias("term"), F.col("n").alias("n_u"))
    bi = cnt.filter(~F.col("uni")).select("w1", "w2", F.col("n").alias("n_b"))
    tot = uni.agg(F.sum("n_u").cast("double").alias("n_train"))
    # Both lookups join the same frame, so AQE builds one broadcast.
    u1, u2 = uni.alias("u1"), uni.alias("u2")
    scored = (
        bg.join(bi, ["w1", "w2"], "left")
        .join(u1, F.col("w1") == F.col("u1.term"), "left")
        .join(u2, F.col("w2") == F.col("u2.term"), "left")
        .select("doc_id", "n_b", F.col("u1.n_u").alias("c1"), F.col("u2.n_u").alias("c2"))
        .crossJoin(F.broadcast(tot))
    )
    s = (
        F.when(F.col("n_b").isNotNull(), F.col("n_b").cast("double") / F.col("c1"))
        .when(
            F.col("c2").isNotNull(),
            F.lit(0.4) * (F.col("c2").cast("double") / F.col("n_train")),
        )
        .otherwise(F.lit(0.0))
    )
    s_micro = F.floor(s * 1000000 + 0.5).cast("bigint")
    backoff = F.col("n_b").isNull() & F.col("c2").isNotNull()
    oov = F.col("n_b").isNull() & F.col("c2").isNull()
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum(F.when(backoff, 1).otherwise(0)).alias("n_backoff"),
        F.sum(F.when(oov, 1).otherwise(0)).alias("n_oov"),
        F.sum(s_micro).alias("score_micro"),
    )


@register(
    "q_zipf_fit",
    oracle="""
    WITH toks AS (
        SELECT lang,
               unnest(list_filter(string_split(text, ' '), t -> t <> ''))
                   AS term
        FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL
    ),
    vocab AS (SELECT lang, term, COUNT(*) AS cnt FROM toks GROUP BY lang, term),
    ranked AS (
        SELECT lang, cnt,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY cnt DESC, term) AS rnk
        FROM vocab
    ),
    pts AS (
        SELECT lang,
               CAST(FLOOR(ln(CAST(rnk AS DOUBLE)) * 1000 + 0.5) AS BIGINT) AS x,
               CAST(FLOOR(ln(CAST(cnt AS DOUBLE)) * 1000 + 0.5) AS BIGINT) AS y
        FROM ranked WHERE rnk <= 200
    ),
    s AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx
        FROM pts GROUP BY lang HAVING COUNT(*) >= 2
    )
    SELECT lang, n AS n_terms,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE), 4) AS zipf_slope,
           ROUND((CAST(sy AS DOUBLE)
                  - CAST(n * sxy - sx * sy AS DOUBLE)
                    / CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) / 1000.0, 4)
               AS zipf_intercept
    FROM s
    """,
    doc="Zipf rank-frequency fit per language: least-squares slope of "
    "ln(frequency) on ln(rank) over each language's top-200 terms — the "
    "standard corpus-health check (natural text fits slope ~ -1; "
    "boilerplate-heavy or templated crawls flatten it; Piantadosi 2014 "
    "reviews the law). Cross-engine determinism: each ln() is "
    "floor-rounded to MILLI-units immediately (the established "
    "floor-form seam, coarse enough that 1-ulp libm divergence cannot "
    "flip a small-integer ln), then all regression moments are exact "
    "bigint sums and the slope/intercept are single identical IEEE "
    "division chains on both engines. Plan: explode -> two-level hash "
    "agg to the (lang, term) vocabulary (partial map-side), ONE window "
    "over the vocabulary table (corpus-independent size, "
    "vocabulary-bounded — never over docs), rank cutoff 200, then a "
    "per-language moment agg: O(tokens) scan + vocabulary-sized "
    "everything-else at 100 TB. Ties at equal frequency break by term "
    "(binary collation both engines).",
)
def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & F.col("lang").isNotNull()
    )
    toks = d.select(
        "lang",
        F.explode(
            F.filter(whitespace_tokens(F.col("text")), lambda t: t != "")
        ).alias("term"),
    )
    vocab = toks.groupBy("lang", "term").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("lang").orderBy(
        F.col("cnt").desc(), F.col("term").asc()
    )
    ranked = vocab.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= 200
    )
    milli = lambda c: F.floor(F.log(c.cast("double")) * 1000 + 0.5).cast("bigint")
    pts = ranked.select(
        "lang", milli(F.col("rnk")).alias("x"), milli(F.col("cnt")).alias("y")
    )
    s = (
        pts.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
        )
        .filter(F.col("n") >= 2)
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    slope = num / den
    intercept = (
        (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
        / F.col("n").cast("double")
        / F.lit(1000.0)
    )
    return s.select(
        "lang",
        F.col("n").alias("n_terms"),
        F.round(slope, 4).alias("zipf_slope"),
        F.round(intercept, 4).alias("zipf_intercept"),
    )


@register(
    "q_token_entropy",
    oracle="""
    WITH toks AS (
        SELECT source,
               unnest(list_filter(string_split(text, ' '), t -> t <> ''))
                   AS term
        FROM documents WHERE text IS NOT NULL
    ),
    v AS (SELECT source, term, COUNT(*) AS cnt FROM toks GROUP BY source, term),
    tot AS (
        SELECT source, cnt,
               CAST(SUM(cnt) OVER (PARTITION BY source) AS BIGINT) AS n
        FROM v
    ),
    e AS (
        SELECT source, n,
               CAST(FLOOR(CAST(cnt AS DOUBLE)
                          * (ln(CAST(n AS DOUBLE)) - ln(CAST(cnt AS DOUBLE)))
                          / CAST(n AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS h
        FROM tot
    )
    SELECT source,
           MIN(n) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_terms,
           CAST(SUM(h) AS BIGINT) AS entropy_micro
    FROM e GROUP BY source
    """,
    doc="Per-source unigram token entropy H = -sum p ln p — the lexical-"
    "diversity signal curation stacks use to flag templated or "
    "machine-generated sources (low entropy at high volume) before "
    "sampling. Each term's contribution cnt*(ln N - ln cnt)/N is "
    "computed with the IDENTICAL IEEE op chain on both engines and "
    "floor-rounded to integer micro-nats immediately (the established "
    "floor-form seam), so the per-source total is an exact, "
    "order-independent bigint sum; entropy_micro / 1e6 is H in nats, "
    "exp of it the source's unigram perplexity. Plan: explode -> "
    "two-level hash agg to the (source, term) vocabulary (partial "
    "map-side), ONE window sum over the vocabulary table partitioned "
    "by source (vocabulary-sized, saturating — never over docs/tokens), "
    "then a per-source rollup. O(tokens) scan, vocabulary-bounded "
    "everything-else at 100 TB — the q_zipf_fit slope family.",
)
def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = d.select(
        "source",
        F.explode(
            F.filter(whitespace_tokens(F.col("text")), lambda t: t != "")
        ).alias("term"),
    )
    v = toks.groupBy("source", "term").agg(F.count(F.lit(1)).alias("cnt"))
    tot = v.withColumn(
        "n",
        F.sum("cnt").over(Window.partitionBy("source")).cast("bigint"),
    )
    h = F.floor(
        F.col("cnt").cast("double")
        * (F.log(F.col("n").cast("double")) - F.log(F.col("cnt").cast("double")))
        / F.col("n").cast("double")
        * 1000000
        + 0.5
    ).cast("bigint")
    e = tot.select("source", "n", h.alias("h"))
    return e.groupBy("source").agg(
        F.min("n").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        F.sum("h").cast("bigint").alias("entropy_micro"),
    )


@register(
    "q_ttr_hapax",
    oracle="""
    WITH toks AS (
        SELECT source, word
        FROM (SELECT source, string_split(text, ' ') AS w FROM documents),
             UNNEST(w) AS t(word)
    ),
    per_word AS (
        SELECT source, word, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM toks GROUP BY source, word
    )
    SELECT source,
           CAST(SUM(cnt) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hapax,
           ROUND(COUNT(*) / CAST(SUM(cnt) AS DOUBLE), 4) AS ttr,
           ROUND(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 4) AS hapax_rate
    FROM per_word GROUP BY source ORDER BY source
    """,
    doc="Lexical-richness audit per source: type-token ratio and "
    "hapax-legomenon rate from the per-source word-frequency table — "
    "the quick diagnostic separating templated/machine-generated text "
    "(low TTR, few hapaxes) from diverse natural prose, run alongside "
    "q_token_entropy (entropy weights by mass; TTR/hapax expose the "
    "distribution's SUPPORT, which entropy smooths over — a source of "
    "repeated boilerplate plus a long unique tail can show healthy "
    "entropy and still collapse TTR). One (source, word)-keyed hash agg "
    "with map-side partial aggregation, then a 20-group rollup: a "
    "single data-proportional shuffle whose key space is the "
    "vocabulary, uniform under hashing. No windows, no joins — the "
    "shape survives any corpus scale.",
)
def q_ttr_hapax(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread_scan(load(spark, sf_dir, "documents"))
    per_word = (
        d.select("source", F.explode(whitespace_tokens(F.col("text"))).alias("word"))
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        per_word.groupBy("source")
        .agg(
            F.sum("cnt").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_types"),
            F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_hapax"),
        )
        .select(
            "source",
            "n_tokens",
            "n_types",
            "n_hapax",
            F.round(F.col("n_types") / F.col("n_tokens").cast("double"), 4).alias(
                "ttr"
            ),
            F.round(F.col("n_hapax") / F.col("n_types").cast("double"), 4).alias(
                "hapax_rate"
            ),
        )
        .orderBy("source")
    )


@register(
    "q_novelty_curve",
    oracle="""
    WITH m AS (SELECT MAX(doc_id) AS max_id FROM documents),
    words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    db AS (
        SELECT DISTINCT
               CAST(FLOOR(CAST(doc_id * 10 AS DOUBLE) / (m.max_id + 1))
                    AS BIGINT) AS bucket,
               md5(array_to_string(w[i:i+4], ' ')) AS h
        FROM words, m, UNNEST(range(1, greatest(len(w)-4, 0)+1)) AS t(i)
    ),
    fb AS (
        SELECT bucket, MIN(bucket) OVER (PARTITION BY h) AS first_b FROM db
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN bucket = first_b THEN 1 ELSE 0 END) AS BIGINT)
               AS n_new,
           ROUND(SUM(CASE WHEN bucket = first_b THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 4) AS new_frac
    FROM fb GROUP BY bucket ORDER BY bucket
    """,
    doc="N-gram novelty curve — Heaps'-law growth at the 5-gram level: "
    "docs are split into ten ingestion-order slices (doc_id decile via "
    "one 1-row max-id scalar broadcast, allowlisted class) and each "
    "slice reports how many of its distinct 5-grams were never seen in "
    "an earlier slice. The marginal-value-of-data diagnostic behind "
    "data-constrained scaling decisions (Muennighoff et al. 2023: when "
    "the curve flattens, additional crawl re-epochs old n-grams instead "
    "of buying new ones) and the quantitative form of 'is this source "
    "exhausted'. Spark-first: one distinct over (bucket, gram-md5) — a "
    "single hash shuffle on a uniform 32-byte key — then first-seen "
    "slice as a MIN window over the gram-hash partition (same exchange "
    "reused) and a 10-group rollup. No joins, no pairs; at 100 TB the "
    "only data-proportional stage is the distinct.",
)
def q_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from parquet_compactor_spark.llm.curation import word_shingles

    d = spread_scan(load(spark, sf_dir, "documents"))
    maxid = d.agg(F.max("doc_id").alias("max_id"))
    bucket = F.floor(
        (F.col("doc_id") * 10).cast("double") / (F.col("max_id") + 1)
    ).cast("bigint")
    db = (
        d.crossJoin(F.broadcast(maxid))
        .select(
            bucket.alias("bucket"),
            F.explode(word_shingles(F.split("text", " ", -1), 5)).alias("g"),
        )
        .select("bucket", F.md5("g").alias("h"))
        .distinct()
    )
    first_b = F.min("bucket").over(Window.partitionBy("h"))
    return (
        db.select("bucket", (F.col("bucket") == first_b).alias("is_new"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.col("is_new").cast("int")).cast("bigint").alias("n_new"),
            F.round(
                F.sum(F.col("is_new").cast("int"))
                / F.count(F.lit(1)).cast("double"),
                4,
            ).alias("new_frac"),
        )
        .orderBy("bucket")
    )


@register(
    "q_doc_entropy",
    oracle="""
    WITH toks AS (
        SELECT doc_id, word
        FROM (SELECT doc_id, string_split(text, ' ') AS w
              FROM documents WHERE text IS NOT NULL),
             UNNEST(w) AS t(word)
        WHERE word <> ''
    ),
    tf AS (
        SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM toks GROUP BY doc_id, word
    ),
    n AS (
        SELECT doc_id, word, cnt,
               SUM(cnt) OVER (PARTITION BY doc_id) AS n
        FROM tf
    ),
    h AS (
        SELECT doc_id, MIN(n) AS n_tok,
               CAST(SUM(CAST(FLOOR(CAST(cnt AS DOUBLE)
                    * (ln(CAST(n AS DOUBLE)) - ln(CAST(cnt AS DOUBLE)))
                    / CAST(n AS DOUBLE) * 1000000 + 0.5) AS BIGINT))
                    AS BIGINT) AS h_micro
        FROM n GROUP BY doc_id
    )
    SELECT h_micro // 500000 AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(CAST(n_tok AS DOUBLE)), 2) AS avg_tokens,
           CAST(MIN(h_micro) AS BIGINT) AS min_h_micro,
           CAST(MAX(h_micro) AS BIGINT) AS max_h_micro
    FROM h GROUP BY bucket ORDER BY bucket
    """,
    doc="Per-document token-entropy histogram — the repetitive-spam "
    "detector: a document whose token distribution has low Shannon "
    "entropy is boilerplate/keyword-stuffing/generated filler even when "
    "its CORPUS-level statistics look healthy (q_token_entropy measures "
    "the source's aggregate distribution; this measures each DOC's own, "
    "then buckets the corpus into half-nat bands — the shape used as a "
    "Gopher-style quality signal alongside q_repetition_ratio, which "
    "counts literal repeats rather than distributional concentration). "
    "Engine-exactness follows q_token_entropy's convention: each term's "
    "entropy contribution is micro-floored BEFORE the per-doc integer "
    "sum (order-independent), and the half-nat bucket is exact integer "
    "division of micro-nats. Plan: one (doc_id, word) hash agg, a "
    "doc-partitioned window on the same exchange, the per-doc rollup, "
    "then a dozen-group histogram — all keys uniform, no joins; at "
    "100 TB the only data-proportional stage is the term count, the "
    "same shape as every vocabulary pass in this module. Empty tokens "
    "(multi-space runs) and NULL texts are scoped out identically on "
    "both engines.",
)
def q_doc_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = spread_scan(
        load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    )
    toks = d.select(
        "doc_id",
        F.explode(
            F.filter(whitespace_tokens(F.col("text")), lambda t: t != "")
        ).alias("word"),
    )
    tf = toks.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("cnt"))
    n = tf.withColumn(
        "n", F.sum("cnt").over(Window.partitionBy("doc_id")).cast("bigint")
    )
    term_h = F.floor(
        F.col("cnt").cast("double")
        * (F.log(F.col("n").cast("double")) - F.log(F.col("cnt").cast("double")))
        / F.col("n").cast("double")
        * 1000000
        + 0.5
    ).cast("bigint")
    per_doc = (
        n.select("doc_id", "n", term_h.alias("th"))
        .groupBy("doc_id")
        .agg(
            F.min("n").alias("n_tok"),
            F.sum("th").cast("bigint").alias("h_micro"),
        )
    )
    return (
        per_doc.select(
            F.expr("h_micro div 500000").alias("bucket"),
            "n_tok",
            "h_micro",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg(F.col("n_tok").cast("double")), 2).alias("avg_tokens"),
            F.min("h_micro").cast("bigint").alias("min_h_micro"),
            F.max("h_micro").cast("bigint").alias("max_h_micro"),
        )
        .orderBy("bucket")
    )


#: Absolute discount for interpolated Kneser-Ney (the textbook 0.75).
KN_D = 0.75


@register(
    "q_kn_bigram",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS w
        FROM documents WHERE text IS NOT NULL
    ),
    bg AS (
        SELECT doc_id, p.w1 AS w1, p.w2 AS w2
        FROM (SELECT doc_id,
                     unnest(list_transform(range(1, len(w)),
                                           i -> {{'w1': w[i], 'w2': w[i+1]}})) AS p
              FROM t WHERE len(w) >= 2)
    ),
    bi AS (
        SELECT w1, w2, COUNT(*) AS n_b
        FROM bg WHERE doc_id % 2 = 0 GROUP BY w1, w2
    ),
    ctx AS (
        SELECT w1, CAST(SUM(n_b) AS DOUBLE) AS c_w1,
               CAST(COUNT(*) AS BIGINT) AS n1_fwd
        FROM bi GROUP BY w1
    ),
    cont AS (
        SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1_bwd FROM bi GROUP BY w2
    ),
    btot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS b_types FROM bi)
    SELECT b.doc_id,
           COUNT(*) AS n_bigrams,
           CAST(SUM(CASE WHEN ctx.w1 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_unseen_ctx,
           CAST(SUM(CASE WHEN cont.n1_bwd IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_oov,
           CAST(SUM(CAST(FLOOR(
               CASE WHEN ctx.w1 IS NOT NULL
                    THEN GREATEST(CAST(COALESCE(bi.n_b, 0) AS DOUBLE)
                                  - {KN_D}, 0.0) / ctx.c_w1
                         + (({KN_D} * ctx.n1_fwd) / ctx.c_w1)
                           * (CAST(COALESCE(cont.n1_bwd, 0) AS DOUBLE)
                              / btot.b_types)
                    ELSE CAST(COALESCE(cont.n1_bwd, 0) AS DOUBLE)
                         / btot.b_types END
               * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS score_micro
    FROM bg b
    LEFT JOIN bi ON b.w1 = bi.w1 AND b.w2 = bi.w2
    LEFT JOIN ctx ON b.w1 = ctx.w1
    LEFT JOIN cont ON b.w2 = cont.w2
    CROSS JOIN btot
    GROUP BY b.doc_id
    """,
    doc="Interpolated Kneser-Ney bigram scoring (Kneser & Ney 1995; the "
    "estimator KenLM ships and CCNet-style quality filters actually "
    "run, where q_bigram_backoff is the distributed-counts Stupid "
    "Backoff): trained on the even-doc_id shard, each bigram scores "
    "max(c(w1w2)-D, 0)/c(w1) + D*N1+(w1.)/c(w1) * Pcont(w2), with the "
    "continuation probability Pcont(w2) = N1+(.w2)/|bigram types| — "
    "the 'how many contexts does w2 follow' correction that makes KN "
    "strictly better than raw-frequency backoff on functional words "
    "('Francisco' is frequent but follows only 'San'). Unseen contexts "
    "fall to Pcont alone; w2 never seen as a continuation scores 0 "
    "and counts as OOV. ALL model tables (bigrams, per-context totals "
    "+ fan-outs, continuation counts, the 1-row type total) derive "
    "from ONE training aggregation, joined as AQE decides at runtime "
    "from measured bytes; per-bigram scores micro-floor before the "
    "order-independent integer per-doc sum, the identical IEEE op "
    "sequence on both engines (the q_bigram_backoff convention). "
    "Plan: one tokenized "
    "scan -> bigram explode -> three vocabulary joins + one scalar "
    "crossJoin -> per-doc rollup; open-ended gram space at 100 TB "
    "turns AQE's runtime broadcasts into shuffle joins, nothing else "
    "changes.",
)
def q_kn_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    ws = F.filter(whitespace_tokens(F.col("text")), lambda x: x != "")
    # Spread removed r14 (interleaved same-JVM A/B x6: median 2.11 s
    # without vs 2.22 s with) — same class as q_bigram_backoff /
    # q_collocation_pmi: the token-array exchange loses to the explode
    # parallelism at this per-row weight. Contrast q_bootstrap_ci
    # (32x md5 per doc), where the same A/B read 0.80 vs 1.76 FOR the
    # spread.
    toks = d.select("doc_id", ws.alias("ws"))
    pair_expr = F.expr(
        """
        CASE WHEN size(ws) >= 2
        THEN transform(sequence(0, size(ws) - 2),
                       i -> struct(ws[i] AS w1, ws[i + 1] AS w2))
        ELSE CAST(array() AS array<struct<w1: string, w2: string>>) END
        """
    )
    bg = toks.select("doc_id", F.explode(pair_expr).alias("p")).select(
        "doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )
    train = F.col("doc_id") % 2 == 0
    # bi feeds four consumers (the probe join, ctx, cont, btot); the
    # optimizer pushes each one's inferred IS NOT NULL filters below
    # the aggregation, so their exchanges differ and AQE cannot reuse
    # one. Persisted, the train-shard explode+agg runs once.
    bi = persist_tracked(
        bg.filter(train).groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_b"))
    )
    ctx = bi.groupBy("w1").agg(
        F.sum("n_b").cast("double").alias("c_w1"),
        F.count(F.lit(1)).cast("bigint").alias("n1_fwd"),
    )
    cont = bi.groupBy("w2").agg(F.count(F.lit(1)).cast("bigint").alias("n1_bwd"))
    btot = bi.agg(F.count(F.lit(1)).cast("double").alias("b_types"))
    scored = (
        bg.join(bi, ["w1", "w2"], "left")
        .join(ctx, "w1", "left")
        .join(cont, "w2", "left")
        .crossJoin(F.broadcast(btot))
    )
    p_cont = F.coalesce(F.col("n1_bwd"), F.lit(0)).cast("double") / F.col(
        "b_types"
    )
    seen_ctx = F.col("c_w1").isNotNull()
    s = F.when(
        seen_ctx,
        F.greatest(
            F.coalesce(F.col("n_b"), F.lit(0)).cast("double") - F.lit(KN_D),
            F.lit(0.0),
        )
        / F.col("c_w1")
        + ((F.lit(KN_D) * F.col("n1_fwd")) / F.col("c_w1")) * p_cont,
    ).otherwise(p_cont)
    s_micro = F.floor(s * 1000000 + 0.5).cast("bigint")
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum(F.when(~seen_ctx, 1).otherwise(0)).cast("bigint").alias(
            "n_unseen_ctx"
        ),
        F.sum(F.when(F.col("n1_bwd").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_oov"),
        F.sum(s_micro).cast("bigint").alias("score_micro"),
    )


# --------------------------------------------------------------------------
# ROUGE-2 overlap (clipped multiset bigram match, exact micro units)
# --------------------------------------------------------------------------


@register(
    "q_rouge_overlap",
    oracle="""
    WITH sp AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
        WHERE text IS NOT NULL
    ),
    bg AS (
        SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS c
        FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(w)),
                          i -> w[i] || ' ' || w[i+1])) AS g
            FROM sp WHERE len(w) >= 2
        )
        GROUP BY doc_id, g
    ),
    tot AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n FROM bg GROUP BY doc_id),
    m AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2,
               CAST(SUM(LEAST(a.c, b.c)) AS BIGINT) AS matched
        FROM bg a JOIN bg b ON b.doc_id = a.doc_id + 1 AND a.g = b.g
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT t1.doc_id AS id1, t2.doc_id AS id2,
           t1.n AS n_ref, t2.n AS n_cand,
           COALESCE(m.matched, 0) AS matched,
           CAST(COALESCE(m.matched, 0) * 1000000 // t2.n AS BIGINT) AS p_ppm,
           CAST(COALESCE(m.matched, 0) * 1000000 // t1.n AS BIGINT) AS r_ppm,
           CAST(2 * COALESCE(m.matched, 0) * 1000000 // (t1.n + t2.n)
                AS BIGINT) AS f1_ppm
    FROM tot t1
    JOIN tot t2 ON t2.doc_id = t1.doc_id + 1
    LEFT JOIN m ON m.id1 = t1.doc_id
    """,
    doc="ROUGE-2 overlap between consecutive documents — the "
    "summarization-eval metric as a corpus operator (near-dup families "
    "measure SET similarity; ROUGE's clipped MULTISET match is what "
    "text-generation eval pipelines actually compute): per pair, "
    "matched = sum over bigrams of min(count_ref, count_cand), "
    "precision/recall/F1 in exact integer ppm (F1 of counts is exactly "
    "2m/(n1+n2) — no float P*R/(P+R) chain). Zero-overlap pairs "
    "survive via the totals-spine LEFT join. Plan: one bigram "
    "explode-agg, one gram-keyed equi-join between adjacent docs, one "
    "pair rollup + the doc_id+1 spine join — every stage hash-keyed "
    "and linear; no pair op beyond the adjacency spine.",
)
def q_rouge_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread_scan(
        load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    )
    # Bind the words array to a column BEFORE the lambda: referencing
    # split(text) INSIDE the transform re-evaluates the whole split per
    # element (the round-11 no-CSE-in-lambdas trap) — O(words^2) per
    # doc. Measured on this query: x25 12.9 s -> 1.56 s (8.3x), sf0.1
    # 2.35 -> 1.94. element_at(w, i) over a bound array attribute is
    # O(1) per element.
    words = d.select("doc_id", F.split("text", " ", -1).alias("w"))
    grams = words.filter(F.size("w") >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 1), "
                "i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"
            )
        ).alias("g"),
    )
    bg = grams.groupBy("doc_id", "g").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    tot = bg.groupBy("doc_id").agg(F.sum("c").cast("bigint").alias("n"))
    a = bg.select(F.col("doc_id").alias("id1"), "g", F.col("c").alias("c1"))
    b = bg.select(F.col("doc_id").alias("id2"), "g", F.col("c").alias("c2"))
    m = (
        a.join(b, (F.col("id2") == F.col("id1") + 1) & (a.g == b.g))
        .groupBy("id1", "id2")
        .agg(F.sum(F.least("c1", "c2")).cast("bigint").alias("matched"))
    )
    t1 = tot.select(F.col("doc_id").alias("id1"), F.col("n").alias("n_ref"))
    t2 = tot.select(F.col("doc_id").alias("id2"), F.col("n").alias("n_cand"))
    spine = t1.join(t2, F.col("id2") == F.col("id1") + 1)
    return (
        spine.join(m, ["id1", "id2"], "left")
        .select(
            "id1",
            "id2",
            "n_ref",
            "n_cand",
            F.coalesce("matched", F.lit(0)).cast("bigint").alias("matched"),
        )
        .select(
            "id1",
            "id2",
            "n_ref",
            "n_cand",
            "matched",
            F.expr("CAST(matched * 1000000 div n_cand AS BIGINT)").alias(
                "p_ppm"
            ),
            F.expr("CAST(matched * 1000000 div n_ref AS BIGINT)").alias(
                "r_ppm"
            ),
            F.expr(
                "CAST(2 * matched * 1000000 div (n_ref + n_cand) AS BIGINT)"
            ).alias("f1_ppm"),
        )
    )
