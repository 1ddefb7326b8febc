"""Corpus-curation operators: the gatekeeping stages of an LLM data pipeline.

Benchmark-contamination detection, PII scrubbing, context-window sequence
packing, domain-mixture rebalancing, and cross-snapshot incremental dedup.
Like the rest of the llm package these are north-star operators (the
reference engine, /root/reference/parquet-compactor/parquet_compactor.py,
stops at file compaction); every plan here is JVM-side column expressions
with one or two keyed shuffles — nothing collects row data to the driver.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_compactor_spark.registry import load, register

#: Context-window budget (whitespace tokens) for sequence packing.
PACK_BUDGET = 256

#: Knuth multiplicative hash — deterministic, engine-portable membership
#: (exact bigint math in both Spark and DuckDB; see q_stratified_sample).
_KNUTH_MOD = 4294967296


def knuth_hash(col: Column, mod: int = 1000000) -> Column:
    return F.pmod(F.pmod(col * F.lit(2654435761), F.lit(_KNUTH_MOD)), F.lit(mod))


def word_shingles(words: Column, n: int = 5) -> Column:
    """n-word shingles of a pre-split token array, as a JVM higher-order
    expression (no Python in the hot path). Empty when the doc is shorter
    than ``n`` (sequence(1,0) would yield [1,0] — guarded by the when).

    ``words`` is BOUND to a lambda variable via a single-element outer
    transform: callers pass derived expressions (``split(text)``,
    ``whitespace_tokens(text)``), and referencing a derived array
    inside the shingle lambda re-evaluates it per position — the
    no-CSE-in-lambdas O(words^2) trap (see the dedup twin's docstring
    for the round-13 measurements). A caller passing an already-bound
    attribute pays only a one-element wrap."""
    bound = F.transform(
        F.array(words),
        lambda w: F.when(
            F.size(w) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(w) - (n - 1)),
                lambda i: F.array_join(F.slice(w, i, F.lit(n)), " "),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    return F.element_at(bound, 1)


@register(
    "q_contamination",
    oracle="""
    WITH words AS (
        SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
    ),
    shingles AS (
        SELECT doc_id, source, array_to_string(w[i:i+2], ' ') AS shingle
        FROM words, UNNEST(range(1, greatest(len(w)-2, 0)+1)) AS t(i)
    ),
    bench AS (
        SELECT DISTINCT shingle FROM shingles
        WHERE (doc_id * 2654435761) % 4294967296 % 97 = 0
    ),
    corpus AS (
        SELECT doc_id, source, shingle FROM shingles
        WHERE (doc_id * 2654435761) % 4294967296 % 97 <> 0
    ),
    per_doc AS (
        SELECT c.doc_id, c.source,
               COUNT(*) AS n_shingles,
               COUNT(b.shingle) AS n_hit
        FROM corpus c LEFT JOIN bench b ON c.shingle = b.shingle
        GROUP BY c.doc_id, c.source
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN n_hit > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_contaminated,
           ROUND(AVG(CAST(n_hit AS DOUBLE) / n_shingles), 4)
               AS avg_hit_rate
    FROM per_doc
    GROUP BY source
    """,
    doc="Benchmark-contamination detection: 3-word shingles of a held-out "
    "benchmark split (deterministic ~1% Knuth-hash membership) are "
    "LEFT-joined against corpus shingles; a doc sharing any shingle with "
    "the benchmark is flagged. The benchmark shingle set is tiny and "
    "broadcast — the corpus side never shuffles for the probe, so the "
    "plan is one broadcast hash join plus two aggregations regardless of "
    "corpus size. This is the standard n-gram-overlap decontamination "
    "pass run before LLM training.",
)
def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", "source", F.split("text", " ", -1).alias("w")
    )
    shingles = words.select(
        "doc_id",
        "source",
        F.explode(word_shingles(F.col("w"), 3)).alias("shingle"),
    )
    is_bench = knuth_hash(F.col("doc_id"), mod=97) == 0
    bench = shingles.filter(is_bench).select("shingle").distinct()
    corpus = shingles.filter(~is_bench)
    per_doc = (
        corpus.join(
            F.broadcast(bench.withColumn("hit", F.lit(1))), "shingle", "left"
        )
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("hit").alias("n_hit"),
        )
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("n_hit") > 0).cast("bigint")).alias("n_contaminated"),
        F.round(
            F.avg(F.col("n_hit").cast("double") / F.col("n_shingles")), 4
        ).alias("avg_hit_rate"),
    )


EVAL_W = 8  # contamination window width (GPT-3 used 13-gram collisions)
EVAL_SHARD_MOD, EVAL_SHARD_REM = 23, 7  # held-out eval shard: ~4% of docs


@register(
    "q_eval_contamination",
    oracle=f"""
    WITH words AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    wins AS (
        SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
               CAST(i AS BIGINT) AS pos,
               md5(array_to_string(w[i : i + {EVAL_W - 1}], ' ')) AS h
        FROM words, UNNEST(range(1, len(w) - {EVAL_W - 2})) AS t(i)
    ),
    eval_wins AS (
        SELECT DISTINCT h FROM wins
        WHERE doc_id % {EVAL_SHARD_MOD} = {EVAL_SHARD_REM}
    ),
    train AS (
        SELECT w.doc_id, w.n_tokens, w.pos, e.h IS NOT NULL AS hit
        FROM wins w LEFT JOIN eval_wins e ON w.h = e.h
        WHERE w.doc_id % {EVAL_SHARD_MOD} <> {EVAL_SHARD_REM}
    ),
    per_doc AS (
        SELECT doc_id, MAX(n_tokens) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_windows,
               CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_hit_windows
        FROM train GROUP BY doc_id
    ),
    hits AS (
        SELECT doc_id, pos,
               LEAD(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
        FROM train WHERE hit
    ),
    cov AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN nxt IS NULL OR nxt - pos >= {EVAL_W}
                             THEN {EVAL_W} ELSE nxt - pos END)
                    AS BIGINT) AS overlap_tokens
        FROM hits GROUP BY doc_id
    )
    SELECT p.doc_id, p.n_tokens, p.n_windows, p.n_hit_windows,
           CAST(COALESCE(c.overlap_tokens, 0) AS BIGINT) AS overlap_tokens,
           FLOOR(CAST(COALESCE(c.overlap_tokens, 0) AS DOUBLE)
                 / CAST(p.n_tokens AS DOUBLE) * 10000 + 0.5) / 10000
               AS overlap_frac,
           p.n_hit_windows > 0 AS contaminated
    FROM per_doc p LEFT JOIN cov c USING (doc_id)
    """,
    doc="Train-on-test contamination at sliding n-gram resolution — the "
    "decision-grade sibling of q_contamination (which scores SOURCES "
    "by 3-shingle hit rates): every width-8 sliding token window of a "
    "TRAINING document is checked for exact collision with any window "
    "of the held-out EVAL shard (doc_id % 23 == 7 — a deterministic "
    "stand-in for the benchmark suite), and each train doc gets its "
    "per-doc verdict: hit-window count, MERGED-interval count of "
    "tokens inside eval-colliding spans, the 4dp overlap fraction, "
    "and the boolean a curation pipeline actually filters on (the "
    "GPT-3 appendix-C discipline: drop or flag any training doc "
    "sharing a >= 13-gram with an eval set; W=8 matches this "
    "fixture's document lengths). Reuses the q_substring_dedup "
    "machinery (sliding_md5_windows + merged_interval_coverage): "
    "window texts never leave the map side — only 32-byte md5 keys "
    "shuffle; the eval side prunes to ~1/23 of the corpus BELOW the "
    "explode (doc_id predicate pushes past the generator), dedups to "
    "DISTINCT hashes, and joins as AQE decides at runtime from the "
    "eval table's measured bytes (an eval suite is MBs — at 100 TB the "
    "probe is a broadcast hash join, never a corpus-x-corpus shuffle); "
    "ONE doc_id rollup folds "
    "counts and interval coverage in the same pass. Docs under 8 "
    "tokens have no window and drop out (inner semantics, both "
    "engines).",
)
def q_eval_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_compactor_spark.llm.dedup import (
        merged_interval_coverage,
        sliding_md5_windows,
    )
    from parquet_compactor_spark.llm.text import spread_scan, whitespace_tokens

    # one md5 window per token: compute-dense map, spread it.
    d = spread_scan(load(spark, sf_dir, "documents"))
    words = whitespace_tokens(F.col("text"))
    wins = d.select(
        "doc_id",
        F.size(words).cast("bigint").alias("n_tokens"),
        F.explode(sliding_md5_windows(words, EVAL_W)).alias("s"),
    ).select(
        "doc_id",
        "n_tokens",
        F.col("s.pos").alias("pos"),
        F.col("s.h").alias("h"),
    )
    is_eval = F.col("doc_id") % EVAL_SHARD_MOD == EVAL_SHARD_REM
    eval_wins = (
        wins.filter(is_eval).select("h").distinct().withColumn("hit", F.lit(1))
    )
    train = wins.filter(~is_eval).join(eval_wins, "h", "left")
    hit = F.col("hit").isNotNull()
    per_doc = train.groupBy("doc_id").agg(
        F.max("n_tokens").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_windows"),
        F.sum(hit.cast("int")).cast("bigint").alias("n_hit_windows"),
        F.sort_array(F.collect_list(F.when(hit, F.col("pos")))).alias("hpos"),
    )
    overlap = merged_interval_coverage(F.col("hpos"), EVAL_W)
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "n_windows",
        "n_hit_windows",
        overlap.alias("overlap_tokens"),
        (
            F.floor(
                overlap.cast("double")
                / F.col("n_tokens").cast("double")
                * 10000
                + 0.5
            )
            / 10000
        ).alias("overlap_frac"),
        (F.col("n_hit_windows") > 0).alias("contaminated"),
    )


# Secret-shaped token detectors — same regex dialect in Java (Spark)
# and RE2 (DuckDB): no lookaround, no backreferences. \b is supported
# by both; the seeds below are framed by spaces so the boundary always
# lands between a space and a hex/base64 char (never after '_', which
# is a word char and would swallow the boundary).
_HEX_SECRET_RE = r"\b[0-9a-f]{32,}\b"  # hex credential (md5/sha/API hex)
_AWS_KEY_RE = r"AKIA[0-9A-Z]{16}"  # AWS access-key-id shape
_LONGTOK_RE = r"\b[A-Za-z0-9+/=]{24,}\b"  # long base64-ish token


@register(
    "q_secret_scan",
    oracle=f"""
    WITH seeded AS (
        SELECT doc_id, source,
               text
               || CASE WHEN doc_id % 7 = 0
                       THEN ' key ' || md5(CAST(doc_id AS VARCHAR)) || ' ok'
                       ELSE '' END
               || CASE WHEN doc_id % 11 = 0
                       THEN ' id AKIA' || upper(substr(
                            md5('a' || CAST(doc_id AS VARCHAR)), 1, 16))
                            || ' end'
                       ELSE '' END AS raw
        FROM documents
    ),
    hits AS (
        SELECT source,
               COALESCE(len(regexp_extract_all(raw, '{_HEX_SECRET_RE}')), 0)
                   AS hex_hits,
               COALESCE(len(regexp_extract_all(raw, '{_AWS_KEY_RE}')), 0)
                   AS aws_hits,
               COALESCE(len(regexp_extract_all(raw, '{_LONGTOK_RE}')), 0)
                   AS longtok_hits
        FROM seeded
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(hex_hits) AS BIGINT) AS hex_hits,
           CAST(SUM(aws_hits) AS BIGINT) AS aws_hits,
           CAST(SUM(longtok_hits) AS BIGINT) AS longtok_hits,
           CAST(SUM(CASE WHEN hex_hits + aws_hits + longtok_hits > 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_secret,
           CAST((CAST(SUM(CASE WHEN hex_hits + aws_hits + longtok_hits > 0
                              THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
                // CAST(COUNT(*) AS BIGINT) AS BIGINT) AS secret_ppm
    FROM hits GROUP BY source
    """,
    doc="Credential / secret-shaped token scan per source — the "
    "detect-secrets pass every code/crawl corpus runs before release "
    "(StarCoder and Dolma both strip key-shaped strings alongside "
    "PII; this is q_pii_scrub's security sibling). Detectors: 32+ "
    "lowercase-hex runs (API/sha-style hex credentials), the AWS "
    "access-key-id shape AKIA[0-9A-Z]{16}, and 24+ char base64-ish "
    "tokens (the high-entropy-string proxy; hex hits are a subset of "
    "this class by construction — counts overlap deliberately, each "
    "detector is a distinct audit line). Because the synthetic corpus "
    "contains no real secrets, deterministic ones are SEEDED exactly "
    "like q_pii_scrub's emails: docs with doc_id % 7 == 0 carry an "
    "md5-hex credential, % 11 == 0 an AKIA key derived from the same "
    "engine-identical md5 — membership is known by construction, so "
    "the oracle checks the detectors, not luck. NULL text seeds to "
    "NULL and scans to zero hits on both engines (COALESCE). Plan: "
    "map-only regex counts + ONE source-keyed hash aggregate — "
    "scan-shaped at any corpus size; the ppm headline is exact "
    "bigint div.",
)
def q_secret_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit(" key "),
                F.md5(F.col("doc_id").cast("string")),
                F.lit(" ok"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(
                F.lit(" id AKIA"),
                F.upper(
                    F.substring(
                        F.md5(F.concat(F.lit("a"), F.col("doc_id").cast("string"))),
                        1,
                        16,
                    )
                ),
                F.lit(" end"),
            ),
        ).otherwise(F.lit("")),
    )

    def nhits(rex: str) -> Column:
        return F.coalesce(
            F.size(F.regexp_extract_all(F.col("raw"), F.lit(rex), F.lit(0))),
            F.lit(0),
        )

    hits = d.select("source", raw.alias("raw")).select(
        "source",
        nhits(_HEX_SECRET_RE).alias("hex_hits"),
        nhits(_AWS_KEY_RE).alias("aws_hits"),
        nhits(_LONGTOK_RE).alias("longtok_hits"),
    )
    any_hit = (
        F.col("hex_hits") + F.col("aws_hits") + F.col("longtok_hits") > 0
    )
    return (
        hits.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("hex_hits").cast("bigint").alias("hex_hits"),
            F.sum("aws_hits").cast("bigint").alias("aws_hits"),
            F.sum("longtok_hits").cast("bigint").alias("longtok_hits"),
            F.sum(any_hit.cast("int")).cast("bigint").alias(
                "docs_with_secret"
            ),
        )
        .select(
            "source",
            "n_docs",
            "hex_hits",
            "aws_hits",
            "longtok_hits",
            "docs_with_secret",
            F.expr(
                "CAST((docs_with_secret * 1000000) div n_docs AS BIGINT)"
            ).alias("secret_ppm"),
        )
    )


_EMAIL_RE = r"[A-Za-z0-9._]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"[0-9]{3}-[0-9]{4}"


@register(
    "q_pii_scrub",
    oracle=f"""
    WITH seeded AS (
        SELECT doc_id, source,
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@example.com or 555-'
                    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                   AS raw
        FROM documents
    ),
    scrubbed AS (
        SELECT doc_id, source,
               len(regexp_extract_all(raw, '{_EMAIL_RE}')) AS n_emails,
               len(regexp_extract_all(raw, '{_PHONE_RE}')) AS n_phones,
               regexp_replace(regexp_replace(raw, '{_EMAIL_RE}', '[EMAIL]',
                                             'g'),
                              '{_PHONE_RE}', '[PHONE]', 'g') AS clean
        FROM seeded
    )
    SELECT source,
           CAST(SUM(n_emails) AS BIGINT) AS emails_redacted,
           CAST(SUM(n_phones) AS BIGINT) AS phones_redacted,
           CAST(SUM(length(clean)) AS BIGINT) AS clean_chars,
           CAST(SUM(CASE WHEN clean LIKE '%[EMAIL]%' THEN 1 ELSE 0 END)
                AS BIGINT) AS docs_with_email
    FROM scrubbed
    GROUP BY source
    """,
    doc="PII scrubbing: e-mail and phone patterns redacted with "
    "regexp_replace (replace-all), redaction counts audited per source. "
    "The fixture text contains no organic PII, so each doc is seeded "
    "with a deterministic synthetic address+number first — the seeding "
    "is part of the test harness, the scrub expressions are the "
    "operator. Pure per-row JVM regex (no UDF) + one agg shuffle; the "
    "regexes avoid lookaround so Java and RE2 agree.",
)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    seeded = d.select("doc_id", "source", raw.alias("raw"))
    clean = F.regexp_replace(
        F.regexp_replace("raw", _EMAIL_RE, "[EMAIL]"), _PHONE_RE, "[PHONE]"
    )
    scrubbed = seeded.select(
        "source",
        F.size(F.regexp_extract_all("raw", F.lit(_EMAIL_RE), F.lit(0))).alias(
            "n_emails"
        ),
        F.size(F.regexp_extract_all("raw", F.lit(_PHONE_RE), F.lit(0))).alias(
            "n_phones"
        ),
        clean.alias("clean"),
    )
    return scrubbed.groupBy("source").agg(
        F.sum("n_emails").cast("bigint").alias("emails_redacted"),
        F.sum("n_phones").cast("bigint").alias("phones_redacted"),
        F.sum(F.length("clean")).cast("bigint").alias("clean_chars"),
        F.sum(F.col("clean").contains("[EMAIL]").cast("int"))
        .cast("bigint")
        .alias("docs_with_email"),
    )


@register(
    "q_seq_packing",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tok
        FROM documents
    ),
    packed AS (
        SELECT lang, n_tok,
               (SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) - n_tok)
                   // {PACK_BUDGET} AS window_id
        FROM toks
    )
    SELECT lang,
           COUNT(DISTINCT window_id) AS n_windows,
           CAST(MAX(cnt) AS BIGINT) AS max_docs_per_window,
           ROUND(AVG(CAST(fill AS DOUBLE)) / {PACK_BUDGET}, 4) AS avg_fill
    FROM (
        SELECT lang, window_id, COUNT(*) AS cnt, SUM(n_tok) AS fill
        FROM packed GROUP BY lang, window_id
    )
    GROUP BY lang
    """,
    doc="Sequence packing for training: documents are concatenated in "
    "doc_id order per language and chunked into fixed token-budget "
    "context windows (window_id = starting-offset div budget — the "
    "concatenate-then-chunk packing used for LLM pretraining batches, "
    "where a document may straddle two windows). One running-sum window "
    "per lang + one agg; at scale the partition key becomes (lang, "
    "shard) so no single language serializes — packing is only ever "
    "needed within a shard, not globally.",
)
def q_seq_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang", F.size(F.split("text", " ", -1)).alias("n_tok")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    packed = toks.select(
        "lang",
        "n_tok",
        ((F.sum("n_tok").over(w) - F.col("n_tok")) / F.lit(PACK_BUDGET))
        .cast("bigint")
        .alias("window_id"),
    )
    per_window = packed.groupBy("lang", "window_id").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("n_tok").alias("fill")
    )
    return per_window.groupBy("lang").agg(
        F.countDistinct("window_id").alias("n_windows"),
        F.max("cnt").cast("bigint").alias("max_docs_per_window"),
        F.round(F.avg(F.col("fill").cast("double")) / PACK_BUDGET, 4).alias(
            "avg_fill"
        ),
    )


@register(
    "q_domain_mix",
    oracle="""
    WITH counts AS (
        SELECT source, COUNT(*) AS cnt FROM documents GROUP BY source
    ),
    floor_cnt AS (SELECT MIN(cnt) AS min_cnt FROM counts),
    rated AS (
        SELECT c.source, c.cnt,
               (f.min_cnt * 1000000) // c.cnt AS keep_ppm
        FROM counts c CROSS JOIN floor_cnt f
    )
    SELECT d.source,
           MAX(r.cnt) AS n_total,
           CAST(SUM(CASE WHEN (d.doc_id * 2654435761) % 4294967296
                              % 1000000 < r.keep_ppm
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           MAX(r.keep_ppm) AS keep_ppm
    FROM documents d JOIN rated r ON d.source = r.source
    GROUP BY d.source
    """,
    doc="Domain-mixture rebalancing: downsample every source to the "
    "smallest source's volume (uniform target mixture). Per-source keep "
    "rates are exact integer parts-per-million (bigint div — no float "
    "rounding divergence across engines) and membership is the Knuth "
    "hash of doc_id, so the sample is reproducible on any cluster size. "
    "The rate table is per-source scalars — broadcast — so the corpus "
    "scan never shuffles for the join; one agg shuffle total.",
)
def q_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("cnt"))
    floor_cnt = counts.agg(F.min("cnt").alias("min_cnt"))
    rated = counts.crossJoin(F.broadcast(floor_cnt)).select(
        "source",
        "cnt",
        F.expr("(min_cnt * 1000000) div cnt").alias("keep_ppm"),
    )
    kept = (knuth_hash(F.col("doc_id")) < F.col("keep_ppm")).cast("bigint")
    return (
        d.join(F.broadcast(rated), "source")
        .groupBy("source")
        .agg(
            F.max("cnt").alias("n_total"),
            F.sum(kept).alias("n_kept"),
            F.max("keep_ppm").alias("keep_ppm"),
        )
    )


@register(
    "q_snapshot_delta",
    oracle="""
    WITH old_snap AS (
        SELECT DISTINCT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
            AS fp
        FROM documents WHERE doc_id % 3 <> 0
    ),
    new_batch AS (
        SELECT doc_id, lang,
               md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
        FROM documents
    )
    SELECT lang,
           COUNT(*) AS n_new,
           MIN(doc_id) AS first_new
    FROM new_batch n
    WHERE NOT EXISTS (SELECT 1 FROM old_snap o WHERE o.fp = n.fp)
    GROUP BY lang
    """,
    doc="Cross-snapshot incremental dedup: a new crawl batch is "
    "anti-joined by normalized-text fingerprint against the previous "
    "snapshot's fingerprint set, keeping only net-new documents — the "
    "daily-ingest pattern for a continuously-crawled corpus. The "
    "fingerprint set is one narrow md5 column, so at 100 TB the "
    "anti-join shuffles 16-byte keys, not documents; Spark's runtime "
    "bloom-filter pruning (spark.sql.optimizer.runtime.bloomFilter) "
    "drops most probe rows before the exchange.",
)
def q_snapshot_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    fp = F.md5(
        F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
    ).alias("fp")
    old_snap = d.filter(F.col("doc_id") % 3 != 0).select(fp).distinct()
    new_batch = d.select("doc_id", "lang", fp)
    return (
        new_batch.join(old_snap, "fp", "left_anti")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_new"),
            F.min("doc_id").alias("first_new"),
        )
    )


@register(
    "q_data_split",
    oracle="""
    WITH tagged AS (
        SELECT lang, n_chars,
               CASE WHEN (doc_id * 2654435761) % 4294967296 % 100 < 90
                        THEN 'train'
                    WHEN (doc_id * 2654435761) % 4294967296 % 100 < 95
                        THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    )
    SELECT lang, split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM tagged
    GROUP BY lang, split
    """,
    doc="Deterministic 90/5/5 train/val/test split: membership is the "
    "Knuth hash of doc_id bucketed into percent bands, so the split is "
    "stable across runs, engines, cluster sizes, AND later corpus "
    "growth (a doc never migrates between splits when new docs arrive "
    "— the property rand()-based splitting lacks, and the reason "
    "training pipelines hash-split). Zero shuffles before the "
    "audit rollup.",
)
def q_data_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    pct = knuth_hash(F.col("doc_id"), mod=100)
    split = (
        F.when(pct < 90, "train").when(pct < 95, "val").otherwise("test")
    )
    return (
        d.select("lang", "n_chars", split.alias("split"))
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )


@register(
    "q_gopher_rules",
    oracle=r"""
    WITH scored AS (
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_words,
               CAST(length(replace(text, ' ', '')) AS DOUBLE)
                 / len(string_split(text, ' ')) AS mwl,
               len(regexp_extract_all(text, '\b(the|a|and|of|to|in|is|it)\b'))
                 AS stop_hits,
               CAST(len(list_filter(string_split(text, ' '),
                                    w -> regexp_matches(w, '[a-zA-Z]')))
                    AS DOUBLE)
                 / len(string_split(text, ' ')) AS alpha_ratio
        FROM documents
    )
    SELECT doc_id,
           n_words,
           ROUND(mwl, 4) AS mean_word_len,
           CASE WHEN n_words BETWEEN 40 AND 1000 THEN 1 ELSE 0 END
             AS ok_word_count,
           CASE WHEN mwl >= 3.5 AND mwl <= 10.0 THEN 1 ELSE 0 END
             AS ok_word_len,
           CASE WHEN stop_hits >= 2 THEN 1 ELSE 0 END AS ok_stopwords,
           CASE WHEN alpha_ratio > 0.8 THEN 1 ELSE 0 END AS ok_alpha,
           CASE WHEN n_words BETWEEN 40 AND 1000
                 AND mwl >= 3.5 AND mwl <= 10.0
                 AND stop_hits >= 2
                 AND alpha_ratio > 0.8 THEN 1 ELSE 0 END AS keep_flag
    FROM scored
    """,
    doc="Gopher-style rule-based quality filter (Rae et al. 2021 §A1.1, "
    "public paper): each document is scored against explicit repair-"
    "proof rules — word-count bounds, mean-word-length bounds, minimum "
    "stopword evidence, alphabetic-word ratio — emitted as separate "
    "boolean columns plus the conjunctive keep flag, so downstream "
    "curation can audit WHICH rule dropped a document (the difference "
    "from q_quality_score's single opaque score). All rules are "
    "JVM-side string expressions over one scan: at 100 TB this is a "
    "map-only pass with zero shuffles; the per-rule booleans make the "
    "filter's selectivity observable per rule via one follow-up "
    "aggregation. Mean word length divides two exact integers, so the "
    "4dp rounding is engine-stable.",
)
def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ", -1)
    n_words = F.size(words)
    mwl = F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast(
        "double"
    ) / n_words
    stop_hits = F.size(
        F.regexp_extract_all(F.col("text"), F.lit(r"\b(the|a|and|of|to|in|is|it)\b"))
    )
    alpha_ratio = (
        F.size(F.filter(words, lambda w: w.rlike("[a-zA-Z]"))).cast("double") / n_words
    )
    ok_word_count = n_words.between(40, 1000)
    ok_word_len = (mwl >= 3.5) & (mwl <= 10.0)
    ok_stopwords = stop_hits >= 2
    ok_alpha = alpha_ratio > 0.8
    keep = ok_word_count & ok_word_len & ok_stopwords & ok_alpha
    as_int = lambda c: F.when(c, 1).otherwise(0)  # noqa: E731
    return d.select(
        "doc_id",
        n_words.alias("n_words"),
        F.round(mwl, 4).alias("mean_word_len"),
        as_int(ok_word_count).alias("ok_word_count"),
        as_int(ok_word_len).alias("ok_word_len"),
        as_int(ok_stopwords).alias("ok_stopwords"),
        as_int(ok_alpha).alias("ok_alpha"),
        as_int(keep).alias("keep_flag"),
    )


@register(
    "q_winsorize",
    oracle="""
    WITH nn AS (
        -- observed (non-null) values only, pinned on BOTH sides: the
        -- engines' default NULL sort placement differs (Spark ASC is
        -- NULLS FIRST, DuckDB NULLS LAST), so an implicit scope would
        -- shift the k-th order statistics on a NULL-bearing fixture.
        SELECT event_type, value FROM events WHERE value IS NOT NULL
    ),
    params AS (
        SELECT count(*) AS n_total, count(*) // 20 AS k FROM nn
    ),
    ranked AS (
        SELECT value, row_number() OVER (ORDER BY value) AS r FROM nn
    ),
    bounds AS (
        SELECT max(CASE WHEN r <= (SELECT k FROM params)
                        THEN value END) AS lo,
               min(CASE WHEN r >= (SELECT n_total - k + 1 FROM params)
                        THEN value END) AS hi
        FROM ranked
    )
    SELECT e.event_type,
           count(*) AS n,
           ROUND(CAST(sum(CAST(e.value AS DECIMAL(18,4))) AS DOUBLE)
                 / count(*), 4) AS mean_raw,
           ROUND(CAST(sum(CAST(LEAST(GREATEST(e.value, b.lo), b.hi)
                              AS DECIMAL(18,4))) AS DOUBLE)
                 / count(*), 4) AS mean_winsorized,
           CAST(SUM(CASE WHEN e.value < b.lo OR e.value > b.hi
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
    FROM nn e CROSS JOIN bounds b
    GROUP BY e.event_type
    """,
    doc="Winsorization (tail clipping) — the outlier-taming step a "
    "feature pipeline runs before normalizing a heavy-tailed measure "
    "for training: values are clamped to the global [k-th smallest, "
    "k-th largest] band (k = n//20, i.e. the exact 5%/95% ORDER "
    "STATISTICS, not interpolated percentiles) and the per-type mean "
    "is reported before/after along with the clip count. Rank-based "
    "bounds are integer-indexed and engine-identical by construction "
    "— round-5 driver evidence showed interpolated percentile() vs "
    "quantile_cont() can land 1 ulp apart, flipping the strict "
    "n_clipped comparisons. Means accumulate in DECIMAL(18,4) (the "
    "values are 2dp) so partial-aggregation order can never wobble "
    "the 4dp rounding. Plan shape: the k-th order statistics come "
    "from TakeOrderedAndProject (bounded map-side heaps of size k, "
    "never a global sort/window), broadcast as ONE tiny row back "
    "onto the fact scan, then one hash-agg per type. At 100 TB the "
    "exact bound pass would swap for approx_percentile (documented "
    "sketch trade as q_percentiles -> q_approx_stats); the clamp and "
    "aggregation are unchanged.",
)
def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Observed values only — matches the oracle's nn scope (see note).
    e = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    # Exact order statistics via bounded top-k (TakeOrderedAndProject),
    # k is a scalar collected driver-side (model-state sized).
    k = e.count() // 20
    lo = e.select("value").orderBy(F.col("value").asc()).limit(k).agg(
        F.max("value").alias("lo")
    )
    hi = e.select("value").orderBy(F.col("value").desc()).limit(k).agg(
        F.min("value").alias("hi")
    )
    bounds = lo.crossJoin(hi)
    dec = lambda c: c.cast("decimal(18,4)")  # noqa: E731
    clipped = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    out_of_band = (F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi"))
    n = F.count(F.lit(1))
    return (
        e.join(F.broadcast(bounds))
        .groupBy("event_type")
        .agg(
            n.alias("n"),
            F.round(F.sum(dec(F.col("value"))).cast("double") / n, 4).alias("mean_raw"),
            F.round(F.sum(dec(clipped)).cast("double") / n, 4).alias("mean_winsorized"),
            F.sum(F.when(out_of_band, 1).otherwise(0)).alias("n_clipped"),
        )
    )



@register(
    "q_dsir_weights",
    oracle="""
    WITH terms AS (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
        FROM documents
    ),
    freq AS (
        SELECT term,
               COUNT(*) AS c_all,
               SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c_tgt
        FROM terms GROUP BY term
    ),
    wfreq AS (
        -- integer-exact per-term micro-weight: 6dp floor-form round of
        -- the per-term log ratio. The per-doc SUM below is then exact
        -- BIGINT arithmetic — identical under ANY accumulation order /
        -- partitioning, unlike AVG over raw doubles.
        SELECT term, c_all, c_tgt,
               CAST(FLOOR((ln(c_tgt + 0.5) - ln(c_all + 0.5)) * 1000000
                          + 0.5) AS BIGINT) AS w_micro
        FROM freq
    ),
    stats AS (
        SELECT CAST(SUM(c_all) AS DOUBLE) AS n_all,
               CAST(SUM(c_tgt) AS DOUBLE) AS n_tgt,
               CAST(COUNT(*)  AS DOUBLE) AS v
        FROM wfreq
    ),
    perdoc AS (
        SELECT t.doc_id,
               COUNT(*) AS n_tokens,
               SUM(f.w_micro) AS w_sum
        FROM terms t JOIN wfreq f USING (term)
        GROUP BY t.doc_id
    ),
    scored AS (
        -- floor-form 4dp round over ONE IEEE divide chain of identical
        -- operands: bit-identical to the Spark side.
        SELECT p.doc_id, p.n_tokens,
               FLOOR((CAST(p.w_sum AS DOUBLE) / 1000000.0
                          / CAST(p.n_tokens AS DOUBLE)
                      + ln(s.n_all + 0.5 * s.v)
                      - ln(s.n_tgt + 0.5 * s.v)) * 10000 + 0.5)
                   / 10000 AS logratio
        FROM perdoc p CROSS JOIN stats s
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (ORDER BY logratio DESC, doc_id) AS rn
        FROM scored
    )
    SELECT doc_id, n_tokens, logratio,
           CAST(CASE WHEN rn <= (SELECT COUNT(*) // 5 FROM documents)
                     THEN 1 ELSE 0 END AS BIGINT) AS selected
    FROM ranked
    """,
    doc="DSIR-style data selection (Xie et al. 2023, 'Data Selection for "
    "Language Models via Importance Resampling'): per-document importance "
    "weight = mean log-likelihood ratio of its unigrams under the target "
    "domain's distribution (here lang='en') vs the raw corpus, with "
    "add-0.5 smoothing over the corpus vocabulary, then a deterministic "
    "top-20% selection (the rank-based stand-in for Gumbel-top-k "
    "resampling — same selection set in expectation, reproducible). "
    "Per-term weights are ROUNDED TO INTEGER MICRO-UNITS (6dp floor "
    "form) in the vocabulary table, so the per-doc score is an exact "
    "BIGINT sum + one IEEE divide — order-independent under any "
    "partitioning (AVG over raw doubles drifts with accumulation order "
    "between Spark partitionings and DuckDB's sequential scan; same "
    "class q_winsorize hit). Plan: ONE token explode feeds ONE "
    "vocabulary aggregation computing BOTH distributions (c_all + "
    "conditional c_tgt — no second corpus pass); corpus totals reduce "
    "over the same vocabulary exchange to a 1-row broadcast; the "
    "frequency table joins back as AQE decides at runtime from its "
    "measured bytes (broadcast below spark.sql.adaptive."
    "autoBroadcastJoinThreshold, shuffle join above — term space is "
    "open-ended at 100 TB); n_sel comes from a 1-row count of "
    "documents crossJoined in-plan (the whole query is ONE action — no "
    "per-query driver collect). The "
    "top-20% cut is a row_number over the 4dp floor-rounded weight "
    "with doc_id tiebreak (engine-exact — never ranks a raw float), "
    "TWO-LEVEL since round 8: an approx_percentile(0.70) pre-filter "
    "(rank error ~1e-4 << the 0.10 margin) bounds the exact global "
    "window to the ~30% of docs that can possibly rank top-20%, so the "
    "one-task reducer holds a third of the corpus instead of all of "
    "it; non-survivors are selected=0 by construction and exactness "
    "is unchanged. At 100 TB the cut swaps for a pure threshold "
    "(no exact window at all); the scoring plan is unchanged. The paper's "
    "production form hashes features into 10k buckets instead of exact "
    "unigrams — same plan shape (the agg key becomes "
    "pmod(xxhash64(term), B)).",
)
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_compactor_spark.llm.text import persist_tracked, whitespace_tokens

    d = load(spark, sf_dir, "documents")
    terms = d.select(
        "doc_id", "lang", F.explode(whitespace_tokens(F.col("text"))).alias("term")
    )
    lr_term = F.log(F.col("c_tgt") + 0.5) - F.log(F.col("c_all") + 0.5)
    # c_tgt before c_all, the order lr_term reads them: the join side
    # (w_micro folded into the agg) and the stats side then plan the
    # same partial aggregate, so AQE runs its exchange once and reuses
    # it (listed the other way round, each side scanned the corpus).
    wfreq = (
        terms.groupBy("term")
        .agg(
            F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("c_tgt"),
            F.count(F.lit(1)).alias("c_all"),
        )
        .withColumn("w_micro", F.floor(lr_term * 1000000 + 0.5).cast("bigint"))
    )
    stats = wfreq.agg(
        F.sum("c_all").cast("double").alias("n_all"),
        F.sum("c_tgt").cast("double").alias("n_tgt"),
        F.count(F.lit(1)).cast("double").alias("v"),
    )
    n_sel = d.agg(F.floor(F.count(F.lit(1)) / 5).alias("n_sel"))
    perdoc = (
        terms.join(wfreq, "term")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_tokens"), F.sum("w_micro").alias("w_sum"))
    )
    const = F.log(F.col("n_all") + 0.5 * F.col("v")) - F.log(
        F.col("n_tgt") + 0.5 * F.col("v")
    )
    scored = perdoc.crossJoin(F.broadcast(stats)).select(
        "doc_id",
        "n_tokens",
        (
            F.floor(
                (
                    F.col("w_sum").cast("double")
                    / 1000000.0
                    / F.col("n_tokens").cast("double")
                    + const
                )
                * 10000
                + 0.5
            )
            / 10000
        ).alias("logratio"),
    )
    scored = persist_tracked(scored)

    # Two-level exact top-20% cut (round 8): the single-partition
    # row_number window previously funneled the ENTIRE scored corpus
    # through one task. scored is referenced by THREE branches below
    # (threshold agg, survivor window, non-survivor pass-through);
    # persist the narrow per-doc frame (3 columns, one row per doc) so
    # the corpus-scanning subtree runs once — without it each branch
    # re-traverses the whole explode+join+agg (pre-AQE plan showed 21
    # documents scans). Pre-filter on an approximate threshold first:
    # t = approx_percentile(logratio, 0.70) has rank error ~1/accuracy
    # (1e-4 at the default 10000), so every top-20% row (ascending rank
    # > 0.80) satisfies logratio >= t with a 0.10-rank margin — the
    # exact global window only ranks the ~30% of docs that survive, and
    # because every survivor outranks every non-survivor under the
    # (logratio DESC, doc_id) order, a survivor's rank among survivors
    # IS its global rank. Non-survivors are selected=0 by construction.
    # Exactness is unchanged (the oracle's full ROW_NUMBER agrees); the
    # one-task reducer now holds 30% of docs instead of 100% — and at
    # 100 TB the documented swap to a threshold-only cut still applies.
    thresh = scored.agg(
        F.expr("approx_percentile(logratio, 0.70)").alias("t_lo")
    )
    survivors = scored.crossJoin(F.broadcast(thresh)).filter(
        F.col("logratio") >= F.col("t_lo")
    )
    rn = F.row_number().over(Window.orderBy(F.desc("logratio"), F.asc("doc_id")))
    ranked = (
        survivors.withColumn("rn", rn)
        .crossJoin(F.broadcast(n_sel))
        .select(
            "doc_id",
            "n_tokens",
            "logratio",
            (F.col("rn") <= F.col("n_sel")).cast("bigint").alias("selected"),
        )
    )
    rest = (
        scored.crossJoin(F.broadcast(thresh))
        .filter(~(F.col("logratio") >= F.col("t_lo")))
        .select("doc_id", "n_tokens", "logratio", F.lit(0).cast("bigint").alias("selected"))
    )
    return ranked.unionByName(rest)


@register(
    "q_dup_ngram_coverage",
    oracle="""
    WITH words AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    grams AS (
        SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS gram
        FROM words, UNNEST(range(1, greatest(len(w) - 4, 0) + 1)) AS t(i)
    ),
    gram_docs AS (
        SELECT gram, COUNT(*) AS nd FROM grams GROUP BY gram
    )
    SELECT g.doc_id,
           COUNT(*) AS n_grams,
           CAST(SUM(CASE WHEN gd.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup,
           FLOOR(CAST(SUM(CASE WHEN gd.nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*) * 10000 + 0.5) / 10000 AS dup_frac
    FROM grams g JOIN gram_docs gd USING (gram)
    GROUP BY g.doc_id
    """,
    doc="Cross-document duplicated n-gram coverage (Lee et al. 2022, "
    "'Deduplicating Training Data Makes Language Models Better'): for "
    "each document, the fraction of its distinct 5-word-grams that also "
    "appear in at least one OTHER document — the per-document "
    "memorization-risk score that drives substring-level dedup decisions "
    "(q_repetition_ratio is the INTRA-doc cousin; q_ngram_jaccard is "
    "pairwise — this is corpus-global per doc). Documents shorter than "
    "5 tokens drop out on both engines (the shingle guard yields an "
    "empty array; inner semantics). Plan: gram generation is a JVM "
    "higher-order transform (map-side, within-doc distinct BEFORE the "
    "explode so the doc-frequency count is a plain COUNT(*)); one "
    "partial-aggregated shuffle keyed on gram builds the doc-frequency "
    "table; it joins back as AQE decides at runtime from its measured "
    "bytes (gram space is open-ended at 100 TB -> shuffle join), then "
    "one per-doc rollup. Never forms document PAIRS — cost is O(total "
    "grams), not O(docs^2). dup_frac uses the floor-form 4dp round: "
    "exact integer ratios can land on representable x.xxxx5 boundaries "
    "(e.g. odd/32) where the engines' native round() disagree.",
)
def q_dup_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_compactor_spark.llm.text import (
        persist_tracked,
        spread_scan,
        whitespace_tokens,
    )

    # 5-gram join + distinct per row: compute-dense map, spread it.
    d = spread_scan(load(spark, sf_dir, "documents"))
    # The exploded distinct-gram stream feeds BOTH the doc-frequency
    # agg and the probe join — the shingle+distinct pass ran twice.
    # persist_tracked runs it once (the q_winnowing_fingerprint rule).
    # Session-3 sf0.1 A/B read neutral; at the x25 ramp level: median
    # 13.2 -> 7.0 s (0.53x), identical results.
    grams = persist_tracked(
        d.select(
            "doc_id",
            F.explode(
                F.array_distinct(word_shingles(whitespace_tokens(F.col("text")), 5))
            ).alias("gram"),
        )
    )
    gram_docs = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("nd"))
    dup = F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0))
    return (
        grams.join(gram_docs, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            dup.cast("bigint").alias("n_dup"),
            (
                F.floor(dup.cast("double") / F.count(F.lit(1)) * 10000 + 0.5) / 10000
            ).alias("dup_frac"),
        )
    )


@register(
    "q_quality_classifier",
    oracle="""
    WITH tk AS (
        -- NULL text is excluded EXPLICITLY on both engines: Spark's
        -- map-only select would emit a NULL-scored row while unnest of
        -- a NULL split drops the doc here — a row-count divergence
        -- unless both sides pin the same scope.
        SELECT doc_id, unnest(string_split(text, ' ')) AS t
        FROM documents WHERE text IS NOT NULL
    ),
    w AS (
        SELECT doc_id,
               ('0x' || substr(md5(t), 1, 15))::BIGINT % 2001 - 1000 AS wt
        FROM tk
    ),
    agg AS (
        SELECT doc_id, COUNT(*) AS n_tokens, SUM(wt) AS logit_sum
        FROM w GROUP BY doc_id
    )
    SELECT doc_id,
           CAST(n_tokens  AS BIGINT) AS n_tokens,
           CAST(logit_sum AS BIGINT) AS logit_sum,
           FLOOR(CAST(logit_sum AS DOUBLE) / n_tokens * 10000 + 0.5)
               / 10000 AS mean_weight,
           CAST(CASE WHEN logit_sum >= 0 THEN 1 ELSE 0 END AS BIGINT)
               AS keep
    FROM agg
    """,
    doc="Hashing-trick linear quality classifier — the learned-filter "
    "stage of DCLM / FineWeb-Edu pipelines (a fastText-style linear "
    "model scores every page; only top-scoring pages enter the training "
    "mix). The model here is the degenerate-but-exact stand-in: each "
    "token's weight is derived from the engine-portable 60-bit md5 hash "
    "(w = h % 2001 - 1000, an INTEGER in [-1000, 1000]), the document "
    "logit is the integer SUM of token weights (exact under ANY "
    "summation order — no float-accumulation drift between engines or "
    "partitionings), and keep thresholds the raw logit at 0 (sigmoid is "
    "monotone, so thresholding the probability IS thresholding the "
    "logit — the float sigmoid never needs to be computed, let alone "
    "compared). mean_weight renders via the floor-form 4dp round on one "
    "IEEE division of identical integers — bit-identical. Plan: ZERO "
    "shuffles — the token fold is a JVM higher-order aggregate over the "
    "split array (map-only, whole-stage codegen); with a real trained "
    "model the only change is a broadcast int-weight array indexed by "
    "pmod(hash, B) (hashing trick, B~1M buckets, a few MB) — the plan "
    "gains one broadcast variable and stays map-only.",
)
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Scope pinned to non-NULL text on both engines (see oracle note).
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    logit = F.expr(
        "aggregate(split(text, ' ', -1), 0L, (acc, t) -> acc"
        " + pmod(cast(conv(substr(md5(t), 1, 15), 16, 10) as bigint), 2001L)"
        " - 1000L)"
    )
    n = F.size(F.split(F.col("text"), " ", -1)).cast("bigint")
    return d.select(
        "doc_id",
        n.alias("n_tokens"),
        logit.alias("logit_sum"),
        (F.floor(logit.cast("double") / n * 10000 + 0.5) / 10000).alias(
            "mean_weight"
        ),
        (logit >= 0).cast("bigint").alias("keep"),
    )


# BPE-ish pre-tokenization regex, shared with q_token_count (text.py);
# duplicated as a literal into the f-string oracles below via this import.
from parquet_compactor_spark.llm.text import TOKEN_REGEX as _TOKEN_REGEX  # noqa: E402


@register(
    "q_context_length",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source,
               len(regexp_extract_all(text, '{_TOKEN_REGEX}')) AS n_tok
        FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           CAST(SUM(CASE WHEN n_tok <= {PACK_BUDGET} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_fit,
           CAST(SUM(CASE WHEN n_tok > {PACK_BUDGET}
                         THEN n_tok - {PACK_BUDGET} ELSE 0 END)
                AS BIGINT) AS truncated_tokens,
           CAST(SUM((n_tok + {PACK_BUDGET} - 1) // {PACK_BUDGET}) AS BIGINT)
               AS windows_needed,
           CAST(SUM(((n_tok + {PACK_BUDGET} - 1) // {PACK_BUDGET})
                    * {PACK_BUDGET} - n_tok) AS BIGINT) AS pad_tokens,
           CASE WHEN SUM((n_tok + {PACK_BUDGET} - 1) // {PACK_BUDGET}) = 0
                THEN NULL
                ELSE FLOOR(CAST(SUM(n_tok) AS DOUBLE)
                           / (CAST(SUM((n_tok + {PACK_BUDGET} - 1)
                                       // {PACK_BUDGET}) AS DOUBLE)
                              * {PACK_BUDGET}) * 10000 + 0.5) / 10000
           END AS fill_frac
    FROM toks GROUP BY source
    """,
    doc="Tokenizer-aware context-length statistics per source: BPE-ish "
    "token counts (q_token_count's regex pre-tokenizer, NOT whitespace "
    "words) against the PACK_BUDGET-token context window. Reports the "
    "two packing regimes' costs side by side: TRUNCATION (docs cut to "
    "one window: truncated_tokens lost) and DOC-BOUNDARY PADDING (each "
    "doc padded up to a whole number of windows: windows_needed, "
    "pad_tokens wasted, fill_frac achieved) — the numbers that decide "
    "between truncation, padding, and q_seq_packing's concat-then-chunk "
    "(whose avg_fill is the third regime's same metric; at these "
    "budgets concat packing always wins on fill, and this query prices "
    "exactly what padding throws away). All integer-exact arithmetic "
    "(bigint div/ceil; the one float division is floor-form-rounded "
    "over identical operands, guarded against an all-empty source). "
    "Plan: scan -> map (regexp count is JVM codegen) -> one partial-"
    "aggregated rollup on source; no joins, no windows — scales as a "
    "single pass at 100 TB.",
)
def q_context_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    n_tok = F.size(F.regexp_extract_all(F.col("text"), F.lit(_TOKEN_REGEX), 0))
    B = PACK_BUDGET
    toks = d.select("doc_id", "source", n_tok.alias("n_tok"))
    windows = F.floor((F.col("n_tok") + (B - 1)) / B).cast("bigint")
    sum_windows = F.sum(windows)
    return toks.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
        F.sum(F.when(F.col("n_tok") <= B, 1).otherwise(0))
        .cast("bigint")
        .alias("n_fit"),
        F.sum(F.when(F.col("n_tok") > B, F.col("n_tok") - B).otherwise(0))
        .cast("bigint")
        .alias("truncated_tokens"),
        sum_windows.cast("bigint").alias("windows_needed"),
        F.sum(windows * B - F.col("n_tok")).cast("bigint").alias("pad_tokens"),
        F.when(
            sum_windows == 0, F.lit(None).cast("double")
        )
        .otherwise(
            F.floor(
                F.sum("n_tok").cast("double")
                / (sum_windows.cast("double") * B)
                * 10000
                + 0.5
            )
            / 10000
        )
        .alias("fill_frac"),
    )


@register(
    "q_lang_temperature",
    oracle="""
    WITH counts AS (
        SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang
    ),
    scored AS (
        SELECT lang, n_docs,
               CAST(SUM(n_docs) OVER () AS BIGINT) AS n_total
        FROM counts
    ),
    u AS (
        SELECT lang, n_docs, n_total,
               CAST(FLOOR(exp(0.3 * ln(CAST(n_docs AS DOUBLE)
                                       / CAST(n_total AS DOUBLE)))
                          * 1000000 + 0.5) AS BIGINT) AS u_micro
        FROM scored
    )
    SELECT lang,
           n_docs,
           (n_docs * 1000000) // n_total AS share_ppm,
           -- CAST: DuckDB types BIGINT // (windowed SUM of BIGINT) as
           -- HUGEINT (the windowed SUM is HUGEINT); values fit bigint but
           -- the driver hashes representations, so pin the output type.
           CAST((u_micro * 1000000) // SUM(u_micro) OVER () AS BIGINT)
               AS sample_ppm,
           CAST((u_micro * 100000) // SUM(u_micro) OVER () AS BIGINT)
               AS budget_docs
    FROM u
    """,
    doc="Temperature-scaled multilingual sampling weights (Conneau et "
    "al. 2020, XLM-R SS3: sample language l with p_l proportional to "
    "(n_l/N)^alpha, alpha=0.3 — upsamples low-resource languages "
    "relative to their raw share without letting any language dominate). "
    "Emits each language's raw corpus share, its temperature-adjusted "
    "sampling probability, and its document budget out of a 100k-doc "
    "epoch. The single pow() chain per LANGUAGE (not per doc) is "
    "floor-rounded to integer micro-units immediately, so the "
    "normalization and budget allocation are exact bigint division — "
    "engine-identical regardless of accumulation order. Plan: one "
    "partial-aggregated count rollup on lang, then two unpartitioned "
    "window sums over the LANGUAGE table (cardinality ~dozens — a "
    "deliberate single-partition reduction of an already-tiny frame, "
    "never over docs). At 100 TB the per-doc work is one count; "
    "everything downstream is O(languages).",
)
def q_lang_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    w_all = Window.partitionBy()
    scored = counts.withColumn(
        "n_total", F.sum("n_docs").over(w_all).cast("bigint")
    )
    u_micro = F.floor(
        F.exp(
            F.lit(0.3)
            * F.log(F.col("n_docs").cast("double") / F.col("n_total").cast("double"))
        )
        * 1000000
        + 0.5
    ).cast("bigint")
    u = scored.withColumn("u_micro", u_micro).withColumn(
        "den", F.sum("u_micro").over(w_all)
    )
    return u.select(
        "lang",
        "n_docs",
        F.expr("(n_docs * 1000000) div n_total").alias("share_ppm"),
        F.expr("(u_micro * 1000000) div den").alias("sample_ppm"),
        F.expr("(u_micro * 100000) div den").alias("budget_docs"),
    )


@register(
    "q_bpe_merge_pairs",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS w
        FROM documents WHERE text IS NOT NULL
    ),
    p AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(w)),
                                     i -> w[i] || ' ' || w[i+1])) AS pair
        FROM t WHERE len(w) >= 2
    )
    SELECT pair, COUNT(*) AS cnt, COUNT(DISTINCT doc_id) AS n_docs
    FROM p GROUP BY pair
    ORDER BY cnt DESC, pair LIMIT 50
    """,
    doc="BPE merge-pair statistics (Sennrich et al. 2016's vocabulary-"
    "induction inner loop): the 50 most frequent ADJACENT token pairs "
    "over the corpus, with corpus frequency and document frequency — "
    "the argmax of this table is the next merge a BPE trainer would "
    "apply. Deterministic: ties at the cut broken by pair text (both "
    "engines binary collation). Plan: one map-side transform+explode "
    "(O(tokens) rows, no doc pairs), then a TWO-LEVEL hash aggregate — "
    "(pair, doc_id) partial counts, then per-pair sum/count — instead "
    "of count+countDistinct in one agg, which would trigger the "
    "distinct-rewrite Expand (the q_approx_stats pathology class); "
    "both levels partial-aggregate map-side. Top-50 is orderBy+limit "
    "= TakeOrderedAndProject, a bounded per-partition heap merged on "
    "the driver — no global sort of the pair vocabulary (which at "
    "100 TB is billions of distinct bigrams). Empty tokens from "
    "multi-space runs are filtered on both engines; NULL text is "
    "scoped out on both. Reference parity note: the reference engine "
    "(parquet_compactor.py) has no text operators — north-star "
    "surface per SURVEY.md SS2B.",
)
def q_bpe_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_compactor_spark.llm.text import whitespace_tokens

    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    ws = F.filter(whitespace_tokens(F.col("text")), lambda x: x != "")
    toks = d.select("doc_id", ws.alias("ws"))
    pairs = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                """
                CASE WHEN size(ws) >= 2
                THEN transform(sequence(0, size(ws) - 2),
                               i -> concat(ws[i], ' ', ws[i+1]))
                ELSE array() END
                """
            )
        ).alias("pair"),
    )
    per_doc = pairs.groupBy("pair", "doc_id").agg(F.count(F.lit(1)).alias("c"))
    g = per_doc.groupBy("pair").agg(
        F.sum("c").alias("cnt"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    return g.orderBy(F.col("cnt").desc(), F.col("pair").asc()).limit(50)


@register(
    "q_collocation_pmi",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS w
        FROM documents WHERE text IS NOT NULL
    ),
    bg AS (
        SELECT p.w1 AS w1, p.w2 AS w2
        FROM (SELECT unnest(list_transform(range(1, len(w)),
                                           i -> {'w1': w[i], 'w2': w[i+1]})) AS p
              FROM t WHERE len(w) >= 2)
    ),
    pc AS (SELECT w1, w2, COUNT(*) AS n_xy FROM bg GROUP BY w1, w2),
    uni AS (
        SELECT term, COUNT(*) AS n_x
        FROM (SELECT unnest(w) AS term FROM t) GROUP BY term
    ),
    tot AS (
        SELECT (SELECT CAST(SUM(n_xy) AS DOUBLE) FROM pc) AS n_pairs,
               (SELECT CAST(SUM(n_x) AS DOUBLE) FROM uni) AS n_tok
    )
    SELECT pc.w1, pc.w2, pc.n_xy AS pair_n,
           CAST(FLOOR(ln((CAST(pc.n_xy AS DOUBLE) / tot.n_pairs)
                         / ((CAST(u1.n_x AS DOUBLE) / tot.n_tok)
                            * (CAST(u2.n_x AS DOUBLE) / tot.n_tok)))
                      * 1000000 + 0.5) AS BIGINT) AS pmi_micro
    FROM pc
    JOIN uni u1 ON pc.w1 = u1.term
    JOIN uni u2 ON pc.w2 = u2.term
    CROSS JOIN tot
    WHERE pc.n_xy >= 5
    ORDER BY pmi_micro DESC, pc.w1, pc.w2
    LIMIT 20
    """,
    doc="PMI collocation extraction (Church & Hanks 1990's word-"
    "association ratio — the classic phrase-mining statistic, and the "
    "scoring rule behind multi-word vocabulary induction): "
    "pmi(x,y) = ln( p(xy) / (p(x)p(y)) ) over ADJACENT token pairs, "
    "with p(xy) normalized by total bigram count and the unigram "
    "marginals by total token count; pairs seen <5 times are dropped "
    "(the standard variance guard — PMI of a hapax pair is pure "
    "noise), and the top-20 by PMI is the proposed collocation list. "
    "Differs from q_bpe_merge_pairs by NORMALIZATION: raw pair "
    "frequency finds 'of the'; PMI finds pairs whose words rarely "
    "appear apart. Engine-exactness: the PMI expression is written in "
    "the identical IEEE shape on both engines and floor-rounded to "
    "integer micro-units, with (w1, w2) tiebreaks at the cut — only "
    "BIGINTs and strings cross the boundary. Plan: one tokenized scan "
    "feeds the pair explode; pair counts and unigram marginals "
    "aggregate into one cached count table, joined as AQE decides at "
    "runtime from measured bytes (gram space is open-ended at 100 TB); "
    "both corpus totals reduce over the CACHED aggregates (1-row "
    "broadcast crossJoin, zero extra corpus scans); the min-count "
    "filter prunes the pair table BEFORE its "
    "two marginal joins; top-20 is TakeOrderedAndProject (bounded "
    "per-partition heaps, no global sort of the pair vocabulary). "
    "Reference parity note: the reference engine has no text "
    "operators; north-star surface per SURVEY.md SS2B.",
)
def q_collocation_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_compactor_spark.llm.text import persist_tracked, whitespace_tokens

    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    ws = F.filter(whitespace_tokens(F.col("text")), lambda x: x != "")
    # Deliberately NO spread_scan (measured r14, interleaved same-JVM
    # A/B x6): median 2.36 s without vs 3.06 s with — the extra
    # round-robin exchange loses to the explode it parallelizes (the
    # simhash-signatures finding, same class).
    toks = d.select(ws.alias("ws"))
    # ONE combined model pass (r14 session 4, the q_bigram_backoff
    # change): pair and unigram counts used to aggregate in two
    # separate passes, each re-scanning + re-tokenizing the corpus. One explode
    # of concat(unigram structs w2=NULL, pair structs) feeds one
    # persisted count table; `w2 IS NULL` splits it exactly. Local A/B
    # read parity (1.60 vs 1.60 s — the timed part runs on the cached
    # vocab either way); kept for the scan count at scale: 2 corpus
    # passes -> 1.
    combo_expr = F.expr(
        """
        concat(
          transform(ws, t -> struct(t AS w1, CAST(NULL AS string) AS w2)),
          CASE WHEN size(ws) >= 2
          THEN transform(sequence(0, size(ws) - 2),
                         i -> struct(ws[i] AS w1, ws[i + 1] AS w2))
          ELSE CAST(array() AS array<struct<w1: string, w2: string>>) END
        )
        """
    )
    cnt = persist_tracked(
        toks.select(F.explode(combo_expr).alias("p"))
        .groupBy("p.w1", "p.w2")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pc = cnt.filter(F.col("w2").isNotNull()).select(
        "w1", "w2", F.col("n").alias("n_xy")
    )
    uni = cnt.filter(F.col("w2").isNull()).select(
        F.col("w1").alias("term"), F.col("n").alias("n_x")
    )
    tot = pc.agg(F.sum("n_xy").cast("double").alias("n_pairs")).crossJoin(
        uni.agg(F.sum("n_x").cast("double").alias("n_tok"))
    )
    u1 = uni.select(F.col("term").alias("w1"), F.col("n_x").alias("nx1"))
    u2 = uni.select(F.col("term").alias("w2"), F.col("n_x").alias("nx2"))
    pmi_micro = F.floor(
        F.log(
            (F.col("n_xy").cast("double") / F.col("n_pairs"))
            / (
                (F.col("nx1").cast("double") / F.col("n_tok"))
                * (F.col("nx2").cast("double") / F.col("n_tok"))
            )
        )
        * 1000000
        + 0.5
    ).cast("bigint")
    scored = (
        pc.filter(F.col("n_xy") >= 5)
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            F.col("n_xy").alias("pair_n"),
            pmi_micro.alias("pmi_micro"),
        )
    )
    return scored.orderBy(
        F.col("pmi_micro").desc(), F.col("w1").asc(), F.col("w2").asc()
    ).limit(20)


@register(
    "q_mixture_epochs",
    oracle="""
    WITH tok AS (
        SELECT source,
               CAST(SUM(len(list_filter(string_split(text, ' '),
                                        x -> x <> ''))) AS BIGINT) AS n_tokens
        FROM documents WHERE text IS NOT NULL
        GROUP BY source
        HAVING SUM(len(list_filter(string_split(text, ' '),
                                   x -> x <> ''))) > 0
    ),
    u AS (
        SELECT source, n_tokens,
               CAST(SUM(n_tokens) OVER () AS BIGINT) AS t_total,
               CAST(FLOOR(exp(0.7 * ln(CAST(n_tokens AS DOUBLE)
                                       / CAST(SUM(n_tokens) OVER () AS DOUBLE)))
                          * 1000000 + 0.5) AS BIGINT) AS w_micro
        FROM tok
    ),
    d AS (SELECT u.*, CAST(SUM(w_micro) OVER () AS BIGINT) AS den FROM u)
    SELECT source, n_tokens,
           CAST((w_micro * 1000000) // den AS BIGINT) AS weight_ppm,
           CAST((w_micro * 10000000) // den AS BIGINT) AS alloc_tokens,
           CAST(((w_micro * 10000000) // den) * 1000 // n_tokens AS BIGINT)
               AS epochs_milli
    FROM d
    """,
    doc="Data-mixture epoch allocation (the LLaMA-style pretraining "
    "mixture table: given a total token budget and temperature-scaled "
    "domain weights, how many EPOCHS of each source does training "
    "consume — epochs > 1.0 meaning deliberate repetition of "
    "small-but-valuable domains, e.g. LLaMA's 2.45 epochs of "
    "Wikipedia): per-source token counts are temperature-scaled with "
    "alpha = 0.7 (w_s proportional to (t_s/T)^0.7 via the exp/ln chain, "
    "floor-rounded to integer micro-units exactly as q_lang_temperature "
    "does for document shares), the budget of 10,000,000 tokens is "
    "allocated by exact integer arithmetic on the micro-weights, and "
    "epochs_milli = allocated/available in thousandths. DIFFERS from "
    "q_lang_temperature in every axis that matters operationally: "
    "TOKEN-weighted (not doc-count) shares, per SOURCE (not language), "
    "and the output is the repetition factor a dataloader consumes. "
    "Zero-token sources (non-NULL but whitespace-only texts) are scoped "
    "out identically on both engines (HAVING > 0 / filter > 0): DuckDB's "
    "ln(0) ABORTS the query while Spark's F.log(0) returns NULL — a "
    "differential-harness divergence class, pinned by the hostile-data "
    "fixture's whitespace-only source. "
    "Engine-exactness: the one libm chain (exp/ln) floor-rounds to "
    "micro-units; every division after it is integer // with identical "
    "operands — only BIGINTs and the source string cross the engine "
    "boundary (all windowed-SUM intermediates CAST AS BIGINT: DuckDB "
    "types them HUGEINT — the q_lang_temperature driver-red class, "
    "now linted). Plan: one map-side token-count scan into a per-"
    "source partial agg; everything after is O(sources) — the "
    "unpartitioned windows run on a source-count-sized table, never "
    "the corpus. Reference parity note: the reference engine has no "
    "text operators; north-star surface per SURVEY.md SS2B.",
)
def q_mixture_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_compactor_spark.llm.text import whitespace_tokens

    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    ws = F.filter(whitespace_tokens(F.col("text")), lambda x: x != "")
    tok = d.groupBy("source").agg(
        F.sum(F.size(ws)).cast("bigint").alias("n_tokens")
    ).filter(F.col("n_tokens") > 0)
    w_all = Window.partitionBy()
    u = tok.withColumn(
        "t_total", F.sum("n_tokens").over(w_all).cast("bigint")
    ).withColumn(
        "w_micro",
        F.floor(
            F.exp(
                F.lit(0.7)
                * F.log(
                    F.col("n_tokens").cast("double")
                    / F.col("t_total").cast("double")
                )
            )
            * 1000000
            + 0.5
        ).cast("bigint"),
    )
    dd = u.withColumn("den", F.sum("w_micro").over(w_all).cast("bigint"))
    return dd.select(
        "source",
        "n_tokens",
        F.expr("(w_micro * 1000000) div den").alias("weight_ppm"),
        F.expr("(w_micro * 10000000) div den").alias("alloc_tokens"),
        F.expr("((w_micro * 10000000) div den) * 1000 div n_tokens").alias(
            "epochs_milli"
        ),
    )


@register(
    "q_padding_waste",
    oracle="""
    WITH t AS (
        SELECT least(len(list_filter(string_split(text, ' '),
                                     x -> x <> '')), 128) AS tok
        FROM documents WHERE text IS NOT NULL
    ),
    b AS (SELECT ((tok + 15) // 16) * 16 AS bucket, tok FROM t WHERE tok >= 1)
    SELECT CAST(bucket AS BIGINT) AS bucket_len,
           COUNT(*) AS n_docs,
           CAST(SUM(tok) AS BIGINT) AS sum_tokens,
           CAST(COUNT(*) * bucket AS BIGINT) AS padded_tokens,
           CAST(((COUNT(*) * bucket - CAST(SUM(tok) AS BIGINT)) * 1000000)
                // (COUNT(*) * bucket) AS BIGINT) AS waste_ppm,
           CAST(((COUNT(*) * 128 - CAST(SUM(tok) AS BIGINT)) * 1000000)
                // (COUNT(*) * 128) AS BIGINT) AS naive_waste_ppm
    FROM b GROUP BY bucket
    """,
    doc="Padding-waste accounting for length-bucketed training batches: "
    "cap each document's whitespace token count at a 128-token context, "
    "assign it to a 16-token length bucket (the bucketed-batching "
    "strategy of fairseq/T5 data loaders), and report per bucket the "
    "padding overhead of bucketed batching (pad to bucket ceiling) vs "
    "naive batching (pad everything to the 128-token context cap) in "
    "exact integer ppm. The "
    "gap between waste_ppm and naive_waste_ppm is the compute a bucketed "
    "loader saves — the number that justifies length-grouped sampling "
    "at scale (context length and bucket width are deployment knobs; "
    "sized here to straddle the fixture's 10-99-token documents). "
    "Plan: pure map (split/size/least/div) + ONE "
    "partial-aggregated hash agg on an 8-value bucket key — "
    "embarrassingly parallel, no joins, no windows; the integer ppm "
    "divisions are engine-exact. At 100 TB this is scan-bound.",
)
def q_padding_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_compactor_spark.llm.text import whitespace_tokens

    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    tok = F.least(
        F.size(F.filter(whitespace_tokens(F.col("text")), lambda x: x != "")),
        F.lit(128),
    ).cast("bigint")
    b = d.select(tok.alias("tok")).filter(F.col("tok") >= 1)
    b = b.withColumn("bucket", F.expr("((tok + 15) div 16) * 16"))
    g = b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tok").alias("sum_tokens"),
    )
    return g.select(
        F.col("bucket").cast("bigint").alias("bucket_len"),
        "n_docs",
        "sum_tokens",
        (F.col("n_docs") * F.col("bucket")).cast("bigint").alias("padded_tokens"),
        F.expr(
            "CAST(((n_docs * bucket - sum_tokens) * 1000000)"
            " div (n_docs * bucket) AS BIGINT)"
        ).alias("waste_ppm"),
        F.expr(
            "CAST(((n_docs * 128 - sum_tokens) * 1000000)"
            " div (n_docs * 128) AS BIGINT)"
        ).alias("naive_waste_ppm"),
    )


# DoReMi domain reweighting (Xie et al. 2023, "DoReMi: Optimizing Data
# Mixtures Speeds Up Language Model Pretraining"): Group-DRO
# multiplicative-weights iteration over domain excess loss, linearized
# to exact integer micro-units so every round is bit-identical across
# engines (the ln/exp-free discipline q_pagerank established for
# iterative recurrences).
DOREMI_ROUNDS = 3
DOREMI_CAP_MICRO = 400_000  # per-domain weight cap (0.4) applied each round
DOREMI_ETA_DIV = 10  # eta = 1/10: factor = 1e6 + excess_micro // 10


def _doremi_oracle() -> str:
    cap = DOREMI_CAP_MICRO
    eta = DOREMI_ETA_DIV
    rounds = "".join(
        f"""
    u{r} AS (
        SELECT *, (w * (1000000 + excess_micro // {eta})) // 1000000 AS u
        FROM {"r0" if r == 1 else f"n{r - 1}"}
    ),
    n{r} AS (
        SELECT source, n_docs, nd, excess_micro,
               LEAST(CAST((u * 1000000)
                          // CAST(SUM(u) OVER () AS BIGINT)
                          AS BIGINT), {cap}) AS w
        FROM u{r}
    ),"""
        for r in range(1, DOREMI_ROUNDS + 1)
    )
    last = f"n{DOREMI_ROUNDS}"
    return f"""
    WITH dom AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tok
        FROM documents GROUP BY source
    ),
    tot AS (
        SELECT CAST(SUM(n_docs) AS BIGINT) AS td,
               CAST(SUM(sum_tok) AS BIGINT) AS tt,
               CAST(COUNT(*) AS BIGINT) AS nd
        FROM dom
    ),
    ex AS (
        SELECT d.source, d.n_docs, t.nd,
               GREATEST(
                   CAST(FLOOR(
                       (CAST(d.sum_tok AS DOUBLE) / CAST(d.n_docs AS DOUBLE))
                       / (CAST(t.tt AS DOUBLE) / CAST(t.td AS DOUBLE))
                       * 1000000 + 0.5) AS BIGINT) - 1000000,
                   CAST(0 AS BIGINT)) AS excess_micro
        FROM dom d CROSS JOIN tot t
    ),
    r0 AS (SELECT *, 1000000 // nd AS w FROM ex),{rounds}
    fin AS (
        SELECT source, n_docs, nd, excess_micro,
               CAST((w * 1000000)
                    // CAST(SUM(w) OVER () AS BIGINT)
                    AS BIGINT) AS wn
        FROM {last}
    )
    SELECT source, n_docs, excess_micro,
           CAST((wn * 9) // 10 + 1000000 // (10 * nd) AS BIGINT) AS w_micro,
           CAST(CAST((wn * 9) // 10 + 1000000 // (10 * nd) AS BIGINT)
                AS DOUBLE) / 1000000 AS w_frac
    FROM fin
    """


@register(
    "q_doremi_weights",
    oracle=_doremi_oracle(),
    doc="DoReMi-style domain-mixture reweighting (Xie et al. 2023): "
    "Group-DRO multiplicative-weights iteration over per-domain excess "
    "loss, with per-round clipping and a final uniform-smoothing mix — "
    "the data-engine half of DoReMi, with the proxy/reference model "
    "loss gap replaced by a deterministic corpus statistic (relative "
    "mean document length, the same stand-in q_dsir_weights uses for "
    "importance). The recurrence is LINEARIZED to exact bigint "
    "micro-units (w <- w * (1e6 + eta*excess) div 1e6, renormalize by "
    "integer div, clip at 0.4) instead of exp(eta*L): same monotone "
    "update direction, zero float accumulation — engine-identical on "
    "every round, the q_pagerank integer-fixed-point discipline. "
    "Per-round clipping makes the 3 unrolled rounds genuinely "
    "iterative (a clip between rounds is not foldable into one "
    "exp-sum). Plan: one corpus-scan agg to the per-domain table "
    "(map-side partial on the source key), then every round is a "
    "LINEAR chain of column arithmetic + one unpartitioned windowed "
    "SUM on the DOMAINS-sized frame — deliberately a window, not an "
    "agg+crossJoin of the same frame, because branching the iterating "
    "frame doubles the unshared plan subtree EVERY round (measured: "
    "the crossJoin form re-ran the corpus scan 2^rounds times). The "
    "single-partition window exchange moves dozens of rows; at 100 TB "
    "domains number in the dozens, so the whole iteration is free next "
    "to the single corpus scan. Final weights sum to ~1e6 ppm and feed "
    "q_mixture_epochs/q_lang_temperature-style samplers downstream.",
)
def q_doremi_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_compactor_spark.llm.text import whitespace_tokens

    d = load(spark, sf_dir, "documents")
    dom = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.size(whitespace_tokens(F.col("text"))).cast("bigint")).alias(
            "sum_tok"
        ),
    )
    # Corpus totals AND every round's renormalizing sum are windowed
    # sums over the domains-sized frame: the whole iteration is ONE
    # linear plan chain off a single corpus scan. (An agg+crossJoin per
    # round references the iterating frame from two branches — the
    # unshared subtree doubles every round and the measured plan re-ran
    # the corpus scan 2^rounds times.)
    wall = Window.partitionBy()
    ex = (
        dom.withColumn("td", F.sum("n_docs").over(wall).cast("bigint"))
        .withColumn("tt", F.sum("sum_tok").over(wall).cast("bigint"))
        .withColumn("nd", F.count(F.lit(1)).over(wall).cast("bigint"))
        .select(
            "source",
            "n_docs",
            "nd",
            F.greatest(
                F.floor(
                    (
                        F.col("sum_tok").cast("double")
                        / F.col("n_docs").cast("double")
                    )
                    / (F.col("tt").cast("double") / F.col("td").cast("double"))
                    * 1000000
                    + 0.5
                ).cast("bigint")
                - 1000000,
                F.lit(0).cast("bigint"),
            ).alias("excess_micro"),
        )
    )
    w = ex.withColumn("w", F.expr("1000000 div nd"))
    for _ in range(DOREMI_ROUNDS):
        w = (
            w.withColumn(
                "u",
                F.expr(
                    f"(w * (1000000 + excess_micro div {DOREMI_ETA_DIV}))"
                    " div 1000000"
                ),
            )
            .withColumn("s", F.sum("u").over(wall).cast("bigint"))
            .withColumn(
                "w",
                F.expr(f"least((u * 1000000) div s, {DOREMI_CAP_MICRO})"),
            )
            .drop("u", "s")
        )
    w = (
        w.withColumn("s", F.sum("w").over(wall).cast("bigint"))
        .withColumn("wn", F.expr("(w * 1000000) div s"))
    )
    w_micro = F.expr("CAST((wn * 9) div 10 + 1000000 div (10 * nd) AS BIGINT)")
    return w.select(
        "source",
        "n_docs",
        "excess_micro",
        w_micro.alias("w_micro"),
        (w_micro.cast("double") / 1000000).alias("w_frac"),
    )


# Explicit Bloom-filter runtime-filter stage for the snapshot-delta
# anti-join. Spark's optimizer injects the same structure inside joins
# (spark.sql.optimizer.runtime.bloomFilter.*); materializing it as an
# operator makes the 100 TB pruning pattern auditable: the filter is
# m bits of driver-broadcastable state, probes are k integer hashes,
# and the EXACT anti-join only ever sees the bloom's survivors.
BLOOM_MIN_BITS = 65536  # m floor: 8 KiB as a real bitmap
BLOOM_BITS_PER_KEY = 10  # sizing rule: m >= 10 bits per old-snapshot key
BLOOM_K = 4  # k: hash probes per fingerprint


def _bloom_m(n_keys: Column) -> Column:
    """Bit-position space sized from the MEASURED key cardinality, in
    the plan: the next power of two >= BLOOM_BITS_PER_KEY * n_keys
    (floor 65536). A constant m saturates as the snapshot grows — at
    ~15k keys a fixed 65536-bit filter passes, at sf>=0.5 its
    false-positive survivors blow the 5% pruning budget and the query
    goes red. 10 bits/key with k=4 holds the fill factor at
    1-exp(-0.4) ~= 0.33 and the fp rate at ~1.2% INDEPENDENT of scale,
    so the fp_ok contract is a theorem, not a fixture-size coincidence.
    Integer arithmetic only: above the floor, m = 1 << bit_length(t-1)
    for t = BLOOM_BITS_PER_KEY * n_keys, with the bit length read as
    the length of ``bin(t - 1)`` (log2/ceil on doubles can misround at
    exact powers of two)."""
    t = n_keys.cast("bigint") * BLOOM_BITS_PER_KEY
    # call_function: F.shiftleft takes only a Python int shift.
    return F.when(t <= BLOOM_MIN_BITS, F.lit(BLOOM_MIN_BITS).cast("bigint")).otherwise(
        F.call_function("shiftleft", F.lit(1).cast("bigint"), F.length(F.bin(t - 1)))
    )


def _bloom_positions(fp: Column, m: Column) -> list[Column]:
    """k integer bit positions for a fingerprint: xxhash64 seeded by the
    probe index (JVM-side, no Python), folded into [0, m)."""
    return [F.pmod(F.xxhash64(fp, F.lit(i)), m) for i in range(BLOOM_K)]


@register(
    "q_bloom_delta",
    oracle="""
    WITH old_snap AS (
        SELECT DISTINCT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
            AS fp
        FROM documents WHERE doc_id % 3 <> 0
    ),
    new_batch AS (
        SELECT doc_id, lang,
               md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
        FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN NOT EXISTS
                        (SELECT 1 FROM old_snap o WHERE o.fp = n.fp)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_true_new,
           TRUE AS no_false_neg,
           TRUE AS fp_ok
    FROM new_batch n
    GROUP BY lang
    """,
    doc="Bloom-filter-gated snapshot delta — the runtime-filter pattern "
    "q_snapshot_delta's 100 TB note promises, materialized as an "
    "auditable operator instead of trusting the optimizer: the OLD "
    "snapshot's normalized fingerprints set k=4 xxhash64-derived bit "
    "positions in a Bloom filter whose position space m is SIZED FROM "
    "the snapshot's measured cardinality (next power of two >= 10 "
    "bits/key, floor 65536 — a constant m saturates once the snapshot "
    "outgrows the fixture; 10 bits/key pins the fill factor at ~0.33 "
    "and the fp rate at ~1.2% at EVERY scale; built as a position table "
    "of k rows per old fingerprint, duplicates kept — broadcastable; a "
    "real deployment packs it to m/8 bytes), and every NEW document "
    "flags its 4 positions with k correlated EXISTS subqueries, each "
    "hinting the position table broadcast, which Spark plans as "
    "ExistenceJoins against ONE broadcast position table at any "
    "autoBroadcastJoinThreshold: "
    "all-k-hit = 'maybe present' (must still pass the exact check), "
    "any-miss = DEFINITELY new (skips the exact anti-join entirely). "
    "At 100 TB the bloom prunes the anti-join's probe side to the "
    "tiny maybe set for ~8 KiB of shipped state per million old docs "
    "— the exact-check exchange shrinks by the true-new fraction. "
    "DERIVED-INVARIANT oracle (the q_hll_sketch pattern, since DuckDB "
    "cannot replay JVM xxhash64): exact per-language n_docs/n_true_new "
    "are hash-compared directly, and the bloom's two contracts are "
    "output as booleans the oracle pins TRUE — no_false_neg (every "
    "actually-present doc is a bloom hit: the pruning NEVER loses a "
    "duplicate, by Bloom construction) and fp_ok (false-positive "
    "survivors of the pruning stay under 5% of the batch; theory at "
    "the sized fill factor predicts ~1.2e-2). NULL-text docs have NULL "
    "fingerprints: never present exactly (NULL never equals), so any "
    "bloom collision lands in the bounded false-positive budget.",
)
def q_bloom_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_compactor_spark.llm.text import normalized_fingerprint

    d = load(spark, sf_dir, "documents")
    fp = normalized_fingerprint(F.col("text")).alias("fp")
    # old_snap feeds THREE consumers (the m sizing count, the bit-table
    # build and the exact-membership join); all of them read its
    # DISTINCT exchange, which AQE runs once and reuses, so it is not
    # persisted. It holds only non-NULL fingerprints: a NULL never
    # matches exactly, and filtering it here keeps the exact join's
    # inferred IS NOT NULL from giving that consumer a subtree of its
    # own (a second snapshot scan + distinct).
    old_snap = (
        d.filter(F.col("doc_id") % 3 != 0)
        .select(fp)
        .filter(F.col("fp").isNotNull())
        .distinct()
    )
    # Size m from the snapshot's MEASURED cardinality as a 1-row
    # relation, broadcast-crossed into both the build and the probe
    # side: the query stays one action, no driver count. Sizing from
    # the build set is how a real bloom build sizes itself; it keeps
    # the fp_ok contract scale-independent instead of pinned to the
    # fixture's ~3k fingerprints.
    m_tbl = F.broadcast(old_snap.agg(_bloom_m(F.count(F.lit(1))).alias("m")))

    # Build: k set-bit positions per old fingerprint. Duplicate positions
    # stay: an existence join emits one flag per probe row whatever the
    # build side's multiplicity, so a distinct would only add a shuffle.
    bits = old_snap.crossJoin(m_tbl).select(
        F.explode(F.array(*_bloom_positions(F.col("fp"), F.col("m")))).alias("pos")
    )
    # Probe: each of the k positions is a correlated EXISTS over the one
    # bit table, which Spark plans as k row-preserving ExistenceJoins
    # that all read the same broadcast relation (AQE reuses it). The
    # hint sits inside the subquery: without it the join strategy
    # follows the bit table's size estimate, and past the threshold each
    # probe would become a shuffled existence join that reshuffles the
    # whole new batch on its own key. Each probe tests its own position,
    # duplicate probe positions included. The bloom gate adds no
    # exchange; the only shuffle after the m broadcast is the final
    # per-language rollup.
    probes = _bloom_positions(F.col("fp"), F.col("m"))
    probed = d.select("doc_id", "lang", fp).crossJoin(m_tbl).select(
        "doc_id", "lang", "fp", *(p.alias(f"_probe{i}") for i, p in enumerate(probes))
    )
    bloom_maybe = F.lit(True)
    for i in range(BLOOM_K):
        hit = F.broadcast(bits).where(F.col("pos") == F.col(f"_probe{i}").outer()).exists()
        bloom_maybe = bloom_maybe & hit
    # Exact membership (what the bloom approximates) rides the same
    # row stream: fp join against the snapshot.
    per_doc = probed.join(
        old_snap.withColumn("present", F.lit(True)), "fp", "left"
    ).select(
        "doc_id",
        "lang",
        F.coalesce(~F.col("present"), F.lit(True)).alias("exact_new"),
        bloom_maybe.alias("bloom_maybe"),
    )
    n_docs = F.count(F.lit(1)).cast("bigint")
    return per_doc.groupBy("lang").agg(
        n_docs.alias("n_docs"),
        F.sum(F.col("exact_new").cast("int")).cast("bigint").alias("n_true_new"),
        # Bloom contract 1: present (NOT exact_new) implies bloom_maybe.
        F.bool_and(F.col("bloom_maybe") | F.col("exact_new")).alias(
            "no_false_neg"
        ),
        # Bloom contract 2: false-positive survivors (actually new but
        # not pruned) bounded by 5% of the batch (theory: ~1.2e-2 at the
        # sized 10-bits/key fill factor, scale-independent).
        (
            F.sum((F.col("exact_new") & F.col("bloom_maybe")).cast("int"))
            <= F.greatest(F.lit(1), (n_docs / 20).cast("bigint"))
        ).alias("fp_ok"),
    )


KANON_K = 5  # the k in k-anonymity: groups under this are re-identifiable


@register(
    "q_kanon_audit",
    oracle=f"""
    WITH qi AS (
        SELECT c_nationkey AS nationkey, c_mktsegment AS mktsegment,
               CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_band
        FROM customer
    ),
    g AS (
        SELECT nationkey, mktsegment, bal_band,
               CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM qi GROUP BY nationkey, mktsegment, bal_band
    )
    SELECT nationkey, mktsegment, bal_band, n_rows,
           n_rows < {KANON_K} AS at_risk,
           CAST((CAST(SUM(CASE WHEN n_rows < {KANON_K} THEN n_rows
                               ELSE 0 END) OVER () AS BIGINT) * 1000000)
                // CAST(SUM(n_rows) OVER () AS BIGINT) AS BIGINT)
               AS risk_ppm
    FROM g
    """,
    doc="k-anonymity release audit — the privacy check a dataset passes "
    "before rows leave the lake (the compliance sibling of q_pii_scrub "
    "and functions/incremental.propagate_deletes): group by the "
    "quasi-identifier tuple (nation, market segment, account-balance "
    "band of 1000) and flag every equivalence class smaller than k=5 — "
    "members of those classes are re-identifiable by an adversary who "
    "knows the quasi-identifiers. Output: every class with its size, "
    "its at_risk flag, and the corpus-level risk_ppm (rows living in "
    "risky classes, exact integer ppm — the single number a release "
    "gate thresholds on; remediation is generalizing a QI column or "
    "suppressing the risky rows). Plan: ONE hash aggregate on the QI "
    "tuple + a class-count-sized window — at 100 TB the class table is "
    "bounded by the QI domain product, orders of magnitude smaller "
    "than the data, so the audit is scan-bound. NULL balances form "
    "their own NULL band in BOTH engines (GROUP BY NULL groups "
    "together), so unknown values are audited, not dropped.",
)
def q_kanon_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    g = (
        c.select(
            F.col("c_nationkey").alias("nationkey"),
            F.col("c_mktsegment").alias("mktsegment"),
            F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("bal_band"),
        )
        .groupBy("nationkey", "mktsegment", "bal_band")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
    )
    return g.select(
        "nationkey",
        "mktsegment",
        "bal_band",
        "n_rows",
        (F.col("n_rows") < KANON_K).alias("at_risk"),
        # Exact integer division (div, not /): Spark's / on bigints is
        # DOUBLE and loses integer exactness past 2^53 — the oracle's
        # // is exact, and a half-ulp rounding flip would diverge the
        # hash by one ppm.
        F.expr(
            f"CAST((CAST(SUM(CASE WHEN n_rows < {KANON_K} THEN n_rows"
            " ELSE 0 END) OVER () AS BIGINT) * 1000000)"
            " div CAST(SUM(n_rows) OVER () AS BIGINT) AS BIGINT)"
        ).alias("risk_ppm"),
    )


@register(
    "q_dist_drift",
    oracle="""
    WITH toks AS (
        SELECT doc_id, LEAST(len(string_split(text, ' ')), 128) AS tok
        FROM documents WHERE text IS NOT NULL
    ),
    b AS (
        SELECT CAST(((tok + 15) // 16) * 16 AS BIGINT) AS bucket_len,
               CASE WHEN doc_id % 3 <> 0 THEN 1 ELSE 0 END AS is_old
        FROM toks
    ),
    g AS (
        SELECT bucket_len,
               CAST(SUM(is_old) AS BIGINT) AS n_old,
               CAST(SUM(1 - is_old) AS BIGINT) AS n_new
        FROM b GROUP BY bucket_len
    ),
    t AS (
        SELECT *, CAST(SUM(n_old) OVER () AS BIGINT) AS tot_old,
               CAST(SUM(n_new) OVER () AS BIGINT) AS tot_new
        FROM g
    ),
    p AS (
        SELECT bucket_len, n_old, n_new,
               CAST(GREATEST((n_old * 1000000) // NULLIF(tot_old, 0), 1)
                    AS BIGINT) AS p_ppm,
               CAST(GREATEST((n_new * 1000000) // NULLIF(tot_new, 0), 1)
                    AS BIGINT) AS q_ppm
        FROM t
    )
    SELECT bucket_len, n_old, n_new, p_ppm, q_ppm,
           CAST(FLOOR((CAST(q_ppm AS DOUBLE) - CAST(p_ppm AS DOUBLE))
                      / 1000000
                      * ln(CAST(q_ppm AS DOUBLE) / CAST(p_ppm AS DOUBLE))
                      * 1000000 + 0.5) AS BIGINT) AS psi_micro
    FROM p
    """,
    doc="Snapshot-to-snapshot distribution drift via the Population "
    "Stability Index — the monitoring number every continuously-"
    "crawled corpus tracks so a crawler change or upstream template "
    "shift is caught BEFORE it trains into a model: the previous "
    "snapshot (doc_id % 3 != 0, the q_snapshot_delta shard convention) "
    "and the new shard are bucketed by capped token count (the 16-wide "
    "q_padding_waste grid), each bucket's share computed in exact "
    "integer ppm (clamped to >= 1 ppm — the standard PSI smoothing for "
    "empty cells, identically on both engines), and the per-bucket PSI "
    "contribution (q-p)*ln(q/p) is evaluated with the SAME IEEE op "
    "chain in both engines on those exact integers, then floor-rounded "
    "to micro-units (the q_token_entropy ln discipline) — summing "
    "psi_micro downstream gives the headline PSI (rule of thumb: "
    "> 0.25 = population shift, retrain the curation filters). Plan: "
    "ONE corpus scan -> one bucket-keyed hash agg (both shards split "
    "by a flag inside the SAME aggregate, never two scans) -> a "
    "buckets-sized window; scan-bound at any scale.",
)
def q_dist_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_compactor_spark.llm.text import whitespace_tokens

    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    tok = F.least(F.size(whitespace_tokens(F.col("text"))), F.lit(128))
    b = d.select(
        tok.alias("tok"),
        F.when(F.col("doc_id") % 3 != 0, 1).otherwise(0).alias("is_old"),
    ).select(
        F.expr("CAST(((tok + 15) div 16) * 16 AS BIGINT)").alias("bucket_len"),
        "is_old",
    )
    g = b.groupBy("bucket_len").agg(
        F.sum("is_old").cast("bigint").alias("n_old"),
        F.sum(1 - F.col("is_old")).cast("bigint").alias("n_new"),
    )
    wall = Window.partitionBy()
    g = (
        g.withColumn("tot_old", F.sum("n_old").over(wall).cast("bigint"))
        .withColumn("tot_new", F.sum("n_new").over(wall).cast("bigint"))
        .withColumn(
            "p_ppm",
            F.expr(
                "CAST(GREATEST((n_old * 1000000) div NULLIF(tot_old, 0), 1)"
                " AS BIGINT)"
            ),
        )
        .withColumn(
            "q_ppm",
            F.expr(
                "CAST(GREATEST((n_new * 1000000) div NULLIF(tot_new, 0), 1)"
                " AS BIGINT)"
            ),
        )
    )
    return g.select(
        "bucket_len",
        "n_old",
        "n_new",
        "p_ppm",
        "q_ppm",
        F.expr(
            "CAST(FLOOR((CAST(q_ppm AS DOUBLE) - CAST(p_ppm AS DOUBLE))"
            " / 1000000"
            " * ln(CAST(q_ppm AS DOUBLE) / CAST(p_ppm AS DOUBLE))"
            " * 1000000 + 0.5) AS BIGINT)"
        ).alias("psi_micro"),
    )


@register(
    "q_source_overlap",
    oracle="""
    WITH words AS (
        SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
    ),
    grams AS (
        SELECT DISTINCT source,
               md5(array_to_string(w[i:i+2], ' ')) AS h
        FROM words, UNNEST(range(1, greatest(len(w)-2, 0)+1)) AS t(i)
    ),
    counts AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM grams GROUP BY source
    ),
    pairs AS (
        SELECT a.source AS src_a, b.source AS src_b, a.n AS n_a, b.n AS n_b
        FROM counts a JOIN counts b ON a.source < b.source
    ),
    shared AS (
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM grams a JOIN grams b ON a.h = b.h AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT p.src_a, p.src_b, p.n_a, p.n_b,
           CAST(COALESCE(s.n_shared, 0) AS BIGINT) AS n_shared,
           ROUND(COALESCE(s.n_shared, 0)
                 / CAST(p.n_a + p.n_b - COALESCE(s.n_shared, 0) AS DOUBLE), 4)
               AS jaccard,
           ROUND(COALESCE(s.n_shared, 0)
                 / CAST(LEAST(p.n_a, p.n_b) AS DOUBLE), 4) AS containment
    FROM pairs p
    LEFT JOIN shared s ON p.src_a = s.src_a AND p.src_b = s.src_b
    ORDER BY p.src_a, p.src_b
    """,
    doc="Cross-source n-gram overlap matrix: the distinct 3-word shingle "
    "sets of every source pair are compared by Jaccard and containment — "
    "the corpus-provenance audit run before mixing crawls (how much of "
    "source B is already inside source A decides whether adding B buys "
    "new tokens or re-epochs old ones; Penedo et al.'s FineWeb ablations "
    "and the Pile's inter-set overlap table are exactly this matrix). "
    "Spark-first (r14: the q_pagerank collect_set pattern): ONE "
    "hash-keyed shuffle with set-dedup partial aggregation collects "
    "each gram's <= #sources source set — replacing BOTH the former "
    "(source, md5) DISTINCT shuffle and the gram self-join — and the "
    "ordered pairs expand from the set as an array expression (at most "
    "#sources^2/2 rows per gram, never a document-pair explosion); "
    "per-source set sizes derive from the same cached set table and "
    "ride as two broadcast joins onto the complete ordered-pair spine "
    "(a 20x20 bounded broadcast nested loop, allowlisted in the global "
    "cartesian audit) so ZERO-overlap pairs still report a row. At "
    "100 TB the only data-proportional stage is the single gram-hash "
    "shuffle (uniform 32-byte keys, bounded per-key state); output "
    "stays sources^2/2 rows regardless of corpus size. Measured r14 "
    "(interleaved same-JVM A/B, identical results): 3.01 -> 2.63 s at "
    "sf0.1, 19.3 -> 6.6 s (0.34x) at the x25 ramp level.",
)
def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_compactor_spark.llm.text import persist_tracked, spread_scan

    d = spread_scan(load(spark, sf_dir, "documents"))
    grams = d.select(
        "source",
        F.explode(word_shingles(F.split("text", " ", -1), 3)).alias("g"),
    ).select("source", F.md5("g").alias("h"))
    # ONE h-keyed shuffle with set-dedup partial aggregation replaces
    # the former (source, h) DISTINCT shuffle AND the gram self-join:
    # per hash, the <= #sources source set expands to ordered pairs as
    # an array expression (the q_pagerank collect_set pattern) —
    # identical pair counts (each shared hash contributes each ordered
    # source pair exactly once; collect_set dedups (source, h) within
    # the group exactly as DISTINCT did). NULL sources never reach the
    # output on either form (collect_set drops them; the spine's
    # src_a < src_b is NULL-falsy). The set table feeds both the
    # per-source sizes and the pair expansion — persist it once.
    sets = persist_tracked(
        grams.groupBy("h").agg(F.collect_set("source").alias("ss"))
    )
    counts = (
        sets.select(F.explode("ss").alias("source"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pairs = (
        F.broadcast(counts.select(F.col("source").alias("src_a"), F.col("n").alias("n_a")))
        .join(
            F.broadcast(
                counts.select(F.col("source").alias("src_b"), F.col("n").alias("n_b"))
            ),
            F.col("src_a") < F.col("src_b"),
        )
    )
    pair_arr = F.flatten(
        F.transform(
            F.col("ss"),
            lambda x: F.transform(
                F.filter(F.col("ss"), lambda y: x < y),
                lambda y: F.struct(x.alias("src_a"), y.alias("src_b")),
            ),
        )
    )
    shared = (
        sets.filter(F.size("ss") >= 2)
        .select(F.explode(pair_arr).alias("p"))
        .groupBy(F.col("p.src_a").alias("src_a"), F.col("p.src_b").alias("src_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        pairs.join(shared, ["src_a", "src_b"], "left")
        .select(
            "src_a",
            "src_b",
            "n_a",
            "n_b",
            F.coalesce("n_shared", F.lit(0)).cast("bigint").alias("n_shared"),
            F.round(
                F.coalesce("n_shared", F.lit(0))
                / (F.col("n_a") + F.col("n_b") - F.coalesce("n_shared", F.lit(0))).cast(
                    "double"
                ),
                4,
            ).alias("jaccard"),
            F.round(
                F.coalesce("n_shared", F.lit(0))
                / F.least("n_a", "n_b").cast("double"),
                4,
            ).alias("containment"),
        )
        .orderBy("src_a", "src_b")
    )


# --------------------------------------------------------------------------
# Differentially private histogram release (discrete Laplace, exact-integer)
# --------------------------------------------------------------------------

#: Two-sided-geometric decay alpha = 1/4 -> epsilon = ln(1/alpha) = ln 4
#: per released count (unit sensitivity: one document changes one count
#: by one). Kept rational so the inverse-CDF table below is EXACT.
DP_ALPHA_NUM, DP_ALPHA_DEN = 1, 4
#: Noise support truncated at |z| <= 21: alpha^21 = 4^-21 ~ 2^-42 is below
#: the 2^-40 sampling-grid resolution, so the truncation is invisible.
DP_ZMAX = 21
DP_GRID_BITS = 40


def _dp_thresholds() -> list[int]:
    """Inverse-CDF thresholds of the discrete Laplace (two-sided
    geometric) distribution pmf(z) = (1-a)/(1+a) * a^|z| on the integer
    grid [0, 2^40): T[i] = floor(CDF(z_i) * 2^40) for z_i = -21..21,
    computed in EXACT rational arithmetic (fractions) and inlined as
    bigint literals into both engines — the sampled noise is then a pure
    integer comparison count, no transcendental functions anywhere, so
    engine parity is exact by construction (the same driver-side-model-
    state technique as the ANN centroid matrices)."""
    from fractions import Fraction

    a = Fraction(DP_ALPHA_NUM, DP_ALPHA_DEN)
    norm = (1 - a) / (1 + a)
    cum = Fraction(0)
    out: list[int] = []
    for z in range(-DP_ZMAX, DP_ZMAX + 1):
        cum += norm * a ** abs(z)
        out.append(int(cum * 2**DP_GRID_BITS))
    out[-1] = 2**DP_GRID_BITS  # absorb the truncated tail
    return out


DP_THRESHOLDS = _dp_thresholds()
DP_SALT = ":dp-r11"


@register(
    "q_dp_histogram",
    oracle=f"""
    WITH counts AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_true
        FROM documents GROUP BY source
    ),
    draw AS (
        SELECT source, n_true,
               ('0x' || substr(md5(source || '{DP_SALT}'), 1, 10))::BIGINT AS k
        FROM counts
    ),
    noise AS (
        SELECT source, n_true,
               CAST(len(list_filter({DP_THRESHOLDS},
                                     t -> t <= k)) - {DP_ZMAX} AS BIGINT)
                   AS z
        FROM draw
    )
    SELECT source, n_true, z,
           GREATEST(n_true + z, 0) AS n_released
    FROM noise ORDER BY source
    """,
    doc="Differentially private histogram release: per-source document "
    "counts plus discrete-Laplace noise (two-sided geometric, "
    "Ghosh-Roughgarden-Sundararajan 2009 — the UTILITY-OPTIMAL "
    "mechanism for integer counts) at alpha=1/4 (eps = ln 4 per count, "
    "unit sensitivity), clamped at zero — the release step after "
    "q_kanon_audit decides which cells are publishable at all. "
    "Engine-exact by construction: the noise sample is an inverse-CDF "
    "walk over a 43-entry threshold table computed ONCE driver-side in "
    "exact rational arithmetic and inlined as bigint literals into both "
    "engines; the per-group uniform draw is the first 40 bits of a "
    "salted md5, so sampling is a filter-count over integer literals — "
    "no ln/exp/pow anywhere, no float at all (the repo's exact-integer "
    "convention, cf. q_pagerank's micro-units). n_true rides along for "
    "audit only (a production release would drop it). Plan: one "
    "hash-aggregate to the per-source counts, then pure per-row literal "
    "arithmetic — MAP-ONLY after the 20-group agg; at 100 TB the "
    "mechanism's cost is the count itself. The deterministic salt makes "
    "the 'draw' reproducible for the differential harness; swap the "
    "salt per release epoch in production.",
)
def q_dp_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_true"))
    k = F.conv(
        F.substring(F.md5(F.concat(F.col("source"), F.lit(DP_SALT))), 1, 10),
        16,
        10,
    ).cast("bigint")
    from parquet_compactor_spark.llm.text import lit_long_array

    thresholds = lit_long_array(DP_THRESHOLDS)
    z = (
        F.size(F.filter(thresholds, lambda t: t <= k)) - F.lit(DP_ZMAX)
    ).cast("bigint")
    return (
        counts.select(
            "source",
            "n_true",
            z.alias("z"),
            F.greatest(F.col("n_true") + z, F.lit(0).cast("bigint")).alias(
                "n_released"
            ),
        )
        .orderBy("source")
    )


#: Distinct-l-diversity requirement: every quasi-identifier class must
#: contain at least L distinct sensitive values to be releasable.
LDIV_L = 3


@register(
    "q_l_diversity",
    oracle=f"""
    WITH rows_ AS (
        SELECT c_nationkey AS nationkey, c_mktsegment AS mktsegment,
               CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_band
        FROM customer
    ),
    cls AS (
        SELECT nationkey, mktsegment,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(DISTINCT bal_band) AS BIGINT) AS n_sensitive
        FROM rows_ GROUP BY nationkey, mktsegment
    )
    SELECT nationkey, mktsegment, n_rows, n_sensitive,
           n_sensitive < {LDIV_L} AS at_risk,
           CAST((CAST(SUM(CASE WHEN n_sensitive < {LDIV_L} THEN n_rows
                               ELSE 0 END) OVER () AS BIGINT) * 1000000)
                // CAST(SUM(n_rows) OVER () AS BIGINT) AS BIGINT)
               AS risk_ppm
    FROM cls
    """,
    doc="Distinct-l-diversity release audit (Machanavajjhala et al. 2007) "
    "— the attribute-disclosure companion to q_kanon_audit: k-anonymity "
    "bounds IDENTITY disclosure but a class where every member shares "
    "one sensitive value still leaks the attribute (the 'homogeneity "
    "attack'), so each quasi-identifier class (nation, market segment) "
    "must also contain >= l distinct sensitive values (account-balance "
    "band, l=3). Output: every class with its size, its distinct-"
    "sensitive count, the at_risk flag, and the corpus-level exact-"
    "integer ppm of rows in non-diverse classes — the release-gate "
    "scalar. Plan: one two-level hash aggregate (the distinct rides the "
    "same exchange as the class rollup: group by (QI, sensitive) then "
    "QI) + a class-table-sized window; at 100 TB the class table is "
    "bounded by the QI domain product, so the audit is scan-bound, "
    "exactly like its k-anonymity sibling. NULL balances form their own "
    "band and COUNT as a sensitive value on both engines (COUNT "
    "DISTINCT skips NULL in both — a class of only-NULL bands reports "
    "n_sensitive = 0 identically).",
)
def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    cls = (
        c.select(
            F.col("c_nationkey").alias("nationkey"),
            F.col("c_mktsegment").alias("mktsegment"),
            F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("bal_band"),
        )
        .groupBy("nationkey", "mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.countDistinct("bal_band").cast("bigint").alias("n_sensitive"),
        )
    )
    return cls.select(
        "nationkey",
        "mktsegment",
        "n_rows",
        "n_sensitive",
        (F.col("n_sensitive") < LDIV_L).alias("at_risk"),
        F.expr(
            f"CAST((CAST(SUM(CASE WHEN n_sensitive < {LDIV_L} THEN n_rows"
            " ELSE 0 END) OVER () AS BIGINT) * 1000000)"
            " div CAST(SUM(n_rows) OVER () AS BIGINT) AS BIGINT)"
        ).alias("risk_ppm"),
    )


#: Per-source token budget for quality-ranked selection.
SELECT_BUDGET = 800


@register(
    "q_budget_select",
    oracle=f"""
    WITH docs AS (
        SELECT doc_id, source, string_split(text, ' ') AS w
        FROM documents WHERE text IS NOT NULL
    ),
    scored AS (
        SELECT doc_id, source,
               CAST(len(w) AS BIGINT) AS n_tok,
               CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS quality
        FROM docs
    ),
    ranked AS (
        SELECT *,
               SUM(n_tok) OVER (
                   PARTITION BY source ORDER BY quality DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS tok_before
        FROM scored
    ),
    sel AS (
        SELECT *, COALESCE(tok_before, 0) < {SELECT_BUDGET} AS selected
        FROM ranked
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN selected THEN 1 ELSE 0 END) AS BIGINT)
               AS n_selected,
           CAST(SUM(CASE WHEN selected THEN n_tok ELSE 0 END) AS BIGINT)
               AS tokens_selected,
           CAST(FLOOR(MIN(CASE WHEN selected THEN quality END) * 1000000
                      + 0.5) AS BIGINT) AS cutoff_quality_micro
    FROM sel GROUP BY source ORDER BY source
    """,
    doc="Quality-ranked token-budget selection — the data-mixing step "
    "that turns classifier scores into an actual training set: within "
    "each source, documents are ranked by quality (unique-token ratio "
    "here; any scored column plugs in) and greedily admitted in rank "
    "order until the source's token budget is exhausted (a doc is "
    "admitted iff the tokens BEFORE it are under budget, so the budget "
    "boundary doc is included — the convention that never returns an "
    "empty selection when the first doc alone exceeds the budget). "
    "Reports per source the selected doc/token mass and the quality "
    "cutoff (micro-exact) — the number that tells you how deep into "
    "the quality distribution the budget forces you (cf. the "
    "quality-vs-quantity tradeoff curves in Longpre et al. 2023). "
    "Distinct from q_mixture_epochs (which reweights whole sources) "
    "and q_quality_classifier (which scores but does not select under "
    "a budget). Plan: one map to score (JVM higher-order distinct "
    "ratio), one source-partitioned running-sum window, one 20-group "
    "rollup — a single data-proportional shuffle on source; skewed "
    "sources are exactly the q_salted_agg situation and would salt the "
    "same way. Ties in quality break by doc_id; the quality double is "
    "the same exact division in both engines, so the rank order is "
    "bit-identical.",
)
def q_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_compactor_spark.llm.text import spread_scan

    d = spread_scan(
        load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    )
    w = F.split("text", " ", -1)
    scored = d.select(
        "doc_id",
        "source",
        F.size(w).cast("bigint").alias("n_tok"),
        (F.size(F.array_distinct(w)).cast("double") / F.size(w)).alias("quality"),
    )
    win = (
        Window.partitionBy("source")
        .orderBy(F.col("quality").desc(), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sel = scored.select(
        "source",
        "n_tok",
        "quality",
        (F.coalesce(F.sum("n_tok").over(win), F.lit(0)) < SELECT_BUDGET).alias(
            "selected"
        ),
    )
    return (
        sel.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.sum(F.col("selected").cast("int")).cast("bigint").alias("n_selected"),
            F.sum(F.when(F.col("selected"), F.col("n_tok")).otherwise(0))
            .cast("bigint")
            .alias("tokens_selected"),
            F.floor(
                F.min(F.when(F.col("selected"), F.col("quality"))) * 1000000 + 0.5
            )
            .cast("bigint")
            .alias("cutoff_quality_micro"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Poisson-bootstrap confidence intervals (error bars in one scan)
# --------------------------------------------------------------------------

#: Bootstrap replica count.
BOOT_B = 32

#: Poisson(1) CDF thresholds on the 60-bit hash grid: a replica weight
#: is w = |{j : h >= t_j}| (0..7, the >=7 tail folded into 7). The
#: table is computed ONCE here in Python and inlined as identical
#: bigint literals into BOTH engines (the q_dp_histogram discipline:
#: determinism comes from the shared literals, so neither engine ever
#: evaluates a transcendental at query time).
def _poisson1_thresholds() -> list[int]:
    import math

    out, acc, term = [], 0.0, math.exp(-1.0)
    for j in range(7):
        acc += term
        out.append(int(acc * (1 << 60)))
        term /= j + 1
    return out


BOOT_THRESHOLDS = _poisson1_thresholds()

_BOOT_TS = ", ".join(str(t) for t in BOOT_THRESHOLDS)


@register(
    "q_bootstrap_ci",
    oracle=f"""
    WITH d AS (
        SELECT source, doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS x
        FROM documents WHERE text IS NOT NULL
    ),
    rep AS (
        SELECT source, doc_id, x, unnest(range(0, {BOOT_B})) AS b FROM d
    ),
    wtd AS (
        SELECT source, b, x,
               len(list_filter([{_BOOT_TS}],
                   t -> ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
                         || CAST(b AS VARCHAR)), 1, 15))::BIGINT >= t)) AS w
        FROM rep
    ),
    rm AS (
        SELECT source, b,
               CAST(SUM(w * x) * 1000000 // SUM(w) AS BIGINT) AS m
        FROM wtd GROUP BY source, b HAVING SUM(w) > 0
    ),
    ci AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_replicas,
               (list(m ORDER BY m))[LEAST(2, COUNT(*))] AS ci_lo_micro,
               (list(m ORDER BY m))[GREATEST(COUNT(*) - 1, 1)] AS ci_hi_micro
        FROM rm GROUP BY source
    ),
    full_mean AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(x) * 1000000 // COUNT(*) AS BIGINT) AS mean_micro
        FROM d GROUP BY source
    )
    SELECT f.source, f.n_docs, f.mean_micro,
           c.ci_lo_micro, c.ci_hi_micro, c.n_replicas
    FROM full_mean f JOIN ci c ON f.source = c.source
    """,
    doc="Poisson-bootstrap confidence interval for the per-source mean "
    "token count — error bars on a corpus statistic in ONE scan, the "
    "way a 100 TB pipeline must bootstrap (resampling-with-replacement "
    "by index is a shuffle per replica; the Poisson(1)-weight "
    "approximation is the standard streaming form). Each (doc, "
    "replica) weight is drawn from an inverse-CDF walk of a 7-entry "
    "Poisson(1) threshold table on the 60-bit md5 hash of (doc_id, b) "
    "— the table computed once in Python and inlined as identical "
    "bigint literals into both engines (the q_dp_histogram no-"
    "transcendentals-at-query-time discipline), so every weight, "
    "replica mean (exact integer micro units) and rank-based interval "
    "endpoint (2nd / B-1th order statistic of the 32 replica means — "
    "rank-based, never an interpolated percentile) is engine-exact. "
    "Plan: one explode x32 over the doc table, two hash aggs, order "
    "stats over 32-element arrays — scan-shaped at any corpus size.",
)
def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        load(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            "source",
            "doc_id",
            F.size(F.split("text", " ", -1)).cast("bigint").alias("x"),
        )
    )
    from parquet_compactor_spark.llm.text import spread_scan

    # The 32x explode + per-replica md5 below is x100+ compute per
    # scanned byte; the sf-scale documents table is a single parquet
    # file (one scan task), so spread the narrow projection first.
    rep = spread_scan(d).select(
        "source",
        "doc_id",
        "x",
        F.explode(F.sequence(F.lit(0), F.lit(BOOT_B - 1))).alias("b"),
    )
    h = (
        "cast(conv(substr(md5(concat(cast(doc_id as string), ':', "
        "cast(b as string))), 1, 15), 16, 10) as bigint)"
    )
    # Bind the replica hash to a column BEFORE the threshold fold: a
    # derived expression referenced INSIDE a higher-order-function
    # lambda is re-evaluated per element (the round-11 no-CSE trap), so
    # the inlined form computed the md5 7x per (doc, b) row — once per
    # Poisson threshold. The bound attribute is evaluated once per row;
    # the fold compares the identical bigint against the same literals.
    wtd = rep.withColumn("h", F.expr(h)).select(
        "source",
        "b",
        "x",
        F.expr(
            f"aggregate(array({_BOOT_TS}), 0, "
            f"(acc, t) -> acc + IF(h >= t, 1, 0))"
        ).alias("w"),
    )
    rm = (
        wtd.groupBy("source", "b")
        .agg(
            F.sum(F.col("w") * F.col("x")).alias("swx"),
            F.sum("w").alias("sw"),
        )
        .filter(F.col("sw") > 0)
        .select(
            "source",
            F.expr("CAST(swx * 1000000 div sw AS BIGINT)").alias("m"),
        )
    )
    ci = rm.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_replicas"),
        F.array_sort(F.collect_list("m")).alias("arr"),
    ).select(
        "source",
        "n_replicas",
        F.element_at(
            "arr", F.least(F.lit(2), F.size("arr")).cast("int")
        ).alias("ci_lo_micro"),
        F.element_at(
            "arr", F.greatest(F.size("arr") - 1, F.lit(1)).cast("int")
        ).alias("ci_hi_micro"),
    )
    full_mean = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.expr("CAST(SUM(x) * 1000000 div COUNT(*) AS BIGINT)").alias(
            "mean_micro"
        ),
    )
    return full_mean.join(ci, "source").select(
        "source", "n_docs", "mean_micro", "ci_lo_micro", "ci_hi_micro", "n_replicas"
    )


# --------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov drift test (exact-integer CDFs)
# --------------------------------------------------------------------------

#: c(alpha)^2 * 1e6 for alpha = 0.05 (c = 1.358). Only the CRITICAL
#: VALUE uses a float path (one sqrt — IEEE-754 requires sqrt to be
#: correctly rounded, so both engines produce the identical double from
#: identical inputs); the statistic itself is exact integers.
KS_C_MICRO = 1358000


@register(
    "q_ks_test",
    oracle=f"""
    WITH d AS (
        SELECT CASE WHEN doc_id % 3 = 0 THEN 'new' ELSE 'old' END AS shard,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS x
        FROM documents WHERE text IS NOT NULL
    ),
    g AS (
        SELECT x,
               CAST(SUM(CASE WHEN shard = 'old' THEN 1 ELSE 0 END) AS BIGINT) AS c_old,
               CAST(SUM(CASE WHEN shard = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS c_new
        FROM d GROUP BY x
    ),
    c AS (
        SELECT x,
               SUM(c_old) OVER (ORDER BY x) AS f_old,
               SUM(c_new) OVER (ORDER BY x) AS f_new
        FROM g
    ),
    t AS (
        SELECT CAST(SUM(c_old) AS BIGINT) AS n_old,
               CAST(SUM(c_new) AS BIGINT) AS n_new
        FROM g
    ),
    s AS (
        SELECT MAX(ABS(f_old * t.n_new - f_new * t.n_old)) AS d_num
        FROM c, t GROUP BY t.n_old, t.n_new
    )
    SELECT t.n_old, t.n_new,
           CAST(s.d_num * 1000000 // (t.n_old * t.n_new) AS BIGINT) AS d_ppm,
           CAST(FLOOR({KS_C_MICRO} * SQRT(
                    CAST(t.n_old + t.n_new AS DOUBLE)
                    / (CAST(t.n_old AS DOUBLE) * CAST(t.n_new AS DOUBLE)))
                + 0.5) AS BIGINT) AS crit_ppm,
           s.d_num * 1000000 // (t.n_old * t.n_new)
               >= CAST(FLOOR({KS_C_MICRO} * SQRT(
                      CAST(t.n_old + t.n_new AS DOUBLE)
                      / (CAST(t.n_old AS DOUBLE) * CAST(t.n_new AS DOUBLE)))
                  + 0.5) AS BIGINT) AS drifted
    FROM s, t
    WHERE t.n_old > 0 AND t.n_new > 0
    """,
    doc="Two-sample Kolmogorov-Smirnov drift test between the old "
    "(doc_id % 3 != 0) and new crawl shards over the token-count "
    "distribution — the NONPARAMETRIC complement to q_dist_drift's "
    "binned PSI (KS needs no bucket grid and is sensitive to any CDF "
    "separation, not just mass shifts across fixed bins). The "
    "statistic is EXACT integers end to end: per-value counts, "
    "cumulative sums over the merged value grid, and the sup as "
    "max |F_old*n_new - F_new*n_old| — cross-multiplied instead of "
    "divided, so no floor-rounding can move the argmax — scaled to "
    "ppm once at the end. Only the alpha=0.05 critical value "
    "c*sqrt((n+m)/nm) touches a float: ONE sqrt, correctly rounded by "
    "IEEE-754 in both engines, micro-floored. Plan: one scan, one "
    "value-grid agg, one cumulative window over the (bounded, "
    "value-cardinality-sized) grid, a 1-row reduce. At 100 TB the "
    "int64 cross-product n_old*n_new bounds the corpus at ~3e9 per "
    "shard; past that the two products upgrade to DECIMAL(38,0) with "
    "no other change.",
)
def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        load(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            F.when(F.pmod("doc_id", F.lit(3)) == 0, F.lit("new"))
            .otherwise(F.lit("old"))
            .alias("shard"),
            F.size(F.split("text", " ", -1)).cast("bigint").alias("x"),
        )
    )
    g = d.groupBy("x").agg(
        F.sum(F.when(F.col("shard") == "old", 1).otherwise(0))
        .cast("bigint")
        .alias("c_old"),
        F.sum(F.when(F.col("shard") == "new", 1).otherwise(0))
        .cast("bigint")
        .alias("c_new"),
    )
    wcum = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    c = g.select(
        F.sum("c_old").over(wcum).alias("f_old"),
        F.sum("c_new").over(wcum).alias("f_new"),
    )
    t = g.agg(
        F.sum("c_old").cast("bigint").alias("n_old"),
        F.sum("c_new").cast("bigint").alias("n_new"),
    )
    s = (
        c.crossJoin(F.broadcast(t))
        .agg(
            F.max(
                F.abs(
                    F.col("f_old") * F.col("n_new")
                    - F.col("f_new") * F.col("n_old")
                )
            ).alias("d_num")
        )
    )
    crit = (
        f"CAST(FLOOR({KS_C_MICRO} * SQRT("
        "CAST(n_old + n_new AS DOUBLE)"
        " / (CAST(n_old AS DOUBLE) * CAST(n_new AS DOUBLE))) + 0.5) AS BIGINT)"
    )
    return (
        s.crossJoin(F.broadcast(t))
        .select(
            "n_old",
            "n_new",
            F.expr(
                "CAST(d_num * 1000000 div (n_old * n_new) AS BIGINT)"
            ).alias("d_ppm"),
            F.expr(crit).alias("crit_ppm"),
        )
        .withColumn("drifted", F.col("d_ppm") >= F.col("crit_ppm"))
        # Degenerate-corpus guard: if either shard is empty the integer
        # div yields NULL on Spark but a div-by-zero/inf path in DuckDB
        # — emit no row identically on both engines instead.
        .filter((F.col("n_old") > 0) & (F.col("n_new") > 0))
    )


# --------------------------------------------------------------------------
# URL canonicalization (C4 / RefinedWeb-style web curation): the key of
# streaming.pipeline.url_claim_stream
# --------------------------------------------------------------------------

#: Tracking-parameter keys stripped by canonical_url — the public
#: click-tracking namespace (utm_*) plus the common per-platform ids.
_TRACKING_PARAM_RE = "^(utm_[^=]*|ref|fbclid|gclid)="


def canonical_url(u: Column) -> Column:
    """Canonicalize a URL column with REAL generic parsing — lowercase
    scheme+authority, strip the scheme's default port (:443 https, :80
    http), strip trailing path slashes (root stays '/'), drop tracking
    params (utm_*/ref/fbclid/gclid), sort surviving query params, drop
    the fragment. All JVM built-ins (parse_url + array filter/sort) —
    no Python, no shuffle; the canonical key then drives URL-level
    dedup the way RefinedWeb dedups by URL before any text pass.

    The filter lambda touches only its own element variable (the split
    array is the higher-order input, evaluated once) — no derived-array
    re-evaluation inside the lambda body (the no-CSE trap)."""
    scheme = F.lower(F.parse_url(u, F.lit("PROTOCOL")))
    auth = F.lower(F.parse_url(u, F.lit("AUTHORITY")))
    auth = (
        F.when(scheme == "https", F.regexp_replace(auth, ":443$", ""))
        .when(scheme == "http", F.regexp_replace(auth, ":80$", ""))
        .otherwise(auth)
    )
    path = F.regexp_replace(
        F.coalesce(F.parse_url(u, F.lit("PATH")), F.lit("")), "/+$", ""
    )
    path = F.when(path == "", F.lit("/")).otherwise(path)
    kept = F.array_sort(
        F.filter(
            F.split(F.coalesce(F.parse_url(u, F.lit("QUERY")), F.lit("")), "&"),
            lambda p: (p != "") & ~p.rlike(_TRACKING_PARAM_RE),
        )
    )
    qs = F.array_join(kept, "&")
    return F.concat(
        scheme,
        F.lit("://"),
        auth,
        path,
        F.when(qs == "", F.lit("")).otherwise(F.concat(F.lit("?"), qs)),
    )
