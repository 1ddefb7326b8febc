"""Training-data pipeline operators: chunking, TF-IDF, deterministic sampling.

The preprocessing steps between raw documents and a training corpus —
each expressed as a declarative plan (explode/join/window), no Python in
the hot path, each with a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_compactor_spark.registry import load, register

from parquet_compactor_spark.llm.text import STOPWORD_REGEX as _STOPWORD_REGEX

CHUNK_TOKENS = 32
CHUNK_STRIDE = 24  # 8-token overlap

#: Quality-gate + fingerprint constants shared by q_corpus_prep and
#: q_funnel_attrition: the attrition dashboard explains corpus_prep's
#: budget, so the two must stay in lockstep — single source of truth
#: (interpolated into both Spark code and both f-string oracles).
QUALITY_TOKEN_MIN = 20
QUALITY_TOKEN_MAX = 1000
QUALITY_STOP_MIN = 0.01
FINGERPRINT_STRIP = "[^a-z0-9]+"


@register(
    "q_doc_chunking",
    oracle=f"""
    WITH toks AS (
        -- NULL text pinned out on BOTH engines: Spark's concat_ws over
        -- a NULL slice yields '' where array_to_string yields NULL
        -- (r7 hostile NULL-text sweep find).
        SELECT doc_id, string_split(text, ' ') AS tokens FROM documents
        WHERE text IS NOT NULL
    ),
    starts AS (
        SELECT doc_id, tokens,
               unnest(range(0, greatest(len(tokens), 1), {CHUNK_STRIDE})) AS n
        FROM toks
    ),
    chunks AS (
        SELECT doc_id,
               CAST(n // {CHUNK_STRIDE} AS INT) AS chunk_id,
               array_to_string(tokens[n + 1 : n + {CHUNK_TOKENS}], ' ') AS chunk_text
        FROM starts
    )
    SELECT doc_id, chunk_id, chunk_text,
           len(string_split(chunk_text, ' ')) AS chunk_tokens
    FROM chunks
    """,
    doc="Document chunking: overlapping fixed-token windows (32 tokens, "
    "stride 24) — the standard pre-tokenization split for long documents. "
    "One explode per stride position; map-only, no shuffle.",
)
def q_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = d.select("doc_id", F.split("text", " ", -1).alias("tokens"))
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.size("tokens") - 1, F.lit(0)),
        F.lit(CHUNK_STRIDE),
    )
    return (
        toks.select("doc_id", "tokens", F.explode(starts).alias("start"))
        .select(
            "doc_id",
            (F.col("start") / CHUNK_STRIDE).cast("int").alias("chunk_id"),
            F.concat_ws(
                " ", F.slice(F.col("tokens"), F.col("start") + 1, CHUNK_TOKENS)
            ).alias("chunk_text"),
        )
        .withColumn("chunk_tokens", F.size(F.split("chunk_text", " ", -1)))
    )


@register(
    "q_tfidf_topterms",
    oracle="""
    WITH toks AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents
    ),
    n_docs AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
    df AS (SELECT term, COUNT(*) AS doc_freq FROM toks GROUP BY term),
    tf AS (
        SELECT doc_id, u.term, COUNT(*) AS term_freq
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
              FROM documents) u
        GROUP BY doc_id, u.term
    ),
    scored AS (
        SELECT tf.doc_id, tf.term,
               ROUND(tf.term_freq * ln(CAST(n_docs.n AS DOUBLE) / df.doc_freq), 6) AS tfidf
        FROM tf JOIN df USING (term) CROSS JOIN n_docs
    ),
    ranked AS (
        SELECT doc_id, term, tfidf,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY tfidf DESC, term) AS rn
        FROM scored
    )
    SELECT doc_id, term, tfidf, rn FROM ranked WHERE rn <= 3
    """,
    doc="TF-IDF top-3 terms per document: tokenize → one (doc_id, term) "
    "hash agg for term frequency → document frequency as a count window "
    "over term on that agg (one tf row per document holding the term, so "
    "the window count IS the distinct-document count: no second explode, "
    "distinct or df join) → per-doc top-k window. The document count is a "
    "1-row broadcast. Trade at scale: the df window puts every tf row of a "
    "term on one task, so a stopword's partition holds a row per document "
    "(SCALE.md). Built without running a job.",
)
def q_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    terms = d.select("doc_id", F.explode(F.split("text", " ", -1)).alias("term"))
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("term_freq"))
    # tf has one row per (doc_id, term), so a term's row count is its
    # document frequency. The window reads the tf aggregate in place of
    # a distinct + df aggregate + join, which would explode and scan the
    # corpus a second time: that subtree never shares tf's exchange.
    doc_freq = F.count(F.lit(1)).over(Window.partitionBy("term"))
    n_docs = d.select(F.countDistinct("doc_id").alias("n"))
    scored = (
        tf.withColumn("doc_freq", doc_freq)
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("term_freq")
                * F.log(F.col("n").cast("double") / F.col("doc_freq")),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tfidf", "rn")
    )


@register(
    "q_stratified_sample",
    oracle="""
    SELECT lang,
           COUNT(*)                            AS n_sampled,
           MIN(doc_id)                         AS first_doc,
           CAST(SUM(n_chars) AS BIGINT)        AS sampled_chars
    FROM documents
    WHERE (doc_id * 2654435761) % 4294967296 % 10 < 3
    GROUP BY lang
    """,
    doc="Deterministic ~30% stratified sample: membership by a Knuth "
    "multiplicative hash of the key — reproducible across runs, engines "
    "and cluster sizes (exact bigint math on both sides), unlike rand()-"
    "based sampling which is neither stable nor engine-portable.",
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    knuth = F.pmod(F.pmod(F.col("doc_id") * F.lit(2654435761), F.lit(4294967296)), F.lit(10))
    return (
        d.filter(knuth < 3)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.min("doc_id").alias("first_doc"),
            F.sum("n_chars").alias("sampled_chars"),
        )
    )


@register(
    "q_grouped_sample",
    oracle="""
    SELECT doc_id, lang
    FROM (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY (doc_id * 2654435761) % 4294967296, doc_id
               ) AS rn
        FROM documents
    )
    WHERE rn <= 2
    """,
    doc="Deterministic per-group sample: top-2 documents per language by "
    "Knuth multiplicative hash order — a fixed-size, reproducible "
    "per-stratum pick (vs q_stratified_sample's fixed-RATE membership "
    "filter). Exact bigint arithmetic on both engines; one shuffle on "
    "lang, per-group heap via row_number.",
)
def q_grouped_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    hashed = (F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296)
    w = Window.partitionBy("lang").orderBy(hashed, "doc_id")
    return (
        d.select("doc_id", "lang", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 2)
        .select("doc_id", "lang")
    )


@register(
    "q_corpus_prep",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, lang, text,
               len(string_split(text, ' ')) AS n_tokens,
               CAST(len(regexp_extract_all(text, '{_STOPWORD_REGEX}')) AS DOUBLE)
                 / len(string_split(text, ' ')) AS stop_ratio,
               md5(trim(regexp_replace(lower(text), '{FINGERPRINT_STRIP}', ' ', 'g')))
                   AS fingerprint
        FROM documents
    ),
    kept AS (
        SELECT * FROM scored
        WHERE n_tokens BETWEEN {QUALITY_TOKEN_MIN} AND {QUALITY_TOKEN_MAX}
          AND stop_ratio > {QUALITY_STOP_MIN}
    ),
    deduped AS (
        SELECT * FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY fingerprint
                                         ORDER BY doc_id) AS rn
            FROM kept
        ) WHERE rn = 1
    )
    SELECT lang,
           COUNT(*)                            AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT)       AS total_tokens,
           MIN(doc_id)                         AS first_doc
    FROM deduped
    GROUP BY lang
    """,
    doc="End-to-end training-corpus preparation as ONE declarative plan: "
    "quality gate (token band + stopword density, q_quality_score's "
    "rule) → exact dedup on the normalized fingerprint (keep lowest "
    "doc_id, q_fingerprint's key) → per-language document/token budget. "
    "The whole pipeline is scan → map → one fingerprint shuffle → one "
    "lang rollup; at 100 TB nothing materializes between stages and "
    "Catalyst pipelines the maps into the scan.",
)
def q_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_compactor_spark.llm.text import STOPWORD_REGEX, whitespace_tokens

    d = load(spark, sf_dir, "documents")
    n_tokens = F.size(whitespace_tokens(F.col("text")))
    stop_ratio = (
        F.size(F.regexp_extract_all(F.col("text"), F.lit(STOPWORD_REGEX))).cast("double")
        / n_tokens
    )
    fingerprint = F.md5(
        F.trim(F.regexp_replace(F.lower(F.col("text")), FINGERPRINT_STRIP, " "))
    )
    kept = d.select(
        "doc_id", "lang", n_tokens.alias("n_tokens"), fingerprint.alias("fp")
    ).filter(
        n_tokens.between(QUALITY_TOKEN_MIN, QUALITY_TOKEN_MAX)
        & (stop_ratio > QUALITY_STOP_MIN)
    )
    w = Window.partitionBy("fp").orderBy("doc_id")
    deduped = kept.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return deduped.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.min("doc_id").alias("first_doc"),
    )


@register(
    "q_bm25",
    oracle="""
    WITH terms AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents
    ),
    tf AS (
        SELECT doc_id, term, COUNT(*) AS f FROM terms GROUP BY doc_id, term
    ),
    dl AS (
        SELECT doc_id, COUNT(*) AS dlen FROM terms GROUP BY doc_id
    ),
    stats AS (
        SELECT COUNT(*) AS n_docs, AVG(CAST(dlen AS DOUBLE)) AS avgdl FROM dl
    ),
    df AS (
        SELECT term, COUNT(*) AS nq FROM tf GROUP BY term
    )
    SELECT t.doc_id,
           ROUND(SUM(
               ln(1.0 + (s.n_docs - d.nq + 0.5) / (d.nq + 0.5))
               * t.f * 2.2
               / (t.f + 1.2 * (0.25 + 0.75 * l.dlen / s.avgdl))
           ), 4) AS bm25
    FROM tf t
    JOIN df d USING (term)
    JOIN dl l USING (doc_id)
    CROSS JOIN stats s
    WHERE d.term IN ('spark', 'merge', 'window')
    GROUP BY t.doc_id
    """,
    doc="BM25 relevance scoring (k1=1.2, b=0.75) of every document "
    "against a term query — the ranking function under Lucene and most "
    "retrieval-based data curation. Term frequencies and document "
    "lengths are grouped aggregates; the document-frequency table is "
    "pruned to the QUERY terms before its broadcast (|query| rows — "
    "bounded by construction, no vocabulary-size assumption) and the "
    "corpus stats are one scalar row, so the posting stream shuffles "
    "only on (doc_id). The query-term filter prunes the posting list "
    "BEFORE the scoring join.",
)
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    k1, b = 1.2, 0.75
    query_terms = ["spark", "merge", "window"]
    terms = d.select(
        "doc_id", F.explode(F.split("text", " ", -1)).alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("f"))
    dl = terms.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dlen"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.col("dlen").cast("double")).alias("avgdl"),
    )
    df_tbl = tf.groupBy("term").agg(F.count(F.lit(1)).alias("nq"))
    idf = F.log(
        1.0 + (F.col("n_docs") - F.col("nq") + 0.5) / (F.col("nq") + 0.5)
    )
    score = (
        idf
        * F.col("f")
        * (k1 + 1.0)
        / (F.col("f") + k1 * (1 - b + b * F.col("dlen") / F.col("avgdl")))
    )
    return (
        tf.filter(F.col("term").isin(query_terms))
        .join(F.broadcast(df_tbl.filter(F.col("term").isin(query_terms))), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(score), 4).alias("bm25"))
    )


PACK_SHARDS = 16  # training shards to balance token load across
PACK_BUCKET = 64  # token-length bucket width for the distributed serpentine


@register(
    "q_shard_packing",
    oracle=f"""
    WITH docs AS (
        SELECT doc_id,
               COALESCE(CAST(len(string_split(text, ' ')) AS BIGINT), 0)
                   AS toks,
               COALESCE(CAST(len(string_split(text, ' ')) AS BIGINT), 0)
                   // {PACK_BUCKET} AS bucket
        FROM documents
    ),
    ranked AS (
        SELECT doc_id, toks, bucket,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY bucket
                   ORDER BY toks DESC, doc_id) AS BIGINT) AS idx_w
        FROM docs
    ),
    bc AS (
        SELECT bucket, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM docs GROUP BY bucket
    ),
    offs AS (
        SELECT bucket,
               CAST(COALESCE(SUM(cnt) OVER (
                   ORDER BY bucket DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS off
        FROM bc
    ),
    assigned AS (
        SELECT r.doc_id, r.toks,
               o.off + r.idx_w - 1 AS gidx,
               (r.doc_id * 2654435761) % 4294967296 % {PACK_SHARDS}
                   AS hash_shard
        FROM ranked r JOIN offs o ON r.bucket = o.bucket
    ),
    dealt AS (
        SELECT doc_id, toks, hash_shard,
               CASE WHEN (gidx // {PACK_SHARDS}) % 2 = 0
                    THEN gidx % {PACK_SHARDS}
                    ELSE {PACK_SHARDS - 1} - gidx % {PACK_SHARDS}
               END AS shard
        FROM assigned
    ),
    packed AS (
        SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(toks) AS BIGINT) AS tokens_packed
        FROM dealt GROUP BY shard
    ),
    hashed AS (
        SELECT hash_shard AS shard, CAST(SUM(toks) AS BIGINT) AS tokens_hash
        FROM dealt GROUP BY hash_shard
    )
    SELECT CAST(p.shard AS BIGINT) AS shard, p.n_docs,
           p.tokens_packed, h.tokens_hash,
           CAST((p.tokens_packed * {PACK_SHARDS} * 1000000)
                // CAST(SUM(p.tokens_packed) OVER () AS BIGINT)
                AS BIGINT) - 1000000 AS dev_packed_ppm,
           CAST((h.tokens_hash * {PACK_SHARDS} * 1000000)
                // CAST(SUM(p.tokens_packed) OVER () AS BIGINT)
                AS BIGINT) - 1000000 AS dev_hash_ppm
    FROM packed p JOIN hashed h ON p.shard = h.shard
    """,
    doc="Balanced training-shard packing — the 'write N shards of "
    "~equal token load' step before distributed training, where a "
    "hash assignment leaves the token variance of documents on the "
    "table: docs are dealt to shards in serpentine order (0..S-1 "
    "then S-1..0) along the GLOBAL tokens-DESC rank, which cancels "
    "the size gradient a plain round-robin accumulates. The global "
    "rank is computed in TWO DISTRIBUTED phases — per-bucket "
    "ROW_NUMBERs (window partitioned by the width-64 token-length "
    "bucket) plus exclusive prefix counts over the tiny BUCKETS "
    "table — and because bucket = toks div width is monotone in "
    "toks, offset + local rank IS the exact global order: no "
    "corpus-sized single-partition window anywhere. Output is the per-shard packing ledger: doc "
    "count, token load under serpentine packing vs under the Knuth-"
    "hash assignment (q_data_split's mechanism), and each one's "
    "signed exact-ppm deviation from the ideal equal split — the "
    "serpentine deviation band is the number a training-infra owner "
    "actually watches (hash deviation ~ sqrt-variance, packed "
    "deviation ~ bucket-width-bounded). NULL-text docs pack with 0 "
    "tokens (COALESCE, both engines). Plan: one scan -> bucket-"
    "partitioned window -> two shard-keyed aggregates joined on "
    f"{PACK_SHARDS} rows + one {PACK_SHARDS}-row window for the "
    "totals. At 100 TB every wide op is keyed by bucket or shard — "
    "nothing global, no skew (buckets are length-bounded).",
)
def q_shard_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_compactor_spark.llm.text import whitespace_tokens

    S = PACK_SHARDS
    d = load(spark, sf_dir, "documents")
    toks = F.coalesce(
        F.size(whitespace_tokens(F.col("text"))).cast("bigint"), F.lit(0)
    )
    docs = d.select(
        "doc_id",
        toks.alias("toks"),
        F.expr(
            f"COALESCE(CAST(size(split(text, ' ', -1)) AS BIGINT), 0)"
            f" div {PACK_BUCKET}"
        ).alias("bucket"),
    )
    # Two-phase GLOBAL rank without a corpus-sized single-partition
    # window: (1) rank within each token-length bucket (the window
    # partitions by bucket — distributed); (2) exclusive prefix counts
    # over the BUCKETS table (|buckets| rows — the only global window,
    # bounded by max_tokens/width) give each bucket's global offset.
    # bucket = toks div width is MONOTONE in toks, so offset + local
    # rank IS the exact global tokens-DESC, doc_id-ASC rank.
    wb = Window.partitionBy("bucket").orderBy(F.desc("toks"), F.asc("doc_id"))
    ranked = docs.withColumn(
        "idx_w", F.row_number().over(wb).cast("bigint")
    )
    bc = docs.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    wo = (
        Window.orderBy(F.desc("bucket"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = bc.select(
        "bucket",
        F.coalesce(F.sum("cnt").over(wo), F.lit(0)).cast("bigint").alias(
            "off"
        ),
    )
    assigned = (
        ranked.join(F.broadcast(offs), "bucket")
        .withColumn("gidx", F.col("off") + F.col("idx_w") - 1)
        .select(
            "doc_id",
            "toks",
            F.pmod(
                F.pmod(F.col("doc_id") * F.lit(2654435761), F.lit(4294967296)),
                F.lit(S),
            ).alias("hash_shard"),
            # Serpentine deal on the global rank: exact integer div/mod.
            F.expr(
                f"CASE WHEN (gidx div {S}) % 2 = 0 THEN gidx % {S} "
                f"ELSE {S - 1} - gidx % {S} END"
            ).alias("shard"),
        )
    )
    packed = assigned.groupBy("shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("toks").cast("bigint").alias("tokens_packed"),
    )
    hashed = assigned.groupBy("hash_shard").agg(
        F.sum("toks").cast("bigint").alias("tokens_hash")
    )
    j = packed.join(
        F.broadcast(hashed.withColumnRenamed("hash_shard", "shard")), "shard"
    )
    return j.select(
        F.col("shard").cast("bigint").alias("shard"),
        "n_docs",
        "tokens_packed",
        "tokens_hash",
        F.expr(
            f"CAST((tokens_packed * {S} * 1000000) div "
            "CAST(SUM(tokens_packed) OVER () AS BIGINT) AS BIGINT)"
            " - 1000000"
        ).alias("dev_packed_ppm"),
        F.expr(
            f"CAST((tokens_hash * {S} * 1000000) div "
            "CAST(SUM(tokens_packed) OVER () AS BIGINT) AS BIGINT)"
            " - 1000000"
        ).alias("dev_hash_ppm"),
    )


RRF_K = 60  # the standard reciprocal-rank-fusion damping constant
RRF_TOP = 20  # per-retriever shortlist depth


@register(
    "q_rank_fusion",
    oracle=f"""
    WITH terms AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents
    ),
    tf AS (
        SELECT doc_id, term, COUNT(*) AS f FROM terms GROUP BY doc_id, term
    ),
    dl AS (
        SELECT doc_id, COUNT(*) AS dlen FROM terms GROUP BY doc_id
    ),
    stats AS (
        SELECT COUNT(*) AS n_docs, AVG(CAST(dlen AS DOUBLE)) AS avgdl FROM dl
    ),
    df AS (
        SELECT term, COUNT(*) AS nq FROM tf GROUP BY term
    ),
    lex_scored AS (
        SELECT t.doc_id,
               CAST(SUM(CAST(FLOOR(
                   ln(1.0 + (s.n_docs - d.nq + 0.5) / (d.nq + 0.5))
                   * t.f * 2.2
                   / (t.f + 1.2 * (0.25 + 0.75 * l.dlen / s.avgdl))
                   * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS lex_micro
        FROM tf t
        JOIN df d USING (term)
        JOIN dl l USING (doc_id)
        CROSS JOIN stats s
        WHERE d.term IN ('spark', 'merge', 'window')
        GROUP BY t.doc_id
    ),
    lex_rank AS (
        SELECT doc_id, CAST(rn AS BIGINT) AS lex_rank FROM (
            SELECT doc_id, ROW_NUMBER() OVER
                (ORDER BY lex_micro DESC, doc_id) AS rn
            FROM lex_scored
        ) WHERE rn <= {RRF_TOP}
    ),
    v AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        FROM embeddings WHERE embedding IS NOT NULL
    ),
    q AS (SELECT vec FROM v WHERE vec_id = 0),
    sem_scored AS (
        SELECT v.vec_id AS doc_id,
               ROUND(list_dot_product(v.vec, q.vec)
                     / (sqrt(list_sum(list_transform(v.vec, x -> x * x)))
                      * sqrt(list_sum(list_transform(q.vec, x -> x * x)))),
                     4) AS cos4
        FROM v CROSS JOIN q WHERE v.vec_id <> 0
    ),
    sem_rank AS (
        SELECT doc_id, CAST(rn AS BIGINT) AS sem_rank FROM (
            SELECT doc_id, ROW_NUMBER() OVER
                (ORDER BY cos4 DESC, doc_id) AS rn
            FROM sem_scored
        ) WHERE rn <= {RRF_TOP}
    )
    SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
           l.lex_rank, s.sem_rank,
           CAST(FLOOR((COALESCE(1.0 / ({RRF_K} + l.lex_rank), 0.0)
                       + COALESCE(1.0 / ({RRF_K} + s.sem_rank), 0.0))
                      * 1000000 + 0.5) AS BIGINT) AS rrf_micro
    FROM lex_rank l FULL OUTER JOIN sem_rank s ON l.doc_id = s.doc_id
    """,
    doc="Reciprocal-rank fusion of a lexical and a semantic retriever "
    "(Cormack et al. 2009: score = sum over systems of 1/(k + rank), "
    "k=60 — the standard hybrid-retrieval combiner under RAG data "
    "pipelines): arm 1 is q_bm25's scoring (k1=1.2, b=0.75, the same "
    "three-term query) with each per-term score FLOOR-micro-rounded "
    "BEFORE the per-doc sum so ranks order on exact bigints (the "
    "q_bigram_backoff discipline — a float sum's addend order could "
    "flip a rank tie); arm 2 is brute-force cosine against the "
    "vec_id-0 query vector (q_sim_topk's convention; vec_id is the "
    "document id, as in the dedup families), 4dp-rounded before "
    f"ranking. Each arm takes a TOP-{RRF_TOP} shortlist through a "
    "bounded TakeOrdered heap — never a global sort — and the fusion "
    f"itself is a FULL OUTER join of two {RRF_TOP}-row frames "
    "(broadcast; a doc missing from one arm contributes 0 to the "
    "fused score, surfacing single-arm evidence instead of dropping "
    "it). Ranks are deterministic on both engines (exact-integer "
    "score DESC, doc_id ASC); the fused score is an exact-micro "
    "bigint from two IEEE-identical reciprocal terms added in a "
    "fixed order. At 100 TB: both arms are the already-audited "
    f"retrieval plans; fusion state is 2x{RRF_TOP} rows.",
)
def q_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_compactor_spark.llm.similarity import dot, l2_norm

    d = load(spark, sf_dir, "documents")
    k1, b = 1.2, 0.75
    query_terms = ["spark", "merge", "window"]
    terms = d.select(
        "doc_id", F.explode(F.split("text", " ", -1)).alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("f"))
    dl = terms.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dlen"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.col("dlen").cast("double")).alias("avgdl"),
    )
    df_tbl = tf.groupBy("term").agg(F.count(F.lit(1)).alias("nq"))
    idf = F.log(
        1.0 + (F.col("n_docs") - F.col("nq") + 0.5) / (F.col("nq") + 0.5)
    )
    score = (
        idf
        * F.col("f")
        * (k1 + 1.0)
        / (F.col("f") + k1 * (1 - b + b * F.col("dlen") / F.col("avgdl")))
    )
    lex_scored = (
        tf.filter(F.col("term").isin(query_terms))
        .join(
            F.broadcast(df_tbl.filter(F.col("term").isin(query_terms))),
            "term",
        )
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.sum(F.floor(score * 1000000 + 0.5).cast("bigint"))
            .cast("bigint")
            .alias("lex_micro")
        )
    )
    lex_rank = (
        lex_scored.orderBy(F.desc("lex_micro"), F.asc("doc_id"))
        .limit(RRF_TOP)
        .withColumn(
            "lex_rank",
            F.row_number()
            .over(Window.orderBy(F.desc("lex_micro"), F.asc("doc_id")))
            .cast("bigint"),
        )
        .select("doc_id", "lex_rank")
    )
    e = load(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    v = e.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("vec"),
    )
    qv = v.filter(F.col("vec_id") == 0).select(
        F.col("vec").alias("qvec"), l2_norm(F.col("vec")).alias("qn")
    )
    sem_scored = (
        v.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(
                dot(F.col("vec"), F.col("qvec"))
                / (l2_norm(F.col("vec")) * F.col("qn")),
                4,
            ).alias("cos4"),
        )
    )
    sem_rank = (
        sem_scored.orderBy(F.desc("cos4"), F.asc("doc_id"))
        .limit(RRF_TOP)
        .withColumn(
            "sem_rank",
            F.row_number()
            .over(Window.orderBy(F.desc("cos4"), F.asc("doc_id")))
            .cast("bigint"),
        )
        .select("doc_id", "sem_rank")
    )
    fused = lex_rank.join(sem_rank, "doc_id", "full")
    rrf = F.coalesce(
        F.lit(1.0) / (RRF_K + F.col("lex_rank")), F.lit(0.0)
    ) + F.coalesce(F.lit(1.0) / (RRF_K + F.col("sem_rank")), F.lit(0.0))
    return fused.select(
        "doc_id",
        "lex_rank",
        "sem_rank",
        F.floor(rrf * 1000000 + 0.5).cast("bigint").alias("rrf_micro"),
    )


@register(
    "q_embed_quantize",
    oracle="""
    WITH norms AS (
        SELECT vec_id, label, embedding,
               sqrt(list_sum(list_transform(embedding,
                                            x -> CAST(x AS DOUBLE) ** 2)))
                   AS l2
        FROM embeddings
    )
    SELECT vec_id, label,
           ROUND(l2, 4) AS l2_norm,
           array_to_string(
               list_transform(embedding,
                   x -> CAST(greatest(-127, least(127,
                        round(127.0 * CAST(x AS DOUBLE) / l2))) AS BIGINT))[1:4],
               ',') AS q_head
    FROM norms
    WHERE l2 > 0
    """,
    doc="Embedding preprocessing for ANN serving: L2-normalize then "
    "symmetric int8 quantization (scale 127, clamp to [-127,127]) — "
    "4x memory reduction before index build. Pure higher-order array "
    "lambdas, zero Python; per-row map, no shuffle at all. q_head is "
    "rendered as a comma-joined string (scalar-output convention: "
    "differential harnesses canonicalize by sorting over all columns, "
    "and list-typed sort keys are unhashable in pandas).",
)
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    l2 = F.sqrt(
        F.aggregate(
            "embedding",
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    q = F.transform(
        "embedding",
        lambda x: F.greatest(
            F.lit(-127.0),
            F.least(
                F.lit(127.0),
                F.round(127.0 * x.cast("double") / F.col("l2")),
            ),
        ).cast("bigint"),
    )
    return (
        e.withColumn("l2", l2)
        .filter(F.col("l2") > 0)
        .select(
            "vec_id",
            "label",
            F.round("l2", 4).alias("l2_norm"),
            F.concat_ws(",", F.slice(q, 1, 4).cast("array<string>")).alias("q_head"),
        )
    )


@register(
    "q_funnel_attrition",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, source,
               (text IS NOT NULL AND trim(text) <> '') AS nonempty,
               len(string_split(text, ' ')) AS n_tokens,
               CAST(len(regexp_extract_all(text, '{_STOPWORD_REGEX}'))
                    AS DOUBLE)
                 / len(string_split(text, ' ')) AS stop_ratio,
               md5(trim(regexp_replace(lower(text), '{FINGERPRINT_STRIP}', ' ', 'g')))
                   AS fp
        FROM documents
    ),
    flagged AS (
        SELECT doc_id, source, fp, nonempty,
               (nonempty AND n_tokens BETWEEN {QUALITY_TOKEN_MIN}
                                          AND {QUALITY_TOKEN_MAX}) AS len_ok,
               (nonempty AND n_tokens BETWEEN {QUALITY_TOKEN_MIN}
                                          AND {QUALITY_TOKEN_MAX}
                         AND stop_ratio > {QUALITY_STOP_MIN}) AS quality_ok
        FROM scored
    ),
    ranked AS (
        SELECT *,
               ROW_NUMBER() OVER (
                   PARTITION BY fp
                   ORDER BY CASE WHEN quality_ok THEN 0 ELSE 1 END, doc_id
               ) AS rn
        FROM flagged
    )
    SELECT source,
           COUNT(*) AS n_total,
           CAST(SUM(CASE WHEN nonempty THEN 1 ELSE 0 END) AS BIGINT)
               AS n_nonempty,
           CAST(SUM(CASE WHEN len_ok THEN 1 ELSE 0 END) AS BIGINT)
               AS n_len_ok,
           CAST(SUM(CASE WHEN quality_ok THEN 1 ELSE 0 END) AS BIGINT)
               AS n_quality_ok,
           CAST(SUM(CASE WHEN quality_ok AND rn = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_canonical,
           (CAST(SUM(CASE WHEN quality_ok AND rn = 1 THEN 1 ELSE 0 END)
                 AS BIGINT) * 1000000) // COUNT(*) AS keep_ppm
    FROM ranked
    GROUP BY source
    """,
    doc="Curation-funnel attrition dashboard: per SOURCE, how many "
    "documents survive each cumulative gate — nonempty text -> token-"
    "length band (20..1000) -> stopword-density quality gate -> exact-"
    "dedup canonical (first quality survivor per normalized md5 "
    "fingerprint, lowest doc_id wins). q_corpus_prep runs the same "
    "gates but reports only the FINAL per-language budget; a pipeline "
    "operator needs to know WHERE documents die per upstream source — "
    "the number that says a crawl went bad or a filter is too tight. "
    "Gates are cumulative ANDs, so each column is <= the previous and "
    "keep_ppm is exact bigint parts-per-million. The canonical flag "
    "avoids a second corpus scan: non-survivors rank AFTER survivors "
    "inside each fingerprint partition (ORDER BY quality DESC, doc_id), "
    "so rn=1 AND quality_ok is exactly 'first surviving copy' in the "
    "same window pass. Plan: scan -> map (flags + fingerprint) -> one "
    "fingerprint-keyed window shuffle -> one source rollup; at 100 TB "
    "the fingerprint shuffle is the only wide stage and its key is an "
    "md5 — uniform by construction.",
)
def q_funnel_attrition(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.col("text"), " ", -1))
    stop_ratio = (
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_STOPWORD_REGEX))).cast(
            "double"
        )
        / n_tokens
    )
    nonempty = F.col("text").isNotNull() & (F.trim(F.col("text")) != "")
    len_ok = nonempty & n_tokens.between(QUALITY_TOKEN_MIN, QUALITY_TOKEN_MAX)
    quality_ok = len_ok & (stop_ratio > QUALITY_STOP_MIN)
    fp = F.md5(F.trim(F.regexp_replace(F.lower(F.col("text")), FINGERPRINT_STRIP, " ")))
    flagged = d.select(
        "doc_id",
        "source",
        fp.alias("fp"),
        nonempty.alias("nonempty"),
        len_ok.alias("len_ok"),
        quality_ok.alias("quality_ok"),
    )
    rn = F.row_number().over(
        Window.partitionBy("fp").orderBy(
            F.when(F.col("quality_ok"), 0).otherwise(1), "doc_id"
        )
    )
    ranked = flagged.withColumn("rn", rn)
    canonical = F.col("quality_ok") & (F.col("rn") == 1)
    n_canonical = F.sum(F.when(canonical, 1).otherwise(0)).cast("bigint")
    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(F.col("nonempty"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_nonempty"),
        F.sum(F.when(F.col("len_ok"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_len_ok"),
        F.sum(F.when(F.col("quality_ok"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_quality_ok"),
        n_canonical.alias("n_canonical"),
        F.expr(
            "(cast(sum(case when quality_ok and rn = 1 then 1 else 0 end)"
            " as bigint) * 1000000) div count(1)"
        ).alias("keep_ppm"),
    )


# --------------------------------------------------------------------------
# Weighted sampling without replacement (Efraimidis-Spirakis A-ES)
# --------------------------------------------------------------------------

#: Per-source draw count for q_weighted_sample.
AES_K = 4

#: The 60-bit md5-derived uniform's denominator (2^60) — the portable
#: hash-uniform convention shared with the simhash portable mode.
AES_DENOM = float(1 << 60)


def aes_keyed(docs: DataFrame) -> DataFrame:
    """(source, doc_id, n_tokens, key_nano) — the A-ES exponential rank
    key frame: u = md5-derived 60-bit hash-uniform of doc_id, weight =
    whitespace token count, key = -ln(u)/w snapped to the exact nano
    bigint grid (floor(x*1e9 + 0.5)). The SINGLE implementation shared
    by the batch draw (:func:`q_weighted_sample`) and the streaming
    reservoir (``streaming.pipeline.weighted_reservoir_stream``) — one
    definition, so the documented "identical algebra" claim between the
    two cannot drift under a future edit (round-13 ADVICE)."""
    h60 = F.expr(
        "cast(conv(substr(md5(cast(doc_id as string)), 1, 15), 16, 10)"
        " as bigint)"
    )
    return (
        docs.filter(F.col("text").isNotNull())
        .select(
            "source",
            "doc_id",
            F.size(F.split("text", " ", -1)).cast("bigint").alias("n_tokens"),
            ((h60 + F.lit(1)) / F.lit(AES_DENOM)).alias("u"),
        )
        .select(
            "source",
            "doc_id",
            "n_tokens",
            F.floor((-F.log("u") / F.col("n_tokens")) * 1e9 + 0.5)
            .cast("bigint")
            .alias("key_nano"),
        )
    )


@register(
    "q_weighted_sample",
    oracle=f"""
    WITH d AS (
        SELECT source, doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                + 1) / {AES_DENOM} AS u
        FROM documents WHERE text IS NOT NULL
    ),
    keyed AS (
        SELECT source, doc_id, n_tokens,
               CAST(FLOOR((-LN(u) / n_tokens) * 1000000000 + 0.5) AS BIGINT)
                   AS key_nano
        FROM d
    )
    SELECT source, doc_id, n_tokens, key_nano, rn
    FROM (
        SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY source ORDER BY key_nano, doc_id) AS rn
        FROM keyed
    )
    WHERE rn <= {AES_K}
    """,
    doc="Weighted sampling WITHOUT replacement (Efraimidis-Spirakis "
    "A-ES, IPL 2006): per source, draw K documents with probability "
    "proportional to token count by ranking exponential keys "
    "-ln(u)/w and keeping the K smallest — the sampling primitive "
    "mixture-weighted corpus draws need that q_domain_mix / "
    "q_mixture_epochs (which only compute the target WEIGHTS) stop "
    "short of. Deterministic and engine-portable: u is the md5-derived "
    "60-bit hash-uniform of the doc_id (the simhash portable-hash "
    "convention), the single transcendental is snapped to an exact "
    "NANO-unit bigint grid (floor(x*1e9 + 0.5), the q_token_entropy "
    "micro-grid convention — a cross-libm 1-ulp divergence would have "
    "to land exactly on a grid boundary to flip a rank), and grid ties "
    "break on doc_id identically in both engines. One scan + one "
    "source-keyed top-K window; at 100 TB the window sort is the only "
    "per-source cost and a two-pass approximate key-threshold pre-cut "
    "(filter key_nano below a generous per-source quantile, then exact "
    "rank the survivors) bounds it without changing results.",
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    keyed = aes_keyed(load(spark, sf_dir, "documents"))
    w = Window.partitionBy("source").orderBy("key_nano", "doc_id")
    return (
        keyed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= AES_K)
        .select("source", "doc_id", "n_tokens", "key_nano", "rn")
    )
