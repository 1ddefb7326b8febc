"""Query registry: the single source of truth for the engine's query surface.

Every operator from SURVEY.md §2B registers here as a named query — a
PySpark callable ``(spark, sf_dir) -> DataFrame`` plus (where expressible)
an equivalent ANSI-SQL string for the DuckDB oracle. ``__spark_entry__.py``
exposes this registry to the driver's differential harness.

Conventions enforced here by construction:
- every computed column is aliased identically in the Spark plan and the
  oracle SQL (the driver hashes after sorting columns by name);
- float outputs are rounded in BOTH engines (summation-order tolerance);
- timestamps in outputs are truncated/formatted identically on both sides
  (events.ts is parquet ns; Spark reads micros, DuckDB keeps ns).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None  # None → driver records a weaker rows-only check
    doc: str = ""


_REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None = None, doc: str = ""):
    """Decorator: register a query under ``name`` with its oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""))
        return fn

    return deco


def _parquet_ts_unit(path: str, column: str) -> str | None:
    """Peek a parquet footer (driver-side, metadata-only) and return the
    arrow type string of ``column`` (e.g. ``timestamp[ns]``), or None if
    the footer cannot be read or the column is absent."""
    import glob
    import os

    p = path
    if not os.path.isfile(p):
        parts = sorted(glob.glob(os.path.join(p, "*.parquet")))
        if not parts:
            return None
        p = parts[0]
    try:
        import pyarrow.parquet as pq

        schema = pq.read_schema(p)
    except Exception:
        return None
    if column not in schema.names:
        return None
    return str(schema.field(column).type)


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Load one driver-provided parquet table (TESTDATA.md).

    ``events.ts`` has shipped in two fixture generations: parquet
    TIMESTAMP(NANOS) (read as long via
    ``spark.sql.legacy.parquet.nanosAsLong`` and converted to a
    microsecond timestamp) and naive TIMESTAMP(MICROS)
    (``isAdjustedToUTC=false``, which Spark 4 infers as TIMESTAMP_NTZ).
    Both normalize here to a plain TIMESTAMP so downstream operators
    (``unix_micros``, range frames, watermarks) see one type. The
    NTZ→TIMESTAMP cast is wall-clock-preserving in the session zone, so
    collected/rendered values are identical to DuckDB's naive read
    regardless of the caller's timezone.

    The ``nanosAsLong`` legacy conf is only set on the caller's session
    when the footer actually carries TIMESTAMP(NANOS) (a driver-side
    metadata peek) — a micros read leaves the session conf untouched.
    When nanos IS present the conf stays set for the session lifetime:
    Spark re-reads it at execution time, so restoring it between
    ``spark.read`` and the action would break the lazy read.

    The resulting DataFrame — a LAZY logical plan, never data — is
    memoized per (session, path, file mtime+size): every ``spark.read``
    re-lists the path and re-reads the footer schema (~100-250 ms of
    driver/py4j work per call, guide §5 "the driver should do almost no
    data work"), and a 230-query harness re-derives the identical scan
    relation hundreds of times. Reusing the plan object skips that
    driver work while every action still scans the parquet inputs —
    nothing is persisted or precomputed (no ``.cache()``; execution is
    unchanged). The memo lives ON the session object, so a stopped or
    replaced session drops it, and the mtime/size key invalidates it
    when a fixture is rewritten in place (tests that regenerate a
    table at the same path).
    """
    import os

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    path = f"{sf_dir}/{table}.parquet"
    try:
        st = os.stat(path)
        # The lazy plan embeds ANALYSIS-time session state, not just the
        # file: the NTZ→TIMESTAMP cast below is a TimeZoneAwareExpression
        # whose timeZoneId is resolved when the DataFrame is analyzed,
        # and cast("timestamp") parses to the session's timestampType.
        # A plan memoized under one timezone spliced into a query built
        # under another mixes two zones in one plan and silently shifts
        # wall clocks (q_large_orders dates moved a day under the
        # hostile-session sweep) — so those confs are part of the key;
        # a conf flip re-derives instead of reusing.
        memo_key = (
            path,
            st.st_mtime_ns,
            st.st_size,
            spark.conf.get("spark.sql.session.timeZone", None),
            spark.conf.get("spark.sql.timestampType", None),
        )
    except OSError:
        memo_key = None
    memo = getattr(spark, "_pcs_load_memo", None)
    if memo is None:
        memo = {}
        spark._pcs_load_memo = memo
    if memo_key is not None and memo_key in memo:
        return memo[memo_key]
    unit = _parquet_ts_unit(path, "ts") if table == "events" else None
    if unit is not None and unit.startswith("timestamp[ns"):
        # startswith, not equality: an isAdjustedToUTC nanos column reads
        # as "timestamp[ns, tz=UTC]". Works on any caller-provided
        # SparkSession (the driver builds its own): enable nanos-as-long
        # at runtime before reading.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        df = spark.read.parquet(path)
    except Exception as err:
        if table == "events" and "NANOS" in str(err):
            # Fallback when the metadata peek couldn't run (no pyarrow):
            # Spark's own schema resolution names the illegal NANOS type.
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            df = spark.read.parquet(path)
        else:
            raise
    # Session-proof the naive timestamps: whether the caller's session
    # infers them as NTZ (Spark 4 default) or LTZ (inferTimestampNTZ
    # disabled — which would reinterpret the stored micros as UTC
    # instants and SHIFT every wall clock by the session zone), force
    # the read to NTZ via an explicit schema, then cast to plain
    # TIMESTAMP. The NTZ→TIMESTAMP cast is wall-clock-preserving in the
    # session zone, so every downstream wall-clock operation
    # (date_trunc/date_format/string-literal compares) sees exactly the
    # values DuckDB's naive read sees, under ANY session confs.
    # Known residual: a wall clock that falls INSIDE a session-zone DST
    # gap (midnight-transition zones — America/Havana, America/Santiago)
    # has no LTZ representation and shifts forward by the gap (00:00 →
    # 01:00). The shift never crosses a day boundary backward, so DATE
    # parts survive — which is why oracle-bearing outputs render dates
    # or DATE-derived strings, never raw time-of-day from the date-
    # valued TPC-H columns (pinned by the output-schema sweep in
    # tests/test_oracle.py).
    ts_fields = [
        f.name
        for f in df.schema
        if isinstance(f.dataType, (T.TimestampType, T.TimestampNTZType))
    ]
    if ts_fields:
        forced = T.StructType(
            [
                T.StructField(
                    f.name,
                    T.TimestampNTZType()
                    if isinstance(f.dataType, (T.TimestampType, T.TimestampNTZType))
                    else f.dataType,
                    f.nullable,
                )
                for f in df.schema
            ]
        )
        df = spark.read.schema(forced).parquet(path)
        df = df.withColumns(
            {name: F.col(name).cast("timestamp") for name in ts_fields}
        )
    if table == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if memo_key is not None:
        memo[memo_key] = df
    return df


def load_ntz(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Load a table with every naive parquet timestamp forced to
    TIMESTAMP_NTZ via an explicit read schema.

    ``spark.read.parquet`` maps a naive TIMESTAMP(MICROS) column to NTZ
    or LTZ depending on SESSION state (``inferTimestampNTZ`` /
    ``timestampType`` / timezone) — an external harness with different
    confs can therefore see different values than the local one (LTZ
    shifts wall clocks by the session zone; day-interval arithmetic on
    LTZ is duration-based and flips strict comparisons across DST).
    Forcing NTZ in the requested schema makes the read verbatim and
    session-independent, matching DuckDB's naive-timestamp semantics
    exactly. Queries whose ORACLE depends on date boundaries or date
    arithmetic should read through this helper and ``to_date`` the NTZ
    columns (a pure date-part extraction, timezone-free).

    Memoized per (session, path, mtime+size) like :func:`load` — this
    helper pays TWO ``spark.read`` schema derivations per call, so the
    lazy-plan reuse saves double. Unlike :func:`load`, the plan carries
    NO zone-aware expression (a forced-NTZ read, no cast), so the key
    needs no session-conf component: the identical plan is correct
    under any timezone/timestampType.
    """
    import os

    from pyspark.sql import types as T

    path = f"{sf_dir}/{table}.parquet"
    try:
        st = os.stat(path)
        memo_key = ("ntz", path, st.st_mtime_ns, st.st_size)
    except OSError:
        memo_key = None
    memo = getattr(spark, "_pcs_load_memo", None)
    if memo is None:
        memo = {}
        spark._pcs_load_memo = memo
    if memo_key is not None and memo_key in memo:
        return memo[memo_key]
    inferred = spark.read.parquet(path).schema
    forced = T.StructType(
        [
            T.StructField(
                f.name,
                T.TimestampNTZType() if isinstance(f.dataType, T.TimestampType) else f.dataType,
                f.nullable,
            )
            for f in inferred
        ]
    )
    df = spark.read.schema(forced).parquet(path)
    if memo_key is not None:
        memo[memo_key] = df
    return df


def _ensure_loaded() -> None:
    # Import side effect: all query modules register themselves.
    from parquet_compactor_spark import llm, queries, streaming  # noqa: F401


# Queries listed here are yielded FIRST by all_queries(), in this order.
# External differential harnesses that sample a prefix of the registry
# (the driver checks the first 50 entries) therefore verify these before
# anything else.
#
# Round 10 (exactly 50 names) — the rotation the round-9 verdict flagged
# as two rounds overdue, finally executed. Composition, computed from
# CORRECTNESS_r0{1..9}.json latest-row-wins (histogram after r9:
# r9 x50, r7 x47, r6 x43, r5 x43, r4 x7):
#   1-5   NEW or newly-fixed this round, no (valid) driver row:
#         q_ivfpq_search (added r9 with a constructor-time TypeError —
#         never driver-checked; round 10 fixed the call AND switched
#         both the ADC LUT and the candidate encoder to the oracle's
#         sample-init codebook), q_substring_dedup (Lee-et-al
#         sliding-window exact-substring dup measure), q_doremi_weights
#         (linearized Group-DRO domain reweighting), q_bloom_delta
#         (Bloom-gated snapshot delta, derived-invariant oracle),
#         q_ivf_cell_stats (IVF cell-balance audit on the shared
#         assignment stage); plus q_kanon_audit (k-anonymity release
#         audit) and q_dist_drift (PSI snapshot drift) at 6-7;
#   8     q_ann_ivf — source refactored in r9 (shared ivf_assign) and
#         again in r10 (query branch moved back to the raw scan,
#         restoring the pinned plan); its latest driver row is r5 and
#         attests NONE of that;
#   9-15  the seven r4-latest rows, alphabetical (q_returned_items,
#         q_salted_join, q_sim_topk, q_small_qty_revenue,
#         q_top_supplier, q_variant_props, q_volume_shipping) — after
#         these, no r4-or-older row remains anywhere;
#   16-50 the r5-latest rows, alphabetical, as many as fit (35 of 42;
#         q_ann_ivf is already at #8). The alphabetically-last seven
#         (q_unpivot, q_window_first_last, q_window_lag,
#         q_window_range_frame, q_window_ranks, q_window_running,
#         q_window_topn) roll to round 11.
#
# Round 11 (exactly 50 names) — the pre-planned rotation, executed:
#   1-15  NEW this round, session 2 (no driver row) —
#         q_cdc_chunk_dedup (FastCDC-style content-defined chunking dedup
#         — shift-resistant chunk boundaries from masked window hashes,
#         corpus-wide chunk copy counts), q_source_overlap (cross-source
#         3-gram Jaccard / containment matrix over distinct shingle-hash
#         sets, complete ordered-pair spine), q_ttr_hapax (type-token
#         ratio and hapax rate per source off the word-frequency table),
#         q_dedup_cascade (exact → normalized → MinHash-LSH funnel with
#         per-stage removal attribution), q_dp_histogram (discrete-
#         Laplace DP count release, exact-integer inverse-CDF table),
#         q_novelty_curve (Heaps-law 5-gram novelty by ingestion-order
#         decile), q_l_diversity (distinct-l attribute-disclosure audit,
#         the q_kanon_audit companion), q_budget_select (quality-ranked
#         per-source token-budget selection), q_doc_entropy (per-doc
#         token-entropy histogram, the repetitive-spam detector),
#         q_quota_admission (per-source ingest quota, the batch twin of
#         the new quota_admission_stream gate), q_embed_covariance
#         (exact-integer distributed Gram matrix via Arrow-batched
#         per-partition partial aggregation), q_kn_bigram (interpolated
#         Kneser-Ney bigram LM scoring — continuation counts, the
#         KenLM estimator next to q_bigram_backoff's Stupid Backoff),
#         q_skew_audit (power-of-two key-frequency bands + exact-ppm
#         skew ratio: the decides-when-to-salt diagnostic), and
#         q_dup_inflation (token-weighted duplication factor per
#         source, the effective-dataset-size number), and
#         q_countmin_topk (Count-Min sketch heavy-hitter estimation on
#         a portable md5 hash — the sketch itself hash-compared
#         exactly, one-sided overcount as a first-class column);
#   16    source CHANGED in session 2: q_ngram_jaccard (third
#         spread_scan adoption — both join sides' trigram builds were
#         single-task off the single-file scan; 3.9 -> 0.6 s warm at
#         sf0.1; q_dedup_survivorship A/B'd the same change as a no-op
#         and was deliberately left unchanged);
#   17-25 NEW in session 1: q_token_fertility (tokenizer
#         fertility / bytes-per-token per language), q_eval_contamination
#         (W=8 sliding-window train-on-test overlap vs the held-out
#         eval shard), q_semdedup_prune (SemDeDup keep-first pruning
#         within Lloyd-refined IVF cells, shared ivf_assign stage),
#         q_vocab_coverage (trained top-V vocabulary OOV audit per
#         source), q_secret_scan (credential-shaped token detectors
#         with seeded ground truth), q_rank_fusion (RRF of the BM25
#         and cosine retrievers, micro-exact ranks, bounded heaps),
#         q_winnowing_fingerprint (MOSS winnowing k-gram sketch with
#         cross-doc share counts), q_embedding_drift (per-dimension
#         mean-shift monitor old-vs-new shard, exact micro units),
#         q_shard_packing (serpentine balanced token sharding vs hash
#         assignment, bucket-partitioned distributed ranks);
#   26-35 source CHANGED in session 1, prior row no longer attests:
#         q_substring_dedup (first-occurrence ordering moved from the
#         packed doc_id*2^20+pos bigint to a struct (doc_id,pos) MIN —
#         the packed form silently mis-ordered docs with >= 2^20
#         windows; also refactored onto the shared sliding-window
#         helpers) and q_bloom_delta (position space now sized from
#         the measured snapshot cardinality, 10 bits/key, instead of a
#         constant m=65536 that saturates beyond the fixture scale);
#         plus the four spread_scan adoptions (q_knn_classify's
#         min-parallelism probe repartition generalized: q_ann_ivf /
#         q_ivfpq_search / q_ivf_cell_stats via the shared ivf_assign
#         — single-file scans were capping the compute-dense maps at
#         one task; measured wins in BASELINE.md round-11 section),
#         and the second adoption wave (q_dedup_minhash /
#         q_minhash_incremental via the shared signature builder,
#         q_dup_ngram_coverage, q_char_trigrams — A/B at the ramp
#         protocol: 4.77->4.09, 4.62->3.69, 3.82->2.01, 2.25->0.78 s;
#         the untouched q_dedup_simhash control held at 2.6 s);
#   36-42 the seven r5 roll-overs from the round-10 plan (q_unpivot +
#         the six q_window_* rows) — after these, no r5 row remains;
#   43-50 the r6-latest rows, alphabetical, as many as fit (8 of 43 —
#         the sixteen session-2 slots displaced q_equidepth_hist,
#         q_event_attribution,
#         q_ewma, q_except,
#         q_frame_sample, q_gapfill_buckets,
#         q_grouped_sample,
#         q_intersect,
#         q_large_orders, q_late_line_priority, q_latest_snapshot,
#         q_locf_interpolate, q_mad_outliers, q_math_fns,
#         q_month_over_month, q_ohlc from the tail).
#         The alphabetically-last thirty-five (q_equidepth_hist,
#         q_event_attribution,
#         q_ewma, q_except,
#         q_frame_sample, q_gapfill_buckets,
#         q_grouped_sample,
#         q_intersect,
#         q_large_orders, q_late_line_priority, q_latest_snapshot,
#         q_locf_interpolate, q_mad_outliers, q_math_fns,
#         q_month_over_month, q_ohlc, q_regr_slope,
#         q_repetition_ratio, q_salted_agg, q_sessionize,
#         q_sliding_window,
#         q_stratified_sample, q_string_agg, q_string_extract,
#         q_text_stats, q_token_count, q_top_bigrams, q_union_dedup,
#         q_value_histogram, q_vector_norm, q_waiting_suppliers,
#         q_whitespace_cleanup, q_window_ntile, q_winsorize,
#         q_zscore_outliers) roll to round 12.
#
# Round-12 rotation plan (after this window lands): first whatever
# round 12 adds or changes, then the thirty-five rolled-over r6 rows above,
# then the r7-latest rows alphabetical to fill 50.
#
# Historical note — round 8's window (kept for the ledger):
#   1-14  the fourteen queries ADDED this round — no driver row exists
#         at all, so they outrank every re-verification
#         (q_pagerank: fixed-iteration integer PageRank over the
#         supplier co-purchase graph, the first graph-centrality
#         operator; q_zipf_fit: per-language Zipf rank-frequency
#         regression in exact integer moment space; q_normalized_dedup:
#         canonical-form (lowercase/punct-strip/ws-collapse) dedup on
#         the 10-token head; q_padding_waste: length-bucketed batching
#         padding overhead vs naive max-context padding;
#         q_token_entropy: per-source unigram entropy in exact integer
#         micro-nats; q_dedup_survivorship: quality-ranked canonical
#         pick per near-dup cluster (longest copy wins, not min id);
#         q_minhash_incremental: cross-snapshot incremental MinHash
#         near-dup, new-shard-probe LSH bucket join, never old x old;
#         q_bpe_merge_pairs: BPE vocabulary-induction inner loop —
#         top adjacent-token-pair frequencies; q_perplexity_buckets:
#         CCNet head/middle/tail per-language quality tiers by unigram
#         perplexity proxy; q_bigram_backoff: Stupid-Backoff bigram-LM
#         document scoring, LM trained on the even-doc_id shard;
#         q_collocation_pmi: Church-&-Hanks PMI collocation top-20;
#         q_knn_classify: 1-NN label propagation from a bounded
#         seed-labeled subset of embeddings; q_mixture_epochs:
#         token-budget epoch allocation per source, the LLaMA-style
#         mixture table; q_pq_encode: product-quantization codebook
#         assignment, map-only);
#   15-18 queries whose SOURCE changed this round, so the prior row no
#         longer attests to the current code: q_lang_temperature (the
#         round-7 driver red — its oracle's two //-by-windowed-SUM
#         columns came back HUGEINT from DuckDB and the driver hash
#         diverged on representation; now CAST AS BIGINT, plus a
#         permanent DuckDB output-type lint over all oracles) and
#         q_approx_stats (the exact percentile rank-bound scaffolding
#         moved to a test-only twin; the sketch pass evaluates one
#         t-digest at 0.45/0.5/0.55 and is now literally
#         constant-memory) and q_dsir_weights (the top-20% cut is now
#         two-level — approx-percentile pre-filter bounding the exact
#         rank window to ~30% of docs — with the scored frame
#         persist_tracked so its three consumers share one corpus
#         scan) and q_embed_dim_stats (the sf0.1 full sweep caught its
#         oracle emitting IEEE -0.0 for a tiny rounded mean where Spark
#         normalizes to +0.0 — the driver hashes the sign bit; both
#         engines now add +0.0 after the round);
#   19-21 the three round-3 rows displaced from the round-7 window
#         (q_time_weighted_avg, q_udaf_geomean, q_stats_agg — after
#         these, no r3-or-older driver row remains anywhere);
#   22-50 the r4-latest rows, alphabetical, as many as fit
#         (q_volume_shipping plus q_ann_ivf, q_anti_join,
#         q_arg_extremes, q_chisq_independence, q_cross_join,
#         q_dedup_minhash, q_dedup_simhash, and — displaced by the
#         second and third batches of round-8 additions — q_sim_topk,
#         q_small_qty_revenue, q_top_supplier, q_variant_props,
#         q_returned_items, q_salted_join, all moved to round 9 by
#         this round's additions/changes; the ledger floor reaches
#         round 5 one round later than first planned, the price of
#         six extra new operators).
# Everything not listed follows in registration order.
#
# Historical note — the round-12 window as it actually ran (the header
# originally said "3 new + ... + 6 r7 fills"; the final window was the
# 8 round-12 operators + 6 round-12 source changes + the 35 r6-latest
# roll-overs + exactly 1 r7 fill, q_agg_distinct — round-12 ADVICE
# bookkeeping fix):
#   evidence ledger after r12: r7x44, r9x47, r10x44, r11x44, r12x50;
#   no row anywhere predates round 7.
#
# Historical note — the round-13 window as it ran (verified green,
# CORRECTNESS_r13 50/50): q_phash_dedup (new) + 11 changed-source
# (prefix-filter trio, q_dedup_simhash, q_ks_test, q_rouge_overlap,
# the 5 word_shingles consumers) + 38 r7-latest rows; the six
# alphabetically-last r7 rows rolled here.
#   evidence ledger after r13: r7x6, r9x47, r10x43, r11x39, r12x45,
#   r13x50.
#
# Round-14 window (this block) — 50 slots, by the standing convention
# (new first, then changed-source, then oldest-evidence re-verifies):
#   1     q_video_meta — NEW: ISO-BMFF (MP4) metadata box walk
#         (real parser over real synthesized containers; the video
#         twin of q_phash_dedup's recipe — round-13 verdict item 5).
#   2-3   source changed in round 14: q_phash_dedup (the JPEG decode
#         path gained the non-divisible-sampling-factor guard —
#         round-13 ADVICE; fixture behavior unchanged, defensive
#         only), q_weighted_sample (its keyed-frame build moved into
#         the shared llm.pipeline.aes_keyed so the streaming
#         reservoir cannot drift from it — round-13 ADVICE).
#         Docstring-only edits (prefix_filter_pairs, the JPEG reader
#         notes) take NO slot: no behavior, no plan, no line moves in
#         executable code.
#   4-9   the six r7-latest rows displaced by round 13's perf fixes —
#         q_ship_priority, q_snapshot_delta, q_span_dedup,
#         q_tfidf_topterms, q_udtf_tokens, q_unigram_logprob — the
#         oldest evidence anywhere; after this window verifies, no
#         query's latest driver row predates round 9.
#   10-50 41 of the 47 r9-latest rows, alphabetical; the last six
#         (q_retention_cohorts, q_stats_agg, q_time_weighted_avg, q_token_entropy, q_udaf_geomean, q_zipf_fit)
#         roll to round 15, displaced by this round's 1 new + 2
#         changed entries exactly as the round-13 plan anticipated.
# Everything not listed follows in registration order.
#
# WINDOW BUDGETING (standing, r13 lesson): if adds/changes fill the window,
# add NO further new registered queries that round — streaming
# members, compactor work, library functions, and perf changes cost
# no slots.
_PRIORITY: tuple[str, ...] = (
    # -- NEW in round 14 (no driver row): first --
    "q_video_meta",
    # -- source changed in round 14 --
    "q_phash_dedup",
    "q_weighted_sample",
    # -- the six r7-latest rows (oldest evidence) --
    "q_ship_priority",
    "q_snapshot_delta",
    "q_span_dedup",
    "q_tfidf_topterms",
    "q_udtf_tokens",
    "q_unigram_logprob",
    # -- 41 r9-latest rows, alphabetical (last six roll to round 15) --
    "q_ann_lsh",
    "q_approx_stats",
    "q_array_agg",
    "q_array_fns",
    "q_batch_sim_topk",
    "q_bigram_backoff",
    "q_bpe_merge_pairs",
    "q_collocation_pmi",
    "q_conditional_distinct",
    "q_cust_order_dist",
    "q_dedup_exact",
    "q_dedup_survivorship",
    "q_disjunctive_join",
    "q_dsir_weights",
    "q_dup_clusters",
    "q_embed_dim_stats",
    "q_embed_quantize",
    "q_explode_posexplode",
    "q_fingerprint",
    "q_funnel_steps",
    "q_higher_order_fns",
    "q_idle_customers",
    "q_json_props",
    "q_lang_id",
    "q_lang_temperature",
    "q_lateral_topn",
    "q_map_props",
    "q_market_share",
    "q_median_filtered",
    "q_merge_upsert",
    "q_mixture_epochs",
    "q_nation_revenue",
    "q_normalized_dedup",
    "q_order_priority",
    "q_padding_waste",
    "q_pagerank",
    "q_perplexity_buckets",
    "q_pq_encode",
    "q_promo_revenue",
    "q_quality_score",
    "q_recursive_cte",
)


def all_queries() -> dict[str, Query]:
    _ensure_loaded()
    ordered: dict[str, Query] = {}
    for name in _PRIORITY:
        if name in _REGISTRY:
            ordered[name] = _REGISTRY[name]
    for name, q in _REGISTRY.items():
        if name not in ordered:
            ordered[name] = q
    return ordered


def query_fns() -> dict[str, QueryFn]:
    return {name: q.fn for name, q in all_queries().items()}


def oracle_sqls() -> dict[str, str]:
    return {name: q.oracle for name, q in all_queries().items() if q.oracle is not None}
