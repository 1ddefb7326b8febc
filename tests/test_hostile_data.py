"""Hostile-DATA differential sweep: NULLs and adversarial strings.

The driver HAS regenerated fixtures between rounds; the shipped ones
happen to be NULL-free and ASCII-only. Round 6 built this fixture
mutation (NULL measure values, NULL dimension balances, empty/unicode/
multi-space document texts) and swept the full 168-query surface on it
— six queries diverged, each a distinct cross-engine semantics class,
all fixed at the source:

- Spark ``collect_list``/window functions DROP NULLs where DuckDB's
  window ``list()``/``COUNT(*)`` keep them (q_ewma, q_mad_outliers);
- Spark ascending sort is NULLS FIRST, DuckDB's NULLS LAST — implicit
  ORDER BY over a nullable column shifts NTILE buckets and k-th order
  statistics (q_window_ntile, q_winsorize);
- Spark ``min_by``/``max_by`` return a NULL value sitting at the
  extremum while DuckDB ``arg_min``/``arg_max`` skip null args
  (q_ohlc);
- a covar/var rewrite of ``regr_slope`` must mask BOTH moments to the
  non-null pair set (q_regr_slope);
- carried as-of values must ride a STRUCT so a NULL value on the
  as-of row stays NULL instead of being skipped (q_asof_join);
- DuckDB ``levenshtein`` counts BYTES, Spark's counts codepoints —
  non-ASCII text skews distances unless folded (q_edit_distance).

This module pins all six plus their nearest construct-neighbors on the
mutated fixture. (The synthetic-fixture test in test_oracle.py covers
the NULL classes on a hand-built micro table; this one mutates the real
driver fixture wholesale, so join keys, distributions, and scale stay
realistic.)

Round 7 added a NULL text row to the document mutations and re-swept the
full surface: four more instances of one class fell out — a map-only
Spark plan carries the NULL-text doc while an unnest/strlen-based oracle
drops or re-groups it (q_doc_chunking '' vs NULL chunk, q_udtf_tokens
UDTF-yields-nothing vs NULL-token rows, q_multimodal_meta NULL-modality
group, q_explode_outer whose oracle needed the IS NULL placeholder since
explode_outer deliberately keeps the row). Scope pinned explicitly on
both engines per query; full surface green on the mutated fixture.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pytest

from parquet_compactor_spark.registry import all_queries
from tests.conftest import SF_SMOKE
from tests.oracle_utils import compare_to_oracle

QUERIES = all_queries()

#: The six fixed queries plus neighbors sharing the sensitive constructs
#: (value ordering / argmin-argmax / window frames over nullable
#: measures / text distance), kept curated so the suite cost stays
#: ~a minute — the full-surface hostile sweep is a round-time check
#: (168/168 green, round 6).
SENSITIVE = [
    # round-7 NULL-text finds (map-only Spark vs unnest-based oracle
    # scope): q_doc_chunking/q_udtf_tokens/q_multimodal_meta pin
    # text IS NOT NULL on both engines; q_explode_outer's oracle
    # learned the IS NULL placeholder (explode_outer KEEPS the row).
    "q_doc_chunking",
    "q_explode_outer",
    "q_udtf_tokens",
    "q_multimodal_meta",
    "q_paragraph_dedup",
    "q_context_length",
    "q_funnel_attrition",
    # round-8 additions (text tokenization + NULL-text scope):
    "q_zipf_fit",
    "q_normalized_dedup",
    "q_padding_waste",
    # q_token_entropy: NULL-text scope + unicode terms through the
    # vocabulary window; q_dedup_survivorship: NULL n_chars docs must
    # rank last under DESC in BOTH engines (desc_nulls_last is Spark's
    # default; DuckDB DESC defaults NULLS LAST) and NULL-text shingles
    # drop the pair predicate identically.
    "q_token_entropy",
    "q_dedup_survivorship",
    "q_bpe_merge_pairs",
    "q_minhash_incremental",
    "q_perplexity_buckets",
    "q_bigram_backoff",
    "q_collocation_pmi",
    # round-8: NULL embedding (see fixture) — the argmax must prefer
    # any non-NULL candidate and fall to the id tiebreak identically
    # in both engines when a query vector scores NULL everywhere.
    "q_knn_classify",
    "q_mixture_epochs",
    # NULL embeddings are scoped out on both engines (map-only encode):
    "q_pq_encode",
    "q_asof_join",
    "q_asof_nearest",
    "q_edit_distance",
    "q_ngram_jaccard",
    "q_dsir_weights",
    "q_dup_ngram_coverage",
    "q_span_dedup",
    "q_quality_classifier",
    "q_ewma",
    "q_locf_interpolate",
    "q_mad_outliers",
    "q_ohlc",
    "q_regr_slope",
    "q_window_ntile",
    "q_window_range_frame",
    "q_winsorize",
    "q_zscore_outliers",
    "q_value_histogram",
    "q_equidepth_hist",
    "q_merge_upsert",
    "q_time_weighted_avg",
    "q_stats_agg",
    # round-10 additions: both tokenize text (NULL text forms no
    # windows / contributes NULL to the per-source token sum — scoped
    # identically by both engines' aggregate NULL semantics).
    "q_substring_dedup",
    "q_doremi_weights",
    # NULL fingerprints are never exact-present (NULL never equals) and
    # any bloom collision on them lands in the bounded FP budget; the
    # invariant booleans must hold on the mutated corpus too.
    "q_bloom_delta",
    # NULL embeddings are scoped out of the assignment on both engines
    # (the q_ivfpq_search drop-null convention).
    "q_ivf_cell_stats",
    # NULL c_acctbal forms its own NULL band (GROUP BY NULL groups
    # together in both engines) — audited, not dropped.
    "q_kanon_audit",
    # NULL text scoped out on both engines before bucketing.
    "q_dist_drift",
    # round-11 additions: q_token_fertility sums NULL-text counts away
    # identically (SUM skips NULL; n_docs still counts the doc; NULL
    # ratios when a language's totals are zero); q_eval_contamination
    # tokenizes text on both sides (NULL/short texts form no windows —
    # inner semantics); q_semdedup_prune scopes NULL embeddings out of
    # the assignment (the q_ivfpq_search drop-null convention).
    "q_token_fertility",
    "q_eval_contamination",
    "q_semdedup_prune",
    # q_vocab_coverage: NULL text explodes to no tokens on both engines;
    # adversarial unicode tokens ride the vocab join as opaque strings.
    # q_secret_scan: NULL text concatenates to a NULL seeded string and
    # scans to zero hits via COALESCE on both engines.
    # q_rank_fusion: NULL text drops from the posting lists; NULL
    # embeddings are scoped out of the semantic arm on both engines.
    "q_vocab_coverage",
    "q_secret_scan",
    "q_rank_fusion",
    # q_winnowing_fingerprint: NULL/short texts form no k-grams (inner
    # semantics); unicode grams hash through md5 identically.
    # q_embedding_drift: NULL embeddings scoped out before posexplode
    # on both engines; element micro-floors are engine-exact.
    # q_shard_packing: NULL-text docs pack with COALESCE-0 tokens on
    # both engines and still count as docs.
    "q_winnowing_fingerprint",
    "q_embedding_drift",
    "q_shard_packing",
    # round-11 session-2 additions: q_cdc_chunk_dedup and
    # q_dedup_cascade pin text IS NOT NULL on both engines (the
    # chunker's size(NULL) arm / the NULL shingle fallback would
    # otherwise diverge from the unnest-based oracles); q_source_overlap
    # and q_novelty_curve form no shingles from NULL text on either
    # engine (inner semantics); q_ttr_hapax explodes NULL to no tokens
    # on both; q_dp_histogram counts docs regardless of text, so the
    # NULL-text doc still lands in its source's n_true.
    "q_cdc_chunk_dedup",
    "q_dedup_cascade",
    "q_source_overlap",
    "q_novelty_curve",
    "q_ttr_hapax",
    "q_dp_histogram",
    # q_budget_select / q_doc_entropy pin text IS NOT NULL on both
    # engines (scoring/entropy over NULL tokens would diverge from the
    # unnest-based oracles); q_l_diversity audits NULL balance bands as
    # first-class sensitive-value groups on both engines (COUNT
    # DISTINCT skips NULL identically).
    "q_budget_select",
    "q_doc_entropy",
    "q_l_diversity",
    # q_quota_admission never reads text: NULL-text docs still consume
    # quota on both engines (ingest-control, not content, semantics).
    "q_quota_admission",
    # q_embed_covariance scopes NULL embeddings out on both engines
    # (the q_ivfpq_search drop-null convention); the quantized moments
    # are exact integers, so the mutated vectors hash-match exactly.
    "q_embed_covariance",
    # q_kn_bigram: NULL/short texts form no bigrams (the
    # q_bigram_backoff scope class); q_dup_inflation pins text IS NOT
    # NULL on both engines; q_skew_audit groups by user_id only (a
    # NULL key would band as one group identically on both engines).
    "q_kn_bigram",
    "q_dup_inflation",
    "q_skew_audit",
    # q_countmin_topk groups by user_id only (the q_skew_audit class);
    # the md5 hash of a NULL key concatenation is NULL -> a NULL key
    # would drop from the sketch on both engines identically.
    "q_countmin_topk",
    # round-12 additions: q_weighted_sample pins text IS NOT NULL on
    # both engines (a NULL token count would NULL the A-ES key);
    # q_lsh_tuning pins text IS NOT NULL on both engines (the NULL
    # shingle fallback would thread NULL hashes through the portable
    # signature minima); q_ivf_refresh scopes NULL embeddings out (the
    # q_ivfpq_search drop-null convention) and its ppm outputs are
    # exact integers.
    "q_weighted_sample",
    "q_lsh_tuning",
    "q_ivf_refresh",
    # q_ssjoin_exact pins text IS NOT NULL on both engines (the
    # q_lsh_tuning shingle-scope class); q_kmv_intersect and
    # q_bootstrap_ci pin it too (NULL text forms no tokens / no metric
    # on either engine), and both are exact-bigint end to end so the
    # mutated corpus hash-matches exactly.
    "q_ssjoin_exact",
    "q_kmv_intersect",
    "q_bootstrap_ci",
    # q_ks_test and q_rouge_overlap pin text IS NOT NULL on both
    # engines; both are exact-integer end to end (the KS critical
    # value's single sqrt is IEEE-correctly-rounded from identical
    # doubles), so the mutated corpus hash-matches exactly.
    "q_ks_test",
    "q_rouge_overlap",
    # round-13: q_phash_dedup pins text IS NOT NULL on both engines and
    # hashes CODEPOINTS (Python ord == DuckDB unicode()), so the
    # adversarial-unicode mutations must hash-match exactly; utf-8
    # encode/decode round-trips the text bit-for-bit on the Spark side.
    "q_phash_dedup",
    # round-14: q_video_meta pins text IS NOT NULL on both engines and
    # keys every container parameter on the payload's BYTE length
    # (utf-8 encode on Spark == DuckDB strlen), so the adversarial-
    # unicode/empty/whitespace mutations must round-trip through the
    # real encode->box-walk-parse pipeline and hash-match exactly
    # (empty text = a 0-byte-mdat, 1-sample, v0, isom container).
    "q_video_meta",
]


@pytest.fixture(scope="module")
def hostile_dir(tmp_path_factory):
    """Mutate the sf0.001 fixture: 5% NULL event values, 5% NULL customer
    balances, and adversarial document texts (empty, single-token,
    multi-space, non-ASCII, surrounding whitespace, NULL). Keys, timestamps,
    and every other table ship through unchanged so joins stay real."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    dst = tmp_path_factory.mktemp("hostile_sf")
    rng = np.random.default_rng(7)
    for t in (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ):
        tab = pq.read_table(f"{SF_SMOKE}/{t}.parquet")
        n = tab.num_rows
        if t == "events":
            vals = tab.column("value").to_pylist()
            for i in rng.choice(n, n // 20, replace=False):
                vals[i] = None
            tab = tab.set_column(
                tab.schema.get_field_index("value"),
                "value",
                pa.array(vals, type=pa.float64()),
            )
        if t == "customer":
            bal = tab.column("c_acctbal").to_pylist()
            for i in rng.choice(n, max(1, n // 20), replace=False):
                bal[i] = None
            tab = tab.set_column(
                tab.schema.get_field_index("c_acctbal"),
                "c_acctbal",
                pa.array(bal, type=pa.float64()),
            )
        if t == "embeddings":
            # One NULL query-side vector and one NULL seed-side vector
            # (vec_id % 4 == 0): cosine scores NULL on both engines and
            # must lose the argmax to any non-NULL candidate.
            vecs = tab.column("embedding").to_pylist()
            for j in (3, 4):  # 4 % 4 == 0 → seed side; 3 → query side
                if j < len(vecs):
                    vecs[j] = None
            tab = tab.set_column(
                tab.schema.get_field_index("embedding"),
                "embedding",
                pa.array(vecs, type=tab.schema.field("embedding").type),
            )
        if t == "documents":
            txt = tab.column("text").to_pylist()
            for j, repl in [
                (0, ""),
                (1, "solo"),
                (2, "a  b   c"),
                (3, "héllo wörld ünïcode"),
                (4, " leading trailing "),
                # NULL text (round 7): Spark map-only selects emit a
                # NULL-scored row while an oracle's unnest(string_split)
                # drops the doc — queries must pin ONE scope explicitly
                # (q_quality_classifier was the unpinned instance).
                (5, None),
                # Whitespace-only text (round 9): doc 6 becomes the SOLE
                # document of a zero-token source (below) — DuckDB ln(0)
                # ABORTS while Spark F.log(0) returns NULL, so any
                # source-share log chain (q_mixture_epochs) must scope
                # zero-token sources out identically on both engines.
                (6, "   "),
            ]:
                if j < len(txt):
                    txt[j] = repl
            tab = tab.set_column(
                tab.schema.get_field_index("text"),
                "text",
                pa.array(txt, type=pa.string()),
            )
            src = tab.column("source").to_pylist()
            if len(src) > 6:
                src[6] = "ws_only_source"
                tab = tab.set_column(
                    tab.schema.get_field_index("source"),
                    "source",
                    pa.array(src, type=pa.string()),
                )
        pq.write_table(tab, str(dst / f"{t}.parquet"))
    yield str(dst)
    shutil.rmtree(dst, ignore_errors=True)


@pytest.mark.parametrize("name", SENSITIVE)
def test_sensitive_query_matches_oracle_on_hostile_data(spark, hostile_dir, name):
    q = QUERIES[name]
    assert q.oracle is not None
    compare_to_oracle(q.fn(spark, hostile_dir), q.oracle, hostile_dir)


def test_approx_stats_keeps_null_flag_group(spark, tmp_path):
    """Round-7 re-review pin: q_approx_stats' two-plan split must not
    lose a NULL l_returnflag group (inner USING-joins drop NULL keys;
    the GROUP BY oracle keeps them) and must emit TRUE — not 0/0 NULL —
    for a group whose l_orderkey values are all NULL."""
    import shutil as _shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "sf"
    d.mkdir()
    for t in (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ):
        _shutil.copy(f"{SF_SMOKE}/{t}.parquet", str(d / f"{t}.parquet"))
    tab = pq.read_table(str(d / "lineitem.parquet"))
    rf = tab.column("l_returnflag").to_pylist()
    ok = tab.column("l_orderkey").to_pylist()
    for i in range(5):
        rf[i] = None
        ok[i] = None
    tab = tab.set_column(
        tab.schema.get_field_index("l_returnflag"),
        "l_returnflag",
        pa.array(rf, type=pa.string()),
    )
    tab = tab.set_column(
        tab.schema.get_field_index("l_orderkey"),
        "l_orderkey",
        pa.array(ok, type=pa.int64()),
    )
    pq.write_table(tab, str(d / "lineitem.parquet"))

    q = QUERIES["q_approx_stats"]
    compare_to_oracle(q.fn(spark, str(d)), q.oracle, str(d))
    rows = {r.l_returnflag: r for r in q.fn(spark, str(d)).collect()}
    assert None in rows
    assert rows[None].exact_orders == 0
    assert rows[None].hll_within_tol is True
