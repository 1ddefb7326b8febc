"""Scale-ramp bench: measured scaling curves for the heavy queries.

Every 100-TB claim in SCALE.md rests on plan-reading at sf0.1, where
stage-scheduling overhead dominates. This harness buys MEASURED evidence:
it replicates the sf0.1 tables to x5 / x10 / x25 corpus multiples with
key-shifted, similarity-preserving copies and times the most expensive
queries at each level, so the wall-clock slope separates fixed overhead
from data-bound cost. Run:  python scale_ramp.py

Replication semantics (copy k of K):
- All synthetic keys shift by k*10M (doc_id, vec_id, event_id, user_id,
  orderkey/custkey/partkey/suppkey) so exact-dedup / join / groupBy key
  cardinality scales with the data, as it would in a real lake.
- documents.text gets a per-copy word suffix, so no cross-copy shingle
  overlap: the near-dup pair count scales LINEARLY with copies (the
  planted-pair density of the fixture is preserved; naive duplication
  would grow it quadratically and change the workload's shape).
- embeddings are cyclically rolled by k dimensions: norms and value
  distribution are preserved, but a rolled copy is uncorrelated with its
  original, so ANN/near-dup candidate density stays realistic.
- region/nation (5/25-row dims) are never replicated — broadcast dims
  stay broadcast at every scale, exactly as on a real cluster.

Levels are written once to /tmp/scale_ramp/x{N}/ (x1 is generated through
the same writer so the file layout is comparable). Results go to
SCALE_RAMP.json and a markdown table on stdout for SCALE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

REPO_ROOT = str(Path(__file__).resolve().parent)
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT_ROOT = Path(os.environ.get("SCALE_RAMP_DIR", "/tmp/scale_ramp"))
LEVELS = [int(x) for x in os.environ.get("SCALE_RAMP_LEVELS", "1,5,10,25").split(",")]

# The data-bound heavy hitters from BENCH_DETAIL.json, spanning every
# family: near-dup (documents), ANN/cluster (embeddings), text pipeline,
# TPC-H joins/aggs, events windows/sketches.
RAMP_QUERIES = [
    "q_dup_clusters",
    "q_dedup_minhash",
    "q_dedup_simhash",
    "q_char_trigrams",
    "q_corpus_prep",
    "q_tfidf_topterms",
    "q_ann_ivf",
    "q_kmeans_clusters",
    "q_batch_sim_topk",
    "q_embed_near_dup",
    "q_market_share",
    "q_agg_pricing",
    "q_retention_cohorts",
    "q_hll_sketch",
    # round-5 additions: the heaviest new TPC-H completions (fact-fact
    # join + per-order profile; 5-way join profit) and the two new LLM
    # passes (map-only rules; dims-bounded explode-agg).
    "q_waiting_suppliers",
    "q_product_profit",
    "q_gopher_rules",
    "q_embed_dim_stats",
    # round-6 reshape: exact rank-medians via sort_array(collect_list)
    # — O(group) reducer memory by design; the ramp proves the slope is
    # linear (shuffle-bound), not blow-up, as event counts grow.
    "q_mad_outliers",
    # round-6 additions: the three new corpus passes with open-ended
    # key spaces (gram/span/term) — the ramp proves the doc-frequency
    # shuffle + guarded join-back stays linear as the key space grows
    # with the corpus (no quadratic candidate formation anywhere).
    "q_dup_ngram_coverage",
    "q_span_dedup",
    "q_dsir_weights",
    # round-7 additions: the two new corpus-heavy passes. Paragraph
    # dedup has an open-ended hash key space (like span_dedup but
    # 3x coarser chunks and a countDistinct agg); funnel_attrition's
    # wide stage is one md5-keyed window over the whole corpus. Both
    # must ramp linearly. (q_context_length / q_lang_temperature are
    # single-pass rollups — covered by the same slope family as
    # q_gopher_rules.)
    "q_paragraph_dedup",
    "q_funnel_attrition",
    # round-8 additions: incremental MinHash (the bucket join's probe
    # side is the new third of the corpus — must ramp like
    # q_dedup_minhash, never quadratic) and BPE merge pairs (explode +
    # two-level hash agg + TakeOrdered over an open-ended bigram
    # vocabulary — must stay linear-then-flat like the gram families).
    "q_minhash_incremental",
    "q_bpe_merge_pairs",
    # round-8 late additions: bigram-backoff scoring carries THREE
    # guarded vocabulary joins over an open-ended gram space (must stay
    # linear like the other gram families); collocation PMI is the same
    # pair explode with two marginal joins + TakeOrdered; knn_classify's
    # seed side is a FIXED annotation budget, so the ramp must show the
    # broadcast-score-argmax plan linear in corpus size.
    "q_bigram_backoff",
    "q_collocation_pmi",
    "q_knn_classify",
    # round-8 second batch: PageRank's per-iteration cost is O(|E|) and
    # |E| grows linearly with orders (per-order co-supplier fan-out is
    # bounded), so the ramp must show linear rounds, not edge blow-up;
    # zipf_fit's window runs over the VOCABULARY (saturating), so its
    # curve must flatten like the gram families; normalized_dedup is a
    # fixed-width md5-keyed agg that must ramp like q_dedup_exact.
    "q_pagerank",
    "q_zipf_fit",
    "q_normalized_dedup",
    # q_token_entropy rides the same vocabulary-saturation family as
    # q_zipf_fit (window over the (source, term) table); ramped to
    # prove the flat tail. q_dedup_survivorship is q_dup_clusters'
    # machinery plus one cluster-keyed window — covered by that entry.
    "q_token_entropy",
    # round-10: sliding-window exact-substring dedup explodes ~1 window
    # PER TOKEN (the heaviest constant factor of any gram family — 15x
    # the corpus in window text, shuffled as md5 keys) and must ramp
    # linearly like q_span_dedup, never quadratically; the per-doc
    # interval-merge window is doc-keyed and cannot blow up.
    # (q_doremi_weights is a single-agg + domains-sized iteration —
    # covered by the q_gopher_rules slope family; q_ivfpq_search rides
    # q_ann_ivf's ramp entry: same assignment stage, cheaper probe.)
    "q_substring_dedup",
    # round-11: eval contamination reuses the sliding-window machinery
    # (per-token window explode, md5 keys) with a ~1/23 eval probe side
    # joined as AQE decides at runtime — must ramp like q_substring_dedup;
    # semdedup_prune's quadratic step is bounded PER IVF CELL, so with
    # fixed K the ramp shows the cell-join cost growing with cell
    # occupancy — the curve to watch for the K ~ N scaling note.
    # (q_token_fertility is a single scan-shaped lang rollup — covered
    # by the q_gopher_rules slope family.)
    "q_eval_contamination",
    "q_semdedup_prune",
    # q_vocab_coverage's train-shard term count is an open-ended
    # vocabulary shuffle (the zipf/token_entropy saturation family) and
    # its heap cut + broadcast probe must stay V-bounded as the corpus
    # grows. (q_secret_scan is a map-only scan — q_gopher_rules slope
    # family; q_rank_fusion composes two already-ramped retrieval
    # shapes behind bounded heaps.)
    "q_vocab_coverage",
    # q_winnowing_fingerprint: per-token gram explode + doc-keyed
    # sort-window MIN + fingerprint-keyed share agg — open-ended
    # fingerprint key space, must ramp like the gram families.
    # (q_embedding_drift is a dims-bounded posexplode agg —
    # q_embed_dim_stats family; q_shard_packing is bucket-windowed
    # scan-shaped.)
    "q_winnowing_fingerprint",
    # round-11 session 2: CDC chunking hashes one 8-word window per
    # token (the q_substring_dedup map shape) but shuffles only ~1/16th
    # as many chunk keys — the ramp must show the same linear map with
    # a cheaper exchange; the dedup cascade composes two corpus-window
    # flags with the LSH candidate machinery on survivors (must ramp
    # like q_dedup_minhash, never pair-quadratic); source overlap's
    # gram-hash self-join emits <= sources rows per gram (the curve to
    # watch is the distinct, which saturates with the gram space);
    # doc entropy rides the per-doc vocabulary family (window key is
    # doc_id — frame size bounded by doc length, not corpus).
    # (q_ttr_hapax / q_novelty_curve / q_budget_select are single
    # vocab/scan-shaped aggs — covered by the zipf/gopher slope
    # families; q_dp_histogram / q_l_diversity / q_quota_admission are
    # group-table-sized after one agg/window.)
    "q_cdc_chunk_dedup",
    "q_dedup_cascade",
    "q_source_overlap",
    "q_doc_entropy",
    # round-12: the LSH tuning audit composes the portable signature
    # build (q_dedup_minhash's explode-agg family), the df-ordered
    # prefix-filter truth join (candidate count is corpus-density-
    # dependent — THE curve to watch: on a dense shingle vocabulary
    # prefix filtering degrades toward the true pair growth, never
    # past it), and 5 band-bucket count aggs (linear). The IVF refresh
    # is the q_ann_ivf two-pass family with a 20% probe shard — must
    # ramp like q_ann_ivf. (q_weighted_sample is one scan + a
    # source-keyed top-K window — the q_grouped_sample shape, covered
    # by the scan-rollup slope family.)
    "q_lsh_tuning",
    "q_ivf_refresh",
    # round-12 second batch: the exact set-similarity join IS
    # q_lsh_tuning's truth stage standalone (candidate count is the
    # density-dependent curve to watch); KMV pair math is sketch-
    # bounded after one distinct + top-k window (must flatten like the
    # vocabulary families); the bootstrap is scan x32 (must ramp like
    # q_gopher_rules x a constant).
    "q_ssjoin_exact",
    "q_kmv_intersect",
    "q_bootstrap_ci",
    # round-12 third batch: ROUGE-2 is a gram-family explode-agg plus
    # an adjacency-keyed join (must ramp like the other gram families);
    # the KS test is a value-grid agg + one bounded window (the
    # saturating-vocabulary slope family).
    "q_rouge_overlap",
    "q_ks_test",
    # round-13: the perceptual-hash near-dup is the simhash blocking
    # family on a mapInPandas-derived signature — the curve to watch is
    # the chunk-key bucket join (15-bit chunks: collisions grow with
    # corpus size; the hash map itself is linear).
    "q_phash_dedup",
    # round-14: the ISO-BMFF metadata walk is a pure map (synthesize +
    # parse per row, no shuffle) — the curve to watch is wall-vs-files:
    # it parallelizes across scan splits, so it should stay near-flat
    # while per-doc work scales linearly with the corpus.
    "q_video_meta",
]

OFF = 10_000_000  # per-copy key shift

# table -> key columns to shift per copy
SHIFTS: dict[str, list[str]] = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
COPY_AS_IS = ["region", "nation"]


#: The ANN-family stretch ramp (round-12 verdict item): embeddings-only
#: levels up to x100 (~200k vectors at the sf0.1 source) so the K ~ N
#: cell-capacity rule and the per-cell occupancy bound are DEMONSTRATED
#: at index scale, not extrapolated from the 2k-vector fixture. Only
#: the embeddings table replicates (the ANN queries read nothing else);
#: build cost stays trivial because the full-corpus levels are skipped.
ANN_LEVELS = [
    int(x)
    for x in os.environ.get("SCALE_RAMP_ANN_LEVELS", "1,25,100").split(",")
]
ANN_QUERIES = [
    "q_ann_ivf",
    "q_ivfpq_search",
    "q_ivf_cell_stats",
    "q_ivf_refresh",
    "q_semdedup_prune",
]


def _replicated_embeddings(spark, copies: int):
    """The shared embeddings replication rule: vec_id shifted per copy;
    copies k>0 rotate the vector by k%64 positions so norms and the
    coordinate distribution are preserved while a rolled copy stays
    uncorrelated with its original (candidate/cell density realistic)."""
    from pyspark.sql import functions as F

    from parquet_compactor_spark.registry import load

    src_df = load(spark, SRC, "embeddings")
    parts = []
    for k in range(copies):
        df = src_df.withColumn("vec_id", F.col("vec_id") + F.lit(k * OFF))
        if k > 0:
            r = k % 64
            df = df.withColumn(
                "embedding",
                F.expr(
                    f"concat(slice(embedding, {r + 1}, size(embedding) - {r}),"
                    f" slice(embedding, 1, {r}))"
                ),
            )
        parts.append(df)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def build_ann_level(spark, copies: int, dest: Path) -> None:
    if (dest / "_DONE").exists():
        return
    dest.mkdir(parents=True, exist_ok=True)
    n_files = max(1, copies // 4)
    _replicated_embeddings(spark, copies).repartition(n_files).write.mode(
        "overwrite"
    ).parquet(str(dest / "embeddings.parquet"))
    (dest / "_DONE").write_text("ok")


def build_level(spark, copies: int, dest: Path) -> None:
    from pyspark.sql import functions as F

    from parquet_compactor_spark.registry import TABLES, load

    if (dest / "_DONE").exists():
        return
    dest.mkdir(parents=True, exist_ok=True)
    for table in TABLES:
        src_df = load(spark, SRC, table)
        if table in COPY_AS_IS:
            out = src_df
        else:
            parts = []
            for k in range(copies):
                df = src_df
                for col in SHIFTS[table]:
                    df = df.withColumn(col, F.col(col) + F.lit(k * OFF))
                if table == "documents" and k > 0:
                    new_text = F.array_join(
                        F.transform(
                            F.split(F.col("text"), " ", -1),
                            lambda w: F.concat(w, F.lit(f"_k{k}")),
                        ),
                        " ",
                    )
                    df = df.withColumn("text", new_text).withColumn(
                        "n_chars", F.length("text").cast("long")
                    )
                if table == "embeddings" and k > 0:
                    r = k % 64
                    df = df.withColumn(
                        "embedding",
                        F.expr(
                            f"concat(slice(embedding, {r + 1}, size(embedding) - {r}),"
                            f" slice(embedding, 1, {r}))"
                        ),
                    )
                parts.append(df)
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
        n_files = max(1, (copies * {"lineitem": 4, "orders": 2}.get(table, 1)) // 4)
        out.repartition(n_files).write.mode("overwrite").parquet(
            str(dest / f"{table}.parquet")
        )
    (dest / "_DONE").write_text("ok")


def main() -> None:
    from parquet_compactor_spark.llm.text import release_guard_caches
    from parquet_compactor_spark.registry import all_queries
    from parquet_compactor_spark.session import get_spark

    spark = get_spark(app_name="pcs-scale-ramp")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()

    results: dict[str, dict[str, float]] = {}
    for copies in LEVELS:
        dest = OUT_ROOT / f"x{copies}"
        t0 = time.perf_counter()
        build_level(spark, copies, dest)
        build_s = time.perf_counter() - t0
        sf_dir = str(dest)
        # Warm footer caches / JVM so timings measure execution.
        queries["q_agg_pricing"].fn(spark, sf_dir).count()
        level: dict[str, float] = {}
        for name in RAMP_QUERIES:
            # min of 2 runs: the first execution of a query's code path
            # pays Python plan construction + codegen compilation; the
            # min isolates the data-bound cost the slope is meant to show.
            best = float("inf")
            for _ in range(2):
                # Guarded queries persist their vocabulary table at
                # DataFrame construction; Spark's CacheManager matches
                # the second run's identical plan to the first run's
                # cache, which would hide the corpus-scan cost from the
                # min and flatten the slope. Every timed run starts cold
                # (targeted: only persist_tracked's own cache entries).
                release_guard_caches()
                t0 = time.perf_counter()
                # noop sink, NOT count(): Catalyst prunes projections
                # under count(), collapsing map-only queries to a
                # parquet metadata count that times flat at any scale.
                queries[name].fn(spark, sf_dir).write.format(
                    "noop"
                ).mode("overwrite").save()
                best = min(best, time.perf_counter() - t0)
            level[name] = round(best, 3)
        results[f"x{copies}"] = level
        print(f"# level x{copies} built in {build_s:.1f}s:", json.dumps(level))

    # Compaction throughput ramp: same file size, growing file count.
    from bench import bench_compaction

    compaction: dict[str, dict] = {}
    # 1024 files ~ 2.8 GB: the round-11 stretch level — real-leaf bytes
    # where the fixed per-pass machinery (listing, sample job, relation
    # build, commit, deletes) should amortize into the codec ceiling as
    # SCALE.md predicts, instead of dominating as it does at 0.35 GB.
    for files_n in (128, 256, 512, 1024):
        os.environ["BENCH_COMPACT_FILES"] = str(files_n)
        compaction[str(files_n)] = bench_compaction(spark, SRC)
        print(f"# compaction {files_n} files:", json.dumps(compaction[str(files_n)]))

    # ANN stretch ramp: embeddings-only levels (see ANN_LEVELS note).
    ann: dict[str, dict[str, float]] = {}
    for copies in ANN_LEVELS:
        dest = OUT_ROOT / f"ann_x{copies}"
        t0 = time.perf_counter()
        build_ann_level(spark, copies, dest)
        build_s = time.perf_counter() - t0
        sf_dir = str(dest)
        level = {}
        for name in ANN_QUERIES:
            best = float("inf")
            for _ in range(2):
                release_guard_caches()
                t0 = time.perf_counter()
                queries[name].fn(spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                best = min(best, time.perf_counter() - t0)
            level[name] = round(best, 3)
        ann[f"x{copies}"] = level
        print(f"# ann level x{copies} built in {build_s:.1f}s:", json.dumps(level))

    out = {
        "levels": results,
        "ramp_queries": RAMP_QUERIES,
        "ann_levels": ann,
        "ann_queries": ANN_QUERIES,
        "compaction": compaction,
        "src": SRC,
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count())),
    }
    with open(Path(REPO_ROOT) / "SCALE_RAMP.json", "w") as fh:
        json.dump(out, fh, indent=1)

    # Markdown table for SCALE.md.
    cols = [f"x{c}" for c in LEVELS]
    print("\n| query | " + " | ".join(f"{c} (s)" for c in cols) + " | slope x1->x25 |")
    print("|---|" + "---|" * (len(cols) + 1))
    for name in RAMP_QUERIES:
        row = [results[c].get(name, float("nan")) for c in cols]
        slope = row[-1] / row[0] if row[0] else float("nan")
        print(
            f"| {name} | "
            + " | ".join(f"{v:.2f}" for v in row)
            + f" | {slope:.1f}x |"
        )
    spark.stop()


if __name__ == "__main__":
    main()
