"""The benchmark's workloads.

Each workload builds its inputs from the seed (``generate``), names a
cheap ``first_action`` that a fresh session runs as part of set-up, runs
one ``warmup_and_gate`` pass whose outputs are checked (outside the
timed region; the first pass after session start runs slow, so it never
enters the medians), and then serves ``run_pass`` in a closed loop with
one client.

- ``compact_daily``: leaves shaped like one day of the reference's
  CronJob, mostly merging ~155 KB files; direct commit + manifest,
  injected clock.
- ``query_mix``: registered queries through the ``noop`` sink in a seeded
  order, each checked once per run against its DuckDB oracle.
"""

from __future__ import annotations

import contextlib
import os
import random
import time
from dataclasses import dataclass, field

import gate
import lakegen
import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq
import tablegen

#: query_mix list: a relational half (fixed per-query overhead) and an
#: LLM half (compute and shuffle), chosen to fit the run budget.
RELATIONAL = ("q_agg_pricing", "q_anti_join", "q_sessionize")
LLM = ("q_bloom_delta", "q_bigram_backoff", "q_tfidf_topterms")

#: compact_daily's lake: ~155 KB files (the reference's daily shape,
#: 4 x 155 KB per leaf), scaled down to fit the run budget.
ROWS_PER_FILE = 4400
MERGE_LEAVES = 4
INCREMENTAL_LEAVES = 2
#: Below the largest merging leaf's rows, so the row cap splits some
#: outputs and the gate's cap check can fail.
CHUNKED_ROWS = 16_000

SCANS = 2
SCAN_ROWS = 300_000
#: Reads every column: the scan's cost follows the bytes and layout the
#: compactor wrote, not just row counts.
SCAN_SQL = (
    "SELECT count(*) AS n, sum(l_quantity) AS qty, "
    "sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS rev, "
    "sum(hash(l_orderkey, l_partkey, l_suppkey, l_linenumber, l_returnflag, "
    "l_linestatus, l_shipdate)) AS h "
    "FROM scan_input"
)


@dataclass
class PassResult:
    seconds: float
    failures: list[str]
    layers: dict[str, float] = field(default_factory=dict)
    #: Timed operations of the pass (one compaction pass, or one entry
    #: per query); the run reports the sum of their per-part medians.
    parts: dict[str, float] = field(default_factory=dict)


def scan_after(spark, path: str, recursive: bool, want_rows: int, want_qty: float):
    """Fixed full-scan aggregate over lineitem-shaped data, run once
    untimed and then ``SCANS`` times; returns (seconds per timed scan,
    failures). Row count and quantity sum must match the input. The first
    scan after a pass runs about twice as slow as the next ones (it pays
    for what the pass left behind), which would make the median bimodal."""
    times, failures = [], []
    for _ in range(SCANS + 1):
        t0 = time.perf_counter()
        reader = spark.read
        if recursive:
            reader = reader.option("recursiveFileLookup", "true")
        reader.parquet(path).createOrReplaceTempView("scan_input")
        row = spark.sql(SCAN_SQL).collect()[0]
        times.append(time.perf_counter() - t0)
        if row["n"] != want_rows or row["qty"] != want_qty:
            failures.append(f"scan_after: rows {row['n']} qty {row['qty']} != {want_rows} {want_qty}")
    return times[1:], failures[:1]


def _outcome_kind(outcome: str) -> str:
    for kind in ("compacted", "nothing_to_compact", "skipped_current_month"):
        if outcome.startswith(kind):
            return kind
    return "other"


class Compaction:
    """compact_daily."""

    def __init__(self, work: str, seed: int):
        from parquet_compactor_spark.compactor import CompactionConfig

        self.seed = seed
        self.src = os.path.join(work, "src")
        self.lake = os.path.join(work, "lake")
        self.leaves = lakegen.daily_lake(seed, MERGE_LEAVES, INCREMENTAL_LEAVES, ROWS_PER_FILE)
        self.config = CompactionConfig(now=lakegen.NOW, direct_commit=True,
                                       chunked_rows=CHUNKED_ROWS)
        biggest = max(sum(lakegen.merged_files(leaf).values())
                      for leaf in self.leaves if "GCP" not in leaf.path)
        if biggest <= CHUNKED_ROWS:
            raise ValueError(f"no leaf merges more than chunked_rows={CHUNKED_ROWS} rows")
        self.expected = {leaf.path: leaf.expected for leaf in self.leaves}

    def generate(self) -> None:
        lakegen.build_lake(self.src, self.leaves, self.seed)
        self.digests = {
            leaf.path: gate.row_digest(gate.data_files(os.path.join(self.src, leaf.path)))
            for leaf in self.leaves
        }
        self.rows = sum(n for n, _ in self.digests.values())
        self.qty = 0.0
        self.bytes_in = 0
        for leaf in self.leaves:
            for p in gate.data_files(os.path.join(self.src, leaf.path)):
                self.qty += pc.sum(pq.read_table(p, columns=["l_quantity"])["l_quantity"]).as_py()
                self.bytes_in += os.path.getsize(p)
        self.bytes_merged = sum(
            os.path.getsize(os.path.join(self.src, leaf.path, f))
            for leaf in self.leaves for f in lakegen.merged_files(leaf)
        )
        self.inputs = {leaf.path + f for leaf in self.leaves for f in leaf.files}

    def input_mb(self) -> float:
        return self.bytes_merged / 1e6

    def first_action(self, spark) -> None:
        from parquet_compactor_spark.compactor import LakeCompactor

        LakeCompactor(spark, self.src, self.config).candidate_leaves()

    def _pass(self, spark) -> tuple[float, dict[str, str], object]:
        from parquet_compactor_spark.compactor import LakeCompactor

        t0 = time.perf_counter()
        lc = LakeCompactor(spark, self.lake, self.config)
        outcomes = lc.compact(max_concurrency=1)
        return time.perf_counter() - t0, outcomes, lc

    def warmup_and_gate(self, spark) -> tuple[float, int, list[str], dict[str, float]]:
        """Returns (warm-up seconds, checks run, one line per failed
        check, output stats)."""
        lakegen.copy_lake(self.src, self.lake)
        dt, outcomes, _ = self._pass(spark)
        leaf_failures, files_out, bytes_out = gate.check_leaves(
            self.lake, self.digests, self.config.chunked_rows, self.inputs
        )
        checks = [gate.check_outcomes(self.lake, outcomes, self.expected), leaf_failures,
                  self.scan(spark)[1]]
        before = gate.listing(self.lake)
        _, outcomes2, _ = self._pass(spark)
        checks.append(gate.check_noop(before, gate.listing(self.lake), outcomes2))
        stats = {"core.files_out": files_out, "core.bytes_out_per_in": bytes_out / self.bytes_in}
        return dt, len(checks), ["; ".join(c) for c in checks if c], stats

    def summary(self) -> str:
        return f"expected outcomes: {lakegen.expected_histogram(self.leaves)}"

    def run_pass(self, spark, tracer=None) -> PassResult:
        lakegen.copy_lake(self.src, self.lake)
        if tracer is None:
            dt, outcomes, lc = self._pass(spark)
        else:
            with tracer.begin_pass(tracer.pass_id):
                dt, outcomes, lc = self._pass(spark)
        failures = gate.check_outcomes(self.lake, outcomes, self.expected)
        failures = ["; ".join(failures)] if failures else []
        layers = {f"core.phase.{k}_s": v for k, v in lc.phase_timings.items()}
        kinds = [_outcome_kind(v) for k, v in outcomes.items() if not k.startswith("__")]
        for kind in ("compacted", "nothing_to_compact", "skipped_current_month", "other"):
            layers[f"core.leaves.{kind}"] = kinds.count(kind)
        layers["core.leaves_examined"] = len(kinds)
        layers["core.merged_leaf_ratio"] = kinds.count("compacted") / max(1, len(kinds))
        return PassResult(dt, failures, layers, {"compact": dt})

    def scan(self, spark) -> tuple[float, list[str]]:
        return scan_after(spark, self.lake, True, self.rows, self.qty)

    def ops_per_pass(self) -> int:
        return 1

    def job_groups(self, pid: int) -> list[str]:
        return [f"pass-{pid}"]


class QueryMix:
    def __init__(self, work: str, seed: int):
        from parquet_compactor_spark.registry import all_queries

        self.work, self.seed = work, seed
        self.sf_dir = os.path.join(work, "sf")
        registry = all_queries()
        self.queries = {n: registry[n] for n in RELATIONAL + LLM}
        self.rng = random.Random(seed)

    def generate(self) -> None:
        self.bytes_in = tablegen.write_tables(self.sf_dir, self.seed, sf=0.01)
        # scan_after's input: a lineitem-shaped table large enough that
        # the scan measures reading, not job overhead. The queries never
        # read it.
        scan = lakegen.lineitem_rows(np.random.default_rng([self.seed, 5]), SCAN_ROWS)
        self.scan_path = os.path.join(self.work, "scan.parquet")
        pq.write_table(scan, self.scan_path, compression="snappy")
        self.rows = scan.num_rows
        self.qty = pc.sum(scan["l_quantity"]).as_py()

    def input_mb(self) -> float:
        return self.bytes_in / 1e6

    def summary(self) -> str:
        return f"queries: relational {' '.join(RELATIONAL)}; llm {' '.join(LLM)}"

    def _order(self) -> list[str]:
        names = list(self.queries)
        self.rng.shuffle(names)
        return names

    def first_action(self, spark) -> None:
        self.queries["q_agg_pricing"].fn(spark, self.sf_dir).write.format("noop").mode(
            "overwrite").save()

    def warmup_and_gate(self, spark) -> tuple[float, int, list[str], dict[str, float]]:
        from parquet_compactor_spark.llm.text import release_guard_caches

        failures: list[str] = []
        t0 = time.perf_counter()
        for name in self._order():
            q = self.queries[name]
            try:
                failures += gate.check_oracle(name, q.fn(spark, self.sf_dir), q.oracle,
                                              self.sf_dir)
            except Exception as err:  # a query that raises fails its check
                failures.append(f"{name}: {type(err).__name__}: {str(err)[:200]}")
            release_guard_caches()
        dt = time.perf_counter() - t0
        failures += self.scan(spark)[1]
        return dt, len(self.queries) + 1, failures, {}

    def run_pass(self, spark, tracer=None) -> PassResult:
        from parquet_compactor_spark.llm.text import release_guard_caches

        layers: dict[str, float] = {"mix.relational_s": 0.0, "mix.llm_s": 0.0}
        parts: dict[str, float] = {}
        failures: list[str] = []
        total = 0.0
        with tracer.begin_pass(tracer.pass_id) if tracer else contextlib.nullcontext():
            for name in self._order():
                try:
                    dt = self._query(spark, name, tracer)
                except Exception as err:  # a failed query is a failed operation
                    failures.append(f"{name}: {type(err).__name__}: {str(err)[:200]}")
                    continue
                total += dt
                layers["mix.relational_s" if name in RELATIONAL else "mix.llm_s"] += dt
                layers[f"query.{name}.s"] = parts[name] = dt
                released = release_guard_caches()
                if tracer is not None:
                    tracer.count("llm.text.guard_cache_released", released)
        return PassResult(total, failures, layers, parts)

    def _query(self, spark, name: str, tracer) -> float:
        """Construct + execute one query; traced runs split the two and
        tag their Spark jobs with per-pass job groups."""
        q = self.queries[name]
        if tracer is None:
            t0 = time.perf_counter()
            q.fn(spark, self.sf_dir).write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0
        sc, pid = spark.sparkContext, tracer.pass_id
        module = q.fn.__module__.removeprefix("parquet_compactor_spark.")
        t0 = time.perf_counter()
        sc.setJobGroup(f"construct-{pid}", name)
        with tracer.span("registry.construct", "registry"):
            df = q.fn(spark, self.sf_dir)
        sc.setJobGroup(f"exec-{pid}", name)
        with tracer.span(f"{module}.exec", "query"):
            df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def scan(self, spark) -> tuple[float, list[str]]:
        return scan_after(spark, self.scan_path, False, self.rows, self.qty)

    def ops_per_pass(self) -> int:
        return len(self.queries)

    def job_groups(self, pid: int) -> list[str]:
        return [f"construct-{pid}", f"exec-{pid}"]


def make(name: str, work: str, seed: int):
    if name == "compact_daily":
        return Compaction(work, seed)
    if name == "query_mix":
        return QueryMix(work, seed)
    raise SystemExit(f"unknown workload {name!r}")
