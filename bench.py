"""Benchmark harness: runs the registered query surface at a scale factor.

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Env:
  SPARK_GRAFT_SF_DIR  data dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS    local[] parallelism (default all cores)
  BENCH_QUERIES       comma-separated subset (default: all registered)

Each query is executed to completion through the noop sink
(``df.write.format("noop")``): every output column of every row is fully
computed on the executors and nothing is materialized to the driver.
A bare ``count()`` is NOT a valid timing action — Catalyst prunes unused
projections under it (a map-only query collapses to a parquet metadata
count and times flat at any corpus size; found round 7 when
q_gopher_rules ramped flat x1→x25).
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


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(Path(sf_dir).name.replace("sf", "") or 0.1)

    from parquet_compactor_spark.llm.text import release_guard_caches
    from parquet_compactor_spark.registry import all_queries
    from parquet_compactor_spark.session import get_spark

    spark = get_spark(app_name="pcs-bench")
    spark.sparkContext.setLogLevel("ERROR")

    queries = all_queries()
    subset = os.environ.get("BENCH_QUERIES")
    if subset:
        names = [n.strip() for n in subset.split(",") if n.strip() in queries]
    else:
        names = sorted(queries)

    # Warm the JVM + parquet footer caches once with the flagship query so
    # per-query timings measure execution, not session warm-up.
    queries["q_agg_pricing"].fn(spark, sf_dir).count()

    timings: dict[str, float] = {}
    total = 0.0
    for name in names:
        t0 = time.perf_counter()
        queries[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        timings[name] = round(dt, 3)
        total += dt
        # Multi-consumer queries persist intermediates (persist_tracked);
        # drop them (outside the timer) so caches never accumulate
        # across the 170+ queries or leak into a later query's timing.
        # Targeted release: evicts exactly the tracked entries, not any
        # unrelated cache a harness session may hold.
        release_guard_caches()

    compaction = bench_compaction(spark, sf_dir)

    # Full per-query detail (all timings) goes to a sidecar file; the
    # stdout line must stay SHORT. The harness that records bench output
    # keeps only a bounded tail of stdout and parses its last line as
    # JSON — a 134-query map blows past that window and the whole run
    # parses as nothing (round 2's record shows exactly this). The final
    # line therefore carries the totals plus the slowest-30 queries
    # (the entire performance signal) and stays well under the window.
    detail = {
        "metric": "query_surface_wall_clock",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "compaction": compaction,
    }
    # BENCH_DETAIL.json is the COMMITTED standing band comparator
    # (BASELINE.md "band rule"); an arbitrary run must never clobber it —
    # the driver's round-end bench overwrote it with an uncalibrated
    # window two rounds running (r12 hot 1.30x, r13 quiet 0.75x), which
    # would silently shift every band. Per-run detail therefore lands in
    # a gitignored scratch file by default; refreshing the comparator is
    # a deliberate act: BENCH_ADOPT_DETAIL=1 (or an explicit
    # BENCH_DETAIL_PATH) after calibrating the window per BASELINE.md.
    if os.environ.get("BENCH_ADOPT_DETAIL"):
        default_detail = str(Path(REPO_ROOT) / "BENCH_DETAIL.json")
    else:
        default_detail = str(Path(REPO_ROOT) / "BENCH_DETAIL_LAST.json")
    detail_path = os.environ.get("BENCH_DETAIL_PATH", default_detail)
    try:
        with open(detail_path, "w") as fh:
            json.dump(detail, fh, indent=1)
    except OSError:
        pass  # read-only checkout: stdout line still carries the summary

    slowest = dict(
        sorted(timings.items(), key=lambda kv: -kv[1])[:30]
    )
    print(
        json.dumps(
            {
                "metric": "query_surface_wall_clock",
                "value": round(total, 3),
                "unit": "sec",
                "queries": slowest,
                "n_queries": len(timings),
                "queries_omitted": len(timings) - len(slowest),
                "detail_file": detail_path,
                "sf": sf,
                "compaction": compaction,
            },
            separators=(",", ":"),
        )
    )
    spark.stop()


def _cpu_sample() -> tuple[int, int] | None:
    """(total_jiffies, idle_jiffies) from /proc/stat; None off-Linux."""
    try:
        with open("/proc/stat") as fh:
            vals = [int(x) for x in fh.readline().split()[1:]]
        return sum(vals), vals[3] + vals[4]  # idle + iowait
    except (OSError, ValueError, IndexError):
        return None


def _cpu_busy(before, after) -> float | None:
    if before is None or after is None:
        return None
    total, idle = after[0] - before[0], after[1] - before[1]
    return round(1 - idle / total, 3) if total > 0 else None


def bench_compaction(spark, sf_dir: str) -> dict:
    """Compaction-core throughput: a leaf of many small lineitem files,
    compact, report bytes/s and file fan-in (BASELINE.md proxy metric).

    The lake is a 4-file lineitem template OS-copied out to
    BENCH_COMPACT_FILES small files (default 256 → ~1.1 GB at sf0.1:
    duplicated rows are irrelevant to a file merge, and copying costs
    seconds where regenerating that volume through Spark cost minutes),
    so the number measures merge throughput rather than fixed job
    overhead or fixture setup.

    Three runs over identical bytes:
    - ``codec_*``: the control — plain ``spark.read.parquet(leaf).write``
      with NO compactor logic, i.e. the parquet decode+encode ceiling on
      this host. The merge's write phase matches this; the residual gap
      is FIXED per-pass machinery (lake listing, 3-footer sample job,
      building the N-path relation, child session, commit,
      original deletes — measured ~4 s of an ~8 s pass at 700 MB) that
      amortizes with leaf bytes and is therefore invisible at real leaf
      sizes. Run-to-run variance on this host is ±2.3× (three
      consecutive idle-host merges spanned 55-125 MB/s, round 6), so
      per-round merge-vs-codec orderings inside that band are noise.
    - ``*`` (default keys): the compactor pass proper.
    - ``direct_*``: the same pass with ``direct_commit=True`` over a fresh
      identical leaf. That option no longer has an effect (every leaf is
      written in place, with no data-file rename), so these keys are a
      second reading of the default pass, kept so earlier results stay
      comparable.
    ``cpu_busy`` per phase: plateau forensics (codec-bound shows busy
    cores, I/O- or overhead-bound shows idle ones).
    """
    import shutil
    import tempfile
    from pathlib import Path as P

    from parquet_compactor_spark.compactor import CompactionConfig, LakeCompactor

    files_n = int(os.environ.get("BENCH_COMPACT_FILES", "256"))
    template_n = 4
    tmp = tempfile.mkdtemp(prefix="bench_compact_")

    def build_leaf(root: P) -> list[P]:
        leaf = root / "acct" / "source=OCP" / "year=2020" / "month=01"
        leaf.mkdir(parents=True)
        for i in range(files_n):
            shutil.copy(templates[i % template_n], leaf / f"chunk_{i:05d}.parquet")
        old = time.time() - 10 * 86400
        files = list(leaf.glob("*.parquet"))
        for f in files:
            os.utime(f, (old, old))
        return files

    try:
        tpl_dir = P(tmp) / "_template"
        df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        df.repartition(template_n).write.mode("overwrite").parquet(str(tpl_dir))
        templates = sorted(tpl_dir.glob("*.parquet"))

        default_root = P(tmp) / "lake_rename"
        direct_root = P(tmp) / "lake_direct"
        files_in = build_leaf(default_root)
        build_leaf(direct_root)
        total_bytes = sum(f.stat().st_size for f in files_in)

        # Codec-only control over the SAME bytes (page cache equally warm:
        # the files were just copied either way).
        ctrl_dir = P(tmp) / "_codec_control"
        leaf = files_in[0].parent
        cpu0 = _cpu_sample()
        t0 = time.perf_counter()
        spark.read.parquet(str(leaf)).write.mode("overwrite").parquet(str(ctrl_dir))
        codec_dt = time.perf_counter() - t0
        codec_busy = _cpu_busy(cpu0, _cpu_sample())
        shutil.rmtree(ctrl_dir, ignore_errors=True)

        cpu0 = _cpu_sample()
        t0 = time.perf_counter()
        lc = LakeCompactor(spark, str(default_root), CompactionConfig())
        lc.compact()
        dt = time.perf_counter() - t0
        busy = _cpu_busy(cpu0, _cpu_sample())
        files_out = list(leaf.glob("*.parquet"))
        phases = {k: round(v, 3) for k, v in sorted(lc.phase_timings.items())}

        cpu0 = _cpu_sample()
        t0 = time.perf_counter()
        lc_direct = LakeCompactor(
            spark, str(direct_root), CompactionConfig(direct_commit=True)
        )
        lc_direct.compact()
        direct_dt = time.perf_counter() - t0
        direct_busy = _cpu_busy(cpu0, _cpu_sample())
        direct_phases = {
            k: round(v, 3) for k, v in sorted(lc_direct.phase_timings.items())
        }

        return {
            "files_in": len(files_in),
            "files_out": len(files_out),
            "bytes": total_bytes,
            "sec": round(dt, 3),
            "bytes_per_sec": round(total_bytes / dt, 1),
            "cpu_busy": busy,
            "direct_sec": round(direct_dt, 3),
            "direct_bytes_per_sec": round(total_bytes / direct_dt, 1),
            "direct_cpu_busy": direct_busy,
            "codec_sec": round(codec_dt, 3),
            "codec_bytes_per_sec": round(total_bytes / codec_dt, 1),
            "codec_cpu_busy": codec_busy,
            # Per-phase breakdown (listing / plan / write / commit /
            # delete) for both passes, so round-over-round comparisons
            # read per-phase instead of re-litigating end-to-end medians
            # under multi-x VM jitter: the write phase tracks codec_sec,
            # and the rest is the fixed plan/listing/sidecar machinery.
            "phases": phases,
            "direct_phases": direct_phases,
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
