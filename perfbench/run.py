"""Benchmark entry point for the compactor and the query registry.

    python3 perfbench/run.py --workload compact_daily --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. One run, against ``local[nproc]``:

1. builds the workload's inputs from ``--seed`` under ``.perfbench_work/``;
2. measures set-up twice, each a cold start as the daily job pays it:
   JVM launch and session through the program's own
   ``session.get_spark``, plus the workload's first action. The first
   sample runs in a fresh process (``--setup-probe``), the second is the
   start of the session the rest of the run uses;
3. runs one warm-up pass and checks its outputs (correctness gate);
4. runs passes in a closed loop with one client for ``--seconds``.

``--trace 0`` prints the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` alternates untraced and traced passes and prints the
per-layer metrics (spans are written to ``.perfbench_work/traces/``).
Human-readable lines come first; the last line of stdout is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.

End-to-end metrics (every workload): ``setup_s`` (median of the set-up
samples), ``pass_s`` (sum over the pass's timed parts of their medians:
one compaction pass, or one entry per query), ``mb_per_s`` (input MB per
``pass_s`` second: MB merged for ``compact_daily``, table MB for
``query_mix``) and ``scan_after_s`` (a fixed every-column scan aggregate
over the pass's output lake, or over a lineitem table for ``query_mix``).
``error_rate`` is ``failed / attempted`` in the JSON line.

Which end-to-end metric each layer's metrics should move:

- ``fs.*`` (compactor.fs): ``pass_s`` on ``compact_daily``.
- ``core.phase.plan_s``: ``pass_s`` on ``compact_daily``.
  ``core.phase.write_s``: ``pass_s`` and ``mb_per_s`` on ``compact_daily``.
- ``spark.jobs_per_leaf``: ``pass_s`` on ``compact_daily``;
  ``spark.shuffle_write_bytes``: ``pass_s`` on ``query_mix`` (its LLM
  half, ``mix.llm_s``); ``spark.gc_s``: the driver's peak RSS (reported).
- ``registry.construct_*``: ``query_mix`` ``pass_s`` (relational half,
  ``mix.relational_s``); ``llm.*``: ``query_mix`` ``pass_s`` (``mix.llm_s``).
- ``core.files_out`` / ``core.bytes_out_per_in``: ``scan_after_s``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORKLOADS = ("compact_daily", "query_mix")
#: Cold set-up samples per run; all but the last in fresh processes.
SETUP_SAMPLES = 2
MIN_PASSES = 3


def _env(work: Path) -> None:
    """Point Spark, its Python workers and temp files at the checkout."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    os.environ.pop("SPARK_MASTER", None)


class Session:
    """The SparkSession under test, started through the program's own get_spark."""

    def __init__(self, work: Path):
        self.extra_conf = {
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
            "spark.ui.showConsoleProgress": "false",
        }
        self.spark = None

    def start(self):
        from parquet_compactor_spark.session import get_spark

        self.spark = get_spark(app_name="perfbench", extra_conf=self.extra_conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def peak_rss_mb(self) -> float:
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM not found")

    def close(self) -> None:
        """Stop Spark and wait for the JVM (and its workers) to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        finally:
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)


def setup_probe(args) -> int:
    """One cold set-up sample in this fresh process; prints its seconds.
    The workload's inputs are already built by the parent run."""
    import workloads

    wl = workloads.make(args.workload, str(ROOT / ".perfbench_work" / args.workload), args.seed)
    session = Session(ROOT / ".perfbench_work" / args.workload)
    try:
        t0 = time.perf_counter()
        wl.first_action(session.start())
        dt = time.perf_counter() - t0
    finally:
        session.close()
    print(json.dumps({"setup_s": dt}))
    return 0


def cold_setup_sample(args) -> float:
    """Run :func:`setup_probe` in a child process and wait for it (and
    its JVM) to end."""
    cmd = [sys.executable, str(Path(__file__).resolve()), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", "0", "--setup-probe"]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=120)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise
    if proc.returncode != 0:
        raise RuntimeError(f"set-up probe exited with {proc.returncode}")
    return json.loads(out.strip().splitlines()[-1])["setup_s"]


def tail_percentile(values: list[float]) -> tuple[int, float] | None:
    """Highest whole percentile with at least ten samples beyond it."""
    n = len(values)
    if n < 20:
        return None
    pct = int(100 * (1 - 10 / n))
    return pct, statistics.quantiles(values, n=100)[pct - 1]


def _median_or_zero(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def _rename(key: str) -> str:
    """Span totals to per-layer metric names."""
    if key == "registry.construct.s":
        return "registry.construct_s"
    if key.endswith(".exec.s"):
        return key[: -len(".exec.s")] + ".exec_s"
    return key


def run(args) -> dict:
    import tracing
    import workloads

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    work = ROOT / ".perfbench_work" / args.workload
    wl = workloads.make(args.workload, str(work), args.seed)

    t0 = time.perf_counter()
    wl.generate()
    gen_s = time.perf_counter() - t0

    session = Session(work)
    tracer = None
    attempted = failed = 0
    failures: list[str] = []
    try:
        setup = [cold_setup_sample(args) for _ in range(SETUP_SAMPLES - 1)]
        t0 = time.perf_counter()
        spark = session.start()
        wl.first_action(spark)
        setup.append(time.perf_counter() - t0)

        try:
            warm_s, checks, gate_failures, out_stats = wl.warmup_and_gate(spark)
        except Exception as err:  # the warm-up pass itself failed
            warm_s, checks, out_stats = 0.0, 1, {}
            gate_failures = [f"warm-up: {type(err).__name__}: {err}"[:300]]
        attempted += checks
        failed += len(gate_failures)
        failures += gate_failures

        if args.trace:
            tracer = tracing.Tracer()
        sc = spark.sparkContext
        passes: list[float] = []
        traced_passes: list[float] = []
        parts: dict[str, list[float]] = {}
        scans: list[float] = []
        layers: list[dict[str, float]] = []
        deadline = time.perf_counter() + args.seconds
        i = 0
        # Traced runs alternate untraced and traced passes, two of each
        # at least (the traced medians carry no bound).
        min_passes = 4 if args.trace else MIN_PASSES
        while time.perf_counter() < deadline or i < min_passes:
            traced = bool(args.trace and i % 2)
            sc.setJobGroup(f"pass-{i}", "perfbench pass")
            if traced:
                tracer.pass_id = i
                tracer.install()
            try:
                res = wl.run_pass(spark, tracer if traced else None)
            except Exception as err:  # the pass itself failed
                res = workloads.PassResult(0.0, [f"pass {i}: {type(err).__name__}: {err}"[:300]])
            finally:
                if traced:
                    tracer.uninstall()
            attempted += wl.ops_per_pass()
            failed += len(res.failures)
            failures += res.failures
            if not res.failures:
                (traced_passes if traced else passes).append(res.seconds)
            if not traced:
                for k, v in res.parts.items():
                    parts.setdefault(k, []).append(v)
            sc.setJobGroup("scan", "perfbench scan_after")
            try:
                scan_s, scan_failures = wl.scan(spark)
            except Exception as err:  # the lake no longer reads
                scan_s, scan_failures = [], [f"scan_after: {type(err).__name__}: {err}"[:300]]
            attempted += 1
            failed += len(scan_failures)
            failures += scan_failures
            if not traced:
                scans += scan_s
            if traced:
                vals = dict(res.layers)
                for k, v in tracer.pass_values(i).items():
                    vals[_rename(k)] = vals.get(_rename(k), 0.0) + v
                for group in wl.job_groups(i):
                    for k, v in tracing.spark_job_stats(spark, group).items():
                        vals[k] = vals.get(k, 0.0) + v
                if args.workload == "query_mix":
                    vals["registry.construct_jobs"] = len(
                        sc.statusTracker().getJobIdsForGroup(f"construct-{i}"))
                vals["spark.jobs_per_leaf"] = (
                    vals["spark.jobs"] / vals["core.leaves_examined"]
                    if vals.get("core.leaves_examined") else 0.0
                )
                layers.append(vals)
            i += 1
        peak_rss = session.peak_rss_mb()
    finally:
        session.close()
        if tracer is not None:
            traces = ROOT / ".perfbench_work" / "traces"
            traces.mkdir(parents=True, exist_ok=True)
            tracer.dump(str(traces / f"{args.workload}-seed{args.seed}.jsonl"))
        shutil.rmtree(work, ignore_errors=True)

    def part_sum(names) -> float:
        return sum(statistics.median(parts[k]) for k in names if k in parts)

    pass_s = part_sum(parts)
    measured = {
        "setup_s": statistics.median(setup),
        "pass_s": pass_s,
        "mb_per_s": wl.input_mb() / pass_s if pass_s else 0.0,
        "scan_after_s": _median_or_zero(scans),
    }
    report = [
        f"workload={args.workload} seed={args.seed} inputs: {wl.input_mb():.1f} MB in {gen_s:.2f} s",
        "setup_s samples (cold starts): " + ", ".join(f"{s:.3f}" for s in setup),
        f"warm-up pass (excluded from medians): {warm_s:.3f} s",
        wl.summary(),
        f"pass_s: {pass_s:.4f} s = sum over {len(parts)} timed parts of their medians",
    ]
    if args.workload == "query_mix":
        report.append(f"relational_s: {part_sum(workloads.RELATIONAL):.4f} s, "
                      f"llm_s: {part_sum(workloads.LLM):.4f} s (sums of per-query medians)")
        report.append("per-query medians: " + ", ".join(
            f"{k}={statistics.median(v):.3f}" for k, v in sorted(parts.items())))
    for name, vals in (("whole passes", passes), ("scan_after_s", scans)):
        if not vals:
            continue
        tail = tail_percentile(vals)
        tail_txt = f"p{tail[0]} {tail[1]:.4f}" if tail else "no percentile has >=10 samples beyond it"
        report.append(f"{name}: median {statistics.median(vals):.4f} s over {len(vals)} samples; {tail_txt}; "
                      + " ".join(f"{v:.3f}" for v in vals))
    report.append(f"peak_rss_mb (driver JVM VmHWM, 8 GiB reference limit): {peak_rss:.1f}")
    for k, v in out_stats.items():
        report.append(f"{k}: {v:.4f}")
    report.append(f"error_rate: {failed / max(1, attempted):.4f} ({failed}/{attempted})")
    report += [f"FAILED: {f}" for f in failures[:10]]

    if args.trace:
        overhead = _median_or_zero(traced_passes) - _median_or_zero(passes)
        merged: dict[str, float] = {"trace.overhead_s": overhead, **out_stats}
        keys = {k for vals in layers for k in vals}
        for k in keys:
            merged[k] = _median_or_zero([vals.get(k, 0.0) for vals in layers])
        wanted = spec["per_layer"]
        phases = {k: merged.get(k, 0.0) for k in merged if k.startswith("core.phase.")}
        if phases:
            top = max(phases, key=phases.get)
            report.append("phases: " + ", ".join(f"{k}={v:.3f}" for k, v in sorted(phases.items()))
                          + f"; largest {top}")
        report.append(f"trace overhead: {overhead:.4f} s per pass "
                      f"({len(traced_passes)} traced vs {len(passes)} untraced passes)")
        metrics = {m["name"]: {"value": float(merged.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in wanted}
    else:
        metrics = {m["name"]: {"value": float(measured[m["name"]]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    for line in report:
        print(line)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--setup-probe", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    try:
        import parquet_compactor_spark.session  # noqa: F401  the program under test
    except ImportError as err:
        print(f"perfbench: cannot import the program under test: {err}", file=sys.stderr)
        return 2
    if args.setup_probe:
        return setup_probe(args)
    work = ROOT / ".perfbench_work" / args.workload
    shutil.rmtree(work, ignore_errors=True)
    _env(work)
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
