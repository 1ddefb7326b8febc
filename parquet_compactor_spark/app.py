"""Entry point: config → SparkSession → LakeCompactor.compact().

Reference parity: app.py:8-17 (root logger → stdout with the same
format) and app.py:22-46 (main() wires Configurator().configurator() →
compactor → compact()). Run as:

    python -m parquet_compactor_spark.app

with LAKE_ROOT (or REQUESTED_BUCKET [+ S3_ENDPOINT/keys], or
PROVIDER_CONFIG_ENABLED + PROVIDER_CONFIG_PATH) in the env.

Plan-audit subcommand (the dev loop SCALE.md prescribes — iterate on
``.explain`` until the plan is the one you'd want at 100 TB):

    python -m parquet_compactor_spark.app explain q_agg_pricing [sf_dir]

Maintenance subcommand — the orphan-tmp sweep a pass makes, without the
pass (one lake walk; reclaims crash-stranded merge temp dirs even in
leaves whose data files were since deleted):

    python -m parquet_compactor_spark.app gc [min_age_hours]

Integrity subcommand — the read-only sidecar-vs-lake drift audit
(manifest entries whose files are gone, pending deletes still present,
an unresolved in-flight write, a legacy pending sidecar, orphan tmp
litter):

    python -m parquet_compactor_spark.app audit

Scheduling subcommand — the metadata-only lake health report (per-leaf
small-file stats, ranked by reclaimable files; ``--rowgroups`` adds the
per-leaf row-group health; ``--schema-drift`` adds the per-leaf
schema-compatibility table; both from one footer read per file, on the
driver, through the Hadoop FileSystem):

    python -m parquet_compactor_spark.app report [--rowgroups] [--schema-drift]
"""

from __future__ import annotations

import json
import logging
import os
import sys

from pyspark.sql.functions import desc as F_desc

from parquet_compactor_spark.compactor import LakeCompactor
from parquet_compactor_spark.config import resolve
from parquet_compactor_spark.session import get_spark


def setup_logging(stream=None) -> logging.Logger:
    """Root-logger stdout handler, reference app.py:8-17 verbatim shape."""
    root = logging.getLogger()
    root.setLevel(logging.INFO)
    if any(getattr(h, "_pcs_app", False) for h in root.handlers):
        return logging.getLogger(__name__)  # idempotent across main() calls
    handler = logging.StreamHandler(stream if stream is not None else sys.stdout)
    handler._pcs_app = True
    handler.setLevel(logging.INFO)
    handler.setFormatter(
        logging.Formatter("%(asctime)s - %(name)s - %(levelname)s - %(message)s")
    )
    root.addHandler(handler)
    return logging.getLogger(__name__)


def _configured(app_name: str):
    """(settings, lake root, Spark session) of a run: the settings come
    from the environment, the requested bucket seeding the configurator
    lookups as in the reference main() (app.py:24-34)."""
    settings = resolve(requested_bucket=os.environ.get("REQUESTED_BUCKET", ""))
    spark = get_spark(
        app_name=app_name,
        s3_endpoint=settings.endpoint,
        s3_access_key=settings.access_key,
        s3_secret_key=settings.secret_key,
    )
    return settings, settings.resolved_root(), spark


def explain_main(argv: list[str]) -> int:
    """Print a registered query's formatted physical plan.

    ``argv``: [query_name, sf_dir?]. The formatted mode surfaces exactly
    what the plan tests pin (PushedFilters, ReadSchema, Exchange count,
    WholeStageCodegen spans), so a regression is visible before it is
    test-encoded.
    """
    from parquet_compactor_spark.registry import all_queries

    if not argv:
        print("usage: explain <query_name> [sf_dir]")
        return 2
    name = argv[0]
    sf_dir = argv[1] if len(argv) > 1 else "/root/testdata/sf0.001"
    queries = all_queries()
    if name not in queries:
        print(f"unknown query: {name}; known: {', '.join(sorted(queries))}")
        return 2
    spark = get_spark(app_name="pcs-explain")
    df = queries[name].fn(spark, sf_dir)
    df.explain("formatted")
    return 0


def gc_main(argv: list[str]) -> int:
    """Deep orphan-tmp sweep over the configured lake root.

    ``argv``: [min_age_hours?] (default 24). Uses the same env-resolved
    root as a compaction run; prints the reclaimed dirs as JSON.
    """
    log = setup_logging()
    try:
        min_age = float(argv[0]) if argv else 24.0
    except ValueError:
        print("usage: gc [min_age_hours]")
        return 2
    settings, root, spark = _configured("parquet-compactor-gc")
    deleted, failed = LakeCompactor(
        spark, root, settings.compaction
    ).gc_orphan_tmp_dirs(min_age)
    log.info(
        "orphan tmp gc reclaimed %d dirs, %d failed", len(deleted), len(failed)
    )
    print(json.dumps({"root": root, "reclaimed": deleted, "failed": failed}))
    # Non-zero when a reclaim failed, same alerting contract as main().
    return 1 if failed else 0


def audit_main(argv: list[str]) -> int:
    """Read-only lake integrity audit over the configured root.

    Prints the per-leaf findings as JSON (``LakeCompactor.audit``:
    ``manifest_missing``, ``pending_present``, ``inflight_write``,
    ``legacy_pending_sidecar``, ``orphan_tmp_dirs``). Exit 1 when any
    finding exists (the alerting contract: an orchestrator schedules this
    and pages on non-zero), 0 on a clean lake. Mutates nothing.
    """
    log = setup_logging()
    settings, root, spark = _configured("parquet-compactor-audit")
    report = LakeCompactor(spark, root, settings.compaction).audit()
    summary = report["__summary__"]
    log.info(
        "lake audit: %d leaves, %d with findings",
        summary["leaves"],
        summary["leaves_with_findings"],
    )
    print(json.dumps({"root": root, "report": report}))
    return 1 if summary["leaves_with_findings"] else 0


def report_main(argv: list[str]) -> int:
    """Lake health report over the configured root (read-only).

    Prints per-leaf small-file statistics ranked by reclaimable files —
    the scheduler input: feed the top leaves to a compaction run first.
    ``--rowgroups`` adds the per-leaf row-group health table;
    ``--schema-drift`` adds the per-leaf schema-drift table (the
    pre-merge compatibility check the reference never performs). Both
    read Parquet footers on the driver through the Hadoop FileSystem, on
    every store, at one footer read per file however many tables are
    asked for. Unlike ``audit`` this never exits non-zero on findings:
    reclaimable files are normal operating state, not drift.
    """
    log = setup_logging()
    if not set(argv) <= {"--rowgroups", "--schema-drift"}:
        print("usage: report [--rowgroups] [--schema-drift]")
        return 2
    from parquet_compactor_spark.compactor.report import (
        lake_files,
        lake_footers,
        lake_report,
        rowgroup_report,
        schema_drift_report,
    )

    settings, root, spark = _configured("parquet-compactor-report")
    # One walk of the lake, and one footer read per file, shared by every report.
    files = lake_files(spark, root)
    leaves = [
        r.asDict()
        for r in lake_report(spark, root, settings.compaction, files=files)
        .orderBy(F_desc("reclaimable_files"), "leaf")
        .collect()
    ]
    payload: dict = {"root": root, "leaves": leaves}
    footers = lake_footers(spark, [f.path for f in files]) if argv else {}
    if "--rowgroups" in argv:
        payload["rowgroups"] = [
            r.asDict()
            for r in rowgroup_report(spark, root, footers=footers)
            .orderBy(F_desc("tiny_row_groups"), "leaf")
            .collect()
        ]
    if "--schema-drift" in argv:
        payload["schema_drift"] = [
            r.asDict() for r in schema_drift_report(spark, root, footers=footers).collect()
        ]
    log.info(
        "lake report: %d leaves, %d reclaimable files",
        len(leaves),
        sum(l["reclaimable_files"] for l in leaves),
    )
    print(json.dumps(payload))
    return 0


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if argv and argv[0] == "explain":
        return explain_main(argv[1:])
    if argv and argv[0] == "gc":
        return gc_main(argv[1:])
    if argv and argv[0] == "audit":
        return audit_main(argv[1:])
    if argv and argv[0] == "report":
        return report_main(argv[1:])
    log = setup_logging()
    settings, root, spark = _configured("parquet-compactor-spark")
    log.info("compacting lake at %s", root)
    compactor = LakeCompactor(spark, root, settings.compaction)
    outcomes = compactor.compact()
    log.info("compaction outcomes: %s", outcomes)
    print(json.dumps({"root": root, "leaves": outcomes}))
    # Non-zero exit if any leaf failed (originals kept — safe to rerun) OR
    # stopped at a failed filesystem step (the next pass resolves it) OR
    # any post-merge delete failed (rows read twice until remediated) OR
    # the in-pass orphan-tmp GC could not reclaim a dir (storage leaks
    # until a maintenance sweep) — an orchestrator alerting on exit
    # status must see all of these states.
    bad = any(
        o in ("merge_failed_originals_kept", LakeCompactor.FAILED)
        or "deletes_failed" in o
        or "deletes_pending" in o
        or "reclaim_failed" in o
        for o in outcomes.values()
    )
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
