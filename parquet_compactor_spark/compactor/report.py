"""Lake health reports: per-leaf diagnostics from metadata only.

The operational question the compactor answers daily is "which leaves
need compacting, and how badly?". This module answers it WITHOUT reading
any data: the same lake walk the compactor plans from
(``HadoopFS.walk`` — one ``listStatus`` per directory) becomes a
DataFrame of per-leaf statistics, so the report costs that walk plus
KB-scale aggregation. :func:`lake_files` walks once, and each report
takes its result, so sibling reports share one walk.

The row-group and schema-drift reports read Parquet footers the way the
compactor's planner does: on the driver, through the Hadoop FileSystem
(:meth:`HadoopFS.read_footers`), so they work on every store the
compactor works on. :func:`lake_footers` reads each file's footer once,
and both reports take its result.

Reference parity: the reference has no reporting surface at all — its
only observability is per-leaf stdout lines during a compaction run
(parquet_compactor.py:295-328). This is the north-star extension that
makes the compactor schedulable: run the report, rank by
``reclaimable_files``, and feed the worst leaves to
``LakeCompactor.compact`` first.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_compactor_spark.compactor.core import CompactionConfig, _is_mergeable_data_file
from parquet_compactor_spark.compactor.fs import HadoopFS, ListedFile, ParquetFooter

_REPORT_SCHEMA = (
    "leaf string, n_files bigint, total_bytes bigint, small_files bigint, "
    "small_bytes bigint, largest_file_bytes bigint, newest_mtime double"
)


def lake_files(spark: SparkSession, root: str) -> list[ListedFile]:
    """The lake's ``*.parquet`` files with non-hidden names, as a merge
    or a scan reads them, from one walk (:meth:`HadoopFS.walk`). A
    directory whose listing raises fails the call."""
    files: list[ListedFile] = []
    for listing in HadoopFS(spark, root).walk(root).values():
        if isinstance(listing, Exception):
            raise listing
        files += [f for f in listing if not f.is_dir and _is_mergeable_data_file(f.path)]
    return files


def lake_report(
    spark: SparkSession,
    root: str,
    config: CompactionConfig | None = None,
    files: list[ListedFile] | None = None,
) -> DataFrame:
    """Per-leaf lake statistics as a DataFrame (metadata only, no data read).

    Columns: leaf, n_files, total_bytes, small_files (< target size),
    small_bytes, largest_file_bytes, newest_mtime, plus derived
    small_file_ratio and ideal_files (ceil(small_bytes/target): how many
    target-size files the SMALL files alone should occupy — already-big
    files are not rewritten, so they don't enter the ideal) —
    ``small_files - ideal_files`` is the per-leaf reclaimable file count
    a compaction run would eliminate. Only ``*.parquet`` objects are
    counted: leaves written by other Spark jobs carry ``_SUCCESS``/checksum
    sidecars (the compactor's own writes leave no ``_SUCCESS``) that a
    merge would never read, and counting them would inflate
    small_files/reclaimable_files. Pass ``files`` (:func:`lake_files`)
    to reuse a walk instead of walking again.

    The listing is driver-side (it is the compactor's planning catalog —
    KBs per million files); the statistics become a DataFrame so ranking,
    filtering, and joining against other operational tables compose with
    the rest of the engine.
    """
    config = config or CompactionConfig()
    if files is None:
        files = lake_files(spark, root)
    rows = [(f.path.rsplit("/", 1)[0] + "/", 1, f.size, f.modified) for f in files]
    if not rows:
        empty = spark.createDataFrame([], _REPORT_SCHEMA)
        # Cast to long: the non-empty branch's ceil/greatest yield bigint,
        # and a schema that flips int/bigint on emptiness breaks unions.
        return empty.withColumn(
            "small_file_ratio", F.lit(0.0)
        ).withColumn("ideal_files", F.lit(0).cast("long")).withColumn(
            "reclaimable_files", F.lit(0).cast("long")
        )
    target = config.file_size_bytes
    listing = spark.createDataFrame(
        rows, "leaf string, one int, size bigint, mtime double"
    )
    report = listing.groupBy("leaf").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("size").alias("total_bytes"),
        F.sum(F.when(F.col("size") < target, 1).otherwise(0)).alias("small_files"),
        F.sum(F.when(F.col("size") < target, F.col("size")).otherwise(0)).alias(
            "small_bytes"
        ),
        F.max("size").alias("largest_file_bytes"),
        F.max("mtime").alias("newest_mtime"),
    )
    return report.select(
        "*",
        F.round(F.col("small_files") / F.col("n_files"), 4).alias(
            "small_file_ratio"
        ),
        F.greatest(
            F.ceil(F.col("small_bytes") / F.lit(target)), F.lit(1)
        ).alias("ideal_files"),
    ).withColumn(
        "reclaimable_files",
        F.greatest(
            F.col("small_files") - F.col("ideal_files"), F.lit(0)
        ),
    )


# ---------------------------------------------------------------------------
# Footer reports: row groups and schema drift, from each file's footer.
# ---------------------------------------------------------------------------

#: Path -> its footer, or why the footer did not read (:func:`lake_footers`).
Footers = dict[str, ParquetFooter | str]


def lake_footers(spark: SparkSession, paths: list[str]) -> Footers:
    """Each path's Parquet footer, or the reason it did not read, in the
    order of ``paths``: one footer read per file, on the driver, through
    the Hadoop FileSystem and the compactor's schema converter
    (:meth:`HadoopFS.read_footers`). Pass the result to
    :func:`rowgroup_report` and :func:`schema_drift_report` to read each
    footer once for both."""
    if not paths:
        return {}
    fs = HadoopFS(spark, paths[0])
    return fs.read_footers(paths, fs.schema_converter(spark))


_FOOTER_SCHEMA = (
    "path string, row_group_id int, n_rows bigint, compressed_bytes bigint, "
    "uncompressed_bytes bigint, n_columns int, error string"
)


def _rowgroup_frame(spark: SparkSession, footers: Footers) -> DataFrame:
    rows: list[tuple] = []
    for path, footer in footers.items():
        if isinstance(footer, str):
            rows.append((path, -1, 0, 0, 0, 0, footer))
            continue
        blocks = footer.footer.getParquetMetadata().getBlocks()
        for i in range(blocks.size()):
            rg = blocks.get(i)
            rows.append(
                (
                    path,
                    i,
                    rg.getRowCount(),
                    rg.getCompressedSize(),
                    rg.getTotalByteSize(),
                    rg.getColumns().size(),
                    None,
                )
            )
    return spark.createDataFrame(rows, _FOOTER_SCHEMA)


def scan_parquet_footers(spark: SparkSession, paths: list[str]) -> DataFrame:
    """ONE ROW PER ROW GROUP from the parquet footers of ``paths``
    (:func:`lake_footers`: a couple of range reads per file, never the
    data pages), keyed by the caller's path string.

    Columns: path, row_group_id, n_rows, compressed_bytes (sum of
    column-chunk compressed sizes), uncompressed_bytes (the footer's
    total byte size), n_columns, error. A missing, corrupt or unreadable
    footer yields ONE row with row_group_id = -1 and the reason in
    ``error`` (row-wise degrade: an audit over a 100k-file lake reports
    the one bad file, not dies on it); healthy rows carry error = NULL.
    """
    return _rowgroup_frame(spark, lake_footers(spark, paths))


def rowgroup_report(
    spark: SparkSession,
    root: str,
    min_rowgroup_rows: int = 100_000,
    footers: Footers | None = None,
) -> DataFrame:
    """Per-leaf ROW-GROUP health — the pathology :func:`lake_report`
    cannot see. A leaf can pass the file-size report (every file at
    target size) while each file holds thousands of tiny row groups, and
    row groups ARE the scan/pushdown unit: predicate pruning, split
    planning, and page skipping all degrade with row-group count, so a
    right-sized file with 5,000 undersized groups scans like 5,000 tiny
    files. Such leaves need a re-write pass (``LakeCompactor.compact``
    re-chunks via ``chunked_rows``) even though the size report says
    they're done.

    Columns per leaf: n_files, n_row_groups, n_rows, avg_rg_rows,
    tiny_row_groups (< ``min_rowgroup_rows``), files_with_tiny_rgs,
    error_files, plus tiny_rg_ratio. Cost: one lake walk and one footer
    read per file on the driver (:func:`lake_footers`); no data pages
    are ever read. Pass ``footers`` (:func:`lake_footers` of the
    paths of :func:`lake_files`) to share one walk and one footer read
    per file with :func:`schema_drift_report`.
    """
    if footers is None:
        footers = lake_footers(spark, [f.path for f in lake_files(spark, root)])
    rowgroups = _rowgroup_frame(spark, footers)
    leaf = F.expr(r"regexp_replace(path, '/[^/]+$', '/')").alias("leaf")
    per_file = (
        rowgroups.select(
            leaf,
            "path",
            "row_group_id",
            "n_rows",
            "error",
        )
        .groupBy("leaf", "path")
        .agg(
            F.sum(F.when(F.col("error").isNull(), 1).otherwise(0)).alias("rgs"),
            F.sum(F.when(F.col("error").isNull(), F.col("n_rows"))).alias("rows"),
            F.sum(
                F.when(
                    F.col("error").isNull()
                    & (F.col("n_rows") < min_rowgroup_rows),
                    1,
                ).otherwise(0)
            ).alias("tiny_rgs"),
            F.max(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias(
                "is_error"
            ),
        )
    )
    return (
        per_file.groupBy("leaf")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("rgs").alias("n_row_groups"),
            F.coalesce(F.sum("rows"), F.lit(0)).alias("n_rows"),
            F.sum("tiny_rgs").alias("tiny_row_groups"),
            F.sum(F.when(F.col("tiny_rgs") > 0, 1).otherwise(0)).alias(
                "files_with_tiny_rgs"
            ),
            F.sum("is_error").alias("error_files"),
        )
        .select(
            "*",
            F.when(
                F.col("n_row_groups") > 0,
                F.round(F.col("tiny_row_groups") / F.col("n_row_groups"), 4),
            )
            .otherwise(F.lit(0.0))
            .alias("tiny_rg_ratio"),
            F.when(
                F.col("n_row_groups") > 0,
                (F.col("n_rows") / F.col("n_row_groups")).cast("bigint"),
            )
            .otherwise(F.lit(0).cast("bigint"))
            .alias("avg_rg_rows"),
        )
    )


# ---------------------------------------------------------------------------
# Schema drift.
# ---------------------------------------------------------------------------

_SCHEMA_SCAN_SCHEMA = (
    "path string, n_columns int, schema_fp string, columns string, "
    "error string"
)


def _schema_frame(spark: SparkSession, footers: Footers) -> DataFrame:
    rows: list[tuple] = []
    for path, footer in footers.items():
        if isinstance(footer, str):
            rows.append((path, -1, None, None, footer))
            continue
        cols = sorted(f"{c.name}:{c.dataType.simpleString()}" for c in footer.columns)
        joined = "\n".join(cols)
        rows.append((path, len(cols), hashlib.md5(joined.encode()).hexdigest(), joined, None))
    return spark.createDataFrame(rows, _SCHEMA_SCAN_SCHEMA)


def scan_parquet_schemas(spark: SparkSession, paths: list[str]) -> DataFrame:
    """ONE ROW PER FILE with the parquet footer's SCHEMA, from the same
    footer read as :func:`scan_parquet_footers` (data pages never
    touched).

    Columns: path, n_columns, schema_fp (md5 over the sorted
    ``name:type`` list — equal fingerprints == merge-compatible columns),
    columns (the sorted ``name:type`` list itself, NEWLINE-joined; Spark
    type strings legally contain commas, e.g. ``decimal(10,2)`` and
    ``struct<a:bigint,b:string>``, so only a character no type can carry
    is a safe separator — letting drift DIFFS be computed downstream
    without reopening any file), error. The types are Spark's, as the
    compactor's merge reads each file and decides a type conflict by.
    Unreadable footers degrade row-wise with n_columns = -1 and the
    reason in ``error``: Hadoop's exception for a missing or corrupt
    file, or the column whose type the merge cannot keep.

    Why this exists: the reference ASSUMES schema compatibility across
    the files it merges (SURVEY.md §1.2 — never checked; awswrangler
    surfaces a failure only mid-merge as a caught ArrowException that
    silently skips the leaf's write). A positional/inferred union over
    drifted files is how lakes get corrupted, so this engine makes the
    check a first-class metadata-only audit.
    """
    return _schema_frame(spark, lake_footers(spark, paths))


def schema_drift_report(
    spark: SparkSession, root: str, footers: Footers | None = None
) -> DataFrame:
    """Per-leaf SCHEMA-DRIFT health — the pre-merge check the reference
    never performs. The compactor merges a drifted leaf by column name
    (a column is null in the rows of files that lack it) and keeps the
    originals of a leaf whose files disagree on a column's type; this
    report is the operator's view of which leaves drift, and how.

    Columns per leaf: n_files, error_files, n_schemas (distinct
    fingerprints among readable files; 1 == uniform), majority_files
    (the most common fingerprint's file count), drifted_files
    (readable files off the majority schema), n_drift_columns
    (DISTINCT column names whose ``name:type`` entry is present in
    SOME but not ALL readable files — added/removed columns and type
    changes both surface here), drift_columns (sorted, capped
    at 20 names, comma-joined — the actionable diff). Cost: one lake
    walk and one footer read per file on the driver
    (:func:`lake_footers`); no data pages. Pass ``footers``
    (:func:`lake_footers`) to share them with :func:`rowgroup_report`.
    """
    if footers is None:
        footers = lake_footers(spark, [f.path for f in lake_files(spark, root)])
    scan = _schema_frame(spark, footers)
    leaf = F.expr(r"regexp_replace(path, '/[^/]+$', '/')").alias("leaf")
    files = scan.select(leaf, "path", "schema_fp", "columns", "error")
    per_leaf = files.groupBy("leaf").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias(
            "error_files"
        ),
        F.countDistinct("schema_fp").alias("n_schemas"),
    )
    fp_counts = (
        files.filter(F.col("error").isNull())
        .groupBy("leaf", "schema_fp")
        .agg(F.count(F.lit(1)).alias("fp_files"))
    )
    majority = fp_counts.groupBy("leaf").agg(
        F.max("fp_files").alias("majority_files"),
        F.sum("fp_files").alias("ok_files"),
    )
    # Drift columns: name:type tokens carried by some but not all
    # readable files of the leaf.
    tokens = (
        files.filter(F.col("error").isNull())
        .select("leaf", F.explode(F.split("columns", "\n")).alias("token"))
        .groupBy("leaf", "token")
        .agg(F.count(F.lit(1)).alias("token_files"))
    )
    drift_cols = (
        tokens.join(majority.select("leaf", "ok_files"), "leaf")
        .filter(F.col("token_files") < F.col("ok_files"))
        .select(
            "leaf", F.substring_index(F.col("token"), ":", 1).alias("name")
        )
        .groupBy("leaf")
        .agg(
            F.countDistinct("name").alias("n_drift_columns"),
            F.array_join(
                F.slice(F.array_sort(F.collect_set("name")), 1, 20), ","
            ).alias("drift_columns"),
        )
    )
    return (
        per_leaf.join(majority, "leaf", "left")
        .join(drift_cols, "leaf", "left")
        .select(
            "leaf",
            "n_files",
            "error_files",
            "n_schemas",
            F.coalesce("majority_files", F.lit(0)).alias("majority_files"),
            (
                F.coalesce("ok_files", F.lit(0))
                - F.coalesce("majority_files", F.lit(0))
            ).alias("drifted_files"),
            F.coalesce("n_drift_columns", F.lit(0)).alias("n_drift_columns"),
            F.coalesce("drift_columns", F.lit("")).alias("drift_columns"),
        )
        .orderBy(F.desc("drifted_files"), "leaf")
    )
