"""Format-agnostic table IO (parquet / csv / json / orc / text / xml /
avro) with sizing knobs. Avro prefers the external spark-avro package;
when it is absent BOTH directions fall back to the pure-Python
distributed paths (``avro_fallback.py`` read, ``avro_sink.py``
two-phase-commit write) — the only fallback gaps are partitionBy on
write and snappy (downgraded to deflate, declared in the metadata).

The reference reads and writes only snappy parquet
(parquet_compactor.py:158-171); this module generalizes the same
source/sink surface the Spark way — one declarative reader/writer pair
where format, compression, partition layout, and output file sizing
(the reference's 0.3 GiB / 1M-row rules) are options, not code paths.

Scale posture baked in:
- writes can target a byte size per file: ``repartition`` to
  ceil(estimated_bytes / target) (exact sizing, one shuffle) or
  ``coalesce`` (no shuffle, uneven) — caller picks the trade-off;
- ``maxRecordsPerFile`` always bounds the worst case;
- partitioned writes (``partition_by``) produce the same
  ``key=value`` Hive layout the compactor crawls, closing the loop
  between the query surface and the compaction core.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession

from parquet_compactor_spark.session import CHUNKED_ROWS, FILE_SIZE_BYTES

_READ_FORMATS = {"parquet", "csv", "json", "orc", "text", "xml", "avro"}


def _raise_if_missing_source(err: Exception, fmt: str) -> None:
    """Avro is an external Spark package (spark-avro); translate the
    planner's lookup failure into an actionable error instead of a stack
    trace. text/xml/orc/csv/json/parquet are built into Spark 4."""
    if "Failed to find data source" in str(err):
        raise ImportError(
            f"format '{fmt}' needs its Spark package on the classpath "
            "(e.g. org.apache.spark:spark-avro for avro) — add it via "
            "spark.jars.packages"
        ) from err
    raise err


def read_table(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: str | None = None,
    **options: str,
) -> DataFrame:
    """Read a table of the given format.

    CSV defaults to header+inferSchema only when no schema is given —
    prefer an explicit ``schema`` (inference is an extra full scan at
    lake scale). XML defaults to rowTag=row. text yields one ``value``
    row per line (pass wholetext to get one row per file).
    """
    if fmt not in _READ_FORMATS:
        raise ValueError(f"unsupported format: {fmt}")
    reader = spark.read.format(fmt)
    if schema:
        reader = reader.schema(schema)
    if fmt == "csv":
        reader = reader.option("header", "true")
        if not schema:
            reader = reader.option("inferSchema", "true")
    if fmt == "xml" and "rowTag" not in options:
        reader = reader.option("rowTag", "row")
    try:
        return reader.options(**options).load(path)
    except Exception as err:
        if fmt == "avro" and "Failed to find data source" in str(err):
            # No spark-avro on the classpath: fall back to the pure-Python
            # distributed decoder (driver sniffs one header for the writer
            # schema; executors decode via binaryFile + mapInPandas).
            from parquet_compactor_spark.sources.avro_fallback import (
                read_avro_fallback,
            )

            if schema:
                raise ValueError(
                    "the avro fallback reader uses the file-embedded writer "
                    "schema; drop the explicit schema or add spark-avro"
                ) from err
            return read_avro_fallback(spark, path, **options)
        _raise_if_missing_source(err, fmt)


def sized_writer(
    df: DataFrame,
    target_file_bytes: int = FILE_SIZE_BYTES,
    estimated_total_bytes: int | None = None,
    exact: bool = True,
):
    """Return df repartitioned so output files land near the target size.

    ``estimated_total_bytes`` usually comes from the input listing (as the
    compactor does); without it we leave partitioning to AQE +
    maxRecordsPerFile. ``exact=True`` shuffles (even files); ``False``
    coalesces (no shuffle, sizes follow existing partitioning).
    """
    if estimated_total_bytes is None:
        return df
    n = max(1, math.ceil(estimated_total_bytes / target_file_bytes))
    return df.repartition(n) if exact else df.coalesce(n)


def write_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    compression: str = "snappy",
    partition_by: list[str] | None = None,
    max_records_per_file: int = CHUNKED_ROWS,
    **options: str,
) -> None:
    """Write a table with the engine's sizing conventions applied.

    text expects a single string column (alias it ``value``); XML writes
    rowTag=row under rootTag=rows unless overridden.
    """
    if fmt not in _READ_FORMATS:
        raise ValueError(f"unsupported format: {fmt}")
    if fmt == "json" and compression == "snappy":
        compression = "gzip"  # snappy unsupported for json sink
    if fmt == "xml" and compression == "snappy":
        compression = "none"  # xml sink: codec-less default
    writer = (
        df.write.format(fmt)
        .mode(mode)
        .option("compression", compression)
        .option("maxRecordsPerFile", max_records_per_file)
    )
    if fmt == "csv":
        writer = writer.option("header", "true")
    if fmt == "xml":
        if "rowTag" not in options:
            writer = writer.option("rowTag", "row")
        if "rootTag" not in options:
            writer = writer.option("rootTag", "rows")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    try:
        writer.options(**options).save(path)
    except Exception as err:
        if fmt == "avro" and "Failed to find data source" in str(err):
            # No spark-avro on the classpath: fall back to the pure-Python
            # two-phase-commit DataSource sink (distributed — one container
            # file per partition, executor-side encode; avro_sink.py).
            if partition_by:
                raise NotImplementedError(
                    "avro fallback sink has no partitionBy — add spark-avro "
                    "or write partitioned parquet/orc"
                ) from err
            if options:
                # Never silently produce different output than the
                # spark-avro path would for the same call.
                raise NotImplementedError(
                    f"avro fallback sink ignores writer options "
                    f"{sorted(options)} — add spark-avro for full option "
                    "support"
                ) from err
            from parquet_compactor_spark.sources.avro_sink import (
                write_avro_fallback,
            )

            # snappy needs python-snappy (absent here); deflate is the
            # pure-Python codec and is DECLARED in the container metadata,
            # so any avro reader handles the output.
            codec = {"snappy": "deflate", "none": "null", "uncompressed": "null"}.get(
                compression, compression
            )
            write_avro_fallback(
                df,
                path,
                mode=mode,
                codec=codec,
                max_records_per_file=max_records_per_file,
            )
            return
        _raise_if_missing_source(err, fmt)


def read_binary_files(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    recursive: bool = False,
) -> DataFrame:
    """Whole-file binary ingestion via Spark's ``binaryFile`` source.

    Returns (path, modificationTime, length, content: binary) — one row
    per file, read in parallel across executors. This is the ingestion
    edge for multimodal blobs (images/audio/video) that arrive as raw
    files rather than parquet columns: pair it with
    ``llm.multimodal.extract_media_meta`` to go bytes → typed metadata.
    The reference's only binary handling is whole-object S3 copy
    (parquet_compactor.py:153-181); this is the Spark-native equivalent
    of its listing+read step for non-parquet payloads.

    Scale notes: each file must fit in one task's memory (the source
    does not split files); ``spark.sql.files.maxPartitionBytes`` still
    bin-packs many small blobs per task, which is exactly the small-file
    shape the compactor exists for.
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    return reader.load(path)


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_by: list[str],
    n_files: int,
    fmt: str = "parquet",
    compression: str = "snappy",
    **options: str,
) -> None:
    """Write with range-clustered file layout for data skipping.

    ``repartitionByRange(cluster_by)`` gives each output file a disjoint
    value range of the clustering columns and ``sortWithinPartitions``
    orders rows inside each file, so parquet column statistics (file and
    row-group min/max) become tight: a later filtered scan on those
    columns prunes whole files/row groups instead of reading everything.
    This is the write-side half of predicate pushdown — at 100 TB the
    difference between scanning one file and scanning the lake. Costs
    one range-exchange (sampling pass + shuffle) at write time.
    """
    (
        df.repartitionByRange(n_files, *cluster_by)
        .sortWithinPartitions(*cluster_by)
        .write.format(fmt)
        .mode("overwrite")
        .option("compression", compression)
        .option("maxRecordsPerFile", CHUNKED_ROWS)
        .options(**options)
        .save(path)
    )


def zorder_key(df: DataFrame, cols: list[str], bits: int = 8):
    """Z-order (Morton) key over 2+ columns as a JVM-side expression.

    Each column is rank-bucketed into 2**bits equi-depth cells using
    interpolated percentile boundaries (one tiny aggregate per column,
    broadcast back as an array literal — the same no-giant-window
    discipline as q_equidepth_hist), then the cell indices' bits are
    interleaved into one bigint. Sorting by that key gives a layout
    where EVERY participating column has locally-tight file ranges, so
    parquet min/max skipping works for predicates on any of them —
    where a linear sort serves only its leading column. Returns the
    key column; the input DataFrame is scanned once per column for
    boundaries (percentile aggs) plus once for the write.
    """
    from pyspark.sql import functions as F

    n_cells = 1 << bits
    fracs = [i / n_cells for i in range(1, n_cells)]
    keys = []
    for c in cols:
        bounds_row = df.agg(
            F.percentile(c, F.array(*[F.lit(f) for f in fracs])).alias("b")
        ).collect()[0]
        bounds = F.array(*[F.lit(float(v)) for v in bounds_row.b])
        cell = F.size(
            F.filter(bounds, lambda x: x <= F.col(c).cast("double"))
        ).cast("bigint")
        keys.append(cell)
    # Interleave: bit i of column j lands at position i*len(cols)+j.
    z = F.lit(0).cast("bigint")
    for i in range(bits):
        for j, cell in enumerate(keys):
            bit = F.shiftright(cell, i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * len(cols) + j))
    return z.alias("_zkey")


def write_zordered(
    df: DataFrame,
    path: str,
    zorder_by: list[str],
    n_files: int,
    fmt: str = "parquet",
    compression: str = "snappy",
    bits: int = 8,
) -> None:
    """Write with Z-order-clustered file layout for multi-column skipping.

    ``write_clustered`` (linear range sort) makes ONE column's file
    stats tight; Z-order trades a little of that leading-column
    tightness for tight stats on ALL clustered columns at once — the
    layout Delta/Iceberg expose as OPTIMIZE ZORDER BY, built here from
    percentile bucketing + bit interleaving (no table format needed).
    The key is dropped before the rows hit disk.
    """
    z = zorder_key(df, zorder_by, bits=bits)
    (
        df.withColumn("_zkey", z)
        .repartitionByRange(n_files, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.format(fmt)
        .mode("overwrite")
        .option("compression", compression)
        .option("maxRecordsPerFile", CHUNKED_ROWS)
        .save(path)
    )
