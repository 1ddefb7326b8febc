"""SparkSession construction with scale-appropriate defaults.

Mirrors the config surface of the reference's ``configurator.py``
(/root/reference/parquet-compactor/configurator.py:19-70 — env-first
endpoint/bucket/key resolution) but maps it onto SparkConf: S3 knobs become
``fs.s3a.*`` settings, and the performance envelope (1M-row chunks, 0.3 GiB
target files — parquet_compactor.py:20-22) becomes Spark output sizing.

Designed for a 1000-executor cluster but testable on local[N]:
- AQE on (runtime partition coalescing, skew-join splitting),
- shuffle partitions sized by env for local runs; AQE re-plans at scale,
- UTC session timezone so timestamp semantics match the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Reference knobs (parquet_compactor.py:20-22): 1M rows per output unit,
# 0.3 GiB target output files.
CHUNKED_ROWS = 1_000_000
TARGET_FILE_SIZE_GB = 0.3
FILE_SIZE_BYTES = int(TARGET_FILE_SIZE_GB * 1024**3)


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


# cgroup v2 then v1; module-level so tests can point at fixture files.
_CGROUP_PATHS = (
    "/sys/fs/cgroup/memory.max",
    "/sys/fs/cgroup/memory/memory.limit_in_bytes",
)


def _cgroup_mem_limit_bytes() -> int | None:
    """Container memory limit from cgroup v2 (memory.max) or v1, if any.

    sysconf sees the HOST's RAM; inside a memory-limited container on a
    big host that over-sizes the heap and invites OOM-kills. A missing
    file, "max" (v2 unlimited), or a v1 sentinel >= 2^60 means no
    effective limit.
    """
    for path in _CGROUP_PATHS:
        try:
            raw = open(path).read().strip()
        except OSError:
            continue
        if raw == "max":
            return None
        try:
            limit = int(raw)
        except ValueError:
            continue
        if 0 < limit < 1 << 60:
            return limit
    return None


def _default_driver_mem() -> str:
    """Heap default: half of available RAM, clamped to [1g, 24g].

    "Available" is min(host RAM via sysconf, cgroup limit if present) —
    the cgroup limit is what the kernel will actually enforce in a
    container. Half leaves room for Python workers (Arrow batches live in
    both worlds) and the OS page cache; the 24g cap is the local[32]
    sweet spot measured in SCALE.md. Detection failure falls back to a
    safe 4g rather than a value that can't launch. Overridden entirely by
    SPARK_GRAFT_DRIVER_MEM.
    """
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError, AttributeError):  # non-POSIX or sysconf gap
        return "4g"
    cg = _cgroup_mem_limit_bytes()
    if cg is not None:
        total = min(total, cg)
    return f"{max(1, min(24, int(total / 1024**3 // 2)))}g"


def object_store_confs() -> dict[str, str]:
    """Recommended Spark/Hadoop settings for compacting an s3a lake.

    The compactor writes every merge straight into its leaf, with no
    rename of its own; the S3A *magic committer* turns Spark's own
    task/job commit into multipart-upload completions instead of
    rename-as-copy, so each data byte is written exactly once. These are
    the standard cloud-committer bindings from the Hadoop S3A and Spark
    cloud-integration docs; pass to ``get_spark(extra_conf=...)``. Harmless on
    local runs (they only bind for the s3a scheme).
    """
    return {
        "spark.hadoop.fs.s3a.committer.name": "magic",
        "spark.hadoop.fs.s3a.committer.magic.enabled": "true",
        "spark.hadoop.mapreduce.outputcommitter.factory.scheme.s3a": (
            "org.apache.hadoop.fs.s3a.commit.S3ACommitterFactory"
        ),
        "spark.sql.sources.commitProtocolClass": (
            "org.apache.spark.internal.io.cloud.PathOutputCommitProtocol"
        ),
        "spark.sql.parquet.output.committer.class": (
            "org.apache.spark.internal.io.cloud.BindingParquetOutputCommitter"
        ),
    }


def get_spark(
    app_name: str = "parquet-compactor-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    s3_endpoint: str | None = None,
    s3_access_key: str | None = None,
    s3_secret_key: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    S3 parameters mirror configurator.py's env-first resolution; on a real
    cluster they'd point at the lake (the reference's bucket + data_prefix).
    Locally they're unset and we read the local filesystem.
    """
    cpus = default_parallelism()
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_SHUFFLE_PARTITIONS", str(cpus))
    )

    # local[N] runs every task thread inside ONE driver JVM: the 1g
    # default heap gives ~32 MB per concurrent task at N=32 and OOMs on
    # GB-scale merges. Size the heap like a real executor fleet would be
    # sized (heap ∝ cores) but never beyond what the host can give —
    # a flat 24g default fails JVM launch on small CI containers and
    # laptops. Harmless on a cluster where spark-submit overrides it.
    # Only effective at JVM launch — getOrCreate on an existing session
    # keeps the session's original setting.
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem()

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.memory", driver_mem)
        # Deterministic timestamp semantics (oracle parity).
        .config("spark.sql.session.timeZone", "UTC")
        # AQE: post-shuffle coalescing + skew-join handling — the runtime
        # re-planner that makes one static config survive 100x scale-ups.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for any pandas-UDF path and toPandas in tests.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Output sizing: the reference's 1M-row chunk knob maps to
        # maxRecordsPerFile (SURVEY.md §1.3).
        .config("spark.sql.files.maxRecordsPerFile", str(CHUNKED_ROWS))
        # events.ts is parquet TIMESTAMP(NANOS) which Spark cannot read
        # natively; read as long and convert in registry.load (values are
        # microsecond-aligned, so the conversion is lossless).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Quiet the UI locally; harmless on a cluster.
        .config("spark.ui.showConsoleProgress", "false")
        # PySpark captures the Python call site of every DataFrame and
        # Column call for its error messages, one py4j round trip each:
        # most of the calls a query constructor makes. Errors keep
        # their Spark message, without the Python call site.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )

    s3_endpoint = s3_endpoint or os.environ.get("S3_ENDPOINT")
    s3_access_key = s3_access_key or os.environ.get("AWS_ACCESS_KEY_ID")
    s3_secret_key = s3_secret_key or os.environ.get("AWS_SECRET_ACCESS_KEY")
    if s3_endpoint:
        if not s3_endpoint.startswith(("http://", "https://")):
            # Reference defaults the scheme to https (configurator.py).
            s3_endpoint = f"https://{s3_endpoint}"
        builder = builder.config("spark.hadoop.fs.s3a.endpoint", s3_endpoint)
    if s3_access_key:
        builder = builder.config("spark.hadoop.fs.s3a.access.key", s3_access_key)
    if s3_secret_key:
        builder = builder.config("spark.hadoop.fs.s3a.secret.key", s3_secret_key)

    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)

    return builder.getOrCreate()
