"""Source/sink IO tests: format roundtrips, partitioned layout, sizing."""

from __future__ import annotations

import datetime
import math

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from parquet_compactor_spark.compactor.core import (
    CompactionConfig,
    plan_output_files,
)
from parquet_compactor_spark.registry import load
from parquet_compactor_spark.sources import read_table, sized_writer, write_table
from tests.conftest import SF_SMOKE


@pytest.mark.parametrize("fmt", ["parquet", "csv", "json", "orc"])
def test_roundtrip_formats(spark, tmp_path, fmt):
    df = load(spark, SF_SMOKE, "nation")
    path = str(tmp_path / fmt)
    write_table(df, path, fmt=fmt)
    back = read_table(spark, path, fmt=fmt, schema="n_nationkey int, n_name string, n_regionkey int")
    assert sorted(r.n_name for r in back.collect()) == sorted(
        r.n_name for r in df.collect()
    )


def test_roundtrip_text(spark, tmp_path):
    df = load(spark, SF_SMOKE, "nation").selectExpr("n_name AS value")
    path = str(tmp_path / "txt")
    write_table(df, path, fmt="text")
    back = read_table(spark, path, fmt="text")
    assert sorted(r.value for r in back.collect()) == sorted(
        r.value for r in df.collect()
    )


def test_roundtrip_xml(spark, tmp_path):
    df = load(spark, SF_SMOKE, "nation").select("n_nationkey", "n_name")
    path = str(tmp_path / "xml")
    write_table(df, path, fmt="xml")
    back = read_table(spark, path, fmt="xml")
    assert sorted((r.n_nationkey, r.n_name) for r in back.collect()) == sorted(
        (r.n_nationkey, r.n_name) for r in df.collect()
    )


def test_roundtrip_avro(spark, tmp_path):
    """Avro round-trips through write_table/read_table on ANY classpath:
    with spark-avro those are the package's paths; without it the write
    falls back to the two-phase-commit Python sink (avro_sink.py) and
    the read to the pure-Python distributed decoder — either way the
    caller sees the same declarative API and the same rows back."""
    df = load(spark, SF_SMOKE, "nation").select("n_nationkey", "n_name")
    path = str(tmp_path / "avro")
    write_table(df, path, fmt="avro")
    back = read_table(spark, path, fmt="avro")
    assert sorted((r.n_nationkey, r.n_name) for r in back.collect()) == sorted(
        (r.n_nationkey, r.n_name) for r in df.collect()
    )


_AVRO_SCHEMA = {
    "type": "record",
    "name": "Event",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "name", "type": ["null", "string"]},
        {"name": "score", "type": "double"},
        {"name": "tags", "type": {"type": "array", "items": "string"}},
        {"name": "attrs", "type": {"type": "map", "values": "int"}},
        {
            "name": "kind",
            "type": {"type": "enum", "name": "Kind", "symbols": ["A", "B"]},
        },
        {
            "name": "ts",
            "type": {"type": "long", "logicalType": "timestamp-micros"},
        },
        {
            "name": "nested",
            "type": {
                "type": "record",
                "name": "Sub",
                "fields": [
                    {"name": "x", "type": "int"},
                    {"name": "y", "type": ["null", "double"]},
                ],
            },
        },
    ],
}


def _avro_fixture_records(n=300):
    return [
        {
            "id": i,
            "name": None if i % 3 == 0 else f"n{i}",
            "score": i * 1.5,
            "tags": [f"t{i}", "z"],
            "attrs": {"a": i, "b": -i},
            "kind": "A" if i % 2 else "B",
            "ts": 1700000000_000000 + i,
            "nested": {"x": i, "y": None if i % 4 == 0 else i / 3.0},
        }
        for i in range(n)
    ]


def test_avro_fallback_reads_distributed_without_spark_avro(spark, tmp_path):
    """read_table(fmt='avro') works with NO spark-avro on the classpath:
    the pure-Python fallback sniffs one header driver-side and decodes
    the files executor-side (binaryFile → mapInPandas). Covers both
    container codecs (null, deflate), nullable unions, arrays, maps,
    enums, nested records, and the timestamp-micros logical type."""
    from parquet_compactor_spark.sources.avro_fallback import write_avro_records

    recs = _avro_fixture_records()
    for part in range(3):
        write_avro_records(
            str(tmp_path / f"part-{part}.avro"),
            _AVRO_SCHEMA,
            recs[part::3],
            codec="deflate" if part % 2 == 0 else "null",
        )
    df = read_table(spark, str(tmp_path), fmt="avro")
    assert df.schema.simpleString() == (
        "struct<id:bigint,name:string,score:double,tags:array<string>,"
        "attrs:map<string,int>,kind:string,ts:timestamp,"
        "nested:struct<x:int,y:double>>"
    )
    assert df.count() == len(recs)
    row = df.filter("id = 7").collect()[0]
    assert row.name == "n7"
    assert row.tags == ["t7", "z"]
    assert row.attrs == {"a": 7, "b": -7}
    assert row.kind == "A"
    assert row.nested.x == 7
    # union-null branches materialize as SQL NULLs
    assert df.filter("name IS NULL").count() == len([r for r in recs if r["name"] is None])
    # and the decode is distributed: one input row per container file
    assert df.rdd.getNumPartitions() >= 1


def test_avro_fallback_rejects_explicit_schema(spark, tmp_path):
    from parquet_compactor_spark.sources.avro_fallback import write_avro_records

    write_avro_records(
        str(tmp_path / "a.avro"), _AVRO_SCHEMA, _avro_fixture_records(5)
    )
    with pytest.raises(ValueError, match="file-embedded writer schema"):
        read_table(spark, str(tmp_path), fmt="avro", schema="id long")


def test_avro_fallback_detects_corruption(spark, tmp_path):
    """A flipped sync marker fails the block checksum loudly at decode —
    never a silent truncation."""
    from parquet_compactor_spark.sources.avro_fallback import write_avro_records

    p = tmp_path / "a.avro"
    write_avro_records(str(p), _AVRO_SCHEMA, _avro_fixture_records(50))
    raw = bytearray(p.read_bytes())
    raw[-1] ^= 0xFF  # corrupt the trailing sync marker
    p.write_bytes(bytes(raw))
    df = read_table(spark, str(tmp_path), fmt="avro")
    with pytest.raises(Exception, match="sync mismatch"):
        df.count()


def test_partitioned_write_hive_layout(spark, tmp_path):
    df = load(spark, SF_SMOKE, "nation")
    path = tmp_path / "by_region"
    write_table(df, str(path), partition_by=["n_regionkey"])
    # Hive key=value layout — the same shape the compactor crawls.
    subdirs = {p.name for p in path.iterdir() if p.is_dir()}
    assert subdirs == {f"n_regionkey={i}" for i in range(5)}
    back = read_table(spark, str(path))
    assert back.count() == df.count()


def test_sized_writer_partition_count(spark):
    df = load(spark, SF_SMOKE, "lineitem")
    out = sized_writer(df, target_file_bytes=1000, estimated_total_bytes=10_500)
    assert out.rdd.getNumPartitions() == 11
    out = sized_writer(df, target_file_bytes=10**9, estimated_total_bytes=10)
    assert out.rdd.getNumPartitions() == 1


def test_partition_pruning_reaches_scan(spark, tmp_path):
    """Partitioned-lake reads prune at the source (SURVEY.md §4 R2): a
    filter on a Hive partition column must appear as a PartitionFilter in
    the scan, not a post-scan filter."""
    df = load(spark, SF_SMOKE, "orders").withColumn(
        "year", F.date_format("o_orderdate", "yyyy")
    )
    path = str(tmp_path / "orders_by_year")
    write_table(df, path, partition_by=["year"])

    back = read_table(spark, path).filter(F.col("year") == "1997")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "1997" in plan.split("PartitionFilters")[1].split("]")[0]
    # Partition discovery type-infers year=1997 as int — compare as strings.
    years = {str(r.year) for r in back.select("year").distinct().collect()}
    assert years == {"1997"}


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Bucketed tables co-locate join keys at write time: the join plan
    must contain no Exchange (shuffle) — the 100 TB repeated-join strategy
    (SURVEY.md §2B 'bucketing for co-located joins')."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS bdb LOCATION '{tmp_path}/wh'")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
    try:
        load(spark, SF_SMOKE, "lineitem").write.bucketBy(8, "l_orderkey").sortBy(
            "l_orderkey"
        ).saveAsTable("bdb.li")
        load(spark, SF_SMOKE, "orders").write.bucketBy(8, "o_orderkey").sortBy(
            "o_orderkey"
        ).saveAsTable("bdb.ord")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("bdb.li").join(
            spark.table("bdb.ord"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        assert joined.count() == load(spark, SF_SMOKE, "lineitem").count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP DATABASE IF EXISTS bdb CASCADE")


@given(
    total=st.integers(min_value=0, max_value=10**15),
    target_gb=st.floats(min_value=0.01, max_value=10.0),
)
@settings(max_examples=200, deadline=None)
def test_plan_output_files_invariants(total, target_gb):
    cfg = CompactionConfig(target_file_size_gb=target_gb)
    n = plan_output_files(total, cfg)
    assert n >= 1
    # Files stay under target unless a single file is unavoidable.
    assert n == max(1, math.ceil(total / cfg.file_size_bytes))
    if total > cfg.file_size_bytes:
        assert (total / n) <= cfg.file_size_bytes


def test_binary_file_ingestion(spark, tmp_path):
    """binaryFile source → multimodal (doc_id, payload) → metadata decode."""
    from parquet_compactor_spark.llm.multimodal import (
        extract_media_meta,
        fake_decode_meta,
        ingest_binary_dir,
    )

    payloads = {f"blob_{i}.bin": bytes([i]) * (50 + 37 * i) for i in range(4)}
    for name, data in payloads.items():
        (tmp_path / name).write_bytes(data)
    (tmp_path / "ignore.txt").write_text("not a blob")

    docs = ingest_binary_dir(spark, str(tmp_path), glob="*.bin")
    rows = docs.collect()
    assert len(rows) == 4  # glob filtered out ignore.txt
    assert {r.source_path.rsplit("/", 1)[-1] for r in rows} == set(payloads)
    assert all(bytes(r.payload) == payloads[r.source_path.rsplit("/", 1)[-1]] for r in rows)
    assert len({r.doc_id for r in rows}) == 4  # distinct stable ids

    meta = {
        r.n_bytes: (r.width, r.height, r.n_frames, r.modality)
        for r in extract_media_meta(docs.select("doc_id", "payload")).collect()
    }
    for data in payloads.values():
        assert meta[len(data)] == fake_decode_meta(data)


def _file_ranges(path, column):
    """(min, max) of a column per parquet file, from footer statistics."""
    import pyarrow.parquet as pq
    from pathlib import Path

    ranges = []
    for f in sorted(Path(path).glob("*.parquet")):
        md = pq.ParquetFile(f).metadata
        idx = md.schema.names.index(column)
        lo = min(md.row_group(i).column(idx).statistics.min for i in range(md.num_row_groups))
        hi = max(md.row_group(i).column(idx).statistics.max for i in range(md.num_row_groups))
        ranges.append((lo, hi))
    return sorted(ranges)


def test_write_clustered_files_have_disjoint_ranges(spark, tmp_path):
    """Range clustering must give each output file a disjoint value range
    (tight parquet min/max stats → later scans prune whole files)."""
    from parquet_compactor_spark.sources import write_clustered

    df = load(spark, SF_SMOKE, "lineitem")
    path = str(tmp_path / "clustered")
    write_clustered(df, path, cluster_by=["l_orderkey"], n_files=4)
    ranges = _file_ranges(path, "l_orderkey")
    assert len(ranges) == 4
    for (_, hi_prev), (lo_next, _) in zip(ranges, ranges[1:]):
        assert hi_prev <= lo_next  # disjoint (boundary equality allowed)


def test_clustered_write_skips_row_groups_on_read(spark, tmp_path):
    """The READ-side payoff of write_clustered, measured end-to-end: a
    selective filter on the clustering column over a clustered leaf
    emits a fraction of the rows the SAME filter emits over the same
    data written round-robin, because parquet row-group min/max stats
    (tight only under clustering) let the pushed predicate skip whole
    row groups. This is the runtime half of
    test_write_clustered_files_have_disjoint_ranges — footer stats
    being disjoint is only worth anything if the scan actually skips;
    at 100 TB this is the difference between reading one file and
    reading the lake."""
    from parquet_compactor_spark.sources import write_clustered

    df = load(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_quantity")
    clustered = str(tmp_path / "clustered")
    write_clustered(df, clustered, cluster_by=["l_orderkey"], n_files=8)
    plain = str(tmp_path / "plain")
    df.repartition(8).write.mode("overwrite").parquet(plain)

    cutoff = df.agg(F.expr("percentile_approx(l_orderkey, 0.05)")).first()[0]

    def scan_output_rows(path: str) -> tuple[int, int]:
        q = spark.read.parquet(path).filter(F.col("l_orderkey") <= cutoff)
        # collect() (not count()) so the metrics below belong to THIS
        # DataFrame's execution — count() runs a different query plan.
        n = len(q.collect())
        plan = q._jdf.queryExecution().executedPlan()
        if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
            plan = plan.executedPlan()
        leaves = plan.collectLeaves()
        rows = 0
        for i in range(leaves.size()):
            node = leaves.apply(i)
            opt = node.metrics().get("numOutputRows")
            if opt.isDefined():
                rows += opt.get().value()
        return n, rows

    n_clustered, scanned_clustered = scan_output_rows(clustered)
    n_plain, scanned_plain = scan_output_rows(plain)
    assert n_clustered == n_plain > 0  # same answer either way
    # Round-robin layout: every row group's key range spans the filter,
    # nothing skips, the scan emits ~all rows. Clustered: only the row
    # groups whose disjoint range meets the 5% cutoff emit.
    total = df.count()
    assert scanned_plain > total * 0.9
    assert scanned_clustered < scanned_plain / 4


def test_custom_datasource_batch_read(spark):
    """Python DataSource API: partition-parallel counter-based generation —
    deterministic rows, requested partitioning, no driver-side data."""
    from parquet_compactor_spark.sources.eventgen import EventGenDataSource

    spark.dataSource.register(EventGenDataSource)
    df = (
        spark.read.format("eventgen")
        .option("rows", 500)
        .option("partitions", 8)
        .load()
    )
    assert df.rdd.getNumPartitions() == 8
    assert df.count() == 500
    assert df.select("event_id").distinct().count() == 500
    # Re-read is bit-identical (pure function of the counter).
    again = (
        spark.read.format("eventgen")
        .option("rows", 500)
        .option("partitions", 3)
        .load()
    )
    assert df.exceptAll(again).count() == 0


def test_custom_datasource_stream_read(spark, tmp_path):
    """Streaming form: O(1) offsets, availableNow drains exactly `rows`."""
    from parquet_compactor_spark.sources.eventgen import EventGenDataSource

    spark.dataSource.register(EventGenDataSource)
    (
        spark.readStream.format("eventgen")
        .option("rows", 300)
        .option("rowsPerBatch", 100)
        .load()
        .writeStream.format("memory")
        .queryName("eventgen_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_gen"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    got = spark.table("eventgen_sink")
    assert got.count() == 300
    assert got.select("event_id").distinct().count() == 300


def test_zorder_tightens_all_clustered_columns(spark, tmp_path):
    """Linear range-clustering by col A leaves col B's per-file ranges
    spanning ~the whole domain; Z-order by (A, B) must tighten BOTH."""
    from parquet_compactor_spark.sources import write_clustered
    from parquet_compactor_spark.sources.io import write_zordered

    df = load(spark, SF_SMOKE, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )

    def avg_span(path, col, domain):
        ranges = _file_ranges(path, col)
        return sum(hi - lo for lo, hi in ranges) / len(ranges) / domain

    p_dom = df.agg(F.max("l_partkey") - F.min("l_partkey")).collect()[0][0]
    s_dom = df.agg(F.max("l_suppkey") - F.min("l_suppkey")).collect()[0][0]

    linear = str(tmp_path / "linear")
    write_clustered(df, linear, cluster_by=["l_partkey"], n_files=16)
    zpath = str(tmp_path / "zorder")
    write_zordered(df, zpath, zorder_by=["l_partkey", "l_suppkey"], n_files=16)

    # Linear: leading column tight, second column ~full-domain per file.
    assert avg_span(linear, "l_partkey", p_dom) < 0.2
    assert avg_span(linear, "l_suppkey", s_dom) > 0.8
    # Z-order: BOTH columns substantially tighter than full domain.
    assert avg_span(zpath, "l_partkey", p_dom) < 0.5
    assert avg_span(zpath, "l_suppkey", s_dom) < 0.5


def test_schema_evolution_merge_read(spark, tmp_path):
    """A lake whose later files carry added columns reads as one unified
    schema under mergeSchema; early rows surface NULLs for new columns."""
    d = str(tmp_path / "evolving")
    spark.range(5).selectExpr("id", "id * 2 AS a").write.parquet(d)
    spark.range(5, 8).selectExpr(
        "id", "id * 2 AS a", "'new' AS b"
    ).write.mode("append").parquet(d)

    df = read_table(spark, d, mergeSchema="true")
    assert set(df.columns) == {"id", "a", "b"}
    assert df.count() == 8
    assert df.filter(F.col("b").isNull()).count() == 5


def test_csv_malformed_rows_permissive_vs_failfast(spark, tmp_path):
    """Dirty input discipline: PERMISSIVE quarantines malformed rows into
    _corrupt_record (the lake never silently drops data), FAILFAST turns
    the same input into a hard error for strict pipelines."""
    p = tmp_path / "dirty.csv"
    p.write_text("id,score\n1,10\n2,notanumber\n3,30\n")
    schema = "id INT, score INT, _corrupt_record STRING"

    ok = read_table(
        spark, str(p), fmt="csv", schema=schema, header="true",
        mode="PERMISSIVE", columnNameOfCorruptRecord="_corrupt_record",
    )
    rows = {r.id: (r.score, r._corrupt_record) for r in ok.collect()}
    assert rows[1] == (10, None) and rows[3] == (30, None)
    corrupt = [r for r in rows.values() if r[1] is not None]
    assert len(corrupt) == 1 and "notanumber" in corrupt[0][1]

    with pytest.raises(Exception):
        read_table(
            spark, str(p), fmt="csv", schema="id INT, score INT",
            header="true", mode="FAILFAST",
        ).collect()


def test_zstd_write_smaller_than_snappy(spark, tmp_path):
    """Codec surface: zstd round-trips and out-compresses snappy on
    repetitive data (the archival-tier choice; snappy stays the default
    for scan-speed parity with the reference)."""
    from pathlib import Path

    df = spark.range(50_000).selectExpr(
        "id", "'abcabcabc' || CAST(id % 7 AS STRING) AS payload"
    ).coalesce(1)
    snappy_dir, zstd_dir = str(tmp_path / "sn"), str(tmp_path / "zs")
    write_table(df, snappy_dir, compression="snappy")
    write_table(df, zstd_dir, compression="zstd")

    size = lambda d: sum(
        f.stat().st_size for f in Path(d).glob("*.parquet")
    )
    assert spark.read.parquet(zstd_dir).count() == 50_000
    assert size(zstd_dir) < size(snappy_dir)


def test_partitioned_join_uses_dynamic_partition_pruning(spark, tmp_path):
    """On a hive-partitioned lake, a join whose dim side filters the
    partition column must prune fact partitions AT RUNTIME (DPP): the
    fact scan's partition filters carry a dynamicpruning subquery fed by
    the dim's broadcast. At 100 TB this is the difference between
    scanning one partition and scanning the lake — pin it so a plan
    regression (e.g. a cast that defeats pruning) fails here."""
    from pyspark.sql import functions as F

    from parquet_compactor_spark.registry import load
    from parquet_compactor_spark.sources.io import write_table

    lake = str(tmp_path / "orders_by_priority")
    orders = load(spark, SF_SMOKE, "orders")
    write_table(orders, lake, partition_by=["o_orderpriority"])

    fact = spark.read.parquet(lake)
    # The dim filter must be on a NON-join column: a predicate on the
    # join key itself propagates to the fact as a static partition
    # filter (no runtime pruning needed), which is the easy case. Here
    # only executing the dim reveals which priorities survive.
    dim = (
        orders.filter(F.col("o_orderkey") % 97 == 0)
        .select("o_orderpriority")
        .distinct()
    )
    joined = fact.join(dim, "o_orderpriority").groupBy("o_orderpriority").count()
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    got = {r.o_orderpriority: r["count"] for r in joined.collect()}
    surviving = {r.o_orderpriority for r in dim.collect()}
    expected = {
        r.o_orderpriority: r["count"]
        for r in orders.groupBy("o_orderpriority").count().collect()
        if r.o_orderpriority in surviving
    }
    assert got == expected


def test_observe_metrics_per_streaming_micro_batch(spark, tmp_path):
    """In streaming, observed metrics surface per micro-batch on the
    query progress — per-batch accounting with zero extra passes."""
    from parquet_compactor_spark.functions.quality import quality_aggs
    from parquet_compactor_spark.registry import load
    from parquet_compactor_spark.streaming.pipeline import read_events_stream

    landing = str(tmp_path / "landing")
    load(spark, SF_SMOKE, "events").coalesce(1).write.parquet(landing)
    stream = read_events_stream(spark, landing).observe(
        "batch_quality", *quality_aggs(["value"])
    )
    q = stream.writeStream.format("noop").trigger(availableNow=True).start()
    q.awaitTermination()
    rows = [
        p["observedMetrics"]["batch_quality"]
        for p in q.recentProgress
        if p.get("observedMetrics")
    ]
    assert rows, "no observed metrics in any progress event"
    total = sum(r["n_rows"] for r in rows)
    assert total == load(spark, SF_SMOKE, "events").count()


def test_jsonl_sink_two_phase_commit(spark, tmp_path):
    """The custom Python DataSource WRITER: per-task tmp files become
    visible only through the driver-side commit rename + _SUCCESS — the
    same write-once/commit-by-rename protocol the compactor implements
    for parquet leaves."""
    import json

    from parquet_compactor_spark.sources.jsonl_sink import JsonlSinkDataSource

    spark.dataSource.register(JsonlSinkDataSource)
    df = load(spark, SF_SMOKE, "nation").select("n_nationkey", "n_name")
    out = str(tmp_path / "sink")
    # Python DataSources accept only Append/Overwrite save modes.
    df.repartition(4).write.format("jsonlsink").mode("append").save(out)

    names = sorted(p.name for p in (tmp_path / "sink").iterdir())
    assert "_SUCCESS" in names
    assert not [n for n in names if n.endswith(".tmp")]  # all committed
    assert len([n for n in names if n.endswith(".jsonl")]) == 4  # one per task

    rows = []
    for p in (tmp_path / "sink").glob("*.jsonl"):
        rows += [json.loads(line) for line in p.read_text().splitlines()]
    assert sorted((r["n_nationkey"], r["n_name"]) for r in rows) == sorted(
        (r.n_nationkey, r.n_name) for r in df.collect()
    )

    # Overwrite mode replaces the committed files atomically-by-protocol,
    # and sweeps STALE crashed-job .tmp litter (age-gated: a fresh .tmp
    # may belong to a concurrent live job and must survive).
    import os as _os
    import time as _time

    stale = tmp_path / "sink" / "part-deadbeef.jsonl.tmp"
    stale.write_text("{}\n")
    old_ts = _time.time() - 7200
    _os.utime(stale, (old_ts, old_ts))
    fresh = tmp_path / "sink" / "part-cafebabe.jsonl.tmp"
    fresh.write_text("{}\n")
    # Overwrite truncates like Spark's file sinks: non-hidden entries a
    # previous job wrote in ANOTHER format go too (r7, same as avro).
    foreign = tmp_path / "sink" / "leftover.parquet"
    foreign.write_bytes(b"PAR1junk")
    subdir = tmp_path / "sink" / "subdir"
    subdir.mkdir()
    (subdir / "old.jsonl").write_text("{}\n")
    hidden = tmp_path / "sink" / "_hidden.marker"
    hidden.write_text("keep")
    df.limit(3).repartition(1).write.format("jsonlsink").mode("overwrite").save(out)
    files = list((tmp_path / "sink").glob("*.jsonl"))
    assert len(files) == 1
    assert len(files[0].read_text().splitlines()) == 3
    assert not stale.exists()
    assert fresh.exists()  # possibly a live concurrent job's staging
    assert not foreign.exists()
    assert not subdir.exists()
    assert hidden.exists()  # other sinks' staging/metadata class


def test_jsonl_sink_abort_leaves_no_committed_files(spark, tmp_path):
    """A failing task aborts the job: no .jsonl output, no _SUCCESS —
    readers requiring the marker see 'nothing happened'."""
    import pytest as _pytest

    from parquet_compactor_spark.sources.jsonl_sink import JsonlSinkDataSource

    spark.dataSource.register(JsonlSinkDataSource)
    out = str(tmp_path / "sink")

    @F.udf("int")
    def boom(x):
        raise RuntimeError("injected task failure")

    df = load(spark, SF_SMOKE, "nation").withColumn("b", boom("n_nationkey"))
    with _pytest.raises(Exception):
        df.write.format("jsonlsink").mode("append").save(out)
    leftover = (
        sorted(p.name for p in (tmp_path / "sink").iterdir())
        if (tmp_path / "sink").exists()
        else []
    )
    assert "_SUCCESS" not in leftover
    assert not [n for n in leftover if n.endswith(".jsonl")]


def test_jsonl_stream_sink_commits_per_epoch(spark, tmp_path):
    """writeStream through the custom Python sink: each micro-batch
    commits its own epoch-tagged files; nothing .tmp survives."""
    import json

    from parquet_compactor_spark.sources.eventgen import EventGenDataSource
    from parquet_compactor_spark.sources.jsonl_sink import JsonlSinkDataSource

    spark.dataSource.register(EventGenDataSource)
    spark.dataSource.register(JsonlSinkDataSource)
    out = tmp_path / "stream_sink"
    q = (
        spark.readStream.format("eventgen")
        .option("rowsPerBatch", "50")
        .load()
        .writeStream.format("jsonlsink")
        .option("path", str(out))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    names = sorted(p.name for p in out.iterdir())
    assert not [n for n in names if n.endswith(".tmp")]
    committed = [n for n in names if n.endswith(".jsonl")]
    assert committed and all(n.startswith("batch-") for n in committed)
    rows = []
    for p in out.glob("*.jsonl"):
        rows += [json.loads(line) for line in p.read_text().splitlines()]
    assert len(rows) == len({r["event_id"] for r in rows})  # no duplicates
    assert len(rows) > 0


def test_avro_sink_distributed_typed_roundtrip(spark, tmp_path):
    """The avro fallback SINK: one container file per partition, committed
    two-phase (tmp → rename + _SUCCESS), and a full-fidelity round trip
    through the fallback reader across the supported type surface —
    nullable primitives, date/timestamp logical types, binary, arrays,
    string-keyed maps, and nested structs."""
    from pyspark.sql import Row

    from parquet_compactor_spark.sources.avro_sink import write_avro_fallback

    df = spark.createDataFrame(
        [
            Row(
                id=i,
                name=None if i % 7 == 0 else f"doc-{i}",
                score=i * 0.25,
                flag=i % 2 == 0,
                d=datetime.date(2024, 1, 1 + i % 28),
                ts=datetime.datetime(2024, 1, 1, 0, 0, 0) + datetime.timedelta(seconds=i),
                blob=bytes([i % 256, (i * 3) % 256]),
                tags=[f"t{i % 3}", f"t{i % 5}"],
                attrs={"a": i, "b": i * 2},
                sub=Row(x=i, y=None if i % 5 == 0 else float(i)),
            )
            for i in range(200)
        ]
    )
    out = str(tmp_path / "sink")
    write_avro_fallback(df.repartition(4), out, mode="append")

    names = sorted(p.name for p in (tmp_path / "sink").iterdir())
    assert "_SUCCESS" in names
    assert not [n for n in names if n.endswith(".tmp")]
    assert len([n for n in names if n.endswith(".avro")]) == 4  # one per task

    back = read_table(spark, out, fmt="avro")
    assert back.schema == df.schema
    got = {r.id: r for r in back.collect()}
    for r in df.collect():
        b = got[r.id]
        assert (b.name, b.score, b.flag, b.d, b.ts) == (r.name, r.score, r.flag, r.d, r.ts)
        assert bytes(b.blob) == bytes(r.blob)
        assert (b.tags, b.attrs, b.sub) == (r.tags, r.attrs, r.sub)


def test_avro_sink_overwrite_and_litter_sweep(spark, tmp_path):
    """Overwrite replaces the prior commit and sweeps STALE crashed-job
    .tmp litter, age-gated so a concurrent live job's fresh staging
    survives — the jsonl sink's protocol, byte format swapped."""
    import os as _os
    import time as _time

    from parquet_compactor_spark.sources.avro_sink import write_avro_fallback

    df = load(spark, SF_SMOKE, "nation").select("n_nationkey", "n_name")
    out = str(tmp_path / "sink")
    write_avro_fallback(df.repartition(3), out, mode="append")
    # Staged names are _-prefixed, so even while present they are
    # invisible to every Spark file listing (readers never see them).
    stale = tmp_path / "sink" / "_part-deadbeef.avro.tmp"
    stale.write_bytes(b"junk")
    old_ts = _time.time() - 7200
    _os.utime(stale, (old_ts, old_ts))
    fresh = tmp_path / "sink" / "_part-cafebabe.avro.tmp"
    fresh.write_bytes(b"junk")

    write_avro_fallback(df.limit(3).repartition(1), out, mode="overwrite")
    files = [p for p in (tmp_path / "sink").iterdir() if p.name.endswith(".avro")]
    assert len(files) == 1
    assert read_table(spark, out, fmt="avro").count() == 3
    assert not stale.exists()
    assert fresh.exists()  # possibly a live concurrent job's staging
    fresh.unlink()


def test_avro_sink_overwrite_truncates_foreign_formats(spark, tmp_path):
    """Overwrite matches spark-avro's directory truncation: non-hidden
    files a previous job wrote in ANOTHER format (jsonl/parquet) go too
    — the *.avro-only sweep used to retain them silently, so a reader
    pointed at the directory saw a mixed-format lake. Hidden entries
    (the sink's own staging class) survive by design."""
    from parquet_compactor_spark.sources.avro_sink import write_avro_fallback

    df = load(spark, SF_SMOKE, "nation").select("n_nationkey", "n_name")
    out = tmp_path / "sink"
    out.mkdir()
    (out / "part-00000.jsonl").write_text('{"a": 1}\n')
    (out / "leftover.parquet").write_bytes(b"PAR1junk")
    (out / "subdir").mkdir()
    (out / "subdir" / "old.avro").write_bytes(b"junk")
    (out / "_hidden.marker").write_text("keep")

    write_avro_fallback(df.limit(3).repartition(1), str(out), mode="overwrite")
    assert not (out / "part-00000.jsonl").exists()
    assert not (out / "leftover.parquet").exists()
    assert not (out / "subdir").exists()
    assert (out / "_hidden.marker").exists()
    assert read_table(spark, str(out), fmt="avro").count() == 3


def test_overwrite_sweep_spares_cross_format_live_staging(spark, tmp_path):
    """An avro overwrite must not delete a concurrent LIVE jsonl job's
    fresh staged .tmp (and vice versa): the shared sweep age-gates ANY
    format's tmp suffix, not just its own — the suffix-scoped gate
    deleted cross-format staging and crashed the other job's commit
    renames. Stale cross-format litter is still reclaimed."""
    import os as _os
    import time as _time

    from parquet_compactor_spark.sources.avro_sink import write_avro_fallback

    df = load(spark, SF_SMOKE, "nation").select("n_nationkey", "n_name")
    out = tmp_path / "sink"
    out.mkdir()
    fresh_jsonl = out / "part-cafebabe.jsonl.tmp"  # live jsonl staging
    fresh_jsonl.write_text("{}\n")
    stale_jsonl = out / "part-deadbeef.jsonl.tmp"  # crashed-job litter
    stale_jsonl.write_text("{}\n")
    old_ts = _time.time() - 7200
    _os.utime(stale_jsonl, (old_ts, old_ts))

    write_avro_fallback(df.limit(3).repartition(1), str(out), mode="overwrite")
    assert fresh_jsonl.exists()
    assert not stale_jsonl.exists()


def test_avro_stream_writer_refuses_at_plan_time(spark):
    """The streaming writer applies the SAME plan-time refusals as the
    batch writer (shared _check_plan): invalid names and unsupported
    codecs fail at construction on the driver, never per-task inside
    micro-batches."""
    import pytest as _pytest

    from parquet_compactor_spark.sources.avro_sink import AvroStreamWriter

    ok_schema = load(spark, SF_SMOKE, "nation").select("n_nationkey").schema
    with _pytest.raises(Exception, match="codec"):
        AvroStreamWriter({"path": "/tmp/x", "codec": "zstd"}, ok_schema)
    bad_schema = (
        load(spark, SF_SMOKE, "nation")
        .select(F.col("n_nationkey").alias("my-col"))
        .schema
    )
    with _pytest.raises(Exception, match="not a valid Avro name"):
        AvroStreamWriter({"path": "/tmp/x"}, bad_schema)


def test_avro_sink_refuses_invalid_avro_names_at_plan_time(spark, tmp_path):
    """Column names outside Avro's name grammar ([A-Za-z_][A-Za-z0-9_]*)
    would produce a container file strict readers reject — refused with
    an actionable error BEFORE any task runs, like the DECIMAL refusal."""
    import pytest as _pytest

    from parquet_compactor_spark.sources.avro_sink import avro_schema_of, write_avro_fallback

    df = load(spark, SF_SMOKE, "nation").select(
        F.col("n_nationkey").alias("my-col")
    )
    with _pytest.raises(Exception, match="not a valid Avro name"):
        write_avro_fallback(df, str(tmp_path / "sink"), mode="append")
    with _pytest.raises(Exception, match="not a valid Avro name"):
        avro_schema_of(df.schema, name="2bad")
    # nested struct field names are checked too
    nested = load(spark, SF_SMOKE, "nation").select(
        F.struct(F.col("n_nationkey").alias("ok"), F.col("n_name").alias("2x")).alias("s")
    )
    with _pytest.raises(Exception, match="not a valid Avro name"):
        avro_schema_of(nested.schema)


def test_avro_sink_abort_leaves_no_committed_files(spark, tmp_path):
    """A failing task aborts the job: no .avro output, no _SUCCESS."""
    from parquet_compactor_spark.sources.avro_sink import register

    register(spark)
    out = str(tmp_path / "sink")

    @F.udf("int")
    def boom(x):
        raise RuntimeError("injected task failure")

    df = load(spark, SF_SMOKE, "nation").select(
        "n_nationkey", F.col("n_name").alias("name")
    ).withColumn("b", boom("n_nationkey"))
    with pytest.raises(Exception):
        df.write.format("avrosink").mode("append").save(out)
    leftover = (
        sorted(p.name for p in (tmp_path / "sink").iterdir())
        if (tmp_path / "sink").exists()
        else []
    )
    assert "_SUCCESS" not in leftover
    assert not [n for n in leftover if n.endswith(".avro")]


def test_avro_sink_rolls_files_at_max_records(spark, tmp_path):
    """maxRecordsPerFile is honored, not silently dropped: a 200-row
    single-partition write with a 60-row cap commits ceil(200/60)=4
    container files, and an empty frame still commits (_SUCCESS +
    schema-bearing header-only file) instead of crashing at the
    zero-task/zero-row edge."""
    from parquet_compactor_spark.sources.avro_fallback import iter_file_records
    from parquet_compactor_spark.sources.avro_sink import write_avro_fallback

    df = spark.range(200).selectExpr("id", "CAST(id AS STRING) AS s")
    out = str(tmp_path / "rolled")
    write_avro_fallback(df.coalesce(1), out, mode="append", max_records_per_file=60)
    files = sorted((tmp_path / "rolled").glob("*.avro"))
    assert len(files) == 4
    counts = sorted(len(list(iter_file_records(p.read_bytes()))) for p in files)
    assert counts == [20, 60, 60, 60]
    assert read_table(spark, out, fmt="avro").count() == 200

    empty = df.filter("id < 0")
    out2 = str(tmp_path / "empty")
    write_avro_fallback(empty, out2, mode="overwrite")
    names = sorted(p.name for p in (tmp_path / "empty").iterdir())
    assert "_SUCCESS" in names
    assert read_table(spark, out2, fmt="avro").count() == 0


def test_avro_sink_refuses_decimal_at_plan_time(spark, tmp_path):
    """Unsupported schemas fail on the DRIVER before any task launches
    (the fallback reader has no decimal logical type)."""
    from parquet_compactor_spark.sources.avro_sink import register

    register(spark)
    df = spark.sql("SELECT CAST(1.5 AS DECIMAL(10,2)) AS amount")
    with pytest.raises(Exception, match="(?i)decimal"):
        df.write.format("avrosink").mode("append").save(str(tmp_path / "sink"))


def test_avro_sink_partitionby_refused_actionably(spark, tmp_path):
    from parquet_compactor_spark.sources.io import write_table as _wt

    df = load(spark, SF_SMOKE, "nation").select("n_nationkey", "n_name", "n_regionkey")
    try:
        _wt(df, str(tmp_path / "p"), fmt="avro", partition_by=["n_regionkey"])
    except NotImplementedError as e:
        assert "partitionBy" in str(e)
    else:
        pytest.skip("spark-avro present: package path handles partitionBy")


def test_avro_stream_sink_commits_per_epoch(spark, tmp_path):
    """writeStream through the avro fallback sink: epoch-tagged commits,
    no .tmp survivors, decodable output with no duplicate events."""
    from parquet_compactor_spark.sources.avro_sink import register
    from parquet_compactor_spark.sources.eventgen import EventGenDataSource

    spark.dataSource.register(EventGenDataSource)
    register(spark)
    out = tmp_path / "stream_sink"
    q = (
        spark.readStream.format("eventgen")
        .option("rowsPerBatch", "50")
        .load()
        .writeStream.format("avrosink")
        .option("path", str(out))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    names = sorted(p.name for p in out.iterdir())
    assert not [n for n in names if n.endswith(".tmp")]
    committed = [n for n in names if n.endswith(".avro")]
    assert committed and all(n.startswith("batch-") for n in committed)
    from parquet_compactor_spark.sources.avro_fallback import iter_file_records

    rows = []
    for p in out.glob("*.avro"):
        rows += list(iter_file_records(p.read_bytes()))
    assert rows and len(rows) == len({r["event_id"] for r in rows})


def test_avro_fallback_sniff_matches_binaryfile_file_set(spark, tmp_path):
    """The driver-side schema sniff honors pathGlobFilter and non-recursive
    semantics, so the session schema always comes from a file the
    executors actually decode."""
    from parquet_compactor_spark.sources.avro_fallback import write_avro_records

    other_schema = {
        "type": "record",
        "name": "Other",
        "fields": [{"name": "zzz", "type": "string"}],
    }
    # Alphabetically FIRST file has a different schema and a non-matching
    # extension; a naive sniff would pick it.
    write_avro_records(str(tmp_path / "aaa.avro.bak"), other_schema, [{"zzz": "x"}])
    # A nested file that non-recursive binaryFile will not read.
    (tmp_path / "sub").mkdir()
    write_avro_records(str(tmp_path / "sub" / "deep.avro"), other_schema, [{"zzz": "y"}])
    recs = _avro_fixture_records(30)
    write_avro_records(str(tmp_path / "data.avro"), _AVRO_SCHEMA, recs)

    df = read_table(spark, str(tmp_path), fmt="avro", pathGlobFilter="*.avro")
    assert df.columns[0] == "id"
    assert df.count() == len(recs)


def test_avro_fallback_recursive_record_decodes_but_has_no_spark_type(tmp_path):
    """Recursive record schemas are legal Avro: the pure-Python decoder
    handles them (nested dicts), while Spark DDL production — the only
    part with no finite representation — rejects them with the cause."""
    from parquet_compactor_spark.sources.avro_fallback import (
        iter_file_records,
        spark_schema_ddl,
        write_avro_records,
    )

    rec = {
        "type": "record",
        "name": "Node",
        "fields": [
            {"name": "v", "type": "int"},
            {"name": "kids", "type": {"type": "array", "items": "Node"}},
        ],
    }
    tree = {"v": 1, "kids": [{"v": 2, "kids": []}, {"v": 3, "kids": [{"v": 4, "kids": []}]}]}
    p = tmp_path / "tree.avro"
    write_avro_records(str(p), rec, [tree])
    assert list(iter_file_records(p.read_bytes())) == [tree]
    with pytest.raises(NotImplementedError, match="recursive"):
        spark_schema_ddl(rec)


def test_avro_fallback_sniff_skips_hidden_directories_recursive(spark, tmp_path):
    """With recursiveFileLookup, Spark prunes whole hidden directories;
    the sniff must too, or the session schema could come from a file the
    executors never decode."""
    from parquet_compactor_spark.sources.avro_fallback import write_avro_records

    other = {"type": "record", "name": "O", "fields": [{"name": "zzz", "type": "string"}]}
    (tmp_path / ".trash").mkdir()
    write_avro_records(str(tmp_path / ".trash" / "aaa.avro"), other, [{"zzz": "x"}])
    (tmp_path / "sub").mkdir()
    recs = _avro_fixture_records(20)
    write_avro_records(str(tmp_path / "sub" / "data.avro"), _AVRO_SCHEMA, recs)
    df = read_table(spark, str(tmp_path), fmt="avro", recursiveFileLookup="true")
    assert df.columns[0] == "id"
    assert df.count() == len(recs)


def test_avro_fallback_rejects_hadoop_only_glob_syntax(spark, tmp_path):
    from parquet_compactor_spark.sources.avro_fallback import write_avro_records

    write_avro_records(str(tmp_path / "a.avro"), _AVRO_SCHEMA, _avro_fixture_records(3))
    with pytest.raises(NotImplementedError, match="pathGlobFilter"):
        read_table(spark, str(tmp_path), fmt="avro", pathGlobFilter="*.{avro,avr}")


@given(
    st.lists(
        st.fixed_dictionaries(
            {
                "id": st.integers(min_value=-(2**62), max_value=2**62),
                "name": st.one_of(st.none(), st.text(max_size=40)),
                "score": st.floats(allow_nan=False, allow_infinity=False, width=64),
                "tags": st.lists(st.text(max_size=8), max_size=5),
                "attrs": st.dictionaries(
                    st.text(min_size=1, max_size=6),
                    st.integers(min_value=-(2**31), max_value=2**31 - 1),
                    max_size=4,
                ),
                "raw": st.binary(max_size=16),
            }
        ),
        max_size=50,
    ),
    st.sampled_from(["null", "deflate"]),
)
@settings(max_examples=60, deadline=None)
def test_avro_codec_roundtrip_property(records, codec):
    """Property: write_avro_records → iter_file_records is the identity
    for any record set over the supported type algebra (both codecs).
    Pure local codec test — no Spark session involved."""
    import tempfile

    from parquet_compactor_spark.sources.avro_fallback import (
        iter_file_records,
        write_avro_records,
    )

    schema = {
        "type": "record",
        "name": "R",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "name", "type": ["null", "string"]},
            {"name": "score", "type": "double"},
            {"name": "tags", "type": {"type": "array", "items": "string"}},
            {"name": "attrs", "type": {"type": "map", "values": "int"}},
            {"name": "raw", "type": "bytes"},
        ],
    }
    with tempfile.NamedTemporaryFile(suffix=".avro") as fh:
        write_avro_records(fh.name, schema, records, codec=codec)
        back = list(iter_file_records(open(fh.name, "rb").read()))
    assert back == records


def test_avro_fallback_namespace_qualified_references(tmp_path):
    """avro-tools emits by-fullname references (com.x.Kind); nested
    definitions inherit the enclosing record's namespace — both must
    resolve."""
    from parquet_compactor_spark.sources.avro_fallback import (
        iter_file_records,
        write_avro_records,
    )

    schema = {
        "type": "record",
        "name": "Env",
        "namespace": "com.x",
        "fields": [
            {
                "name": "k1",
                "type": {"type": "enum", "name": "Kind", "symbols": ["A", "B"]},
            },
            {"name": "k2", "type": "com.x.Kind"},  # qualified reference
            {"name": "k3", "type": "Kind"},  # simple reference
        ],
    }
    recs = [{"k1": "A", "k2": "B", "k3": "A"}]
    p = tmp_path / "ns.avro"
    write_avro_records(str(p), schema, recs)
    assert list(iter_file_records(p.read_bytes())) == recs


def test_avro_fallback_simple_name_shadowing_resolves_by_namespace(tmp_path):
    """Two enums named Kind in different namespaces: a bare reference
    resolves against the namespace in effect (spec order), not whichever
    definition compiled last."""
    from parquet_compactor_spark.sources.avro_fallback import (
        iter_file_records,
        write_avro_records,
    )

    schema = {
        "type": "record",
        "name": "Env",
        "namespace": "com.x",
        "fields": [
            {
                "name": "xk",
                "type": {"type": "enum", "name": "Kind", "symbols": ["A", "B"]},
            },
            {
                "name": "sub",
                "type": {
                    "type": "record",
                    "name": "Inner",
                    "namespace": "com.y",
                    "fields": [
                        {
                            "name": "yk",
                            "type": {
                                "type": "enum",
                                "name": "Kind",
                                "symbols": ["P", "Q", "R"],
                            },
                        }
                    ],
                },
            },
            # Bare reference back in com.x scope: MUST be com.x.Kind
            # even though com.y.Kind registered later on the simple key.
            {"name": "xk2", "type": "Kind"},
        ],
    }
    recs = [{"xk": "B", "sub": {"yk": "R"}, "xk2": "A"}]
    p = tmp_path / "shadow.avro"
    write_avro_records(str(p), schema, recs)
    assert list(iter_file_records(p.read_bytes())) == recs


@given(
    st.lists(
        st.fixed_dictionaries(
            {
                "id": st.integers(min_value=-(2**62), max_value=2**62),
                "d": st.one_of(
                    st.none(),
                    st.dates(
                        min_value=datetime.date(1900, 1, 1),
                        max_value=datetime.date(2100, 1, 1),
                    ),
                ),
                "ts": st.one_of(
                    st.none(),
                    st.datetimes(
                        min_value=datetime.datetime(1900, 1, 1),
                        max_value=datetime.datetime(2100, 1, 1),
                    ),
                ),
                "vals": st.lists(
                    st.one_of(
                        st.none(),
                        st.floats(allow_nan=False, allow_infinity=False, width=64),
                    ),
                    max_size=4,
                ),
                "sub": st.one_of(
                    st.none(),
                    st.fixed_dictionaries(
                        {"x": st.one_of(st.none(), st.integers(-(2**31), 2**31 - 1))}
                    ),
                ),
            }
        ),
        max_size=40,
    ),
    st.sampled_from(["null", "deflate"]),
)
@settings(max_examples=50, deadline=None)
def test_avro_sink_schema_and_converters_roundtrip_property(rows, codec):
    """Property: the SINK's pipeline — avro_schema_of over a nested
    nullable Spark schema, the logical-type converters, and the
    block-rolling file writer (block size forced tiny so multi-block
    framing is always exercised) — round-trips through the fallback
    decoder for any value set. Dates/timestamps come back value-exact
    (the converters are the integer inverse of the reader's decoders).
    Pure local test — no Spark session."""
    import io as _io

    from pyspark.sql import types as T

    from parquet_compactor_spark.sources import avro_sink
    from parquet_compactor_spark.sources.avro_fallback import iter_file_records
    from parquet_compactor_spark.sources.avro_sink import (
        _BlockFileWriter,
        _converter,
        avro_schema_of,
    )

    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("d", T.DateType(), True),
            T.StructField("ts", T.TimestampNTZType(), True),
            T.StructField("vals", T.ArrayType(T.DoubleType(), True), False),
            T.StructField(
                "sub",
                T.StructType([T.StructField("x", T.IntegerType(), True)]),
                True,
            ),
        ]
    )
    avro_schema = avro_schema_of(schema)
    convs = [(f.name, _converter(f.dataType)) for f in schema.fields]
    buf = _io.BytesIO()
    w = _BlockFileWriter(buf, avro_schema, codec)
    orig_block = avro_sink._BLOCK_BYTES
    avro_sink._BLOCK_BYTES = 64  # force multi-block framing
    try:
        for r in rows:
            w.append({n: c(r[n]) for n, c in convs})
        w.close()
    finally:
        avro_sink._BLOCK_BYTES = orig_block
    back = list(iter_file_records(buf.getvalue()))
    assert len(back) == len(rows)
    for r, b in zip(rows, back):
        assert b["id"] == r["id"]
        assert b["d"] == r["d"]
        assert b["ts"] == r["ts"]
        assert b["vals"] == r["vals"]
        assert b["sub"] == r["sub"]


def test_jsonl_zero_task_overwrite_creates_directory(spark, tmp_path):
    """A zero-task overwrite (empty frame) reaches commit without any
    task having created the output directory: the sweep's listdir and
    the _SUCCESS write need the makedirs guard (round-7 re-review pin;
    the avro sink had it, the jsonl sink did not)."""
    from parquet_compactor_spark.sources.jsonl_sink import JsonlSinkDataSource

    spark.dataSource.register(JsonlSinkDataSource)
    out = tmp_path / "deep" / "nonexistent" / "sink"
    spark.range(0).write.format("jsonlsink").mode("overwrite").save(str(out))
    assert (out / "_SUCCESS").exists()


def test_overwrite_sweep_reclaims_stale_tmp_directory(spark, tmp_path):
    """A stale DIRECTORY named *.tmp (hadoop/fsspec-style staging) is
    crashed-job litter: the shared sweep must rmtree it, not crash the
    commit with IsADirectoryError (round-7 re-review pin)."""
    import os as _os
    import time as _time

    from parquet_compactor_spark.sources.avro_sink import write_avro_fallback

    df = load(spark, SF_SMOKE, "nation").select("n_nationkey", "n_name")
    out = tmp_path / "sink"
    out.mkdir()
    stale_dir = out / "staging.tmp"
    stale_dir.mkdir()
    (stale_dir / "junk").write_bytes(b"x")
    old_ts = _time.time() - 7200
    _os.utime(stale_dir, (old_ts, old_ts))

    write_avro_fallback(df.limit(3).repartition(1), str(out), mode="overwrite")
    assert not stale_dir.exists()
