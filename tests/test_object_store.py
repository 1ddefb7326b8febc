"""End-to-end compaction against an emulated object store (``mocks3://``).

The real seam this covers: every other compactor test runs on ``file://``,
where rename is a free metadata move. Object stores have no rename — S3's
"rename" is a server-side COPY of every byte plus a delete. The Java test
FileSystem (tests/javasupport/MockObjectStoreFileSystem.java, compiled by
conftest and loaded into the shared session's JVM) reproduces exactly that
cost model on local disk and counts every byte a rename physically copies,
so these tests can MEASURE what a pass rewrites: every output is written
in place, so the only copies are the FileOutputCommitter's own task/job
renames (which the magic committer removes on real s3a).

Reference behavior being matched: the reference writes its merged output
once, under its final name, straight to S3 (parquet_compactor.py:161-171).
"""

from __future__ import annotations

from pathlib import Path

import pyarrow.parquet as pq
import pytest

from parquet_compactor_spark.compactor import CompactionConfig, LakeCompactor
from tests.conftest import MOCKS3_ROOT, build_mocks3_jar
from parquet_compactor_spark.compactor.report import lake_files
from tests.test_compactor import (
    NOW,
    assert_missing_path_lists_empty,
    assert_walk_matches_recursive_listing,
    read_ids,
    write_columns,
    write_small_parquet,
)

pytestmark = pytest.mark.skipif(
    build_mocks3_jar() is None,
    reason="javac/jar toolchain or hadoop-client-api unavailable",
)

LEAF_REL = "data/parquet/acct1/source=OCP/year=2024/month=01"


def _phys(bucket: str) -> Path:
    return Path(MOCKS3_ROOT) / bucket


def _build_lake(bucket: str, n_files: int = 8) -> str:
    """8 small parquet files in one leaf, physically under MOCKS3_ROOT —
    identical layout to the file:// lake fixture, addressed via mocks3://.

    MOCKS3_ROOT persists across pytest invocations (it lives next to the
    compiled jar), so the bucket is recreated from scratch: a previous
    run's compacted outputs would otherwise leak into this run's listing
    and shift the expected file counts."""
    import shutil

    shutil.rmtree(_phys(bucket), ignore_errors=True)
    leaf = _phys(bucket) / LEAF_REL
    for i in range(n_files):
        write_small_parquet(leaf / f"in-{i}.parquet", start=i * 100)
    return f"mocks3://{bucket}/data/parquet"


def _renamed_bytes(spark) -> int:
    return int(
        spark._jvm.sparkgraft.testfs.MockObjectStoreFileSystem.renamedBytes()
    )


def _list_calls(spark) -> int:
    return int(spark._jvm.sparkgraft.testfs.MockObjectStoreFileSystem.listCalls())


def _out_bytes(bucket: str) -> int:
    leaf = _phys(bucket) / LEAF_REL
    return sum(f.stat().st_size for f in leaf.glob("*.parquet"))


def test_mocks3_walk_matches_recursive_listing(spark):
    """Through the mocks3 scheme the walk sees the files the recursive
    listing sees, with the same sizes and raw spelling: a space and a
    literal ``%41`` are not URI escapes."""
    from parquet_compactor_spark.compactor.fs import HadoopFS

    root = _build_lake("listing")
    leaf = _phys("listing") / LEAF_REL
    write_small_parquet(leaf / "with space.parquet", rows=5)
    write_small_parquet(leaf / "e%41 b.parquet", rows=5)
    walked = assert_walk_matches_recursive_listing(HadoopFS(spark, root), root)
    names = {f.path.rsplit("/", 1)[-1] for ls in walked.values() for f in ls}
    assert {"with space.parquet", "e%41 b.parquet"} <= names
    assert len(walked) == 5 and len(names) == 14


def test_mocks3_list_requests_per_pass(spark):
    """Every LIST request of a pass over one leaf is counted, those of
    Spark's own file index and committer included. The no-op pass makes
    one per walked directory (the root, three partition levels, the
    leaf); the merging pass adds one for the merge's outputs and those of
    its Spark write."""
    root = _build_lake("listcount")
    lc = LakeCompactor(spark, root, CompactionConfig(now=NOW))
    t0 = _list_calls(spark)
    assert list(lc.compact().values()) == ["compacted_8_files"]
    merging = _list_calls(spark) - t0
    t0 = _list_calls(spark)
    assert list(lc.compact().values()) == ["nothing_to_compact"]
    assert (merging, _list_calls(spark) - t0) == (16, 5)


def test_missing_prefix_lists_empty_on_object_store(spark):
    """A mocks3:// prefix that does not exist lists empty in each py4j
    mode, from one listing call and no ``exists`` probe (an object store
    pays a HEAD and a LIST for one)."""
    from parquet_compactor_spark.compactor.fs import HadoopFS

    root = _build_lake("missing", n_files=1)
    assert_missing_path_lists_empty(HadoopFS(spark, root), f"{root}/no/such/prefix")


def test_count_rows_matches_footers_on_object_store(spark):
    """The planner's footer reads go through the Hadoop FileSystem, so
    they count mocks3:// files exactly, keyed by the listing's raw path —
    including a name that needs URI escaping and an empty file."""
    root = _build_lake("rowcount", n_files=3)
    leaf = _phys("rowcount") / LEAF_REL
    write_small_parquet(leaf / "c%20d e.parquet", rows=17)
    write_small_parquet(leaf / "empty.parquet", rows=0)
    lc = LakeCompactor(spark, root, CompactionConfig(now=NOW))
    paths = [f.path for f in lake_files(spark, root)]
    footers, unreadable = lc._read_footers(paths)
    assert unreadable == []
    by_name = {p.rsplit("/", 1)[-1]: footers[p].rows for p in paths}
    assert by_name == {
        f.name: pq.ParquetFile(f).metadata.num_rows for f in leaf.glob("*.parquet")
    }
    assert by_name["c%20d e.parquet"] == 17 and by_name["empty.parquet"] == 0


def test_direct_commit_second_run_is_noop_on_object_store(spark):
    """Manifest-based idempotence holds across the mocks3 scheme: the
    second run must not rewrite (or re-copy) anything."""
    root = _build_lake("idem")
    cfg = CompactionConfig(now=NOW, direct_commit=True)
    LakeCompactor(spark, root, cfg).compact()
    t0 = _renamed_bytes(spark)
    outcomes = LakeCompactor(spark, root, cfg).compact()
    assert _renamed_bytes(spark) - t0 == 0
    assert list(outcomes.values()) == ["nothing_to_compact"]


def test_commit_mode_dispatches_by_scheme(spark):
    """Every scheme gets the one in-place commit: a default-config pass on
    mocks3 writes its output under the merge's ``merged-`` basename,
    records it in the sidecar, and copies no data bytes through engine
    renames."""
    root = _build_lake("schemedispatch")
    leaf = _phys("schemedispatch") / LEAF_REL
    before = read_ids(leaf)
    t0 = _renamed_bytes(spark)
    outcomes = LakeCompactor(spark, root, CompactionConfig(now=NOW)).compact()
    copied = _renamed_bytes(spark) - t0
    assert list(outcomes.values()) == ["compacted_8_files"]
    (output,) = leaf.glob("*.parquet")
    assert output.name.startswith("merged-")
    assert (leaf / "_compacted.manifest").exists()
    assert read_ids(leaf) == before
    # No engine-side data renames: only the FileOutputCommitter's own
    # task/job renames remain. They copy the output ~twice (plus marker
    # and sidecar metadata); an engine rename would add a third
    # output-sized copy.
    out = _out_bytes("schemedispatch")
    assert copied <= 2 * out + 8192, (copied, out)


def test_drifted_leaf_merges_by_name_on_object_store(spark):
    """A mocks3:// leaf whose files differ by an added column merges by
    name, its schemas read from footers through the Hadoop FileSystem:
    every column and row is kept, and the column is null in the rows of
    the files that lack it."""
    root = _build_lake("schema-drift-bucket", n_files=2)
    leaf = _phys("schema-drift-bucket") / LEAF_REL
    write_columns(leaf / "in-extra.parquet", id=[900, 901], val=[1.0, 2.0], extra=["x", "y"])
    before = read_ids(leaf)
    outcomes = LakeCompactor(spark, root, CompactionConfig(now=NOW)).compact()
    assert list(outcomes.values()) == ["compacted_3_files"]
    assert read_ids(leaf) == before
    (output,) = leaf.glob("*.parquet")
    merged = pq.read_table(output)
    assert set(merged.column_names) == {"id", "val", "extra"}
    extra = dict(zip(merged.column("id").to_pylist(), merged.column("extra").to_pylist()))
    assert extra == {**dict.fromkeys(range(200)), 900: "x", 901: "y"}


def test_footer_reports_match_file_twin_on_object_store(spark, tmp_path):
    """The row-group and schema-drift reports read footers through the
    Hadoop FileSystem, so a mocks3:// lake reports the same rows as its
    file:// twin, every footer read."""
    import shutil

    import pyarrow as pa

    from parquet_compactor_spark.compactor.report import rowgroup_report, schema_drift_report

    root = _build_lake("footer-reports", n_files=3)
    leaf = _phys("footer-reports") / LEAF_REL
    pq.write_table(pa.table({"id": list(range(50)), "val": [0.5] * 50}), leaf / "rgs.parquet", row_group_size=10)
    write_columns(leaf / "in-extra.parquet", id=[900], val=[1.0], extra=["x"])
    twin = tmp_path / "twin"
    shutil.copytree(_phys("footer-reports"), twin)

    def rows(report, lake_root: str, prefix: str) -> list[dict]:
        out = [r.asDict() for r in report(spark, lake_root).collect()]
        for r in out:
            r["leaf"] = r["leaf"][r["leaf"].index(prefix) + len(prefix):]
        return sorted(out, key=lambda r: r["leaf"])

    for report in (rowgroup_report, schema_drift_report):
        on_store = rows(report, root, "mocks3://footer-reports/")
        assert on_store == rows(report, f"file://{twin}/data/parquet", f"{twin}/")
        assert [r["error_files"] for r in on_store] == [0]
    rg = rows(rowgroup_report, root, "mocks3://footer-reports/")[0]
    assert (rg["n_files"], rg["n_row_groups"], rg["n_rows"]) == (5, 9, 351)
    drift = rows(schema_drift_report, root, "mocks3://footer-reports/")[0]
    assert (drift["drifted_files"], drift["drift_columns"]) == (1, "extra")
