"""Compaction-core tests: the reference's file-level semantics (FIXTURES.md §B).

Local filesystem stands in for S3 — the HadoopFS code path is identical.
Pure decision logic is tested without Spark; end-to-end merges with it.
"""

from __future__ import annotations

import os
import shutil
import time
from collections import Counter
from datetime import datetime, timedelta, timezone
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from parquet_compactor_spark.compactor import (
    CompactionConfig,
    FileMeta,
    LakeCompactor,
    determine_base_file_name,
    filter_compacted,
    should_skip_compacting,
)
from parquet_compactor_spark.compactor.core import Sidecar
from parquet_compactor_spark.compactor.report import lake_files

NOW = datetime(2024, 6, 15, 12, 0, 0, tzinfo=timezone.utc)
OLD = NOW - timedelta(days=10)
CFG = CompactionConfig(now=NOW)


def write_table(path: Path, table: pa.Table, mtime: datetime = OLD) -> None:
    """One parquet file holding ``table``, last modified at ``mtime``."""
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, path)
    ts = mtime.timestamp()
    os.utime(path, (ts, ts))


def write_columns(path: Path, mtime: datetime = OLD, **columns) -> None:
    """One parquet file holding ``columns``, last modified at ``mtime``."""
    write_table(path, pa.table(columns), mtime)


def write_small_parquet(path: Path, start: int = 0, rows: int = 100, mtime: datetime = OLD):
    write_columns(
        path, mtime, id=list(range(start, start + rows)), val=[float(i) for i in range(rows)]
    )


def read_ids(leaf: Path) -> list[int]:
    ids = []
    for f in sorted(leaf.glob("*.parquet")):
        ids.extend(pq.read_table(f).column("id").to_pylist())
    return sorted(ids)


#: Spark's suffix on a merge output: ``-<part>-<task uuid>-c<chunk>``.
TASK_SUFFIX = r"-[0-9]{5}-[0-9a-f-]{36}-c[0-9]{3}\.snappy\.parquet"
#: A non-GCP merge output: ``merged-<32 hex token>`` plus the task suffix.
OUTPUT_RE = r"merged-([0-9a-f]{32})" + TASK_SUFFIX


def sidecar(spark, leaf: Path) -> Sidecar:
    """The leaf's ``_compacted.manifest`` as the compactor reads it."""
    return LakeCompactor(spark, str(leaf))._read_sidecar(str(leaf) + "/")


# --------------------------------------------------------------------------
# Pure decision logic (no Spark)
# --------------------------------------------------------------------------


def test_base_file_name():
    assert determine_base_file_name("s3://b/data/parquet/a/source=AWS/year=2024/") == "AWS"
    assert determine_base_file_name("/lake/acct/source=my-src/month=01/") == "my-src"
    # Fallback when no source= segment (parquet_compactor.py:240-241).
    assert determine_base_file_name("/lake/acct/raw/") == "data"


def test_should_skip_current_month_for_volatile_sources():
    assert should_skip_compacting("/l/source=AWS/year=2024/month=06/", CFG)
    assert should_skip_compacting("/l/source=Azure/year=2024/month=06/", CFG)
    # Substring match anywhere in the path, as in the reference (:256-259).
    assert should_skip_compacting("/l/AWS/year=2024/month=06/", CFG)
    # Wrong month/year or non-volatile source → compact.
    assert not should_skip_compacting("/l/source=AWS/year=2024/month=05/", CFG)
    assert not should_skip_compacting("/l/source=AWS/year=2023/month=06/", CFG)
    assert not should_skip_compacting("/l/source=GCP/year=2024/month=06/", CFG)


def _meta(path: str, days_old: float, size: int = 1000) -> FileMeta:
    return FileMeta(path=path, size=size, modified=NOW - timedelta(days=days_old))


def test_filter_compacted_semantics():
    base = "AWS"
    files = [
        # two prior compaction outputs: only the NEWER one is re-merged
        _meta("/l/AWS_" + "a" * 32 + ".parquet", days_old=20),
        _meta("/l/AWS_" + "b" * 32 + ".parquet", days_old=8),
        # numbered convention also counts as compacted (:280)
        _meta("/l/AWS_123.parquet", days_old=30),
        # new files: old enough → included; fresh → held back (:286-289)
        _meta("/l/part-001.parquet", days_old=6),
        _meta("/l/part-002.parquet", days_old=0.5),
    ]
    result = filter_compacted(base, files, CFG)
    assert result == ["/l/AWS_" + "b" * 32 + ".parquet", "/l/part-001.parquet"]


def test_filter_compacted_no_prior():
    files = [_meta("/l/x.parquet", 6), _meta("/l/y.parquet", 7)]
    assert filter_compacted("AWS", files, CFG) == ["/l/x.parquet", "/l/y.parquet"]


def test_filter_compacted_property_invariants():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @st.composite
    def file_lists(draw):
        n = draw(st.integers(0, 20))
        files = []
        for i in range(n):
            kind = draw(st.sampled_from(["new", "hex", "num"]))
            name = {
                "new": f"part-{i}.parquet",
                "hex": "AWS_" + format(i, "032x") + ".parquet",
                "num": f"AWS_{i}.parquet",
            }[kind]
            age = draw(st.floats(0, 30))
            files.append(_meta(f"/l/{name}", days_old=age))
        return files

    @given(file_lists())
    @settings(max_examples=200, deadline=None)
    def check(files):
        result = filter_compacted("AWS", files, CFG)
        by_path = {f.path: f for f in files}
        prior = [f for f in files if "/AWS_" in f.path]
        new = [p for p in result if "/AWS_" not in p]
        # At most one prior compacted output is re-merged — the newest.
        included_prior = [p for p in result if "/AWS_" in p]
        assert len(included_prior) <= 1
        if prior:
            assert included_prior == [max(prior, key=lambda f: f.modified).path]
            assert result[0] == included_prior[0]  # and it leads the list
        # No fresh file (inside the hold-back window) is ever included.
        for p in new:
            assert by_path[p].modified.date() < (
                CFG.utcnow() - __import__("datetime").timedelta(days=5)
            ).date()

    check()


def test_filter_compacted_gcp_property_invariants():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from parquet_compactor_spark.compactor import filter_compacted_gcp

    DATES = ["2024-01-10", "2024-01-11", "2024-01-12"]

    @st.composite
    def gcp_file_lists(draw):
        n = draw(st.integers(0, 20))
        files = []
        for i in range(n):
            date = draw(st.sampled_from(DATES))
            if draw(st.booleans()):  # prior compacted output
                name = f"202401_{date}_{format(i, '032x')}.parquet"
            else:  # new raw file
                name = f"202401_{date}_{i}raw.parquet"
            files.append(_meta(f"/l/{name}", days_old=draw(st.floats(0, 30))))
        return files

    @given(gcp_file_lists())
    @settings(max_examples=200, deadline=None)
    def check(files):
        from parquet_compactor_spark.compactor.core import GCP_PRIOR_RE

        result = filter_compacted_gcp(files, CFG)
        by_path = {f.path: f for f in files}
        assert len(result) == len(set(result))
        assert set(result) <= set(by_path)
        priors = [f for f in files if GCP_PRIOR_RE.search(f.path)]
        new_included = [p for p in result if not GCP_PRIOR_RE.search(p)]
        # New files obey the hold-back, exactly as the non-GCP filter.
        for p in new_included:
            assert by_path[p].modified.date() < (
                CFG.utcnow() - timedelta(days=5)
            ).date()
        # A prior appears iff its date has new files to merge, and then
        # only the newest prior OF THAT DATE appears.
        for date in DATES:
            date_priors = [f for f in priors if date in f.path]
            included = [p for p in result if GCP_PRIOR_RE.search(p) and date in p]
            if date_priors and any(date in p for p in new_included):
                assert included == [
                    max(date_priors, key=lambda f: f.modified).path
                ]
            else:
                assert included == []

    check()


def test_filter_compacted_hold_back_is_date_granular():
    # Exactly at the boundary date → NOT included (strict <, date compare).
    boundary = FileMeta(
        path="/l/z.parquet",
        size=10,
        modified=(NOW - timedelta(days=5)).replace(hour=0, minute=0),
    )
    assert filter_compacted("AWS", [boundary], CFG) == []


# --------------------------------------------------------------------------
# End-to-end compaction (Spark)
# --------------------------------------------------------------------------


@pytest.fixture()
def lake(tmp_path):
    return tmp_path / "data" / "parquet"


def compactor(spark, lake: Path) -> LakeCompactor:
    return LakeCompactor(spark, str(lake), CompactionConfig(now=NOW))


def test_many_small_merged_and_originals_deleted(spark, lake):
    leaf = lake / "acct1" / "source=OCP" / "year=2024" / "month=01"
    for i in range(8):
        write_small_parquet(leaf / f"in-{i}.parquet", start=i * 100)
    before = read_ids(leaf)

    outcomes = compactor(spark, lake).compact()
    assert list(outcomes.values()) == ["compacted_8_files"]

    outputs = list(leaf.glob("*.parquet"))
    assert len(outputs) == 1  # few KB in → one target-size file out
    # Written in place under the merge's token; the sidecar marks it.
    import re

    assert re.fullmatch(OUTPUT_RE, outputs[0].name)
    assert sidecar(spark, leaf) == Sidecar(frozenset({outputs[0].name}))
    assert read_ids(leaf) == before  # row multiset preserved


def test_idempotence_second_run_noop(spark, lake):
    leaf = lake / "acct1" / "source=OCP" / "year=2024" / "month=01"
    for i in range(4):
        write_small_parquet(leaf / f"in-{i}.parquet", start=i * 100)
    c = compactor(spark, lake)
    c.compact()
    first = {p.name for p in leaf.glob("*.parquet")}
    outcomes = c.compact()
    assert list(outcomes.values()) == ["nothing_to_compact"]
    assert {p.name for p in leaf.glob("*.parquet")} == first


def test_already_big_file_excluded(spark, lake):
    leaf = lake / "acct1" / "source=OCP" / "year=2024" / "month=02"
    cfg = CompactionConfig(now=NOW, target_file_size_gb=3e-6)  # ~3.2 KB threshold
    for i in range(3):
        write_small_parquet(leaf / f"small-{i}.parquet", start=i * 10, rows=10)
    write_small_parquet(leaf / "big.parquet", start=1000, rows=5000)  # > threshold

    c = LakeCompactor(spark, str(lake), cfg)
    c.compact()
    names = {p.name for p in leaf.glob("*.parquet")}
    assert "big.parquet" in names  # untouched, not merged, not deleted
    assert not any(n.startswith("small-") for n in names)


def test_recompact_only_newest_prior_output(spark, lake):
    leaf = lake / "acct1" / "source=OCP" / "year=2024" / "month=03"
    old_hex, new_hex = "c" * 32, "d" * 32
    write_small_parquet(leaf / f"OCP_{old_hex}.parquet", start=0, mtime=NOW - timedelta(days=20))
    write_small_parquet(leaf / f"OCP_{new_hex}.parquet", start=100, mtime=NOW - timedelta(days=8))
    write_small_parquet(leaf / "new-1.parquet", start=200)
    write_small_parquet(leaf / "new-2.parquet", start=300)

    compactor(spark, lake).compact()
    names = {p.name for p in leaf.glob("*.parquet")}
    # Older compacted output untouched; newest + new files merged into a new one.
    assert f"OCP_{old_hex}.parquet" in names
    assert f"OCP_{new_hex}.parquet" not in names
    assert not any(n.startswith("new-") for n in names)
    merged = [n for n in names if n != f"OCP_{old_hex}.parquet"]
    assert len(merged) == 1
    # Rows from newest prior + new files all present; old output's rows separate.
    assert read_ids(leaf) == sorted(list(range(0, 100)) + list(range(100, 200)) + list(range(200, 300)) + list(range(300, 400)))


def test_fresh_files_held_back(spark, lake):
    leaf = lake / "acct1" / "source=OCP" / "year=2024" / "month=04"
    write_small_parquet(leaf / "f1.parquet", start=0, mtime=NOW - timedelta(days=1))
    write_small_parquet(leaf / "f2.parquet", start=100, mtime=NOW - timedelta(days=2))
    outcomes = compactor(spark, lake).compact()
    assert list(outcomes.values()) == ["nothing_to_compact"]
    assert {p.name for p in leaf.glob("*.parquet")} == {"f1.parquet", "f2.parquet"}


def test_single_file_short_circuit(spark, lake):
    leaf = lake / "acct1" / "source=OCP" / "year=2024" / "month=05"
    write_small_parquet(leaf / "only.parquet")
    outcomes = compactor(spark, lake).compact()
    assert list(outcomes.values()) == ["nothing_to_compact"]
    assert {p.name for p in leaf.glob("*.parquet")} == {"only.parquet"}


def test_skip_current_month_aws(spark, lake):
    leaf = lake / "acct1" / "source=AWS" / "year=2024" / "month=06"
    for i in range(3):
        write_small_parquet(leaf / f"in-{i}.parquet", start=i * 100)
    outcomes = compactor(spark, lake).compact()
    assert list(outcomes.values()) == ["skipped_current_month"]
    assert len(list(leaf.glob("*.parquet"))) == 3


def test_gcp_per_date_grouping(spark, lake):
    leaf = lake / "acct1" / "source=GCP" / "year=2024" / "month=01"
    for d, date in enumerate(["2024-01-10", "2024-01-11"]):
        for i in range(3):
            write_small_parquet(
                leaf / f"202401_{date}_{d}{i}x.parquet", start=(d * 3 + i) * 100
            )
    before = read_ids(leaf)

    outcomes = compactor(spark, lake).compact()
    assert list(outcomes.values()) == ["compacted_6_files"]
    names = sorted(p.name for p in leaf.glob("*.parquet"))
    assert len(names) == 2  # one output per date
    import re

    tokens = set()
    for date, name in zip(["2024-01-10", "2024-01-11"], names):
        m = re.fullmatch(rf"202401_{date}_([0-9a-f]{{32}})" + TASK_SUFFIX, name)
        assert m, name
        tokens.add(m.group(1))
    assert len(tokens) == 1  # one in-flight token covers every date
    assert sidecar(spark, leaf).outputs == set(names)
    assert read_ids(leaf) == before


def test_gcp_recompaction_is_idempotent(spark, lake):
    """Prior {invoice_month}_{date}_<32hex> outputs are recognized, so a
    steady-state GCP leaf is a no-op — an idempotence extension over the
    reference, which re-merges GCP outputs on every run."""
    leaf = lake / "acct1" / "source=GCP" / "year=2024" / "month=01"
    for d, date in enumerate(["2024-01-10", "2024-01-11"]):
        for i in range(3):
            write_small_parquet(
                leaf / f"202401_{date}_{d}{i}x.parquet", start=(d * 3 + i) * 100
            )
    compactor(spark, lake).compact()
    after_first = sorted(p.name for p in leaf.glob("*.parquet"))
    # Aged outputs (past hold-back) must still be treated as compacted.
    for p in leaf.glob("*.parquet"):
        ts = OLD.timestamp()
        os.utime(p, (ts, ts))

    outcomes = compactor(spark, lake).compact()
    assert list(outcomes.values()) == ["nothing_to_compact"]
    assert sorted(p.name for p in leaf.glob("*.parquet")) == after_first


def test_gcp_incremental_merges_new_files_with_dates_prior(spark, lake):
    """New files for one date re-merge with that date's newest prior
    output only; the other date's output is left untouched."""
    leaf = lake / "acct1" / "source=GCP" / "year=2024" / "month=01"
    for d, date in enumerate(["2024-01-10", "2024-01-11"]):
        for i in range(3):
            write_small_parquet(
                leaf / f"202401_{date}_{d}{i}x.parquet", start=(d * 3 + i) * 100
            )
    compactor(spark, lake).compact()
    before = read_ids(leaf)
    for p in leaf.glob("*.parquet"):
        ts = OLD.timestamp()
        os.utime(p, (ts, ts))
    untouched = next(p.name for p in leaf.glob("202401_2024-01-11_*.parquet"))

    write_small_parquet(leaf / "202401_2024-01-10_late0.parquet", start=900)
    outcomes = compactor(spark, lake).compact()
    assert list(outcomes.values()) == ["compacted_2_files"]
    names = sorted(p.name for p in leaf.glob("*.parquet"))
    assert untouched in names  # 01-11 output not rewritten
    assert len(names) == 2
    assert read_ids(leaf) == sorted(before + list(range(900, 1000)))


def test_write_failure_keeps_originals(spark, lake):
    leaf = lake / "acct1" / "source=OCP" / "year=2024" / "month=07"
    for i in range(2):
        write_small_parquet(leaf / f"in-{i}.parquet", start=i * 100)
    corrupt = leaf / "in-corrupt.parquet"
    corrupt.write_bytes(b"this is not parquet")
    ts = OLD.timestamp()
    os.utime(corrupt, (ts, ts))

    outcomes = compactor(spark, lake).compact()
    assert list(outcomes.values()) == ["merge_failed_originals_kept"]
    assert {p.name for p in leaf.glob("*.parquet")} == {
        "in-0.parquet",
        "in-1.parquet",
        "in-corrupt.parquet",
    }


def write_stale_spark_metadata(spark, path: Path, **columns) -> None:
    """A Spark-written ``(id, val)`` file of ids 100 and 101, rewritten by
    pyarrow with ``columns`` appended: pyarrow keeps the footer's stored
    Spark schema, which then names none of the appended columns."""
    spark_dir = path.parent / "_spark_written"
    spark.createDataFrame([(100, 1.0), (101, 2.0)], "id long, val double").coalesce(
        1
    ).write.parquet(str(spark_dir))
    (written,) = spark_dir.glob("*.parquet")
    table = pq.read_table(written)
    for name, values in columns.items():
        table = table.append_column(name, pa.array(values))
    assert b"org.apache.spark.sql.parquet.row.metadata" in table.schema.metadata
    write_table(path, table)
    shutil.rmtree(spark_dir)


@pytest.mark.parametrize(
    "narrow, wide, stale",
    [("a", "b", False), ("b", "a", False), ("a", "b", True)],
    ids=["narrow_first", "wide_first", "stale_spark_metadata"],
)
def test_schema_evolution_merge(spark, lake, narrow, wide, stale):
    """Files whose schemas differ by an added column merge by name under
    the default config, whichever file the listing gives first: every
    column and value is kept, and the added column is null in the rows of
    the file that lacks it. (The reference assumes compatibility; Spark's
    plain inference keeps only the first-listed file's columns.) The
    added column is kept also when the wider file's footer carries a
    stored Spark schema that does not name it."""
    leaf = lake / "acct1" / "source=OCP" / "year=2024" / "month=08"
    write_small_parquet(leaf / f"{narrow}.parquet", start=0, rows=10)
    if stale:
        write_stale_spark_metadata(spark, leaf / f"{wide}.parquet", extra=["x", "y"])
    else:
        write_columns(leaf / f"{wide}.parquet", id=[100, 101], val=[1.0, 2.0], extra=["x", "y"])

    lc = compactor(spark, lake)
    assert list(lc.compact().values()) == ["compacted_2_files"]
    merged = pa.concat_tables(pq.read_table(p) for p in leaf.glob("merged-*.parquet"))
    assert set(merged.column_names) == {"id", "val", "extra"}
    extra = dict(zip(merged.column("id").to_pylist(), merged.column("extra").to_pylist()))
    assert extra == {**dict.fromkeys(range(10)), 100: "x", 101: "y"}
    assert list(lc.compact().values()) == ["nothing_to_compact"]


def test_drifted_leaf_merges_by_name_beside_uniform_leaf(spark, lake):
    """In one pass a leaf whose files differ by an added column and a
    uniform leaf both compact: the drifted leaf keeps every row and the
    added column, and the uniform leaf's output keeps its two columns."""
    drifty = lake / "acct1" / "source=AWS" / "year=2024" / "month=01"
    write_small_parquet(drifty / "in-0.parquet", start=0)
    write_columns(drifty / "in-1.parquet", id=list(range(100, 110)),
                  val=[float(i) for i in range(10)], extra=["x"] * 10)
    clean = lake / "acct1" / "source=OCP" / "year=2024" / "month=01"
    for i in range(2):
        write_small_parquet(clean / f"in-{i}.parquet", start=i * 100)

    outcomes = compactor(spark, lake).compact()
    drift_key = next(k for k in outcomes if "source=AWS" in k)
    clean_key = next(k for k in outcomes if "source=OCP" in k)
    assert outcomes[drift_key] == "compacted_2_files"
    assert outcomes[clean_key] == "compacted_2_files"
    assert read_ids(drifty) == list(range(110))
    assert read_ids(clean) == list(range(200))
    merged = pa.concat_tables(pq.read_table(p) for p in drifty.glob("merged-*.parquet"))
    assert set(merged.column_names) == {"id", "val", "extra"}
    extra = dict(zip(merged.column("id").to_pylist(), merged.column("extra").to_pylist()))
    assert extra == {**dict.fromkeys(range(100)), **dict.fromkeys(range(100, 110), "x")}
    (clean_out,) = clean.glob("merged-*.parquet")
    assert pq.read_schema(clean_out).names == ["id", "val"]


def _type_conflict(leaf: Path) -> None:
    write_small_parquet(leaf / "a.parquet", start=0, rows=10)
    write_columns(leaf / "b.parquet", id=[100, 101], val=["1.0", "2.0"])


def _nanosecond_timestamps(leaf: Path) -> None:
    for i in range(3):
        ts = pa.array([1_700_000_000_123_456_789 + i], pa.timestamp("ns"))
        write_columns(leaf / f"in-{i}.parquet", id=[i], ts=ts)


@pytest.mark.parametrize(
    "write, message",
    [
        (_type_conflict, "compaction schema merge failed"),
        (_nanosecond_timestamps, "in-0.parquet: column ts is TIMESTAMP(NANOS)"),
    ],
    ids=["type_conflict", "nanosecond_timestamps"],
)
def test_unmergeable_types_keep_originals(spark, lake, capsys, write, message):
    """A leaf whose columns a merge would not keep does not merge: files
    that disagree on a column's type, or a TIMESTAMP(NANOS) column, which
    Spark reads only as a plain integer (the session's nanosAsLong), so a
    merge would write integers in place of timestamps and then delete the
    originals. Planning refuses the leaf, on this pass and the next,
    before any write runs or any token is written, naming why, with the
    originals byte-identical."""
    leaf = lake / "acct1" / "source=OCP" / "year=2024" / "month=08"
    write(leaf)
    before = {p.name: p.read_bytes() for p in leaf.glob("*.parquet")}

    lc = compactor(spark, lake)
    writes = []
    lc._write_merged = lambda *args: writes.append(args)
    for _ in range(2):
        assert list(lc.compact().values()) == ["merge_failed_originals_kept"]
        assert message in capsys.readouterr().out
        assert {p.name: p.read_bytes() for p in leaf.glob("*.parquet")} == before
        assert not (leaf / "_compacted.manifest").exists()
    assert writes == []


def test_base_name_fallback_no_source_segment(spark, lake):
    """Without a ``source=`` segment the base is ``data``: the reference's
    ``data_<32hex>`` outputs there are prior outputs, and only the newest
    one is re-merged."""
    leaf = lake / "acct1" / "raw"
    old_prior, new_prior = f"data_{'c' * 32}.parquet", f"data_{'d' * 32}.parquet"
    write_small_parquet(leaf / old_prior, start=900, mtime=NOW - timedelta(days=20))
    write_small_parquet(leaf / new_prior, start=800, mtime=NOW - timedelta(days=8))
    for i in range(2):
        write_small_parquet(leaf / f"in-{i}.parquet", start=i * 100)
    assert list(compactor(spark, lake).compact().values()) == ["compacted_3_files"]
    outputs = sorted(p.name for p in leaf.glob("*.parquet"))
    import re

    assert len(outputs) == 2 and old_prior in outputs
    (out,) = [n for n in outputs if n != old_prior]
    assert re.fullmatch(OUTPUT_RE, out)
    assert read_ids(leaf) == list(range(200)) + list(range(800, 1000))


def test_lake_report_ranks_leaves_by_reclaimable_files(spark, lake):
    """The metadata-only report: a leaf of many small files shows a high
    small_file_ratio and a positive reclaimable count; after compaction
    the same leaf reports nothing reclaimable. No data files are read —
    only the listing feeds the report."""
    from parquet_compactor_spark.compactor import lake_report

    messy = lake / "acct1" / "source=OCP" / "year=2024" / "month=01"
    for i in range(6):
        write_small_parquet(messy / f"in-{i}.parquet", start=i * 100)

    rep = {r.leaf: r for r in lake_report(spark, str(lake)).collect()}
    (leaf_stats,) = rep.values()
    assert leaf_stats.n_files == 6
    assert leaf_stats.small_files == 6
    assert leaf_stats.small_file_ratio == 1.0
    assert leaf_stats.ideal_files == 1  # few KB -> one target-size file
    assert leaf_stats.reclaimable_files == 5

    compactor(spark, lake).compact()
    rep2 = {r.leaf: r for r in lake_report(spark, str(lake)).collect()}
    (after,) = rep2.values()
    assert after.n_files == 1
    assert after.reclaimable_files == 0


def test_lake_report_empty_root_schema_matches_nonempty(spark, tmp_path, lake):
    """The empty-root branch must return the SAME schema as the non-empty
    branch (int vs bigint drift breaks unions of per-root reports;
    nullability flags are reconciled by union and may differ)."""
    from parquet_compactor_spark.compactor import lake_report

    df = lake_report(spark, str(tmp_path / "nothing"))
    assert df.count() == 0
    write_small_parquet(lake / "a" / "source=OCP" / "in-0.parquet")
    nonempty = lake_report(spark, str(lake))
    assert [(f.name, f.dataType) for f in df.schema.fields] == [
        (f.name, f.dataType) for f in nonempty.schema.fields
    ]


def test_lake_report_ignores_non_parquet_sidecars(spark, lake):
    """_SUCCESS / .crc sidecars on Spark-written leaves are not merge
    inputs and must not count as (small) files."""
    from parquet_compactor_spark.compactor import lake_report

    leaf = lake / "acct1" / "source=OCP" / "year=2024" / "month=01"
    for i in range(3):
        write_small_parquet(leaf / f"in-{i}.parquet", start=i * 100)
    (leaf / "_SUCCESS").write_text("")
    (leaf / ".in-0.parquet.crc").write_bytes(b"x" * 8)

    (stats,) = lake_report(spark, str(lake)).collect()
    assert stats.n_files == 3
    assert stats.small_files == 3


def test_compact_processes_worst_leaf_first(spark, lake):
    """Interrupted or time-budgeted runs must reclaim the most files per
    unit of work: the leaf with the most merge candidates compacts first
    (path order breaks ties deterministically)."""
    small = lake / "acct1" / "source=OCP" / "year=2024" / "month=01"
    big = lake / "acct2" / "source=OCP" / "year=2024" / "month=01"
    for i in range(2):
        write_small_parquet(small / f"in-{i}.parquet", start=i * 100)
    for i in range(6):
        write_small_parquet(big / f"in-{i}.parquet", start=i * 100)

    outcomes = compactor(spark, lake).compact()
    first, second = list(outcomes)
    assert "acct2" in first and "acct1" in second
    assert sorted(outcomes.values()) == [
        "compacted_2_files",
        "compacted_6_files",
    ]


def test_merge_child_session_inherits_runtime_confs(spark, lake):
    """The shuffle-free merge re-reads the leaf through spark.newSession();
    a fresh session does NOT inherit the caller's *runtime* SQL confs, so a
    leaf that reads differently under a caller-set conf (here:
    spark.sql.parquet.binaryAsString promoting binary->string) would be
    merged under the DEFAULT semantics and silently write the wrong
    schema. The merge must copy the parent's runtime confs into the child.
    (Builder-level confs like session.py's nanosAsLong are already in the
    shared SparkConf and inherit for free; only runtime sets are at risk.)
    """
    leaf = lake / "acct1" / "source=OCP" / "year=2024" / "month=01"
    leaf.mkdir(parents=True, exist_ok=True)
    for i in range(4):
        table = pa.table(
            {
                "id": list(range(i * 10, i * 10 + 10)),
                "payload": pa.array([b"blob-%d" % j for j in range(10)]),
            }
        )
        path = leaf / f"in-{i}.parquet"
        pq.write_table(table, path, store_schema=False)
        t = OLD.timestamp()
        os.utime(path, (t, t))

    spark.conf.set("spark.sql.parquet.binaryAsString", "true")
    try:
        outcomes = compactor(spark, lake).compact()
    finally:
        spark.conf.unset("spark.sql.parquet.binaryAsString")
    assert list(outcomes.values()) == ["compacted_4_files"]
    outputs = list(leaf.glob("*.parquet"))
    assert len(outputs) == 1
    merged = pq.read_table(outputs[0])
    # Written under the parent's semantics: payload is string, not binary.
    assert pa.types.is_string(merged.schema.field("payload").type) or pa.types.is_large_string(
        merged.schema.field("payload").type
    ), merged.schema
    assert sorted(merged.column("id").to_pylist()) == list(range(40))


def test_compact_ignores_hidden_and_sidecar_files(spark, lake):
    """Planning must only consider files a parquet merge can READ:
    _SUCCESS / .crc sidecars and _/.-hidden parquet files are skipped by
    spark.read.parquet, so treating them as candidates either fails the
    merge or deletes a file whose rows were never merged."""
    leaf = lake / "acct1" / "source=OCP" / "year=2024" / "month=01"
    for i in range(4):
        write_small_parquet(leaf / f"in-{i}.parquet", start=i * 100)
    (leaf / "_SUCCESS").write_text("")
    # Hidden dotfile sidecar; named after no data file so Hadoop's
    # ChecksumFileSystem never tries to validate a real read against it.
    (leaf / ".orphan.crc").write_bytes(b"x" * 8)
    write_small_parquet(leaf / "_hidden.parquet", start=9000)
    old = OLD.timestamp()
    for f in leaf.iterdir():
        os.utime(f, (old, old))

    outcomes = compactor(spark, lake).compact()
    assert list(outcomes.values()) == ["compacted_4_files"]
    # Sidecars and the hidden parquet file survive untouched; the merged
    # output carries exactly the 4 readable files' rows.
    assert (leaf / "_SUCCESS").exists()
    assert (leaf / ".orphan.crc").exists()
    assert (leaf / "_hidden.parquet").exists()
    visible = [p for p in leaf.glob("*.parquet") if not p.name.startswith("_")]
    assert len(visible) == 1
    assert sorted(pq.read_table(visible[0]).column("id").to_pylist()) == list(range(400))


def assert_walk_matches_recursive_listing(fs, root: str) -> dict:
    """``fs.walk(root)`` lists each directory once, and its files are the
    recursive listing's outside hidden directories, with the same
    spelling and sizes; returns the walk."""
    from parquet_compactor_spark.compactor.fs import hidden

    walked = fs.walk(root)
    assert all(isinstance(listing, list) for listing in walked.values()), walked
    files = [(f.path, f.size) for ls in walked.values() for f in ls if not f.is_dir]
    outside_hidden = [
        (f.path, f.size)
        for f in fs.list_files(root)
        if not any(hidden(part) for part in f.path.split("/")[:-1])
    ]
    assert sorted(files) == sorted(outside_hidden)
    assert len(files) == len(set(files))
    return walked


def test_walk_matches_recursive_listing(spark, tmp_path):
    """The walk spells names as the recursive listing does: a space and a
    literal ``%41`` are not URI escapes, and each path round-trips through
    the Hadoop Path API. A hidden directory is an entry of its parent and
    is never entered; a ``_``-prefixed partition directory (``_c=1``) is
    entered, as Spark's file index enters it."""
    from parquet_compactor_spark.compactor.fs import HadoopFS

    root = tmp_path / "lake"
    write_small_parquet(root / "odd names" / "with space.parquet", rows=5)
    write_small_parquet(root / "pct%41x" / "e%41 b.parquet", rows=5)
    (root / "pct%41x" / "_SUCCESS").write_text("")
    write_small_parquet(root / "_c=1" / "in-0.parquet", rows=5)
    write_small_parquet(root / "_temporary" / "0" / "part-0.parquet", rows=5)
    write_small_parquet(root / ".hidden" / "in-0.parquet", rows=5)
    fs = HadoopFS(spark, str(root))
    walked = assert_walk_matches_recursive_listing(fs, str(root))
    assert sorted(d.rstrip("/").rsplit("/", 1)[-1] for d in walked if d != f"{root}/") == [
        "_c=1", "odd names", "pct%41x"
    ]
    names = {f.path.rsplit("/", 1)[-1] for ls in walked.values() for f in ls}
    assert {"with space.parquet", "e%41 b.parquet", "_temporary", ".hidden"} <= names
    assert "part-0.parquet" not in names
    for ls in walked.values():
        assert all(fs.exists(f.path) for f in ls)


def test_literal_percent_names_compact_and_listings_agree(spark, lake):
    """Names holding a literal ``%xx`` (a leaf ``pct%41x/``, files
    ``in%20{i}.parquet``) are not URI escapes: the walk and the recursive
    listing return them as named, and a pass merges them. Decoding the
    listing turned ``in%200`` into ``in 0`` and failed every merge with
    PATH_NOT_FOUND."""
    from parquet_compactor_spark.compactor.fs import HadoopFS

    leaf = lake / "acct1" / "pct%41x" / "source=OCP" / "year=2024" / "month=01"
    for i in range(3):
        write_small_parquet(leaf / f"in%20{i}.parquet", start=i * 100)
    write_small_parquet(leaf / "e%41 b.parquet", start=300)
    walked = assert_walk_matches_recursive_listing(HadoopFS(spark, str(lake)), str(lake))
    paths = [f.path for ls in walked.values() for f in ls]
    assert sum("/pct%41x/" in p and "/in%200.parquet" in p for p in paths) == 1

    outcomes = compactor(spark, lake).compact()
    assert list(outcomes.values()) == ["compacted_4_files"]
    assert len(list(leaf.glob("*.parquet"))) == 1
    assert read_ids(leaf) == list(range(400))


def _footer_rows(path: Path) -> int:
    return pq.ParquetFile(path).metadata.num_rows


def test_count_rows_matches_footers(spark, lake):
    """The planner's driver-side footer reads return each file's exact
    row count, keyed by the listing's (raw) path spelling — also for a
    name that needs URI escaping, and for an empty file."""
    leaf = lake / "acct1" / "odd %41 dir" / "source=OCP" / "year=2024" / "month=01"
    for i, n in enumerate((7, 120, 3001)):
        write_small_parquet(leaf / f"in-{i}.parquet", rows=n)
    write_small_parquet(leaf / "c%20d e.parquet", rows=42)
    write_small_parquet(leaf / "empty.parquet", rows=0)
    lc = compactor(spark, lake)
    paths = [f.path for f in lake_files(spark, str(lake))]
    footers, unreadable = lc._read_footers(paths)
    assert unreadable == [] and set(footers) == set(paths)
    by_name = {p.rsplit("/", 1)[-1]: footers[p].rows for p in paths}
    assert by_name == {p.name: _footer_rows(p) for p in leaf.glob("*.parquet")}
    assert by_name["c%20d e.parquet"] == 42 and by_name["empty.parquet"] == 0


def test_corrupt_file_fails_only_its_own_leaf(spark, lake, capsys):
    """One corrupt footer in leaf A fails only A's footer reads: A keeps
    its originals with no merge attempted, and leaf B in the same pass
    still compacts."""
    leaf_a = lake / "acctA" / "source=OCP" / "year=2024" / "month=01"
    leaf_b = lake / "acctB" / "source=OCP" / "year=2024" / "month=01"
    for i in range(2):
        write_small_parquet(leaf_a / f"in-{i}.parquet", start=i * 100)
    corrupt = leaf_a / "in-corrupt.parquet"
    corrupt.write_bytes(b"PAR1 this is not parquet PAR1")
    os.utime(corrupt, (OLD.timestamp(), OLD.timestamp()))
    for i in range(3):
        write_small_parquet(leaf_b / f"in-{i}.parquet", start=i * 100)
    lc = compactor(spark, lake)
    paths = [f.path for f in lake_files(spark, str(lake))]
    footers, unreadable = lc._read_footers(paths)
    assert sorted(p.rsplit("/", 1)[-1] for p in footers) == sorted(
        ["in-0.parquet", "in-1.parquet"] + ["in-0.parquet", "in-1.parquet", "in-2.parquet"]
    )
    assert len(unreadable) == 1 and "in-corrupt.parquet" in unreadable[0]

    outcomes = lc.compact()
    by_acct = {k.split("/data/parquet/")[1].split("/")[0]: v for k, v in outcomes.items()}
    assert by_acct == {
        "acctA": "merge_failed_originals_kept",
        "acctB": "compacted_3_files",
    }
    out = capsys.readouterr().out
    assert "compaction footer read failed" in out and "in-corrupt.parquet" in out
    assert "compaction merge failed" not in out
    assert {p.name for p in leaf_a.glob("*.parquet")} == {
        "in-0.parquet", "in-1.parquet", "in-corrupt.parquet"
    }
    assert read_ids(leaf_b) == list(range(300))


def test_file_vanished_after_planning_fails_only_its_own_leaf(spark, lake, capsys):
    """A merge-set file deleted between the planning listing and its
    footer read must not fail the pass: its leaf keeps its originals with
    no merge attempted, and leaf B still compacts."""
    leaf_a = lake / "acctA" / "source=OCP" / "year=2024" / "month=01"
    leaf_b = lake / "acctB" / "source=OCP" / "year=2024" / "month=01"
    for i in range(3):
        write_small_parquet(leaf_a / f"in-{i}.parquet", start=i * 100)
        write_small_parquet(leaf_b / f"in-{i}.parquet", start=i * 100)
    lc = compactor(spark, lake)
    candidate_leaves = lc.candidate_leaves

    def list_then_vanish():
        leaves = candidate_leaves()
        (leaf_a / "in-2.parquet").unlink()
        return leaves

    lc.candidate_leaves = list_then_vanish
    outcomes = lc.compact()
    by_acct = {k.split("/data/parquet/")[1].split("/")[0]: v for k, v in outcomes.items()}
    assert by_acct == {
        "acctA": "merge_failed_originals_kept",
        "acctB": "compacted_3_files",
    }
    out = capsys.readouterr().out
    assert "compaction footer read failed" in out and "in-2.parquet" in out
    assert "compaction merge failed" not in out
    assert read_ids(leaf_a) == list(range(200))
    assert read_ids(leaf_b) == list(range(300))


def test_pass_spark_job_budget(spark, lake):
    """A pass over K merging (non-GCP) leaves runs at most K Spark jobs:
    one write per merge. The lake walk lists on the driver, and footers
    answer the row counts and the read schema there too, so neither a
    listing job, a row-count job nor a schema-inference job may come
    back."""
    k = 3
    for a in range(k):
        leaf = lake / f"acct{a}" / "source=OCP" / "year=2024" / "month=01"
        for i in range(3):
            write_small_parquet(leaf / f"in-{i}.parquet", start=i * 100)
    sc = spark.sparkContext
    group = "test-pass-job-budget"
    sc.setJobGroup(group, "compaction pass job budget")
    try:
        outcomes = compactor(spark, lake).compact()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sorted(outcomes.values()) == ["compacted_3_files"] * k
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs <= k, jobs


class CountingFS:
    """The Hadoop FileSystem handle, recording every call made on it as
    (method, first argument) — wrapped the way the crash-consistency
    suite's FaultyFS wraps it."""

    def __init__(self, jfs):
        self._jfs = jfs
        self.calls: list[tuple[str, str]] = []

    def __getattr__(self, name):
        method = getattr(self._jfs, name)

        def record(*args):
            self.calls.append((name, str(args[0]) if args else ""))
            return method(*args)

        return record

    def kinds(self) -> Counter:
        return Counter(op for op, _ in self.calls)


def test_pass_metadata_budget(spark, lake):
    """A clean pass over K merging leaves lists the lake with one plain
    listStatus per directory the walk reads, the pass's one listing, which
    the orphan sweep, the sidecar reads and the planner share, and one
    more per merged leaf for the merge's outputs. It makes no recursive
    (located) listFiles call, whose per-file block locations and
    permissions the compactor never reads. A merged leaf holds no
    ``_SUCCESS`` marker: the sidecar is its commit record.

    Every handle call is pinned. Beyond the walk, a merged leaf of three
    inputs costs 16: its outputs' listing, three input deletes and three
    sidecar writes (planning, the commit point, the pending inputs
    cleared), each a create, an exists and a rename, and for the last two
    a delete of the file it replaces. The no-op pass after it costs the
    walk and one sidecar open per leaf, and no exists at all."""
    k = 3
    leaves = [lake / f"acct{a}" / "source=OCP" / "year=2024" / "month=01" for a in range(k)]
    for leaf in leaves:
        for i in range(3):
            write_small_parquet(leaf / f"in-{i}.parquet", start=i * 100)
    lc = compactor(spark, lake)
    walked = Counter(
        {str(lake): 1}
        | {lc.fs.qualified(str(d)): 1 for leaf in leaves for d in (leaf, *leaf.parents[:3])}
    )
    assert len(walked) == 1 + 4 * k
    counting = CountingFS(lc.fs._fs)
    lc.fs._fs = counting
    assert sorted(lc.compact().values()) == ["compacted_3_files"] * k
    assert counting.kinds() == Counter(
        listStatus=len(walked) + k, create=3 * k, exists=3 * k, rename=3 * k, delete=5 * k
    )
    assert [c for c in counting.calls if c[0] == "listFiles"] == []
    listed = Counter(path for op, path in counting.calls if op == "listStatus")
    assert listed == walked + Counter(lc.fs.qualified(str(leaf)) for leaf in leaves), listed
    for leaf in leaves:
        assert read_ids(leaf) == list(range(300))
        assert not (leaf / "_SUCCESS").exists()

    counting.calls.clear()
    assert set(lc.compact().values()) == {"nothing_to_compact"}
    assert counting.kinds() == Counter(listStatus=len(walked), open=k), counting.calls


def assert_missing_path_lists_empty(fs, missing: str) -> None:
    """Each py4j listing of ``missing`` on ``fs`` (a HadoopFS) is empty and
    makes one listing call, with no ``exists`` probe before it."""
    counting = CountingFS(fs._fs)
    fs._fs = counting
    try:
        assert fs.list_dirs(missing) == []
        assert fs.list_files(missing) == []
        assert fs.list_files(missing, recursive=False) == []
        assert fs.walk(missing) == {f"{missing}/": []}
    finally:
        fs._fs = counting._jfs
    assert [op for op, _ in counting.calls] == ["listStatus", "listFiles"] + ["listStatus"] * 2


def test_leaf_listing_is_one_list_status(spark, tmp_path):
    """``list_files(recursive=False)`` returns a directory's own files,
    hidden ones included, and its sub-directories marked ``is_dir``, with
    nothing under them; a path that does not exist lists empty without an
    ``exists`` probe."""
    from parquet_compactor_spark.compactor.fs import HadoopFS

    leaf = tmp_path / "leaf"
    write_small_parquet(leaf / "in-0.parquet")
    write_small_parquet(leaf / "_temporary" / "0" / "part-0.parquet")
    (leaf / "_SUCCESS").write_text("")
    fs = HadoopFS(spark, str(tmp_path))
    listing = fs.list_files(str(leaf), recursive=False)
    listed = {f.path.rsplit("/", 1)[-1]: f.is_dir for f in listing}
    assert listed == {"_SUCCESS": False, "_temporary": True, "in-0.parquet": False}
    assert len(fs.list_files(str(leaf))) == 3
    assert_missing_path_lists_empty(fs, str(tmp_path / "gone"))


def _local(uri: str) -> Path:
    return Path(uri.split(":", 1)[1] if uri.startswith("file:") else uri)


def _replace_with_fewer_rows(path: Path) -> None:
    table = pq.read_table(path)
    pq.write_table(table.slice(0, table.num_rows - 1), path)


def _truncate(path: Path) -> None:
    with open(path, "r+b") as fh:
        fh.truncate(path.stat().st_size // 2)


def _drop_extra_column(path: Path) -> None:
    # The footer's metadata goes too, Spark's stored schema with it.
    pq.write_table(pq.read_table(path).select(["id", "val"]).replace_schema_metadata(), path)


def _drop_extra_column_keep_metadata(path: Path) -> None:
    # pyarrow carries the schema metadata over, so the footer still holds
    # Spark's stored schema with ``extra``: the check must read the
    # file's own columns.
    pq.write_table(pq.read_table(path).select(["id", "val"]), path)


@pytest.mark.parametrize(
    "tamper",
    [_replace_with_fewer_rows, _truncate, _drop_extra_column, _drop_extra_column_keep_metadata],
    ids=["replaced", "truncated", "column_dropped", "column_dropped_metadata_kept"],
)
def test_row_check_before_delete_keeps_originals(spark, lake, tamper):
    """The outputs' footers must hold the merge set's rows and column
    names before any original is deleted. An output that lost rows or a
    column (or no longer reads) after the write rolls the merge back: no
    output is left, the manifest and the originals are untouched, and the
    next pass compacts once."""
    leaf = lake / "acct1" / "source=OCP" / "year=2024" / "month=01"
    cfg = CompactionConfig(now=NOW)
    for i in range(3):
        write_small_parquet(leaf / f"in-{i}.parquet", start=i * 100)
    assert list(LakeCompactor(spark, str(lake), cfg).compact().values()) == [
        "compacted_3_files"
    ]
    write_small_parquet(leaf / "late-0.parquet", start=300)
    if tamper in (_drop_extra_column, _drop_extra_column_keep_metadata):  # the column dropped
        write_columns(
            leaf / "late-1.parquet", id=list(range(400, 500)), val=[0.0] * 100,
            extra=["x"] * 100,
        )
    else:
        write_small_parquet(leaf / "late-1.parquet", start=400)
    manifest = leaf / "_compacted.manifest"
    manifest_before = manifest.read_text()
    files_before = sorted(os.listdir(leaf))
    ids_before = read_ids(leaf)
    assert ids_before == list(range(500))

    lc = LakeCompactor(spark, str(lake), cfg)
    check = lc._rows_preserved
    tampered = []

    def tamper_then_check(plan, outputs):
        tampered.append(outputs[0])
        path = _local(outputs[0])
        tamper(path)
        # A stale Hadoop checksum would fail the footer read whatever the
        # tamper did; without it the check reads the tampered file itself.
        (path.parent / f".{path.name}.crc").unlink(missing_ok=True)
        return check(plan, outputs)

    lc._rows_preserved = tamper_then_check
    assert list(lc.compact().values()) == ["merge_failed_originals_kept"]
    assert len(tampered) == 1
    assert sorted(os.listdir(leaf)) == files_before
    assert manifest.read_text() == manifest_before
    assert read_ids(leaf) == ids_before

    lc = LakeCompactor(spark, str(lake), cfg)
    assert list(lc.compact().values()) == ["compacted_3_files"]
    assert read_ids(leaf) == ids_before
    assert len(list(leaf.glob("*.parquet"))) == 1
    assert list(lc.compact().values()) == ["nothing_to_compact"]


def test_gcp_row_check_is_per_write(spark, lake):
    """A GCP leaf's outputs are checked per date's write: one date's
    output that lost a column, beside the other date's output that still
    holds it, rolls the whole merge back. No output is left, the
    originals are untouched, and the next pass compacts once."""
    leaf = lake / "acct1" / "source=GCP" / "year=2024" / "month=01"
    for d, date in enumerate(["2024-01-10", "2024-01-11"]):
        for i in range(2):
            start = (d * 2 + i) * 100
            write_columns(
                leaf / f"202401_{date}_{d}{i}x.parquet", id=list(range(start, start + 100)),
                val=[0.0] * 100, extra=["x"] * 100,
            )
    before = sorted(os.listdir(leaf))
    lc = compactor(spark, lake)
    check = lc._rows_preserved
    tampered = []

    def tamper_one_date_then_check(plan, outputs):
        assert len(outputs) == 2  # one per date
        tampered.append(outputs[0])
        path = _local(outputs[0])
        _drop_extra_column(path)
        (path.parent / f".{path.name}.crc").unlink(missing_ok=True)
        return check(plan, outputs)

    lc._rows_preserved = tamper_one_date_then_check
    assert list(lc.compact().values()) == ["merge_failed_originals_kept"]
    assert len(tampered) == 1
    assert sorted(n for n in os.listdir(leaf) if n[0] not in "._") == before
    assert sidecar(spark, leaf) == Sidecar()

    lc = compactor(spark, lake)
    assert list(lc.compact().values()) == ["compacted_4_files"]
    assert read_ids(leaf) == list(range(400))
    assert len(list(leaf.glob("*.parquet"))) == 2
    assert list(lc.compact().values()) == ["nothing_to_compact"]


def test_gcp_leaf_rolls_back_every_date_when_one_fails(spark, lake):
    """A GCP leaf merges per date; when a later date's write fails, the
    dates already written are rolled back with it, so no output sits
    beside its own kept originals, and the sidecar is left clean."""
    leaf = lake / "acct1" / "source=GCP" / "year=2024" / "month=01"
    for d, date in enumerate(["2024-01-10", "2024-01-11"]):
        for i in range(2):
            write_small_parquet(
                leaf / f"202401_{date}_{d}{i}x.parquet", start=(d * 2 + i) * 100
            )
    before = sorted(os.listdir(leaf))
    lc = compactor(spark, lake)
    write_merged = lc._write_merged
    calls = []

    def second_date_fails(files, *args):
        calls.append(files)
        if len(calls) == 2:
            raise OSError("injected write failure")
        return write_merged(files, *args)

    lc._write_merged = second_date_fails
    assert list(lc.compact().values()) == ["merge_failed_originals_kept"]
    assert len(calls) == 2
    data = sorted(n for n in os.listdir(leaf) if n.endswith(".parquet") and n[0] not in "._")
    assert data == before
    assert sidecar(spark, leaf) == Sidecar()
    assert read_ids(leaf) == list(range(400))


def test_two_schema_merge_set_merges_by_name(spark, lake):
    """A merge set whose files hold two schemas (an added column, or a
    column's nullability) is read with the one schema planning merged
    from their footers, so the write is its only Spark job: the output
    holds what a ``mergeSchema`` read of the set returns, columns and
    rows, so the wider file's column is kept."""
    required = pa.schema([("id", pa.int64()), pa.field("val", pa.float64(), nullable=False)])
    inputs = {
        "added_column": [
            pa.table({"id": list(range(10)), "val": [float(i) for i in range(10)]}),
            pa.table({"id": [100, 101], "val": [1.0, 2.0], "extra": ["x", "y"]}),
        ],
        "nullability": [
            pa.table({"id": list(range(10)), "val": [float(i) for i in range(10)]}),
            pa.table({"id": [100, 101], "val": [1.0, 2.0]}, schema=required),
        ],
    }
    sc = spark.sparkContext
    for name, tables in inputs.items():
        root = lake / name
        leaf = root / "acct1" / "source=OCP" / "year=2024" / "month=01"
        for i, table in enumerate(tables):
            write_table(leaf / f"in-{i}.parquet", table)
        assert len({pq.read_schema(p) for p in leaf.glob("*.parquet")}) == 2
        lc = compactor(spark, root)
        group = f"test-two-schema-merge-{name}"
        seen = {}
        merge_leaf = lc._merge_leaf

        def inferred_then_merge(plan):
            by_name = spark.read.option("mergeSchema", "true").parquet(*plan.file_list)
            seen["schema"], seen["rows"] = by_name.schema, sorted(by_name.collect())
            (write,) = plan.writes.values()
            assert write.schema == by_name.schema
            sc.setJobGroup(group, "two-schema merge")
            try:
                return merge_leaf(plan)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)

        lc._merge_leaf = inferred_then_merge
        assert list(lc.compact().values()) == ["compacted_2_files"], name
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1, name
        (out,) = leaf.glob("*.parquet")
        merged = spark.read.parquet(str(out))
        assert merged.schema == seen["schema"], name
        assert sorted(merged.collect()) == seen["rows"], name
        assert ("extra" in merged.columns) == (name == "added_column")


def test_merge_session_is_per_pass_not_per_instance(spark, lake):
    """A conf the caller sets between two passes of ONE long-lived
    LakeCompactor reaches the second pass's merges: the merge session
    copies the caller's confs per pass, not once per instance."""
    lc = compactor(spark, lake)
    first = lake / "acct1" / "source=OCP" / "year=2024" / "month=01"
    for i in range(2):
        write_small_parquet(first / f"in-{i}.parquet", start=i * 100)
    assert list(lc.compact().values()) == ["compacted_2_files"]

    leaf = lake / "acct2" / "source=OCP" / "year=2024" / "month=01"
    leaf.mkdir(parents=True)
    for i in range(3):
        table = pa.table(
            {"id": list(range(i * 10, i * 10 + 10)), "payload": [b"blob"] * 10}
        )
        path = leaf / f"in-{i}.parquet"
        pq.write_table(table, path, store_schema=False)
        os.utime(path, (OLD.timestamp(), OLD.timestamp()))
    spark.conf.set("spark.sql.parquet.binaryAsString", "true")
    try:
        outcomes = lc.compact()
    finally:
        spark.conf.unset("spark.sql.parquet.binaryAsString")
    assert sorted(outcomes.values()) == ["compacted_3_files", "nothing_to_compact"]
    (out,) = leaf.glob("*.parquet")
    merged = pq.read_table(out)
    assert pa.types.is_string(merged.schema.field("payload").type), merged.schema
    assert sorted(merged.column("id").to_pylist()) == list(range(30))


def test_driver_mem_respects_cgroup_limit(tmp_path, monkeypatch):
    """Inside a memory-limited container on a big host, the heap must be
    sized from the cgroup limit, not host RAM (ADVICE r4)."""
    import parquet_compactor_spark.session as sess

    limit_file = tmp_path / "memory.max"
    limit_file.write_text(str(4 * 1024**3))  # 4 GiB container
    monkeypatch.setattr(sess, "_CGROUP_PATHS", (str(limit_file),))
    assert sess._default_driver_mem() == "2g"  # half of 4 GiB, not host/2

    limit_file.write_text("max")  # v2 unlimited → fall back to sysconf
    host_half = sess._default_driver_mem()
    assert host_half.endswith("g") and int(host_half[:-1]) >= 1

    limit_file.write_text(str(1 << 62))  # v1 "unlimited" sentinel
    assert sess._default_driver_mem() == host_half


def test_get_spark_turns_off_call_site_capture(spark):
    """get_spark turns off PySpark's per-call origin capture, which costs
    one py4j round trip per DataFrame or Column call while a query is
    built. The ``spark`` fixture is a get_spark session."""
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False


def test_get_spark_sizes_codegen_class_cache(spark):
    """get_spark holds the registry's compiled classes (about 2,550) in
    Spark's codegen cache instead of Spark's 100."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "4096"


def test_query_mix_second_run_reuses_compiled_classes(spark):
    """A second run of the benchmark's query mix reuses the generated
    classes the first run compiled. With Spark's 100-entry cache the
    mix's ~120 classes evict each other and every run compiles again."""
    from parquet_compactor_spark.llm.text import release_guard_caches
    from parquet_compactor_spark.registry import all_queries
    from tests.conftest import SF_SMOKE

    queries = all_queries()
    mix = ("q_agg_pricing", "q_anti_join", "q_sessionize",
           "q_bloom_delta", "q_bigram_backoff", "q_tfidf_topterms")
    compilations = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()

    def run_mix() -> int:
        before = compilations.getCount()
        for name in mix:
            queries[name].fn(spark, SF_SMOKE).write.format("noop").mode("overwrite").save()
            release_guard_caches()
        return compilations.getCount() - before

    run_mix()  # earlier tests may already have compiled some of it
    assert compilations.getCount() > 0
    # AQE numbers codegen stages in the order it plans them, and the
    # number is part of a generated class: a run in which
    # q_tfidf_topterms's two branches are planned in a new order
    # compiles its four classes again under new numbers; allow two
    # such. Eviction at Spark's 100 entries recompiles 90 to 111.
    assert run_mix() <= 8


def test_failed_delete_surfaced_in_outcome(spark, lake, capsys):
    """A delete returning False leaves an original whose rows duplicate
    on every scan — it must be logged and visible in the leaf outcome."""
    leaf = lake / "acct1" / "source=OCP" / "year=2024" / "month=01"
    for i in range(4):
        write_small_parquet(leaf / f"in-{i}.parquet", start=i * 100)
    c = compactor(spark, lake)
    real_delete = c.fs.delete

    def flaky_delete(path, recursive=False):
        if path.endswith("in-0.parquet"):
            return False  # simulate object-store delete refusal
        return real_delete(path, recursive)

    c.fs.delete = flaky_delete
    outcomes = c.compact()
    assert list(outcomes.values()) == ["compacted_4_files_1_deletes_failed"]
    assert "in-0.parquet" in capsys.readouterr().out
    assert (leaf / "in-0.parquet").exists()


# --------------------------------------------------------------------------
# In-place writes and the sidecar
# --------------------------------------------------------------------------


def test_direct_commit_merges_without_renaming_data_files(spark, lake):
    """direct_commit writes merged output once under a job-unique
    ``merged-<hex>-*`` basename and never renames a data file — the
    zero-copy commit for s3a, where a rename is a server-side COPY of
    every byte. The unique basename positively identifies this job's
    outputs, so a concurrent upstream part-file can never be mistaken
    for one (it lands in neither the manifest nor the delete list)."""
    leaf = lake / "acct1" / "source=OCP" / "year=2024" / "month=01"
    for i in range(8):
        write_small_parquet(leaf / f"in-{i}.parquet", start=i * 100)
    before = read_ids(leaf)

    c = LakeCompactor(spark, str(lake), CompactionConfig(now=NOW, direct_commit=True))
    renames = []
    real_rename = c.fs.rename
    c.fs.rename = lambda src, dst: (renames.append((src, dst)), real_rename(src, dst))[1]

    outcomes = c.compact()
    assert list(outcomes.values()) == ["compacted_8_files"]
    # Zero engine-side renames of parquet data files (the manifest
    # sidecar's atomic tmp+rename is metadata, not data).
    assert not [r for r in renames if r[0].endswith(".parquet")]

    outputs = [p for p in leaf.glob("*.parquet") if not p.name.startswith("_")]
    assert len(outputs) == 1
    assert outputs[0].name.startswith("merged-")
    assert read_ids(leaf) == before  # row multiset preserved
    # Manifest records exactly the committed outputs.
    assert sidecar(spark, leaf) == Sidecar(frozenset({outputs[0].name}))


def test_direct_commit_idempotent_second_run(spark, lake):
    """Direct-commit outputs must be recognized as prior compactions via
    the manifest — NOT via name patterns (upstream producers may write
    arbitrary names, including Spark part-names)."""
    leaf = lake / "acct1" / "source=OCP" / "year=2024" / "month=01"
    for i in range(4):
        write_small_parquet(leaf / f"in-{i}.parquet", start=i * 100)
    cfg = CompactionConfig(now=NOW, direct_commit=True)
    c = LakeCompactor(spark, str(lake), cfg)
    c.compact()
    first = {p.name for p in leaf.glob("*.parquet")}
    outcomes = c.compact()
    assert list(outcomes.values()) == ["nothing_to_compact"]
    assert {p.name for p in leaf.glob("*.parquet")} == first


def test_direct_commit_incremental_new_files_merge_with_newest_prior(spark, lake):
    """New (old-enough) files re-merge together with the newest manifest
    output; the merged-away prior is deleted and pruned from the manifest."""
    leaf = lake / "acct1" / "source=OCP" / "year=2024" / "month=01"
    for i in range(4):
        write_small_parquet(leaf / f"in-{i}.parquet", start=i * 100)
    cfg = CompactionConfig(now=NOW, direct_commit=True)
    c = LakeCompactor(spark, str(lake), cfg)
    c.compact()
    (prior,) = [p for p in leaf.glob("merged-*.parquet")]
    # age the prior output past the hold-back window (it is manifest-
    # recognized, so age only matters for new files; set anyway for realism)
    old = OLD.timestamp()
    os.utime(prior, (old, old))
    write_small_parquet(leaf / "late-0.parquet", start=9000)

    outcomes = c.compact()
    assert list(outcomes.values()) == ["compacted_2_files"]
    assert not prior.exists()  # newest prior was re-merged and deleted
    outputs = [p for p in leaf.glob("merged-*.parquet")]
    assert len(outputs) == 1
    assert read_ids(leaf) == sorted(list(range(400)) + list(range(9000, 9100)))
    assert sidecar(spark, leaf) == Sidecar(frozenset({outputs[0].name}))


def test_direct_commit_upstream_part_files_are_still_merged(spark, lake):
    """An upstream producer writing part-*.parquet names must NOT be
    mistaken for prior compaction output — only manifest entries are."""
    leaf = lake / "acct1" / "source=OCP" / "year=2024" / "month=02"
    write_small_parquet(leaf / "part-00000-deadbeef-c000.snappy.parquet", start=0)
    write_small_parquet(leaf / "part-00001-deadbeef-c000.snappy.parquet", start=100)
    cfg = CompactionConfig(now=NOW, direct_commit=True)
    outcomes = LakeCompactor(spark, str(lake), cfg).compact()
    assert list(outcomes.values()) == ["compacted_2_files"]
    names = {p.name for p in leaf.glob("*.parquet")}
    assert "part-00000-deadbeef-c000.snappy.parquet" not in names
    assert read_ids(leaf) == sorted(list(range(100)) + list(range(100, 200)))


def test_gcp_leaf_writes_in_place_under_date_names(spark, lake):
    """GCP leaves commit like every other leaf, written in place with no
    data-file rename: the {invoice_month}_{date}_ micro-schema rides the
    output basename, and the sidecar marks the output."""
    import re

    leaf = lake / "acct1" / "GCP" / "source=gcp1" / "year=2024" / "month=03"
    for i in range(2):
        write_small_parquet(leaf / f"202403_2024-03-10_{i}x.parquet", start=i * 100)
    cfg = CompactionConfig(now=NOW, direct_commit=True)
    c = LakeCompactor(spark, str(lake), cfg)
    renames = []
    real_rename = c.fs.rename
    c.fs.rename = lambda src, dst: (renames.append((src, dst)), real_rename(src, dst))[1]
    outcomes = c.compact()
    assert list(outcomes.values()) == ["compacted_2_files"]
    assert renames == []
    (out,) = [p for p in leaf.glob("*.parquet")]
    assert re.fullmatch(r"202403_2024-03-10_[0-9a-f]{32}" + TASK_SUFFIX, out.name)
    assert sidecar(spark, leaf) == Sidecar(frozenset({out.name}))


def test_object_store_confs_bind_magic_committer():
    """The object-store companion confs bind the S3A magic committer and
    the cloud commit protocol (zero-copy task commit on object stores)."""
    from parquet_compactor_spark.session import object_store_confs

    confs = object_store_confs()
    assert confs["spark.hadoop.fs.s3a.committer.name"] == "magic"
    assert "PathOutputCommitProtocol" in confs["spark.sql.sources.commitProtocolClass"]
    assert "S3ACommitterFactory" in confs[
        "spark.hadoop.mapreduce.outputcommitter.factory.scheme.s3a"
    ]


def test_orphan_tmp_dir_never_planned_and_gc_is_age_gated(spark, lake):
    """A hard crash (OOM-kill) under earlier versions' rename commit
    stranded a ``{leaf}_compact_tmp_<hex>`` dir. Planning must never treat
    it as a data leaf (its part-files would be compacted as data), and
    the GC sweep must reclaim only STALE orphans — a dir whose newest
    file is recent belongs to a concurrently-running merge."""
    leaf = lake / "acct1" / "source=OCP" / "year=2024" / "month=01"
    for i in range(4):
        write_small_parquet(leaf / f"in-{i}.parquet", start=i * 100)
    before = read_ids(leaf)

    # The REAL orphan location: leaf paths end with "/", so the tmp dir
    # that commit created is a hidden CHILD of the leaf named
    # `_compact_tmp_<hex>` — reproduce exactly what a killed merge left.
    stale_tmp = leaf / ("_compact_tmp_" + "a" * 32)
    fresh_tmp = leaf / ("_compact_tmp_" + "b" * 32)
    write_small_parquet(stale_tmp / "part-0.parquet", start=9000, mtime=OLD)
    write_small_parquet(
        fresh_tmp / "part-0.parquet", start=9500, mtime=NOW - timedelta(hours=1)
    )
    # Age the DIRECTORIES too: the sweep takes max(dir mtime, file
    # mtimes) — a live merge bumps its dir mtime with every added file,
    # and a genuinely-crashed run's dir is as old as its files.
    os.utime(stale_tmp, (OLD.timestamp(), OLD.timestamp()))
    fresh_ts = (NOW - timedelta(hours=1)).timestamp()
    os.utime(fresh_tmp, (fresh_ts, fresh_ts))

    comp = compactor(spark, lake)
    # Planning: the tmp dirs are invisible — exactly one real leaf
    # (candidate keys are FS URIs; compare on the path suffix).
    leaves = set(comp.candidate_leaves())
    assert {lf.split(":", 1)[-1] for lf in leaves} == {str(leaf) + "/"}

    outcomes = comp.compact()
    assert list(outcomes.values()) == ["compacted_4_files"]
    # The stale orphan (10 days old) was reclaimed; the fresh one (1 h,
    # under the 24 h gate) survived for its still-running owner.
    assert not stale_tmp.exists()
    assert fresh_tmp.exists()
    # The real leaf's data was never contaminated by tmp part-files.
    assert read_ids(leaf) == before


def test_gc_deep_sweep_reaches_dataless_leaves(spark, lake):
    """gc_orphan_tmp_dirs(dirs=None) walks the lake and sweeps every
    walked directory, so it reclaims an orphan in a leaf whose visible
    data files were deleted after the crash — a leaf planning no longer
    returns."""
    leaf = lake / "acct1" / "source=OCP" / "year=2024" / "month=01"
    orphan = leaf / ("_compact_tmp_" + "d" * 32)
    write_small_parquet(orphan / "part-0.parquet", start=9000, mtime=OLD)
    os.utime(orphan, (OLD.timestamp(), OLD.timestamp()))
    # No visible data files in the leaf at all.
    comp = compactor(spark, lake)
    assert comp.candidate_leaves() == {}  # planning can't see it
    deleted, failed = comp.gc_orphan_tmp_dirs(24.0)  # deep sweep
    assert len(deleted) == 1 and not failed
    assert not orphan.exists()


def test_failed_delete_quarantined_never_remerged_then_healed(spark, lake):
    """A merged-away original whose delete fails must NEVER re-enter a
    merge (its rows are already in the committed output — re-merging
    would bake the duplication in permanently). It stays pending in the
    sidecar, is excluded from subsequent merges and retried each pass,
    and leaves the sidecar once the delete finally works."""
    leaf = lake / "acct1" / "source=OCP" / "year=2024" / "month=01"
    for i in range(4):
        write_small_parquet(leaf / f"in-{i}.parquet", start=i * 100)
    original_ids = read_ids(leaf)

    c = compactor(spark, lake)
    blocked = {"active": True}
    real_delete = c.fs.delete

    def flaky_delete(path, recursive=False):
        if blocked["active"] and path.endswith("in-0.parquet"):
            return False
        return real_delete(path, recursive)

    c.fs.delete = flaky_delete

    outcomes = c.compact()
    assert list(outcomes.values()) == ["compacted_4_files_1_deletes_failed"]
    assert sidecar(spark, leaf).pending == {"in-0.parquet"}
    # Duplication is live (leftover + output) until remediated.
    assert read_ids(leaf) == sorted(original_ids + list(range(100)))

    # A new file arrives; delete still broken. The pass retries (fails),
    # EXCLUDES in-0 from the merge, and merges prior output + new file.
    write_small_parquet(leaf / "late-0.parquet", start=9000)
    outcomes = c.compact()
    assert list(outcomes.values()) == ["compacted_2_files_1_deletes_pending"]
    assert sidecar(spark, leaf).pending == {"in-0.parquet"}
    # Still duplicated exactly ONCE — the re-merge did not amplify it.
    assert read_ids(leaf) == sorted(
        original_ids + list(range(100)) + list(range(9000, 9100))
    )

    # Delete starts working: the next pass heals and clears the sidecar.
    blocked["active"] = False
    outcomes = c.compact()
    assert list(outcomes.values()) == ["nothing_to_compact"]
    assert sidecar(spark, leaf).pending == set()
    assert not (leaf / "_pending_deletes.manifest").exists()
    assert read_ids(leaf) == sorted(original_ids + list(range(9000, 9100)))


def test_gc_reclaims_stale_committer_temporary_litter(spark, lake):
    """A crashed merge leaves {leaf}/_temporary/... — the pass's sweep
    finds it in the leaf's listing and reclaims it once stale, same age
    gate as _compact_tmp."""
    leaf = lake / "acct1" / "source=OCP" / "year=2024" / "month=01"
    write_small_parquet(leaf / "in-0.parquet")
    litter = leaf / "_temporary" / "0" / "_temporary" / "attempt_x"
    write_small_parquet(litter / "part-0.parquet", start=5000, mtime=OLD)
    for d in (litter, litter.parent, litter.parent.parent, leaf / "_temporary"):
        os.utime(d, (OLD.timestamp(), OLD.timestamp()))

    comp = compactor(spark, lake)
    sweeps = []
    real_sweep = comp.gc_orphan_tmp_dirs

    def sweep(*args, **kwargs):
        sweeps.append(real_sweep(*args, **kwargs))
        return sweeps[-1]

    comp.gc_orphan_tmp_dirs = sweep
    assert list(comp.compact().values()) == ["nothing_to_compact"]
    ((deleted, failed),) = sweeps
    assert len(deleted) == 1 and not failed
    assert not (leaf / "_temporary").exists()


def test_leaf_listing_failure_fails_only_that_leaf(spark, lake):
    """A leaf whose listStatus raises reports FAILED, and the other leaves
    of the pass still compact; the next pass compacts it too."""
    leaves = [lake / f"acct{a}" / "source=OCP" / "year=2024" / "month=01" for a in range(3)]
    for leaf in leaves:
        for i in range(3):
            write_small_parquet(leaf / f"in-{i}.parquet", start=i * 100)
    lc = compactor(spark, lake)
    broken = lc.fs.qualified(str(leaves[0]))
    jfs = lc.fs._fs

    class ListingFails:
        def __getattr__(self, name):
            return getattr(jfs, name)

        def listStatus(self, path):
            if str(path) == broken:
                raise OSError(f"injected listing failure: {path}")
            return jfs.listStatus(path)

    lc.fs._fs = ListingFails()
    outcomes = lc.compact()
    assert {k.rstrip("/"): v for k, v in outcomes.items()} == {
        broken: LakeCompactor.FAILED,
        **{lc.fs.qualified(str(leaf)): "compacted_3_files" for leaf in leaves[1:]},
    }
    lc.fs._fs = jfs
    assert list(lc.compact().values()) == ["compacted_3_files"] + ["nothing_to_compact"] * 2
    for leaf in leaves:
        assert read_ids(leaf) == list(range(300))


def test_directory_listing_failure_fails_only_that_directory(spark, lake):
    """A non-leaf directory whose listStatus raises reports FAILED under
    its own path and nothing under it is planned; the leaves beside it
    compact, and the next pass compacts the leaf under it too."""
    leaves = [lake / f"acct{a}" / "source=OCP" / "year=2024" / "month=01" for a in range(3)]
    for leaf in leaves:
        for i in range(3):
            write_small_parquet(leaf / f"in-{i}.parquet", start=i * 100)
    lc = compactor(spark, lake)
    broken = lc.fs.qualified(str(lake / "acct0"))
    jfs = lc.fs._fs

    class ListingFails:
        def __getattr__(self, name):
            return getattr(jfs, name)

        def listStatus(self, path):
            if str(path) == broken:
                raise OSError(f"injected listing failure: {path}")
            return jfs.listStatus(path)

    lc.fs._fs = ListingFails()
    outcomes = lc.compact()
    assert {k.rstrip("/"): v for k, v in outcomes.items()} == {
        broken: LakeCompactor.FAILED,
        **{lc.fs.qualified(str(leaf)): "compacted_3_files" for leaf in leaves[1:]},
    }
    assert len(list(leaves[0].glob("*.parquet"))) == 3
    lc.fs._fs = jfs
    assert list(lc.compact().values()) == ["compacted_3_files"] + ["nothing_to_compact"] * 2
    for leaf in leaves:
        assert read_ids(leaf) == list(range(300))


def test_pass_sweeps_orphans_of_every_walked_directory(spark, lake):
    """A pass sweeps the stale orphan dirs of every directory it walks,
    not only of the leaves it plans: an orphan in a leaf whose data files
    are gone, and a ``_temporary`` a partitioned write left at the root."""
    dataless = lake / "acct1" / "source=OCP" / "year=2024" / "month=01"
    orphan = dataless / ("_compact_tmp_" + "c" * 32)
    litter = lake / "_temporary" / "0"
    for d in (orphan, litter):
        write_small_parquet(d / "part-0.parquet", start=9000, mtime=OLD)
    for d in (orphan, litter, litter.parent):
        os.utime(d, (OLD.timestamp(), OLD.timestamp()))
    leaf = lake / "acct2" / "source=OCP" / "year=2024" / "month=01"
    for i in range(2):
        write_small_parquet(leaf / f"in-{i}.parquet", start=i * 100)

    assert list(compactor(spark, lake).compact().values()) == ["compacted_2_files"]
    assert not orphan.exists() and not litter.parent.exists()
    assert read_ids(leaf) == list(range(200))


def test_gc_deep_sweep_reclaims_empty_orphan_dir(spark, lake):
    """Crash after mkdir but before any part file: the dir is empty, so
    no file listing can find it — the deep sweep's dir walk must."""
    leaf = lake / "acct1" / "source=OCP" / "year=2024" / "month=01"
    write_small_parquet(leaf / "in-0.parquet")
    empty_orphan = leaf / ("_compact_tmp_" + "f" * 32)
    empty_orphan.mkdir(parents=True)
    os.utime(empty_orphan, (OLD.timestamp(), OLD.timestamp()))

    deleted, failed = compactor(spark, lake).gc_orphan_tmp_dirs(24.0)
    assert deleted and not failed and not empty_orphan.exists()


def test_direct_commit_manifest_prunes_stale_entries(spark, lake):
    """Manifest lines whose files no longer exist (retry-deleted on a
    later pass, or removed out-of-band) are pruned — the sidecar must
    not grow one stale line per event forever."""
    leaf = lake / "acct1" / "source=OCP" / "year=2024" / "month=01"
    for i in range(3):
        write_small_parquet(leaf / f"in-{i}.parquet", start=i * 100)
    cfg = CompactionConfig(now=NOW, direct_commit=True)
    c = LakeCompactor(spark, str(lake), cfg)
    c.compact()
    (real_entry,) = sidecar(spark, leaf).outputs
    # Inject a stale line for a file that does not exist — through the
    # compactor's own writer (a raw pathlib write would orphan the
    # Hadoop checksum sidecar and fail the next read).
    leaf_uri = str(leaf) + "/"
    c._write_sidecar(
        leaf_uri,
        Sidecar(frozenset({real_entry, f"ghost-{'0' * 32}-c000.snappy.parquet"})),
    )
    c.compact()
    assert c._read_sidecar(leaf_uri) == Sidecar(frozenset({real_entry}))


def test_manifest_prune_keeps_live_above_target_output(spark, lake):
    """Manifest pruning must compute liveness from an UNFILTERED leaf
    listing: a prior merged output at/above the size target is dropped
    from the candidate list by candidate_leaves (O3) but is still LIVE —
    pruning its manifest entry would strip the prior-compaction marker
    and re-merge it (churn) if file_size_bytes is later raised."""
    leaf = lake / "acct1" / "source=OCP" / "year=2024" / "month=01"
    for i in range(4):
        write_small_parquet(leaf / f"in-{i}.parquet", start=i * 100)
    cfg = CompactionConfig(now=NOW, direct_commit=True)
    LakeCompactor(spark, str(lake), cfg).compact()
    (prior,) = leaf.glob("merged-*.parquet")
    os.utime(prior, (OLD.timestamp(), OLD.timestamp()))
    # Two fresh tiny files; a target at exactly the prior's size excludes
    # the prior from candidates (strict <) while keeping the tiny files.
    write_small_parquet(leaf / "late-0.parquet", start=9000, rows=5)
    write_small_parquet(leaf / "late-1.parquet", start=9100, rows=5)
    assert (leaf / "late-0.parquet").stat().st_size < prior.stat().st_size
    small_cfg = CompactionConfig(
        now=NOW,
        direct_commit=True,
        target_file_size_gb=prior.stat().st_size / 2**30,
    )
    outcomes = LakeCompactor(spark, str(lake), small_cfg).compact()
    assert list(outcomes.values()) == ["compacted_2_files"]
    assert prior.exists()
    manifest = sidecar(spark, leaf).outputs
    outputs = {p.name for p in leaf.glob("merged-*.parquet")}
    assert prior.name in manifest  # the above-target output stays marked
    assert manifest == outputs


def test_in_pass_gc_reclaim_failure_reaches_outcomes(spark, lake):
    """A failed orphan-tmp reclaim during a normal compact() pass must
    surface in the pass outcomes (and through them main()'s non-zero
    exit), not just stdout — previously only the standalone ``gc``
    subcommand honored the alerting contract."""
    leaf = lake / "acct1" / "source=OCP" / "year=2024" / "month=01"
    for i in range(3):
        write_small_parquet(leaf / f"in-{i}.parquet", start=i * 100)
    orphan = leaf / ("_compact_tmp_" + "9" * 32)
    write_small_parquet(orphan / "part-0.parquet", start=0, mtime=OLD)
    os.utime(orphan, (OLD.timestamp(), OLD.timestamp()))

    c = compactor(spark, lake)
    real_delete = c.fs.delete

    def flaky_delete(path, recursive=False):
        if orphan.name in path:
            return False  # emulate an object-store delete denial
        return real_delete(path, recursive=recursive)

    c.fs.delete = flaky_delete
    outcomes = c.compact()
    assert outcomes.pop("__gc_orphan_tmp__") == "gc_1_reclaim_failed"
    assert list(outcomes.values()) == ["compacted_3_files"]
    assert orphan.exists()  # the litter is still there — hence the alert


# --------------------------------------------------------------------------
# Lake integrity audit (read-only)
# --------------------------------------------------------------------------


def test_audit_clean_lake_reports_nothing(spark, lake):
    leaf = lake / "acct1" / "source=OCP" / "year=2024" / "month=01"
    for i in range(4):
        write_small_parquet(leaf / f"in-{i}.parquet", start=i * 100)
    c = compactor(spark, lake)
    c.compact()
    report = c.audit()
    summary = report.pop("__summary__")
    assert report == {}  # no findings on a healthy just-compacted lake
    assert summary["leaves_with_findings"] == 0
    assert summary["leaves"] == 1 and summary["files"] >= 1


def test_audit_flags_drift_and_mutates_nothing(spark, lake):
    import os

    leaf = lake / "acct1" / "source=OCP" / "year=2024" / "month=01"
    for i in range(4):
        write_small_parquet(leaf / f"in-{i}.parquet", start=i * 100)
    c = compactor(spark, lake)
    c.compact()

    # Plant all three drift classes:
    # 1. a manifest that records a committed output that is gone (written
    #    through the compactor's writer: a raw write would leave the
    #    sidecar's Hadoop checksum stale);
    c._write_sidecar(
        str(leaf) + "/", Sidecar(frozenset({"merged-" + "a" * 32 + "-part-00000.parquet"}))
    )
    # 2. a pending-delete entry whose file is still present (duplicate
    #    rows live until the retry delete succeeds);
    write_small_parquet(leaf / "stale-original.parquet", start=900)
    (leaf / "_pending_deletes.manifest").write_text("stale-original.parquet\n")
    # 3. crash-orphaned merge temp litter.
    orphan = leaf / ("_compact_tmp_" + "b" * 32)
    orphan.mkdir()
    (orphan / "part-00000.parquet").write_bytes(b"junk")

    before = sorted(
        os.path.join(r, f)
        for r, _, fs in os.walk(lake)
        for f in fs
    )
    report = c.audit()
    after = sorted(
        os.path.join(r, f)
        for r, _, fs in os.walk(lake)
        for f in fs
    )
    assert after == before  # READ-ONLY: the audit never touches the lake

    (finding,) = [v for k, v in report.items() if k != "__summary__"]
    assert finding["manifest_missing"] == [
        "merged-" + "a" * 32 + "-part-00000.parquet"
    ]
    assert finding["pending_present"] == ["stale-original.parquet"]
    assert len(finding["orphan_tmp_dirs"]) == 1
    assert ("_compact_tmp_" + "b" * 32) in finding["orphan_tmp_dirs"][0]
    assert report["__summary__"]["leaves_with_findings"] == 1


def test_audit_cli_exit_codes(spark, lake, monkeypatch, capsys):
    import json as _json

    from parquet_compactor_spark import app

    leaf = lake / "acct1" / "source=OCP" / "year=2024" / "month=01"
    for i in range(2):
        write_small_parquet(leaf / f"in-{i}.parquet", start=i * 100)
    compactor(spark, lake).compact()
    monkeypatch.setenv("LAKE_ROOT", str(lake))
    assert app.main(["audit"]) == 0
    # Plant one drift class -> non-zero exit (the alerting contract).
    compactor(spark, lake)._write_sidecar(
        str(leaf) + "/", Sidecar(frozenset({"gone.parquet"}))
    )
    assert app.main(["audit"]) == 1
    out = capsys.readouterr().out.strip().splitlines()[-1]
    payload = _json.loads(out)
    assert payload["report"]["__summary__"]["leaves_with_findings"] == 1


def test_audit_reports_sidecar_of_a_leaf_without_data(spark, lake):
    """A leaf whose data files were all deleted while its sidecar remains
    is audited: every output its sidecar records is ``manifest_missing``."""
    leaf = lake / "acct1" / "source=OCP" / "year=2024" / "month=01"
    for i in range(3):
        write_small_parquet(leaf / f"in-{i}.parquet", start=i * 100)
    c = compactor(spark, lake)
    c.compact()
    (output,) = leaf.glob("merged-*.parquet")
    output.unlink()
    assert (leaf / "_compacted.manifest").exists()

    report = c.audit()
    summary = report.pop("__summary__")
    assert {k.rstrip("/"): v for k, v in report.items()} == {
        c.fs.qualified(str(leaf)): {"manifest_missing": [output.name]}
    }
    assert summary["leaves_with_findings"] == 1 and summary["files"] == 0


def test_sidecar_read_adopts_only_a_complete_tmp(spark, tmp_path):
    """``HadoopFS.write_text`` deletes the old file before it renames the
    ``.tmp`` into place. A crash between the two leaves only the ``.tmp``,
    which ``read_text`` adopts when it is complete; a first write that died
    part way (no end line) reads as no file, and a ``.tmp`` beside the file
    is ignored."""
    from parquet_compactor_spark.compactor.fs import HadoopFS

    fs = HadoopFS(spark, str(tmp_path))
    path = f"{tmp_path}/_compacted.manifest"
    assert fs.read_text(path) is None
    fs.write_text(path, "a.parquet\n_inflight:" + "f" * 32)
    assert fs.read_text(path) == "a.parquet\n_inflight:" + "f" * 32
    complete = (tmp_path / "_compacted.manifest").read_bytes()

    tmp = tmp_path / "_compacted.manifest.tmp"
    tmp.write_bytes(complete[:15])  # a write in progress beside the file
    assert fs.read_text(path) == "a.parquet\n_inflight:" + "f" * 32
    (tmp_path / "_compacted.manifest").unlink()
    (tmp_path / "._compacted.manifest.crc").unlink()
    assert fs.read_text(path) is None  # a partial first write
    tmp.write_bytes(complete)  # died between the delete and the rename
    assert fs.read_text(path) == "a.parquet\n_inflight:" + "f" * 32


def test_audit_reports_inflight_write_and_legacy_sidecar(spark, lake, monkeypatch):
    """An uncleared in-flight token (a merge that died before its commit
    point) and an earlier version's ``_pending_deletes.manifest`` are
    findings, so ``audit`` exits 1; the next pass resolves both."""
    from dataclasses import replace

    from parquet_compactor_spark import app

    leaf = lake / "acct1" / "source=OCP" / "year=2024" / "month=01"
    for i in range(2):
        write_small_parquet(leaf / f"in-{i}.parquet", start=i * 100)
    c = compactor(spark, lake)
    c.compact()
    leaf_uri = str(leaf) + "/"
    c._write_sidecar(leaf_uri, replace(c._read_sidecar(leaf_uri), token="e" * 32))
    (leaf / "_pending_deletes.manifest").write_text("in-0.parquet\n")

    report = c.audit()
    (finding,) = [v for k, v in report.items() if k != "__summary__"]
    assert finding["inflight_write"] == ["e" * 32]
    (legacy,) = finding["legacy_pending_sidecar"]
    assert legacy.endswith("/month=01/_pending_deletes.manifest")
    assert set(finding) == {"inflight_write", "legacy_pending_sidecar"}
    monkeypatch.setenv("LAKE_ROOT", str(lake))
    assert app.main(["audit"]) == 1

    assert list(c.compact().values()) == ["nothing_to_compact"]
    assert not (leaf / "_pending_deletes.manifest").exists()
    assert c._read_sidecar(leaf_uri).token is None
    report = c.audit()
    assert report.pop("__summary__")["leaves_with_findings"] == 0
    assert app.main(["audit"]) == 0
    assert read_ids(leaf) == list(range(200))


def test_legacy_lake_compacts_and_keeps_one_sidecar(spark, lake):
    """A lake an earlier version (or the reference) left behind: a
    line-format ``_compacted.manifest``, a ``_pending_deletes.manifest``,
    and reference-named ``{base}_<hex>`` and GCP priors. A pass reports
    the outcomes it always did, and afterwards each leaf has one sidecar;
    the pass after is a no-op."""
    ocp = lake / "acct1" / "source=OCP" / "year=2024" / "month=01"
    older, newer = (f"merged-{h * 32}-00000-{'0' * 8}-{'0' * 4}-{'0' * 4}-{'0' * 4}-"
                    f"{'0' * 12}-c000.snappy.parquet" for h in "ab")
    ref_prior = f"OCP_{'c' * 32}.parquet"
    write_small_parquet(ocp / older, start=1000, mtime=NOW - timedelta(days=30))
    write_small_parquet(ocp / ref_prior, start=1100, mtime=NOW - timedelta(days=20))
    write_small_parquet(ocp / newer, start=1200, mtime=NOW - timedelta(days=8))
    write_small_parquet(ocp / "stale-0.parquet", start=1200)  # its rows are in `newer`
    for i in range(2):
        write_small_parquet(ocp / f"in-{i}.parquet", start=i * 100)
    (ocp / "_compacted.manifest").write_text(f"{older}\n{newer}")
    (ocp / "_pending_deletes.manifest").write_text("stale-0.parquet\n")

    gcp = lake / "acct1" / "source=GCP" / "year=2024" / "month=01"
    for d, date in enumerate(["2024-01-10", "2024-01-11"]):
        write_small_parquet(gcp / f"202401_{date}_{str(d) * 32}.parquet", start=2000 + d * 100)
    write_small_parquet(gcp / "202401_2024-01-10_late0.parquet", start=2200)
    (gcp / "_pending_deletes.manifest").write_text("202401_2024-01-10_gone.parquet\n")

    # direct_commit=True: the config under which earlier versions read the
    # line-format manifest on a file:// lake.
    c = LakeCompactor(spark, str(lake), CompactionConfig(now=NOW, direct_commit=True))
    by_source = {k.split("source=")[1][:3]: v for k, v in c.compact().items()}
    assert by_source == {"OCP": "compacted_3_files", "GCP": "compacted_2_files"}
    ocp_names = {p.name for p in ocp.glob("*.parquet")}
    assert {older, ref_prior} <= ocp_names and len(ocp_names) == 3
    assert read_ids(ocp) == list(range(200)) + list(range(1000, 1300))
    gcp_names = {p.name for p in gcp.glob("*.parquet")}
    assert f"202401_2024-01-11_{'1' * 32}.parquet" in gcp_names and len(gcp_names) == 2
    assert read_ids(gcp) == list(range(2000, 2300))
    for leaf in (ocp, gcp):
        assert sorted(p.name for p in leaf.glob("*.manifest")) == ["_compacted.manifest"]
        state = sidecar(spark, leaf)
        assert state.pending == set() and state.token is None
    assert sidecar(spark, ocp).outputs == ocp_names - {ref_prior}
    assert sidecar(spark, gcp).outputs == {
        n for n in gcp_names if not n.endswith(f"{'1' * 32}.parquet")
    }
    assert sorted(c.compact().values()) == ["nothing_to_compact"] * 2


# --------------------------------------------------------------------------
# Row-group and schema audits (footers read through the Hadoop FileSystem)
# --------------------------------------------------------------------------


def test_scan_parquet_footers_matches_duckdb_metadata(spark):
    """Differential: the Hadoop footer reader (lake_footers) must agree with
    DuckDB's parquet_metadata() (an independent footer reader) on every
    row group of the sf0.001 fixture — rows, uncompressed bytes
    (footer total_byte_size == DuckDB row_group_bytes), summed
    column-chunk compressed bytes, and column count."""
    import glob

    import duckdb

    from parquet_compactor_spark.compactor import scan_parquet_footers

    paths = sorted(glob.glob("/root/testdata/sf0.001/*.parquet"))
    assert len(paths) >= 10
    got = {
        (r.path, r.row_group_id): (
            r.n_rows,
            r.compressed_bytes,
            r.uncompressed_bytes,
            r.n_columns,
            r.error,
        )
        for r in scan_parquet_footers(spark, paths).collect()
    }
    con = duckdb.connect()
    want = {
        (f, rid): (nr, comp, unc, nc, None)
        for f, rid, nr, comp, unc, nc in con.execute(
            """
            SELECT file_name, row_group_id,
                   any_value(row_group_num_rows),
                   sum(total_compressed_size)::BIGINT,
                   any_value(row_group_bytes),
                   any_value(row_group_num_columns)
            FROM parquet_metadata('/root/testdata/sf0.001/*.parquet')
            GROUP BY 1, 2
            """
        ).fetchall()
    }
    con.close()
    assert got == want


def test_scan_parquet_footers_degrades_row_wise(spark, tmp_path):
    """A corrupt file and a scheme whose Hadoop FileSystem is not on the
    classpath each yield ONE loud error row (row_group_id -1) carrying
    Hadoop's exception, while healthy files in the same call still
    resolve — an audit over 100k files must never die on one of them."""
    from parquet_compactor_spark.compactor import scan_parquet_footers

    good = tmp_path / "good.parquet"
    write_small_parquet(good, rows=50)
    corrupt = tmp_path / "corrupt.parquet"
    corrupt.write_bytes(b"not a parquet file at all PAR1?")
    remote = "s3a://bucket/key.parquet"

    rows = {
        r.path: r
        for r in scan_parquet_footers(
            spark, [str(good), str(corrupt), remote]
        ).collect()
    }
    assert len(rows) == 3
    assert rows[str(good)].error is None and rows[str(good)].n_rows == 50
    assert rows[str(corrupt)].row_group_id == -1
    assert "is not a Parquet file" in rows[str(corrupt)].error
    assert rows[remote].row_group_id == -1
    assert "S3AFileSystem not found" in rows[remote].error


def test_rowgroup_report_flags_tiny_rowgroups(spark, lake):
    """The pathology lake_report cannot see: one right-sized file built
    of tiny row groups is flagged; a healthy single-group file is not.
    The report reads footers only (a corrupt data page would not even be
    noticed — metadata-level audit by design)."""
    from parquet_compactor_spark.compactor import rowgroup_report

    tiny = lake / "acct1" / "source=OCP" / "year=2024" / "month=01"
    tiny.mkdir(parents=True, exist_ok=True)
    table = pa.table({"id": list(range(1000)), "val": [0.0] * 1000})
    pq.write_table(table, tiny / "in-0.parquet", row_group_size=100)

    healthy = lake / "acct1" / "source=GCP" / "year=2024" / "month=01"
    write_small_parquet(healthy / "in-0.parquet", rows=1000)

    rep = {
        r.leaf.rstrip("/").rsplit("/", 3)[-3]: r
        for r in rowgroup_report(
            spark, str(lake), min_rowgroup_rows=500
        ).collect()
    }
    bad = rep["source=OCP"]
    assert bad.n_files == 1 and bad.n_row_groups == 10
    assert bad.tiny_row_groups == 10 and bad.files_with_tiny_rgs == 1
    assert bad.tiny_rg_ratio == 1.0 and bad.avg_rg_rows == 100
    ok = rep["source=GCP"]
    assert ok.n_row_groups == 1 and ok.tiny_row_groups == 0
    assert ok.n_rows == 1000 and ok.error_files == 0


def test_scan_parquet_schemas_fingerprints_and_degrades(spark, tmp_path):
    """Same-schema files share a fingerprint, any column or type change
    breaks it, and a corrupt file or a scheme whose Hadoop FileSystem is
    not on the classpath degrades to one loud error row each, carrying
    Hadoop's exception — the grouping invariant schema_drift_report is
    built on."""
    from parquet_compactor_spark.compactor import scan_parquet_schemas

    a1 = tmp_path / "a1.parquet"
    a2 = tmp_path / "a2.parquet"
    write_small_parquet(a1, rows=5)
    write_small_parquet(a2, start=100, rows=50)  # same schema, other data
    extra = tmp_path / "extra.parquet"
    pq.write_table(
        pa.table({"id": [1], "val": [1.0], "extra": ["x"]}), extra
    )
    retyped = tmp_path / "retyped.parquet"
    pq.write_table(
        pa.table({"id": [1], "val": ["now a string"]}), retyped
    )
    corrupt = tmp_path / "corrupt.parquet"
    corrupt.write_bytes(b"PAR1 this is not really parquet")

    rows = {
        r.path: r
        for r in scan_parquet_schemas(
            spark,
            [str(a1), str(a2), str(extra), str(retyped), str(corrupt),
             "s3a://elsewhere/x.parquet"],
        ).collect()
    }
    assert len(rows) == 6
    assert rows[str(a1)].schema_fp == rows[str(a2)].schema_fp
    assert rows[str(a1)].columns == "id:bigint\nval:double"
    assert rows[str(extra)].schema_fp != rows[str(a1)].schema_fp
    assert rows[str(retyped)].schema_fp != rows[str(a1)].schema_fp
    assert rows[str(retyped)].columns == "id:bigint\nval:string"
    assert "is not a Parquet file" in rows[str(corrupt)].error
    assert rows[str(corrupt)].n_columns == -1
    remote = rows["s3a://elsewhere/x.parquet"]
    assert remote.n_columns == -1
    assert "S3AFileSystem not found" in remote.error


def test_scan_parquet_schemas_matches_duckdb_schema(spark):
    """Differential vs DuckDB's parquet_schema() (an independent footer
    reader) on the sf0.001 fixture: per file, the same column NAME set
    and count — and files DuckDB reports as column-identical share a
    fingerprint."""
    import glob

    import duckdb

    from parquet_compactor_spark.compactor import scan_parquet_schemas

    paths = sorted(glob.glob("/root/testdata/sf0.001/*.parquet"))
    got = {
        r.path: r for r in scan_parquet_schemas(spark, paths).collect()
    }
    con = duckdb.connect()
    # DESCRIBE gives the TOP-LEVEL column view (parquet_schema flattens
    # nested list nodes to their leaves, which is not what a merge
    # compatibility check compares).
    want: dict[str, list[str]] = {
        f: [
            r[0]
            for r in con.execute(
                "DESCRIBE SELECT * FROM read_parquet(?)", [f]
            ).fetchall()
        ]
        for f in paths
    }
    con.close()
    assert set(got) == set(want)
    for f, names in want.items():
        mine = [c.split(":", 1)[0] for c in got[f].columns.split("\n")]
        assert sorted(mine) == sorted(names), f
        assert got[f].n_columns == len(names)
        assert got[f].error is None


def test_schema_drift_report_flags_mixed_leaves(spark, lake):
    """A leaf whose files disagree (added column + type change) is
    flagged with its drift columns; a uniform leaf reads clean."""
    from parquet_compactor_spark.compactor import schema_drift_report

    clean = lake / "acct1" / "source=OCP" / "year=2024" / "month=01"
    for i in range(2):
        write_small_parquet(clean / f"c{i}.parquet", start=i * 10)
    drifty = lake / "acct1" / "source=OCP" / "year=2024" / "month=02"
    write_small_parquet(drifty / "d0.parquet")
    pq.write_table(
        pa.table({"id": [1], "val": [1.0], "extra": ["x"]}),
        drifty / "d1.parquet",
    )
    pq.write_table(
        pa.table({"id": [1], "val": ["s"]}), drifty / "d2.parquet"
    )

    rows = {
        r.leaf.rstrip("/").rsplit("/", 1)[-1]: r
        for r in schema_drift_report(spark, str(lake)).collect()
    }
    c = rows["month=01"]
    assert (c.n_schemas, c.drifted_files, c.n_drift_columns) == (1, 0, 0)
    assert c.drift_columns == ""
    d = rows["month=02"]
    assert d.n_files == 3 and d.n_schemas == 3
    # majority is any of the three singleton schemas; two files drift
    assert d.majority_files == 1 and d.drifted_files == 2
    # 'extra' differs by presence, 'val' by type (two tokens), 'id' by
    # presence only in the two-column file? No: id:int64 is in all
    # three. So drift columns are exactly {extra, val}.
    assert d.drift_columns == "extra,val" and d.n_drift_columns == 2


def test_schema_drift_tokens_survive_commas_inside_type_strings(spark, lake):
    """pyarrow type strings legally contain commas (decimal128(10, 2),
    struct<a: int64, b: string>) — the drift tokenization must not
    split inside them: a drifting decimal/struct column reports its
    NAME cleanly, never type fragments."""
    import decimal

    from parquet_compactor_spark.compactor import schema_drift_report

    leaf = lake / "acct1" / "source=OCP" / "year=2024" / "month=03"
    leaf.mkdir(parents=True, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "id": [1],
                "price": pa.array(
                    [decimal.Decimal("1.23")], pa.decimal128(10, 2)
                ),
                "meta": pa.array(
                    [{"a": 1, "b": "x"}],
                    pa.struct([("a", pa.int64()), ("b", pa.string())]),
                ),
            }
        ),
        leaf / "rich.parquet",
    )
    pq.write_table(pa.table({"id": [2]}), leaf / "plain.parquet")

    rows = {r.leaf: r for r in schema_drift_report(spark, str(lake)).collect()}
    (row,) = rows.values()
    assert row.n_schemas == 2 and row.drifted_files == 1
    assert row.drift_columns == "meta,price" and row.n_drift_columns == 2
