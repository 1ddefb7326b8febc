"""Config resolution + entry-point + parallel compaction tests."""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta, timezone

import pytest

from parquet_compactor_spark.compactor import CompactionConfig, LakeCompactor
from parquet_compactor_spark.config import EngineSettings, from_env
from tests.test_compactor import NOW, OLD, write_small_parquet


def test_from_env_defaults():
    s = from_env(env={})
    assert s.data_prefix == "data/parquet"
    assert s.compaction.target_file_size_gb == 0.3
    assert s.compaction.chunked_rows == 1_000_000
    assert s.compaction.skip_source_types_current_month == ["AWS", "Azure"]
    assert s.compaction.hold_back_days == 5
    with pytest.raises(ValueError):
        s.resolved_root()


def test_from_env_overrides():
    s = from_env(
        env={
            "REQUESTED_BUCKET": "lake",
            "DATA_PREFIX": "d/p",
            "TARGET_FILE_SIZE_GB": "0.5",
            "CHUNKED_ROWS": "1000",
            "SKIP_SOURCE_TYPE_CURRENT_MONTH": "AWS,GCP",
            "COMPACTION_HOLD_BACK_DAYS": "2",
        }
    )
    assert s.resolved_root() == "s3a://lake/d/p"
    assert s.compaction.target_file_size_gb == 0.5
    assert s.compaction.chunked_rows == 1000
    assert s.compaction.skip_source_types_current_month == ["AWS", "GCP"]
    assert s.compaction.hold_back_days == 2


def test_lake_root_override_wins():
    s = from_env(env={"LAKE_ROOT": "/tmp/lake", "REQUESTED_BUCKET": "ignored"})
    assert s.resolved_root() == "/tmp/lake"


def test_app_main_runs_compaction(spark, tmp_path, monkeypatch, capsys):
    # main() builds its own session via get_spark → reuses the fixture's.
    lake = tmp_path / "data" / "parquet"
    leaf = lake / "acct" / "source=OCP" / "year=2024" / "month=01"
    for i in range(3):
        write_small_parquet(leaf / f"in-{i}.parquet", start=i * 100)

    import parquet_compactor_spark.app as app

    monkeypatch.setenv("LAKE_ROOT", str(lake))
    # Freeze the clock the same way the compactor tests do.
    monkeypatch.setattr(
        app,
        "resolve",
        lambda requested_bucket="": EngineSettings(
            lake_root=str(lake), compaction=CompactionConfig(now=NOW)
        ),
    )
    try:
        rc = app.main()
    finally:
        # Drop the stdout log handler main() installed: it points at the
        # capsys stream, which closes with this test.
        import logging

        root = logging.getLogger()
        for h in [h for h in root.handlers if getattr(h, "_pcs_app", False)]:
            root.removeHandler(h)
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert list(out["leaves"].values()) == ["compacted_3_files"]


def test_parallel_compaction_matches_sequential(spark, tmp_path):
    lake = tmp_path / "data" / "parquet"
    for a in range(4):
        leaf = lake / f"acct{a}" / "source=OCP" / "year=2024" / "month=01"
        for i in range(3):
            write_small_parquet(leaf / f"in-{i}.parquet", start=i * 100)

    c = LakeCompactor(spark, str(lake), CompactionConfig(now=NOW))
    outcomes = c.compact(max_concurrency=4)
    assert sorted(outcomes.values()) == ["compacted_3_files"] * 4
    # Second parallel pass is a no-op (idempotence holds under concurrency).
    assert sorted(c.compact(max_concurrency=4).values()) == ["nothing_to_compact"] * 4


def test_app_explain_subcommand(capsys):
    import parquet_compactor_spark.app as app

    rc = app.main(["explain", "q_agg_pricing", "/root/testdata/sf0.001"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "Physical Plan" in out
    assert "PushedFilters" in out

    rc = app.main(["explain", "q_no_such_query"])
    assert rc == 2
    assert "unknown query" in capsys.readouterr().out


def test_app_gc_subcommand_runs_deep_sweep(spark, tmp_path, monkeypatch, capsys):
    import json as _json

    import parquet_compactor_spark.app as app

    lake = tmp_path / "data" / "parquet"
    leaf = lake / "acct" / "source=OCP" / "year=2024" / "month=01"
    orphan = leaf / ("_compact_tmp_" + "e" * 32)
    write_small_parquet(orphan / "part-0.parquet", start=0, mtime=OLD)
    os.utime(orphan, (OLD.timestamp(), OLD.timestamp()))

    monkeypatch.setattr(
        app,
        "resolve",
        lambda requested_bucket="": EngineSettings(
            lake_root=str(lake), compaction=CompactionConfig(now=NOW)
        ),
    )
    rc = app.main(["gc", "24"])
    out = capsys.readouterr().out
    assert rc == 0
    payload = _json.loads(out.strip().splitlines()[-1])
    assert len(payload["reclaimed"]) == 1
    assert not orphan.exists()


def test_app_report_subcommand(spark, tmp_path, monkeypatch, capsys):
    """`report` prints per-leaf small-file stats ranked by reclaimable
    files and exits 0 even with findings (scheduler input, not an
    alarm); --rowgroups adds the footer-scan table."""
    import json as _json

    import parquet_compactor_spark.app as app

    lake = tmp_path / "data" / "parquet"
    leaf = lake / "acct" / "source=OCP" / "year=2024" / "month=01"
    for i in range(4):
        write_small_parquet(leaf / f"in-{i}.parquet", start=i * 100)

    monkeypatch.setattr(
        app,
        "resolve",
        lambda requested_bucket="": EngineSettings(
            lake_root=str(lake), compaction=CompactionConfig(now=NOW)
        ),
    )
    try:
        rc = app.main(["report", "--rowgroups"])
        out = capsys.readouterr().out
        assert rc == 0
        payload = _json.loads(out.strip().splitlines()[-1])
        (stats,) = payload["leaves"]
        assert stats["n_files"] == 4 and stats["reclaimable_files"] == 3
        (rg,) = payload["rowgroups"]
        assert rg["n_files"] == 4 and rg["n_row_groups"] == 4
        assert rg["error_files"] == 0

        assert app.main(["report", "--bogus"]) == 2
    finally:
        import logging

        root = logging.getLogger()
        for h in [h for h in root.handlers if getattr(h, "_pcs_app", False)]:
            root.removeHandler(h)


def test_app_report_reads_each_footer_once(spark, tmp_path, monkeypatch, capsys):
    """`report --rowgroups --schema-drift` reads each file's footer once,
    for both tables, as the lake walk is shared by every table."""
    import json as _json
    import logging

    import parquet_compactor_spark.app as app
    from parquet_compactor_spark.compactor.fs import HadoopFS

    lake = tmp_path / "data" / "parquet"
    for month in ("01", "02"):
        leaf = lake / "acct" / "source=OCP" / "year=2024" / f"month={month}"
        for i in range(3):
            write_small_parquet(leaf / f"in-{i}.parquet", start=i * 100)
    monkeypatch.setattr(
        app,
        "resolve",
        lambda requested_bucket="": EngineSettings(
            lake_root=str(lake), compaction=CompactionConfig(now=NOW)
        ),
    )
    reads: list[str] = []
    read_footer = HadoopFS.read_footer

    def counting(self, path, converter):
        reads.append(path)
        return read_footer(self, path, converter)

    monkeypatch.setattr(HadoopFS, "read_footer", counting)
    try:
        assert app.main(["report", "--rowgroups", "--schema-drift"]) == 0
        payload = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert [r["n_row_groups"] for r in payload["rowgroups"]] == [3, 3]
        assert [r["n_schemas"] for r in payload["schema_drift"]] == [1, 1]
        assert len(reads) == 6 and len(set(reads)) == 6
    finally:
        root = logging.getLogger()
        for h in [h for h in root.handlers if getattr(h, "_pcs_app", False)]:
            root.removeHandler(h)
