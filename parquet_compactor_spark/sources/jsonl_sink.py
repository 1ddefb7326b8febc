"""Custom PySpark DataSource WRITER: a two-phase-commit JSON-lines sink.

Completes the custom-source story started by ``sources/eventgen.py``
(reader + stream reader): this is the WRITE half of the Python
DataSource API (Spark 4) — ``df.write.format("jsonlsink").save(path)``
runs one ``write()`` per partition on the executors and a single
``commit()``/``abort()`` on the driver — the two-phase protocol the
reference performs implicitly via write-once-with-final-name
(parquet_compactor.py:161-171).

Commit protocol (the point of the exercise):
- each task streams its rows to ``part-<uuid>.jsonl.tmp`` — a name no
  reader ever matches — and returns the tmp name in its commit message;
- the driver's ``commit()`` renames every tmp to its final
  ``part-<uuid>.jsonl`` name and then writes ``_SUCCESS``; a reader that
  requires ``_SUCCESS`` sees either the whole job or none of it, and a
  crashed job leaves only ``.tmp`` litter that the next
  ``mode("overwrite")`` commit sweeps, age-gated — sparing its own
  staged files and any fresh ``.tmp`` a concurrent live job may be
  staging (the orphan-tmp discipline the compactor applies,
  ``gc_orphan_tmp_dirs``);
- ``abort()`` deletes whatever tmp files the failed job managed to
  write.

Serialization: values are JSON-encoded with timestamps/dates as ISO
strings, binary as hex, Decimal as str — deterministic and
re-parseable. Rows stream through without buffering the partition in
memory.

Scope: executor-local filesystem paths (the Python worker writes with
plain ``open``). On an object store this sink would swap ``open`` for
an fsspec handle and the rename-commit for the store's multipart
complete — the PROTOCOL above is unchanged, which is the pattern this
module exists to pin down. Spark cannot guarantee exactly-once across
retries for a custom sink by itself; the uuid-per-task tmp names make
retried tasks idempotent (the duplicate tmp is simply never committed —
only the attempt whose message reaches commit() is renamed).
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamWriter,
    DataSourceWriter,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType


def _json_cell(v):
    import datetime
    import decimal

    from pyspark.sql import Row

    if isinstance(v, Row):
        # Row subclasses tuple; without this it would serialize as a
        # positional array, dropping the struct's field names.
        return {k: _json_cell(x) for k, x in v.asDict().items()}
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, dict):
        return {k: _json_cell(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_json_cell(x) for x in v]
    return v


@dataclass
class _Committed(WriterCommitMessage):
    tmp_name: str


def _write_partition(path: str, iterator: Iterator) -> _Committed:
    """One task's half of the protocol, shared by the batch and streaming
    writers: stream rows to a uuid-named ``.tmp`` the commit will rename."""
    os.makedirs(path, exist_ok=True)
    tmp_name = f"part-{uuid.uuid4().hex}.jsonl.tmp"
    with open(os.path.join(path, tmp_name), "w", encoding="utf-8") as fh:
        for row in iterator:
            fh.write(json.dumps(_json_cell(row.asDict()), sort_keys=True))
            fh.write("\n")
    return _Committed(tmp_name=tmp_name)


def _remove_tmps(path: str, messages) -> None:
    """Shared abort: delete whatever this job's failed attempt staged."""
    for m in messages:
        if m is None:
            continue
        tmp = os.path.join(path, m.tmp_name)
        if os.path.exists(tmp):
            os.remove(tmp)


class JsonlWriter(DataSourceWriter):
    def __init__(self, options: dict, overwrite: bool) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("jsonlsink requires a save path")
        self.overwrite = overwrite

    # -- executor side -----------------------------------------------------

    def write(self, iterator: Iterator) -> _Committed:
        return _write_partition(self.path, iterator)

    # -- driver side -------------------------------------------------------

    #: A .tmp this much older than the sweeping commit is crashed-job
    #: litter, not a concurrent live job's staged file (live tasks wrote
    #: theirs within their job's runtime). Same age-gate discipline as
    #: the compactor's gc_orphan_tmp_dirs.
    TMP_LITTER_AGE_S = 3600.0

    def commit(self, messages) -> None:
        # A zero-task job (empty/zero-partition frame) reaches commit
        # without any task having created the directory — the sweep's
        # listdir and the _SUCCESS write below both need it to exist
        # (same guard as the avro sink).
        os.makedirs(self.path, exist_ok=True)
        # Overwrite truncates like Spark's file sinks; policy shared
        # with the avro sink (sink_common.truncate_for_overwrite):
        # every non-hidden entry goes, sparing this job's own staging,
        # ANY format's fresh tmp (possibly a concurrent live job), and
        # hidden entries; stale crashed-job tmp litter is reclaimed.
        if self.overwrite:
            from parquet_compactor_spark.sources.sink_common import (
                truncate_for_overwrite,
            )

            own = {m.tmp_name for m in messages if m is not None}
            truncate_for_overwrite(self.path, own, self.TMP_LITTER_AGE_S)
        for m in messages:
            if m is None:
                continue
            tmp = os.path.join(self.path, m.tmp_name)
            os.rename(tmp, tmp[: -len(".tmp")])
        with open(os.path.join(self.path, "_SUCCESS"), "w") as fh:
            fh.write("")

    def abort(self, messages) -> None:
        _remove_tmps(self.path, messages)


class JsonlStreamWriter(DataSourceStreamWriter):
    """The streaming half: one two-phase commit PER MICRO-BATCH.

    Committed files are ``batch-<id>-part-<uuid>.jsonl`` so each epoch's
    output is identifiable; re-delivery of an epoch after a crash-replay
    first clears that epoch's previously-committed files (idempotent
    re-commit — Structured Streaming replays a batch whose commit wasn't
    recorded in the checkpoint, and without the sweep its rows would
    double)."""

    def __init__(self, options: dict) -> None:
        self.path = options.get("path") or options.get("checkpointpath_sink")
        if not self.path:
            raise ValueError("jsonlsink requires a path option")

    def write(self, iterator: Iterator) -> _Committed:
        return _write_partition(self.path, iterator)

    def commit(self, messages, batchId: int) -> None:
        prefix = f"batch-{batchId}-"
        for name in os.listdir(self.path):
            if name.startswith(prefix) and name.endswith(".jsonl"):
                os.remove(os.path.join(self.path, name))  # replayed epoch
        for m in messages:
            if m is None:
                continue
            tmp = os.path.join(self.path, m.tmp_name)
            os.rename(tmp, os.path.join(self.path, prefix + m.tmp_name[: -len(".tmp")]))

    def abort(self, messages, batchId: int) -> None:
        _remove_tmps(self.path, messages)


class JsonlSinkDataSource(DataSource):
    """``spark.dataSource.register(JsonlSinkDataSource)`` then
    ``df.write.format("jsonlsink").mode(...).save(path)``."""

    @classmethod
    def name(cls) -> str:
        return "jsonlsink"

    def writer(self, schema: StructType, overwrite: bool) -> JsonlWriter:
        return JsonlWriter(self.options, overwrite)

    def streamWriter(self, schema: StructType, overwrite: bool) -> JsonlStreamWriter:
        return JsonlStreamWriter(self.options)
