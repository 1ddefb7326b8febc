"""Correctness gate: checks the program's outputs outside the timed region.

Every check returns a list of failure strings (empty = pass); the caller
counts each failed check toward ``failed``.

- Compaction: each leaf's row multiset is preserved (order-insensitive
  digest), no output file holds more than ``chunked_rows`` rows, every
  leaf reports the outcome the lake generator planned, and a second pass
  over the compacted lake is a no-op.
- Query mix: each query's collected rows equal its registered DuckDB
  oracle's (column names, row count and value multiset), compared by the
  project's own oracle harness (``tests/oracle_utils.py``).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq


def data_files(leaf_dir: str) -> list[str]:
    """Parquet files a reader of the leaf sees (hidden names skipped)."""
    return sorted(
        os.path.join(leaf_dir, n)
        for n in os.listdir(leaf_dir)
        if n.endswith(".parquet") and not n.startswith(("_", "."))
        and os.path.isfile(os.path.join(leaf_dir, n))
    )


def _row_hashes(table: pa.Table) -> np.ndarray:
    cols = {}
    for name in table.column_names:
        col = table[name]
        if pa.types.is_timestamp(col.type):
            col = col.cast(pa.int64())
        cols[name] = col.to_numpy(zero_copy_only=False)
    return pd.util.hash_pandas_object(pd.DataFrame(cols), index=False).to_numpy()


def row_digest(paths: list[str]) -> tuple[int, int]:
    """(rows, order-insensitive multiset digest) over ``paths``."""
    rows = digest = 0
    for p in paths:
        t = pq.read_table(p)
        rows += t.num_rows
        digest = (digest + int(_row_hashes(t).sum(dtype=np.uint64))) % 2**64
    return rows, digest


def check_leaves(
    root: str,
    expected_digests: dict[str, tuple[int, int]],
    chunked_rows: int,
    inputs: set[str],
) -> tuple[list[str], int, int]:
    """Row multisets and the per-file row cap after a pass. The cap is
    checked on the files the pass wrote (relative paths not in ``inputs``).

    Returns (failures, output files in the lake, output bytes)."""
    failures: list[str] = []
    files_out = bytes_out = 0
    for leaf, want in sorted(expected_digests.items()):
        paths = data_files(os.path.join(root, leaf))
        files_out += len(paths)
        bytes_out += sum(os.path.getsize(p) for p in paths)
        got = row_digest(paths)
        if got != want:
            failures.append(f"{leaf}: rows/digest {got} != {want}")
        for p in paths:
            if os.path.relpath(p, root) in inputs:
                continue
            n = pq.ParquetFile(p).metadata.num_rows
            if n > chunked_rows:
                failures.append(f"{p}: {n} rows > chunked_rows {chunked_rows}")
    return failures, files_out, bytes_out


def check_outcomes(root: str, outcomes: dict[str, str], expected: dict[str, str]) -> list[str]:
    """Each leaf's reported outcome equals the generator's plan."""
    prefix = "file:" + os.path.abspath(root).rstrip("/") + "/"
    got = {k[len(prefix):] if k.startswith(prefix) else k: v for k, v in outcomes.items()}
    if got == expected:
        return []
    bad = sorted(set(got) | set(expected))
    return [f"outcome {k}: {got.get(k)} != {expected.get(k)}"
            for k in bad if got.get(k) != expected.get(k)][:5]


def listing(root: str) -> dict[str, int]:
    """Every file under ``root`` (hidden included) with its size."""
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            out[os.path.relpath(p, root)] = os.path.getsize(p)
    return out


def check_noop(before: dict[str, int], after: dict[str, int], outcomes: dict[str, str]) -> list[str]:
    """A second pass over a compacted lake changes nothing."""
    failures = [f"second pass merged {k}: {v}" for k, v in outcomes.items()
                if v.startswith("compacted")][:5]
    if before != after:
        failures.append("second pass changed the lake's files")
    return failures


# -- query oracle ----------------------------------------------------------


def check_oracle(name: str, df, oracle_sql: str, sf_dir: str) -> list[str]:
    """Collect ``df`` and compare it with DuckDB running ``oracle_sql``."""
    from tests.oracle_utils import compare_to_oracle

    try:
        compare_to_oracle(df, oracle_sql, sf_dir)
    except AssertionError as err:
        return [f"{name}: {str(err)[:200]}"]
    return []
