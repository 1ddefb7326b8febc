"""Seeded Parquet lakes for the compaction workloads.

A lake is described by a list of :class:`Leaf` records (directory, file
names, row counts, modification times and the outcome a compaction pass
must report for it). ``build_lake`` turns the description into files:
the same seed gives byte-identical Parquet files and identical mtimes,
so every run of one seed hands the compactor the same input.

Rows follow the lineitem shape of the query fixtures (ints, doubles,
two flag strings and a naive microsecond timestamp), the table the
reference's daily job compacts most of.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: The injected clock of every compaction pass. Leaf mtimes and
#: current-month paths are laid out relative to it, so outcomes depend
#: only on the seed, never on the wall clock.
NOW = datetime(2026, 3, 15, 12, 0, tzinfo=timezone.utc)


@dataclass(frozen=True)
class Leaf:
    path: str  # relative to the lake root, ends with "/"
    files: tuple[str, ...]
    rows: tuple[int, ...]
    mtimes: tuple[float, ...]  # epoch seconds
    expected: str  # outcome string compact() must report
    #: Names in the leaf's ``_compacted.manifest`` (none: no manifest).
    manifest: tuple[str, ...] = ()


def lineitem_rows(rng: np.random.Generator, n: int) -> pa.Table:
    """``n`` lineitem-shaped rows drawn from ``rng``."""
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2100.0, n), 2)
    days = rng.integers(0, 2500, n)
    ship = np.datetime64("1995-01-02") + days.astype("timedelta64[D]")
    return pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, 1 << 40, n), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, 200_000, n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, 10_000, n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": price,
            "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
            "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us")),
        }
    )


def _mtimes(rng: np.random.Generator, n: int, min_days: int, max_days: int) -> tuple[float, ...]:
    """``n`` whole-second mtimes between ``min_days`` and ``max_days``
    before ``NOW``."""
    return tuple((NOW - timedelta(days=int(d), seconds=int(s))).timestamp()
                 for d, s in zip(rng.integers(min_days, max_days, n), rng.integers(0, 86400, n)))


def _old(rng: np.random.Generator, n: int) -> tuple[float, ...]:
    """mtimes safely past the 5-day hold-back."""
    return _mtimes(rng, n, 8, 40)


def _fresh(rng: np.random.Generator, n: int) -> tuple[float, ...]:
    """mtimes inside the hold-back window (still being written)."""
    return _mtimes(rng, n, 0, 3)


def _hex(rng: np.random.Generator) -> str:
    return rng.bytes(16).hex()


def _merged_name(rng: np.random.Generator) -> str:
    """A direct-commit output name: ``merged-<hex>`` job basename plus
    Spark's task suffix, as ``_write_merged_direct`` leaves it."""
    return f"merged-{_hex(rng)}-00000-{_hex(rng)}-c000.snappy.parquet"


def daily_lake(seed: int, merge_leaves: int, incremental_leaves: int,
               rows_per_file: int) -> list[Leaf]:
    """A lake shaped like one day of the reference's CronJob, scaled down.

    Most leaves merge: ``merge_leaves`` hold 3-5 small old files, and
    ``incremental_leaves`` hold the usual daily state of a leaf compacted
    before: an older and a newer prior ``merged-*`` output listed in
    ``_compacted.manifest`` (with one stale entry the pass prunes) plus
    two new old files, so the newest prior output is re-merged with
    them. One leaf each sits in the steady states a daily pass walks
    past: already compacted (a lone manifest-listed output), only fresh
    files (held back), current-month AWS (skipped); a GCP leaf merges
    per date.
    """
    rng = np.random.default_rng([seed, 2])
    sources = ("OCP", "AWS", "Azure")
    out: list[Leaf] = []

    def rows(n: int, scale: int = 1) -> tuple[int, ...]:
        jitter = rng.integers(-rows_per_file // 10, rows_per_file // 10 + 1, n)
        return tuple(int(scale * (rows_per_file + j)) for j in jitter)

    # Files per merging leaf: a seeded order of a fixed 3..5 cycle, so
    # every seed merges the same number of files in total.
    counts = rng.permutation([3 + i % 3 for i in range(merge_leaves)])
    for i, n in enumerate(int(c) for c in counts):
        src = sources[i % 3]
        path = f"org{i:03d}/source={src}/year=2026/month={i % 2 + 1:02d}/"
        names = tuple(f"{_hex(rng)}_{j}.parquet" for j in range(n))
        out.append(Leaf(path, names, rows(n), _old(rng, n), f"compacted_{n}_files"))
    for i in range(incremental_leaves):
        path = f"inc{i:03d}/source={sources[i % 3]}/year=2026/month=02/"
        older, newer, stale = (_merged_name(rng) for _ in range(3))
        new = tuple(f"{_hex(rng)}_{j}.parquet" for j in range(2))
        mtimes = _mtimes(rng, 1, 30, 40) + _mtimes(rng, 1, 15, 25) + _old(rng, 2)
        out.append(Leaf(path, (older, newer) + new, rows(1, 3) + rows(1, 2) + rows(2),
                        mtimes, "compacted_3_files", manifest=(older, newer, stale)))
    prior = _merged_name(rng)
    out.append(Leaf("done000/source=OCP/year=2026/month=01/", (prior,), rows(1, 4),
                    _old(rng, 1), "nothing_to_compact", manifest=(prior,)))
    names = tuple(f"{_hex(rng)}_{j}.parquet" for j in range(3))
    out.append(Leaf("fresh000/source=Azure/year=2026/month=02/", names, rows(3),
                    _fresh(rng, 3), "nothing_to_compact"))
    names = tuple(f"{_hex(rng)}_{j}.parquet" for j in range(4))
    out.append(Leaf(f"cur000/source=AWS/year={NOW:%Y}/month={NOW:%m}/", names, rows(4),
                    _old(rng, 4), "skipped_current_month"))
    names = tuple(f"202601_2026-01-{d:02d}_{j}.parquet" for d in (3, 4) for j in range(3))
    out.append(Leaf("gcp000/source=GCP/year=2026/month=01/", names, rows(6), _old(rng, 6),
                    "compacted_6_files"))
    return out


def merged_files(leaf: Leaf) -> dict[str, int]:
    """Files (name -> rows) the pass merges in ``leaf``; the older prior
    output of an incremental leaf (its first file) stays as it is."""
    if not leaf.expected.startswith("compacted"):
        return {}
    first = 1 if leaf.manifest else 0
    return dict(zip(leaf.files[first:], leaf.rows[first:]))


def build_lake(root: str, leaves: list[Leaf], seed: int) -> None:
    """Write ``leaves`` under ``root`` (replacing it) with their mtimes."""
    shutil.rmtree(root, ignore_errors=True)
    rng = np.random.default_rng([seed, 3])
    for leaf in leaves:
        d = os.path.join(root, leaf.path)
        os.makedirs(d)
        for name, n, mtime in zip(leaf.files, leaf.rows, leaf.mtimes):
            p = os.path.join(d, name)
            pq.write_table(lineitem_rows(rng, n), p, compression="snappy")
            os.utime(p, (mtime, mtime))
        if leaf.manifest:
            p = os.path.join(d, "_compacted.manifest")
            with open(p, "w") as fh:
                fh.write("\n".join(sorted(leaf.manifest)))
            os.utime(p, (leaf.mtimes[-1], leaf.mtimes[-1]))


def copy_lake(src: str, dst: str) -> None:
    """Fresh copy of a built lake for one pass (keeps mtimes)."""
    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(src, dst, copy_function=shutil.copy2)


def expected_histogram(leaves: list[Leaf]) -> dict[str, int]:
    hist: dict[str, int] = {}
    for leaf in leaves:
        hist[leaf.expected] = hist.get(leaf.expected, 0) + 1
    return dict(sorted(hist.items()))
