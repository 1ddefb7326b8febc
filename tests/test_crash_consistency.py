"""Crash consistency of the compactor's commit protocol.

Each mutation a pass makes is a point where the pass is made to fail (an
exception) or to crash (a ``BaseException`` that no cleanup catches, as
when the process is killed). The mutations are every ``create``, ``delete``
and ``rename`` on the Hadoop FileSystem (so the steps inside
``HadoopFS.write_text`` too), a sidecar write that stops half way, and each
Spark write: before it runs, after it returns, and after it returns with
one output gone (a job commit that died part way).

The pass runs over three leaves: an OCP leaf, an incremental leaf with a
line-format manifest, a prior output and an earlier version's
``_pending_deletes.manifest``, and a two-date GCP leaf. After the failed or
crashed pass a recovery pass runs; then every leaf must hold exactly its
original rows, ``audit()`` must find nothing, and one more pass must change
nothing. All cases share the test session's Spark session.
"""

from __future__ import annotations

import os
import threading
from collections import Counter
from pathlib import Path

import pyarrow.parquet as pq
import pytest

from parquet_compactor_spark.compactor import CompactionConfig, LakeCompactor
from tests.test_compactor import NOW, OLD, write_small_parquet

CFG = CompactionConfig(now=NOW)


class Crash(BaseException):
    """A crash: nothing in the compactor catches it."""


# -- the lake ----------------------------------------------------------------

OCP = "acct1/source=OCP/year=2024/month=01"
INC = "acct2/source=Azure/year=2024/month=02"
GCP = "acct3/source=GCP/year=2024/month=01"
PRIOR = (
    f"merged-{'a' * 32}-00000-{'0' * 8}-{'0' * 4}-{'0' * 4}-{'0' * 4}-{'0' * 12}"
    "-c000.snappy.parquet"
)


def build_lake(root: Path) -> dict[str, list[int]]:
    """The three leaves under ``root``; returns each leaf's ids."""
    for i in range(4):
        write_small_parquet(root / OCP / f"in-{i}.parquet", start=i * 100)
    inc = root / INC
    write_small_parquet(inc / PRIOR, start=1000, mtime=OLD)
    for i in range(2):
        write_small_parquet(inc / f"new-{i}.parquet", start=1100 + i * 100)
    (inc / "_compacted.manifest").write_text(PRIOR)
    (inc / "_pending_deletes.manifest").write_text("gone-0.parquet\n")
    for d, date in enumerate(["2024-01-10", "2024-01-11"]):
        for i in range(2):
            write_small_parquet(
                root / GCP / f"202401_{date}_{d}{i}x.parquet", start=2000 + (d * 2 + i) * 100
            )
    return {OCP: list(range(400)), INC: list(range(1000, 1300)), GCP: list(range(2000, 2400))}


def visible_ids(leaf: Path) -> list[int]:
    """Ids in the files a reader of the leaf sees (hidden names skipped)."""
    ids: list[int] = []
    for p in leaf.glob("*.parquet"):
        if not p.name.startswith(("_", ".")):
            ids += pq.read_table(p).column("id").to_pylist()
    return sorted(ids)


def listing(root: Path) -> dict[str, int]:
    return {
        os.path.relpath(os.path.join(d, n), root): os.path.getsize(os.path.join(d, n))
        for d, _, names in os.walk(root)
        for n in names
    }


# -- injection -----------------------------------------------------------------


class Injector:
    """Counts mutation points in call order and fires at ``target``
    (``"<op>#<n>"``): ``fail`` raises ``OSError``, ``crash`` raises
    :class:`Crash`, ``lose-output`` removes one output of the Spark write
    just returned and then crashes."""

    def __init__(self, target: str | None = None, mode: str = "crash"):
        self.target, self.mode = target, mode
        self.counts: Counter[str] = Counter()
        self.fired = False
        self._lock = threading.Lock()

    def hit(self, op: str) -> bool:
        with self._lock:
            point = f"{op}#{self.counts[op]}"
            self.counts[op] += 1
        if point != self.target:
            return False
        self.fired = True
        return True

    def fire(self):
        if self.mode == "fail":
            raise OSError(f"injected failure at {self.target}")
        raise Crash(self.target)


class PartialStream:
    """An output stream that writes half of its bytes, then fires."""

    def __init__(self, out, inj: Injector):
        self._out, self._inj = out, inj

    def write(self, data):
        self._out.write(data[: len(data) // 2])
        self._inj.fire()

    def close(self):
        self._out.close()


class FaultyFS:
    """The Hadoop FileSystem handle with a mutation point before every
    ``create``, ``delete`` and ``rename``, and one inside every write."""

    def __init__(self, jfs, inj: Injector):
        self._jfs, self._inj = jfs, inj

    def __getattr__(self, name):
        return getattr(self._jfs, name)

    def create(self, path, overwrite):
        if self._inj.hit("create"):
            self._inj.fire()
        out = self._jfs.create(path, overwrite)
        return PartialStream(out, self._inj) if self._inj.hit("partial-write") else out

    def delete(self, path, recursive):
        if self._inj.hit("delete"):
            self._inj.fire()
        return self._jfs.delete(path, recursive)

    def rename(self, src, dst):
        if self._inj.hit("rename"):
            self._inj.fire()
        return self._jfs.rename(src, dst)


def faulty_compactor(spark, root: Path, inj: Injector) -> LakeCompactor:
    lc = LakeCompactor(spark, str(root), CFG)
    jfs = lc.fs._fs
    lc.fs._fs = FaultyFS(jfs, inj)
    # One thread, so that "delete#n" names the same file on every run.
    lc._parallel = lambda fn, items, max_workers=16: [fn(x) for x in items]
    write_merged = lc._write_merged

    def spark_write(files, basename, plan):
        if inj.hit("spark-write"):
            inj.fire()
        write_merged(files, basename, plan)
        if inj.hit("spark-write-returned"):
            if inj.mode == "lose-output":
                lost = next(f.path for f in lc.fs.list_files(plan.leaf) if basename in f.path)
                jfs.delete(lc.fs.jpath(lost), False)
                raise Crash(inj.target)
            inj.fire()

    lc._write_merged = spark_write
    return lc


#: Mutation points of one pass over the lake, by kind. The count is
#: pinned by test_enumerated_points_cover_the_pass.
POINTS = {
    "create": 9,
    "partial-write": 9,
    "delete": 19,
    "rename": 9,
    "spark-write": 4,
    "spark-write-returned": 4,
}
CASES = [
    (f"{op}#{i}", mode)
    for op, n in POINTS.items()
    for i in range(n)
    for mode in ("fail", "crash")
] + [
    (f"spark-write-returned#{i}", "lose-output")
    for i in range(POINTS["spark-write-returned"])
]


def assert_recovered(spark, root: Path, want: dict[str, list[int]]) -> None:
    """A recovery pass leaves exact rows, a clean audit and a no-op next pass."""
    lc = LakeCompactor(spark, str(root), CFG)
    outcomes = lc.compact()
    assert LakeCompactor.FAILED not in outcomes.values(), outcomes
    for leaf, ids in want.items():
        assert visible_ids(root / leaf) == ids, leaf
    report = lc.audit()
    assert report.pop("__summary__")["leaves_with_findings"] == 0, report
    before = listing(root)
    outcomes = LakeCompactor(spark, str(root), CFG).compact()
    assert set(outcomes.values()) == {"nothing_to_compact"}, outcomes
    assert listing(root) == before


def test_enumerated_points_cover_the_pass(spark, tmp_path):
    """An uninjected pass makes exactly the mutations POINTS enumerates."""
    root = tmp_path / "lake"
    want = build_lake(root)
    inj = Injector()
    outcomes = faulty_compactor(spark, root, inj).compact()
    assert sorted(outcomes.values()) == ["compacted_3_files"] + ["compacted_4_files"] * 2
    assert dict(inj.counts) == POINTS
    assert_recovered(spark, root, want)


@pytest.mark.parametrize("point,mode", CASES, ids=[f"{p}-{m}" for p, m in CASES])
def test_crash_point_recovers(spark, tmp_path, point, mode):
    root = tmp_path / "lake"
    want = build_lake(root)
    inj = Injector(point, mode)
    lc = faulty_compactor(spark, root, inj)
    if mode == "fail":
        # A failed step fails its own leaf; the pass goes on.
        lc.compact()
    else:
        with pytest.raises(Crash):
            lc.compact()
    assert inj.fired
    assert_recovered(spark, root, want)


def _crash(*args, **kwargs):
    raise Crash("reproduced crash")


@pytest.mark.parametrize(
    "method,direct",
    [
        ("remove_uncompacted_files", True),
        ("remove_uncompacted_files", False),
        ("_write_sidecar", None),
        ("_rows_preserved", None),
    ],
    ids=["remove_uncompacted_files-direct", "remove_uncompacted_files-rename",
         "first_sidecar_write", "rows_preserved"],
)
def test_reproduced_crash_is_recovered(spark, tmp_path, method, direct):
    """The crashes that once duplicated every row of a leaf of 4 x 100
    rows for good: in the original delete (under either former commit
    mode's config), at the first sidecar write, and in the row check."""
    root = tmp_path / "lake"
    leaf = root / OCP
    for i in range(4):
        write_small_parquet(leaf / f"in-{i}.parquet", start=i * 100)
    cfg = CompactionConfig(now=NOW, direct_commit=direct)
    lc = LakeCompactor(spark, str(root), cfg)
    setattr(lc, method, _crash)
    with pytest.raises(Crash):
        lc.compact()
    assert_recovered(spark, root, {OCP: list(range(400))})
