"""Compaction semantics + Spark-backed executor.

Faithfully reproduces the reference's behavior (cited per function from
parquet-compactor's ``parquet_compactor.py``) while replacing its
mechanics with Spark:

- pandas 1M-row chunk loop            → shuffle-free DataFrame read →
                                        write: read splits sized from
                                        the footers to one output file
                                        each, maxRecordsPerFile cap
- boto3 recursive prefix pagination   → one Hadoop FS listStatus walk
- awswrangler writes + deletes        → DataFrame writer, straight into
                                        the leaf, + FS delete

The decision logic (what to skip, what to merge, what to delete) is pure
Python over file metadata — same altitude as the reference keeps it — and
is unit-testable without Spark. Only ``LakeCompactor`` touches the cluster.
"""

from __future__ import annotations

import math
import re
import threading
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field, replace
from datetime import datetime, timedelta, timezone

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession
from pyspark.sql.types import StructType

from parquet_compactor_spark.compactor.fs import HadoopFS, ListedFile, ParquetFooter, hidden


@dataclass(frozen=True)
class FileMeta:
    """The reference's catalog triple (parquet_compactor.py:111-120)."""

    path: str
    size: int
    modified: datetime  # UTC


@dataclass
class CompactionConfig:
    """Knobs mirroring parquet_compactor.py:20-26 and configurator defaults.

    A write's schema is not a knob: planning chooses it from what the
    write's files hold (:meth:`HadoopFS.merged_schema`)."""

    target_file_size_gb: float = 0.3  # TARGET_FILE_SIZE_GB (:21)
    chunked_rows: int = 1_000_000  # CHUNKED_ROWS (:20)
    skip_source_types_current_month: list[str] = field(
        default_factory=lambda: ["AWS", "Azure"]  # (:24-26)
    )
    hold_back_days: int = 5  # relativedelta(days=-5) (:275)
    now: datetime | None = None  # injectable clock for tests (utcnow at :275)
    # No effect. It once chose between a temp-dir + rename commit and an
    # in-place write; every leaf now writes in place (LakeCompactor's
    # commit protocol). Kept so existing callers' configs still build.
    direct_commit: bool | None = None

    @property
    def file_size_bytes(self) -> int:
        return int(self.target_file_size_gb * 2**30)  # (:22)

    def utcnow(self) -> datetime:
        return self.now or datetime.now(timezone.utc)


# --------------------------------------------------------------------------
# Pure decision logic (reference parity, unit-testable without Spark)
# --------------------------------------------------------------------------


def _name(path: str) -> str:
    return path.rsplit("/", 1)[-1]


def determine_base_file_name(path: str) -> str:
    """Base output name from the 'source=' path segment, fallback 'data'.

    Parity: parquet_compactor.py:236-244.
    """
    m = re.search(r"source=([^/]+)", path)
    return m.group(1) if m else "data"


def should_skip_compacting(path: str, config: CompactionConfig) -> bool:
    """Skip volatile current-month partitions for overwritten source types.

    Parity: parquet_compactor.py:246-260 — current year AND month appear as
    ``year=YYYY``/``month=MM`` path segments, and any skip source type
    appears anywhere in the path (plain substring, as in the reference).
    On a partition-discovered lake this same predicate is expressible as a
    partition-pruned filter (SURVEY.md §4 R2).
    """
    now = config.utcnow()
    is_current_month = f"year={now:%Y}" in path and f"month={now:%m}" in path
    is_skippable = any(t in path for t in config.skip_source_types_current_month)
    return is_current_month and is_skippable


def filter_compacted(
    basename: str,
    files: list[FileMeta],
    config: CompactionConfig,
    manifest: set[str] | None = None,
) -> list[str]:
    """Incremental/idempotence filter. Parity: parquet_compactor.py:262-293.

    - files named ``{base}_<32 hex>.parquet`` or ``{base}_<digits>.parquet``
      are prior compaction outputs: only the most recently modified one is
      re-merged (its trailing chunk is probably short);
    - other ("new") files are merged only if modified more than
      ``hold_back_days`` ago (date granularity — still-being-written data);
    - everything else is left untouched.

    ``manifest``: basenames the leaf's sidecar records as committed
    outputs (``merged-<32hex>-*`` Spark task names — but name patterns
    must NOT be treated as markers: upstream producers choose their own
    names, including Spark part-names, and those are exactly the new
    files compaction exists to merge). A basename in the manifest is a
    prior output regardless of its name — the symmetric widening of the
    "already compacted" test that the naming change requires.
    """
    check_date = (config.utcnow() - timedelta(days=config.hold_back_days)).date()
    compacted_re = re.compile(rf"/{re.escape(basename)}_[0-9a-f]{{32}}\.parquet")
    numbered_re = re.compile(rf"/{re.escape(basename)}_[0-9]+\.parquet")
    manifest = manifest or set()

    new_files: list[str] = []
    prior: list[FileMeta] = []
    for f in files:
        if (
            compacted_re.search(f.path)
            or numbered_re.search(f.path)
            or f.path.rsplit("/", 1)[-1] in manifest
        ):
            prior.append(f)
        elif f.modified.date() < check_date:
            new_files.append(f.path)
    if prior:
        newest = max(prior, key=lambda f: f.modified)
        return [newest.path] + new_files
    return new_files


GCP_PRIOR_RE = re.compile(r"/[^/_]+_([^/_]+)_[0-9a-f]{32}\.parquet$")


def filter_compacted_gcp(
    files: list[FileMeta],
    config: CompactionConfig,
    manifest: set[str] | None = None,
) -> list[str]:
    """GCP twin of :func:`filter_compacted` — an idempotence EXTENSION
    over the reference, which re-merges prior GCP outputs forever: its
    filter only knows ``{base}_`` patterns, while GCP outputs are named
    ``{invoice_month}_{date}_<32hex>.parquet``
    (parquet_compactor.py:205-208). Here prior outputs are recognized and
    a steady-state leaf returns nothing instead of rewriting every run.

    - prior per-date compaction outputs are the files the sidecar lists
      (``manifest``; our outputs are
      ``{invoice_month}_{date}_<32hex>-<task>.parquet``) and the
      reference's ``{invoice_month}_{date}_<32 hex>.parquet`` names. The
      newest one FOR A DATE is re-merged only when that date also has new
      files (its trailing chunk is probably short); otherwise prior
      outputs are left untouched;
    - new files observe the same ``hold_back_days`` rule as
      :func:`filter_compacted`. Date membership is by substring, matching
      :func:`group_gcp_files`.
    """
    check_date = (config.utcnow() - timedelta(days=config.hold_back_days)).date()
    manifest = manifest or set()
    prior_per_date: dict[str, list[FileMeta]] = {}
    new_files: list[str] = []
    for f in files:
        name = _name(f.path)
        if GCP_PRIOR_RE.search(f.path) or name in manifest:
            prior_per_date.setdefault(name.split("_")[1], []).append(f)
        elif f.modified.date() < check_date:
            new_files.append(f.path)
    newest = [
        max(fs, key=lambda f: f.modified).path
        for date, fs in sorted(prior_per_date.items())
        if any(date in p for p in new_files)
    ]
    return newest + new_files


def group_gcp_files(file_list: list[str]) -> tuple[str, dict[str, list[str]]]:
    """GCP filename micro-schema grouping. Parity: parquet_compactor.py:183-193.

    Filenames encode ``{invoice_month}_{date}_...``; returns the invoice
    month (from the first file) and files grouped per date — membership by
    date-substring, exactly as the reference does it.
    """
    invoice_month = file_list[0].rsplit("/", 1)[-1].split("_")[0]
    dates = sorted({f.rsplit("/", 1)[-1].split("_")[1] for f in file_list})
    return invoice_month, {d: [f for f in file_list if d in f] for d in dates}


def _column_names(footers) -> frozenset[str]:
    """Every top-level column name the footers' files physically hold."""
    return frozenset(name for f in footers for name in f.columns.names)


def plan_output_files(total_bytes: int, config: CompactionConfig) -> int:
    """Output partition count: enough files to hit the target size."""
    return max(1, math.ceil(total_bytes / config.file_size_bytes))


#: The temp output dir of earlier versions' rename commit:
#: ``{leaf}_compact_tmp_{uuid4.hex}``, an underscore-prefixed (hidden)
#: CHILD of the leaf. A hard crash left it behind, so lakes compacted by
#: those versions may still hold orphans. Hidden names mean Spark's
#: readers and the lake walk never enter them; gc_orphan_tmp_dirs
#: reclaims stale orphans that the walk lists.
TMP_DIR_RE = re.compile(r"_compact_tmp_[0-9a-f]{32}(/|$)")

#: Every pass reclaims orphan temp dirs whose newest file is at least this
#: many hours old (:meth:`LakeCompactor.gc_orphan_tmp_dirs`); a running
#: write touches its files continuously, so it is never that old.
GC_ORPHAN_TMP_HOURS = 24.0


def _reclaimable_dir(dir_path: str) -> bool:
    """True for a merge temp dir or ``_temporary`` committer dir: the
    litter gc_orphan_tmp_dirs reclaims and audit reports."""
    name = dir_path.rstrip("/").rsplit("/", 1)[-1]
    return name == "_temporary" or bool(TMP_DIR_RE.search(name))


def _listed_dirs(walked: dict[str, list[ListedFile] | Exception]) -> list[ListedFile]:
    """The sub-directories that the listings of a walk show."""
    return [e for ls in walked.values() if isinstance(ls, list) for e in ls if e.is_dir]


def _is_mergeable_data_file(path: str) -> bool:
    """True for files a parquet merge would actually read: ``*.parquet``
    with a non-hidden basename (Spark's readers skip ``_``/``.`` prefixed
    files; sidecars like _SUCCESS/.crc are not parquet at all)."""
    base = path.rsplit("/", 1)[-1]
    return base.endswith(".parquet") and not base.startswith(("_", "."))


@dataclass(frozen=True)
class Sidecar:
    """A leaf's ``_compacted.manifest``: the one record of its merges.

    An untagged line names a committed output, the only kind of line
    earlier versions wrote, so their sidecars read unchanged. Tagged
    lines start with ``_``, which no mergeable data file name does:

    - ``_pending:<name>`` — an input whose rows are already in committed
      outputs and whose delete has not completed. It never enters a
      merge again; each pass retries its delete.
    - ``_inflight:<32 hex>`` — a merge whose outputs (the leaf files whose
      names hold the token) are being written and are not committed. The
      next pass deletes them.
    """

    outputs: frozenset[str] = frozenset()
    pending: frozenset[str] = frozenset()
    token: str | None = None

    PENDING = "_pending:"
    INFLIGHT = "_inflight:"

    @classmethod
    def parse(cls, text: str) -> Sidecar:
        outputs, pending, token = set(), set(), None
        for line in text.splitlines():
            if line.startswith(cls.PENDING):
                pending.add(line[len(cls.PENDING):])
            elif line.startswith(cls.INFLIGHT):
                token = line[len(cls.INFLIGHT):]
            elif line:
                outputs.add(line)
        return cls(frozenset(outputs), frozenset(pending), token)

    def render(self) -> str:
        lines = sorted(self.outputs) + [self.PENDING + n for n in sorted(self.pending)]
        if self.token:
            lines.append(self.INFLIGHT + self.token)
        return "\n".join(lines)


# --------------------------------------------------------------------------
# Spark-backed executor
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class MergeWrite:
    """One Spark write of a planned merge."""

    files: list[str]
    bytes: int  # from the planning listing
    rows: int  # from the files' footers
    columns: frozenset[str]  # what the files physically hold
    schema: StructType  # the one schema every file is read with


@dataclass(frozen=True)
class LeafMerge:
    """One leaf's planned merge: what ``LakeCompactor._plan_leaf`` decided
    and ``_merge_leaf`` executes. A leaf is one write, under
    ``merged-<token>``, or for a GCP leaf one write per date, under
    ``{invoice_month}_{date}_<token>``: :func:`group_gcp_files` parses
    those outputs as it parses the reference's names. Every write shares
    the token, so a rollback removes every write's outputs."""

    leaf: str
    file_list: list[str]  # merge set, in filter_compacted order
    rows: int  # the merge set's footer rows, each file counted once
    writes: dict[str, MergeWrite]  # output basename -> write, in write order
    sidecar: Sidecar  # as written before the merge, its token in flight

    @property
    def token(self) -> str:
        return self.sidecar.token


class LakeCompactor:
    """Crawl a Parquet lake and compact small files per leaf directory.

    Orchestration parity: parquet_compactor.py:295-328 (compact()). The
    driver loop stays driver-side (it is file-metadata work); each leaf's
    merge is a Spark job. Write-then-delete ordering preserved (R6): the
    originals are removed only after the merged output is committed.

    One commit protocol serves every leaf, each step recorded in the
    leaf's :class:`Sidecar` so that a pass which dies at any step leaves
    a state the next pass resolves:

    1. planning writes the sidecar with a fresh in-flight token;
    2. Spark writes the outputs straight into the leaf under basenames
       holding the token, and their footers must hold the inputs' rows;
    3. the commit point is one sidecar write: outputs added, inputs moved
       to pending, token cleared;
    4. the inputs are deleted, and the sidecar drops them from pending.

    At the next pass an uncleared token rolls its outputs back and the
    pending inputs are deleted (:meth:`_plan_leaf`). Two passes over one
    leaf at the same time are not supported: the second rolls back the
    token the first is writing under. Schedule passes so that they cannot
    overlap (a Kubernetes CronJob's ``concurrencyPolicy: Forbid``).
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        config: CompactionConfig | None = None,
    ):
        self.spark = spark
        self.root = root.rstrip("/") + "/"
        self.config = config or CompactionConfig()
        self.fs = HadoopFS(spark, self.root)
        #: Cumulative wall-clock seconds per pass phase (listing / plan /
        #: write / commit / delete), accumulated across leaves and passes
        #: on this instance. Observability only — never consulted by the
        #: compaction logic. Lock-guarded so concurrent leaf threads
        #: (compact(max_concurrency>1)) don't lose increments; under
        #: concurrency the per-phase SUMS remain exact but overlap in
        #: wall time, so they no longer add up to the pass duration.
        self.phase_timings: dict[str, float] = {}
        self._phase_lock = threading.Lock()
        #: Per-thread merge sessions (_merge_session) and the footers'
        #: schema converter; compact() replaces both at the start of each
        #: pass.
        self._sessions = threading.local()
        self._converter = None
        #: The last walk of the lake (candidate_leaves): directory ->
        #: its listing, or the exception its listing raised.
        self._walked: dict[str, list[ListedFile] | Exception] = {}

    @contextmanager
    def _phase(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dt = time.perf_counter() - t0
            with self._phase_lock:
                self.phase_timings[name] = self.phase_timings.get(name, 0.0) + dt

    # -- planning ----------------------------------------------------------

    def candidate_leaves(self) -> dict[str, tuple[list[FileMeta], list[ListedFile]]]:
        """Walk the lake once (:meth:`HadoopFS.walk`) and return each
        candidate leaf, a directory holding a file a merge can read, with
        its files below the target size (O3) and its whole listing: the
        leaf's one metadata read of the pass (:meth:`_plan_leaf`).

        Planning considers only what a merge can READ: ``*.parquet``
        files whose basename is not hidden (``_``/``.`` prefixed).
        ``spark.read.parquet`` skips hidden files and cannot parse
        sidecars (_SUCCESS, .crc), so treating them as candidates
        either fails the merge or — worse — deletes a file whose rows
        were never merged.

        The walk stays on ``self._walked`` for :meth:`compact`, which
        reports its failed listings and sweeps the orphan dirs of every
        walked directory.
        """
        with self._phase("listing"):
            self._walked = self.fs.walk(self.root)
        leaves = {}
        for d, listing in self._walked.items():
            if isinstance(listing, Exception):
                continue
            readable = [f for f in listing if not f.is_dir and _is_mergeable_data_file(f.path)]
            if readable:
                small = [
                    FileMeta(f.path, f.size, datetime.fromtimestamp(f.modified, tz=timezone.utc))
                    for f in readable
                    if f.size < self.config.file_size_bytes
                ]
                leaves[d] = (small, listing)
        return leaves

    # -- execution ---------------------------------------------------------

    def _write_merged(
        self, file_list: list[str], basename: str, plan: LeafMerge
    ) -> None:
        """Merge ``file_list`` into ≈target-size files written straight
        into the leaf under ``basename`` (``mapreduce.output.basename``:
        Spark names each file ``{basename}-<part>-<task uuid>-c000...``).

        Spark equivalent of merge_files_in_dataframe
        (parquet_compactor.py:153-181): the multi-file read IS the merge,
        and with size, rows and schema from planning (``plan.writes``) the
        write is its only Spark job. Each data byte is written once, with
        no rename of our own — on s3a a rename is a server-side copy (pair
        with the magic committer there, ``session.object_store_confs``).
        The basename rides the per-write hadoop conf, so concurrent merges
        in one session do not clobber each other. No ``_SUCCESS`` marker
        is written: the sidecar is the commit record, and the marker would
        cost every write a create and every later leaf listing an entry.
        """
        with self._phase("plan"):
            df = self._plan_merge_df(file_list, plan.writes[basename])
        with self._phase("write"):
            (
                df
                .write.option("compression", "snappy")
                .option("maxRecordsPerFile", self.config.chunked_rows)
                .option("mapreduce.output.basename", basename)
                .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
                .mode("append")
                .parquet(plan.leaf.rstrip("/"))
            )

    def _plan_merge_df(self, file_list: list[str], write: MergeWrite):
        """Build the merged DataFrame from the write's plan, reading every
        file with its one schema: building it runs no Spark job."""
        n_out = plan_output_files(write.bytes, self.config)
        # Shuffle-free merge: repartition(n) would shuffle every byte the
        # compactor rewrites. Instead the READ splits are sized so each
        # scan task holds ≈ one output file (scan → write, no exchange),
        # from the footers' row counts; targeting 90% of the row cap keeps
        # maxRecordsPerFile from splitting off remainder files.
        #
        # The split size must be a SESSION conf, hence this thread's merge
        # session (_merge_session): Spark 4.1.2 ignores maxPartitionBytes
        # as a read option (4 partitions against 200 with the conf).
        # Coalescing default splits instead was measured and rejected: on
        # a bytes-bound lake (2 leaves x 48 files x 40k rows) the largest
        # output went from 640k to 960k rows, the write ~3.5 s to ~5.7 s.
        n_chunks = max(n_out, math.ceil(write.rows / (0.9 * self.config.chunked_rows)))
        open_cost = 65536
        split = (write.bytes + len(file_list) * open_cost) // n_chunks + 1
        sess = self._merge_session()
        sess.conf.set("spark.sql.files.maxPartitionBytes", str(split))
        sess.conf.set("spark.sql.files.openCostInBytes", str(open_cost))
        sess.conf.set("spark.sql.files.minPartitionNum", "1")
        return sess.read.schema(write.schema).parquet(*file_list)

    def _merge_session(self) -> SparkSession:
        """This thread's merge session for the current pass.

        A child session shares the SparkContext and executors but has a
        PRIVATE SQLConf, so concurrent leaf merges (compact's
        max_concurrency > 1 pool) each tune their own split size without
        racing on session-wide confs. newSession() does NOT inherit the
        parent's *runtime* SQL confs (parquet rebase modes, nanosAsLong,
        binaryAsString, caseSensitive, ...), so a leaf readable via the
        caller's session could fail — or read differently — in the child.
        The parent's modified confs are therefore copied once, when the
        session is created: once per pass and worker thread (compact()
        drops the previous pass's sessions), so a conf the caller sets
        between passes reaches the next pass.
        """
        sess = getattr(self._sessions, "merge", None)
        if sess is None:
            sess = self.spark.newSession()
            # isModifiable (not try/except) skips static confs: a
            # blanket except would also swallow a transient failure on a
            # genuinely modifiable conf — the exact class this copy
            # exists to propagate.
            for key, value in self.spark.conf.getAll.items():
                if sess.conf.isModifiable(key):
                    sess.conf.set(key, value)
            self._sessions.merge = sess
        return sess

    def _read_footers(self, paths: list[str]) -> tuple[dict[str, ParquetFooter], list[str]]:
        """Footer (rows, columns) per path (:meth:`HadoopFS.read_footers`);
        returns (footers of the readable files, one message per file whose
        footer did not read: missing, corrupt, or holding a column whose
        type a merge would not keep). Columns are converted under the
        caller's session confs, which the merge session copies
        (:meth:`HadoopFS.schema_converter`)."""
        converter = self._converter or self.fs.schema_converter(self.spark)
        read = self.fs.read_footers(paths, converter)
        footers = {p: f for p, f in read.items() if isinstance(f, ParquetFooter)}
        unreadable = [f"{p}: {f}" for p, f in read.items() if isinstance(f, str)]
        return footers, unreadable

    def _rows_preserved(self, plan: LeafMerge, outputs: list[str]) -> bool:
        """Pre-delete check: each write's outputs (named by its basename)
        hold exactly its files' rows and column names, and all outputs the
        merge set's rows; the total catches a file that date grouping put
        in two writes. Column names are physical on both sides, never a
        Spark schema stored in footer metadata. Runs before the commit
        point, so neither a row nor a column is trusted to survive."""
        with self._phase("commit"):
            footers, unreadable = self._read_footers(outputs)
        faults = [f"unreadable outputs: {unreadable}"] if unreadable else []
        for basename, write in plan.writes.items():
            mine = [f for p, f in footers.items() if _name(p).startswith(f"{basename}-")]
            rows, dropped = sum(f.rows for f in mine), write.columns - _column_names(mine)
            if rows != write.rows or dropped:
                faults.append(f"{basename}: {rows} of {write.rows} rows, lost {sorted(dropped)}")
        got = sum(f.rows for f in footers.values())
        if got != plan.rows:
            faults.append(f"{got} of the merge set's {plan.rows} rows in {len(outputs)} outputs")
        if faults:
            print(f"compaction check failed for {plan.leaf}: {'; '.join(faults)}")
        return not faults

    #: The leaf's one sidecar (:class:`Sidecar`). Hidden name → invisible
    #: to planning and to spark.read.
    MANIFEST_NAME = "_compacted.manifest"
    #: Earlier versions kept inputs whose delete failed in this second
    #: sidecar. A pass folds it into MANIFEST_NAME and then deletes it.
    LEGACY_PENDING_NAME = "_pending_deletes.manifest"
    #: Outcome of a leaf whose pass stopped at a failed filesystem step;
    #: the sidecar holds what the next pass resolves.
    FAILED = "failed_next_pass_resolves"

    def _read_sidecar(self, leaf: str) -> Sidecar:
        text = self.fs.read_text(f"{leaf}{self.MANIFEST_NAME}")
        return Sidecar() if text is None else Sidecar.parse(text)

    def _write_sidecar(self, leaf: str, sidecar: Sidecar) -> None:
        with self._phase("commit"):
            self.fs.write_text(f"{leaf}{self.MANIFEST_NAME}", sidecar.render())

    def _listed_sidecars(self, leaf: str, names: set[str]) -> tuple[Sidecar, set[str] | None]:
        """The leaf's sidecar, and the names in an earlier version's
        pending sidecar (None when there is none), each read only when
        ``names``, the leaf's listed file names, show it."""
        sidecar = Sidecar()
        if {self.MANIFEST_NAME, f"{self.MANIFEST_NAME}.tmp"} & names:
            sidecar = self._read_sidecar(leaf)
        if self.LEGACY_PENDING_NAME not in names:
            return sidecar, None
        text = self.fs.read_text(f"{leaf}{self.LEGACY_PENDING_NAME}")
        return sidecar, {ln for ln in text.splitlines() if ln}

    def _delete_all(self, paths: list[str]) -> bool:
        """Delete ``paths`` in parallel; True when every delete succeeded."""
        return all(self._parallel(lambda p: self.fs.delete(p, recursive=False), paths))

    def _token_files(self, leaf: str, token: str, recursive: bool = True) -> list[str]:
        """Every file under ``leaf`` whose name holds ``token``: a merge's
        outputs, and (recursive) the task files under ``_temporary`` of a
        write that died before its job commit."""
        listed = self.fs.list_files(leaf, recursive=recursive)
        return [f.path for f in listed if token in _name(f.path)]

    def _outputs(self, plan: LeafMerge) -> list[str]:
        """The outputs of a write that returned: its job commit moved them
        into the leaf itself, so one listStatus finds them."""
        with self._phase("commit"):
            return self._token_files(plan.leaf, plan.token, recursive=False)

    def _roll_back(self, plan: LeafMerge) -> str:
        """Undo a merge that did not reach its commit point: delete its
        outputs, then clear its token. Returns the leaf's outcome."""
        if not self._delete_all(self._token_files(plan.leaf, plan.token)):
            return self.FAILED  # the token stays; the next pass retries
        self._write_sidecar(plan.leaf, replace(plan.sidecar, token=None))
        return "merge_failed_originals_kept"

    @staticmethod
    def _parallel(fn, items, max_workers: int = 16) -> list:
        """``[fn(x) for x in items]`` from up to ``max_workers`` driver
        threads: independent metadata ops (delete/probe), or whole leaves
        under compact(max_concurrency). ``max_workers <= 1`` stays on the
        calling thread (and in its Spark job group)."""
        if len(items) <= 1 or max_workers <= 1:
            return [fn(x) for x in items]
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(max_workers, len(items))) as ex:
            return list(ex.map(fn, items))

    def merge_files(self, plan: LeafMerge) -> list[str]:
        """Run the plan's writes (parquet_compactor.py:153-228); returns the
        output paths. Idempotence rests on the sidecar, not on the name.

        The writes run one after another. Two Spark writes into one leaf
        at once fail at job commit: both stage under
        ``<leaf>/_temporary/0``, and the first ``commitJob`` removes that
        directory (``FileOutputCommitter.mergePaths`` then fails to rename
        the second write's task files)."""
        for basename, write in plan.writes.items():
            self._write_merged(write.files, basename, plan)
        return self._outputs(plan)

    # Former names of merge_files, kept for callers that wrap them.
    merge_files_gcp = _write_merged_direct = merge_files

    def remove_uncompacted_files(self, file_list: list[str]) -> list[str]:
        """Delete merged-away originals (parquet_compactor.py:230-234).

        Parallel: thousands of sequential per-object deletes would stall
        the driver for round-trip-latency × N on an object store.

        Runs after the commit point, where the sidecar already lists every
        original as pending. Returns the paths whose delete returned False
        (and logs them): such a leftover sits next to the committed output
        and its rows are read twice until a later pass's retry deletes it;
        being pending, it never re-enters a merge (re-merging it alongside
        the output that already holds its rows would make the duplication
        permanent).
        """
        with self._phase("delete"):
            results = self._parallel(
                lambda path: self.fs.delete(path, recursive=False), file_list
            )
        failed = [p for p, ok in zip(file_list, results) if not ok]
        for p in failed:
            print(f"delete of compacted-away original failed (rows will duplicate): {p}")
        return failed

    def _plan_leaf(
        self, leaf: str, files: list[FileMeta], listing: list[ListedFile]
    ) -> str | LeafMerge:
        """Resolve what the leaf's sidecar says an earlier pass left
        undone, then decide what the leaf merges: its outcome string when
        it merges nothing, else the :class:`LeafMerge` that
        :meth:`_merge_leaf` executes.

        ``listing``, the leaf's one ``listStatus`` of the pass, is the only
        metadata the planner reads: a sidecar is read only when listed, a
        pending delete retried only for a listed name, and output names
        are pruned against it.

        Resolution comes before the incremental filter sees the files:

        - an uncleared in-flight token means a pass died before its commit
          point: the leaf files whose names hold the token are deleted and
          leave the planning list;
        - pending inputs mean a pass died, or a delete failed, after its
          commit point: their deletes are retried. Those still present
          stay pending, and no pending input enters a merge;
        - output names whose files are gone are dropped;
        - a legacy ``_pending_deletes.manifest`` is folded in, and deleted
          once the sidecar is written.

        The resolved state, with a fresh in-flight token when the leaf
        merges, is written in one sidecar write.

        The merge set's footers are read once (:meth:`_plan_merge`). A
        footer that does not read, a column whose type a merge would not
        keep (TIMESTAMP(NANOS): :meth:`HadoopFS.schema_converter`), or
        files that disagree on a column's type, fail this leaf alone,
        before a token is written."""
        if should_skip_compacting(leaf, self.config):
            return "skipped_current_month"
        names = {_name(f.path) for f in listing if not f.is_dir}
        on_disk, legacy = self._listed_sidecars(leaf, names)
        pending = on_disk.pending | (legacy or set())
        if on_disk.token:
            token = on_disk.token
            if not self._delete_all(self._token_files(leaf, token)):
                return self.FAILED
            files = [f for f in files if token not in _name(f.path)]
        still_pending = frozenset(
            name
            for name in sorted(pending & names)
            if not self.fs.delete(f"{leaf}{name}", recursive=False)
        )
        for name in still_pending:
            print(f"retry delete still failing (rows duplicate): {leaf}{name}")
        files = [f for f in files if _name(f.path) not in pending]
        # Outputs are pruned against the listing, not ``files``: that one
        # dropped at/above-target files (candidate_leaves, O3), and pruning
        # such a live output would strip its prior-compaction marker. The
        # listing predates the rollback, which is safe: committed output
        # names never hold the in-flight token. Retried deletes are gone.
        outputs = set(on_disk.outputs) & (names - (pending - still_pending))
        state = Sidecar(frozenset(outputs), still_pending)
        base = determine_base_file_name(leaf)
        if "GCP" in leaf:
            file_list = filter_compacted_gcp(files, self.config, manifest=outputs)
        else:
            file_list = filter_compacted(base, files, self.config, manifest=outputs)
        plan: str | LeafMerge = "nothing_to_compact"
        if still_pending:
            plan = f"nothing_to_compact_{len(still_pending)}_deletes_pending"
        if len(file_list) > 1:
            token = uuid.uuid4().hex
            with self._phase("plan"):
                plan = self._plan_merge(leaf, file_list, files, replace(state, token=token))
            if isinstance(plan, LeafMerge):
                state = plan.sidecar
        if state != on_disk:
            self._write_sidecar(leaf, state)
        if legacy is not None:
            self.fs.delete(f"{leaf}{self.LEGACY_PENDING_NAME}", recursive=False)
        return plan

    def _plan_merge(
        self, leaf: str, file_list: list[str], files: list[FileMeta], sidecar: Sidecar
    ) -> str | LeafMerge:
        """The leaf's writes under ``sidecar``'s token (:class:`LeafMerge`),
        each read with one schema (:meth:`HadoopFS.merged_schema`); or the
        leaf's outcome when a footer does not read or files disagree on a
        column's type."""
        footers, unreadable = self._read_footers(file_list)
        if unreadable:
            print(f"compaction footer read failed for {leaf}: {unreadable}")
            return "merge_failed_originals_kept"
        if "GCP" in leaf:
            invoice_month, per_date = group_gcp_files(file_list)
            groups = {f"{invoice_month}_{d}_{sidecar.token}": ps for d, ps in per_date.items()}
        else:
            groups = {f"merged-{sidecar.token}": file_list}
        sizes = {f.path: f.size for f in files}
        try:
            writes = {
                basename: MergeWrite(
                    paths,
                    sum(sizes[p] for p in paths),
                    sum(footers[p].rows for p in paths),
                    _column_names(footers[p] for p in paths),
                    self.fs.merged_schema([footers[p] for p in paths], self.spark),
                )
                for basename, paths in groups.items()
            }
        except Py4JJavaError as err:
            print(f"compaction schema merge failed for {leaf}: {err.java_exception.toString()}")
            return "merge_failed_originals_kept"
        rows = sum(f.rows for f in footers.values())
        return LeafMerge(leaf, file_list, rows, writes, sidecar)

    def _merge_leaf(self, plan: LeafMerge) -> str:
        """Write, check, commit and delete one planned leaf; returns its
        outcome. A write that fails or loses rows is rolled back in this
        pass; a step that raises after that leaves the sidecar to the
        next pass (:meth:`compact`)."""
        leaf, held = plan.leaf, plan.sidecar.pending
        try:
            outputs = self.merge_files(plan)
        except Exception as err:  # failure → keep originals (R6)
            print(f"compaction merge failed for {leaf}: {err}")
            return self._roll_back(plan)
        if not self._rows_preserved(plan, outputs):
            return self._roll_back(plan)
        inputs = frozenset(_name(p) for p in plan.file_list)
        committed = Sidecar(
            (plan.sidecar.outputs | {_name(p) for p in outputs}) - inputs,
            held | inputs,
        )
        self._write_sidecar(leaf, committed)  # the commit point
        failed = self.remove_uncompacted_files(plan.file_list)
        done = replace(committed, pending=held | {_name(p) for p in failed})
        if done != committed:
            self._write_sidecar(leaf, done)
        n = len(plan.file_list)
        if failed:
            return f"compacted_{n}_files_{len(failed)}_deletes_failed"
        if held:
            return f"compacted_{n}_files_{len(held)}_deletes_pending"
        return f"compacted_{n}_files"

    def _guarded(self, leaf: str, step, *args):
        """``step(*args)``, or :attr:`FAILED` when a filesystem step in it
        raised: one leaf's failure does not stop the pass, and the leaf's
        sidecar holds a state the next pass resolves."""
        try:
            return step(*args)
        except Exception as err:
            print(f"compaction of {leaf} stopped, the next pass resolves it: {err}")
            return self.FAILED

    def gc_orphan_tmp_dirs(
        self, min_age_hours: float = GC_ORPHAN_TMP_HOURS, dirs: list[ListedFile] | None = None
    ) -> tuple[list[str], list[str]]:
        """Reclaim merge temp dirs orphaned by a hard crash.

        A Spark write stages its task files in the leaf's ``_temporary``
        dir and removes it at job commit, but a killed JVM never gets
        there; the orphan then sits in the lake forever (so may a
        ``_compact_tmp_<hex>`` dir of earlier versions' rename commit).
        Either is an UNDERSCORE-PREFIXED CHILD of the leaf: Spark's
        readers never read it as data, and the lake walk lists it as an
        entry of the leaf without entering it.

        A tmp dir is deleted only when nothing under it (nor the dir
        itself) is newer than ``min_age_hours`` by the injectable clock —
        an actively-writing merge touches its files continuously, so the
        age gate makes the sweep safe beside live jobs. Returns the
        deleted dir paths; failed deletes are reported, not silently
        dropped (same discipline as remove_uncompacted_files).

        On real s3a with the magic committer, pair the sweep with an
        abort-incomplete-multipart-uploads lifecycle rule, which no
        filesystem listing can reclaim.

        ``dirs``: the sub-directories compact()'s walk listed, so the
        in-pass sweep lists no directory itself. ``dirs=None`` is the
        sweep of a maintenance run: it walks the lake itself
        (:meth:`HadoopFS.walk`), and a directory whose listing raises is
        reported among the failures. Either way every walked directory is
        swept, so EMPTY orphan dirs and orphans in leaves whose data
        files have since been deleted are reclaimed too.
        """
        cutoff = self.config.utcnow() - timedelta(hours=min_age_hours)

        def _newest_under(d) -> datetime:
            files = self.fs.list_files(d.path)
            if not files and d.modified <= 0:
                # Object stores may report directory mtime as 0/unknown
                # (S3A keeps no dir mtime). An EMPTY dir with an unknown
                # mtime could be a live merge's just-created staging dir
                # — treat unknown as fresh and never reclaim it here
                # (once a file lands, file mtimes take over).
                return self.config.utcnow()
            ts = datetime.fromtimestamp(max(d.modified, 0), tz=timezone.utc)
            for f in files:
                fts = datetime.fromtimestamp(f.modified, tz=timezone.utc)
                if fts > ts:
                    ts = fts
            return ts

        failed: list[str] = []
        if dirs is None:
            walked = self.fs.walk(self.root)
            for d, listing in walked.items():
                if isinstance(listing, Exception):
                    failed.append(d)
                    print(f"orphan tmp gc: listing of {d} failed: {listing}")
            dirs = _listed_dirs(walked)
        dirs = [d for d in dirs if _reclaimable_dir(d.path)]
        newest = self._parallel(_newest_under, dirs)
        deleted: list[str] = []
        for d in sorted(d.path for d, ts in zip(dirs, newest) if ts < cutoff):
            if self.fs.delete(d, recursive=True):
                deleted.append(d)
            else:
                failed.append(d)
                print(f"orphan tmp gc: delete returned False for {d}")
        return deleted, failed

    def compact(self, max_concurrency: int = 1) -> dict[str, str]:
        """Run one compaction pass. Returns {leaf: outcome} for observability.

        A pass walks the lake once, one listStatus per directory
        (:meth:`candidate_leaves`), plans every leaf from that walk
        (:meth:`_plan_leaf`: its writes, and each write's one schema from
        its files' footers, read on the driver), then merges the planned
        leaves (:meth:`_merge_leaf`) through one merge session per worker
        thread (:meth:`_merge_session`). Each write is one Spark job.
        Before any original is deleted, the outputs' footers must hold each
        write's rows and column names and the merge set's rows. Every leaf
        follows one commit protocol (see the class docstring); a leaf
        whose filesystem step raises reports :attr:`FAILED`, as does a
        directory whose listing raises, under its own path, and the pass
        goes on with the other leaves.

        ``max_concurrency > 1`` submits independent leaf jobs from a driver
        thread pool (Spark job submission is thread-safe; per-leaf jobs
        share the cluster via the scheduler). On a listing-bound lake with
        thousands of small leaves, this keeps executors saturated instead
        of serializing one small job per leaf — the scale knob SURVEY.md
        §7 step 6 calls for. Default 1 mirrors the reference's sequential
        orchestration (parquet_compactor.py:295-328).

        Leaves are processed WORST-FIRST (most candidate files first,
        path as deterministic tiebreak): if a run is interrupted or
        time-budgeted, the files reclaimed per minute are maximized —
        the scheduling order lake_report would recommend. The reference
        iterates in listing order, so an interrupted run can spend its
        budget on leaves that barely need work.
        """
        leaves = sorted(
            self.candidate_leaves().items(),
            key=lambda kv: (-len(kv[1][0]), kv[0]),
        )
        unlisted = []
        for d, listing in self._walked.items():
            if isinstance(listing, Exception):
                print(f"listing of {d} failed, the next pass lists it again: {listing}")
                unlisted.append(d)
        _, gc_failed = self.gc_orphan_tmp_dirs(dirs=_listed_dirs(self._walked))
        self._sessions = threading.local()
        self._converter = self.fs.schema_converter(self.spark)

        def plan(job):
            leaf, (files, listing) = job
            return self._guarded(leaf, self._plan_leaf, leaf, files, listing)

        planned = self._parallel(plan, leaves, max_concurrency)
        merges = [p for p in planned if isinstance(p, LeafMerge)]
        merged = iter(
            self._parallel(
                lambda p: self._guarded(p.leaf, self._merge_leaf, p),
                merges,
                max_concurrency,
            )
        )
        outcomes = {
            leaf: p if isinstance(p, str) else next(merged)
            for (leaf, _), p in zip(leaves, planned)
        }
        outcomes.update(dict.fromkeys(unlisted, self.FAILED))
        if gc_failed:
            # A reclaim failure reaches main()'s exit code through the
            # outcomes, as the standalone ``gc`` subcommand's does.
            outcomes["__gc_orphan_tmp__"] = f"gc_{len(gc_failed)}_reclaim_failed"
        return outcomes

    def audit(self) -> dict[str, dict]:
        """Read-only lake integrity audit — the drift detector between
        what the commit sidecar CLAIMS and what the lake actually holds.
        Mutates nothing (the remediation paths already exist: the pass's
        rollback and pending-delete retry, the age-gated orphan GC); this is the
        check an operator runs BEFORE trusting a lake handed over from
        another system, and on a schedule to catch external interference
        (lifecycle rules, manual deletes) early.

        Per-leaf findings (only leaves WITH findings are returned, plus
        a ``__summary__`` row):

        - ``manifest_missing`` — basenames the sidecar records as
          committed outputs whose FILE IS GONE: rows the lake claims to
          hold exist nowhere (external delete or data loss; the one
          finding with no self-healing path).
        - ``pending_present`` — pending-delete basenames still on disk:
          rows duplicated between an original and its merged output,
          awaiting the next pass's retry delete. Transient after a
          delete failure or a crash after the commit point; alarming if
          it persists across passes.
        - ``inflight_write`` — an uncleared in-flight token: a merge died
          before its commit point, and its outputs (if any landed) hold
          rows the kept originals also hold until the next pass rolls
          them back.
        - ``legacy_pending_sidecar`` — an earlier version's
          ``_pending_deletes.manifest``, which the next pass folds into
          the sidecar (its names are checked for ``pending_present``).
        - ``orphan_tmp_dirs`` — ``_compact_tmp_*`` / ``_temporary``
          crash litter the age-gated GC will reclaim on its next pass.

        A directory with a sidecar is audited even when all its data
        files are gone: the outputs its sidecar records are then
        ``manifest_missing``.

        Cost: one walk of the lake (:meth:`HadoopFS.walk`, the listing a
        pass makes) and one read per sidecar the walk shows — the
        compact() cost envelope, safe on a live lake. A listing that
        raises fails the audit.
        """
        with self._phase("listing"):
            walked = self.fs.walk(self.root)
        report: dict[str, dict] = {}
        summary = {"leaves": 0, "files": 0, "bytes": 0, "leaves_with_findings": 0}
        for leaf, listing in sorted(walked.items()):
            if isinstance(listing, Exception):
                raise listing
            files = [f for f in listing if not f.is_dir and not hidden(f.path)]
            names = {_name(f.path) for f in listing if not f.is_dir}
            sidecar, legacy = self._listed_sidecars(leaf, names)
            finding: dict[str, list[str]] = {}
            missing = sorted(sidecar.outputs - names)
            if missing:
                finding["manifest_missing"] = missing
            present = sorted((sidecar.pending | (legacy or set())) & names)
            if present:
                finding["pending_present"] = present
            if sidecar.token:
                finding["inflight_write"] = [sidecar.token]
            if legacy is not None:
                finding["legacy_pending_sidecar"] = [f"{leaf}{self.LEGACY_PENDING_NAME}"]
            orphans = sorted(e.path for e in listing if e.is_dir and _reclaimable_dir(e.path))
            if orphans:
                finding["orphan_tmp_dirs"] = orphans
            if files or finding:
                summary["leaves"] += 1
                summary["files"] += len(files)
                summary["bytes"] += sum(f.size for f in files)
            if finding:
                report[leaf] = finding
                summary["leaves_with_findings"] += 1
        report["__summary__"] = summary
        return report
