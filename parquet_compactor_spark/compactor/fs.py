"""Hadoop FileSystem helpers (py4j) — one API for file://, s3a://, hdfs://.

The reference talks to S3 through boto3 pagination
(parquet_compactor.py:68-99) and deletes via awswrangler
(parquet_compactor.py:230-234). Spark's JVM already carries the Hadoop
FileSystem abstraction for every store it can read, so we use it for
listing, deletes and the sidecar files — no second S3 client, and
local-filesystem tests exercise the identical code path as a production
object store.

A lake is listed by :meth:`HadoopFS.walk`: one plain ``listStatus`` per
directory that Spark's file index reads, from a pool of driver threads.
On an object store that is one delimited LIST per directory, as the
reference's per-prefix crawl makes, and every pass, audit, sweep and
report reads its metadata from that one walk.
"""

from __future__ import annotations

import json
import re
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
from dataclasses import dataclass
from functools import cached_property

from py4j.java_gateway import is_instance_of
from py4j.protocol import Py4JJavaError
from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession
from pyspark.sql.types import StructType


#: Last line of every file :meth:`HadoopFS.write_text` writes.
END_LINE = "_end"

#: A TIMESTAMP(NANOS) leaf column in a Parquet schema's text form.
_NANOS_COLUMN = re.compile(r"^\s*\w+ int64 (.+?) \(TIMESTAMP\(NANOS,(?:true|false)\)\)", re.M)


@dataclass(frozen=True)
class ListedFile:
    path: str  # fully-qualified URI
    size: int  # bytes
    modified: float  # epoch seconds
    is_dir: bool = False  # a sub-directory (list_files(recursive=False) only)


def _listed(status, is_dir: bool = False) -> ListedFile:
    """A ListedFile from a Hadoop FileStatus."""
    return ListedFile(
        path=status.getPath().toString(),
        size=int(status.getLen()),
        modified=status.getModificationTime() / 1000.0,
        is_dir=is_dir,
    )


def hidden(path: str) -> bool:
    """True for a name Spark's file index skips: one starting ``.``, or
    ``_`` without a ``=`` (``_c=1`` is a partition directory)."""
    name = path.rstrip("/").rsplit("/", 1)[-1]
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


@dataclass(frozen=True)
class ParquetFooter:
    rows: int  # sum of the row groups' row counts
    columns: StructType  # the file's own columns (HadoopFS.read_footer)
    footer: object  # the JVM Footer, for HadoopFS.merged_schema


class HadoopFS:
    """Thin wrapper over org.apache.hadoop.fs.FileSystem for one root URI.

    JVM class handles are looked up once: every dotted
    ``spark._jvm.org.apache...`` access costs a py4j round trip per
    call, several times the cost of the call it precedes.
    """

    def __init__(self, spark: SparkSession, root: str):
        self._spark = spark
        self._jvm = spark._jvm
        self._conf = spark._jsc.hadoopConfiguration()
        self._path_cls = self._jvm.org.apache.hadoop.fs.Path
        self._reader_cls = self._jvm.java.io.BufferedReader
        self._stream_reader_cls = self._jvm.java.io.InputStreamReader
        self._ioutils = self._jvm.org.apache.commons.io.IOUtils
        self._root = root

    @cached_property
    def _fs(self):
        """The root's FileSystem, made on first use: a footer read opens
        each path through its own."""
        return self.jpath(self._root).getFileSystem(self._conf)

    def jpath(self, uri: str):
        return self._path_cls(uri)

    def qualified(self, uri: str) -> str:
        """Fully-qualified URI string (scheme + authority), matching the
        form listing entries carry — for path comparisons."""
        return str(self._fs.makeQualified(self.jpath(uri)))

    def list_files(self, prefix: str, recursive: bool = True) -> list[ListedFile]:
        """The files under ``prefix``; none when ``prefix`` does not exist.
        Paths are spelled raw, as Hadoop's ``Path`` names them: ``a b.parquet``
        and ``e%41.parquet`` come back as named.

        - ``recursive=False``: one ``listStatus`` of one directory: its
          files, and its sub-directories marked ``is_dir`` with nothing
          under them. Hidden entries are listed too. :meth:`walk` lists
          every directory this way; it builds no block locations or
          permissions.
        - recursive (the default): every file in the subtree, hidden
          directories included, from Hadoop's ``listFiles(prefix, true)``.
          Its *located* statuses carry block locations and permissions the
          compactor never reads (without Hadoop's native library each
          local permission load forks an ``ls``). Use it only where a
          subtree matters: a write's ``_temporary`` task files, an orphan
          dir's contents.
        """
        p = self.jpath(prefix)
        if not recursive:
            return [_listed(st, st.isDirectory()) for st in self._statuses(p)]
        try:
            it = self._fs.listFiles(p, True)
            more = it.hasNext()
        except Py4JJavaError as err:
            if not self._not_found(err):
                raise
            return []
        out: list[ListedFile] = []
        while more:
            out.append(_listed(it.next()))
            more = it.hasNext()
        return out

    def walk(self, root: str) -> dict[str, list[ListedFile] | Exception]:
        """The reference's per-prefix crawl (parquet_compactor.py:80-99):
        every directory under ``root`` that Spark's file index reads,
        ``root`` included, mapped to its one ``listStatus``
        (:meth:`list_files` with ``recursive=False``); a missing ``root``
        maps to an empty listing. A directory's key ends with ``/``: for
        ``root`` the spelling given, for every other directory the one its
        parent's listing gives.

        A hidden directory (:func:`hidden`) appears as an entry of its
        parent and is never entered, as Spark's readers never enter it. A
        directory whose listing raises maps to the exception, and nothing
        under it is walked.

        Up to 16 driver threads list, each directory as soon as its
        parent's listing shows it: one pool serves the whole walk, as
        every new thread costs a py4j connection of its own, and no depth
        waits for the slowest listing of the one above it."""
        top = root.rstrip("/") + "/"
        walked: dict[str, list[ListedFile] | Exception] = {}
        with ThreadPoolExecutor(max_workers=16) as pool:
            pending = {pool.submit(self._try_list, top): top}
            while pending:
                done, _ = wait(pending, return_when=FIRST_COMPLETED)
                for listed in done:
                    listing = walked[pending.pop(listed)] = listed.result()
                    if isinstance(listing, list):
                        for e in listing:
                            if e.is_dir and not hidden(e.path):
                                d = f"{e.path}/"
                                pending[pool.submit(self._try_list, d)] = d
        return walked

    def _try_list(self, path: str) -> list[ListedFile] | Exception:
        try:
            return self.list_files(path, recursive=False)
        except (Py4JJavaError, OSError) as err:
            return err

    def list_dirs(self, path: str) -> list[ListedFile]:
        """Immediate CHILD DIRECTORIES of ``path`` (one listStatus call),
        hidden ones included: the streaming state dirs. The compactor
        reads a directory's dirs from its :meth:`walk` listing instead."""
        return [_listed(st, True) for st in self._statuses(self.jpath(path)) if st.isDirectory()]

    def _statuses(self, jpath) -> list:
        """The FileStatus of each entry of one ``listStatus`` call; none
        when the path does not exist. No ``exists`` probe first: on an
        object store that is one more HEAD and LIST per call."""
        try:
            statuses = self._fs.listStatus(jpath)
        except Py4JJavaError as err:
            if not self._not_found(err):
                raise
            return []
        # Indexed up to one len(): iterating a py4j JavaArray also ends
        # with a probe past its last element, one more round trip.
        return [statuses[i] for i in range(len(statuses))]

    def _not_found(self, err: Py4JJavaError) -> bool:
        return is_instance_of(
            self._spark.sparkContext._gateway,
            err.java_exception,
            "java.io.FileNotFoundException",
        )

    @cached_property
    def _footer_api(self):
        """(readFooter, NO_FILTER, Footer, ParquetFileFormat's companion,
        toSeq) handles, looked up on the first footer read only."""
        jvm = self._jvm
        parquet = jvm.org.apache.spark.sql.execution.datasources.parquet
        return (
            jvm.org.apache.parquet.hadoop.ParquetFileReader.readFooter,
            jvm.org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER,
            jvm.org.apache.parquet.hadoop.Footer,
            # readSchema has no static forwarder on the class itself.
            getattr(getattr(parquet, "ParquetFileFormat$"), "MODULE$"),
            jvm.org.apache.spark.api.python.PythonUtils.toSeq,
        )

    def schema_converter(self, spark: SparkSession):
        """The parquet-to-Spark schema converter for ``spark``'s SQL confs
        (binaryAsString, int96AsTimestamp, ...), as Spark's own schema
        inference builds it, except that it refuses a TIMESTAMP(NANOS)
        column: Spark reads one only as a plain integer (nanosAsLong), and
        a merge that read it so would write the timestamps back as
        integers. Build it once per pass."""
        converter_cls = (
            self._jvm.org.apache.spark.sql.execution.datasources.parquet
            .ParquetToSparkSchemaConverter
        )
        conf = spark._jsparkSession.sessionState().conf().clone()
        conf.setConfString("spark.sql.legacy.parquet.nanosAsLong", "false")
        return converter_cls(conf)

    def read_footer(self, path: str, converter) -> ParquetFooter:
        """One parquet file's row count and columns, from its footer
        alone: a couple of range reads, on the driver, on every Hadoop
        FileSystem. Raises py4j's ``Py4JJavaError`` for a missing file or
        a corrupt footer, and ``ValueError`` for a column type that
        ``converter`` refuses, naming a TIMESTAMP(NANOS) column.

        The columns are the file's own Parquet schema as ``converter``
        (:meth:`schema_converter`) makes it, never the Spark schema a
        writer stored in the footer's key-value metadata: another writer
        can carry that over unchanged onto different columns. The static
        ``readFooter`` (deprecated but shipped) is several times cheaper
        than ``ParquetFileReader.open``, and the row groups are walked by
        ``size()``/``get(i)``: a Python ``for`` over a py4j list pays an
        iterator protocol per element.
        """
        read_footer, no_filter, footer_cls, _, _ = self._footer_api
        jp = self.jpath(path)
        meta = read_footer(self._conf, jp, no_filter)
        blocks = meta.getBlocks()
        rows = sum(blocks.get(i).getRowCount() for i in range(blocks.size()))
        schema = meta.getFileMetaData().getSchema()
        try:
            columns = converter.convert(schema).json()
        except AnalysisException as err:
            nanos = _NANOS_COLUMN.findall(schema.toString())
            if not nanos:
                raise ValueError(str(err)) from None
            raise ValueError(
                f"column {', '.join(nanos)} is TIMESTAMP(NANOS), which Spark reads only as integers"
            ) from None
        return ParquetFooter(rows, StructType.fromJson(json.loads(columns)), footer_cls(jp, meta))

    def read_footers(self, paths: list[str], converter) -> dict[str, ParquetFooter | str]:
        """Each path's footer (:meth:`read_footer`), read one after another
        on this thread, or the reason it did not read: missing, corrupt,
        or a column type ``converter`` refuses. In the order of ``paths``."""
        footers: dict[str, ParquetFooter | str] = {}
        for p in paths:
            try:
                footers[p] = self.read_footer(p, converter)
            except Py4JJavaError as err:
                footers[p] = err.java_exception.toString()
            except ValueError as err:
                footers[p] = str(err)
        return footers

    def merged_schema(self, footers: list[ParquetFooter], spark: SparkSession) -> StructType:
        """The one schema that reads every file of ``footers`` by column
        name: Spark's own footer merge (``ParquetFileFormat.readSchema``,
        which a schema-merging read runs) under ``spark``'s SQL confs,
        plus by name every column a file's own Parquet schema holds beyond
        the Spark schema its writer stored. A column is null in the rows
        of a file that lacks it. Raises ``Py4JJavaError`` (``Failed to
        merge incompatible schemas``) when files disagree on a type."""
        _, _, _, parquet_format, to_seq = self._footer_api
        merged = parquet_format.readSchema(
            to_seq([f.footer for f in footers]), spark._jsparkSession
        )
        schema = StructType.fromJson(json.loads(merged.get().json()))
        for f in footers:
            for column in f.columns:
                if column.name not in schema.names:
                    schema.add(column)
        return schema

    def rename(self, src: str, dst: str) -> bool:
        return bool(self._fs.rename(self.jpath(src), self.jpath(dst)))

    def delete(self, path: str, recursive: bool = False) -> bool:
        return bool(self._fs.delete(self.jpath(path), recursive))

    def exists(self, path: str) -> bool:
        return bool(self._fs.exists(self.jpath(path)))

    def _read_lines(self, jpath) -> list[str] | None:
        """The lines of one file; None when it does not exist."""
        try:
            stream = self._fs.open(jpath)
        except Py4JJavaError as err:
            if not self._not_found(err):
                raise
            return None
        try:
            reader = self._reader_cls(self._stream_reader_cls(stream, "UTF-8"))
            lines = []
            line = reader.readLine()
            while line is not None:
                lines.append(line)
                line = reader.readLine()
            return lines
        finally:
            stream.close()

    def read_text(self, path: str) -> str | None:
        """Read a small sidecar file written by :meth:`write_text` as UTF-8
        text; None when there is none. No ``exists`` probe comes first: an
        open that raises ``FileNotFoundException`` reads as no file.

        When ``path`` is missing but a complete ``.tmp`` is there, a
        :meth:`write_text` died after deleting the old file and before
        renaming the new one into place: the ``.tmp`` is the current
        content, and is what is read. A ``.tmp`` without the end line is a
        first write that died part way, and reads as no file."""
        lines = self._read_lines(self.jpath(path))
        if lines is None:
            lines = self._read_lines(self.jpath(f"{path}.tmp"))
            if lines is None or lines[-1:] != [END_LINE]:
                return None
        if lines[-1:] == [END_LINE]:
            lines.pop()
        return "\n".join(lines)

    def read_bytes(self, path: str) -> bytes:
        """Read one file fully as bytes (header sniffing, small sidecars).

        Goes through commons-io's toByteArray so the payload crosses
        py4j ONCE as a byte[] return value — iterating a JavaArray
        byte-by-byte would be a py4j round-trip per byte.
        """
        stream = self._fs.open(self.jpath(path))
        try:
            return bytes(self._ioutils.toByteArray(stream))
        finally:
            stream.close()

    def write_text(self, path: str, text: str) -> None:
        """Replace a small sidecar file: write ``{path}.tmp`` and close it,
        delete the old file, rename the ``.tmp`` into place. The text is
        followed by :data:`END_LINE`, so :meth:`read_text` can tell a
        complete ``.tmp`` from a partial one. Raises ``IOError`` when the
        delete or the rename reports failure."""
        tmp = self.jpath(f"{path}.tmp")
        out = self._fs.create(tmp, True)
        try:
            out.write(bytearray(f"{text}\n{END_LINE}\n".encode("utf-8")))
        finally:
            out.close()
        dst = self.jpath(path)
        if self._fs.exists(dst) and not self._fs.delete(dst, False):
            raise IOError(f"could not delete {path} to replace it")
        if not self._fs.rename(tmp, dst):
            raise IOError(f"could not rename {path}.tmp into place")
