"""Hadoop FileSystem helpers (py4j) — one API for file://, s3a://, hdfs://.

The reference talks to S3 through boto3 pagination
(parquet_compactor.py:68-99) and deletes via awswrangler
(parquet_compactor.py:230-234). Spark's JVM already carries the Hadoop
FileSystem abstraction for every store it can read, so we use it for
listing, deletes and the sidecar files — no second S3 client, and
local-filesystem tests exercise the identical code path as a production
object store.

A single lake-wide listing replaces the reference's O(directories)
paginated round-trips: object stores implement a recursive listing as a
flat key-prefix scan, which is the scalable way to enumerate a 100 TB
lake. A leaf's own entries, files and sub-directories, are one
``listStatus`` (see :meth:`HadoopFS.list_files`).
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from functools import cached_property
from urllib.parse import unquote, urlsplit, urlunsplit

from py4j.java_gateway import is_instance_of
from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession
from pyspark.sql.types import StructType


def _decode_uri_path(uri: str) -> str:
    """Decode %xx escapes in the *path component* of a file URI.

    Spark's ``_metadata.file_path`` column is URI-encoded (space -> %20,
    a literal ``%`` -> %25), while the listings, Hadoop Path-based
    rename/delete/read and the py4j listFiles iterator spell paths raw.
    Decoding maps the former onto the latter. Only the path segment is
    decoded — scheme/authority are left untouched. Never apply it to a
    raw path: a file literally named ``e%41.parquet`` would become
    ``eA.parquet``.
    """
    if "://" not in uri:
        return unquote(uri)
    parts = urlsplit(uri)
    return urlunsplit(
        (parts.scheme, parts.netloc, unquote(parts.path), parts.query, parts.fragment)
    )


#: Last line of every file :meth:`HadoopFS.write_text` writes.
END_LINE = "_end"


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
        self._root = self.jpath(root)
        self._fs = self._root.getFileSystem(self._conf)

    def jpath(self, uri: str):
        return self._path_cls(uri)

    def qualified(self, uri: str) -> str:
        """Fully-qualified URI string (scheme + authority), matching the
        form listing entries carry — for path comparisons."""
        return str(self._fs.makeQualified(self.jpath(uri)))

    def list_files(
        self, prefix: str, distributed: bool = False, recursive: bool = True
    ) -> list[ListedFile]:
        """The files under ``prefix``, in one of three modes; none when
        ``prefix`` does not exist. Mirrors get_common_prefixes_recursive +
        convert_results (parquet_compactor.py:80-122) in a single
        FileSystem call. Every mode spells paths raw: the binaryFile
        ``path`` column is not URI-encoded (``a b.parquet`` and
        ``e%41.parquet`` come back as named).

        - ``recursive=False``: one ``listStatus`` of one directory: its
          files, and its sub-directories marked ``is_dir`` with nothing
          under them. This is the leaf listing, the one metadata read a
          pass makes of each leaf; it builds no block locations or
          permissions.
        - recursive (the default): every file in the subtree, from
          Hadoop's ``listFiles(prefix, true)``. Its *located* statuses
          carry block locations and permissions the compactor never reads
          (without Hadoop's native library each local permission load
          forks an ``ls``). Use it only where a subtree matters: a write's
          ``_temporary`` task files, an orphan dir's contents.
        - ``distributed=True``: recursive, through Spark's binaryFile
          source (metadata columns only, no data is read), collected in ONE
          round trip. The py4j modes cost ~5 JVM round trips PER FILE:
          fine for a leaf, minutes for a million-object lake, where one
          distributed listing is a Spark job (~0.3 s). Lake-wide scans
          (planning, reporting) pass distributed=True.

        Spark's file index SKIPS hidden files (basename starting ``_`` or
        ``.``) and everything under hidden directories, as Spark's readers
        do, so the distributed view is the truthful one for planning what
        a merge or scan will touch; the py4j modes list hidden entries, so
        callers needing sidecars (manifests) use a py4j mode.
        """
        if distributed:
            from pyspark.errors import AnalysisException
            from pyspark.sql import functions as F

            reader = self._spark.read.format("binaryFile").option("recursiveFileLookup", "true")
            try:  # no exists probe first: the load checks the path itself
                df = reader.load(prefix)
            except AnalysisException as err:
                if err.getCondition() != "PATH_NOT_FOUND":
                    raise
                return []
            # unix_micros: epoch extracted JVM-side from the instant.
            # Collecting the timestamp and calling .timestamp() on the
            # naive local datetime would resolve a DST fall-back fold to
            # the wrong hour on DST-observing hosts.
            df = df.select("path", "length", F.unix_micros("modificationTime").alias("mtime_us"))
            return [
                ListedFile(
                    path=r.path,
                    size=int(r.length),
                    modified=r.mtime_us / 1_000_000.0,
                )
                for r in df.collect()
            ]
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

    def list_dirs(self, path: str) -> list[ListedFile]:
        """Immediate CHILD DIRECTORIES of ``path`` (one listStatus call),
        hidden ones included: the deep orphan sweep's walk and the
        streaming state dirs. A pass reads a leaf's dirs from its
        ``list_files(recursive=False)`` listing instead."""
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
        (binaryAsString, int96AsTimestamp, nanosAsLong, ...), as Spark's
        own schema inference builds it. Build it once per pass."""
        converter_cls = (
            self._jvm.org.apache.spark.sql.execution.datasources.parquet
            .ParquetToSparkSchemaConverter
        )
        return converter_cls(spark._jsparkSession.sessionState().conf())

    def read_footer(self, path: str, converter) -> ParquetFooter:
        """One parquet file's row count and columns, from its footer
        alone: a couple of range reads, on the driver, on every Hadoop
        FileSystem. Raises py4j's ``Py4JJavaError`` for a missing file or
        a corrupt footer.

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
        columns = converter.convert(meta.getFileMetaData().getSchema()).json()
        return ParquetFooter(rows, StructType.fromJson(json.loads(columns)), footer_cls(jp, meta))

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
