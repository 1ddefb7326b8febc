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
lake. A leaf's own files are one ``listStatus`` (see
:meth:`HadoopFS.list_files`).
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import cached_property
from urllib.parse import unquote, urlsplit, urlunsplit

from py4j.java_gateway import is_instance_of
from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession


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


def _listed(status) -> ListedFile:
    """A ListedFile from a Hadoop FileStatus."""
    return ListedFile(
        path=status.getPath().toString(),
        size=int(status.getLen()),
        modified=status.getModificationTime() / 1000.0,
    )


@dataclass(frozen=True)
class ParquetFooter:
    rows: int  # sum of the row groups' row counts
    schema: str  # Spark schema JSON (HadoopFS.read_footer)


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
        ``prefix`` does not exist.

        - ``recursive=False``: the immediate files of one directory, from
          one ``listStatus`` call (sub-directories are dropped). This is
          the leaf-scoped listing: no block locations and no permissions
          are built per file.
        - recursive (the default): every file in the subtree, from
          Hadoop's ``listFiles(prefix, true)``. It returns *located*
          statuses: block locations and permissions per file, which the
          compactor never reads. Without Hadoop's native library each
          local permission load forks an ``ls``, and an object store walks
          the whole key prefix. Use it only where a subtree matters (a
          write's ``_temporary`` task files, an orphan dir's contents).
        - ``distributed=True``: recursive, through Spark's binaryFile
          source (metadata columns only — content is pruned, no data is
          read), collected in ONE round trip. The py4j modes cost ~5 JVM
          round trips PER FILE (hasNext/next/getters): fine for a leaf,
          minutes of driver stalling for a million-object lake, while one
          distributed listing is a Spark job (~0.3 s). Lake-wide scans
          (planning, reporting) pass distributed=True.

        Mirrors get_common_prefixes_recursive + convert_results
        (parquet_compactor.py:80-122) in a single FileSystem call. All
        modes spell paths the same raw way: the binaryFile ``path`` column
        is NOT URI-encoded (``a b.parquet`` and ``e%41.parquet`` come back
        as named), so it is used as is.

        Mode divergence callers must know: Spark's file index SKIPS
        hidden files (basename starting ``_`` or ``.``) and everything
        under hidden directories, while the py4j modes list them. Spark's
        own readers skip the same set, so for planning what a merge/scan
        will touch the distributed view is the truthful one; callers
        needing sidecars (_SUCCESS, manifests) must use a py4j mode.
        """
        p = self.jpath(prefix)
        if distributed:
            if not self._fs.exists(p):
                return []
            from pyspark.sql import functions as F

            df = (
                self._spark.read.format("binaryFile")
                .option("recursiveFileLookup", "true")
                .load(prefix)
                # unix_micros: epoch extracted JVM-side from the instant.
                # Collecting the timestamp and calling .timestamp() on the
                # naive local datetime would resolve a DST fall-back fold
                # to the wrong hour on DST-observing hosts.
                .select("path", "length", F.unix_micros("modificationTime").alias("mtime_us"))
            )
            return [
                ListedFile(
                    path=r.path,
                    size=int(r.length),
                    modified=r.mtime_us / 1_000_000.0,
                )
                for r in df.collect()
            ]
        if not recursive:
            return [_listed(st) for st in self._statuses(p) if st.isFile()]
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
        hidden ones included — the py4j surface the orphan-tmp sweep
        needs, since Spark's distributed listing skips hidden dirs by
        design. ``modified`` is the directory's own mtime, ``size`` 0."""
        return [
            ListedFile(st.getPath().toString(), 0, st.getModificationTime() / 1000.0)
            for st in self._statuses(self.jpath(path))
            if st.isDirectory()
        ]

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
        """(readFooter, NO_FILTER, Footer, readSchemaFromFooter) handles,
        looked up on the first footer read only."""
        jvm = self._jvm
        return (
            jvm.org.apache.parquet.hadoop.ParquetFileReader.readFooter,
            jvm.org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER,
            jvm.org.apache.parquet.hadoop.Footer,
            jvm.org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
            .readSchemaFromFooter,
        )

    def schema_converter(self, spark: SparkSession):
        """The parquet-to-Spark schema converter for ``spark``'s SQL confs
        (binaryAsString, int96AsTimestamp, nanosAsLong, ...), as Spark's
        own schema inference builds it. Build it once per session."""
        converter_cls = (
            self._jvm.org.apache.spark.sql.execution.datasources.parquet
            .ParquetToSparkSchemaConverter
        )
        return converter_cls(spark._jsparkSession.sessionState().conf())

    def read_footer(self, path: str, converter, physical: bool = False) -> ParquetFooter:
        """One parquet file's row count and Spark schema, from its footer
        alone: a couple of range reads, on the driver, on every Hadoop
        FileSystem. Raises py4j's ``Py4JJavaError`` for a missing file or
        a corrupt footer.

        The schema is what ``ParquetFileFormat.readSchemaFromFooter`` —
        the code Spark's inference runs — makes of the footer with
        ``converter`` (:meth:`schema_converter`). That prefers the Spark
        schema a writer stored in the footer's key-value metadata, which
        another writer can carry over unchanged onto different columns.
        ``physical=True`` converts the file's own Parquet schema instead:
        the columns the file really holds. The static ``readFooter``
        (deprecated but shipped) is several times cheaper than
        ``ParquetFileReader.open``, and the row groups are walked by
        ``size()``/``get(i)``: a Python ``for`` over a py4j list pays an
        iterator protocol per element.
        """
        read_footer, no_filter, footer_cls, read_schema = self._footer_api
        jp = self.jpath(path)
        meta = read_footer(self._conf, jp, no_filter)
        blocks = meta.getBlocks()
        rows = sum(blocks.get(i).getRowCount() for i in range(blocks.size()))
        if physical:
            schema = converter.convert(meta.getFileMetaData().getSchema())
        else:
            schema = read_schema(footer_cls(jp, meta), converter)
        return ParquetFooter(rows, schema.json())

    def rename(self, src: str, dst: str) -> bool:
        return bool(self._fs.rename(self.jpath(src), self.jpath(dst)))

    def delete(self, path: str, recursive: bool = False) -> bool:
        return bool(self._fs.delete(self.jpath(path), recursive))

    def exists(self, path: str) -> bool:
        return bool(self._fs.exists(self.jpath(path)))

    def _read_lines(self, jpath) -> list[str]:
        stream = self._fs.open(jpath)
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
        text; None when there is none.

        When ``path`` is missing but a complete ``.tmp`` is there, a
        :meth:`write_text` died after deleting the old file and before
        renaming the new one into place: the ``.tmp`` is the current
        content, and is what is read. A ``.tmp`` without the end line is a
        first write that died part way, and reads as no file."""
        dst = self.jpath(path)
        if self._fs.exists(dst):
            lines = self._read_lines(dst)
        else:
            tmp = self.jpath(f"{path}.tmp")
            if not self._fs.exists(tmp):
                return None
            lines = self._read_lines(tmp)
            if lines[-1:] != [END_LINE]:
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
