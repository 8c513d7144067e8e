"""Applied-migration ledger (SURVEY.md §1.1): one table whose single
required column is named ``migration`` (reference Migrator.pm:140-153; the
column is named explicitly in the INSERT so users may add extra columns,
Changes:34-36).

Backends behind one interface. Readers call ``applied()``, the set of
recorded names; ``applied_df()`` is the same rows as a DataFrame.

- CatalogLedger — a Spark catalog table (parquet-backed). Reading it
  runs no Spark job when it is a plain parquet table (what ``CREATE
  TABLE applied_migration (migration STRING)`` makes): the driver lists
  the table location over its Hadoop FileSystem, skipping what Spark's
  file index skips (names starting with ``_`` or ``.``, so the journal
  too), and parses each data file with pyarrow, taking the one column
  named ``migration`` in any case. Spark reads it instead, after a
  ``refreshTable`` so the listing is fresh, when the table has another
  provider, partitions, a ``CHAR(n)`` column (Spark pads it on read), a
  subdirectory, or a file without exactly one such string column.
  Either read lists the files afresh, so rows another writer added in
  the same session are seen. ``record`` runs no Spark job either: it
  commits one entry into a journal, the hidden directory
  ``_migrator_journal/`` inside the table's own location (``DROP
  TABLE`` removes it with the table). The commit is FileLedger's, over
  the Hadoop FileSystem of the table location: write the name to
  ``.tmp-<uuid>``, hsync and close it, rename it to
  ``<sha256(name)[:32]>.rec``. A reader never sees a partial entry, so
  the record is atomic, where the one-row ``INSERT`` it replaces was
  not; a retried record finds the same entry. Readers take the table
  rows ∪ the journal names. Once per deploy that is not a dry run
  ``compact()`` (1) takes the journal names not among the table rows
  read at the start of the deploy, (2) inserts them with one
  named-column ``INSERT`` (one job, one file), (3) deletes the journal
  entries, and (4) if the table then has more than one data file — one
  written per row by another writer, say — lists its files afresh,
  appends all its rows as one new file, deletes exactly the files it
  listed, and refreshes the table. The migration itself is still not
  atomic with its record, as in the reference (at-least-once,
  Migrator.pm:183-189); a Delta-backed ledger would close that and is
  the recommended production backend (jar not present in this
  environment). The four crash windows:
  - before a record's rename: only a dot-file that every reader
    ignores; the migration runs again on the next deploy, as it would
    at the reference;
  - after a record, before (2): the names sit in the journal only;
    readers see them and the next deploy writes them into the table;
  - after (2), before (3) completes: the names sit in both places; the
    next deploy skips those already in the table, so no row is doubled;
  - inside (4): every row sits twice until the next compaction, which
    is harmless because readers take the set of names. This is why (4)
    is not an ``INSERT OVERWRITE``, which deletes first: a crash inside
    it would empty the ledger and re-apply every migration. The listing
    is taken before (4) reads the table, so it deletes only files it
    has read.
- JdbcLedger — reads/writes the ledger over JDBC (the reference's actual
  I/O plane); requires a JDBC driver jar on the classpath, so it is
  import-safe but raises a clear error when used without one. ``applied``
  is a plain ``SELECT`` and ``record`` a bound INSERT, on one connection
  each: neither is a Spark job, and ``record`` never creates the table.
- FileLedger — an ATOMIC append via write-ahead temp file + rename
  commit: each applied migration is one dot-invisible staging file
  promoted to a committed entry by a single os.rename (atomic on POSIX;
  on object stores swap the rename for a conditional put). A crash at
  any point before the rename leaves only a dot-file that every reader
  ignores — no partial ledger row can ever be observed, closing the
  torn-append window the reference documents (Migrator.pm:183-189).
"""

from __future__ import annotations

import abc
import hashlib
import json
import os
import uuid
from functools import cached_property

from py4j.protocol import Py4JJavaError
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

from .ddl import jdbc_connection


class Ledger(abc.ABC):
    @abc.abstractmethod
    def exists(self) -> bool: ...

    @abc.abstractmethod
    def applied_df(self) -> DataFrame:
        """DataFrame with the single column ``migration: string``."""

    @abc.abstractmethod
    def applied(self) -> set[str]:
        """The recorded migration names."""

    @abc.abstractmethod
    def record(self, name: str) -> None: ...

    def compact(self) -> None:
        """Fold the storage ``record`` left behind; the migrator calls it
        once after every deploy that is not a dry run, a failed one too.
        Nothing by default: the FileLedger's file per entry is its commit
        protocol, and a JDBC table needs no upkeep."""


def _entry_name(name: str) -> str:
    """The committed file of ``name``: a pure function of it, so a
    retried record finds the same entry."""
    return hashlib.sha256(name.encode("utf-8")).hexdigest()[:32] + ".rec"


def _is_data_file(name: str) -> bool:
    """Spark's rule for the files of a table (``InMemoryFileIndex``):
    names starting with ``_`` (the journal among them) or ``.`` are
    metadata or staging, as are ``._COPYING_`` uploads; a ``_`` name
    holding ``=`` is a partition value."""
    return not (
        name.startswith(".")
        or (name.startswith("_") and "=" not in name)
        or name.endswith("._COPYING_")
    )


def _parquet_names(data: bytes) -> list | None:
    """The ``migration`` values of one parquet file, read on the driver;
    None unless the file holds exactly one string column of that name,
    matched case-insensitively as Spark's parquet reader matches it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    try:
        f = pq.ParquetFile(pa.BufferReader(data))
        cols = [c for c in f.schema_arrow.names if c.lower() == "migration"]
        if len(cols) != 1:
            return None
        col = f.read(columns=cols).column(0)
    except pa.ArrowException:
        return None
    if not (pa.types.is_string(col.type) or pa.types.is_large_string(col.type)):
        return None
    return col.to_pylist()


class CatalogLedger(Ledger):
    """The ledger table plus its journal; see the module docstring.

    One deploy calls ``exists``, ``applied``, ``record`` per migration and
    ``compact``. The first two remember the table location, the table
    rows, its data files and the journal entries, so the rest of the
    deploy reads neither the catalog nor the journal again."""

    JOURNAL = "_migrator_journal"

    def __init__(self, spark: SparkSession, table: str = "applied_migration"):
        self.spark = spark
        self.table = table
        self._location: str | None = None  # as of the last catalog lookup
        self._plain_parquet = False  # the driver may read the table's files
        self._rows: set[str] | None = None  # the table's names, read by applied()
        self._file_count: int | None = None  # its data files, listed by applied()
        self._journal: dict[str, str] | None = None  # entry file -> name

    def _lookup(self) -> str | None:
        """The table location from one external-catalog ``getTable``;
        None when the table or its database is missing. The same lookup
        says whether the driver may read the table: a parquet table, not
        partitioned, whose ``migration`` column is a ``STRING`` or
        ``VARCHAR`` (Spark pads a ``CHAR(n)`` on read), in a session that
        resolves column names case-insensitively."""
        db, _, name = self.table.rpartition(".")
        db = db.strip("`") or self.spark.catalog.currentDatabase()
        catalog = self.spark._jsparkSession.sharedState().externalCatalog()  # noqa: SLF001
        try:
            meta = catalog.getTable(db.lower(), name.strip("`").lower())
        except AnalysisException as e:
            if e.getCondition() not in ("TABLE_OR_VIEW_NOT_FOUND", "SCHEMA_NOT_FOUND"):
                raise
            self._location = None
        else:
            self._location = meta.location().toString()
            types = [
                f["type"]
                for f in json.loads(meta.schema().json())["fields"]
                if f["name"].lower() == "migration"
            ]
            self._plain_parquet = (
                meta.provider().toString().lower() == "some(parquet)"
                # the file column is matched as Spark matches it by default
                and self.spark.conf.get("spark.sql.caseSensitive") == "false"
                and meta.partitionColumnNames().isEmpty()
                and len(types) == 1
                and (types[0] == "string" or types[0].startswith("varchar("))
            )
        return self._location

    def exists(self) -> bool:
        # exact-match existence check — deliberately fixes the reference's
        # substring false-positive risk (`/\b\Q$table\E\b/` over
        # dbh->tables(), Core.pm:221)
        return self._lookup() is not None

    @cached_property
    def _path(self):
        """Hadoop's ``Path`` class, looked up once: each lookup through
        ``spark._jvm`` is a JVM round trip per package segment, about
        1.4 ms, more than reading a ledger file."""
        return self.spark._jvm.org.apache.hadoop.fs.Path  # noqa: SLF001

    @cached_property
    def _io_utils(self):
        """commons-io's ``IOUtils`` class, looked up once (see ``_path``)."""
        return self.spark._jvm.org.apache.commons.io.IOUtils  # noqa: SLF001

    def _fs(self, path):
        """The Hadoop ``FileSystem`` of ``path``."""
        return path.getFileSystem(self.spark._jsc.hadoopConfiguration())  # noqa: SLF001

    def _journal_dir(self):
        """``(FileSystem, journal Path)``, or ``(None, None)`` when the
        table is missing."""
        location = self._location or self._lookup()
        if location is None:
            return None, None
        path = self._path(location, self.JOURNAL)
        return self._fs(path), path

    def _read_bytes(self, fs, path) -> bytes:
        stream = fs.open(path)
        try:
            return bytes(self._io_utils.toByteArray(stream))
        finally:
            stream.close()

    def _read_journal(self) -> dict[str, str]:
        """The committed entries, file name -> migration name."""
        fs, journal = self._journal_dir()
        if fs is None:
            return {}
        return {
            status.getPath().getName(): self._read_bytes(fs, status.getPath()).decode("utf-8")
            for status in fs.globStatus(self._path(journal, "*.rec")) or []
        }

    def _data_files(self) -> list | None:
        """``FileStatus`` of the table's data files, from a fresh listing
        of its location; None when the location holds a directory or
        cannot be listed, which Spark's own listing then handles."""
        location = self._location or self._lookup()
        if location is None:
            return None
        path = self._path(location)
        try:
            statuses = self._fs(path).listStatus(path)
        except Py4JJavaError:
            return None
        files = []
        for status in statuses:
            if not _is_data_file(status.getPath().getName()):
                continue
            if status.isDirectory():
                return None
            files.append(status)
        return files

    def _read_rows(self, files) -> set[str] | None:
        """The names in the parquet ``files``, read on the driver; None
        when one file is not the shape ``_parquet_names`` reads."""
        rows: set[str] = set()
        fs = self._fs(self._path(self._location))
        for status in files:
            data = self._read_bytes(fs, status.getPath())
            if not data:
                continue  # Spark reads no split of an empty file
            names = _parquet_names(data)
            if names is None:
                return None
            rows.update(names)
        return rows

    def _table_df(self) -> DataFrame:
        return self.spark.table(self.table).select("migration")

    def applied_df(self) -> DataFrame:
        journal = sorted(self._read_journal().values())
        if not journal:
            return self._table_df()
        return self._table_df().union(
            self.spark.createDataFrame([(n,) for n in journal], "migration string")
        )

    def applied(self) -> set[str]:
        # the journal first: a compaction between the two reads moves
        # names into the table, never out of both
        self._journal = self._read_journal()
        files = self._data_files()
        rows = self._read_rows(files) if self._plain_parquet and files is not None else None
        if rows is None:
            # Spark lists a table's files once and caches the listing;
            # another writer's files are in a fresh one only
            self.spark.catalog.refreshTable(self.table)
            rows = {r[0] for r in self._table_df().collect()}
        self._rows = rows
        self._file_count = None if files is None else len(files)
        return rows | set(self._journal.values())

    def record(self, name: str) -> None:
        fs, journal = self._journal_dir()
        if fs is None:
            raise LookupError(f"ledger table {self.table} does not exist")
        staged = self._path(journal, f".tmp-{uuid.uuid4().hex}")
        entry = self._path(journal, _entry_name(name))
        out = fs.create(staged, False)
        try:
            out.write(name.encode("utf-8"))
            out.hsync()
        finally:
            out.close()
        if not fs.rename(staged, entry):  # COMMIT POINT
            # Hadoop's rename does not replace: a retried record finds
            # its entry committed already, with the same content
            fs.delete(staged, False)
            if not fs.exists(entry):
                raise OSError(f"could not commit ledger journal entry {entry}")
        if self._journal is not None:
            self._journal[entry.getName()] = name

    def compact(self) -> None:
        # the order of the four steps is the crash-safety argument; see
        # the module docstring
        if self._rows is None:
            if self._lookup() is None:
                return
            self.applied()
        journal, rows, seen = self._journal, self._rows, self._file_count
        self._journal = self._rows = self._file_count = None  # stale from here on
        new = sorted(set(journal.values()) - rows)
        if new:
            # named column, parameterized literals (Core.pm:208-210), so
            # user-added ledger columns keep their defaults
            marks = ", ".join(f"(:n{i})" for i in range(len(new)))
            self.spark.sql(
                f"INSERT INTO {self.table} (migration) "  # noqa: S608
                f"SELECT /*+ COALESCE(1) */ * FROM VALUES {marks}",
                args={f"n{i}": n for i, n in enumerate(new)},
            )
        if journal:
            fs, journal_dir = self._journal_dir()
            for entry in journal:
                fs.delete(self._path(journal_dir, entry), False)

        if seen is not None and seen + bool(new) <= 1:
            return
        # the files to delete come from a listing taken before the fold
        # reads the table, so the fold reads every file it deletes
        listed = self._data_files()
        self.spark.catalog.refreshTable(self.table)
        if listed is None:
            files = [self._path(f) for f in self.spark.table(self.table).inputFiles()]
        else:
            files = [status.getPath() for status in listed]
        if len(files) <= 1:
            return
        # all columns, so user-added ledger columns survive
        self.spark.table(self.table).coalesce(1).write.insertInto(self.table)
        for path in files:
            self._fs(path).delete(path, False)
        self.spark.catalog.refreshTable(self.table)


class FileLedger(Ledger):
    """Atomic applied-migration ledger on a filesystem directory.

    Commit protocol (SURVEY.md §2A row 16, atomic upgrade):
      1. write the migration name to ``.tmp-<uuid>`` inside the ledger
         directory and flush+fsync it (write-ahead);
      2. ``os.rename`` it to ``<sha256(name)[:32]>.rec`` — the COMMIT
         POINT. rename(2) is atomic on POSIX filesystems, and dot-files
         are invisible to both ``_entries``' reader and Spark's file
         sources, so a crash between 1 and 2 leaves no observable row;
      3. fsync the ledger DIRECTORY so the committed entry survives a
         power failure after record() returns (rename is atomic but not
         durable until its directory entry reaches disk).

    The committed filename is a pure function of the migration name, so
    a retry after a crash-after-commit simply overwrites the same entry
    — record() is idempotent, upgrading the reference's at-least-once
    ledger to exactly-once per migration name.
    """

    _SUFFIX = ".rec"

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def exists(self) -> bool:
        # missing directory ⇒ applied = ∅ (the documented bootstrap rule,
        # Migrator.pm:155-162); bootstrap is create() / first record()
        return os.path.isdir(self.path)

    def create(self) -> None:
        os.makedirs(self.path, exist_ok=True)

    def _entries(self) -> list[str]:
        names = []
        for fn in sorted(os.listdir(self.path)):
            if fn.startswith(".") or not fn.endswith(self._SUFFIX):
                continue  # staging leftovers and foreign files are invisible
            with open(os.path.join(self.path, fn), encoding="utf-8") as f:
                names.append(f.read())
        return names

    def applied_df(self) -> DataFrame:
        return self.spark.createDataFrame(
            [(n,) for n in self._entries()], "migration string"
        )

    def applied(self) -> set[str]:
        return set(self._entries())

    def record(self, name: str) -> None:
        self.create()
        staged = os.path.join(self.path, f".tmp-{uuid.uuid4().hex}")
        committed = os.path.join(self.path, _entry_name(name))
        fd = os.open(staged, os.O_WRONLY | os.O_CREAT | os.O_EXCL, 0o644)
        try:
            with os.fdopen(fd, "w", encoding="utf-8") as f:
                f.write(name)
                f.flush()
                os.fsync(f.fileno())
        except BaseException:
            # crashed write-ahead: remove best-effort; even if this
            # cleanup itself dies, the dot-file is invisible to readers
            try:
                os.unlink(staged)
            finally:
                raise
        os.rename(staged, committed)  # COMMIT POINT (atomic)
        # The rename is atomic but not durable until the DIRECTORY entry
        # is on disk — without this fsync a power failure after record()
        # returns can roll back the commit (POSIX makes no ordering
        # promise for metadata). Best-effort on filesystems that reject
        # directory fsync (some network mounts): the atomicity guarantee
        # stands either way, only crash-durability degrades.
        try:
            dfd = os.open(self.path, os.O_RDONLY)
        except OSError:
            return
        try:
            os.fsync(dfd)
        except OSError:
            pass
        finally:
            os.close(dfd)


class JdbcLedger(Ledger):
    def __init__(
        self,
        spark: SparkSession,
        url: str,
        table: str = "applied_migration",
        properties: dict[str, str] | None = None,
    ):
        self.spark = spark
        self.url = url
        self.table = table
        self.properties = properties or {}

    def exists(self) -> bool:
        """True iff the ledger table exists. A missing table means
        'applied = ∅' (the documented bootstrap rule); anything else —
        connection refused, bad credentials, missing driver — must RAISE,
        not return False, or a transient failure would silently re-apply
        every migration."""
        # JDBC metadata probe, not exception-message parsing: an unrelated
        # error whose message happens to contain 'not found' must RAISE,
        # never silently classify as 'ledger missing'. Connectivity errors
        # propagate from getConnection itself.
        with jdbc_connection(self.spark, self.url, self.properties) as conn:
            meta = conn.getMetaData()
            # unquoted identifiers are stored case-folded per DBMS (Derby/
            # Oracle upper, Postgres lower) — probe the plausible foldings.
            # '_' is a JDBC pattern wildcard, so getTables('applied_migration')
            # also matches e.g. APPLIED1MIGRATION: re-check the returned
            # names for EXACT equality instead of trusting the pattern.
            for candidate in dict.fromkeys(
                (self.table, self.table.upper(), self.table.lower())
            ):
                rs = meta.getTables(None, None, candidate, None)
                try:
                    while rs.next():
                        if rs.getString("TABLE_NAME") == candidate:
                            return True
                finally:
                    rs.close()
            return False

    def applied_df(self) -> DataFrame:
        from pyspark.sql import functions as F

        # case-normalize: some DBMSes (Derby, Oracle) uppercase unquoted
        # identifiers; resolution is case-insensitive but output isn't
        return self.spark.read.jdbc(self.url, self.table, properties=self.properties).select(
            F.col("migration").alias("migration")
        )

    def _column(self, conn) -> str:
        """The ledger column, quoted as the table spells it: DBMSes fold
        unquoted names differently, and Spark's JDBC writer creates a
        quoted lower-case "migration"."""
        probe = f"SELECT * FROM {self.table} WHERE 1 = 0"  # noqa: S608
        cols = conn.createStatement().executeQuery(probe).getMetaData()
        names = [cols.getColumnName(i + 1) for i in range(cols.getColumnCount())]
        col = next((c for c in names if c.lower() == "migration"), "migration")
        q = conn.getMetaData().getIdentifierQuoteString().strip()
        return f"{q}{col}{q}"

    def applied(self) -> set[str]:
        # a plain SELECT on one connection: no Spark job
        with jdbc_connection(self.spark, self.url, self.properties) as conn:
            rs = conn.createStatement().executeQuery(
                f"SELECT {self._column(conn)} FROM {self.table}"  # noqa: S608
            )
            names = set()
            while rs.next():
                names.add(rs.getString(1))
            return names

    def record(self, name: str) -> None:
        # the named-column INSERT (Core.pm:208-210), bound, on a plain
        # connection: no Spark job
        with jdbc_connection(self.spark, self.url, self.properties) as conn:
            st = conn.prepareStatement(
                f"INSERT INTO {self.table} ({self._column(conn)}) VALUES (?)"  # noqa: S608
            )
            st.setString(1, name)
            st.executeUpdate()
