"""Applied-migration ledger (SURVEY.md §1.1): one table whose single
required column is named ``migration`` (reference Migrator.pm:140-153; the
column is named explicitly in the INSERT so users may add extra columns,
Changes:34-36).

Backends behind one interface. Readers call ``applied()``, the set of
recorded names, the one read each backend implements; ``applied_df()``
derives from it the same names as a DataFrame.

- CatalogLedger — a Spark catalog table (parquet-backed) plus a journal,
  the hidden directory ``_migrator_journal/`` inside the table's own
  location (``DROP TABLE`` removes it with the table). One external-catalog
  ``getTable`` per deploy finds the table, its location and its shape.
  The table's files are then worked on where they are: at a ``file:``
  location by the driver itself, with ``os`` and pyarrow, so a deploy
  makes no JVM file-system call; at any other location through that
  location's Hadoop FileSystem, one JVM call per file operation.

  Reading it runs no Spark job when it is a plain parquet table (what
  ``CREATE TABLE applied_migration (migration STRING)`` makes): the driver
  lists the table location, skipping what Spark's file index skips
  (names starting with ``_`` or ``.``, so the journal too), and parses
  each data file with pyarrow, taking the one column named ``migration``
  in any case. Spark reads it instead, after a ``refreshTable`` so the
  listing is fresh, when the table has another provider, partitions, a
  ``CHAR(n)`` column (Spark pads it on read), a subdirectory, or a file
  without exactly one such string column. Either read lists the files
  afresh, so rows another writer added in the same session are seen.

  ``record`` runs no Spark job either: it commits one entry into the
  journal, FileLedger's commit: write the name to ``.tmp-<uuid>``, sync
  it, rename it to ``<sha256(name)[:32]>.rec``, sync the directory. At a
  ``file:`` location that is FileLedger's own code; elsewhere the first
  three steps run over the Hadoop FileSystem (``hsync``, a rename that
  does not replace). A reader never sees a partial entry, so the record
  is atomic, where a one-row ``INSERT`` is not; a retried record finds
  the same entry. Readers take the table rows ∪ the journal names. The migration itself is still not atomic with its
  record, as in the reference (at-least-once, Migrator.pm:183-189); a
  Delta-backed ledger would close that and is the recommended production
  backend (jar not present in this environment).

  Once per deploy that is not a dry run ``compact()`` folds the journal
  into the table, and a table of more than one data file into one file.
  It never deletes before it writes: an ``INSERT OVERWRITE`` deletes
  first, and a crash inside it would empty the ledger and re-apply every
  migration. A crash before a record's rename leaves only a dot-file that
  every reader ignores; the migration runs again on the next deploy, as
  it would at the reference. The fold takes one of two routes.

  The driver fold, for a plain parquet table at a ``file:`` location
  whose only column is ``migration``, with no table statistics (a Spark
  write would drop them) and no name longer than a ``VARCHAR(n)`` column
  allows (Spark's write fails on one with ``EXCEED_LIMIT_LENGTH``). When
  the journal holds entries, the table has more than one data file or a
  file holds a name twice, it (1) writes every name the deploy read from
  the table and its journal once, as one parquet file, committed as a
  record is (dot-file, fsync, rename, directory fsync), (2) deletes the
  journal entries, (3) deletes the data files it read, each with its
  ``.crc`` sidecar, and (4) refreshes the table in the session. No Spark
  job runs. Its crash windows:
  - before (1)'s rename: only a dot-file; the names sit in the journal,
    where readers see them, and the next deploy folds them;
  - after (1), before (3) completes: rows sit twice, in the new file and
    the old ones, the journal names maybe in the journal too; readers take
    the set, so nothing re-applies, and the next deploy, a no-op one too,
    writes each name once and deletes the rest.

  The Spark fold, for every other table: (1) insert the journal names
  not among the table rows read at the start of the deploy with one
  named-column ``INSERT`` (one job, one file), so user-added columns keep
  their defaults, (2) delete the journal entries, and (3) if the table
  then has more than one data file, list its files afresh, append all its
  rows as one new file, delete exactly the files it listed (the listing
  is taken before the fold reads the table, so it deletes only files it
  has read) and refresh the table. Its crash windows:
  - after a record, before (1): the names sit in the journal only;
    readers see them and the next deploy writes them into the table;
  - after (1), before (2) completes: the names sit in both places; the
    next deploy skips those already in the table, so no row is doubled;
  - inside (3): every row sits twice and stays so, every later fold
    copying both, which is harmless because readers take the set of
    names; rows with user columns are kept as they are.
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
import contextlib
import hashlib
import json
import os
import uuid
from functools import cached_property
from urllib.parse import unquote, urlsplit

from py4j.protocol import Py4JJavaError
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

from .ddl import jdbc_connection

JOURNAL = "_migrator_journal"


class Ledger(abc.ABC):
    @abc.abstractmethod
    def exists(self) -> bool: ...

    @abc.abstractmethod
    def applied(self) -> set[str]:
        """The recorded migration names."""

    def applied_df(self) -> DataFrame:
        """``applied()`` as a DataFrame with the single column
        ``migration: string``, in no order: a ledger file may hold a null
        name, which does not sort among strings. Built from an Arrow
        table, so it plans as a local relation; a list of rows would
        plan as an RDD scan."""
        import pyarrow as pa

        names = pa.array(list(self.applied()), pa.string())
        return self.spark.createDataFrame(pa.table({"migration": names}))

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


def _is_entry(file_name: str) -> bool:
    """A committed entry: staging leftovers and foreign files are not."""
    return not file_name.startswith(".") and file_name.endswith(".rec")


def _fsync_dir(path: str) -> None:
    """Sync the directory ``path``: a rename in it is atomic but not
    durable until its directory entry is on disk (POSIX makes no ordering
    promise for metadata), so without this a power failure after the
    rename can roll the commit back. Best-effort on filesystems that
    reject directory fsync (some network mounts): the atomicity guarantee
    stands either way, only crash-durability degrades."""
    try:
        fd = os.open(path, os.O_RDONLY)
    except OSError:
        return
    try:
        os.fsync(fd)
    except OSError:
        pass
    finally:
        os.close(fd)


def _commit_file(directory: str, name: str, data: bytes) -> None:
    """Write ``data`` to ``directory/name`` atomically and durably.

    1. write it to ``.tmp-<uuid>`` in ``directory`` and fsync it
       (write-ahead);
    2. ``os.rename`` it to ``name`` — the COMMIT POINT. rename(2) is
       atomic on POSIX filesystems and replaces what it renames over, and
       dot-files are invisible to every reader here and to Spark's file
       sources, so a crash between 1 and 2 leaves nothing observable;
    3. fsync ``directory``, so the file survives a power failure after
       this returns."""
    staged = os.path.join(directory, f".tmp-{uuid.uuid4().hex}")
    fd = os.open(staged, os.O_WRONLY | os.O_CREAT | os.O_EXCL, 0o644)
    try:
        with os.fdopen(fd, "wb") as f:
            f.write(data)
            f.flush()
            os.fsync(f.fileno())
    except BaseException:
        # crashed write-ahead: remove best-effort; even if this
        # cleanup itself dies, the dot-file is invisible to readers
        try:
            os.unlink(staged)
        finally:
            raise
    os.rename(staged, os.path.join(directory, name))  # COMMIT POINT (atomic)
    _fsync_dir(directory)


def _local_path(location: str) -> str | None:
    """The directory of a ``file:`` table location, which the driver
    works on with ``os``; None for any other scheme, whose files only
    the location's Hadoop FileSystem reaches."""
    uri = urlsplit(location)
    return unquote(uri.path) if uri.scheme == "file" else None


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


class _LocalFiles:
    """The files of a ledger table at a ``file:`` location, worked on with
    ``os`` on the driver: no JVM call. A file is its path."""

    def __init__(self, location: str, path: str):
        self.location = location
        self.path = path
        self.journal_dir = os.path.join(path, JOURNAL)

    def data_files(self) -> list[str] | None:
        """The table's data files, from a fresh listing; None when the
        location holds a directory or cannot be listed, which Spark's own
        listing then handles."""
        try:
            with os.scandir(self.path) as it:
                entries = list(it)
        except OSError:
            return None
        files = []
        for e in entries:
            if not _is_data_file(e.name):
                continue
            if e.is_dir():
                return None
            files.append(e.path)
        return files

    def read(self, path: str) -> bytes:
        with open(path, "rb") as f:
            return f.read()

    def journal(self) -> dict[str, str]:
        """The committed entries, file name -> migration name."""
        try:
            with os.scandir(self.journal_dir) as it:
                entries = [e.name for e in it if _is_entry(e.name)]
        except FileNotFoundError:
            return {}
        return {e: self.read(self.entry(e)).decode("utf-8") for e in entries}

    def entry(self, entry: str) -> str:
        return os.path.join(self.journal_dir, entry)

    def commit(self, name: str) -> str:
        """Commit ``name`` into the journal; return its entry."""
        os.makedirs(self.journal_dir, exist_ok=True)
        entry = _entry_name(name)
        _commit_file(self.journal_dir, entry, name.encode("utf-8"))
        return entry

    def from_uri(self, uri: str) -> str:
        return _local_path(uri)

    def delete(self, paths) -> None:
        """Remove each file with its ``.<name>.crc`` sidecar, as Hadoop's
        checksummed local FileSystem does; one already gone is fine."""
        for path in paths:
            head, tail = os.path.split(path)
            for p in (path, os.path.join(head, f".{tail}.crc")):
                with contextlib.suppress(FileNotFoundError):
                    os.remove(p)

    def write(self, column: str, names: list) -> None:
        """Commit ``names`` as one new snappy parquet data file holding
        the one string column ``column``."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        sink = pa.BufferOutputStream()
        table = pa.table({column: pa.array(names, pa.string())})
        # each name once, so a dictionary would only repeat them; Spark
        # reads the parquet schema, not the Arrow one stored beside it
        pq.write_table(table, sink, compression="snappy", use_dictionary=False, store_schema=False)
        name = f"part-00000-{uuid.uuid4()}-c000.snappy.parquet"
        _commit_file(self.path, name, sink.getvalue().to_pybytes())


class _HadoopFiles:
    """The files of a ledger table at any other location, worked on
    through the location's Hadoop FileSystem: one JVM round trip per
    call. A file is its Hadoop ``Path``."""

    def __init__(self, spark: SparkSession, location: str):
        self.spark = spark
        self.location = location

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

    @cached_property
    def _fs(self):
        """The Hadoop ``FileSystem`` of the location."""
        conf = self.spark._jsc.hadoopConfiguration()  # noqa: SLF001
        return self._path(self.location).getFileSystem(conf)

    @cached_property
    def journal_dir(self):
        return self._path(self.location, JOURNAL)

    def data_files(self) -> list | None:
        """See ``_LocalFiles.data_files``."""
        path = self._path(self.location)
        try:
            statuses = self._fs.listStatus(path)
        except Py4JJavaError:
            return None
        files = []
        for status in statuses:
            if not _is_data_file(status.getPath().getName()):
                continue
            if status.isDirectory():
                return None
            files.append(status.getPath())
        return files

    def read(self, path) -> bytes:
        stream = self._fs.open(path)
        try:
            return bytes(self._io_utils.toByteArray(stream))
        finally:
            stream.close()

    def journal(self) -> dict[str, str]:
        """The committed entries, file name -> migration name."""
        pattern = self._path(self.journal_dir, "*.rec")
        return {
            status.getPath().getName(): self.read(status.getPath()).decode("utf-8")
            for status in self._fs.globStatus(pattern) or []
        }

    def entry(self, entry: str):
        return self._path(self.journal_dir, entry)

    def commit(self, name: str) -> str:
        """Commit ``name`` into the journal; return its entry."""
        fs, journal = self._fs, self.journal_dir
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
        return entry.getName()

    def from_uri(self, uri: str):
        return self._path(uri)

    def delete(self, paths) -> None:
        for path in paths:
            self._fs.delete(path, False)


class CatalogLedger(Ledger):
    """The ledger table plus its journal; see the module docstring.

    One deploy calls ``exists``, ``applied``, ``record`` per migration and
    ``compact``. The first two remember the table's shape and files, the
    table rows and the journal entries, so the rest of the deploy reads
    neither the catalog nor the journal again."""

    def __init__(self, spark: SparkSession, table: str = "applied_migration"):
        self.spark = spark
        self.table = table
        # as of the last catalog lookup:
        self._files: _LocalFiles | _HadoopFiles | None = None  # None: no table
        self._meta = None  # its catalog entry
        self._plain_parquet = False  # the driver may read the table's files
        self._column: str | None = None  # `migration` as spelt, when the only column
        self._varchar: int | None = None  # the VARCHAR(n) limit of `migration`
        # as of the last applied():
        self._rows: set[str] | None = None  # the table's names
        self._read: list | None = None  # its data files, as listed
        self._row_count: int | None = None  # its rows, when the driver read them
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
            self._files = self._meta = None
            return None
        location = meta.location().toString()
        if self._files is None or self._files.location != location:
            path = _local_path(location)
            self._files = (
                _HadoopFiles(self.spark, location) if path is None else _LocalFiles(location, path)
            )
        fields = json.loads(meta.schema().json())["fields"]
        types = [f["type"] for f in fields if f["name"].lower() == "migration"]
        self._plain_parquet = (
            meta.provider().toString().lower() == "some(parquet)"
            # the file column is matched as Spark matches it by default
            and self.spark.conf.get("spark.sql.caseSensitive") == "false"
            and meta.partitionColumnNames().isEmpty()
            and len(types) == 1
            and (types[0] == "string" or types[0].startswith("varchar("))
        )
        self._column = fields[0]["name"] if self._plain_parquet and len(fields) == 1 else None
        self._varchar = int(types[0][8:-1]) if self._column and types[0] != "string" else None
        self._meta = meta
        return location

    def exists(self) -> bool:
        # exact-match existence check — deliberately fixes the reference's
        # substring false-positive risk (`/\b\Q$table\E\b/` over
        # dbh->tables(), Core.pm:221)
        return self._lookup() is not None

    def _table_files(self) -> _LocalFiles | _HadoopFiles | None:
        """The table's files, looked up when no lookup has found them."""
        if self._files is None:
            self._lookup()
        return self._files

    def _read_rows(self, files) -> list | None:
        """The names in the parquet ``files``, read on the driver; None
        when one file is not the shape ``_parquet_names`` reads."""
        rows = []
        for f in files:
            data = self._files.read(f)
            if not data:
                continue  # Spark reads no split of an empty file
            names = _parquet_names(data)
            if names is None:
                return None
            rows += names
        return rows

    def applied(self) -> set[str]:
        store = self._table_files()
        # the journal first: a compaction between the two reads moves
        # names into the table, never out of both
        self._journal = {} if store is None else store.journal()
        files = None if store is None else store.data_files()
        rows = self._read_rows(files) if self._plain_parquet and files is not None else None
        self._row_count = None if rows is None else len(rows)
        if rows is None:
            # Spark lists a table's files once and caches the listing;
            # another writer's files are in a fresh one only
            self.spark.catalog.refreshTable(self.table)
            rows = [r[0] for r in self.spark.table(self.table).select("migration").collect()]
        self._rows = set(rows)
        self._read = files
        return self._rows | set(self._journal.values())

    def record(self, name: str) -> None:
        store = self._table_files()
        if store is None:
            raise LookupError(f"ledger table {self.table} does not exist")
        entry = store.commit(name)
        if self._journal is not None:
            self._journal[entry] = name

    def _folds_on_driver(self, names: set) -> bool:
        """Whether the driver may write ``names`` as the table's one file:
        see the module docstring. A longer name than ``VARCHAR(n)`` allows
        is left to Spark's write, which fails on it."""
        return (
            isinstance(self._files, _LocalFiles)
            and self._column is not None
            and (self._varchar is None or all(n is None or len(n) <= self._varchar for n in names))
            and self._meta.stats().isEmpty()
        )

    def compact(self) -> None:
        # the order of the steps is the crash-safety argument; see the
        # module docstring
        if self._rows is None:
            if self._lookup() is None:
                return
            self.applied()
        journal, rows, listed, count = self._journal, self._rows, self._read, self._row_count
        self._journal = self._rows = self._read = self._row_count = None  # stale from here on
        store = self._files
        names = rows | set(journal.values())
        if (
            count is not None
            and (journal or len(listed) > 1 or count > len(rows))
            and self._folds_on_driver(names)
        ):
            store.write(self._column, sorted(names, key=lambda n: (n is None, n or "")))
            store.delete([store.entry(e) for e in journal])
            store.delete(listed)
            self.spark.catalog.refreshTable(self.table)
            return

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
        store.delete([store.entry(e) for e in journal])

        if listed is not None and len(listed) + bool(new) <= 1:
            return
        # the files to delete come from a listing taken before the fold
        # reads the table, so the fold reads every file it deletes
        listed = store.data_files()
        self.spark.catalog.refreshTable(self.table)
        if listed is None:
            listed = [store.from_uri(f) for f in self.spark.table(self.table).inputFiles()]
        if len(listed) <= 1:
            return
        # all columns, so user-added ledger columns survive
        self.spark.table(self.table).coalesce(1).write.insertInto(self.table)
        store.delete(listed)
        self.spark.catalog.refreshTable(self.table)


class FileLedger(Ledger):
    """Atomic applied-migration ledger on a filesystem directory.

    Commit protocol (SURVEY.md §2A row 16, atomic upgrade), ``_commit_file``:
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
            if not _is_entry(fn):
                continue  # staging leftovers and foreign files are invisible
            with open(os.path.join(self.path, fn), encoding="utf-8") as f:
                names.append(f.read())
        return names

    def applied(self) -> set[str]:
        return set(self._entries())

    def record(self, name: str) -> None:
        self.create()
        _commit_file(self.path, _entry_name(name), name.encode("utf-8"))


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
