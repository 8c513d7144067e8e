"""Applied-migration ledger (SURVEY.md §1.1): one table whose single
required column is named ``migration`` (reference Migrator.pm:140-153; the
column is named explicitly in the INSERT so users may add extra columns,
Changes:34-36).

Backends behind one interface. Readers call ``applied()``, the set of
recorded names; ``applied_df()`` is the same rows as a DataFrame.

- CatalogLedger — a Spark catalog table (parquet-backed). ``record`` runs
  no Spark job: it commits one entry into a journal, the hidden directory
  ``_migrator_journal/`` inside the table's own location (Spark's file
  listing skips ``_``-prefixed paths, and ``DROP TABLE`` removes it with
  the table). The commit is FileLedger's, over the Hadoop FileSystem of
  the table location: write the name to ``.tmp-<uuid>``, hsync and close
  it, rename it to ``<sha256(name)[:32]>.rec``. A reader never sees a
  partial entry, so the record is atomic, where the one-row ``INSERT``
  it replaces was not; a retried record finds the same entry. Readers
  take the table rows ∪ the journal names. Once per deploy ``compact()``
  (1) takes the journal names not among the table rows read at the
  start of the deploy, (2) inserts them with one named-column ``INSERT``
  (one job, one file), (3) deletes the journal entries, and (4) if the
  table has more than one data file, appends all its rows as one new
  file, deletes exactly the files it listed before, and refreshes the
  table. The migration itself is still not atomic with its record, as
  in the reference (at-least-once, Migrator.pm:183-189); a Delta-backed
  ledger would close that and is the recommended production backend
  (jar not present in this environment). The four crash windows:
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
    it would empty the ledger and re-apply every migration.
- JdbcLedger — reads/writes the ledger over JDBC (the reference's actual
  I/O plane); requires a JDBC driver jar on the classpath, so it is
  import-safe but raises a clear error when used without one. ``record``
  is a bound INSERT, not a Spark job, and never creates the table.
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
import os
import uuid

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

from .ddl import jdbc_connection


class Ledger(abc.ABC):
    @abc.abstractmethod
    def exists(self) -> bool: ...

    @abc.abstractmethod
    def applied_df(self) -> DataFrame:
        """DataFrame with the single column ``migration: string``."""

    def applied(self) -> set[str]:
        """The recorded migration names."""
        return {r[0] for r in self.applied_df().collect()}

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


class CatalogLedger(Ledger):
    """The ledger table plus its journal; see the module docstring.

    One deploy calls ``exists``, ``applied``, ``record`` per migration and
    ``compact``. The first two remember the table location, the table
    rows and the journal entries, so the rest of the deploy reads neither
    the catalog nor the journal again."""

    JOURNAL = "_migrator_journal"

    def __init__(self, spark: SparkSession, table: str = "applied_migration"):
        self.spark = spark
        self.table = table
        self._location: str | None = None  # as of the last catalog lookup
        self._rows: set[str] | None = None  # the table's names, read by applied()
        self._journal: dict[str, str] | None = None  # entry file -> name

    def _lookup(self) -> str | None:
        """The table location from one external-catalog ``getTable``;
        None when the table or its database is missing."""
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
        return self._location

    def exists(self) -> bool:
        # exact-match existence check — deliberately fixes the reference's
        # substring false-positive risk (`/\b\Q$table\E\b/` over
        # dbh->tables(), Core.pm:221)
        return self._lookup() is not None

    def _path(self, *parts):
        """A Hadoop ``Path``."""
        return self.spark._jvm.org.apache.hadoop.fs.Path(*parts)  # noqa: SLF001

    def _journal_dir(self):
        """``(FileSystem, journal Path)``, or ``(None, None)`` when the
        table is missing."""
        location = self._location or self._lookup()
        if location is None:
            return None, None
        path = self._path(location, self.JOURNAL)
        return path.getFileSystem(self.spark._jsc.hadoopConfiguration()), path  # noqa: SLF001

    def _read_journal(self) -> dict[str, str]:
        """The committed entries, file name -> migration name."""
        fs, journal = self._journal_dir()
        if fs is None:
            return {}
        io = self.spark._jvm.org.apache.commons.io.IOUtils  # noqa: SLF001
        entries = {}
        for status in fs.globStatus(self._path(journal, "*.rec")) or []:
            stream = fs.open(status.getPath())
            try:
                name = bytes(io.toByteArray(stream))
            finally:
                stream.close()
            entries[status.getPath().getName()] = name.decode("utf-8")
        return entries

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
        self._rows = {r[0] for r in self._table_df().collect()}
        return self._rows | set(self._journal.values())

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
        journal = self._journal if self._journal is not None else self._read_journal()
        if not journal:
            return
        rows = self._rows if self._rows is not None else {r[0] for r in self._table_df().collect()}
        self._journal = self._rows = None  # stale from here on
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
        fs, journal_dir = self._journal_dir()
        for entry in journal:
            fs.delete(self._path(journal_dir, entry), False)

        df = self.spark.table(self.table)
        files = df.inputFiles()
        if len(files) <= 1:
            return
        # all columns, so user-added ledger columns survive
        df.coalesce(1).write.insertInto(self.table)
        conf = self.spark._jsc.hadoopConfiguration()  # noqa: SLF001
        for f in files:
            path = self._path(f)
            path.getFileSystem(conf).delete(path, False)
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

    def record(self, name: str) -> None:
        # the named-column INSERT (Core.pm:208-210), bound, on a plain
        # connection: no Spark job. The column is quoted as the table
        # spells it: DBMSes fold unquoted names differently, and Spark's
        # JDBC writer creates a quoted lower-case "migration".
        with jdbc_connection(self.spark, self.url, self.properties) as conn:
            probe = f"SELECT * FROM {self.table} WHERE 1 = 0"  # noqa: S608
            cols = conn.createStatement().executeQuery(probe).getMetaData()
            names = [cols.getColumnName(i + 1) for i in range(cols.getColumnCount())]
            col = next((c for c in names if c.lower() == "migration"), "migration")
            q = conn.getMetaData().getIdentifierQuoteString().strip()
            st = conn.prepareStatement(f"INSERT INTO {self.table} ({q}{col}{q}) VALUES (?)")
            st.setString(1, name)
            st.executeUpdate()
