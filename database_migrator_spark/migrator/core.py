"""The migration engine (SURVEY.md §2A #1-#21), Spark-first.

The single piece of query logic in the reference is the pending set
(Core.pm:215-235):

    pending = sort_numeric_or_alpha( subdirs(migrations_dir) − applied )

computed here as a Python set difference on the driver: one directory
listing minus the ledger's names, sorted by ``numeric_or_alpha_key``. It
runs over a few hundred names, so a Spark job would cost more than the
set arithmetic it does. The ledger read runs none either: the driver
reads a plain parquet catalog ledger's files itself, the JDBC ledger is
one ``SELECT`` and the FileLedger its entries; only a catalog ledger of
another shape (a provider other than parquet, partitions, ``CHAR(n)``)
is read by a Spark job. The database probe of a deploy is the default
ledger's own catalog lookup: a ledger table found in the database shows
the database exists, and the pending set reads the ledger without
looking it up again. So a no-op deploy over a catalog ledger at a
``file:`` location makes one metastore call (``getTable``), no JVM
file-system call and no Spark job; a one-column ledger left in many
files, or with a name twice, is folded into one file on the driver too
(see ledger.py). Everything else is ordered driver-side orchestration —
deliberately so: migrations are sequential by contract (Core.pm:158-162),
so the loop must never be parallelized across migrations.

The reference runs each statement over one open handle (Core.pm:176-179);
here each statement is a Spark job on a session sized for analytics, where
a four-row ``INSERT ... VALUES`` is four tasks writing four files. So a
deploy that has work — it creates the database or has pending migrations —
runs inside one deploy scope (``Migrator._deploy_scope``): local-relation
writes run as one task, file scans split as outside it, and the target
database is entered once. Schema DDL, SQL, program and code migrations and
the ledger's compaction all run inside it; a no-op deploy, a dry run and
``status`` never enter it, and it leaves the session's confs and current
database as it found them.
"""

from __future__ import annotations

import logging
import os
import subprocess
from contextlib import contextmanager
from functools import cached_property

from pyspark.sql import SparkSession

from .ddl import run_ddl_script
from .ledger import CatalogLedger, Ledger
from .model import FileKind, Migration, MigrationFile, numeric_or_alpha_key, scan_migration


class MigrationError(RuntimeError):
    pass


# the session confs a deploy scope sets (see Migrator._deploy_scope)
_LEAF_PARALLELISM = "spark.sql.leafNodeDefaultParallelism"
_MIN_FILE_SPLITS = "spark.sql.files.minPartitionNum"


class Migrator:
    """Create-or-update a database from a schema file + migration tree.

    Mirrors the reference's attribute surface (Core.pm:33-119): database,
    migrations_dir, schema_file, migration_table, dry_run, quiet/verbose.
    Connection settings belong to the target: ``JdbcMigrator`` takes a
    JDBC URL and its properties (user, password).
    """

    def __init__(
        self,
        spark: SparkSession,
        database: str,
        migrations_dir: str,
        schema_file: str | None = None,
        migration_table: str = "applied_migration",
        ledger: Ledger | None = None,
        dry_run: bool = False,
        quiet: bool = False,
        verbose: bool = False,
        legacy_sql_match: bool = False,
        logger: logging.Logger | None = None,
    ):
        if quiet and verbose:
            # Core.pm:133-139
            raise ValueError("quiet and verbose are mutually exclusive")
        self.spark = spark
        self.database = database
        self.migrations_dir = migrations_dir
        self.schema_file = schema_file
        self.migration_table = migration_table
        self.dry_run = dry_run
        self.quiet = quiet
        self.verbose = verbose
        self.legacy_sql_match = legacy_sql_match
        self.logger = logger or self._build_logger()
        self._ledger = ledger
        # the default ledger is a table in the database itself
        self._ledger_in_database = ledger is None
        # set when the database probe's ledger lookup found the table, for
        # the pending read that follows it (see create_or_update_database)
        self._ledger_found = False

    # -- logging (Core.pm:237-250) ----------------------------------------
    def _build_logger(self) -> logging.Logger:
        lg = logging.getLogger(f"database_migrator_spark.migrator.{self.database}")
        lg.setLevel(
            logging.CRITICAL if self.quiet else logging.DEBUG if self.verbose else logging.INFO
        )
        if not lg.handlers:
            h = logging.StreamHandler()
            h.setFormatter(logging.Formatter("%(levelname)s %(message)s"))
            lg.addHandler(h)
        lg.propagate = False
        return lg

    # -- ledger ------------------------------------------------------------
    @property
    def ledger(self) -> Ledger:
        if self._ledger is None:
            self._ledger = CatalogLedger(
                self.spark, f"{self.database}.{self.migration_table}"
            )
        return self._ledger

    # -- existence probe (Core.pm:65-71, 252-257) ---------------------------
    @cached_property
    def _database_exists(self) -> bool:
        return self.spark.catalog.databaseExists(self.database)

    # -- pending set: scan − applied → sort (Core.pm:215-235) ---------------
    def pending_migrations(self) -> list[Migration]:
        names = {
            e.name
            for e in os.scandir(self.migrations_dir)
            if e.is_dir() and not e.name.startswith(".")  # Core.pm:232-233
        }
        # absent ledger table ⇒ applied = ∅ (Migrator.pm:155-162); a lookup
        # the database probe just made and that found it is not repeated
        found, self._ledger_found = self._ledger_found, False
        if found or self.ledger.exists():
            names -= self.ledger.applied()
        return [
            scan_migration(os.path.join(self.migrations_dir, n), self.legacy_sql_match)
            for n in sorted(names, key=numeric_or_alpha_key)
        ]

    @property
    def has_pending_migrations(self) -> int:  # Core.pm:80-83
        return len(self.pending_migrations())

    # -- orchestrator (Core.pm:141-156) --------------------------------------
    @contextmanager
    def _in_database(self):
        """Run with ``self.database`` as the current database so unqualified
        DDL in schema/migration files lands in the right namespace. Switches
        only when another database is current, and switches back only when
        the current database changed (a ``USE`` inside a migration too):
        ``currentDatabase()`` is session state, while each switch is one
        metastore call on the Hive catalog."""
        prev = self.spark.catalog.currentDatabase()
        # the memoized probe, set once CREATE DATABASE has run; false only
        # under a dry run of a new database, which then has nothing to enter
        if prev != self.database and self._database_exists:
            self.spark.catalog.setCurrentDatabase(self.database)
        try:
            yield
        finally:
            if self.spark.catalog.currentDatabase() != prev:
                self.spark.catalog.setCurrentDatabase(prev)

    @contextmanager
    def _deploy_scope(self, active: bool):
        """Size the session's Spark work to a deploy while it runs.

        A deploy's own writes are small local relations (``INSERT ...
        VALUES``, the ledger's compaction); at the session's default
        parallelism each becomes one task and one file per core. Inside
        the scope ``spark.sql.leafNodeDefaultParallelism`` is 1, so such a
        write is one task and one file. That conf is also the minimum split
        count of file scans, so ``spark.sql.files.minPartitionNum`` is
        pinned to the split count the caller's session would use, unless
        the caller set it: scans in code migrations, which run inside the
        scope, split as they do outside it. The target database is entered
        here once, which makes each migration's ``_in_database`` free.

        Entered only when ``active`` (the deploy creates the database or
        has pending migrations) and not under a dry run. Every conf and
        the current database are restored on exit, a failed deploy too."""
        if not active or self.dry_run:
            yield
            return
        conf = self.spark.conf
        saved = {k: conf.get(k, None) for k in (_LEAF_PARALLELISM, _MIN_FILE_SPLITS)}
        if saved[_MIN_FILE_SPLITS] is None:
            splits = saved[_LEAF_PARALLELISM] or self.spark.sparkContext.defaultParallelism
            conf.set(_MIN_FILE_SPLITS, str(splits))
        conf.set(_LEAF_PARALLELISM, "1")
        try:
            with self._in_database():
                yield
        finally:
            for key, value in saved.items():
                if value is None:
                    conf.unset(key)
                else:
                    conf.set(key, value)

    def create_database(self) -> None:  # Core.pm:26-31, a required method
        self.spark.sql(f"CREATE DATABASE `{self.database}`")
        # keep the memoized probe truthful for subsequent calls on this
        # instance (retry loops, library use)
        self.__dict__["_database_exists"] = True

    def create_or_update_database(self) -> None:
        if self._ledger_in_database and "_database_exists" not in self.__dict__:
            # a ledger table found in the database shows the database
            # exists: the lookup is the whole probe, one metastore call,
            # where databaseExists makes its own (three on the Hive catalog)
            self._ledger_found = self.ledger.exists()
            if self._ledger_found:
                self.__dict__["_database_exists"] = True
        creating = not self._database_exists
        if creating:
            self.logger.info("creating database %s", self.database)
            if not self.dry_run:
                self.create_database()
        else:
            self.logger.debug("database %s already exists", self.database)
        # a new database's ledger comes from its schema, which may record
        # migrations, so its pending set is read after the schema ran
        pending = [] if creating else self.pending_migrations()
        with self._deploy_scope(creating or bool(pending)):
            if creating:
                if self.schema_file:
                    self.logger.info("running schema DDL from %s", self.schema_file)
                    # in the database the scope entered; a dry run executes nothing
                    self._run_ddl_file(self.schema_file)
                pending = self.pending_migrations()
            self._run_migrations(pending)

    def drop_database(self) -> None:  # test harness support (Core.pm:29)
        self.spark.sql(f"DROP DATABASE IF EXISTS `{self.database}` CASCADE")
        self.__dict__.pop("_database_exists", None)  # _in_database trusts the memo
        self._ledger_found = False

    # -- apply loop: strictly ordered (Core.pm:158-162) -----------------------
    def _run_migrations(self, pending: list[Migration]) -> None:
        done = False
        try:
            for migration in pending:
                self._run_one_migration(migration)
            done = True
        finally:
            # once per deploy, a failed one too, so the migrations recorded
            # before the failure reach the ledger table; also folds what a
            # crashed deploy left, and costs nothing when there is nothing
            # to fold (see ledger.py)
            if not self.dry_run:
                try:
                    self.ledger.compact()
                except Exception:
                    if done:
                        raise
                    # the migration's own error is the one to report
                    self.logger.error("could not compact the ledger", exc_info=True)

    def _run_one_migration(self, migration: Migration) -> None:
        self.logger.info("running migration %s", migration.name)
        with self._in_database():
            for mf in migration.files:
                self.logger.debug("  %s (%s)", mf.basename, mf.kind.value)
                if mf.kind is FileKind.SQL:
                    self._run_ddl_file(mf.path)
                elif mf.kind is FileKind.PROGRAM:
                    self._run_program(mf)
                else:
                    self._run_code(mf)
        # record AFTER all files succeed; failed migrations never recorded
        # (Core.pm:206-212); not atomic with the migration — documented
        # at-least-once, keep migrations idempotent (Migrator.pm:183-189)
        if not self.dry_run:
            try:
                self.ledger.record(migration.name)
            except Exception as e:
                # the reference contract: the USER's schema DDL must create
                # the ledger table (Migrator.pm:140-153; the reference's own
                # harness schema does, Test/Database/Migrator.pm:108-110).
                # Surface that contract instead of a raw missing-table error
                # — the migration itself HAS been applied (at-least-once).
                if not self.ledger.exists():
                    raise MigrationError(
                        f"migration {migration.name} was applied but could not "
                        f"be recorded: the ledger table "
                        f"{getattr(self.ledger, 'table', '')!r} does not exist. "
                        "Your schema DDL must create it (single required "
                        "column: migration STRING) — see the reference "
                        "contract, Migrator.pm:140-153."
                    ) from e
                raise

    # -- backend-portable SQL for code migrations ------------------------------
    def run_sql(self, stmt: str):
        """Execute one SQL statement against THIS migrator's target (the
        portable surface code migrations should use — the analogue of the
        reference passing the migrator with its dbh to eval'd code,
        Core.pm:196-202). Catalog targets run through spark.sql in the
        target database; JDBC targets override with pass-through."""
        with self._in_database():
            return self.spark.sql(stmt)

    # -- executors ------------------------------------------------------------
    def _run_ddl_file(self, path: str) -> None:
        with open(path, encoding="utf-8") as f:
            script = f.read()
        run_ddl_script(self.spark, script, dry_run=self.dry_run)

    def _run_program(self, mf: MigrationFile) -> None:
        """Subprocess executor (Core.pm:180-192): no stdin, no DB handle;
        fails on exit != 0 OR any stderr output (even with exit 0 — the
        reference's deliberately strict contract,
        Test/Database/Migrator.pm:271-303)."""
        if self.dry_run:
            return
        proc = subprocess.run(  # noqa: S603
            [mf.path], stdin=subprocess.DEVNULL, capture_output=True, text=True
        )
        if proc.returncode != 0 or proc.stderr:
            raise MigrationError(
                f"migration program {mf.path} failed: "
                f"exit={proc.returncode}, stderr={proc.stderr!r}"
            )

    def _run_code(self, mf: MigrationFile) -> None:
        """Code-migration executor (Core.pm:193-203): the file must define
        ``migrate(migrator)``; it receives this Migrator (and thus
        ``migrator.spark``), the analogue of the eval'd Perl closure
        receiving the migrator with its dbh. Always compiled; only called
        when not dry_run (Core.pm:198-200)."""
        with open(mf.path, encoding="utf-8") as f:
            source = f.read()
        code = compile(source, mf.path, "exec")
        if self.dry_run:
            # compile-only: module-level code may have side effects, so a
            # dry run must not exec it (Core.pm:198-200 compiles the Perl
            # sub without calling it)
            return
        namespace: dict = {}
        exec(code, namespace)  # noqa: S102
        fn = namespace.get("migrate")
        if not callable(fn):
            raise MigrationError(f"code migration {mf.path} does not define migrate(migrator)")
        fn(self)
