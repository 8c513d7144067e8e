"""JDBC-target migrator — the analogue of the reference's out-of-tree DBMS
subclasses (Database::Migrator::mysql / ::Pg, README.md:106-110): the core
role stays DBMS-agnostic and a subclass supplies connect/create/drop/run-ddl
(Core.pm:26-31 required methods).

Here the target is any JDBC database. DDL passes through VERBATIM (no
Spark dialect shim) exactly as the reference feeds `.sql` files to the
DBMS's own utility; the ledger lives in the target database; the existence
probe is a lazy try-connect (Core.pm:252-257). Works out of the box with
the embedded Derby driver that ships with Spark; any other DBMS just needs
its driver jar on the classpath.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import SparkSession

from .core import Migrator
from .ddl import jdbc_connection, run_ddl_script_jdbc
from .ledger import JdbcLedger


class JdbcMigrator(Migrator):
    def __init__(
        self,
        spark: SparkSession,
        jdbc_url: str,
        migrations_dir: str,
        schema_file: str | None = None,
        migration_table: str = "applied_migration",
        jdbc_properties: dict[str, str] | None = None,
        **kw,
    ):
        self.jdbc_url = jdbc_url
        self.jdbc_properties = jdbc_properties or {}
        # an explicitly injected ledger (e.g. the atomic FileLedger) wins
        # over the default JDBC-table ledger
        kw.setdefault(
            "ledger",
            JdbcLedger(spark, jdbc_url, migration_table, self.jdbc_properties),
        )
        super().__init__(
            spark,
            database=jdbc_url,
            migrations_dir=migrations_dir,
            schema_file=schema_file,
            migration_table=migration_table,
            **kw,
        )

    # -- existence probe: lazy try-connect (Core.pm:65-71, 252-257) ----------
    @property
    def _database_exists(self) -> bool:  # type: ignore[override]
        # strip create flags so probing doesn't create the database
        probe_url = self.jdbc_url.replace(";create=true", "")
        try:
            with jdbc_connection(self.spark, probe_url, self.jdbc_properties):
                return True
        except Exception:
            return False

    # -- create: connect with the (create-capable) URL ------------------------
    def create_database(self) -> None:
        with jdbc_connection(self.spark, self.jdbc_url, self.jdbc_properties):
            pass

    def run_sql(self, stmt: str):  # type: ignore[override]
        """Pass-through execution on the target DBMS (no Spark dialect)."""
        with jdbc_connection(self.spark, self.jdbc_url, self.jdbc_properties) as conn:
            conn.createStatement().execute(stmt)

    # -- pass-through DDL ------------------------------------------------------
    def _run_ddl_file(self, path: str) -> None:
        with open(path, encoding="utf-8") as f:
            script = f.read()
        run_ddl_script_jdbc(
            self.spark, script, self.jdbc_url, dry_run=self.dry_run,
            properties=self.jdbc_properties,
        )

    # catalog current-database juggling is meaningless for JDBC targets
    @contextmanager
    def _in_database(self):  # type: ignore[override]
        yield
