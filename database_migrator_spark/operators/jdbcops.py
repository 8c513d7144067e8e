"""JDBC I/O plane as a driver-checkable query (SURVEY.md §2B E20).

The reference's actual deployment shape is 'migrations + ledger live in
the target RDBMS over the database handle' (Core.pm:259-272). q68 runs
that whole plane — pass-through DDL, subprocess-free SQL migrations,
ledger INSERTs over JDBC, ledger read-back with one ``SELECT`` — against
an embedded Derby database and hash-matches the resulting ledger against
its statically-known contents, giving E20 a hard CORRECTNESS row instead
of pytest-only coverage.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession

from database_migrator_spark.plans.registry import query

_SCHEMA_SQL = """
CREATE TABLE applied_migration (
    migration  VARCHAR(250)   PRIMARY KEY
);
CREATE TABLE widget (
    widget_id   INTEGER       PRIMARY KEY,
    widget_name VARCHAR(50)   NOT NULL
)
"""


def _write_fixture(base: str) -> str:
    with open(os.path.join(base, "schema.sql"), "w") as fh:
        fh.write(_SCHEMA_SQL)
    mig = os.path.join(base, "migrations")
    first = os.path.join(mig, "01-first")
    second = os.path.join(mig, "02-second")
    os.makedirs(first)
    os.makedirs(second)
    with open(os.path.join(first, "01-create.sql"), "w") as fh:
        fh.write(
            "CREATE TABLE gadget (gadget_id INTEGER PRIMARY KEY);"
            "CREATE INDEX gadget_idx ON gadget (gadget_id)"
        )
    with open(os.path.join(second, "01-data.sql"), "w") as fh:
        fh.write("INSERT INTO widget VALUES (1, 'one')")
    return mig


@query(
    "q68_jdbc_ledger_roundtrip",
    oracle="""
    SELECT migration
    FROM (VALUES ('01-first'), ('02-second')) AS t(migration)
    ORDER BY migration
    """,
    tags=("jdbc", "migrator", "derby", "E20"),
    bench=False,  # migration-runner I/O plane, not an analytics query —
    # correctness-gated here, wall-time owned by the user's DDL (as in the
    # reference)
)
def q68_jdbc_ledger_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E20 round-trip through embedded Derby: run a two-migration fixture
    with JdbcMigrator (pass-through DDL incl. a real CREATE INDEX, ledger
    INSERTs over JDBC), then read the ledger back through
    ``JdbcLedger.applied()``, one ``SELECT``, as a DataFrame. The ledger's
    contents are exactly the migration names, so the result hash-matches
    a static VALUES oracle. A fresh temp Derby database per
    invocation keeps the query deterministic and re-runnable."""
    from database_migrator_spark.migrator.jdbc import JdbcMigrator

    base = tempfile.mkdtemp(prefix="spark_graft_derby_")
    mig_dir = _write_fixture(base)
    url = f"jdbc:derby:{os.path.join(base, 'db')};create=true"
    m = JdbcMigrator(
        spark,
        jdbc_url=url,
        migrations_dir=mig_dir,
        schema_file=os.path.join(base, "schema.sql"),
        quiet=True,
    )
    m.create_or_update_database()
    return m.ledger.applied_df().orderBy("migration")
