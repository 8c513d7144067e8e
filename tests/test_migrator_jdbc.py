"""JdbcMigrator over embedded Derby: pass-through DDL (PRIMARY KEY kept,
no shim), try-connect existence probe, ledger in the target database —
the reference's actual deployment shape (DBMS subclass + opaque SQL)."""

from __future__ import annotations

import pytest

from database_migrator_spark.migrator.jdbc import JdbcMigrator

SCHEMA_SQL = """
CREATE TABLE applied_migration (
    migration  VARCHAR(250)   PRIMARY KEY
);
CREATE TABLE foo (
    foo_id     INTEGER        PRIMARY KEY,
    foo_name   VARCHAR(50)    NOT NULL
)
"""


@pytest.fixture()
def tree(tmp_path):
    (tmp_path / "schema.sql").write_text(SCHEMA_SQL)
    mig = tmp_path / "migrations"
    first = mig / "01-first"
    first.mkdir(parents=True)
    (first / "01-bar.sql").write_text(
        "CREATE TABLE bar (bar_id INTEGER PRIMARY KEY, bar_name VARCHAR(50));"
        "CREATE INDEX bar_idx ON bar (bar_name)"
    )
    second = mig / "02-second"
    second.mkdir()
    (second / "01-data.sql").write_text("INSERT INTO foo VALUES (1, 'one')")
    return tmp_path


def test_jdbc_migrator_end_to_end(spark, tree, tmp_path):
    url = f"jdbc:derby:{tmp_path}/jmdb;create=true"
    m = JdbcMigrator(
        spark,
        jdbc_url=url,
        migrations_dir=str(tree / "migrations"),
        schema_file=str(tree / "schema.sql"),
        quiet=True,
    )
    assert not m._database_exists
    m.create_or_update_database()

    props = {}
    applied = sorted(r[0] for r in m.ledger.applied_df().collect())
    assert applied == ["01-first", "02-second"]
    # pass-through DDL: index statement executed for real (derby supports it)
    assert spark.read.jdbc(url, "bar", properties=props).columns == ["BAR_ID", "BAR_NAME"]
    rows = spark.read.jdbc(url, "foo", properties=props).collect()
    assert [(r[0], r[1]) for r in rows] == [(1, "one")]

    # idempotent second run against the live database
    m2 = JdbcMigrator(
        spark,
        jdbc_url=url,
        migrations_dir=str(tree / "migrations"),
        schema_file=str(tree / "schema.sql"),
        quiet=True,
    )
    assert m2._database_exists
    assert m2.pending_migrations() == []
    m2.create_or_update_database()
    applied2 = sorted(r[0] for r in m2.ledger.applied_df().collect())
    assert applied2 == applied


def test_jdbc_ledger_record_runs_no_spark_job(spark, tmp_path):
    """The JDBC ledger write is one bound INSERT on a plain connection,
    not a Spark write job."""
    from database_migrator_spark.migrator.ddl import run_ddl_script_jdbc
    from database_migrator_spark.migrator.ledger import JdbcLedger

    from .test_migrator import _jobs_run_by

    url = f"jdbc:derby:{tmp_path}/recdb;create=true"
    run_ddl_script_jdbc(spark, "CREATE TABLE applied_migration (migration VARCHAR(250))", url)
    ledger = JdbcLedger(spark, url)
    assert _jobs_run_by(spark, lambda: ledger.record("01-a")) == 0
    assert ledger.applied() == {"01-a"}


def test_jdbc_ledger_reads_run_no_spark_job(spark, tree, tmp_path):
    """The JDBC ledger read is one SELECT on a plain connection, so the
    pending set runs no Spark job. The column is found as ``record``
    finds it, also where Spark's writer made it a quoted lower-case
    name."""
    from database_migrator_spark.migrator.ledger import JdbcLedger

    from .test_migrator import _jobs_run_by

    url = f"jdbc:derby:{tmp_path}/readdb;create=true"
    JdbcMigrator(
        spark, jdbc_url=url, migrations_dir=str(tree / "migrations"),
        schema_file=str(tree / "schema.sql"), quiet=True,
    ).create_or_update_database()
    (tree / "migrations" / "03-third").mkdir()
    m = JdbcMigrator(spark, jdbc_url=url, migrations_dir=str(tree / "migrations"), quiet=True)
    applied = []
    assert _jobs_run_by(spark, lambda: applied.append(m.ledger.applied())) == 0
    assert applied == [{"01-first", "02-second"}]
    pending = []
    assert _jobs_run_by(spark, lambda: pending.extend(m.pending_migrations())) == 0
    assert [p.name for p in pending] == ["03-third"]

    spark.createDataFrame([("00-written",)], "migration string").write.jdbc(
        url, "spark_ledger", properties={}
    )
    ledger = JdbcLedger(spark, url, "spark_ledger")
    ledger.record("01-recorded")
    assert ledger.applied() == {"00-written", "01-recorded"}


def test_jdbc_missing_ledger_table_gives_contract_error(spark, tmp_path):
    """As on the catalog target: a schema that does not create the ledger
    table breaks the reference contract (Migrator.pm:140-153), and the
    record says so instead of creating the table itself."""
    from database_migrator_spark.migrator.core import MigrationError

    (tmp_path / "schema.sql").write_text("CREATE TABLE only_t (id INT)")
    mig = tmp_path / "migrations" / "01-a"
    mig.mkdir(parents=True)
    (mig / "01-add.sql").write_text("CREATE TABLE added_t (id INT)")
    url = f"jdbc:derby:{tmp_path}/noledger;create=true"
    m = JdbcMigrator(
        spark,
        jdbc_url=url,
        migrations_dir=str(tmp_path / "migrations"),
        schema_file=str(tmp_path / "schema.sql"),
        quiet=True,
    )
    with pytest.raises(MigrationError, match="schema DDL must create"):
        m.create_or_update_database()
    assert not m.ledger.exists()
    # at-least-once: the migration itself WAS applied before the error
    assert spark.read.jdbc(url, "added_t", properties={}).columns == ["ID"]
