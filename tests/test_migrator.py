"""Port of the reference's live end-to-end harness scenario
(lib/Test/Database/Migrator.pm:65-303, layout in FIXTURES.md §A) plus the
sort/dispatch edge cases from SURVEY.md §7 risk 4."""

from __future__ import annotations

import os
import stat
import uuid
from pathlib import Path

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from database_migrator_spark.migrator.core import MigrationError, Migrator
from database_migrator_spark.migrator.ddl import (
    run_ddl_script,
    split_statements,
    translate_statement,
)
from database_migrator_spark.migrator.model import (
    classify_file,
    numeric_or_alpha_key,
    scan_migration,
)

SCHEMA_SQL = """
CREATE TABLE applied_migration (
    migration  VARCHAR(250)   PRIMARY KEY
);

CREATE TABLE foo (
    foo_id     INTEGER        PRIMARY KEY,
    foo_name   VARCHAR(50)    NOT NULL
);
"""

FIRST_TABLES_SQL = """
CREATE TABLE bar ( bar_id INTEGER PRIMARY KEY, bar_name VARCHAR(50) NOT NULL );
CREATE TABLE baz ( baz_id INTEGER PRIMARY KEY, baz_name VARCHAR(50) NOT NULL );
"""

BAR_INDEX_SQL = "CREATE INDEX bar_bar_name ON bar (bar_name);\n"
BAZ_INDEX_SQL = "CREATE INDEX baz_baz_name ON baz (baz_name);\n"

CODE_MIGRATION = """
def migrate(migrator):
    migrator.spark.sql("CREATE TABLE myperlsub (id INT)")
"""

FAILING_PROGRAM = """#!/bin/sh
echo "Use of uninitialized value" >&2
exit 0
"""


@pytest.fixture()
def tree(tmp_path):
    (tmp_path / "schema.sql").write_text(SCHEMA_SQL)
    mig = tmp_path / "migrations"
    first = mig / "01-first"
    first.mkdir(parents=True)
    (first / "01-create-tables.sql").write_text(FIRST_TABLES_SQL)
    (first / "02-create-bar-table-index.sql").write_text(BAR_INDEX_SQL)
    second = mig / "02-second"
    second.mkdir()
    (second / "01-create-baz-table-index.sql").write_text(BAZ_INDEX_SQL)
    return tmp_path


def _migrator(spark, tree, **kw):
    db = kw.pop("database")
    return Migrator(
        spark,
        database=db,
        migrations_dir=str(tree / "migrations"),
        schema_file=str(tree / "schema.sql"),
        quiet=True,
        **kw,
    )


def _ledger_names(spark, db):
    return [
        r["migration"]
        for r in spark.table(f"{db}.applied_migration").orderBy("migration").collect()
    ]


def test_full_harness_scenario(spark, tree):
    db = f"migtest_{uuid.uuid4().hex[:8]}"
    m = _migrator(spark, tree, database=db)
    try:
        # run 1: create + bootstrap + 01,02 (Test/Database/Migrator.pm:70-137)
        assert not spark.catalog.databaseExists(db)
        m.create_or_update_database()
        assert spark.catalog.databaseExists(db)
        for t in ("foo", "bar", "baz"):
            assert spark.catalog.tableExists(f"{db}.{t}")
        assert _ledger_names(spark, db) == ["01-first", "02-second"]

        # run 2: idempotent (:139-144) — fresh Migrator (cached existence)
        m2 = _migrator(spark, tree, database=db)
        m2.create_or_update_database()
        assert _ledger_names(spark, db) == ["01-first", "02-second"]

        # run 3: code migration via the migrator handle (:145-162)
        third = tree / "migrations" / "03-third"
        third.mkdir()
        (third / "migrate.py").write_text(CODE_MIGRATION)
        m3 = _migrator(spark, tree, database=db)
        assert m3.has_pending_migrations == 1
        m3.create_or_update_database()
        assert spark.catalog.tableExists(f"{db}.myperlsub")
        assert _ledger_names(spark, db) == ["01-first", "02-second", "03-third"]

        # run 4: failing executable (stderr despite exit 0) must raise and
        # NOT be recorded (:164-188, 271-303)
        fourth = tree / "migrations" / "04-fourth"
        fourth.mkdir()
        prog = fourth / "migrate.sh"
        prog.write_text(FAILING_PROGRAM)
        prog.chmod(prog.stat().st_mode | stat.S_IXUSR)
        m4 = _migrator(spark, tree, database=db)
        with pytest.raises(MigrationError, match="Use of uninitialized"):
            m4.create_or_update_database()
        assert _ledger_names(spark, db) == ["01-first", "02-second", "03-third"]

        # dry run: pending migration is planned but nothing executes/records
        fifth = tree / "migrations" / "05-fifth"
        fifth.mkdir()
        (fifth / "01-t.sql").write_text("CREATE TABLE dryrun_t (x INT);")
        os.remove(prog)
        os.rmdir(fourth)
        m5 = _migrator(spark, tree, database=db, dry_run=True)
        assert [p.name for p in m5.pending_migrations()] == ["05-fifth"]
        m5.create_or_update_database()
        assert not spark.catalog.tableExists(f"{db}.dryrun_t")
        assert _ledger_names(spark, db) == ["01-first", "02-second", "03-third"]
    finally:
        m.drop_database()


def test_pending_set_is_anti_join(spark, tree):
    db = f"migtest_{uuid.uuid4().hex[:8]}"
    m = _migrator(spark, tree, database=db)
    try:
        assert [p.name for p in m.pending_migrations()] == ["01-first", "02-second"]
        m.create_or_update_database()
        assert _migrator(spark, tree, database=db).pending_migrations() == []
    finally:
        m.drop_database()


def test_pending_orders_numeric_prefixes_beyond_64_bits(spark, tmp_path):
    """Names whose digit prefix overflows a 64-bit integer (nanosecond
    timestamp style) order like every other name, by the Python key."""
    from database_migrator_spark.migrator.ledger import FileLedger

    ordered = ["alpha", "2-two", "10-ten", "99999999999999999999-big", "123456789012345678901234-huge"]
    assert sorted(ordered, key=numeric_or_alpha_key) == ordered
    for n in ordered + ["5-applied"]:
        (tmp_path / "migrations" / n).mkdir(parents=True)
    led = FileLedger(spark, str(tmp_path / "ledger"))
    led.record("5-applied")
    m = Migrator(spark, "unused", str(tmp_path / "migrations"), ledger=led, quiet=True)
    assert [p.name for p in m.pending_migrations()] == ordered


def _jobs_run_by(spark, fn) -> int:
    """The number of Spark jobs ``fn()`` starts."""
    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the status store is fed asynchronously
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_pending_set_spark_job_count(spark, tree, tmp_path):
    """The pending set is driver-side set arithmetic: no Spark job over a
    FileLedger, nor over a parquet catalog ledger, which the driver reads
    itself."""
    from database_migrator_spark.migrator.ledger import FileLedger

    assert _jobs_run_by(spark, lambda: spark.range(3).collect()) == 1  # the counter counts

    led = FileLedger(spark, str(tmp_path / "ledger"))
    led.record("01-first")
    m = _migrator(spark, tree, database="unused", ledger=led)
    assert _jobs_run_by(spark, m.pending_migrations) == 0

    db = f"migtest_{uuid.uuid4().hex[:8]}"
    m = _migrator(spark, tree, database=db)
    try:
        m.create_or_update_database()
        spark.sql(f"INSERT INTO {db}.applied_migration (migration) VALUES ('00-extra')")
        m2 = _migrator(spark, tree, database=db)
        assert _jobs_run_by(spark, m2.pending_migrations) == 0
        assert m2.pending_migrations() == []
        assert m2.ledger.applied() == {"00-extra", "01-first", "02-second"}
    finally:
        m.drop_database()


def _write_parquet(path, names, column="migration", **extra):
    """A parquet file holding ``names`` as another writer leaves it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = {column: pa.array(names, pa.string())}
    cols.update({k: pa.array([v] * len(names), pa.string()) for k, v in extra.items()})
    pq.write_table(pa.table(cols), str(path))


# the ledger table as a schema creates it, and how another writer adds one
# row to it: a parquet table the driver reads, a JSON one Spark reads
STALE_READ_LEDGERS = {
    "parquet": (
        "CREATE TABLE applied_migration (migration STRING);",
        lambda path, name: _write_parquet(path / "part-other-c000.snappy.parquet", [name]),
    ),
    "json": (
        "CREATE TABLE applied_migration (migration STRING) USING json;",
        lambda path, name: (path / "part-other-c000.json").write_text(
            f'{{"migration":"{name}"}}\n'
        ),
    ),
}


@pytest.mark.parametrize("kind", sorted(STALE_READ_LEDGERS))
def test_pending_set_sees_rows_another_writer_added(spark, tree, kind):
    """Spark caches a table's file listing for the session, so a ledger
    row another writer adds would stay unseen and its migration would run
    again. Each read lists the table afresh: the driver's own listing, or
    a refresh before Spark reads."""
    schema, write_row = STALE_READ_LEDGERS[kind]
    (tree / "schema.sql").write_text(schema)
    db = f"migtest_{uuid.uuid4().hex[:8]}"
    m = _migrator(spark, tree, database=db)
    try:
        m.create_or_update_database()
        (tree / "migrations" / "03-third").mkdir()
        assert [p.name for p in m.pending_migrations()] == ["03-third"]
        assert _ledger_names(spark, db) == ["01-first", "02-second"]  # Spark has listed it
        write_row(Path(_ledger_dir(spark, db)), "03-third")
        assert m.pending_migrations() == []
    finally:
        m.drop_database()


def test_no_op_deploy_folds_a_many_file_ledger(spark, tmp_path):
    """A ledger table another writer left in one file per row is folded
    by the next deploy, a no-op one too: one file, the same rows."""
    names = [f"{i:02d}-m" for i in range(1, 6)]
    for n in names:
        (tmp_path / "migrations" / n).mkdir(parents=True)
    db = f"migtest_{uuid.uuid4().hex[:8]}"
    spark.sql(f"CREATE DATABASE {db}")
    m = _migrator(spark, tmp_path, database=db)
    try:
        spark.sql(f"CREATE TABLE {db}.applied_migration (migration STRING, applied_by STRING)")
        for n in names:
            _write_parquet(Path(_ledger_dir(spark, db), f"part-{n}.parquet"), [n], applied_by="ops")
        assert len(_data_files_on_disk(spark, db)) == 5
        m.create_or_update_database()
        assert len(_data_files_on_disk(spark, db)) == 1
        assert _ledger_rows(spark, db) == [(n, "ops") for n in names]
        assert _migrator(spark, tmp_path, database=db).pending_migrations() == []
    finally:
        m.drop_database()


# -- the driver's read of a parquet ledger against Spark's -------------------
def _spark_names(spark, table):
    spark.catalog.refreshTable(table)
    return {r[0] for r in spark.table(table).select("migration").collect()}


def _applied_and_jobs(spark, ledger):
    """``ledger.applied()`` and the Spark jobs it ran."""
    out = []
    jobs = _jobs_run_by(spark, lambda: out.append(ledger.applied()))
    return out[0], jobs


_LEDGER_FILE = st.tuples(
    st.sampled_from(["migration", "MIGRATION", "Migration"]),
    st.lists(st.one_of(st.none(), st.text(max_size=12)), max_size=5),
    st.sets(st.sampled_from(["applied_by", "note"])),
)


@pytest.fixture(scope="module")
def parquet_ledger(spark):
    """A parquet ledger table with a user column, for many examples."""
    db = f"migtest_{uuid.uuid4().hex[:8]}"
    spark.sql(f"CREATE DATABASE {db}")
    spark.sql(f"CREATE TABLE {db}.applied_migration (migration STRING, applied_by STRING)")
    yield db
    spark.sql(f"DROP DATABASE {db} CASCADE")


@given(st.lists(_LEDGER_FILE, max_size=5))
@settings(max_examples=25, deadline=None)
def test_driver_read_equals_spark_read(spark, parquet_ledger, files):
    """The driver's read of a parquet ledger yields Spark's set of names,
    runs no Spark job and skips what Spark's file index skips: ``_`` and
    ``.`` files, empty files and the journal directory."""
    import shutil

    from database_migrator_spark.migrator.ledger import CatalogLedger

    db = parquet_ledger
    table = f"{db}.applied_migration"
    path = Path(_ledger_dir(spark, db))
    shutil.rmtree(path)
    path.mkdir()
    for i, (column, names, extra) in enumerate(files):
        _write_parquet(path / f"part-{i:05d}.parquet", names, column, **{c: c for c in extra})
    (path / "_SUCCESS").write_bytes(b"")
    (path / "_metadata").write_bytes(b"not parquet")
    (path / ".staged.parquet").write_bytes(b"not parquet")
    (path / "part-empty.parquet").write_bytes(b"")
    ledger = CatalogLedger(spark, table)
    assert ledger.exists()
    ledger.record("99-journaled")
    applied, jobs = _applied_and_jobs(spark, ledger)
    assert jobs == 0
    assert applied == _spark_names(spark, table) | {"99-journaled"}
    assert applied == {n for _, names, _ in files for n in names} | {"99-journaled"}


def _subdirectory(path):
    (path / "sub").mkdir()
    _write_parquet(path / "sub" / "part-sub.parquet", ["05-sub"])


# ledgers Spark must read: the table's columns and provider, then what
# another writer adds to its files
SPARK_READ_LEDGERS = {
    "json": ("(migration STRING, applied_by STRING) USING json", None),
    "char": ("(migration CHAR(8), applied_by STRING)", None),
    "subdirectory": ("(migration STRING, applied_by STRING)", _subdirectory),
    "no-such-column": (
        "(migration STRING, applied_by STRING)",
        lambda path: _write_parquet(path / "part-other.parquet", ["ops"], column="applied_by"),
    ),
}


@pytest.mark.parametrize("kind", sorted(SPARK_READ_LEDGERS))
def test_ledgers_the_driver_cannot_read_take_the_spark_path(spark, kind):
    """A table the driver cannot read as Spark does is read by Spark, and
    its set is Spark's: another provider, a ``CHAR(n)`` column, files in
    a subdirectory, a file without the column (a null name)."""
    from database_migrator_spark.migrator.ledger import CatalogLedger

    columns, add_files = SPARK_READ_LEDGERS[kind]
    db = f"migtest_{uuid.uuid4().hex[:8]}"
    table = f"{db}.applied_migration"
    spark.sql(f"CREATE DATABASE {db}")
    try:
        spark.sql(f"CREATE TABLE {table} {columns}")
        spark.sql(f"INSERT INTO {table} VALUES ('01-a', 'ops')")
        spark.sql(f"INSERT INTO {table} VALUES ('02-b', NULL)")
        if add_files:
            add_files(Path(_ledger_dir(spark, db)))
        applied, jobs = _applied_and_jobs(spark, CatalogLedger(spark, table))
        assert jobs >= 1
        assert applied == _spark_names(spark, table)
        assert {"01-a", "02-b"} <= {n and n.strip() for n in applied}
    finally:
        spark.sql(f"DROP DATABASE {db} CASCADE")


HIVE_LEDGERS_SCRIPT = """
import json, os
from database_migrator_spark.migrator.ledger import CatalogLedger
from database_migrator_spark.session import get_session

spark = get_session("hive-ledgers", cpus=2, persistent_catalog=True)
sc = spark.sparkContext
out = {}
for kind, storage in (("default", ""), ("textfile", " STORED AS TEXTFILE")):
    table = f"{kind}_ledger"
    spark.sql(f"CREATE TABLE {table} (migration STRING){storage}")
    spark.sql(f"INSERT INTO {table} VALUES ('01-a')")
    spark.sql(f"INSERT INTO {table} VALUES ('02-b')")
    ledger = CatalogLedger(spark, table)
    assert ledger.exists()
    sc.setJobGroup(kind, kind)
    applied = ledger.applied()
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    ledger.compact()
    files = [f for f in os.listdir(f"spark-warehouse/{table}") if not f.startswith((".", "_"))]
    out[kind] = {
        "applied": sorted(applied),
        "jobs": len(sc.statusTracker().getJobIdsForGroup(kind)),
        "rows": sorted(r[0] for r in spark.table(table).collect()),
        "files": len(files),
    }
print(json.dumps(out))
"""


def test_hive_catalog_ledgers(tmp_path):
    """On the Hive catalog, which the CLI uses, the ledger a schema's
    ``CREATE TABLE`` makes is a parquet table the driver reads with no
    Spark job; a Hive ``TEXTFILE`` ledger is read by Spark. Either keeps
    its names when folded to one file. The catalog is fixed when a JVM
    starts, so this runs in its own process."""
    import json
    import subprocess
    import sys

    env = dict(
        os.environ,
        PYTHONPATH=str(Path(__file__).resolve().parent.parent),
        SPARK_GRAFT_DRIVER_MEM="1g",
        SPARK_LOCAL_DIRS=str(tmp_path / "local"),
    )
    out = subprocess.run(
        [sys.executable, "-c", HIVE_LEDGERS_SCRIPT],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600, check=True,
    )
    got = json.loads(out.stdout.splitlines()[-1])
    both = ["01-a", "02-b"]
    assert got["default"] == {"applied": both, "jobs": 0, "rows": both, "files": 1}
    assert got["textfile"]["jobs"] >= 1
    assert got["textfile"]["applied"] == got["textfile"]["rows"] == both
    assert got["textfile"]["files"] == 1


# -- catalog ledger compaction -------------------------------------------------
EXTRA_COLUMN_SCHEMA_SQL = """
CREATE TABLE applied_migration ( migration VARCHAR(250), applied_by VARCHAR(50) );
INSERT INTO applied_migration VALUES ('00-seed', 'ops');
"""


@pytest.fixture()
def extra_column_tree(tree):
    """The harness tree whose ledger has a user column, and one row that
    sets it for a migration the tree already holds."""
    (tree / "schema.sql").write_text(EXTRA_COLUMN_SCHEMA_SQL)
    (tree / "migrations" / "00-seed").mkdir()
    return tree


def _ledger_files(spark, db):
    return sorted(spark.table(f"{db}.applied_migration").inputFiles())


def _ledger_rows(spark, db):
    return sorted(tuple(r) for r in spark.table(f"{db}.applied_migration").collect())


def _ledger_dir(spark, db):
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED {db}.applied_migration").collect()
    return next(r["data_type"] for r in rows if r["col_name"] == "Location").removeprefix("file:")


def _data_files_on_disk(spark, db):
    return [f for f in os.listdir(_ledger_dir(spark, db)) if not f.startswith((".", "_"))]


def _journal_on_disk(spark, db):
    """The committed journal entries, name -> content."""
    journal = os.path.join(_ledger_dir(spark, db), "_migrator_journal")
    if not os.path.isdir(journal):
        return {}
    entries = {}
    for f in sorted(os.listdir(journal)):
        if not f.startswith("."):  # staging files and checksums
            with open(os.path.join(journal, f), encoding="utf-8") as fh:
                entries[f] = fh.read()
    return entries


def test_deploy_compacts_catalog_ledger_to_one_file(spark, extra_column_tree):
    db = f"migtest_{uuid.uuid4().hex[:8]}"
    m = _migrator(spark, extra_column_tree, database=db)
    try:
        m.create_or_update_database()
        assert len(_ledger_files(spark, db)) == 1
        assert len(_data_files_on_disk(spark, db)) == 1
        assert _ledger_rows(spark, db) == [
            ("00-seed", "ops"), ("01-first", None), ("02-second", None)
        ]
    finally:
        m.drop_database()


def test_dry_run_and_status_leave_ledger_files_alone(spark, extra_column_tree):
    db = f"migtest_{uuid.uuid4().hex[:8]}"
    m = _migrator(spark, extra_column_tree, database=db)
    try:
        m.create_or_update_database()
        spark.sql(  # a second data file
            f"INSERT INTO {db}.applied_migration (migration) VALUES ('99-recorded-elsewhere')"
        )
        m.ledger.record("98-journaled")  # and a journal entry
        (extra_column_tree / "migrations" / "03-third").mkdir()
        (extra_column_tree / "migrations" / "03-third" / "01-t.sql").write_text(
            "CREATE TABLE third_t (x INT);"
        )
        before = _ledger_files(spark, db)
        assert len(before) == 2
        journal = _journal_on_disk(spark, db)
        assert len(journal) == 1

        _migrator(spark, extra_column_tree, database=db, dry_run=True).create_or_update_database()
        assert _ledger_files(spark, db) == before
        assert _journal_on_disk(spark, db) == journal
        status = _migrator(spark, extra_column_tree, database=db)
        assert status.has_pending_migrations == 1
        assert _ledger_files(spark, db) == before
        assert _journal_on_disk(spark, db) == journal
    finally:
        m.drop_database()


def test_crash_between_compacted_write_and_deletes(spark, extra_column_tree, monkeypatch):
    """The compacted file is written before any old file is deleted, so a
    crash in between leaves rows twice, never missing: the pending set is
    still tree − ledger and a re-run applies nothing."""
    from pyspark.sql.readwriter import DataFrameWriter

    db = f"migtest_{uuid.uuid4().hex[:8]}"
    m = _migrator(spark, extra_column_tree, database=db)
    real_insert_into = DataFrameWriter.insertInto

    def insert_then_crash(self, *args, **kwargs):
        real_insert_into(self, *args, **kwargs)
        raise RuntimeError("simulated crash before the deletes")

    try:
        monkeypatch.setattr(DataFrameWriter, "insertInto", insert_then_crash)
        with pytest.raises(RuntimeError, match="simulated crash"):
            m.create_or_update_database()
        monkeypatch.undo()
        spark.catalog.refreshTable(f"{db}.applied_migration")

        ledger = {r[0] for r in _ledger_rows(spark, db)}
        tree_names = set(os.listdir(extra_column_tree / "migrations"))
        assert ledger == tree_names
        rows = _ledger_rows(spark, db)
        assert len(rows) > len(ledger)  # the duplicates
        assert ("00-seed", "ops") in rows
        m2 = _migrator(spark, extra_column_tree, database=db)
        assert m2.pending_migrations() == []
        m2.create_or_update_database()
        assert _ledger_rows(spark, db) == rows  # nothing applied, nothing recorded
    finally:
        m.drop_database()


# -- catalog ledger journal ---------------------------------------------------
def test_catalog_ledger_record_runs_no_spark_job(spark, tree):
    """A record is a journal commit on the driver: no Spark job, visible to
    both readers at once, and a retry finds the same entry."""
    db = f"migtest_{uuid.uuid4().hex[:8]}"
    m = _migrator(spark, tree, database=db)
    try:
        m.create_or_update_database()
        assert _jobs_run_by(spark, lambda: m.ledger.record("03-third")) == 0
        m.ledger.record("03-third")
        assert list(_journal_on_disk(spark, db).values()) == ["03-third"]
        assert "03-third" not in _ledger_names(spark, db)
        assert m.ledger.applied() == {"01-first", "02-second", "03-third"}
        assert sorted(r[0] for r in m.ledger.applied_df().collect()) == [
            "01-first", "02-second", "03-third"
        ]
    finally:
        m.drop_database()


def test_catalog_journal_commit_is_durable_on_local_disk(spark, tree, monkeypatch):
    """On a ``file:`` table location the journal entry is written through
    the raw local FileSystem, whose stream syncs on ``hsync`` (the
    checksummed one's only flushes, and leaves a ``.crc`` sidecar), and
    the journal directory is synced after the rename."""
    from database_migrator_spark.migrator import ledger as ledger_mod

    db = f"migtest_{uuid.uuid4().hex[:8]}"
    m = _migrator(spark, tree, database=db)
    try:
        m.create_or_update_database()
        synced = []
        # raising=False: without the helper the assertions below say what is missing
        monkeypatch.setattr(ledger_mod, "_fsync_dir", synced.append, raising=False)
        m.ledger.record("03-third")
        journal = os.path.join(_ledger_dir(spark, db), "_migrator_journal")
        assert os.listdir(journal) == [ledger_mod._entry_name("03-third")]
        assert synced == [journal]
        # the premise: the raw FileSystem's stream is Syncable
        fs, path = m.ledger._journal_dir()
        probe = m.ledger._path(path, ".probe")
        out = fs.getRawFileSystem().create(probe, False)
        try:
            assert out.hasCapability("hsync")
        finally:
            out.close()
            fs.delete(probe, False)
    finally:
        m.drop_database()


def test_deploy_runs_one_ledger_insert_job(spark, tree, monkeypatch):
    """Two migrations into an empty ledger table: the records run no job
    and the compaction one INSERT; the table is one file and the journal
    is empty afterwards."""
    from database_migrator_spark.migrator.ledger import CatalogLedger

    jobs = []
    for method in ("record", "compact"):
        real = getattr(CatalogLedger, method)

        def counted(self, *args, _real=real):
            jobs.append(_jobs_run_by(spark, lambda: _real(self, *args)))

        monkeypatch.setattr(CatalogLedger, method, counted)
    db = f"migtest_{uuid.uuid4().hex[:8]}"
    m = _migrator(spark, tree, database=db)
    try:
        m.create_or_update_database()
        assert sum(jobs) == 1
        assert _ledger_names(spark, db) == ["01-first", "02-second"]
        assert len(_data_files_on_disk(spark, db)) == 1
        assert _journal_on_disk(spark, db) == {}
    finally:
        m.drop_database()


def test_no_op_deploy_probes_neither_table_nor_database_again(spark, tree, monkeypatch):
    """The ledger's existence comes from its one catalog lookup, and the
    database is probed once per deploy, not once per file run in it."""
    from pyspark.sql.catalog import Catalog

    probes = []
    real = Catalog.databaseExists

    def database_exists(self, name):
        probes.append(name)
        return real(self, name)

    monkeypatch.setattr(Catalog, "databaseExists", database_exists)

    def no_table_exists(self, *args, **kwargs):
        raise AssertionError("tableExists called")

    monkeypatch.setattr(Catalog, "tableExists", no_table_exists)
    db = f"migtest_{uuid.uuid4().hex[:8]}"
    m = _migrator(spark, tree, database=db)
    try:
        m.create_or_update_database()  # schema + two migrations
        assert probes == [db]
        _migrator(spark, tree, database=db).create_or_update_database()
        assert probes == [db, db]
    finally:
        monkeypatch.undo()
        m.drop_database()


def _crash_at_ledger_insert(db, monkeypatch, after: bool):
    """Make the ledger table's INSERT raise, before it runs or after."""
    from pyspark.sql import SparkSession

    real_sql = SparkSession.sql

    def sql(self, query, *args, **kwargs):
        if query.startswith(f"INSERT INTO {db}.applied_migration"):
            if after:
                real_sql(self, query, *args, **kwargs)
            raise RuntimeError("simulated crash")
        return real_sql(self, query, *args, **kwargs)

    monkeypatch.setattr(SparkSession, "sql", sql)


def _assert_recovers(spark, tree, db):
    """The next deploy applies nothing (a second CREATE TABLE bar would
    fail), and afterwards the ledger table holds the tree once, in one
    file, with the journal empty."""
    spark.catalog.refreshTable(f"{db}.applied_migration")
    m2 = _migrator(spark, tree, database=db)
    assert m2.pending_migrations() == []
    m2.create_or_update_database()
    assert _ledger_names(spark, db) == sorted(os.listdir(tree / "migrations"))
    assert len(_data_files_on_disk(spark, db)) == 1
    assert _journal_on_disk(spark, db) == {}


def test_crash_between_journal_commit_and_table_insert(spark, tree, monkeypatch):
    """The journal entries are deleted only after the INSERT: a crash at
    the INSERT leaves the names in the journal, where readers see them."""
    db = f"migtest_{uuid.uuid4().hex[:8]}"
    m = _migrator(spark, tree, database=db)
    try:
        _crash_at_ledger_insert(db, monkeypatch, after=False)
        with pytest.raises(RuntimeError, match="simulated crash"):
            m.create_or_update_database()
        monkeypatch.undo()
        assert _ledger_names(spark, db) == []
        assert sorted(_journal_on_disk(spark, db).values()) == ["01-first", "02-second"]
        _assert_recovers(spark, tree, db)
    finally:
        m.drop_database()


def test_crash_between_table_insert_and_journal_deletes(spark, tree, monkeypatch):
    """Names in both places after a crash: the next deploy inserts only
    the journal names the table lacks, so no row is doubled."""
    db = f"migtest_{uuid.uuid4().hex[:8]}"
    m = _migrator(spark, tree, database=db)
    try:
        _crash_at_ledger_insert(db, monkeypatch, after=True)
        with pytest.raises(RuntimeError, match="simulated crash"):
            m.create_or_update_database()
        monkeypatch.undo()
        spark.catalog.refreshTable(f"{db}.applied_migration")
        assert _ledger_names(spark, db) == ["01-first", "02-second"]
        assert sorted(_journal_on_disk(spark, db).values()) == ["01-first", "02-second"]
        _assert_recovers(spark, tree, db)
    finally:
        m.drop_database()


def test_failed_migration_keeps_earlier_records_in_the_table(spark, tree, monkeypatch):
    """A deploy that fails at its third migration still writes the first
    two into the ledger table, and a failing compaction does not hide the
    migration's own error."""
    from database_migrator_spark.migrator.ledger import CatalogLedger

    bad = tree / "migrations" / "03-bad"
    bad.mkdir()
    prog = bad / "migrate.sh"
    prog.write_text(FAILING_PROGRAM)
    prog.chmod(prog.stat().st_mode | stat.S_IXUSR)
    db = f"migtest_{uuid.uuid4().hex[:8]}"
    m = _migrator(spark, tree, database=db)
    try:
        with pytest.raises(MigrationError, match="Use of uninitialized"):
            m.create_or_update_database()
        assert _ledger_names(spark, db) == ["01-first", "02-second"]
        assert _journal_on_disk(spark, db) == {}

        def broken_compact(self):
            raise RuntimeError("compaction failed")

        monkeypatch.setattr(CatalogLedger, "compact", broken_compact)
        with pytest.raises(MigrationError, match="Use of uninitialized"):
            _migrator(spark, tree, database=db).create_or_update_database()
    finally:
        m.drop_database()


# -- the deploy scope ------------------------------------------------------------
LEAF = "spark.sql.leafNodeDefaultParallelism"
MIN_SPLITS = "spark.sql.files.minPartitionNum"


def _session_state(spark):
    return (
        spark.conf.get(LEAF, None),
        spark.conf.get(MIN_SPLITS, None),
        spark.catalog.currentDatabase(),
    )


def test_bootstrapped_insert_values_writes_one_file(spark, tree):
    """A deploy's local-relation write is one task: a four-row INSERT ...
    VALUES leaves one data file, not one per core."""
    if spark.sparkContext.defaultParallelism == 1:
        pytest.skip("one core writes one file with or without the scope")
    rows = tree / "migrations" / "03-rows"
    rows.mkdir()
    (rows / "01-rows.sql").write_text(
        "INSERT INTO foo VALUES (1, 'one'), (2, 'two'), (3, 'three'), (4, 'four');"
    )
    db = f"migtest_{uuid.uuid4().hex[:8]}"
    m = _migrator(spark, tree, database=db)
    try:
        m.create_or_update_database()
        assert spark.table(f"{db}.foo").count() == 4
        assert len(spark.table(f"{db}.foo").inputFiles()) == 1
    finally:
        m.drop_database()


@pytest.mark.parametrize("caller_set", [False, True], ids=["unset", "set"])
def test_deploy_restores_confs_and_current_database(spark, tree, caller_set):
    """The scope leaves the session as the caller had it, explicitly set
    values too, after a deploy that succeeds and after one that fails."""
    other = f"migother_{uuid.uuid4().hex[:8]}"
    db = f"migtest_{uuid.uuid4().hex[:8]}"
    prev = spark.catalog.currentDatabase()
    spark.sql(f"CREATE DATABASE {other}")
    spark.catalog.setCurrentDatabase(other)
    if caller_set:
        spark.conf.set(LEAF, "3")
        spark.conf.set(MIN_SPLITS, "5")
    m = _migrator(spark, tree, database=db)
    try:
        before = _session_state(spark)
        assert before == (("3", "5", other) if caller_set else (None, None, other))
        m.create_or_update_database()
        assert _session_state(spark) == before

        bad = tree / "migrations" / "03-bad"
        bad.mkdir()
        prog = bad / "migrate.sh"
        prog.write_text(FAILING_PROGRAM)
        prog.chmod(prog.stat().st_mode | stat.S_IXUSR)
        with pytest.raises(MigrationError, match="Use of uninitialized"):
            _migrator(spark, tree, database=db).create_or_update_database()
        assert _session_state(spark) == before
    finally:
        spark.conf.unset(LEAF)
        spark.conf.unset(MIN_SPLITS)
        spark.catalog.setCurrentDatabase(prev)
        m.drop_database()
        spark.sql(f"DROP DATABASE {other} CASCADE")


def test_no_op_dry_run_and_status_set_no_conf(spark, tree, monkeypatch):
    """Only a deploy with work pays for the scope: a no-op deploy, a dry
    run (of a new database and of a pending migration) and ``status``
    set and unset nothing on the session."""
    from pyspark.sql.conf import RuntimeConfig

    db = f"migtest_{uuid.uuid4().hex[:8]}"
    m = _migrator(spark, tree, database=db)
    calls = []
    for method in ("set", "unset"):
        real = getattr(RuntimeConfig, method)

        def spy(self, *args, _real=real, _method=method):
            calls.append((_method, *args))
            return _real(self, *args)

        monkeypatch.setattr(RuntimeConfig, method, spy)
    try:
        _migrator(spark, tree, database=db, dry_run=True).create_or_update_database()
        assert calls == []
        m.create_or_update_database()
        assert calls  # the spy sees the scope of a deploy with work
        calls.clear()

        _migrator(spark, tree, database=db).create_or_update_database()  # no-op
        (tree / "migrations" / "03-third").mkdir()
        (tree / "migrations" / "03-third" / "01-t.sql").write_text("CREATE TABLE third_t (x INT);")
        _migrator(spark, tree, database=db, dry_run=True).create_or_update_database()
        assert _migrator(spark, tree, database=db).has_pending_migrations == 1  # status
        assert calls == []
        assert not spark.catalog.tableExists(f"{db}.third_t")
    finally:
        monkeypatch.undo()
        m.drop_database()


SPLITS_MIGRATION = """
def migrate(migrator):
    migrator.seen_splits = migrator.spark.table("{table}").rdd.getNumPartitions()
"""


@pytest.mark.parametrize("caller_leaf", [None, "2"], ids=["default", "caller-set"])
def test_code_migration_scans_split_as_outside_the_deploy(spark, tree, caller_leaf):
    """The scope's one-task writes do not shrink file scans: a code
    migration reading a multi-file table gets the splits it gets outside
    the deploy, whether the caller set the leaf parallelism or not."""
    db = f"migtest_{uuid.uuid4().hex[:8]}"
    src = f"migsrc_{uuid.uuid4().hex[:8]}"
    spark.sql(f"CREATE DATABASE {src}")
    spark.range(0, 4000, 1, 8).write.saveAsTable(f"{src}.wide")
    code = tree / "migrations" / "03-code"
    code.mkdir()
    (code / "migrate.py").write_text(SPLITS_MIGRATION.format(table=f"{src}.wide"))
    if caller_leaf:
        spark.conf.set(LEAF, caller_leaf)
    m = _migrator(spark, tree, database=db)
    try:
        assert len(spark.table(f"{src}.wide").inputFiles()) == 8
        outside = spark.table(f"{src}.wide").rdd.getNumPartitions()
        assert outside > 1
        m.create_or_update_database()
        assert m.seen_splits == outside
    finally:
        spark.conf.unset(LEAF)
        m.drop_database()
        spark.sql(f"DROP DATABASE {src} CASCADE")


USE_MIGRATION = "USE {other};\nCREATE TABLE used_t (x INT);\n"


def test_one_database_switch_per_deploy_and_use_does_not_leak(spark, tree, monkeypatch):
    """The deploy enters its database once and leaves it once; a migration
    that runs ``USE other`` does not move the next migration out of the
    target database, nor the caller out of theirs."""
    from pyspark.sql.catalog import Catalog

    other = f"migother_{uuid.uuid4().hex[:8]}"
    db = f"migtest_{uuid.uuid4().hex[:8]}"
    prev = spark.catalog.currentDatabase()
    spark.sql(f"CREATE DATABASE {other}")
    switches = []
    real = Catalog.setCurrentDatabase

    def set_current(self, name):
        switches.append(name)
        return real(self, name)

    monkeypatch.setattr(Catalog, "setCurrentDatabase", set_current)
    m = _migrator(spark, tree, database=db)
    try:
        m.create_or_update_database()  # schema + two migrations
        assert switches == [db, prev]

        use = tree / "migrations" / "03-use"
        use.mkdir()
        (use / "01-use.sql").write_text(USE_MIGRATION.format(other=other))
        after = tree / "migrations" / "04-after"
        after.mkdir()
        (after / "01-t.sql").write_text("CREATE TABLE after_t (x INT);\n")
        spark.catalog.setCurrentDatabase(db)  # a caller already in the target
        _migrator(spark, tree, database=db).create_or_update_database()
        assert spark.catalog.tableExists(f"{other}.used_t")
        assert spark.catalog.tableExists(f"{db}.after_t")
        assert not spark.catalog.tableExists(f"{other}.after_t")
        assert spark.catalog.currentDatabase() == db
    finally:
        monkeypatch.undo()
        spark.catalog.setCurrentDatabase(prev)
        m.drop_database()
        spark.sql(f"DROP DATABASE {other} CASCADE")


HIVE_CALLS_SCRIPT = """
import os, sys
from database_migrator_spark.migrator.core import Migrator
from database_migrator_spark.session import get_session

spark = get_session("hive-client-calls", cpus=2, persistent_catalog=True)
calls = spark._jvm.org.apache.spark.metrics.source.HiveCatalogMetrics.METRIC_HIVE_CLIENT_CALLS()
spark.catalog.databaseExists("default")  # the metastore's start-up calls stay out
before = calls.getCount()
Migrator(spark, "calls_db", "migrations", "schema.sql", quiet=True).create_or_update_database()
print(calls.getCount() - before)
"""

# Hive client calls of the bootstrap below when every schema file and
# migration entered and left the database itself (two
# ``setCurrentDatabase`` calls each, one metastore call apiece)
PER_FILE_SWITCH_CALLS = 152


def test_bootstrap_hive_client_calls(tmp_path):
    """On the Hive catalog a 6-migration bootstrap switches databases once
    in and once out: at least 12 metastore calls fewer than switching
    around the schema and each migration. The Hive catalog is fixed when
    a JVM starts, so this runs in its own process."""
    import subprocess
    import sys
    from pathlib import Path

    (tmp_path / "schema.sql").write_text(
        "CREATE TABLE applied_migration (migration VARCHAR(250) PRIMARY KEY);\n"
    )
    for i in range(1, 7):
        d = tmp_path / "migrations" / f"{i:02d}-m"
        d.mkdir(parents=True)
        (d / "01.sql").write_text(f"CREATE TABLE t{i} (x INT);\nINSERT INTO t{i} VALUES (1), (2);\n")
    env = dict(
        os.environ,
        PYTHONPATH=str(Path(__file__).resolve().parent.parent),
        SPARK_GRAFT_DRIVER_MEM="1g",
        SPARK_LOCAL_DIRS=str(tmp_path / "local"),
    )
    out = subprocess.run(
        [sys.executable, "-c", HIVE_CALLS_SCRIPT],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600, check=True,
    )
    calls = int(out.stdout.split()[-1])
    assert calls <= PER_FILE_SWITCH_CALLS - 12


def test_quiet_verbose_exclusive(spark, tree):
    with pytest.raises(ValueError):
        Migrator(spark, "x", str(tree), quiet=True, verbose=True)


# -- sort & dispatch edges (SURVEY.md §7 risk 4) ------------------------------
def test_numeric_or_alpha_sort_edges():
    # same number → alpha tie-break (Changes:41-43)
    assert numeric_or_alpha_key("01-bar") < numeric_or_alpha_key("01-foo")
    # missing numeric prefix sorts as 0 (Core.pm:279-280)
    assert numeric_or_alpha_key("alpha") == (0, "alpha")
    assert numeric_or_alpha_key("alpha") < numeric_or_alpha_key("1-x")
    # 2 < 10 numerically, not lexically
    names = sorted(["10-ten", "2-two", "1-one"], key=numeric_or_alpha_key)
    assert names == ["1-one", "2-two", "10-ten"]


def test_sql_match_anchored_vs_legacy(tmp_path):
    f = tmp_path / "data.sql.bak"
    f.write_text("-- not really sql")
    assert classify_file(str(f)).value == "code"  # anchored default
    assert classify_file(str(f), legacy_sql_match=True).value == "sql"  # Core.pm:176 quirk


def test_hidden_files_and_file_order(tmp_path):
    d = tmp_path / "01-m"
    d.mkdir()
    (d / "10-b.sql").write_text("")
    (d / "2-a.sql").write_text("")
    (d / ".hidden.sql").write_text("")
    (d / "sub").mkdir()
    m = scan_migration(str(d))
    assert [f.basename for f in m.files] == ["2-a.sql", "10-b.sql"]


# -- DDL shim ------------------------------------------------------------------
def test_split_statements_respects_quotes_and_comments():
    script = """
    CREATE TABLE a (x STRING); -- trailing; comment
    INSERT INTO a VALUES ('semi;colon');
    CREATE TABLE b (y INT)
    """
    stmts = split_statements(script)
    assert len(stmts) == 3
    assert "semi;colon" in stmts[1]


def test_translate_strips_constraints_and_indexes():
    assert translate_statement("CREATE INDEX i ON t (c)") is None
    out = translate_statement(
        "CREATE TABLE t (id INTEGER PRIMARY KEY AUTO_INCREMENT, s TEXT, u VARCHAR(5) UNIQUE)"
    )
    up = out.upper()
    assert "PRIMARY KEY" not in up and "AUTO_INCREMENT" not in up and "UNIQUE" not in up
    assert "STRING" in up


def test_translate_never_touches_string_literals():
    out = translate_statement(
        "INSERT INTO notes VALUES ('this is unique text with PRIMARY KEY words')"
    )
    assert "'this is unique text with PRIMARY KEY words'" in out


def test_translate_maps_serial_to_type():
    out = translate_statement("CREATE TABLE t (id SERIAL, name VARCHAR(10))")
    assert "BIGINT" in out.upper()
    # no dangling empty type
    assert "(id ," not in out.replace("  ", " ")


def test_translate_text_only_in_type_position():
    # a column literally named `text` must survive the TEXT→STRING rewrite
    out = translate_statement("CREATE TABLE documents (text TEXT, n INT)")
    assert "(text STRING" in out
    # cast position is a type position too
    out = translate_statement("CREATE TABLE t AS SELECT CAST(x AS TEXT) FROM s")
    assert "AS STRING)" in out
    # bare TEXT with no preceding identifier is left alone (not valid type DDL)
    assert translate_statement("SELECT 1") == "SELECT 1"
    # QUOTED column names still get their type rewritten (regression:
    # the type-position guard must not depend on an unquoted identifier),
    # and ANSI double-quoted identifiers become Spark backticks
    out = translate_statement('CREATE TABLE t ("note" TEXT, n INT)')
    assert "`note` STRING" in out
    # ...while TEXT inside a string literal still survives untouched
    out = translate_statement("INSERT INTO t VALUES ('some TEXT here')")
    assert "'some TEXT here'" in out


def test_split_statements_backslash_escaped_quote():
    stmts = split_statements(r"INSERT INTO t VALUES ('it\'s; done'); SELECT 1")
    assert len(stmts) == 2
    assert r"it\'s; done" in stmts[0]


@pytest.mark.parametrize(
    "script, executed, columns",
    [
        pytest.param(
            "CREATE TABLE t (id INT);\n-- end of file\n",
            ["CREATE TABLE t (id INT)"],
            ["id"],
            id="comment-after-last-statement",
        ),
        pytest.param(
            "CREATE TABLE t (c INT);\n-- add an index\nCREATE INDEX i ON t (c)",
            ["CREATE TABLE t (c INT)"],
            ["c"],
            id="commented-create-index",
        ),
        pytest.param(
            'CREATE TABLE t (id INT, PRIMARY KEY ("id"))',
            ["CREATE TABLE t (id INT)"],
            ["id"],
            id="table-primary-key-quoted-column",
        ),
        pytest.param(
            "CREATE TABLE t (id INT, x INT, UNIQUE (x))",
            ["CREATE TABLE t (id INT, x INT)"],
            ["id", "x"],
            id="table-unique",
        ),
        pytest.param(
            "CREATE TABLE t (id INT, CONSTRAINT pk PRIMARY KEY (id))",
            ["CREATE TABLE t (id INT)"],
            ["id"],
            id="named-table-constraint",
        ),
        pytest.param(
            "-- don't\nCREATE TABLE t (id SERIAL PRIMARY KEY, z TEXT);\n-- isn't\n",
            ["-- don't\nCREATE TABLE t (id BIGINT , z STRING)"],
            ["id", "z"],
            id="apostrophes-in-comments",
        ),
        pytest.param(
            'CREATE TABLE t ("a""b" TEXT)',
            ['CREATE TABLE t (`a"b` STRING)'],
            ['a"b'],
            id="doubled-quote-in-identifier",
        ),
        pytest.param(
            "/* a; b */ CREATE TABLE t (a INT)",
            ["/* a; b */ CREATE TABLE t (a INT)"],
            ["a"],
            id="semicolon-in-block-comment",
        ),
        pytest.param(
            "-- unique text serial\nCREATE TABLE t (a INT)",
            ["-- unique text serial\nCREATE TABLE t (a INT)"],
            ["a"],
            id="keywords-in-comment",
        ),
        pytest.param(
            "CREATE FUNCTION f() RETURNS int AS $$ BEGIN x := 1; RETURN x; END $$;\nSELECT 1",
            ["CREATE FUNCTION f() RETURNS int AS $$ BEGIN x := 1; RETURN x; END $$", "SELECT 1"],
            None,  # Postgres DDL: split and translated, not run on Spark
            id="semicolons-in-dollar-body",
        ),
    ],
)
def test_ddl_shim_lexes_comments_literals_and_identifiers(spark, script, executed, columns):
    """Comments, quoted identifiers and dollar bodies are lexed once, the
    same way, for splitting and for the shim."""
    if columns is None:
        assert run_ddl_script(spark, script, dry_run=True) == executed
        return
    db = f"ddltest_{uuid.uuid4().hex[:8]}"
    prev = spark.catalog.currentDatabase()
    spark.sql(f"CREATE DATABASE {db}")
    spark.catalog.setCurrentDatabase(db)
    try:
        assert run_ddl_script(spark, script) == executed
        assert spark.table("t").columns == columns
    finally:
        spark.catalog.setCurrentDatabase(prev)
        spark.sql(f"DROP DATABASE {db} CASCADE")


def test_dry_run_skips_module_level_side_effects(spark, tmp_path, tree):
    import uuid as _uuid

    marker = tmp_path / "side_effect.txt"
    third = tree / "migrations" / "03-code"
    third.mkdir()
    (third / "migrate.py").write_text(
        f"open({str(marker)!r}, 'w').write('ran')\n"
        "def migrate(migrator):\n    pass\n"
    )
    db = f"migtest_{_uuid.uuid4().hex[:8]}"
    m = _migrator(spark, tree, database=db, dry_run=True)
    m.create_or_update_database()
    assert not marker.exists(), "dry_run executed module-level code"


def test_jdbc_ledger_raises_on_connection_failure(spark):
    from database_migrator_spark.migrator.ledger import JdbcLedger

    bad = JdbcLedger(spark, "jdbc:derby:/nonexistent_dir_perm/xx", "applied_migration")
    with pytest.raises(Exception):
        bad.exists()  # connectivity failure must propagate, not read as ∅


def test_file_ledger_atomic_commit_protocol(spark, tmp_path, monkeypatch):
    """SURVEY.md §2A row 16 atomic upgrade: a record() that crashes at ANY
    point before the rename commit leaves NO observable ledger row — only
    a dot-invisible staging file — and a retry then commits exactly one
    entry."""
    import os as _os

    from database_migrator_spark.migrator.ledger import FileLedger

    led = FileLedger(spark, str(tmp_path / "ledger"))
    assert not led.exists()  # missing dir = bootstrap ∅
    led.record("01-first")
    assert led.exists()
    assert [r["migration"] for r in led.applied_df().collect()] == ["01-first"]

    # crash exactly AT the commit point: write-ahead succeeds, rename dies
    real_rename = _os.rename

    def crashing_rename(src, dst):
        raise OSError("simulated crash at commit point")

    monkeypatch.setattr(_os, "rename", crashing_rename)
    with pytest.raises(OSError, match="simulated crash"):
        led.record("02-second")
    monkeypatch.setattr(_os, "rename", real_rename)
    # the crashed record is NOT visible; the write-ahead leftover is a
    # dot-file readers ignore
    assert [r["migration"] for r in led.applied_df().collect()] == ["01-first"]
    leftovers = [f for f in _os.listdir(led.path) if f.startswith(".tmp-")]
    assert leftovers, "write-ahead file should survive the simulated crash"

    # crash DURING the write-ahead itself: fsync dies, staging is cleaned
    def crashing_fsync(fd):
        raise OSError("simulated crash mid write-ahead")

    monkeypatch.setattr(_os, "fsync", crashing_fsync)
    with pytest.raises(OSError, match="mid write-ahead"):
        led.record("03-third")
    monkeypatch.undo()
    assert [r["migration"] for r in led.applied_df().collect()] == ["01-first"]

    # retry after crash commits exactly once; re-record is idempotent
    led.record("02-second")
    led.record("02-second")
    assert [r["migration"] for r in sorted(led.applied_df().collect())] == [
        "01-first",
        "02-second",
    ]


def test_migrator_with_file_ledger_failure_not_recorded(spark, tree, tmp_path):
    """Full migrator run on the atomic FileLedger backend: applies both
    migrations, is idempotent on re-run, and a failing migration leaves
    the ledger untouched."""
    import stat as _stat

    from database_migrator_spark.migrator.ledger import FileLedger

    db = f"migtest_{uuid.uuid4().hex[:8]}"
    led = FileLedger(spark, str(tmp_path / "ledger"))
    m = Migrator(
        spark,
        database=db,
        migrations_dir=str(tree / "migrations"),
        schema_file=str(tree / "schema.sql"),
        quiet=True,
        ledger=led,
    )
    try:
        m.create_or_update_database()
        applied = sorted(r["migration"] for r in led.applied_df().collect())
        assert applied == ["01-first", "02-second"]

        # idempotent re-run through a fresh Migrator sharing the ledger
        m2 = Migrator(
            spark,
            database=db,
            migrations_dir=str(tree / "migrations"),
            schema_file=str(tree / "schema.sql"),
            quiet=True,
            ledger=FileLedger(spark, str(tmp_path / "ledger")),
        )
        assert m2.pending_migrations() == []

        # failing executable must not reach the ledger
        bad = tree / "migrations" / "03-bad"
        bad.mkdir()
        prog = bad / "migrate.sh"
        prog.write_text(FAILING_PROGRAM)
        prog.chmod(prog.stat().st_mode | _stat.S_IXUSR)
        m3 = Migrator(
            spark,
            database=db,
            migrations_dir=str(tree / "migrations"),
            schema_file=str(tree / "schema.sql"),
            quiet=True,
            ledger=FileLedger(spark, str(tmp_path / "ledger")),
        )
        with pytest.raises(MigrationError, match="Use of uninitialized"):
            m3.create_or_update_database()
        applied = sorted(r["migration"] for r in led.applied_df().collect())
        assert applied == ["01-first", "02-second"]
    finally:
        m.drop_database()


def test_missing_ledger_table_gives_contract_error(spark, tmp_path):
    """If the user's schema DDL omits the ledger table (the reference
    contract: Migrator.pm:140-153 — the schema must create it), the
    migration still applies (at-least-once) but record() must surface the
    CONTRACT, not a raw missing-table error."""
    (tmp_path / "schema.sql").write_text("CREATE TABLE only_t (id INT);\n")
    mig = tmp_path / "migrations" / "01-first"
    mig.mkdir(parents=True)
    (mig / "01-add.sql").write_text("CREATE TABLE added_t (id INT);\n")
    m = _migrator(spark, tmp_path, database="no_ledger_db")
    try:
        with pytest.raises(MigrationError, match="schema DDL must create"):
            m.create_or_update_database()
        # at-least-once: the migration itself WAS applied before the error
        assert spark.catalog.tableExists("no_ledger_db.added_t")
    finally:
        m.drop_database()
