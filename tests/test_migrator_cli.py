"""CLI-surface tests: the parser declares exactly the flags ``main``
reads, with the reference's dashed spelling (MooseX::Getopt::Dashes), the
``--user`` alias and the argument-validation exits, which run without a
Spark session; and that ``main`` leaves a caller's session as it is."""

from __future__ import annotations

import uuid

import pytest

from database_migrator_spark.migrator import cli
from database_migrator_spark.migrator.cli import build_parser, main

FLAGS = {
    "--database",
    "--migrations-dir",
    "--schema-file",
    "--migration-table",
    "--username",
    "--user",
    "--password",
    "--dry-run",
    "--quiet",
    "--verbose",
    "--jdbc-url",
    "--ledger-dir",
    "--legacy-sql-match",
}


def test_parser_declares_exactly_the_flags_main_reads():
    opts = {s for a in build_parser()._actions for s in a.option_strings}
    # no --host / --port: a JDBC URL carries both
    assert opts - {"-h", "--help"} == FLAGS


def test_parse_round_trips_attribute_values():
    args = build_parser().parse_args(
        [
            "plan",
            "--database", "d1",
            "--migrations-dir", "/tmp/m",
            "--schema-file", "/tmp/s.sql",
            "--migration-table", "ledger",
            "--username", "u",
            "--password", "pw",
            "--jdbc-url", "jdbc:derby:x",
            "--ledger-dir", "/tmp/l",
            "--dry-run",
            "--verbose",
            "--legacy-sql-match",
        ]
    )
    assert vars(args) == {
        "verb": "plan",
        "database": "d1",
        "migrations_dir": "/tmp/m",
        "schema_file": "/tmp/s.sql",
        "migration_table": "ledger",
        "username": "u",
        "password": "pw",
        "jdbc_url": "jdbc:derby:x",
        "ledger_dir": "/tmp/l",
        "dry_run": True,
        "quiet": False,
        "verbose": True,
        "legacy_sql_match": True,
    }


def test_user_is_an_alias_for_username():
    args = build_parser().parse_args(
        ["plan", "--database", "d", "--migrations-dir", "/m", "--user", "alice"]
    )
    assert args.username == "alice"


def test_required_attrs_enforced_and_defaults_applied():
    with pytest.raises(SystemExit):
        build_parser().parse_args(["plan", "--database", "d"])  # no --migrations-dir
    args = build_parser().parse_args(["plan", "--migrations-dir", "/m"])
    assert vars(args) == {
        "verb": "plan",
        "database": None,
        "migrations_dir": "/m",
        "schema_file": None,
        "migration_table": "applied_migration",
        "username": None,
        "password": None,
        "jdbc_url": None,
        "ledger_dir": None,
        "dry_run": False,
        "quiet": False,
        "verbose": False,
        "legacy_sql_match": False,
    }


def test_quiet_verbose_mutually_exclusive_exit_2(capsys):
    rc = main(["plan", "--database", "d", "--migrations-dir", "/m", "--quiet", "--verbose"])
    assert rc == 2
    assert "mutually exclusive" in capsys.readouterr().err


def test_exactly_one_target_required_exit_2(capsys):
    rc = main(["plan", "--migrations-dir", "/m"])
    assert rc == 2
    assert "exactly one" in capsys.readouterr().err
    rc = main(
        ["plan", "--migrations-dir", "/m", "--database", "d", "--jdbc-url", "jdbc:derby:x"]
    )
    assert rc == 2


def test_missing_paths_exit_1_before_the_session(tmp_path, monkeypatch, capsys):
    """A mistyped path fails before a Spark session is asked for."""

    def no_session(*args, **kwargs):
        raise AssertionError("the session was started before the paths were checked")

    monkeypatch.setattr(cli, "get_session", no_session)
    missing = str(tmp_path / "no-such-dir")
    rc = main(["migrate", "--database", "d", "--migrations-dir", missing])
    assert rc == 1
    assert f"migrations dir not found: {missing}" in capsys.readouterr().err

    missing = str(tmp_path / "no-such.sql")
    rc = main(
        ["migrate", "--jdbc-url", "jdbc:derby:x", "--migrations-dir", str(tmp_path),
         "--schema-file", missing]
    )
    assert rc == 1
    assert f"schema file not found: {missing}" in capsys.readouterr().err


def test_main_leaves_the_callers_session_as_it_is(spark, tmp_path):
    """``main`` deploys on the caller's active session without building it
    again, which would re-apply the builder's options to it: a time zone
    and a shuffle partition count the caller set survive the deploy."""
    (tmp_path / "schema.sql").write_text("CREATE TABLE applied_migration (migration STRING);\n")
    mig = tmp_path / "migrations" / "01-first"
    mig.mkdir(parents=True)
    (mig / "01-t.sql").write_text("CREATE TABLE t (x INT);\n")
    caller = {"spark.sql.session.timeZone": "America/Los_Angeles", "spark.sql.shuffle.partitions": "3"}
    saved = {k: spark.conf.get(k) for k in caller}
    db = f"clitest_{uuid.uuid4().hex[:8]}"
    try:
        for k, v in caller.items():
            spark.conf.set(k, v)
        rc = main(
            ["migrate", "--database", db, "--migrations-dir", str(tmp_path / "migrations"),
             "--schema-file", str(tmp_path / "schema.sql"), "--quiet"]
        )
        assert rc == 0
        assert spark.catalog.tableExists(f"{db}.t")
        assert {k: spark.conf.get(k) for k in caller} == caller
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
