"""CLI surface after the reference's MooseX::Getopt::Dashes options
(Core.pm:20-24, 121-139; README.md:115-125): one dashed long flag per
option ``main`` reads, with ``--user`` aliased to ``--username``
(BUILDARGS, Changes:30-32) and quiet ⊕ verbose (BUILD). Verbs: ``migrate``
(create-or-update), ``plan``/``status`` (print the pending set — the
engine's one real query). The reference's ``--host`` and ``--port`` are
not declared: a JDBC URL carries both. --jdbc-url, --ledger-dir and
--legacy-sql-match are engine extensions.
"""

from __future__ import annotations

import argparse
import os
import sys

from pyspark.sql import SparkSession

from database_migrator_spark.session import get_session

from .core import Migrator
from .jdbc import JdbcMigrator
from .ledger import FileLedger


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="spark-migrate",
        description="Create or update a Spark database from a migration tree.",
    )
    p.add_argument("verb", choices=["migrate", "plan", "status"], help="action to run")
    p.add_argument("--database", help="Spark catalog database target")
    p.add_argument("--migrations-dir", required=True, help="root of the migration tree")
    p.add_argument("--schema-file", help="schema DDL applied when creating a fresh database")
    p.add_argument("--migration-table", default="applied_migration", help="ledger table name")
    p.add_argument("--username", "--user", help="connection user (JDBC targets)")
    p.add_argument("--password", help="connection password (JDBC targets)")
    p.add_argument("--dry-run", action="store_true", help="log every step without executing")
    p.add_argument("--quiet", action="store_true", help="log errors only")
    p.add_argument("--verbose", action="store_true", help="debug logging")
    p.add_argument(
        "--jdbc-url",
        help="JDBC target (e.g. jdbc:derby:/path;create=true) — DDL passes "
        "through verbatim, ledger lives in the target database",
    )
    p.add_argument(
        "--ledger-dir",
        help="directory for the atomic FileLedger backend (write-ahead + "
        "rename-commit) instead of the catalog/JDBC ledger table",
    )
    p.add_argument("--legacy-sql-match", action="store_true",
                   help="match .sql anywhere in the filename (reference quirk)")
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    if args.quiet and args.verbose:
        print("error: --quiet and --verbose are mutually exclusive", file=sys.stderr)
        return 2
    if bool(args.database) == bool(args.jdbc_url):
        print("error: exactly one of --database / --jdbc-url is required", file=sys.stderr)
        return 2
    # before the session: a mistyped path must not cost a JVM start
    if not os.path.isdir(args.migrations_dir):
        print(f"error: migrations dir not found: {args.migrations_dir}", file=sys.stderr)
        return 1
    if args.schema_file and not os.path.isfile(args.schema_file):
        print(f"error: schema file not found: {args.schema_file}", file=sys.stderr)
        return 1
    # a caller's session is used as it is: building through get_session
    # would re-apply its builder options (time zone, shuffle partitions,
    # AQE, Arrow) to it. Without one, a Spark database outlives this
    # process in the persistent catalog; a JDBC target keeps its tables in
    # the target
    spark = SparkSession.getActiveSession() or get_session(
        "spark-migrate", persistent_catalog=not args.jdbc_url
    )
    common = dict(
        migrations_dir=args.migrations_dir,
        schema_file=args.schema_file,
        migration_table=args.migration_table,
        dry_run=args.dry_run,
        quiet=args.quiet,
        verbose=args.verbose,
        legacy_sql_match=args.legacy_sql_match,
    )
    if args.ledger_dir:
        common["ledger"] = FileLedger(spark, args.ledger_dir)
    if args.jdbc_url:
        props = {}
        if args.username:
            props["user"] = args.username
        if args.password:
            props["password"] = args.password
        m = JdbcMigrator(spark, jdbc_url=args.jdbc_url, jdbc_properties=props, **common)
    else:
        m = Migrator(spark, database=args.database, **common)
    try:
        if args.verb in ("plan", "status"):
            pending = m.pending_migrations()
            for mig in pending:
                print(mig.name)
            print(f"{len(pending)} pending migration(s)", file=sys.stderr)
            return 0
        m.create_or_update_database()
        return 0
    except Exception as e:  # surface a one-line error, not a JVM traceback
        print(f"error: {e}", file=sys.stderr)
        return 1


if __name__ == "__main__":
    raise SystemExit(main())
