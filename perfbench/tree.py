"""Seeded migration-tree generator for the ``migrate`` workload.

A tree is ``schema.sql`` plus ``migrations/NNNN-<word>/`` directories in
the layout the migrator scans. Migrations come in five kinds, dealt from
a fixed deck so every block of six has the same mix whatever the seed
(the seed picks names, values and the order inside each block):

- ``create``  multi-statement SQL in a Postgres-flavoured dialect the
  shim must translate: ``SERIAL`` and ``PRIMARY KEY``, ``TEXT``, ANSI
  ``"quoted"`` identifiers, a ``CREATE INDEX`` no-op, and an INSERT batch;
- ``insert``  an INSERT batch into an earlier table;
- ``alter``   ``ALTER TABLE ... ADD COLUMNS`` on an earlier table;
- ``code``    a non-executable Python file whose ``migrate(migrator)``
  inserts rows through ``migrator.run_sql``;
- ``program`` an executable that exits 0 and writes nothing to stderr.

``add_history`` appends directories that stand for migrations an earlier
deploy already applied: the workload writes their ledger rows itself, so
they are never executed, only listed and matched against the ledger.

``Tree`` remembers every table's expected row count, so the workload can
check the database against it after each deploy.
"""

from __future__ import annotations

import os
import random
import stat

LEDGER = "applied_migration"
SCHEMA_SQL = f"""-- the migrator's ledger; its DDL belongs to the user schema
CREATE TABLE {LEDGER} (
    migration TEXT PRIMARY KEY
);
"""
DECK = ["create", "create", "insert", "alter", "code", "program"]
WORDS = "amber basil cedar delta ember fjord grove heron iris juniper kelp lotus".split()
ROWS_PER_BATCH = 4


class Tree:
    def __init__(self, root: str, seed: int):
        self.root = root
        self.migrations_dir = os.path.join(root, "migrations")
        self.schema_file = os.path.join(root, "schema.sql")
        self.rng = random.Random(seed)
        self.names: list[str] = []
        self.rows: dict[str, int] = {}  # table -> expected row count
        self.extra_cols: dict[str, list[str]] = {}
        self._deck: list[str] = []
        os.makedirs(self.migrations_dir)
        with open(self.schema_file, "w", encoding="utf-8") as f:
            f.write(SCHEMA_SQL)

    def _next_kind(self) -> str:
        if not self._deck:
            self._deck = DECK[:]
            self.rng.shuffle(self._deck)
            if not self.rows:  # the first migration must create a table
                self._deck.remove("create")
                self._deck.append("create")
        return self._deck.pop()

    def _values(self, table: str) -> tuple[str, str]:
        """Column list and VALUES rows for one insert batch."""
        cols = ["name", "qty", *self.extra_cols[table]]
        rows = []
        for _ in range(ROWS_PER_BATCH):
            vals = [f"'{self.rng.choice(WORDS)}-{self.rng.randrange(10**6)}'", str(self.rng.randrange(1000))]
            vals += [f"'{self.rng.choice(WORDS)}'" for _ in self.extra_cols[table]]
            rows.append("(" + ", ".join(vals) + ")")
        self.rows[table] += ROWS_PER_BATCH
        return ", ".join(cols), ",\n    ".join(rows)

    def add(self, n: int) -> list[str]:
        """Append ``n`` migrations; return their names."""
        return [self._add_one() for _ in range(n)]

    def add_history(self, n: int) -> list[str]:
        """Append ``n`` already-applied migrations; return their names."""
        names = []
        for _ in range(n):
            name = f"{len(self.names) + 1:04d}-history-{self.rng.choice(WORDS)}"
            d = os.path.join(self.migrations_dir, name)
            os.makedirs(d)
            _write(d, "01-noop.sql", "-- applied by an earlier deploy\n")
            self.names.append(name)
            names.append(name)
        return names

    def _add_one(self) -> str:
        kind = self._next_kind()
        name = f"{len(self.names) + 1:04d}-{kind}-{self.rng.choice(WORDS)}"
        d = os.path.join(self.migrations_dir, name)
        os.makedirs(d)
        if kind == "create":
            table = f"t{len(self.rows):03d}"
            self.rows[table] = 0
            self.extra_cols[table] = []
            cols, rows = self._values(table)
            _write(
                d,
                "01-create.sql",
                f'CREATE TABLE {table} (\n    "id" SERIAL PRIMARY KEY,\n'
                f'    "name" TEXT,\n    qty INTEGER\n);\n'
                f"CREATE INDEX {table}_name ON {table} (name);\n"
                f"INSERT INTO {table} ({cols}) VALUES\n    {rows};\n",
            )
        elif kind == "insert":
            table = self.rng.choice(sorted(self.rows))
            cols, rows = self._values(table)
            _write(d, "01-insert.sql", f"INSERT INTO {table} ({cols}) VALUES\n    {rows};\n")
        elif kind == "alter":
            table = self.rng.choice(sorted(self.rows))
            col = f"c{len(self.extra_cols[table])}"
            self.extra_cols[table].append(col)
            _write(d, "01-alter.sql", f'ALTER TABLE {table} ADD COLUMNS ("{col}" TEXT);\n')
        elif kind == "code":
            table = self.rng.choice(sorted(self.rows))
            cols, rows = self._values(table)
            stmt = f"INSERT INTO {table} ({cols}) VALUES {rows.replace(chr(10), ' ')}"
            _write(d, "01-load.py", f"def migrate(migrator):\n    migrator.run_sql({stmt!r})\n")
        else:
            path = _write(d, "01-check.sh", "#!/bin/sh\nexit 0\n")
            os.chmod(path, os.stat(path).st_mode | stat.S_IXUSR)
        self.names.append(name)
        return name


def _write(d: str, fname: str, text: str) -> str:
    path = os.path.join(d, fname)
    with open(path, "w", encoding="utf-8") as f:
        f.write(text)
    return path
