"""DDL execution: one SQL lexer, statement splitting and a loud dialect shim.

The reference hands `.sql` files opaquely to the DBMS CLI (README.md:38-39,
Core.pm:176-179); Spark SQL is our DBMS, so this module does that job.
``lex`` cuts a script losslessly into ``(kind, text)`` segments: ``code``;
``comment`` (``--`` to end of line with its newline, or ``/* … */``);
``string`` (``'…'`` with ``''`` and backslash escapes); ``ident`` (an ANSI
``"…"`` identifier with ``""`` escapes); ``dollar`` (a Postgres
``$tag$ … $tag$`` body, the tag possibly empty). An unterminated segment
runs to the end. Statements end at the semicolons in code; a statement of
only comments and whitespace is dropped (Spark rejects it).

The shim translates the common RDBMS-isms Spark lacks. It rewrites code
only — comments, literals and dollar bodies pass through verbatim — and
degrades LOUDLY (warnings, never silent drops):

- PRIMARY KEY / UNIQUE column and table constraints → stripped (informational)
- AUTO_INCREMENT → stripped (use identity columns or
  monotonically_increasing_id in pipelines); the SERIAL type → BIGINT
- CREATE INDEX → no-op (Spark has no secondary indexes; data skipping
  comes from parquet/Z-ordering)
- TEXT type → STRING; ANSI "quoted" identifiers → Spark backticks

JDBC targets bypass the shim (pass-through, mirroring the reference's
delegation); ``jdbc_connection`` is the package's one JDBC connection.
"""

from __future__ import annotations

import logging
import re
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession

logger = logging.getLogger("database_migrator_spark.ddl")

_SEGMENT = re.compile(
    r"""
      (?P<comment> --[^\n]*\n? | /\*.*?(?:\*/|\Z) )
    | (?P<string>  '(?:''|\\.?|[^'\\])*(?:'|\Z) )
    | (?P<ident>   "(?:""|[^"])*(?:"|\Z) )
    | (?P<dollar>  \$(?P<tag>(?:[A-Za-z_]\w*)?)\$ .*? (?:\$(?P=tag)\$|\Z) )
    | (?P<code>    (?:[^-/'"$\w]|\w[\w$]*)+ | . )
    """,
    re.DOTALL | re.VERBOSE,
)


def lex(sql: str) -> Iterator[tuple[str, str]]:
    """The ``(kind, text)`` segments of ``sql``; the texts join back to it."""
    for m in _SEGMENT.finditer(sql):
        yield m.lastgroup, m.group()


def split_statements(script: str) -> list[str]:
    """Split a DDL script at the semicolons in its code, dropping the
    statements that hold only comments and whitespace."""
    statements: list[list[tuple[str, str]]] = [[]]
    for kind, text in lex(script):
        first, *rest = text.split(";") if kind == "code" else [text]
        statements[-1].append((kind, first))
        statements.extend([(kind, piece)] for piece in rest)
    return [
        "".join(text for _, text in stmt).strip()
        for stmt in statements
        if any(kind != "comment" and text.strip() for kind, text in stmt)
    ]


# The shim's rules see a statement whose non-code segments are slots:
# '"' + the kind's first letter + the segment's index + '"'. Code never
# holds a double quote, so no rule can read or rewrite what a slot hides.
_SLOT = re.compile(r'"[a-z](\d+)"')
_KEPT_SLOTS = re.compile(r'"[csd]\d+"')  # comment, string and dollar slots
_IDENT_SLOT = r'"i\d+"'
_BLANK = r'(?:\s|"c\d+")'  # whitespace, a comment counting as such
_NAME = rf"(?:\b[A-Za-z_][\w$]*|{_IDENT_SLOT})"
_QUOTED_IDENT = re.compile(r'"((?:""|[^"])*)"')

_CREATE_INDEX = re.compile(rf"{_BLANK}*CREATE{_BLANK}+(?:UNIQUE{_BLANK}+)?INDEX\b", re.I)
_AUTOINC = re.compile(r"\bAUTO_INCREMENT\b", re.I)
_SERIAL = re.compile(r"\bSERIAL\b", re.I)  # a TYPE — map, don't strip
# TEXT only in TYPE position — after a name (a column, or AS in a cast) —
# so a column literally named `text` survives:
# 'CREATE TABLE d (text TEXT)' → '(text STRING)', not '(STRING STRING)'.
_TEXT_TYPE = re.compile(rf"(?P<pre>{_NAME}\s+)TEXT\b", re.I)


def _constraint(keyword: str) -> re.Pattern:
    """A table constraint with its leading comma — ``, [CONSTRAINT name]
    KEYWORD (columns)`` — or else the column-level keyword alone."""
    table = rf",{_BLANK}*(?:CONSTRAINT{_BLANK}+{_NAME}{_BLANK}+)?{keyword}{_BLANK}*\([^)]*\)"
    return re.compile(rf"{table}|\b{keyword}\b", re.I)


def _kept_slots(m: re.Match) -> str:
    """Drop a match's code and identifiers, keep its other segments."""
    return "".join(_KEPT_SLOTS.findall(m.group()))


_RULES = (  # (pattern, replacement, warning), each run once in this order
    (_AUTOINC, "", "stripping AUTO_INCREMENT (no Spark equivalent)"),
    (_SERIAL, "BIGINT", "mapping SERIAL type to BIGINT"),
    (_constraint(r"PRIMARY\s+KEY"), _kept_slots,
     "stripping PRIMARY KEY constraint (informational on Spark)"),
    (_constraint("UNIQUE"), _kept_slots, "stripping UNIQUE constraint (informational on Spark)"),
    (_TEXT_TYPE, r"\g<pre>STRING", "mapping TEXT type to STRING"),
)


def _restore(text: str) -> str:
    """A segment back in the translated statement: a (terminated) quoted
    identifier as Spark backticks (``""`` → ``"``, backticks doubled),
    anything else verbatim."""
    m = _QUOTED_IDENT.fullmatch(text)
    return text if m is None else "`" + m[1].replace('""', '"').replace("`", "``") + "`"


def translate_statement(stmt: str) -> str | None:
    """Translate one statement to Spark SQL; return None for loud no-ops."""
    segments = list(lex(stmt))
    out = "".join(
        text if kind == "code" else f'"{kind[0]}{i}"' for i, (kind, text) in enumerate(segments)
    )
    if _CREATE_INDEX.match(out):
        logger.warning("CREATE INDEX is a no-op on Spark catalog targets: %.80s", stmt)
        return None
    for pattern, repl, warning in _RULES:
        out, n = pattern.subn(repl, out)
        if n:
            logger.warning("%s: %.80s", warning, stmt)
    if re.search(_IDENT_SLOT, out):
        logger.warning("converting ANSI double-quoted identifiers to backticks: %.80s", stmt)
    return _SLOT.sub(lambda m: _restore(segments[int(m[1])][1]), out)


@contextmanager
def jdbc_connection(spark: SparkSession, url: str, properties: dict[str, str] | None = None):
    """A ``java.sql.Connection`` to ``url`` from the session JVM's
    ``DriverManager``, closed on exit."""
    jvm = spark._jvm  # noqa: SLF001
    props = jvm.java.util.Properties()
    for k, v in (properties or {}).items():
        props.setProperty(k, v)
    conn = jvm.java.sql.DriverManager.getConnection(url, props)
    try:
        yield conn
    finally:
        conn.close()


def run_ddl_script_jdbc(
    spark: SparkSession,
    script: str,
    url: str,
    dry_run: bool = False,
    properties: dict[str, str] | None = None,
) -> list[str]:
    """JDBC pass-through DDL: statements go to the target DBMS verbatim —
    no dialect shim — mirroring the reference's delegation of `.sql` files
    to the database's own utility (README.md:38-39, Core.pm:176-179).
    Spark's DataFrame JDBC API cannot execute arbitrary DDL, hence a
    plain connection."""
    stmts = split_statements(script)
    if dry_run:
        return stmts
    with jdbc_connection(spark, url, properties) as conn:
        st = conn.createStatement()
        for stmt in stmts:
            logger.debug("JDBC DDL: %s", stmt)
            st.execute(stmt)
    return stmts


def run_ddl_script(spark: SparkSession, script: str, dry_run: bool = False) -> list[str]:
    """Split → translate → execute each statement via spark.sql. Returns
    the executed (translated) statements. Unlike the reference — which
    delegates dry-run handling of SQL to the DBMS subclass (Core.pm:176-179
    wart) — dry_run gates SQL here too."""
    executed: list[str] = []
    for stmt in split_statements(script):
        translated = translate_statement(stmt)
        if translated is None:
            continue
        logger.debug("DDL: %s", translated)
        if not dry_run:
            spark.sql(translated)
        executed.append(translated)
    return executed
