"""One benchmark workload, run in the isolated process ``run.py`` starts.

Usage (normally through ``run.py``, which prepares the working directory
and environment)::

    python3 workloads.py --workload migrate --seed 1 --seconds 10 \
        --trace 0 --result result.json --spans spans.jsonl

Prints one human-readable line per metric, each with its unit, and
writes the machine-readable result to ``--result``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import sys
import time
from collections import defaultdict

import datagen
from instrument import (
    JobCounter,
    ProgramCpu,
    Tracer,
    jvm_live_heap_mb,
    jvm_peak_rss_mb,
    median,
    sentinel_s,
    tail,
)
from tree import LEDGER, Tree

DATABASE = "bench"
BOOTSTRAP_MIGRATIONS = 6
# Warm bootstraps of identical trees, each into its own empty database,
# after a first one that pays the JVM's warm-up for this code path.
BOOTSTRAPS = 3
# The deploy database's ledger is seeded with this many already-applied
# migrations before the deploy loop: the ledger size at which the
# pending-set read was measured (README.md, "Measured traffic").
HISTORY_ROWS = 300
# Every third deploy first appends one or two migrations (the seed picks
# which, from this deck per pair); the others find nothing pending. More
# than half of any prefix of the loop is then a no-op deploy, the common
# case the p50 reports, whatever the seed and however long the loop runs.
APPLY_EVERY = 3
APPLY_DECK = [1, 2]
SETUP_REPEATS = 3
# every query runs at least this often in the timed loop, so its best
# execution is never the first, coldest one alone
MIN_EXECUTIONS = 2
SF = 0.01

# A frozen stratified sample of the declared-query catalog (qid <= q310),
# one query per module; see README.md for how it was drawn and why these
# ten modules.
QUERIES = (
    "q06_semi_join_customers_with_orders",  # relational
    "q82_map_functions",  # relational_ext
    "q89_pii_redaction",  # etl
    "q74_funnel_stages",  # temporal
    "q83_csv_roundtrip",  # sources.formats
    "q260_index_delete_refresh",  # textops
    "q97_incremental_ingest_dedup",  # dedup
    "q92_embedding_centroids",  # similarity
    "q186_weighted_sample",  # curation
    "q36_binary_columns",  # multimodal
)

MIGRATE_LAYERS = (
    "migrator.ddl.run",
    "migrator.ledger.record",
    "migrator.ledger.exists",
    "migrator.ledger.applied_df",
    "migrator.core.pending",
    "migrator.model.scan",
    "migrator.core.sql",
    "migrator.core.code",
    "migrator.core.program",
)
QUERY_MODULES = (
    "relational",
    "relational_ext",
    "etl",
    "temporal",
    "sources.formats",
    "textops",
    "dedup",
    "similarity",
    "curation",
    "multimodal",
)
# The seven ingest substrates the catalog bench fits before its queries
# (bench.py). The first three are cheap and part of every run's set-up;
# the four iteration-bound ones are fitted in traced runs only.
INGEST_FITS = ("tf", "gram", "daywords", "ivf", "bpe", "pq", "cc")
SETUP_FITS = INGEST_FITS[:3]
PER_LAYER = (
    *(f"{name}_s" for name in MIGRATE_LAYERS),
    "migrator.ddl.statements",
    "migrator.ddl.skipped",
    "migrator.ledger.record_n",
    "migrator.core.pending_calls",
    "migrator.ledger.files",
    "migrator.ledger.bytes_per_row",
    "spark.jobs_per_deploy",
    "plans.registry.build_s",
    "plans.registry.exec_s",
    *(f"op.{m}_s" for m in QUERY_MODULES),
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    *(f"ingest.{name}_fit_s" for name in INGEST_FITS),
    "spark.session_start_s",
    "wall.setup_s",
    "wall.batch_s",
    "wall.op_p50_s",
    "jvm.live_heap_mb",
    "jvm.peak_rss_mb",
    "env.sentinel_s",
    "trace.overhead_pct",
)


class Run:
    """What one workload run measured, checked and printed."""

    def __init__(self, args):
        self.trace = bool(args.trace)
        self.spans_path = args.spans
        self.tracer = Tracer()
        self.tracer.enabled = False  # switched on around each traced operation
        self.cpu = ProgramCpu()
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.end_to_end: dict[str, float] = {}
        self.per_layer: dict[str, float] = {}
        self.phases: dict[str, float] = {}
        self._mark = time.perf_counter()

    def phase(self, name: str) -> None:
        """Charge the wall time since the previous mark to phase ``name``."""
        now = time.perf_counter()
        self.phases[name] = self.phases.get(name, 0.0) + now - self._mark
        self._mark = now

    def say(self, name: str, value: float | str, unit: str, note: str = "") -> None:
        v = f"{value:.4f}" if isinstance(value, float) else str(value)
        print(f"{name} {v} {unit}" + (f" ({note})" if note else ""), flush=True)

    def count(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)

    def add_layers(self, names) -> None:
        times = self.tracer.layer_times()
        for name in names:
            if name in times:
                self.per_layer[f"{name}_s"] = times[name][0]

    def finish(self, spark, session_s: float, sentinel_before: float) -> dict:
        sentinel_after = sentinel_s(spark)
        if self.trace:  # a per-layer metric; its full collections take a while
            self.per_layer["jvm.live_heap_mb"] = jvm_live_heap_mb(spark)
            self.say("live_heap_mb", self.per_layer["jvm.live_heap_mb"], "MB",
                     "driver JVM heap after a full GC")
        self.per_layer["jvm.peak_rss_mb"] = jvm_peak_rss_mb(spark)
        self.per_layer["spark.session_start_s"] = session_s
        self.per_layer["env.sentinel_s"] = (sentinel_before + sentinel_after) / 2
        self.say("peak_rss_mb", self.per_layer["jvm.peak_rss_mb"], "MB", "driver JVM VmHWM")
        self.say("env.sentinel_s", sentinel_before, "s", f"before; {sentinel_after:.4f} s after")
        rate = self.failed / self.attempted if self.attempted else 1.0
        self.say("error_rate", rate, "ratio", f"{self.failed} failed of {self.attempted} attempted")
        self.phase("finish")
        print("phases_s " + " ".join(f"{k}={v:.1f}" for k, v in self.phases.items()), flush=True)
        for p in self.problems:
            print(f"check failed: {p}", flush=True)
        if self.trace:
            self.tracer.dump(self.spans_path)
        return {
            "correct": not self.problems,
            "attempted": self.attempted,
            "failed": self.failed,
            "end_to_end": self.end_to_end,
            "per_layer": self.per_layer,
            "known_per_layer": list(PER_LAYER),
        }


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def _measured(cpu: ProgramCpu, fn):
    """``fn()``'s result, wall seconds and program CPU seconds."""
    c0 = cpu.read()
    out, dt = _timed(fn)
    return out, dt, cpu.read() - c0


# -- migrate -----------------------------------------------------------------


def _trace_migrator(tracer: Tracer, counts: dict) -> None:
    from database_migrator_spark.migrator import cli, core, ddl, ledger

    def ddl_counts(args, kwargs, executed):
        counts["statements"] += len(executed)
        counts["skipped"] += len(ddl.split_statements(args[1])) - len(executed)

    tracer.wrap(cli, "main", "migrator.cli.main")
    tracer.wrap(core.Migrator, "pending_migrations", "migrator.core.pending")
    for method in ("record", "applied_df", "exists"):
        tracer.wrap(ledger.CatalogLedger, method, f"migrator.ledger.{method}")
    # core.py imports these two by name, so its bindings are the ones called
    tracer.wrap(core, "run_ddl_script", "migrator.ddl.run", after=ddl_counts)
    tracer.wrap(core, "scan_migration", "migrator.model.scan")
    # the per-file-kind executors
    tracer.wrap(core.Migrator, "_run_ddl_file", "migrator.core.sql")
    tracer.wrap(core.Migrator, "_run_code", "migrator.core.code")
    tracer.wrap(core.Migrator, "_run_program", "migrator.core.program")


def _check_database(spark, db: str, tree: Tree, when: str, pending: bool = True) -> list[str]:
    """The ledger holds exactly the tree's migrations, every generated
    table has its expected row count and, when asked, the migrator finds
    nothing pending."""
    from database_migrator_spark.migrator import Migrator

    problems = []
    applied = [r[0] for r in spark.table(f"{db}.{LEDGER}").collect()]
    if sorted(applied) != sorted(tree.names):
        problems.append(f"{when}: ledger {sorted(applied)} != tree {sorted(tree.names)}")
    union = " UNION ALL ".join(
        f"SELECT '{t}' AS t, COUNT(*) AS n FROM {db}.{t}" for t in sorted(tree.rows)
    )
    got = {r["t"]: r["n"] for r in spark.sql(union).collect()}
    if got != tree.rows:
        problems.append(f"{when}: row counts {got} != expected {tree.rows}")
    if pending:
        left = Migrator(spark, db, tree.migrations_dir, quiet=True).pending_migrations()
        if left:
            problems.append(f"{when}: still pending {[m.name for m in left]}")
    return problems


def _ledger_path(spark, db: str) -> str:
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED {db}.{LEDGER}").collect()
    location = next(r["data_type"] for r in rows if r["col_name"] == "Location")
    return location.removeprefix("file:")


def _ledger_on_disk(spark, db: str) -> tuple[int, int]:
    files = n_bytes = 0
    for root, _dirs, names in os.walk(_ledger_path(spark, db)):
        for name in names:
            if not name.startswith((".", "_")):
                files += 1
                n_bytes += os.path.getsize(os.path.join(root, name))
    return files, n_bytes


def _seed_history(spark, db: str, tree: Tree, n: int, seed: int) -> None:
    """Give ``db`` the ledger of a long-lived database: append ``n``
    already-applied migrations to its tree and write their ledger rows in
    the shape ``CatalogLedger.record`` leaves, one snappy parquet file per
    row, then refresh the table. Writing the files directly takes well
    under a second; 300 ``record`` calls would take over a minute."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    path = _ledger_path(spark, db)
    for name in tree.add_history(n):
        part = uuid.UUID(int=rng.getrandbits(128))
        pq.write_table(
            pa.table({"migration": pa.array([name], pa.string())}),
            os.path.join(path, f"part-00000-{part}-c000.snappy.parquet"),
            compression="snappy",
        )
    spark.catalog.refreshTable(f"{db}.{LEDGER}")


def _migrate_argv(db: str, tree: Tree) -> list[str]:
    return ["migrate", "--database", db,
            "--migrations-dir", tree.migrations_dir, "--schema-file", tree.schema_file]


def run_migrate(args) -> dict:
    from database_migrator_spark.migrator import cli
    from database_migrator_spark.session import get_session

    run = Run(args)

    def start():
        # the same builder call cli.main makes, so the CLI reuses this
        # session; the first catalog call opens (and creates) the metastore
        spark = get_session("spark-migrate", persistent_catalog=True)
        spark.sql("SHOW DATABASES").collect()
        return spark

    spark, session_s, session_cpu = _measured(run.cpu, start)
    run.end_to_end["setup_s"] = session_cpu
    run.per_layer["wall.setup_s"] = session_s
    run.say("setup_s", session_cpu, "s", "program CPU of the JVM launch, session build and Hive "
            f"metastore creation; {session_s:.4f} s wall")
    run.phase("session")
    jobs = JobCounter(spark.sparkContext)
    ddl_counts = {"statements": 0, "skipped": 0}
    if args.trace:
        _trace_migrator(run.tracer, ddl_counts)

    trees = []
    for i in range(1 + BOOTSTRAPS):
        tree = Tree(os.path.abspath(f"tree{i}"), args.seed)
        tree.add(BOOTSTRAP_MIGRATIONS)
        trees.append(tree)
    run.phase("inputs")

    def bootstrap(i: int, traced: bool) -> tuple[float, float]:
        run.tracer.enabled = traced
        run.tracer.op = f"bootstrap-{i}"
        rc, dt, cpu = _measured(run.cpu, lambda: cli.main(_migrate_argv(f"{DATABASE}{i}", trees[i])))
        run.tracer.enabled = False
        run.count(rc == 0, f"bootstrap {i} exited {rc}")
        return dt, cpu

    # the first bootstrap pays the JVM's warm-up, so it is printed, left
    # untraced and not reported; its database is the one deployed to, with
    # a ledger of the measured size
    first_boot, first_boot_cpu = bootstrap(0, False)
    db, tree = f"{DATABASE}0", trees[0]
    _seed_history(spark, db, tree, HISTORY_ROWS, args.seed)
    run.problems += _check_database(spark, db, tree, "after bootstrap 0")
    argv = _migrate_argv(db, tree)
    sentinel_s(spark)  # the probe's first run in the JVM is a cold one
    sentinel_before = sentinel_s(spark)
    run.phase("warm-up")

    rng = random.Random(args.seed)
    deck: list[int] = []
    lat: list[float] = []
    cpu: list[float] = []
    lat_by_mode: dict[bool, list[float]] = {False: [], True: []}
    noop_jobs: list[int] = []

    def deploy() -> None:
        nonlocal deck
        k = 0
        if len(lat) % APPLY_EVERY == APPLY_EVERY - 1:
            if not deck:
                deck = APPLY_DECK[:]
                rng.shuffle(deck)
            k = deck.pop()
        tree.add(k)
        traced = bool(args.trace) and len(lat) % 2 == 1
        run.tracer.enabled = traced
        run.tracer.op = f"deploy-{len(lat)}"
        with jobs.group("deploy") as counted:
            rc, dt, dc = _measured(run.cpu, lambda: cli.main(argv))
        run.tracer.enabled = False
        run.count(rc == 0, f"deploy {len(lat)} exited {rc}")
        lat.append(dt)
        cpu.append(dc)
        if k == 0:
            noop_jobs.append(counted["jobs"])
            lat_by_mode[traced].append(dt)

    # the warm bootstraps, then the deploy loop: the bootstraps also warm
    # the code the deploys share with them (the pending set, the catalog)
    boots = [bootstrap(i, bool(args.trace)) for i in range(1, 1 + BOOTSTRAPS)]
    while not lat or sum(lat) < args.seconds:
        deploy()
    # the JIT is still compiling the bootstrap path during the three (their
    # CPU falls by about a fifth from the first to the third), so each
    # metric takes the best of them, the one nearest the warmed-up cost
    boot_wall = [b[0] for b in boots]
    boot_cpu = [b[1] for b in boots]
    run.end_to_end["batch_cpu_s"] = min(boot_cpu)
    run.per_layer["wall.batch_s"] = min(boot_wall)
    run.say("bootstrap_cpu_s", min(boot_cpu), "s",
            f"program CPU, best of {BOOTSTRAPS} warm bootstraps of {BOOTSTRAP_MIGRATIONS} "
            "migrations into empty databases: " + ", ".join(f"{b:.4f}" for b in boot_cpu)
            + f" s; the first bootstrap in the JVM used {first_boot_cpu:.4f} s")
    run.say("bootstrap_s", min(boot_wall), "s",
            "wall, best of the same: " + ", ".join(f"{b:.4f}" for b in boot_wall)
            + f" s; the first took {first_boot:.4f} s")
    run.phase("timed")
    run.problems += _check_database(spark, db, tree, "after the last deploy")
    # the other databases were bootstrapped from the same tree and not
    # touched since; the pending set is asked of the deploy database only
    for i in range(1, 1 + BOOTSTRAPS):
        run.problems += _check_database(
            spark, f"{DATABASE}{i}", trees[i], f"after bootstrap {i}", pending=False
        )
    run.phase("check")

    run.end_to_end["op_cpu_p50_s"] = median(cpu)
    run.per_layer["wall.op_p50_s"] = median(lat)
    run.say("deploy_cpu_p50_s", median(cpu), "s",
            f"program CPU, n={len(cpu)}, closed loop, one client, ledger of "
            f"{len(tree.names)} rows at the end: " + ", ".join(f"{c:.3f}" for c in cpu))
    run.say("deploy_p50_s", median(lat), "s", f"wall, n={len(lat)}")
    t = tail(lat)
    if t is None:
        run.say("deploy_tail_s", "n/a", "s", f"n={len(lat)} deploys, fewer than 11")
    else:
        run.say("deploy_tail_s", t[0], "s", f"p{t[1]:.0f}, n={t[2]}")

    files, n_bytes = _ledger_on_disk(spark, db)
    run.per_layer.update({
        "migrator.ledger.files": files,
        "migrator.ledger.bytes_per_row": n_bytes / len(tree.names),
        "spark.jobs_per_deploy": median(noop_jobs) if noop_jobs else 0,
    })
    if args.trace:
        times = run.tracer.layer_times()
        run.add_layers(MIGRATE_LAYERS)
        run.per_layer["migrator.ddl.statements"] = ddl_counts["statements"]
        run.per_layer["migrator.ddl.skipped"] = ddl_counts["skipped"]
        run.per_layer["migrator.ledger.record_n"] = times.get("migrator.ledger.record", (0, 0, 0))[2]
        run.per_layer["migrator.core.pending_calls"] = times.get("migrator.core.pending", (0, 0, 0))[2]
        if lat_by_mode[False] and lat_by_mode[True]:
            run.per_layer["trace.overhead_pct"] = 100.0 * (
                median(lat_by_mode[True]) / median(lat_by_mode[False]) - 1
            )
        run.tracer.restore()
    return run.finish(spark, session_s, sentinel_before)


# -- query workloads -----------------------------------------------------------


def _module_of(dq) -> str:
    return dq.build.__module__.removeprefix("database_migrator_spark.").removeprefix("operators.")


def _ingest_fits() -> dict:
    """The ingest fits by short name, called as ``bench.py`` calls them.
    Each caches its substrate per data directory (and session), so a fit
    on a fresh directory does the whole work."""
    from database_migrator_spark.operators.bitmapops import day_user_words
    from database_migrator_spark.operators.bpe import bpe_train_cached
    from database_migrator_spark.operators.dedup import neardup_components_cached
    from database_migrator_spark.operators.similarity import _ivf_index_cached, pq_fit_cached
    from database_migrator_spark.operators.textops import doc_shingles_cached, doc_term_frequencies

    return {
        "tf": doc_term_frequencies,
        "gram": doc_shingles_cached,
        "daywords": day_user_words,
        "ivf": _ivf_index_cached,
        "bpe": lambda spark, sf_dir: bpe_train_cached(spark, sf_dir, 10),
        "pq": pq_fit_cached,
        "cc": neardup_components_cached,
    }


def run_queries(args) -> dict:
    import duckdb

    from database_migrator_spark.plans.registry import all_queries
    from database_migrator_spark.session import get_session
    from tests.conftest import assert_matches_oracle

    run = Run(args)
    spark, session_s, session_cpu = _measured(run.cpu, lambda: get_session("perfbench"))
    run.phase("session")
    catalog = all_queries()
    queries = {n: catalog[n] for n in QUERIES}
    fits = _ingest_fits()

    # inputs, outside every timer: one directory per set-up repetition;
    # the queries read the first one
    dirs = [os.path.abspath(f"data{i}") for i in range(SETUP_REPEATS)]
    datagen.generate(dirs[0], args.seed, SF)
    for d in dirs[1:]:
        shutil.copytree(dirs[0], d)
    sf_dir = dirs[0]
    run.phase("inputs")

    # set-up: each repetition fits the set-up substrates on its own
    # directory. The first, before the queries, pays the JVM's warm-up,
    # so the median is a warm repetition; the others run later (below).
    fit_s: dict[str, list[float]] = defaultdict(list)
    reps: list[tuple[float, float]] = []  # (wall, program CPU) per repetition

    def fit_setup(d: str) -> None:
        c0 = run.cpu.read()
        for k in SETUP_FITS:
            fit_s[k].append(_timed(lambda: fits[k](spark, d))[1])
        reps.append((sum(fit_s[k][-1] for k in SETUP_FITS), run.cpu.read() - c0))

    fit_setup(sf_dir)
    if args.trace:
        # the iteration-bound fits, once each (about 25 s on 4 cores)
        for k in INGEST_FITS[len(SETUP_FITS):]:
            fit_s[k].append(_timed(lambda: fits[k](spark, sf_dir))[1])
    run.phase("setup")

    # untimed verification pass against the DuckDB oracle (column names,
    # row count and normalised values, as the test suite compares them);
    # it also warms every query's code paths before timing starts
    con = duckdb.connect()
    for name, dq in queries.items():
        try:
            assert_matches_oracle(spark, con, dq, sf_dir)
            run.count(True, name)
        except Exception as e:  # a mismatch or a query that raises counts as failed
            run.count(False, f"{name}: {type(e).__name__}: {str(e)[:200]}")
    con.close()
    run.phase("check")

    tracer = run.tracer
    jobs = JobCounter(spark.sparkContext)
    rng = random.Random(args.seed)
    lat: dict[str, list[float]] = defaultdict(list)
    cpu: dict[str, list[float]] = defaultdict(list)

    def execute(name: str) -> tuple[float, dict]:
        dq = queries[name]
        with jobs.group(name) as counted:
            c0 = run.cpu.read()
            t0 = time.perf_counter()
            try:
                with tracer.span(f"op.{_module_of(dq)}"):
                    with tracer.span("plans.registry.build"):
                        df = dq.build(spark, sf_dir)
                    with tracer.span("plans.registry.exec"):
                        df.write.format("noop").mode("overwrite").save()
                ok = True
            except Exception as e:  # keep measuring; the failure is counted
                ok = False
                print(f"{name}: {type(e).__name__}: {str(e)[:200]}", file=sys.stderr)
            dt = time.perf_counter() - t0
            cpu[name].append(run.cpu.read() - c0)
        run.count(ok, f"{name} raised")
        lat[name].append(dt)
        return dt, counted

    def shuffled() -> list[str]:
        order = list(queries)
        rng.shuffle(order)
        return order

    # the verification pass compiled every query's plan; the probe, run
    # twice, also warms the noop sink the timed executions write to
    sentinel_s(spark)
    sentinel_before = sentinel_s(spark)
    run.phase("warm")

    if args.trace:
        # two passes; each query runs traced in one and untraced in the
        # other, so both sides are equally warm: the traced executions give
        # the per-layer figures, the two sums give the tracing overhead
        walls = {False: 0.0, True: 0.0}
        counts = {"jobs": 0, "stages": 0, "tasks": 0}
        for p in range(2):
            for name in shuffled():
                traced = (QUERIES.index(name) + p) % 2 == 1
                tracer.enabled = traced
                tracer.op = f"{name}#{p}"
                dt, counted = execute(name)
                walls[traced] += dt
                if traced:
                    for k in counts:
                        counts[k] += counted[k]
        tracer.enabled = False
        for d in dirs[1:]:
            fit_setup(d)
    else:
        # closed loop, one client: passes in a fresh order each time, until
        # --seconds of executions are done and every query has run
        # MIN_EXECUTIONS times. The remaining set-up repetitions split the loop into
        # equal chunks, so both the per-query best and the set-up median
        # sample the whole timed part of the run, and a slow phase of the
        # machine shorter than that part moves fewer of their samples.
        order: list[str] = []
        spent = 0.0
        for i in range(1, len(dirs) + 1):
            while spent < args.seconds * i / len(dirs) or (
                i == len(dirs) and min(len(lat[n]) for n in queries) < MIN_EXECUTIONS
            ):
                if not order:
                    order = shuffled()
                spent += execute(order.pop())[0]
            if i < len(dirs):
                fit_setup(dirs[i])

    run.phase("timed")
    run.end_to_end["setup_s"] = session_cpu + median([r[1] for r in reps])
    run.per_layer["wall.setup_s"] = session_s + median([r[0] for r in reps])
    run.say("setup_s", run.end_to_end["setup_s"], "s",
            f"program CPU: session {session_cpu:.4f} s + median of {SETUP_REPEATS} fits of "
            f"{'+'.join(SETUP_FITS)}: " + ", ".join(f"{r[1]:.4f}" for r in reps)
            + f" s; {run.per_layer['wall.setup_s']:.4f} s wall")
    for k, ts in fit_s.items():
        run.per_layer[f"ingest.{k}_fit_s"] = median(ts)
    # each query's best program CPU over its timed executions: the first
    # timed pass still runs partly interpreted code (up to half again the
    # CPU of a later pass), so the best is the one nearest the warmed-up cost
    per_query_cpu = {n: min(cs) for n, cs in cpu.items()}
    run.end_to_end["batch_cpu_s"] = sum(per_query_cpu.values())
    run.end_to_end["op_cpu_p50_s"] = median(list(per_query_cpu.values()))
    everything = [t for ts in lat.values() for t in ts]
    run.say("wall_cpu_s", run.end_to_end["batch_cpu_s"], "s",
            f"program CPU of one pass over the {len(queries)} queries: the sum of per-query "
            f"best over {len(everything)} executions")
    run.say("query_cpu_p50_s", run.end_to_end["op_cpu_p50_s"], "s",
            "program CPU, median of per-query best")
    print("per_query_cpu_s " + " ".join(
        f"{n.split('_')[0]}={t:.3f}" for n, t in per_query_cpu.items()))
    # wall: each query's best execution, since interference from the rest
    # of the machine only ever adds time (bench.py reports best-of-2 too)
    per_query = {n: min(ts) for n, ts in lat.items()}
    run.per_layer["wall.batch_s"] = sum(per_query.values())
    run.per_layer["wall.op_p50_s"] = median(list(per_query.values()))
    run.say("wall_s", run.per_layer["wall.batch_s"], "s", "wall, sum of per-query best")
    run.say("query_p50_s", run.per_layer["wall.op_p50_s"], "s", "wall, median of per-query best")
    t = tail(everything)
    if t is None:
        run.say("query_tail_s", "n/a", "s", f"n={len(everything)} executions, fewer than 11")
    else:
        run.say("query_tail_s", t[0], "s", f"p{t[1]:.0f}, n={t[2]}")

    if args.trace:
        times = tracer.layer_times()
        run.add_layers(("plans.registry.build", "plans.registry.exec"))
        for m in QUERY_MODULES:
            if f"op.{m}" in times:
                run.per_layer[f"op.{m}_s"] = times[f"op.{m}"][1]
        run.per_layer.update({f"spark.{k}": v for k, v in counts.items()})
        run.per_layer["trace.overhead_pct"] = 100.0 * (walls[True] / walls[False] - 1)
    return run.finish(spark, session_s, sentinel_before)


# -- entry point ----------------------------------------------------------------


WORKLOADS = {
    "migrate": run_migrate,
    "queries": run_queries,
}


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--result", required=True)
    p.add_argument("--spans", required=True)
    args = p.parse_args()
    print(f"workload {args.workload} seed {args.seed} trace {args.trace} "
          f"cpus {os.environ.get('SPARK_GRAFT_CPUS')} "
          f"driver_mem {os.environ.get('SPARK_GRAFT_DRIVER_MEM')}", flush=True)
    result = WORKLOADS[args.workload](args)
    with open(args.result, "w", encoding="utf-8") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
