"""Measurement helpers that sit outside the program under test.

- ``Tracer``: in-memory spans around calls into the package's public entry
  points, installed by patching module attributes from the benchmark side.
- ``JobCounter``: exact Spark job / stage / task counts for a block of
  work, read through ``setJobGroup`` and ``statusTracker()``.
- ``ProgramCpu``: CPU seconds used by the program's processes, the
  quantity every gated timing is taken in.
- ``sentinel_s``: a constant probe job, timed before and after each run
  so a slow-VM phase shows in-band.
- ``jvm_peak_rss_mb``: the driver JVM's ``VmHWM``.
- ``jvm_live_heap_mb``: the driver JVM's heap in use right after a full GC.
- ``median`` / ``tail``: the summary statistics every timing reports.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager


def median(values: list[float]) -> float:
    return statistics.median(values)


def tail(values: list[float]) -> tuple[float, float, int] | None:
    """Highest percentile with at least ten samples beyond it, as
    ``(value, percentile, n)``; ``None`` when fewer than eleven samples."""
    n = len(values)
    if n < 11:
        return None
    return sorted(values)[n - 11], 100.0 * (n - 10) / n, n


class Tracer:
    """Spans with name, start, end, parent and operation id, kept in memory.

    ``wrap`` replaces ``owner.attr`` with a recording wrapper; ``restore``
    puts every original back. While ``enabled`` is false the wrappers call
    straight through, which lets one run interleave traced and untraced
    operations to measure the tracing overhead.
    """

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.enabled = True
        self.op: str | None = None
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, owner: object, attr: str, name: str, after=None) -> None:
        """Record a span ``name`` around every call of ``owner.attr``.
        ``after(args, kwargs, result)`` may add counts once the call returns."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if not self.enabled:
                return orig(*args, **kwargs)
            with self.span(name):
                result = orig(*args, **kwargs)
            if after is not None:
                after(args, kwargs, result)
            return result

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def layer_times(self) -> dict[str, tuple[float, float, int]]:
        """Per span name: (mean self time, mean inclusive time, calls).
        Self time is the span's duration minus the time its children cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        agg: dict[str, list[float]] = defaultdict(lambda: [0.0, 0.0, 0])
        for s in self.spans:
            dur = s["end"] - s["start"]
            a = agg[s["name"]]
            a[0] += dur - child[s["id"]]
            a[1] += dur
            a[2] += 1
        return {k: (v[0] / v[2], v[1] / v[2], v[2]) for k, v in agg.items()}

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class JobCounter:
    """Exact counts of the Spark jobs, stages and tasks a block started."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self._n = 0

    @contextmanager
    def group(self, label: str):
        """Yield a dict filled with ``jobs``, ``stages``, ``tasks`` on exit.
        Streaming micro-batches run under their own job groups and are not
        counted here."""
        self._n += 1
        gid = f"perfbench-{self._n}"
        out = {"jobs": 0, "stages": 0, "tasks": 0}
        self.sc.setJobGroup(gid, label)
        try:
            yield out
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            st = self.sc.statusTracker()
            stage_ids: set[int] = set()
            job_ids = st.getJobIdsForGroup(gid)
            for jid in job_ids:
                info = st.getJobInfo(jid)
                if info is not None:
                    stage_ids.update(info.stageIds)
            out["jobs"] = len(job_ids)
            for sid in stage_ids:
                info = st.getStageInfo(sid)
                if info is not None and info.numCompletedTasks > 0:
                    out["stages"] += 1
                    out["tasks"] += info.numCompletedTasks


class ProgramCpu:
    """CPU seconds the program has used: every thread of every process in
    this process's session (the Python driver, the driver JVM, the Python
    workers it starts), plus what their reaped children used, except the
    JVM's JIT compiler threads.

    Wall time on a shared VM moves with the load of other guests: on a
    4 vCPU KVM guest the same Spark job took 0.13 s while the host was
    quiet and 0.2-0.3 s while other guests stole 10-20% of the VM's CPU,
    and whole one-minute runs read 1.5-2x slower than others. CPU time is
    charged only while a thread runs, so steal does not add to it (cache
    and memory contention from other guests still do, less). The JIT compiler threads are left out
    because their share is compilation, not the program's work, and decays
    for minutes after the JVM starts (from half of the JVM's CPU per job
    to a tenth), faster or slower with the host's speed.

    Live threads are read from ``schedstat`` (nanoseconds); reaped children
    from ``cutime``/``cstime`` (clock ticks).
    """

    _CLK = os.sysconf("SC_CLK_TCK")

    def __init__(self) -> None:
        self.sid = os.getsid(0)
        self._compiler: dict[str, bool] = {}  # task dir -> is a JIT compiler thread

    def _is_compiler(self, task_dir: str) -> bool:
        hit = self._compiler.get(task_dir)
        if hit is None:
            with open(f"{task_dir}/comm", encoding="utf-8", errors="replace") as f:
                name = f.read()
            # "C1 CompilerThre", "C2 CompilerThre" (names are cut at 15 chars)
            hit = self._compiler[task_dir] = name.startswith(("C1 Compiler", "C2 Compiler"))
        return hit

    def read(self) -> float:
        ns = ticks = 0
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat", encoding="ascii") as f:
                    stat = f.read()
                fields = stat[stat.rfind(")") + 2:].split()
                if int(fields[3]) != self.sid:
                    continue
                ticks += int(fields[13]) + int(fields[14])  # cutime, cstime
                for tid in os.listdir(f"/proc/{pid}/task"):
                    task = f"/proc/{pid}/task/{tid}"
                    if self._is_compiler(task):
                        continue
                    with open(f"{task}/schedstat", encoding="ascii") as f:
                        ns += int(f.read().split()[0])
            except (OSError, ValueError, IndexError):
                continue  # the process or thread ended while being read
        return ns / 1e9 + ticks / self._CLK


def sentinel_s(spark) -> float:
    """The shape of the catalog bench's sentinel probe (range -> hash ->
    shuffle -> sum through the noop sink), on 1M rows."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    (
        spark.range(1_000_000)
        .select(F.pmod(F.xxhash64("id"), F.lit(1009)).alias("k"), F.col("id"))
        .groupBy("k")
        .agg(F.sum("id").alias("s"))
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    return time.perf_counter() - t0


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()  # noqa: SLF001
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM in /proc/{pid}/status")


def jvm_live_heap_mb(spark) -> float:
    """Heap the driver JVM still holds after a full collection: what the
    run retained (cached and checkpointed blocks, catalog state), without
    the garbage that makes ``VmHWM`` depend on when collections ran."""
    jvm = spark._jvm  # noqa: SLF001
    for _ in range(2):  # the second collection frees what the first only finalized
        jvm.java.lang.System.gc()
    usage = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return usage.getUsed() / 2**20
