"""Benchmark entry point: run one workload in an isolated child process.

    python3 perfbench/run.py --workload migrate --seed 1 --seconds 10 --trace 0

Run from the repository root. Each run gets a fresh working directory
under ``.perfbench_tmp/`` (the Hive metastore, warehouse, Spark local
dirs, temp files and generated inputs all land there) and a session
sized to this machine through ``SPARK_GRAFT_CPUS`` and
``SPARK_GRAFT_DRIVER_MEM``. The child prints one line per metric; this
process then prints, as the last line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` (the ``end_to_end`` metrics of
``BENCHMARK.json`` with ``--trace 0``, its ``per_layer`` metrics with
``--trace 1``), removes the working directory and exits 0 only if every
correctness check passed. Traced runs also keep their spans under
``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
DEADLINE_S = 165
DRIVER_MEM_CAP_MB = 3072


def machine_sizing() -> tuple[int, str]:
    """All cores this process may use, and a driver heap well below RAM."""
    cpus = len(os.sched_getaffinity(0))
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return cpus, f"{min(DRIVER_MEM_CAP_MB, phys_mb // 4)}m"


def _session_members(sid: int) -> list[int]:
    """Live processes whose session is ``sid``."""
    pids = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat", encoding="ascii") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        if fields[0] != "Z" and int(fields[3]) == sid:  # a zombie has already ended
            pids.append(int(pid))
    return pids


def _stop_session(child: subprocess.Popen) -> None:
    """Kill what is left of the child's session (the JVM, and the Python
    workers, which run in process groups of their own) and wait until
    every member is gone."""
    sid = child.pid
    for _ in range(300):
        pids = _session_members(sid)
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        if child.returncode is None:
            child.wait()
        if not pids:
            return
        time.sleep(0.1)
    raise RuntimeError(f"processes of session {sid} did not exit")


def main() -> int:
    p = argparse.ArgumentParser(description="Run one benchmark workload.")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        p.error(f"--workload must be one of {names}")
    kind = "per_layer" if args.trace else "end_to_end"

    cpus, driver_mem = machine_sizing()
    os.makedirs(os.path.join(root, ".perfbench_tmp"), exist_ok=True)
    os.makedirs(os.path.join(root, ".perfbench_out"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(root, ".perfbench_tmp"))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=driver_mem,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYTHONPATH=os.pathsep.join([root, HERE]),
        PYTHONDONTWRITEBYTECODE="1",
    )
    result_path = os.path.join(work, "result.json")
    spans = os.path.join(root, ".perfbench_out", f"{args.workload}-seed{args.seed}-spans.jsonl")
    cmd = [
        sys.executable, os.path.join(HERE, "workloads.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--result", result_path, "--spans", spans,
    ]
    out_path, err_path = os.path.join(work, "stdout.log"), os.path.join(work, "stderr.log")
    try:
        with open(out_path, "w") as out, open(err_path, "w") as err:
            child = subprocess.Popen(
                cmd, cwd=work, env=env, stdout=out, stderr=err, start_new_session=True
            )
            try:
                rc = child.wait(timeout=DEADLINE_S)
            except subprocess.TimeoutExpired:
                rc = None
            _stop_session(child)
        with open(out_path) as f:
            sys.stdout.write(f.read())
        if rc != 0 or not os.path.exists(result_path):
            with open(err_path) as f:
                sys.stderr.write(f.read()[-4000:])
            why = "timed out" if rc is None else f"exited {rc}"
            print(f"workload {args.workload} {why}", file=sys.stderr)
            return 1
        with open(result_path) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    unknown = {m["name"] for m in spec["per_layer"]} - set(res["known_per_layer"])
    if unknown:
        print(f"BENCHMARK.json names unknown per-layer metrics {sorted(unknown)}", file=sys.stderr)
        return 1
    metrics = {}
    for m in spec[kind]:
        value = res[kind].get(m["name"])
        if value is None and kind == "end_to_end":
            print(f"workload did not report {m['name']}", file=sys.stderr)
            return 1
        metrics[m["name"]] = {"value": float(value or 0.0), "unit": m["unit"]}
    print(json.dumps({
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
