"""Regenerate database_migrator_spark/plans/gate_history.py from the
committed CORRECTNESS_r*.json driver-gate snapshots.

Run after each round's gate lands (the new CORRECTNESS_r{N}.json is
committed by the driver):

    python tools/gen_gate_history.py

The registry's 50-row rotation derives ranks from this map instead of
hand-maintained per-round literal sets (round-13 change, VERDICT r12
item 7): a query's rank is simply how stale its latest gate row is,
so one wrong set membership can no longer silently burn a gate row.
``tests/test_bench_contract.py::test_gate_history_matches_committed_files``
recomputes the map from the JSON files and fails if this generated
module is stale.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(
    REPO, "database_migrator_spark", "plans", "gate_history.py"
)


def _committed_gate_files(repo_root: str) -> list[str]:
    """The COMMITTED CORRECTNESS_r*.json snapshots (via ``git ls-files``),
    so an untracked just-landed gate file can neither trip the
    history-matches-files test prematurely nor get embedded into the
    generated module before it is committed (ADVICE r13).  Falls back to
    a plain glob outside a usable git checkout (fresh source export)."""
    import subprocess

    try:
        out = subprocess.run(
            ["git", "-C", repo_root, "ls-files", "CORRECTNESS_r*.json"],
            capture_output=True, text=True, check=True,
        ).stdout.split()
        return sorted(os.path.join(repo_root, p) for p in out)
    except (OSError, subprocess.CalledProcessError):
        return sorted(glob.glob(os.path.join(repo_root, "CORRECTNESS_r*.json")))


def compute_last_gated(repo_root: str = REPO) -> dict[str, int]:
    """qid -> latest round with ANY driver gate row for that qid.

    Appearance (not greenness) is the freshness signal: a gate row was
    spent on the query in that round, so the rotation should not spend
    another until staler queries have had theirs.  (In practice the only
    non-green rows ever recorded are `no_oracle` rows-only queries,
    which the registry sorts dead last regardless.)
    """
    last: dict[str, int] = {}
    for path in _committed_gate_files(repo_root):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        with open(path) as fh:
            rows = json.load(fh)
        for name in rows:
            qid = name.split("_", 1)[0]
            last[qid] = max(last.get(qid, 0), rnd)
    return last


def print_next_window_plan() -> None:
    """``--plan``: print the NEXT round's 50-row gate window implied by
    the current registry + regenerated history — run after the gate file
    lands to sanity-check the rotation before re-pinning
    test_bench_contract (never-gated additions become rank 0 once
    ``_WINDOW_SEALED_THROUGH`` is bumped; this preview assumes that
    bump).  The per-round chore: regenerate ``plans/gate_history.py``,
    check the window with ``--plan``, bump the seal if additions landed,
    then re-pin the first-50 list in test_bench_contract."""
    sys.path.insert(0, REPO)
    from database_migrator_spark.plans import registry as R

    last = compute_last_gated()
    qs = R.all_queries()
    oracle_bearing = [(n, dq) for n, dq in qs.items() if dq.oracle is not None]
    never = sorted(n for n, _ in oracle_bearing if n.split("_", 1)[0] not in last)
    staleness = sorted(
        ((last[n.split("_", 1)[0]], n) for n, _ in oracle_bearing
         if n.split("_", 1)[0] in last)
    )
    window = never + [n for _, n in staleness]
    print(f"# next window (assumes _WINDOW_SEALED_THROUGH bumped past all "
          f"{len(never)} never-gated additions)")
    for i, n in enumerate(window[:50], 1):
        qid = n.split("_", 1)[0]
        print(f"{i:3d}  {n}  (last gated: r{last.get(qid, '-')})")


def main() -> None:
    if "--plan" in sys.argv:
        print_next_window_plan()
        return
    last = compute_last_gated()
    lines = [
        '"""GENERATED by tools/gen_gate_history.py — do not hand-edit.',
        "",
        "qid -> latest round in which the driver's correctness gate recorded",
        "a row for that query (appearance = gate budget spent, regardless of",
        "outcome).  Source of truth: the committed CORRECTNESS_r*.json",
        "snapshots; tests/test_bench_contract.py recomputes this map from",
        "those files and fails the suite if this module is stale.",
        '"""',
        "",
        "LAST_GATED: dict[str, int] = {",
    ]
    for qid in sorted(last, key=lambda q: int(q[1:])):
        lines.append(f'    "{qid}": {last[qid]},')
    lines.append("}")
    lines.append("")
    with open(OUT, "w") as fh:
        fh.write("\n".join(lines))
    print(f"wrote {OUT}: {len(last)} qids, rounds {min(last.values())}..{max(last.values())}")


if __name__ == "__main__":
    main()
