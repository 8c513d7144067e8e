"""Driver-visibility invariants for bench.py and the registry ordering.

The round driver records only the LAST 2000 chars of bench stdout and
only the FIRST 50 entries of ``queries()`` (measured: BENCH_r01/r02
carry a 2000-char ``tail`` with ``parsed: null``; CORRECTNESS_r01/r02
each contain exactly the first 50 names). These tests fail BEFORE a
registry change silently re-breaks either contract.
"""

from __future__ import annotations

import json

from database_migrator_spark.plans.registry import all_queries


def test_short_query_keys_are_unique():
    """bench.py reports each query under its ``qNN`` prefix — a duplicate
    prefix would silently merge two timings."""
    names = list(all_queries())
    shorts = [n.split("_", 1)[0] for n in names]
    assert len(set(shorts)) == len(shorts)


def test_bench_json_line_fits_tail_window():
    """The emitted bench line must stay under the 1900-char budget that
    keeps it inside the driver's 2000-char stdout tail. At 168+ benched
    queries (round 7) the FULL per-query map no longer fits even at one
    decimal, so bench.py's own rule — truncate to the slowest-60 map —
    is now the NORMAL emission path, not just the degradation path;
    the full-name 4-decimal map lives in committed bench_full.json.
    This test replays bench.py's decision procedure on (a) the realistic
    all-9.9s regime and (b) the pathological 999.9s-plus-failures
    regime and asserts the FINAL line fits in both."""
    qs = all_queries()
    benched = [n.split("_", 1)[0] for n, dq in qs.items() if dq.bench]

    def emitted_line(per_query: float, with_failures: bool) -> str:
        short = {k: per_query for k in benched}
        out = {
            "metric": "total_wall_sec_declared_queries",
            "value": 9999.99,
            "unit": "sec",
            "queries": short,
            "sf": 0.1,
            "n_queries": len(short),
            "ingest": {
                "ivf_fit": 99.99,
                "bpe_fit": 99.99,
                "pq_fit": 99.99,
                "cc_fit": 99.99,
                "gram_fit": 99.99,
            },
            "sentinel_sec": [99.999, 99.999],
            "pass2_n": 999,
        }
        failures = {f"q{i:02d}": "X" * 80 for i in range(99)} if with_failures else {}
        if failures:
            out["failures"] = failures
        line = json.dumps(out, separators=(",", ":"))
        if len(line) > 1900:  # bench.py's truncation rule, replayed
            out["queries"] = dict(
                sorted(short.items(), key=lambda kv: -kv[1])[:60]
            )
            out["queries_truncated_to_slowest"] = 60
            if failures:
                out["n_failures"] = len(failures)
                out["failures"] = {k: v[:40] for k, v in list(failures.items())[:8]}
            line = json.dumps(out, separators=(",", ":"))
            if len(line) > 1900:
                out["queries"] = {}
                out.pop("failures", None)
                line = json.dumps(out, separators=(",", ":"))
        return line

    for per_query, with_failures in ((9.9, False), (999.9, True)):
        line = emitted_line(per_query, with_failures)
        assert len(line) < 1900, (
            f"emitted bench line would be {len(line)} chars "
            f"(per_query={per_query}, failures={with_failures})"
        )


def test_gate_history_matches_committed_files():
    """Round 13 (VERDICT r12 item 7): the registry derives gate ranks from
    the generated ``plans/gate_history.py`` map.  Recompute that map from
    the COMMITTED CORRECTNESS_r*.json snapshots (``git ls-files``, r14 per
    ADVICE r13 — an untracked just-landed gate file neither trips this
    test prematurely nor gets embedded before it is committed) and fail
    if the generated module is stale.  Post-gate chore: commit the new
    snapshot AND run ``python tools/gen_gate_history.py`` together."""
    import os
    import sys

    from database_migrator_spark.plans.gate_history import LAST_GATED

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "tools"))
    try:
        from gen_gate_history import compute_last_gated
    finally:
        sys.path.pop(0)
    assert LAST_GATED == compute_last_gated(repo)


def test_gate_order_front_loads_stale_signal_set():
    """Post-r15 window: _SEMANTIC_RESET is empty (no result-affecting
    edits since the r15 gate) and no never-gated addition exists (q310,
    the top registered qid, was gated in r15).  Every r6-r8 entry left in
    the regenerated history is oracle-less, so the 50-row gate budget
    goes to (a) the 12-name r9 residue that spilled from r15's window
    (q222-q233), then (b) the first 38 of the 46 oracle-bearing r10-gated
    names (q112-q143, q234-q244, sorted by full name; q117 is
    oracle-less) — exactly 50; the r10 block's last 8 spill to the next
    round.  Global rule: a query with oracle=None can NEVER occupy a
    window slot (q53/q62 burned 2 of 50 rows in r11 on
    rows-only-by-design queries whose gate rows cannot go green); all
    nine such queries sort dead last.  Pinning the exact first-50 list
    (not just the set) so a refactor cannot silently reorder the
    gate."""
    qs = all_queries()
    names = list(qs)
    gate = [n.split("_", 1)[0] for n in names[:50]]
    from database_migrator_spark.plans.gate_history import LAST_GATED

    def gated_in_order(rnd: int) -> list[str]:
        """Oracle-bearing qids last gated in ``rnd``, full-name order."""
        block = {q for q, r in LAST_GATED.items() if r == rnd}
        return [
            n.split("_", 1)[0]
            for n in sorted(
                n for n, dq in qs.items()
                if n.split("_", 1)[0] in block and dq.oracle is not None
            )
        ]

    # (a) the r9 residue that spilled from r15's window
    r9_in_order = gated_in_order(9)
    assert r9_in_order == [f"q{i}" for i in range(222, 234)]
    # (b) the r10-gated block, full-name sort order within the rank
    r10_in_order = gated_in_order(10)
    assert len(r10_in_order) == 46
    assert gate == r9_in_order + r10_in_order[:38]
    # no oracle-less query may sit inside the window — ever
    window_dqs = [qs[n] for n in names[:50]]
    assert all(dq.oracle is not None for dq in window_dqs)
    # all nine rows-only-by-design queries sort dead last
    no_oracle = [n.split("_", 1)[0] for n, dq in qs.items() if dq.oracle is None]
    assert sorted(no_oracle) == sorted(n.split("_", 1)[0] for n in names[-len(no_oracle):])
    # the spilled r10 residue (8 names) leads the post-window order
    post_window = [n.split("_", 1)[0] for n in names[50:]]
    assert post_window[:8] == r10_in_order[38:]
    # every freshly-gated block sorts after the 50-row window
    tail = set(post_window)
    assert {"q249", "q59", "q51", "q250", "q262", "q01", "q52", "q85", "q02", "q86", "q263", "q293", "q294", "q305", "q10", "q145", "q304", "q306", "q159", "q162", "q310", "q194", "q38", "q100", "q221"} <= tail
