"""The benchmark's traced runs wrap migrator functions by name
(``perfbench/workloads.py::_trace_migrator``). A renamed or deleted name
would break every ``--trace 1`` run, so each ``(owner, attr)`` it wraps
must resolve to a callable here, and every migrator layer the benchmark
reports must be wrapped."""

from __future__ import annotations

import os
from collections import Counter

PERFBENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")


class _Recorder:
    """Stands in for ``instrument.Tracer``: records what would be wrapped."""

    def __init__(self):
        self.wrapped = []

    def wrap(self, owner, attr, name, after=None):
        self.wrapped.append((owner, attr, name))


def test_every_traced_migrator_name_resolves(monkeypatch):
    monkeypatch.syspath_prepend(PERFBENCH)
    import workloads

    tracer = _Recorder()
    workloads._trace_migrator(tracer, Counter())
    assert tracer.wrapped
    for owner, attr, name in tracer.wrapped:
        assert callable(getattr(owner, attr, None)), f"{name}: {owner!r}.{attr} is gone"
    assert set(workloads.MIGRATE_LAYERS) <= {name for _o, _a, name in tracer.wrapped}
