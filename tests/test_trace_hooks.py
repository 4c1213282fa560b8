"""The gordo_spark names that fleetbench's tracer hooks stay in place.

``Tracer.wrap`` reads a class attribute from the class's own ``__dict__``,
so moving a hooked method to a base class (or dropping a hooked module
name) breaks ``fleetbench/run.py --trace 1``. This applies both
instrumentation tables and restores them."""

import os

BENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "fleetbench")


def _current(owner, attr):
    return owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)


def test_fleetbench_trace_hooks_apply_and_restore(monkeypatch):
    monkeypatch.syspath_prepend(BENCH)
    import fleet
    import serve
    from tracing import Tracer

    t = Tracer()
    fleet._instrument(t)
    serve._instrument(t, {}, None)
    assert len(t._patches) == 13
    originals = {}  # ModelStore.load is hooked by both tables
    for owner, attr, original in t._patches:
        originals.setdefault((owner, attr), original)
    for (owner, attr), original in originals.items():
        assert _current(owner, attr) is not original, attr
    t.restore()
    for (owner, attr), original in originals.items():
        assert _current(owner, attr) is original, attr
