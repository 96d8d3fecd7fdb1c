"""Self-time arithmetic of the tracer on synthetic span trees."""

import threading

from spans import Span, Tracer, layer_totals, self_times, union_length

MAIN = 1
POOL = 2


def _span(sid, parent, t0, t1, layer="x", thread=MAIN, name=None):
    return Span(sid, name or f"s{sid}", layer, parent, thread, 1, t0, t1)


def test_union_merges_overlaps_and_gaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert union_length([(0, 10), (2, 3)]) == 10.0


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(1, None, 0.0, 10.0, "harness"),
        _span(2, 1, 1.0, 4.0, "sources"),
        _span(3, 2, 2.0, 3.0, "plans"),
        _span(4, 1, 5.0, 9.0, "spark"),
    ]
    st = self_times(spans)
    assert st == {1: 3.0, 2: 2.0, 3: 1.0, 4: 4.0}
    # self times of the driver thread add up to the root's wall
    assert sum(st.values()) == 10.0


def test_overlapping_children_are_not_double_counted():
    spans = [_span(1, None, 0.0, 10.0), _span(2, 1, 1.0, 6.0), _span(3, 1, 4.0, 8.0)]
    assert self_times(spans)[1] == 3.0


def test_children_on_other_threads_leave_waiting_in_the_parent():
    spans = [
        _span(1, None, 0.0, 10.0, "manifests"),
        _span(2, 1, 1.0, 9.0, "avro", thread=POOL),
        _span(3, 1, 1.0, 9.0, "avro", thread=POOL),
    ]
    st = self_times(spans)
    assert st[1] == 10.0
    tot = layer_totals(spans, MAIN)
    assert tot["manifests"]["self_s"] == 10.0
    assert tot["avro"]["self_s"] == 0.0
    assert tot["avro"]["busy_s"] == 16.0


def test_tracer_records_nesting_and_threads():
    tr = Tracer()
    tr.op = 7

    def pool_work():
        with tr.span("pool", "avro"):
            pass

    with tr.span("root", "harness"):
        with tr.span("child", "plans"):
            t = threading.Thread(target=pool_work)
            t.start()
            t.join(timeout=5)
            assert not t.is_alive()
    by_name = {s.name: s for s in tr.spans}
    root, child, pool = by_name["root"], by_name["child"], by_name["pool"]
    assert child.parent == root.sid and child.op == 7
    assert pool.parent is None and pool.op == 7 and pool.thread != tr.main_thread
    st = self_times(tr.spans)
    assert abs(st[root.sid] + st[child.sid] - root.dur) < 1e-9


def test_wrapping_patches_every_reference_and_restores():
    import sys
    import types

    def f(x):
        return x + 1

    a = types.ModuleType("duckdb_iceberg_spark._bench_test_a")
    b = types.ModuleType("duckdb_iceberg_spark._bench_test_b")
    a.f = f
    b.g = f  # another module's own reference to the same function
    sys.modules[a.__name__] = a
    sys.modules[b.__name__] = b
    try:
        tr = Tracer()
        tr.patch_function(a.__name__, "f", "layer")
        assert a.f(1) == 2 and b.g(2) == 3
        assert [s.name for s in tr.spans] == ["f", "f"]
        tr.uninstall()
        assert a.f is f and b.g is f
    finally:
        del sys.modules[a.__name__], sys.modules[b.__name__]
