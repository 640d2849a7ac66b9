import sys
import types

import pytest

import layers
from stats import Span


@pytest.fixture
def fake_modules():
    """Two modules inside the package namespace: one defines ``f``, the
    other imported it by name."""
    a = types.ModuleType(f"{layers.PKG}._pb_fake_a")
    b = types.ModuleType(f"{layers.PKG}._pb_fake_b")

    def f(x):
        return x + 1

    a.f = f
    b.f = f
    sys.modules[a.__name__] = a
    sys.modules[b.__name__] = b
    yield a, b, f
    del sys.modules[a.__name__], sys.modules[b.__name__]


def test_wrap_patches_every_import_name_and_restores(fake_modules):
    a, b, f = fake_modules
    t = layers.Tracer()
    t.wrap_function(a.__name__, "f", "layer.f")
    assert a.f is not f and b.f is not f
    with t.span("op"):
        assert a.f(1) == 2
        assert b.f(2) == 3
    assert [s.name for s in t.spans] == ["op", "layer.f", "layer.f"]
    assert [s.parent for s in t.spans] == [None, 0, 0]
    assert t.counters["layer.f.calls"] == 2
    t.uninstall()
    assert a.f is f and b.f is f


def test_wrapped_errors_are_counted_and_reraised(fake_modules):
    a, _, _ = fake_modules
    t = layers.Tracer()
    t.wrap_function(a.__name__, "f", "layer.f")
    with pytest.raises(TypeError):
        a.f("x")
    t.uninstall()
    assert t.counters["layer.f.errors"] == 1
    assert t.spans[0].end >= t.spans[0].start


def test_layer_metrics_arithmetic():
    t = layers.Tracer()
    # two traced cycles; the op frames and construction glue leave 1 s of
    # the 8 s of op time to no layer
    t.spans = [
        Span("cycle", 0.0, 4.0, None),
        Span("op", 0.0, 4.0, 0),
        Span("write.write_partitioned", 0.5, 2.0, 1),
        Span("commit", 2.0, 3.5, 1),
        Span("cycle", 4.0, 8.0, None),
        Span("op", 4.0, 8.0, 4),
        Span("query.construct", 4.0, 5.0, 5),
        Span("engine.sql", 4.0, 5.0, 6),
        Span("query.execute", 5.0, 8.0, 5),
    ]
    t.counters = {"commit.calls": 2, "write.files": 6, "write.bytes": 600, "write.rows": 60}
    stats = {"jobs": 4, "tasks": 10, "failed_tasks": 0, "shuffle_write_bytes": 2048}
    m = layers.layer_metrics(t, 2, stats, 2, {"lsh_clusters.execute": 3.0}, 0.25, 1.1)
    assert set(m) == {name for name, _ in layers.PER_LAYER}
    assert m["write.append_s"] == pytest.approx(0.75)
    assert m["commit.s"] == pytest.approx(0.75)
    assert m["write.files_per_commit"] == 3
    assert m["write.bytes_per_row"] == 10
    assert m["query.execute_s"] == pytest.approx(1.5)
    assert m["query.construct_jobs"] == 1
    assert m["spark.jobs"] == 2
    assert m["ops.lsh_clusters.execute_s"] == pytest.approx(1.5)
    assert m["scan.files_pruned_ratio"] == 0.25
    assert m["trace.overhead_ratio"] == 1.1
    assert m["trace.unattributed_ratio"] == pytest.approx(1.0 / 8.0)
