"""Wrappers, spans and status-store parsing."""

import importlib
import sys
import textwrap

import pytest

from perfbench import layers


@pytest.fixture()
def fakepkg(tmp_path, monkeypatch):
    """A package whose modules bind ``a.f`` in three ways."""
    pkg = tmp_path / "fakepkg"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    (pkg / "a.py").write_text("def f(x):\n    return x + 1\n")
    (pkg / "b.py").write_text("from fakepkg.a import f\n\ndef use(x):\n    return f(x)\n")
    (pkg / "c.py").write_text("from fakepkg.a import f as g\n\ndef use(x):\n    return g(x)\n")
    (pkg / "d.py").write_text(
        textwrap.dedent(
            """
            def use(x):
                from fakepkg.a import f
                return f(x)
            """
        )
    )
    monkeypatch.syspath_prepend(str(tmp_path))
    monkeypatch.setattr(layers, "PACKAGE", "fakepkg")
    mods = [importlib.import_module(f"fakepkg.{m}") for m in "abcd"]
    yield mods
    for name in [n for n in sys.modules if n == "fakepkg" or n.startswith("fakepkg.")]:
        del sys.modules[name]


def test_wrapper_replaces_every_binding(fakepkg):
    a, b, c, d = fakepkg
    tracer, patcher = layers.Tracer(), layers.Patcher()
    assert patcher.wrap("fakepkg.a", "f", layers._timed(tracer, "f")) == 3
    assert patcher.missed() == []
    assert (b.use(1), c.use(1), d.use(1), a.f(1)) == (2, 2, 2, 2)
    assert [s["name"] for s in tracer.spans] == ["f"] * 4
    patcher.restore()
    assert b.f is a.f and c.g is a.f and not hasattr(a.f, "__wrapped__")


def test_missed_binding_is_reported(fakepkg):
    a, b, c, _ = fakepkg
    orig = a.f
    patcher = layers.Patcher()
    patcher.wrap("fakepkg.a", "f", layers._timed(layers.Tracer(), "f"))
    c.g = orig  # a binding the patch did not reach
    assert patcher.missed() == ["fakepkg.c.g"]
    patcher.restore()


def test_install_covers_the_engine_and_restores_it():
    from hadoop_spark.plans import load_all

    load_all()
    from hadoop_spark.plans import queries_io
    from hadoop_spark.sources import formats, tables

    before = (tables.load_table, queries_io.routed_write)
    tracer, patcher = layers.Tracer(), layers.Patcher()
    layers.install(tracer, patcher)
    try:
        assert patcher.missed() == []
        assert tables.load_table.__wrapped__ is before[0]
        assert queries_io.routed_write is formats.routed_write
        assert queries_io.routed_write.__wrapped__ is before[1]
    finally:
        patcher.restore()
    assert (tables.load_table, queries_io.routed_write) == before


def test_context_manager_wrapper_spans_the_body():
    from contextlib import contextmanager

    tracer = layers.Tracer()

    @contextmanager
    def cm(v):
        yield v * 2

    wrapped = layers._timed_cm(tracer, "cm")(cm)
    with wrapped(3) as got, tracer.span("inner"):
        pass
    assert got == 6
    outer, inner = tracer.spans
    assert inner["parent"] == outer["id"]


def test_self_time_subtracts_children():
    tracer = layers.Tracer()
    with tracer.span("outer"), tracer.span("inner"):
        pass
    spans = {s["name"]: s for s in tracer.with_self_time()}
    assert spans["outer"]["self"] == pytest.approx(spans["outer"]["dur"] - spans["inner"]["dur"])
    assert spans["inner"]["self"] == spans["inner"]["dur"]


@pytest.mark.parametrize(
    "text,value",
    [
        ("21 ms", 0.021),
        ("total (min, med, max (stageId: taskId))\n4.9 s (1.2 s, 1.2 s, 1.2 s (stage 0.0: task 3))", 4.9),
        ("total (min, med, max (stageId: taskId))\n782.9 KiB (195.7 KiB, 195.7 KiB)", 782.9 / 1024),
        ("16.2 MiB", 16.2),
        ("100,000", 100000.0),
        ("2.0 m", 120.0),
    ],
)
def test_parse_sql_metric(text, value):
    assert layers.parse_sql_metric(text) == pytest.approx(value)


def test_union_clips_and_merges():
    assert layers.union_length([(0, 2), (1, 3), (5, 6), (10, 20)], 1, 12) == pytest.approx(2 + 1 + 2)
    assert layers.union_length([], 0, 1) == 0
