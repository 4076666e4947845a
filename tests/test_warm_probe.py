"""Unit tests for scripts/warm_probe.py's failure isolation (ADVICE
r14): one failing query mid-probe must not abort the run or lose prior
pass timings, and the SparkSession must stop even when a pass raises;
and its per-pass codegen counters. Uses fake sessions/queries — no
SparkSession, runs in milliseconds."""

from __future__ import annotations

import importlib.util
import json
import os
import sys
import types

import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

_spec = importlib.util.spec_from_file_location(
    "warm_probe", os.path.join(_REPO, "scripts", "warm_probe.py")
)
wp = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(wp)


class _FakeCodegen:
    """The JVM's generated-class cache and its counters: a key compiles
    (one count, 2.5 ms) unless the cache still holds it. ``keep=False``
    is a cache too small for the working set — every run recompiles."""

    def __init__(self, keep: bool = True):
        self.keep = keep
        self.cached: set[str] = set()
        self.count = 0
        self.nanos = 0

    def compile(self, key: str) -> None:
        if key in self.cached:
            return
        if self.keep:
            self.cached.add(key)
        self.count += 1
        self.nanos += 2_500_000

    def jvm(self):
        ns = types.SimpleNamespace
        hist = ns(getCount=lambda: self.count)
        metrics = ns(source=ns(CodegenMetrics=ns(METRIC_COMPILATION_TIME=lambda: hist)))
        gen = ns(CodeGenerator=ns(compileTime=lambda: self.nanos))
        sql = ns(catalyst=ns(expressions=ns(codegen=gen)))
        return ns(org=ns(apache=ns(spark=ns(metrics=metrics, sql=sql))))


class _FakeWriter:
    def __init__(self, fail: bool, compile_key):
        self._fail = fail
        self._compile_key = compile_key

    def format(self, _fmt):
        return self

    def mode(self, _mode):
        return self

    def save(self):
        if self._fail:
            raise RuntimeError("boom")
        if self._compile_key is not None:
            self._compile_key()


class _FakeFrame:
    def __init__(self, fail: bool, spark=None, key: str | None = None):
        compile_key = None
        if spark is not None:
            def compile_key():
                spark.codegen.compile(key)
        self.write = _FakeWriter(fail, compile_key)


class _FakeSpark:
    def __init__(self, codegen: _FakeCodegen | None = None):
        self.stopped = False
        self.catalog = types.SimpleNamespace(clearCache=lambda: None)
        self.codegen = codegen or _FakeCodegen()
        self._jvm = self.codegen.jvm()

    def stop(self):
        self.stopped = True


def _run_probe(monkeypatch, capsys, queries, argv_queries, runs=3, codegen=None):
    fake = _FakeSpark(codegen)
    monkeypatch.setattr(wp, "get_spark", lambda **_kw: fake)
    monkeypatch.setattr(
        wp, "q", types.SimpleNamespace(register_all=lambda: None, QUERIES=queries)
    )
    monkeypatch.setattr(
        sys,
        "argv",
        ["warm_probe.py", "--queries", argv_queries, "--runs", str(runs),
         "--sf-dir", "/nonexistent"],
    )
    wp.main()
    out = json.loads(capsys.readouterr().out.strip())
    return fake, out


def test_failing_query_does_not_lose_other_timings(monkeypatch, capsys):
    queries = {
        "ok": lambda _s, _d: _FakeFrame(fail=False),
        "bad": lambda _s, _d: _FakeFrame(fail=True),
    }
    fake, out = _run_probe(monkeypatch, capsys, queries, "ok,bad", runs=3)
    assert len(out["probe"]["ok"]) == 3  # every pass kept
    assert out["probe"]["bad"] == []
    assert "bad" in out["errors"] and "RuntimeError: boom" in out["errors"]["bad"]
    assert out["warm_median"]["ok"] is not None
    assert out["warm_median"]["bad"] is None
    assert fake.stopped  # stop in finally


def test_spark_stops_when_probe_body_raises(monkeypatch, capsys):
    # a non-query failure (e.g. clearCache dying) still stops the session
    fake = _FakeSpark()

    def _explode():
        raise OSError("catalog gone")

    fake.catalog = types.SimpleNamespace(clearCache=_explode)
    monkeypatch.setattr(wp, "get_spark", lambda **_kw: fake)
    monkeypatch.setattr(
        wp,
        "q",
        types.SimpleNamespace(
            register_all=lambda: None,
            QUERIES={"ok": lambda _s, _d: _FakeFrame(fail=False)},
        ),
    )
    monkeypatch.setattr(
        sys, "argv", ["warm_probe.py", "--queries", "ok", "--runs", "2"]
    )
    with pytest.raises(OSError):
        wp.main()
    assert fake.stopped


def test_all_clean_probe_has_no_errors_key(monkeypatch, capsys):
    queries = {"ok": lambda _s, _d: _FakeFrame(fail=False)}
    _fake, out = _run_probe(monkeypatch, capsys, queries, "ok", runs=2)
    assert "errors" not in out
    assert len(out["probe"]["ok"]) == 2


def _compiling(name: str, fail: bool = False):
    return lambda s, _d: _FakeFrame(fail=fail, spark=s, key=name)


def test_codegen_compiles_reported_per_pass(monkeypatch, capsys):
    # a cache that holds the working set: only the first pass compiles,
    # and a query that fails before its action compiles nothing
    queries = {"a": _compiling("a"), "b": _compiling("b"),
               "bad": _compiling("bad", fail=True)}
    _fake, out = _run_probe(monkeypatch, capsys, queries, "a,b,bad", runs=3)
    assert out["codegen_compiles"] == [2, 0, 0]
    assert out["codegen_compile_ms"] == [5.0, 0.0, 0.0]


def test_thrashing_codegen_cache_shows_on_every_pass(monkeypatch, capsys):
    queries = {"a": _compiling("a"), "b": _compiling("b")}
    _fake, out = _run_probe(monkeypatch, capsys, queries, "a,b", runs=3,
                            codegen=_FakeCodegen(keep=False))
    assert out["codegen_compiles"] == [2, 2, 2]
    assert out["codegen_compile_ms"] == [5.0, 5.0, 5.0]
