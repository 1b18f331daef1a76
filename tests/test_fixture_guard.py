"""build_once — the version-stamped, lock-guarded /tmp fixture builder
(ADVICE r10): markers record WHICH definition built a fixture so edits
rebuild instead of silently reusing stale tables, and concurrent
builders serialize instead of racing rmtree against reads."""

from __future__ import annotations

import os
import threading

from delta_lake_health_spark.sources.fixture import build_once, definition_hash


def test_build_once_builds_then_skips(tmp_path):
    marker = str(tmp_path / "m")
    calls = []

    def build() -> None:
        calls.append(1)

    build_once(marker, build)
    build_once(marker, build)
    assert calls == [1]
    with open(marker) as fh:
        assert fh.read() == definition_hash(build)


def test_build_once_rebuilds_on_definition_change(tmp_path):
    marker = str(tmp_path / "m")
    calls = []

    def build() -> None:
        calls.append("a")

    build_once(marker, build)

    def build() -> None:  # noqa: F811 — the "edited" definition
        calls.append("b")

    build_once(marker, build)
    build_once(marker, build)
    assert calls == ["a", "b"]


def test_build_once_salt_changes_version(tmp_path):
    marker = str(tmp_path / "m")
    calls = []

    def build() -> None:
        calls.append(1)

    build_once(marker, build, salt="v1")
    build_once(marker, build, salt="v1")
    build_once(marker, build, salt="v2")
    assert calls == [1, 1]


def test_build_once_cleans_stale_trees(tmp_path):
    stale = tmp_path / "fixture_dir"
    stale.mkdir()
    (stale / "leftover.parquet").write_text("junk")
    marker = str(stale / "_COMPLETE")

    def build() -> None:
        os.makedirs(stale, exist_ok=True)
        (stale / "fresh.txt").write_text("data")

    build_once(marker, build, clean=[str(stale)])
    assert not (stale / "leftover.parquet").exists()
    assert (stale / "fresh.txt").exists()
    assert os.path.exists(marker)


def test_build_once_concurrent_single_build(tmp_path):
    marker = str(tmp_path / "m")
    calls = []
    gate = threading.Barrier(8)

    def build() -> None:
        calls.append(1)

    def run() -> None:
        gate.wait()
        build_once(marker, build)

    threads = [threading.Thread(target=run) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert calls == [1]


def test_build_once_deps_change_rebuilds(tmp_path):
    """Review fix (r11): the marker hash must cover the DEPENDENCY
    functions' source, not just the thin build closure — editing a
    callee rebuilds instead of serving the stale artifact."""
    marker = str(tmp_path / "m")
    calls = []

    def helper() -> str:
        return "v1"

    def build() -> None:
        calls.append(helper())

    build_once(marker, build, deps=(helper,))
    build_once(marker, build, deps=(helper,))
    assert calls == ["v1"]

    def helper() -> str:  # noqa: F811 — the "edited" dependency
        return "v2"

    def build() -> None:  # textually IDENTICAL closure
        calls.append(helper())

    build_once(marker, build, deps=(helper,))
    assert calls == ["v1", "v2"]


def test_module_deps_track_source_edits(tmp_path, monkeypatch):
    """A module passed in ``deps`` joins the hash with its whole source,
    so editing the module's file changes the definition."""
    import importlib

    (tmp_path / "fixture_dep_mod.py").write_text("X = 1\n")
    monkeypatch.syspath_prepend(str(tmp_path))
    mod = importlib.import_module("fixture_dep_mod")

    def build() -> None:
        pass

    before = definition_hash(build, deps=(mod,))
    (tmp_path / "fixture_dep_mod.py").write_text("X = 22\n")
    assert definition_hash(build, deps=(mod,)) != before


def test_health_delta_fixtures_hash_the_writer_and_log_modules(tmp_path, monkeypatch):
    """Every Delta fixture ``plans/health.py`` builds goes through
    ``_build_delta_fixture``, whose definition hash changes when the
    source of the writer, maintenance or either log module changes."""
    import ast
    import inspect

    from delta_lake_health_spark.operators import maintenance
    from delta_lake_health_spark.plans import health
    from delta_lake_health_spark.sources import delta_log, delta_writer, log_replay

    tree = ast.parse(inspect.getsource(health))
    callers = [
        fn.name
        for fn in ast.walk(tree)
        if isinstance(fn, ast.FunctionDef)
        and any(
            isinstance(c, ast.Call) and getattr(c.func, "id", None) == "build_once"
            for c in ast.walk(fn)
        )
    ]
    assert callers == ["_build_delta_fixture"]

    seen = {}
    monkeypatch.setattr(
        health, "build_once",
        lambda marker, build, clean=None, salt="", deps=(): seen.update(build=build, deps=deps),
    )
    health._build_delta_fixture(str(tmp_path / "m"), lambda: None, clean=[])
    base = definition_hash(seen["build"], deps=seen["deps"])
    real = inspect.getsource
    for mod in (delta_writer, maintenance, delta_log, log_replay):
        monkeypatch.setattr(
            inspect, "getsource",
            lambda o, _m=mod: real(o) + ("\n# edited\n" if o is _m else ""),
        )
        assert definition_hash(seen["build"], deps=seen["deps"]) != base, mod.__name__
    monkeypatch.setattr(inspect, "getsource", real)
