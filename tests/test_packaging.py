"""Installable packaging (VERDICT r10 "What's missing"): the repo is a
pyproject-built distributable, not just a source tree. A fresh venv
installs it (the offline-capable legacy-editable path — the PEP 660
path additionally needs the `wheel` package, which this container
cannot fetch) and imports/uses the package from a foreign cwd with no
sys.path games."""

from __future__ import annotations

import os
import subprocess
import sys
import tomllib

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_pyproject_metadata():
    with open(os.path.join(REPO, "pyproject.toml"), "rb") as fh:
        meta = tomllib.load(fh)
    proj = meta["project"]
    assert proj["name"] == "delta-lake-health-spark"
    deps = " ".join(proj["dependencies"])
    for need in ("pyspark", "pyarrow", "pandas", "numpy", "duckdb"):
        assert need in deps, f"missing dependency pin: {need}"
    assert meta["build-system"]["build-backend"] == (
        "setuptools.build_meta"
    )
    finds = meta["tool"]["setuptools"]["packages"]["find"]["include"]
    assert "delta_lake_health_spark*" in finds


@pytest.mark.slow
def test_fresh_venv_install_and_import(tmp_path):
    venv = str(tmp_path / "venv")
    subprocess.run(
        [sys.executable, "-m", "venv", "--system-site-packages", venv],
        check=True,
    )
    py = os.path.join(venv, "bin", "python")
    subprocess.run(
        [py, "setup.py", "develop", "--no-deps"],
        cwd=REPO,
        check=True,
        capture_output=True,
    )
    probe = (
        "import numpy as np\n"
        "import delta_lake_health_spark\n"
        "from delta_lake_health_spark.operators.audio_fp import"
        " fingerprint_samples\n"
        "from delta_lake_health_spark.plans import analytics, text\n"
        "fps = fingerprint_samples(np.sin(np.arange(600) * 0.3))\n"
        "assert len(fps) > 0\n"
        "assert len(analytics.QUERIES) >= 38\n"
        "print('OK', delta_lake_health_spark.__file__)\n"
    )
    out = subprocess.run(
        [py, "-c", probe],
        cwd=str(tmp_path),  # foreign cwd: no source-tree sys.path help
        check=True,
        capture_output=True,
        text=True,
    )
    assert "OK" in out.stdout


def test_lockfile_pins_reproduce_this_env():
    """VERDICT r11 #8: requirements.lock pins exact versions for the
    full pyproject dependency closure, and every pin matches the
    version installed in the verified working environment — i.e. an
    offline `pip install --no-deps -r requirements.lock` into a clean
    env reproduces exactly what the test suite runs against."""
    from importlib.metadata import version

    pins: dict[str, str] = {}
    with open(os.path.join(REPO, "requirements.lock")) as fh:
        for line in fh:
            line = line.strip()
            if not line or line.startswith("#"):
                continue
            name, _, ver = line.partition("==")
            assert ver, f"lockfile line not exact-pinned: {line!r}"
            pins[name] = ver
    # the declared (non-transitive) dependency set must all be pinned
    with open(os.path.join(REPO, "pyproject.toml"), "rb") as fh:
        meta = tomllib.load(fh)
    import re

    declared = [
        re.split(r"[<>=!~\[]", d)[0].strip()
        for d in meta["project"]["dependencies"]
        + meta["project"]["optional-dependencies"]["test"]
    ]
    for name in declared:
        assert name in pins, f"declared dependency not locked: {name}"
    for name, ver in pins.items():
        assert version(name) == ver, (
            f"lock pin {name}=={ver} does not match the installed "
            f"{version(name)} — regenerate requirements.lock"
        )


def test_only_log_replay_reads_the_delta_log():
    """Structure guard: ``sources/log_replay.py`` is the one driver-side
    reader and checkpoint writer of ``_delta_log``. No other package
    function lists commit files (a ``.json`` name test plus ``isdigit``),
    reads a log parquet (checkpoint or sidecar) with pyarrow, writes
    one (``pq.write_table``, or a DataFrame ``.write`` into the log
    directory), or reads the log with Spark (``.json(`` or
    ``read.parquet(`` next to a log file name) — a second copy of the
    replay is how the copies came to disagree."""
    import ast
    import re

    lists_commits = (re.compile(r"""['"]\.json['"]"""), re.compile(r"\.isdigit\("))
    reads_log_parquet = (
        re.compile(r"\bpq\.(read_table|read_schema|read_metadata|ParquetFile)\b"),
        re.compile(r"_delta_log|LOG_DIR|log_dir|_sidecars|checkpoint"),
    )
    writes_log_parquet = (
        re.compile(r"\bpq\.write_table\b|\.write\s*\.\s*(parquet|save|mode|format)\b"),
        re.compile(r"_delta_log|LOG_DIR|log_dir|_sidecars"),
    )
    reads_log_with_spark = (
        re.compile(r"\.json\(|\bread\s*\.\s*parquet\("),
        re.compile(r"\b(commit_path|checkpoint_file_names|sidecar_names|_sidecars|LOG_DIR|log_dir)\b"),
    )
    # _log_token is a directory freshness token (entry count + newest
    # commit's identity from one os.listdir), not a replay: it must not
    # parse anything, so it does not go through log_replay. build_fixture
    # creates the fixture's _delta_log directory and writes a deletion
    # vector sidecar under _deletes/ (table data, not the log).
    # convert_to_delta reads the schema of the plain parquet it converts
    # and names LOG_DIR only to refuse a table that already has a log.
    exempt = {
        ("operators/text_index.py", "_log_token", "lists commit files"),
        ("sources/fixture.py", "build_fixture", "writes a log parquet"),
        ("sources/delta_writer.py", "convert_to_delta", "reads the log with Spark"),
    }
    pkg = os.path.join(REPO, "delta_lake_health_spark")
    offenders = []
    for root, _, files in os.walk(pkg):
        for name in files:
            rel = os.path.relpath(os.path.join(root, name), pkg)
            if not name.endswith(".py") or rel == os.path.join(
                "sources", "log_replay.py"
            ):
                continue
            with open(os.path.join(root, name)) as fh:
                src = fh.read()
            for node in ast.walk(ast.parse(src)):
                if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    continue
                body = ast.get_source_segment(src, node) or ""
                for what, (a, b) in (
                    ("lists commit files", lists_commits),
                    ("reads a log parquet", reads_log_parquet),
                    ("writes a log parquet", writes_log_parquet),
                    ("reads the log with Spark", reads_log_with_spark),
                ):
                    if a.search(body) and b.search(body) and (
                        (rel.replace(os.sep, "/"), node.name, what) not in exempt
                    ):
                        offenders.append(f"{rel}:{node.lineno} {node.name} {what}")
    assert not offenders, offenders


def test_one_file_rewrite_path():
    """Structure guard: every operation that writes data files goes
    through one helper, ``delta_writer._write_files`` — the only package
    function that diffs the table listing against the one taken before
    its write — and no maintenance operation commits at
    ``current_version() + 1``: such a blind commit skips the conflict
    check, and rows deleted while it ran come back."""
    import ast
    import re

    diffs_listing = re.compile(
        r"_list_parquet_rel\([^()]*\)(\.keys\(\))?\s*-\s*before\b"
    )
    blind_version = re.compile(r"current_version\([^()]*\)\s*\+\s*1")
    pkg = os.path.join(REPO, "delta_lake_health_spark")
    differs, blind = [], []
    for root, _, files in os.walk(pkg):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            rel = os.path.relpath(path, pkg).replace(os.sep, "/")
            with open(path) as fh:
                src = fh.read()
            for node in ast.walk(ast.parse(src)):
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    body = ast.get_source_segment(src, node) or ""
                    if diffs_listing.search(body):
                        differs.append(f"{rel}::{node.name}")
                if (
                    rel == "operators/maintenance.py"
                    and isinstance(node, ast.Call)
                    and getattr(node.func, "attr", getattr(node.func, "id", None))
                    == "_commit"
                    and blind_version.search(ast.get_source_segment(src, node) or "")
                ):
                    blind.append(f"{rel}:{node.lineno}")
    assert differs == ["sources/delta_writer.py::_write_files"], differs
    assert not blind, blind


def test_one_snapshot_per_operation():
    """Structure guard: a writer or maintenance function that reads a
    base snapshot (``_base_snapshot``, ``log_replay.Snapshot`` or
    ``log_replay.table_snapshot``) scans
    that snapshot through ``delta_log.read_files`` and builds no
    ``DeltaLog`` — every ``DeltaLog`` call lists the log again and may
    read a newer version — except to write a checkpoint. The DeltaLog
    scans over a second listing are gone."""
    import ast

    from delta_lake_health_spark.sources.delta_log import DeltaLog

    pkg = os.path.join(REPO, "delta_lake_health_spark")
    offenders = []
    for rel in (
        "sources/delta_writer.py", "operators/maintenance.py",
        "sources/cdf.py", "operators/mv.py", "operators/sync.py",
        "operators/iceberg_uniform.py",
    ):
        with open(os.path.join(pkg, rel)) as fh:
            src = fh.read()
        tree = ast.parse(src)
        parent = {
            child: node
            for node in ast.walk(tree)
            for child in ast.iter_child_nodes(node)
        }
        for fn in ast.walk(tree):
            if not isinstance(fn, ast.FunctionDef):
                continue
            body = ast.get_source_segment(src, fn) or ""
            if not any(
                read in body for read in
                ("_base_snapshot(", "log_replay.Snapshot(", "table_snapshot(")
            ):
                continue
            for node in ast.walk(fn):
                if not isinstance(node, ast.Call):
                    continue
                name = getattr(node.func, "id", getattr(node.func, "attr", None))
                up = parent.get(node)
                if name == "DeltaLog" and not (
                    isinstance(up, ast.Attribute) and up.attr == "checkpoint"
                ):
                    offenders.append(f"{rel}::{fn.name}:{node.lineno}")
    assert not offenders, offenders
    for gone in ("_read", "read_data_files", "snapshot_with_positions"):
        assert not hasattr(DeltaLog, gone), gone


def test_one_metadata_commit_path():
    """Structure guard: every commit — writes, table-state changes and
    table creations — builds its metaData with
    ``delta_writer._metadata_action`` and goes through
    ``commit_mutation`` at the version it read. Only ``commit_mutation``
    calls ``_commit`` (any other caller would skip the conflict check),
    and only ``_metadata_action`` holds a metaData literal. The test
    fixture builder writes raw logs by design and is exempt."""
    import ast

    creators = {"commit_mutation"}
    pkg = os.path.join(REPO, "delta_lake_health_spark")
    callers, literals = [], []
    for root, _, files in os.walk(pkg):
        for name in files:
            path = os.path.join(root, name)
            rel = os.path.relpath(path, pkg).replace(os.sep, "/")
            if not name.endswith(".py") or rel == "sources/fixture.py":
                continue
            with open(path) as fh:
                tree = ast.parse(fh.read())
            parents = {}
            for node in ast.walk(tree):
                for child in ast.iter_child_nodes(node):
                    parents[child] = node

            def enclosing(node):
                while node in parents:
                    node = parents[node]
                    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                        return node.name
                return "<module>"

            for node in ast.walk(tree):
                if isinstance(node, ast.Call) and getattr(
                    node.func, "attr", getattr(node.func, "id", None)
                ) == "_commit":
                    fn = enclosing(node)
                    if fn not in creators:
                        callers.append(f"{rel}::{fn}")
                if isinstance(node, ast.Dict) and any(
                    isinstance(k, ast.Constant) and k.value == "metaData"
                    for k in node.keys
                ):
                    fn = enclosing(node)
                    if fn != "_metadata_action":
                        literals.append(f"{rel}::{fn}")
    assert not callers, callers
    assert not literals, literals
