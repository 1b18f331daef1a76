"""Per-layer tracing: runtime wrappers that record spans, and attribution of
Spark's event log to those spans.

A span is ``{id, name, layer, start, end, parent, op}`` (epoch seconds).
``Tracer.install`` swaps the package's public functions for wrappers that
open a span around each call; nothing in the package is edited. Spark's
own event log (switched on through ``SPARK_CONF_DIR`` before the JVM
starts) gives jobs, stages and task metrics, and each job is attributed
to the innermost span open at its submission time. Time windows are used
rather than job groups because jobs submitted from the package's own
thread pools do not inherit the caller's job group; with one client
thread driving a closed loop the windows are exact up to those pools,
whose spans are parented to the calling op.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import inspect
import json
import os
import sys
import threading
import time


# DeltaLog methods that are context managers or cheap accessors with no
# work of their own; wrapping them would only add noise.
_SKIP_METHODS = {"cached_actions", "require_readable"}


class Tracer:
    """Spans in memory. ``op`` is the id of the benchmark op in progress
    (None during set-up and checks); every span records it."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op: int | None = None
        self.wrapper_s = 0.0
        self._local = threading.local()
        self._main_stack: list[int] = []
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._main_stack if threading.current_thread() is threading.main_thread() else []
            self._local.stack = st
        return st

    def begin(self, name: str, layer: str) -> dict:
        st = self._stack()
        # a pool thread's first span hangs under the op the main thread has open
        parent = st[-1] if st else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            span = {"id": len(self.spans), "name": name, "layer": layer,
                    "start": time.time(), "end": None, "parent": parent, "op": self.op}
            self.spans.append(span)
        st.append(span["id"])
        return span

    def end(self, span: dict) -> None:
        span["end"] = time.time()
        st = self._stack()
        if st and st[-1] == span["id"]:
            st.pop()

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        """A span around the ``with`` body; yields it, or None when disabled."""
        s = self.begin(name, layer) if self.enabled else None
        try:
            yield s
        finally:
            if s is not None:
                self.end(s)

    # -- wrappers ------------------------------------------------------------
    def wrap(self, fn, name: str, layer: str, post=None):
        """``fn`` inside a span; ``post(span, args, result)`` may annotate
        the span after a successful call (counted as tracing overhead)."""
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            s = tracer.begin(name, layer)
            t1 = time.perf_counter()
            result = None
            try:
                result = fn(*args, **kwargs)
                return result
            finally:
                t2 = time.perf_counter()
                tracer.end(s)
                if post is not None and result is not None:
                    post(s, args, result)
                with tracer._lock:  # wrappers also run on the package's pool threads
                    tracer.wrapper_s += (t1 - t0) + (time.perf_counter() - t2)

        return wrapper

    def _patch(self, owner, attr: str, new) -> None:
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def patch_function(self, module, attr: str, layer: str, post=None) -> None:
        """Wrap ``module.attr`` and every package module that imported it
        by name, so ``from x import f`` call sites see the wrapper too."""
        orig = getattr(module, attr)
        w = self.wrap(orig, f"{layer}.{attr}", layer, post)
        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "") or ""
            if name.startswith("delta_lake_health_spark") and getattr(mod, attr, None) is orig:
                self._patch(mod, attr, w)

    def patch_methods(self, cls, layer: str, names: list[str] | None = None,
                      post=None) -> None:
        for attr, raw in list(vars(cls).items()):
            if names is not None and attr not in names:
                continue
            if attr.startswith("_") or attr in _SKIP_METHODS:
                continue
            if not inspect.isfunction(raw):  # skips properties and staticmethods
                continue
            self._patch(cls, attr, self.wrap(raw, f"{layer}.{attr}", layer, post))

    def install(self) -> None:
        """Wrap the public functions of every layer the benchmark measures."""
        from delta_lake_health_spark.operators import health, maintenance
        from delta_lake_health_spark.sources import catalog, delta_log, delta_writer

        for attr in ("load", "load_many"):
            self.patch_function(catalog, attr, "sources.catalog")
        self.patch_methods(delta_log.DeltaLog, "sources.delta_log")
        for attr in ("write", "merge", "update", "delete_with_dv", "delete"):
            self.patch_function(delta_writer, attr, "sources.delta_writer", _newest_commit)
        for attr in ("compact", "zorder_cluster"):
            self.patch_function(maintenance, attr, "operators.maintenance", _newest_commit)
        for attr in ("vacuum", "apply_deletion_vectors"):
            self.patch_function(maintenance, attr, "operators.maintenance")
        self.patch_methods(health.HealthAnalyzer, "operators.health", ["analyze_table"],
                           lambda s, args, r: s.update(files_listed=r.total_file_count))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()


def _newest_commit(span: dict, args: tuple, result) -> None:
    """Files and bytes the commit just made added (its ``add`` actions)."""
    table = next((a for a in args if isinstance(a, str)), None)
    if table is None:
        return
    log_dir = os.path.join(table, "_delta_log")
    commits = sorted(f for f in os.listdir(log_dir) if f.endswith(".json") and f[:20].isdigit())
    if not commits:
        return
    n = size = 0
    with open(os.path.join(log_dir, commits[-1])) as f:
        for line in f:
            add = json.loads(line).get("add")
            if add:
                n += 1
                size += int(add.get("size", 0))
    span.update(files_added=n, bytes_added=size)


# -- Spark event log -----------------------------------------------------------
def eventlog_conf(conf_dir: str, eventlog_dir: str | None, tmp_dir: str) -> None:
    """Write a ``spark-defaults.conf`` that keeps Spark's scratch files in
    ``tmp_dir``, keeps progress bars off stdout and, when ``eventlog_dir`` is
    given, turns the event log on."""
    os.makedirs(conf_dir, exist_ok=True)
    lines = [
        "spark.ui.showConsoleProgress false",
        f"spark.local.dir {tmp_dir}",
        # no hsperfdata file under /tmp: the run writes only inside the checkout
        f"spark.driver.extraJavaOptions -Djava.io.tmpdir={tmp_dir} -XX:-UsePerfData",
    ]
    if eventlog_dir:
        os.makedirs(eventlog_dir, exist_ok=True)
        lines += [
            "spark.eventLog.enabled true",
            f"spark.eventLog.dir file://{os.path.abspath(eventlog_dir)}",
            "spark.eventLog.compress false",
            "spark.eventLog.rolling.enabled false",
        ]
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as f:
        f.write("\n".join(lines) + "\n")


def read_eventlog(eventlog_dir: str) -> dict:
    """Jobs and per-job task totals from the (finished) event log."""
    files = sorted(p for p in glob.glob(os.path.join(eventlog_dir, "**"), recursive=True)
                   if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus"))
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {"submit": ev["Submission Time"] / 1000.0, "stages": 0,
                                 "task_s": 0.0, "sched_s": 0.0, "shuffle": 0,
                                 "spill": 0, "failed": 0}
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerStageCompleted":
                    jid = stage_job.get(ev["Stage Info"]["Stage ID"])
                    if jid is not None:
                        jobs[jid]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev.get("Stage ID"))
                    if jid is None:
                        continue
                    j = jobs[jid]
                    info = ev.get("Task Info", {})
                    m = ev.get("Task Metrics") or {}
                    run_s = m.get("Executor Run Time", 0) / 1000.0
                    j["task_s"] += run_s
                    dur = (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0
                    j["sched_s"] += max(0.0, dur - run_s
                                        - m.get("Executor Deserialize Time", 0) / 1000.0
                                        - m.get("Result Serialization Time", 0) / 1000.0)
                    sr = m.get("Shuffle Read Metrics", {})
                    sw = m.get("Shuffle Write Metrics", {})
                    j["shuffle"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                                     + sw.get("Shuffle Bytes Written", 0))
                    j["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    if info.get("Failed"):
                        j["failed"] += 1
    return jobs


def attribute_jobs(spans: list[dict], jobs: dict[int, dict]) -> dict[int | None, list[dict]]:
    """Map span id -> jobs submitted while it was the innermost open span
    (latest-started span whose window holds the submission time). Jobs
    outside every span map to ``None``."""
    ordered = sorted(spans, key=lambda s: s["start"])
    out: dict[int | None, list[dict]] = {}
    for j in jobs.values():
        t = j["submit"]
        best = None
        for s in ordered:
            if s["start"] > t:
                break
            if s["end"] is not None and s["end"] >= t:
                best = s["id"]
        out.setdefault(best, []).append(j)
    return out


def subtree_jobs(spans: list[dict], by_span: dict) -> dict[int, int]:
    """Jobs attributed to each span or any of its descendants."""
    n = {s["id"]: len(by_span.get(s["id"], [])) for s in spans}
    for s in sorted(spans, key=lambda s: -s["id"]):  # children have larger ids
        if s["parent"] is not None and s["parent"] in n:
            n[s["parent"]] += n[s["id"]]
    return n
