#!/usr/bin/env python3
"""Closed-loop benchmark of the Delta health engine.

    python3 perfbench/run.py --workload delta_cycle --seed 1 --seconds 10 --trace 0

Run from the repository root. One client (this process's main thread)
drives ``local[N]`` (N = min(4, available CPUs)) through one workload:

- ``delta_cycle``    one round of ``health_check`` then one cycle of
                     ``maintain_cycle``, on one session;
- ``health_check``   health reports, history, snapshot counts and op counts
                     over a pool of Delta tables, with one small append per
                     four reads;
- ``maintain_cycle`` appends, merge, DV delete, update, compact, z-order,
                     checkpoint, vacuum and a health report on one table;
- ``query_mix``      five registry queries on plain parquet at sf0.1, each
                     executed through a noop sink.

All inputs are generated inside the checkout: the Delta workloads' rows
from ``--seed``; query_mix's tables from a fixed seed, so their expected
results can be stored, with ``--seed`` ordering the queries. A run measures
as many whole units of ops (one round, cycle or pass) as fit in
``--seconds``, and at least one. Every op's output is checked outside its
timed window. The last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0``
the metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones
(spans from runtime wrappers plus Spark's event log). A human-readable
summary, the op-class latencies and host-noise context go to stderr;
``--out FILE`` also writes everything as JSON.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

from stats import OpLog, host_context, host_sample, median, percentile, vm_hwm_mb  # noqa: E402

# Every end-to-end metric a run reports, with its unit. GATED are the ones
# steady enough across seeds to bound (BENCHMARK.json's end_to_end); the
# rest ride along with the per-layer metrics of a traced run.
END_TO_END = {
    "setup_s": "s", "ops_per_s": "1/s", "op_p50_s": "s", "op_p90_s": "s",
    "report_p50_s": "s", "commit_p50_s": "s", "maintain_p50_s": "s", "query_p50_s": "s",
    "failed_frac": "ratio", "peak_rss_mb": "MB", "space_amp": "ratio",
}
GATED = ("setup_s", "ops_per_s")
OP_CLASSES = {
    "report_p50_s": ("report",),
    "commit_p50_s": ("append", "merge", "update", "delete_dv"),
    "maintain_p50_s": ("compact", "zorder", "checkpoint", "vacuum"),
}
MAX_MEASURE_S = 120.0  # cap on the measuring time, whatever --seconds says


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _prepare_env(work: str, trace: bool) -> str | None:
    from spans import eventlog_conf

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    eventlog = os.path.join(work, "eventlog") if trace else None
    eventlog_conf(os.path.join(work, "conf"), eventlog, tmp)
    try:
        cpus = len(os.sched_getaffinity(0))
    except AttributeError:
        cpus = os.cpu_count() or 1
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(max(1, min(4, cpus))),
        "SPARK_CONF_DIR": os.path.join(work, "conf"),
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
    })
    import tempfile

    tempfile.tempdir = tmp
    return eventlog


def _storage_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="also write the full result (all metrics, ops, host) here")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "delta_lake_health_spark", "session.py")):
        _fail("delta_lake_health_spark is not in this checkout; run from the repository root")
    for mod in ("pyspark", "pyarrow", "numpy"):
        if importlib.util.find_spec(mod) is None:
            _fail(f"cannot import {mod}")
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    eventlog = _prepare_env(work, bool(args.trace))
    try:
        result = _run(args, work, eventlog)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run is using it
        except OSError:
            pass
    if args.out:
        with open(args.out, "w") as f:
            json.dump(result, f, indent=1, default=str)
    _summary(args.workload, result)
    print(json.dumps(result["final"]))


def _run(args, work: str, eventlog: str | None) -> dict:
    from spans import Tracer, read_eventlog
    from workloads import WORKLOADS, plan_queries

    tracer = Tracer(enabled=bool(args.trace))
    cls = WORKLOADS[args.workload]
    if cls.name == "query_mix":
        plan_queries()  # import the plan modules before wrappers are installed
    if args.trace:
        tracer.install()
    from delta_lake_health_spark.session import get_spark

    t0 = time.perf_counter()
    with tracer.span("get_spark", "session"):
        spark = get_spark("perfbench")
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    host0 = host_sample()
    oplog = OpLog()
    wl = cls(spark, work, args.seed, tracer, oplog, time.perf_counter)
    retained = [0.0]
    if args.trace:
        def probe():
            retained[0] = max(retained[0], _storage_mb(spark))
        wl.after_op = probe
    try:
        with tracer.span("setup", "bench.setup"):
            wl.setup()
        setup_s = time.time() - T_START
        m0 = time.perf_counter()
        units = 0
        while True:  # whole units only, as many as fit in --seconds (at least one)
            u0 = time.perf_counter()
            wl.unit()
            units += 1
            now = time.perf_counter()
            if now - m0 + (now - u0) > min(args.seconds, MAX_MEASURE_S):
                break
        wall = time.perf_counter() - m0
        extra = wl.extra()
        jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        peak_rss = vm_hwm_mb(os.getpid()) + vm_hwm_mb(jvm_pid)
    finally:
        _stop(spark)
    host1 = host_sample()

    from workloads import QUERY_MIX

    ok_lat = oplog.latencies()
    e2e = {
        "setup_s": setup_s,
        "ops_per_s": len(ok_lat) / max(1e-9, wall - oplog.check_s),
        "op_p50_s": median(ok_lat),
        "op_p90_s": percentile(ok_lat, 0.9),  # None below 100 ops
        **{k: median(oplog.latencies(v)) for k, v in OP_CLASSES.items()},
        "query_p50_s": median(oplog.latencies(QUERY_MIX)),
        "failed_frac": oplog.failed_frac,
        "peak_rss_mb": peak_rss,
        "space_amp": 0.0,  # maintain_cycle only
        **extra,
    }
    out = {
        "workload": args.workload, "seed": args.seed, "units": units,
        "measured_s": wall, "check_s": oplog.check_s, "session_s": session_s,
        "end_to_end": e2e, "host": host_context(host0, host1), "ops": oplog.ops,
    }
    metrics = {k: e2e[k] for k in GATED}
    if args.trace:
        from layers import per_layer

        metrics = per_layer(tracer.spans, read_eventlog(eventlog), oplog.attempted,
                            session_s, retained[0], tracer.wrapper_s)
        out["per_layer"] = dict(metrics)
        # the ungated end-to-end numbers ride along (zero where a class is absent)
        metrics.update({k: e2e[k] or 0.0 for k in END_TO_END if k not in GATED + ("op_p90_s",)})
    out["final"] = {
        "correct": oplog.failed == 0,
        "attempted": oplog.attempted,
        "failed": oplog.failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }
    return out


def unit_of(name: str) -> str:
    if name in END_TO_END:
        return END_TO_END[name]
    if name.endswith("_s") or ".commit_s." in name:
        return "s"
    if name.endswith("_frac"):
        return "ratio"
    if name.endswith("_mb"):
        return "MB"
    if "bytes" in name:
        return "bytes"
    return "count"


def _summary(workload: str, r: dict) -> None:
    err = sys.stderr
    print(f"# perfbench {workload} seed={r['seed']} units={r['units']} "
          f"measured={r['measured_s']:.1f}s checks={r['check_s']:.1f}s host={r['host']}", file=err)
    for k, v in r["end_to_end"].items():
        shown = "n/a (needs >=100 ops)" if v is None else f"{v:>12.4f}"
        print(f"#   {k:<16} {shown} {unit_of(k)}", file=err)
    for o in r["ops"]:
        if not o["ok"]:
            print(f"#   FAILED {o['kind']}: {o['detail']}", file=err)


if __name__ == "__main__":
    main()
