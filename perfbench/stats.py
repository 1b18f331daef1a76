"""Pure helpers: percentiles, op records, result checksums, host probes.

Nothing here touches Spark, so the unit tests in ``test_perfbench.py`` run
without a session.
"""

from __future__ import annotations

import datetime
import decimal
import math
import statistics

# A tail percentile is reported only when at least this many samples lie
# beyond it, so p90 needs >= 100 ops in a run.
MIN_TAIL_SAMPLES = 10


def percentile(values: list[float], q: float) -> float | None:
    """The ``q``-quantile (0 < q < 1) by linear interpolation, or ``None``
    when fewer than ``MIN_TAIL_SAMPLES`` samples lie beyond it."""
    n = len(values)
    if n == 0 or n * (1.0 - q) < MIN_TAIL_SAMPLES - 1e-9:
        return None
    s = sorted(values)
    pos = (n - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


class OpLog:
    """Closed-loop op records: one entry per attempted op.

    An op fails when it raises or when its output check fails; both count
    in ``failed`` and in ``failed_frac``. Only ops that completed and
    passed their check contribute latencies. ``check_s`` is the time spent
    in output checks, which throughput leaves out."""

    def __init__(self) -> None:
        self.ops: list[dict] = []
        self.check_s = 0.0

    def record(self, kind: str, seconds: float, ok: bool, detail: str = "") -> None:
        self.ops.append({"kind": kind, "s": seconds, "ok": ok, "detail": detail})

    @property
    def attempted(self) -> int:
        return len(self.ops)

    @property
    def failed(self) -> int:
        return sum(1 for o in self.ops if not o["ok"])

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.ops else 0.0

    def latencies(self, kinds: tuple[str, ...] | None = None) -> list[float]:
        return [
            o["s"] for o in self.ops
            if o["ok"] and (kinds is None or o["kind"] in kinds)
        ]


_EPOCH = datetime.datetime(1970, 1, 1)
_EPOCH_DATE = datetime.date(1970, 1, 1)
_US = datetime.timedelta(microseconds=1)


def _summable(v) -> float:
    """The per-value term of a column checksum; mirrors ``checksum_exprs``
    in ``workloads.py`` (numbers as themselves, strings/bytes/lists by
    length, timestamps as epoch micros, dates as epoch days)."""
    if isinstance(v, (bool, int, float, decimal.Decimal)):
        return float(v)
    if isinstance(v, (str, bytes, bytearray, list, tuple, dict)):
        return float(len(v))
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return float((v - _EPOCH) // _US)
    if isinstance(v, datetime.date):
        return float((v - _EPOCH_DATE).days)
    return 0.0


def result_checksums(columns: list[str], rows: list[tuple]) -> dict:
    """Order-insensitive digest of a result: the row count and, per column
    (keyed by lower-cased name), its non-null count and the sum of its
    values' terms."""
    cols = {}
    for i, c in enumerate(columns):
        vals = [r[i] for r in rows if r[i] is not None]
        cols[c.lower()] = [len(vals), math.fsum(_summable(v) for v in vals)]
    return {"rows": len(rows), "columns": cols}


def checksum_mismatches(got: dict, want: dict, rel: float = 1e-6) -> list[str]:
    """Differences between two ``result_checksums``; sums agree within
    ``rel`` (float aggregation order differs between engines)."""
    out = []
    if got["rows"] != want["rows"]:
        out.append(f"rows {got['rows']} != {want['rows']}")
    if set(got["columns"]) != set(want["columns"]):
        return out + [f"columns {sorted(got['columns'])} != {sorted(want['columns'])}"]
    for c, (n, s) in want["columns"].items():
        gn, gs = got["columns"][c]
        if gn != n:
            out.append(f"{c}: non-null {gn} != {n}")
        both_nan = math.isnan(gs) and math.isnan(s)
        if not both_nan and abs(gs - s) > rel * max(1.0, abs(gs), abs(s)):
            out.append(f"{c}: sum {gs!r} != {s!r}")
    return out


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time per span id: duration minus the union of time its direct
    children cover (children are clipped to the parent's window)."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        ivs = sorted(
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in children.get(s["id"], [])
        )
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in ivs:
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = max(0.0, (s["end"] - s["start"]) - covered)
    return out


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of ``pid`` in MB, 0 if unreadable."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def host_sample() -> dict:
    """Load average and cumulative CPU steal/total jiffies, for noise context."""
    out: dict = {}
    try:
        with open("/proc/loadavg") as f:
            out["loadavg"] = [float(x) for x in f.read().split()[:3]]
        with open("/proc/stat") as f:
            cpu = [int(x) for x in f.readline().split()[1:]]
        out["steal"] = cpu[7] if len(cpu) > 7 else 0
        out["jiffies"] = sum(cpu)
    except (OSError, ValueError):
        pass
    return out


def host_context(start: dict, end: dict) -> dict:
    """Load averages at both ends and the steal share of CPU time between."""
    ctx = {"loadavg_start": start.get("loadavg"), "loadavg_end": end.get("loadavg")}
    dj = end.get("jiffies", 0) - start.get("jiffies", 0)
    if dj > 0:
        ctx["steal_frac"] = round((end.get("steal", 0) - start.get("steal", 0)) / dj, 4)
    return ctx
