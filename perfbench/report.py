#!/usr/bin/env python3
"""Full report: every workload untraced and traced, side by side.

    python3 perfbench/report.py --seed 1 --seconds 10 [--workloads health_check,query_mix]

For each workload this runs ``run.py`` twice in fresh processes, once with
``--trace 0`` and once with ``--trace 1``, and prints:

- every end-to-end metric with its unit, plus the op-class latencies,
  ``failed_frac``, ``op_p90_s`` (when a run has enough ops) and
  ``space_amp`` (maintain_cycle);
- every per-layer metric of the traced run;
- tracing overhead: traced minus untraced for each end-to-end metric, and
  the wrappers' own bookkeeping time;
- host-noise context (load average, CPU steal) of both runs.

``--json FILE`` writes the collected results as one JSON document.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import END_TO_END, unit_of  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def _one(workload: str, seed: int, seconds: float, trace: int, tmp: str) -> dict:
    out = os.path.join(tmp, f"{workload}-{trace}.json")
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace), "--out", out]
    proc = subprocess.run(cmd, cwd=os.path.dirname(HERE), stdout=subprocess.PIPE,
                          stderr=subprocess.PIPE, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"{workload} (trace={trace}) exited with {proc.returncode}")
    with open(out) as f:
        return json.load(f)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--workloads", default="delta_cycle,query_mix",
                    help=f"comma-separated, from {sorted(WORKLOADS)}")
    ap.add_argument("--json", help="write all results here")
    args = ap.parse_args()

    results = {}
    root = os.path.join(os.path.dirname(HERE), ".perfbench_work")
    os.makedirs(root, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=root) as tmp:
        for w in args.workloads.split(","):
            results[w] = {t: _one(w, args.seed, args.seconds, t, tmp) for t in (0, 1)}
    try:
        os.rmdir(root)
    except OSError:
        pass

    for w, r in results.items():
        plain, traced = r[0], r[1]
        print(f"== {w}  seed={args.seed}  ops={len(plain['ops'])}  "
              f"failed={sum(not o['ok'] for o in plain['ops'])}")
        print(f"   host untraced {plain['host']}  traced {traced['host']}")
        print(f"   {'metric':<32}{'untraced':>14}{'traced':>14}{'overhead':>10}  unit")
        for k in END_TO_END:
            a, b = plain["end_to_end"][k], traced["end_to_end"][k]
            over = f"{(b - a) / a:+.1%}" if a and b is not None else ""
            fa, fb = ("n/a" if x is None else f"{x:.4f}" for x in (a, b))
            print(f"   {k:<32}{fa:>14}{fb:>14}{over:>10}  {unit_of(k)}")
        print("   per-layer (traced run):")
        for k, v in traced["per_layer"].items():
            print(f"   {k:<32}{v:>14.4f}  {unit_of(k)}")
    if args.json:
        with open(args.json, "w") as f:
            json.dump(results, f, indent=1, default=str)


if __name__ == "__main__":
    main()
