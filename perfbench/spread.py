#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload <name> --seeds 1-10 [--seconds S]

Runs ``perfbench/run.py`` once per seed (sequentially, untraced) and
prints, per metric, the median, the quartile spread ``(Q3 - Q1) /
median`` (``statistics.quantiles(values, n=4)``) and the bound from
BENCHMARK.json; a spread at or above a third of its bound is flagged.
Also prints each run's wall time.  Run from the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

from metrics import relative_iqr

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float, default=None)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    seconds = args.seconds or spec["run_seconds"]
    values: dict[str, list[float]] = {}
    for seed in _seeds(args.seeds):
        t0 = time.time()
        out = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, timeout=600)
        wall = time.time() - t0
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            print(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
            return 1
        res = json.loads(lines[-1])
        ctx = json.loads(lines[-2])["context"] if len(lines) > 1 else {}
        calib = ctx.get("cpu_calib") or {}
        print(f"seed {seed}: wall {wall:.1f}s st_sec={calib.get('st_sec')} "
              f"correct={res['correct']} "
              f"attempted={res['attempted']} failed={res['failed']} "
              + " ".join(f"{k}={v['value']:.4g}"
                         for k, v in res["metrics"].items()), flush=True)
        if "p50_ms_by_kind" in ctx:
            print("  p50 by kind:", ctx["p50_ms_by_kind"])
        if not res["correct"]:
            print("  errors:", ctx.get("errors"))
            print("  stderr tail:", out.stderr[-3000:])
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    for k, vals in values.items():
        spread = relative_iqr(vals) if len(vals) >= 2 else float("nan")
        flag = "" if spread < bounds[k] / 3 else "  <-- above bound/3"
        print(f"{k:>16}: median {statistics.median(vals):.4g}  "
              f"spread {spread:.3f}  bound {bounds[k]}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
