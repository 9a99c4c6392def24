#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload in one Python process against ``local[nproc]`` and
prints, as the last stdout line, one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it is a context record (host calibration, load average,
sample counts, failure fraction).  See ``perfbench/README.md``.

Run from the repository root.  Fixtures are generated into
``.perfbench_work/data`` on first use; each run's scratch (tmp dir,
Spark local dirs, snapshot roots, checkpoints, event logs, log copies)
lives in ``.perfbench_work/runs/<pid>`` and is removed when the run ends.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: workload name -> module implementing ``run(ctx) -> Result``
WORKLOADS = {
    "consume_interactive": "w_consume",
    "ingest_commit": "w_ingest",
}


def _isolate_env(run_dir: str, cpus: int) -> None:
    """Point every scratch location of the process, its JVM and its
    Python workers into the run dir; pin the engine's core count."""
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub))
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["TZ"] = "UTC"
    time.tzset()
    paths = [ROOT, HERE] + [p for p in os.environ.get(
        "PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR on next use


def _host_record() -> dict:
    """Host conditions recorded with every run (context, not a gate)."""
    rec: dict = {"loadavg": [round(x, 2) for x in os.getloadavg()]}
    try:
        import bench
    except ImportError:
        rec["cpu_calib"] = None
    else:
        rec["cpu_calib"] = bench.cpu_calibration()
    return rec


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "fluvio_duck_spark",
                                       "__init__.py")):
        print(f"perfbench: no fluvio_duck_spark package under {ROOT}; "
              "run from a repository checkout", file=sys.stderr)
        return 2

    sys.path[:0] = [ROOT, HERE]
    from harness import END_TO_END, SETUP_PHASES, WORK, Context, \
        per_layer_units

    record = _host_record()
    run_dir = os.path.join(WORK, "runs", str(os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        _isolate_env(run_dir, len(os.sched_getaffinity(0)))  # = nproc
        ctx = Context(args.seed, args.seconds, bool(args.trace), run_dir)
        module = importlib.import_module(WORKLOADS[args.workload])
        try:
            res = module.run(ctx)
        finally:
            ctx.stop_spark()
        if ctx.trace:
            module.finish_trace(ctx, res)
            res.per_layer.update({k: ctx.phases.get(k, 0.0)
                                  for k in SETUP_PHASES})
            ctx.tracer.dump(os.path.join(WORK, f"spans-{args.workload}.jsonl"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    res.end_to_end["setup_s"] = ctx.setup_s
    if ctx.trace:
        metrics = {name: {"value": res.per_layer.get(name, 0.0),
                          "unit": unit}
                   for name, unit in per_layer_units().items()}
    else:
        metrics = {name: {"value": res.end_to_end[name], "unit": unit}
                   for name, unit in END_TO_END.items()}
    if ctx.trace:
        # the traced run's own end-to-end values, to set against untraced
        # runs for the cost of the event log
        record["end_to_end_traced"] = res.end_to_end
    record.update(res.context)
    record.update({"workload": args.workload, "seed": args.seed,
                   "seconds": args.seconds, "trace": args.trace,
                   "phases": ctx.phases, "failed_frac": res.ops.failed_frac,
                   "errors": res.ops.errors})
    print(json.dumps({"context": record}, default=str))
    print(json.dumps({"correct": res.ops.failed == 0,
                      "attempted": res.ops.attempted,
                      "failed": res.ops.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
