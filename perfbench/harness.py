"""Run-scoped state shared by the workload modules: the session, the
run's scratch paths, set-up phase timings, the tracer and the metric
declarations."""

from __future__ import annotations

import json
import os
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

#: End-to-end metric names and units, in BENCHMARK.json order.
END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "op_tail_ms": "ms",
    "op_rate_per_s": "1/s",
    "read_mean_ms": "ms",
}

#: Set-up phases; ``setup_s`` is their sum.
SETUP_PHASES = ("session.start_s", "fixtures.prep_s", "warmup_s")


def per_layer_units() -> dict[str, str]:
    """Per-layer metric names and units, as declared in BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer"]}


class Result:
    """What a workload hands back: end-to-end values, per-layer values
    (traced runs), the operation tally and free-form context."""

    def __init__(self, ops) -> None:
        self.ops = ops
        self.end_to_end: dict[str, float] = {}
        self.per_layer: dict[str, float] = {}
        self.context: dict = {}


class Context:
    """One run: arguments, scratch dir, session, set-up phase timings and
    the tracing objects (inert unless ``--trace 1``)."""

    def __init__(self, seed: int, seconds: float, trace: bool,
                 run_dir: str) -> None:
        from trace_hooks import Tracer

        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.run_dir = run_dir
        self.data_dir = os.path.join(WORK, "data")
        self.spark = None
        self.jobs = None
        self.tracer = Tracer(trace)
        self.phases: dict[str, float] = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    def phase(self, name: str, seconds: float) -> None:
        self.phases[name] = self.phases.get(name, 0.0) + seconds

    @property
    def setup_s(self) -> float:
        return sum(self.phases.get(k, 0.0) for k in SETUP_PHASES)

    def start_spark(self):
        """Start the session (timed as ``session.start_s``); in a traced
        run also the event log.  Workloads install the tracer's wrappers
        themselves, when set-up is done."""
        from fluvio_duck_spark.session import get_spark
        from trace_hooks import JobGroups

        conf = {
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.path('tmp')}",
        }
        if self.trace:
            os.makedirs(self.path("eventlog"))
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.path("eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", extra_conf=conf)
        self.phase("session.start_s", time.perf_counter() - t0)
        self.jobs = JobGroups(self.spark, self.tracer)
        return self.spark

    def stop_spark(self) -> None:
        """Stop the session and the JVM and wait for the JVM to exit
        (which also flushes the event log)."""
        from pyspark import SparkContext

        self.tracer.uninstall()
        if self.spark is None:
            return
        self.spark.stop()
        self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None

    def add_event_log_layers(self, res, n_ops: int,
                             result_rows: int | None = None) -> None:
        """Executor, shuffle and seam totals of the traced operations,
        from the event log, per operation; with ``result_rows``, also
        the scan waste ratio.  Traced runs, after ``stop_spark``."""
        from trace_hooks import event_log_totals

        tot = event_log_totals(self.path("eventlog"))
        n = max(1, n_ops)
        for k in ("executor.run_s", "executor.cpu_s", "executor.gc_s",
                  "shuffle.read_bytes", "shuffle.write_bytes", "spill.bytes",
                  "seams.python_rows"):
            res.per_layer[k] = tot.get(k, 0.0) / n
        if result_rows:
            res.per_layer["sources.scan_rows_per_result_row"] = (
                tot.get("sources.scan_rows", 0.0) / result_rows)

    def fixture(self, sf: float) -> str:
        """The generated ``events`` table at scale ``sf`` (built once per
        checkout)."""
        import datagen

        return datagen.build(self.data_dir, sf)

    def pp_log(self, sf_dir: str) -> str:
        """``pplog.write_pp_log_dir`` of ``sf_dir``, built once into the
        data cache: the function keeps its scratch under
        ``tempfile.gettempdir()``, which points there for the call.  The
        result is shared read-only; a workload that appends copies it."""
        import tempfile

        from fluvio_duck_spark.sources.pplog import write_pp_log_dir

        prev = tempfile.tempdir
        tempfile.tempdir = os.path.join(self.data_dir, "pplog")
        os.makedirs(tempfile.tempdir, exist_ok=True)
        try:
            return write_pp_log_dir(self.spark, sf_dir)
        finally:
            tempfile.tempdir = prev
