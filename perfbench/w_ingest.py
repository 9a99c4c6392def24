"""``ingest_commit``: open-loop produce → stream → snapshot commits, with
snapshot reads beside the writes.

A generator thread appends to the log on a fixed schedule (``RATE``
records/s in chunks of ``CHUNK``, round-robin over the 4 partitions),
whether or not the system keeps up; each record is stamped with its
chunk's due time, and the payloads (``{"k": n}``) are seeded.  A
``RecordServer`` serves that log, a benchmark-owned copy of the sf0.01
per-partition log.  A ``readStream.format("fluvio").option("server", …)``
query with a processing-time trigger maps ``-c k:i=k`` in
``foreachBatch``, aggregates per partition and commits with
``snapshots.append``.  Meanwhile the main thread reads the latest version
(``snapshots.read_version_as_of`` plus an aggregate)
``READS_PER_COMMIT`` times after each commit, in the gap before the next
micro-batch starts: a reader refreshing on every new version.

The generator writes each chunk as a new fragment itself
(``append_fragment``) rather than through ``loopback.server_produce``:
``RecordServer.produce_ipc`` stages its fragment as
``produced-<base>.parquet.inprogress`` inside the partition directory,
and a fetch that lists the directory meanwhile opens that file and
fails, so concurrent produce and fetch fail at random.  The traced run
still times ``server_produce``, with serial calls once the stream has
stopped.

A chunk's freshness runs from its due time to the end of the first
append whose committed offsets cover it (``metrics.attribute_freshness``),
so a generator stall counts against it.  After the window the stream
drains, and every partition's committed ``sum(n)`` and ``sum(k)`` must
equal what the log holds and ``max(max_off)`` must equal LEO - 1: an
exactly-once check.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import threading
import time

from harness import Result
from metrics import OpCount, attribute_freshness, median, percentile

SF = 0.01
RATE = 1000          # records per second offered
CHUNK = 50           # records per appended chunk
TRIGGER = "3 seconds"
READS_PER_COMMIT = 3  # snapshot reads after each commit
WARM_S = 6.0         # produce this long before the measured window
TAIL_PCT = 95
DRAIN_TIMEOUT_S = 60
N_PARTITIONS = 4
PRODUCE_SAMPLES = 40  # serial server_produce calls timed in a traced run


def _committed_ends(ckpt: str, batch_id: int) -> dict[int, int]:
    """Per-partition end offsets (exclusive) of micro-batch ``batch_id``,
    from the query's offset log (written before the batch runs)."""
    with open(os.path.join(ckpt, "offsets", str(batch_id))) as fh:
        last = fh.read().strip().splitlines()[-1]
    ends = json.loads(last)
    if isinstance(ends, str):
        ends = json.loads(ends)
    return {int(p): int(v) for p, v in ends.items()}


def append_fragment(part_dir: str, stage_dir: str, base: int, tbl) -> None:
    """Append ``(timestamp, value)`` rows to one partition log at offsets
    ``base, base + 1, ...``, as the fragment ``RecordServer.produce_ipc``
    would write (``produced-<base>.parquet``).  The file is written
    outside the log and renamed in, so no reader sees it half-written."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = pa.table({
        "offset": pa.array(range(base, base + tbl.num_rows), pa.int64()),
        "timestamp": tbl["timestamp"],
        "value": tbl["value"],
    })
    name = f"produced-{base:012d}.parquet"
    pq.write_table(out, os.path.join(stage_dir, name))
    os.rename(os.path.join(stage_dir, name), os.path.join(part_dir, name))


class Generator(threading.Thread):
    """Open-loop producer: chunk ``i`` is due at ``t0 + i * CHUNK/RATE``
    and goes to partition ``i % 4``."""

    def __init__(self, log_dir: str, stage_dir: str, seed: int,
                 seconds: float) -> None:
        from fluvio_duck_spark.sources.pplog import (
            pp_footer_leo,
            pp_partition_dirs,
        )

        super().__init__(name="perfbench-generator")
        self.stage_dir, self.seconds = stage_dir, seconds
        self.dirs = pp_partition_dirs(log_dir)
        self.leo = {p: pp_footer_leo(d) for p, d in self.dirs.items()}
        self.rng = random.Random(seed)
        self.chunks: list[tuple[float, int, int]] = []
        self.late: list[float] = []
        self.sum_k = [0] * N_PARTITIONS
        self.n = [0] * N_PARTITIONS
        self.error: BaseException | None = None
        self.t0 = time.time()

    def run(self) -> None:
        import pyarrow as pa

        interval = CHUNK / RATE
        t0 = self.t0 = time.time()
        try:
            for i in range(int(self.seconds / interval)):
                due = t0 + i * interval
                wait = due - time.time()
                if wait > 0:
                    time.sleep(wait)
                self.late.append(max(0.0, time.time() - due))
                ks = [self.rng.randrange(100) for _ in range(CHUNK)]
                tbl = pa.table({
                    "timestamp": pa.array([int(due * 1e6)] * CHUNK,
                                          pa.timestamp("us")),
                    "value": [f'{{"k": {k}}}' for k in ks],
                })
                pid = i % N_PARTITIONS
                append_fragment(self.dirs[pid], self.stage_dir,
                                self.leo[pid], tbl)
                self.leo[pid] += CHUNK
                self.chunks.append((due, pid, self.leo[pid] - 1))
                self.sum_k[pid] += sum(ks)
                self.n[pid] += CHUNK
        except BaseException as exc:  # noqa: BLE001 — reported by run()
            self.error = exc


def _time_produce(addr: str, rng: random.Random) -> None:
    """Serial ``loopback.server_produce`` calls with no fetch beside them,
    for the traced run's ``sources.loopback.produce`` spans."""
    import pyarrow as pa

    from fluvio_duck_spark.sources import loopback

    for i in range(PRODUCE_SAMPLES):
        tbl = pa.table({
            "timestamp": pa.array([int(time.time() * 1e6)] * CHUNK,
                                  pa.timestamp("us")),
            "value": [f'{{"k": {rng.randrange(100)}}}' for _ in range(CHUNK)],
        })
        loopback.server_produce(addr, i % N_PARTITIONS, tbl)


def _initial_stats(sf_dir: str) -> dict[int, tuple[int, int]]:
    """partition -> (records, sum k) of the served log before any produce,
    from the DuckDB twin of the per-partition derivation."""
    import checks
    from fluvio_duck_spark.sources.pplog import ORACLE_PP_LOG

    con = checks.duck_connect(sf_dir, ["events"])
    rows = con.execute(
        f"SELECT \"partition\", count(*), sum(CAST(json_extract_string("
        f"\"value\", '$.k') AS BIGINT)) FROM ({ORACLE_PP_LOG}) GROUP BY 1"
    ).fetchall()
    con.close()
    return {int(p): (int(n), int(s)) for p, n, s in rows}


def run(ctx) -> Result:
    from pyspark.sql import functions as F

    from fluvio_duck_spark.mappings import mapped_column
    from fluvio_duck_spark.operators import snapshots as snap
    from fluvio_duck_spark.sources.datasource import register_fluvio_source
    from fluvio_duck_spark.sources.loopback import RecordServer, server_parts

    ops = OpCount()
    res = Result(ops)
    tr = ctx.tracer
    sf_dir = ctx.fixture(SF)
    spark = ctx.start_spark()

    t0 = time.perf_counter()
    log_dir = ctx.path("log")
    shutil.copytree(ctx.pp_log(sf_dir), log_dir)
    initial = _initial_stats(sf_dir)
    root, ckpt = ctx.path("table"), ctx.path("ckpt")
    register_fluvio_source(spark)
    ctx.phase("fixtures.prep_s", time.perf_counter() - t0)

    commits: list[tuple[float, dict[int, int]]] = []
    batch_errors: list[str] = []

    def commit(batch, batch_id: int) -> None:
        try:
            with ctx.jobs.op("batch"), tr.span("batch", op=f"b{batch_id}"):
                df = batch.select(
                    "partition", "offset",
                    mapped_column(F.col("value"), "k:i", "k"),
                ).groupBy("partition").agg(
                    F.count("*").alias("n"),
                    F.sum("k").alias("ks"),
                    F.max("offset").alias("max_off"),
                )
                s = batch.sparkSession
                if os.path.exists(os.path.join(root, "_HEAD")):
                    snap.append(s, root, df)
                else:
                    snap.create_table(s, root, df, "partition",
                                      ["partition", "n", "ks", "max_off"])
            ends = _committed_ends(ckpt, batch_id)
            commits.append((time.time(),
                            {p: e - 1 for p, e in ends.items()}))
        except Exception as exc:  # noqa: BLE001 — surfaced as a failure
            batch_errors.append(f"batch {batch_id}: {type(exc).__name__}: "
                                f"{str(exc)[:200]}")
            raise

    def read_latest():
        """One snapshot read: latest version, per-partition totals."""
        with tr.span("snapshots.read"):
            df = snap.read_version_as_of(spark, root, snap.current_version(root))
            return {r["partition"]: (r["n"], r["mx"]) for r in df.groupBy(
                "partition").agg(F.sum("n").alias("n"),
                                 F.max("max_off").alias("mx")).collect()}

    def read_timed():
        """(totals or None, latency s, traced?) of one measured read;
        traced runs alternate traced and untraced reads."""
        with tr.paused(len(reads) % 2 == 1):
            on = tr.on
            r0 = time.perf_counter()
            try:
                with ctx.jobs.op("read"):
                    got = read_latest()
            except Exception as exc:  # noqa: BLE001 — a failed read
                ops.record(False, f"read: {type(exc).__name__}: "
                                  f"{str(exc)[:200]}")
                got = None
            return got, time.perf_counter() - r0, on

    reads: list[float] = []
    srv = RecordServer(log_dir).start()
    q = None
    try:
        addr = srv.address
        with tr.paused():
            t0 = time.perf_counter()
            q = (spark.readStream.format("fluvio").option("server", addr)
                 .load().writeStream.foreachBatch(commit)
                 .trigger(processingTime=TRIGGER)
                 .option("checkpointLocation", ckpt).start())
            # warm-up: the first batch commits the whole served log, then
            # one read warms the read path
            while not commits and not batch_errors and q.isActive:
                time.sleep(0.05)
            if commits:
                read_latest()
            ctx.phase("warmup_s", time.perf_counter() - t0)

            # the generator runs WARM_S before the measured window, so
            # the window sees steady-state batches (JIT-compiled, sized
            # by rate)
            os.makedirs(ctx.path("stage"))
            gen = Generator(log_dir, ctx.path("stage"), ctx.seed,
                            WARM_S + ctx.seconds)
            gen.start()
            time.sleep(WARM_S)
        tr.install()
        w0 = gen.t0 + WARM_S
        traced, untraced = [], []
        last_total = 0
        # reads follow live commits: they stop if the stream has failed
        # (the failure is counted below)
        seen = len(commits)
        while gen.is_alive() and commits and not batch_errors:
            if len(commits) == seen:
                time.sleep(0.01)
                continue
            seen = len(commits)
            for _ in range(READS_PER_COMMIT):
                got, lat, on = read_timed()
                if got is None:
                    continue
                total = sum(n for n, _ in got.values())
                # a committed prefix of each dense partition log:
                # n == max+1
                ok = total >= last_total and all(
                    n == mx + 1 for n, mx in got.values())
                ops.record(ok, "" if ok else f"read: inconsistent {got}")
                last_total = total
                reads.append(lat)
                (traced if on else untraced).append(lat)
        gen.join()
        w1 = time.time()
        leo_end = server_parts(addr)
        # commit progress inside the window: first to last commit in it
        window_commits = [c for c in commits if w0 <= c[0] <= w1]
        backlog = sum(leo_end.values()) - sum(
            commits[-1][1].values()) - len(leo_end) if commits else 0

        # drain: wait until every partition's committed max reaches LEO-1
        deadline = time.time() + DRAIN_TIMEOUT_S
        while time.time() < deadline and not batch_errors and not (
                commits and all(commits[-1][1].get(p, -1) >= leo - 1
                                for p, leo in leo_end.items())):
            time.sleep(0.1)
        progress = q.recentProgress
        q.stop()
        q = None
        if ctx.trace:
            _time_produce(addr, random.Random(ctx.seed))
    finally:
        if q is not None:
            q.stop()
        srv.stop()

    for err in batch_errors:
        ops.record(False, err)
    if gen.error is not None:
        ops.record(False, f"generator: {type(gen.error).__name__}: "
                          f"{gen.error}")
    fresh = attribute_freshness(gen.chunks, commits)
    for f in fresh:
        ops.record(f is not None, "" if f is not None else
                   "chunk never committed")
    # exactly-once: the final version holds every record exactly once
    final = {}
    if commits:
        tr.uninstall()
        df = snap.read_version_as_of(spark, root, snap.current_version(root))
        final = {r["partition"]: (r["n"], r["ks"], r["mx"]) for r in
                 df.groupBy("partition").agg(
                     F.sum("n").alias("n"), F.sum("ks").alias("ks"),
                     F.max("max_off").alias("mx")).collect()}
    for p, leo in sorted(leo_end.items()):
        n0, k0 = initial.get(p, (0, 0))
        want = (n0 + gen.n[p], k0 + gen.sum_k[p], leo - 1)
        ok = final.get(p) == want and leo == n0 + gen.n[p]
        ops.record(ok, "" if ok else f"partition {p}: table {final.get(p)} "
                                     f"!= log {want}")

    # statistics over the window's chunks; a run that measured nothing
    # (it failed, see errors) reports zeros
    fresh_ok = [f for f, c in zip(fresh, gen.chunks)
                if f is not None and c[0] >= w0] or [0.0]
    (t_a, c_a), (t_b, c_b) = (window_commits[0], window_commits[-1]) if (
        window_commits) else ((0.0, {}), (0.0, {}))
    res.end_to_end.update({
        "op_p50_ms": median(fresh_ok) * 1e3,
        "op_tail_ms": percentile(fresh_ok, TAIL_PCT) * 1e3,
        "op_rate_per_s": ((sum(c_b.values()) - sum(c_a.values()))
                          / (t_b - t_a) if t_b > t_a else 0.0),
        # a mean, not a median: read latency steps up partway through
        # the window as the table's file count grows, and a median of
        # reads from both sides of the step jumps between them
        "read_mean_ms": sum(reads) / len(reads) * 1e3 if reads else 0.0,
    })
    res.context.update({
        "chunks": len(gen.chunks), "chunks_in_window": len(fresh_ok),
        "reads": len(reads),
        "commits_in_window": len(window_commits),
        "tail_percentile": TAIL_PCT, "offered_per_s": RATE,
        "generator_late_max_ms": max(gen.late, default=0.0) * 1e3,
        "backlog_records": backlog,
    })
    if ctx.trace:
        _layers(ctx, res, progress, gen, backlog, root, traced, untraced)
    return res


def _layers(ctx, res, progress, gen, backlog, root, traced, untraced) -> None:
    from fluvio_duck_spark.operators import snapshots as snap

    tr = ctx.tracer
    pl = res.per_layer
    for name in ("sources.loopback.produce", "sources.loopback.parts",
                 "sources.loopback.fetch", "sources.pplog.footer_leo",
                 "snapshots.append", "snapshots.read_plan", "snapshots.read",
                 "mappings.projection", "options.parse"):
        pl[name + "_ms"] = tr.mean_ms(name)
    batches = [p for p in progress if p.get("numInputRows", 0) > 0]
    if batches:
        def dur(key: str) -> float:
            return sum(p["durationMs"].get(key, 0) for p in batches) / len(
                batches)

        pl["streaming.trigger_ms"] = dur("triggerExecution")
        pl["streaming.add_batch_ms"] = dur("addBatch")
        pl["streaming.wal_commit_ms"] = dur("walCommit")
        pl["streaming.commit_offsets_ms"] = dur("commitOffsets")
        pl["streaming.latest_offset_ms"] = dur("latestOffset")
        pl["streaming.rows_per_batch"] = sum(
            p["numInputRows"] for p in batches) / len(batches)
    pl["streaming.backlog_records"] = backlog
    pl["snapshots.files_per_version"] = len(
        snap.load_manifest(root, snap.current_version(root))["files"])
    pl["generator.late_ms"] = (sum(gen.late) / len(gen.late) * 1e3
                               if gen.late else 0.0)
    pl.update(ctx.jobs.per_op())
    if traced and untraced:
        pl["tracing.overhead_ms"] = (median(traced) - median(untraced)) * 1e3


def finish_trace(ctx, res) -> None:
    """Event-log totals per traced micro-batch or read."""
    ctx.add_event_log_layers(res, len(ctx.jobs.counts))
