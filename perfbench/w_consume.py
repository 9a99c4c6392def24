"""``consume_interactive``: one client, closed loop, short statements.

The reference's own usage: ad-hoc SQL over bounded slices of a topic.
Each statement returns at most a few thousand rows and is ``collect()``ed
(or, for ~10%, exported with ``sinks.copy_to_parquet`` — the reference's
``COPY … TO``).  The mix is stratified: every block of 20 statements holds
the kinds below in their fixed proportions, in a seeded order, with
seeded offsets, windows, topics and thresholds.  Driver construction,
source planning, scheduling and the Python DataSource seam dominate; the
executor work per statement is tiny.

Inputs: the sf0.1 ``events`` stand-in (100k records) and its
per-partition log (``pplog.write_pp_log_dir``), also served read-only by
a loopback ``RecordServer``.  Every statement is checked against a DuckDB
expectation computed at set-up.
"""

from __future__ import annotations

import itertools
import os
import random
import time

from harness import Result
from metrics import (
    OpCount,
    median,
    stratum_weights,
    supported_percentile,
    weighted_percentile,
)

SF = 0.1
#: statement kind -> slots per block of 20
MIX = {
    "tail": 2, "head_map": 2, "range": 1, "subtopic": 1, "chain": 2,
    "sql_group": 2, "ds_log_dir": 2, "ds_server": 2, "udtf_consume": 1,
    "udtf_partitions": 1, "metadata": 2, "copy": 2,
}
#: kinds whose rows cross the Python DataSource / UDTF seam
SEAM_KINDS = ("ds_log_dir", "ds_server", "udtf_consume", "udtf_partitions")
TAIL_PCT = 80
#: the window runs past ``--seconds`` until it holds this many
#: statements, the fewest that leave ten beyond the ``TAIL_PCT`` rank
MIN_STATEMENTS = next(n for n in itertools.count(1)
                      if supported_percentile(n) >= TAIL_PCT)
#: ... but never past this many times ``--seconds``
MAX_STRETCH = 3
#: statements generated (and given expectations) per run; the loop
#: wraps around if a fast build exhausts them
POOL = 240
#: warm-up blocks of 20 before measuring; one block runs every kind
#: cold.  Latencies keep falling for ~100 statements as the JIT
#: settles, but a longer warm-up does not fit the gate's time budget
#: (every run of both workloads within 3420 s) on a busy host.
WARM_BLOCKS = 1
_TYPES = ("click", "view", "purchase", "signup", "error")
_K = "json_extract_string(props, '$.k')"
_RAW = 'event_id AS "offset", ts AS "timestamp", props AS "value"'
_PP = ('"offset", "timestamp", "partition", "value"')


class Stmt:
    """One generated statement: how Spark runs it, and the DuckDB SQL
    whose result it must equal."""

    def __init__(self, kind: str, spark_args: dict, duck_sql: str) -> None:
        self.kind = kind
        self.args = spark_args
        self.duck_sql = duck_sql
        self.expect: tuple[int, str] | None = None


def make_statements(rng: random.Random, n: int, n_events: int,
                    pp_leo: dict[int, int]) -> list[Stmt]:
    """``n`` statements in blocks of 20 following ``MIX``."""
    block = [k for k, slots in MIX.items() for _ in range(slots)]
    out: list[Stmt] = []
    while len(out) < n:
        rng.shuffle(block)
        out.extend(_make(kind, rng, n_events, pp_leo) for kind in block)
    return out[:n]


def _pp_window_sql(rng, pp_leo) -> tuple[str, str]:
    """(args, DuckDB predicate) of one per-partition-log read."""
    if rng.random() < 0.5:
        n = rng.randint(10, 800)
        lows = " OR ".join(
            f'("partition" = {p} AND "offset" >= {max(leo - n, 0)} '
            f'AND "offset" < {max(leo - n, 0) + n})'
            for p, leo in sorted(pp_leo.items()))
        return f"-A -T {n} --rows {n}", lows
    p = rng.randrange(len(pp_leo))
    s = rng.randrange(0, pp_leo[p] - 3000)
    e = s + rng.randint(50, 2000)
    r = rng.randint(50, 2000)
    return (f"-p {p} --start {s} --end {e} --rows {r}",
            f'"partition" = {p} AND "offset" >= {s} AND "offset" <= {e} '
            f'AND "offset" < {s + r}')


def _make(kind: str, rng: random.Random, n_ev: int, pp_leo) -> Stmt:
    h = rng.randrange(0, n_ev - 3000)
    r = rng.randint(100, 3000)
    head = f"event_id >= {h} AND event_id < {h + r}"
    if kind == "tail":
        n = rng.randint(10, 2000)
        return Stmt(kind, {"opts": f"events -A -T {n} --rows {n}"},
                    f"SELECT {_RAW} FROM events WHERE event_id >= {n_ev - n}")
    if kind in ("head_map", "copy"):
        return Stmt(kind, {"opts": f"events -A -H {h} --rows {r} "
                                   "-c k:i=k -c kd:d=k"},
                    f"SELECT CAST({_K} AS INTEGER) AS k, "
                    f"CAST({_K} AS DOUBLE) AS kd FROM events WHERE {head}")
    if kind == "range":
        e = h + rng.randint(50, 2000)
        return Stmt(kind, {"opts": f"events -A --start {h} --end {e} "
                                   f"--rows {r}"},
                    f"SELECT {_RAW} FROM events WHERE event_id >= {h} "
                    f"AND event_id <= {e} AND event_id < {h + r}")
    if kind == "subtopic":
        t, p, r = rng.choice(_TYPES), rng.randrange(4), rng.randint(50, 1000)
        return Stmt(kind, {"opts": f"{t} -p {p} -B --rows {r}"},
                    f"SELECT {_RAW} FROM events WHERE event_type = '{t}' "
                    f"AND user_id % 4 = {p} ORDER BY event_id LIMIT {r}")
    if kind == "chain":
        k = rng.randint(10, 90)
        argv = ["events", "-A", "-H", str(h), "--rows", str(r),
                "--transform",
                '{"uses":"sql-filter","with":{"where":'
                f'"cast(get_json_object(value, \'$.k\') as int) < {k}"}}}}',
                "--transform",
                '{"uses":"infinyon/jolt@0.1.0","with":'
                '{"spec":[{"operation":"shift","spec":{"k":"n"}}]}}',
                "-c", "n:d=n"]
        return Stmt(kind, {"opts": argv},
                    f"SELECT CAST({_K} AS DOUBLE) AS n FROM events "
                    f"WHERE event_id >= {h} AND CAST({_K} AS INTEGER) < {k} "
                    f"ORDER BY event_id LIMIT {r}")
    if kind == "sql_group":
        m = rng.choice((3, 7, 10))
        return Stmt(kind, {"sql": f"SELECT k % {m} AS route, count(*) AS n, "
                                  "sum(k) AS s FROM fluvio_consume('events -A "
                                  f"-H {h} --rows {r} -c k:i=k') "
                                  f"GROUP BY k % {m}"},
                    f"SELECT k % {m} AS route, count(*) AS n, sum(k) AS s "
                    f"FROM (SELECT CAST({_K} AS INTEGER) AS k FROM events "
                    f"WHERE {head}) GROUP BY 1")
    if kind in ("ds_log_dir", "ds_server"):
        args, pred = _pp_window_sql(rng, pp_leo)
        return Stmt(kind, {"args": args},
                    f"SELECT {_PP} FROM pplog WHERE {pred}")
    if kind == "udtf_consume":
        n = rng.randint(10, 2000)
        return Stmt(kind, {"opts": f"events -A -T {n} --rows {n} -c k:i=k"},
                    f"SELECT CAST({_K} AS INTEGER) AS k FROM events "
                    f"WHERE event_id >= {n_ev - n}")
    if kind == "udtf_partitions":
        t = rng.choice(_TYPES)
        return Stmt(kind, {"where": f"topic = '{t}'"},
                    "SELECT event_type AS topic, "
                    "CAST(user_id % 4 AS VARCHAR) AS \"partition\", "
                    "max(event_id) + 1 AS LEO FROM events "
                    f"WHERE event_type = '{t}' GROUP BY 1, 2")
    if kind == "metadata":
        if rng.random() < 0.5:
            return Stmt(kind, {"fn": "topics"},
                        "SELECT event_type AS name, CAST(count(DISTINCT "
                        "user_id % 4) AS INTEGER) AS partitions "
                        "FROM events GROUP BY 1")
        t = rng.choice(_TYPES)
        return Stmt(kind, {"fn": "partitions", "topic": t},
                    "SELECT event_type AS topic, "
                    "CAST(user_id % 4 AS VARCHAR) AS \"partition\", "
                    "max(event_id) + 1 AS LEO FROM events "
                    f"WHERE event_type = '{t}' GROUP BY 1, 2")
    raise ValueError(kind)


class Client:
    """Runs statements against one session; every layer call goes
    through the package's public functions."""

    def __init__(self, ctx, sf_dir: str, log_dir: str, server: str) -> None:
        from pyspark.sql import functions as F

        from fluvio_duck_spark import sinks
        from fluvio_duck_spark.sources import consume, metadata, sql

        self.ctx, self.sf, self.log_dir, self.server = (ctx, sf_dir, log_dir,
                                                        server)
        self.F, self.sinks = F, sinks
        self.consume, self.metadata, self.sql = consume, metadata, sql
        self.n_copy = 0
        self.copy_bytes = 0

    def run(self, st: Stmt) -> tuple[float, list[str], list[tuple]]:
        """Execute ``st``; returns (latency s, columns, rows).  Only the
        statement itself is timed — not the read-back of an export."""
        t0 = time.perf_counter()
        with self.ctx.tracer.span("queries.construct"):
            df = self._build(st)
        with self.ctx.tracer.span("queries.execute"):
            if st.kind == "copy":
                path = self.ctx.path("exports", f"e{self.n_copy}")
                self.n_copy += 1
                self.sinks.copy_to_parquet(df, path)
            elif st.kind in ("ds_log_dir", "ds_server"):
                with self.ctx.tracer.span("sources.datasource.read"):
                    rows = df.collect()
            else:
                rows = df.collect()
        lat = time.perf_counter() - t0
        if st.kind == "copy":
            return (lat,) + self._read_back(path)
        return lat, df.columns, rows

    def _build(self, st: Stmt):
        """The statement's DataFrame, through the package's front ends."""
        spark, tr = self.ctx.spark, self.ctx.tracer
        k, a = st.kind, st.args
        if k in ("tail", "head_map", "range", "subtopic", "chain", "copy"):
            return self.consume.fluvio_consume(spark, a["opts"],
                                               sf_dir=self.sf)
        if k == "sql_group":
            return self.sql.consume_sql(spark, a["sql"], sf_dir=self.sf)
        if k in ("ds_log_dir", "ds_server"):
            opt = ("log_dir", self.log_dir) if k == "ds_log_dir" else (
                "server", self.server)
            with tr.span("sources.datasource.load"):
                return (spark.read.format("fluvio").option(*opt)
                        .option("args", a["args"]).load())
        if k == "udtf_consume":
            return spark.sql(f"SELECT * FROM fluvio_consume('{a['opts']}', "
                             f"'{self.sf}')")
        if k == "udtf_partitions":
            return spark.sql(f"SELECT * FROM fluvio_partitions('{self.sf}') "
                             f"WHERE {a['where']}")
        if a["fn"] == "topics":
            return self.metadata.fluvio_topics(spark, self.sf)
        return self.metadata.fluvio_partitions(spark, self.sf).filter(
            self.F.col("topic") == a["topic"])

    def _read_back(self, path: str) -> tuple[list[str], list[tuple]]:
        import pyarrow.parquet as pq

        self.copy_bytes += sum(
            os.path.getsize(os.path.join(path, f)) for f in os.listdir(path)
            if f.endswith(".parquet"))
        tbl = pq.read_table(path)
        return tbl.column_names, list(zip(*(c.to_pylist()
                                            for c in tbl.columns)))


def _expectations(sf_dir: str, stmts: list[Stmt]) -> None:
    from fluvio_duck_spark.sources.pplog import ORACLE_PP_LOG

    import checks

    con = checks.duck_connect(sf_dir, ["events"])
    con.execute(f"CREATE TABLE pplog AS {ORACLE_PP_LOG}")
    for st in stmts:
        st.expect = checks.duck_hash(con, st.duck_sql)
    con.close()


def _pp_leos(log_dir: str) -> dict[int, int]:
    from fluvio_duck_spark.sources.pplog import pp_footer_leo, pp_partition_dirs

    return {p: pp_footer_leo(d) for p, d in pp_partition_dirs(log_dir).items()}


def run(ctx) -> Result:
    import shutil

    import checks
    from fluvio_duck_spark.sources.datasource import register_fluvio_source
    from fluvio_duck_spark.sources.loopback import RecordServer
    from fluvio_duck_spark.sources.udtf import register_sql_table_functions

    ops = OpCount()
    res = Result(ops)
    sf_dir = ctx.fixture(SF)
    spark = ctx.start_spark()

    t0 = time.perf_counter()
    shared_log = ctx.pp_log(sf_dir)
    log_dir = ctx.path("pplog")
    shutil.copytree(shared_log, log_dir)
    register_fluvio_source(spark)
    register_sql_table_functions(spark)
    n_events = int(1_000_000 * SF)
    stmts = make_statements(random.Random(ctx.seed), WARM_BLOCKS * 20 + POOL,
                            n_events, _pp_leos(log_dir))
    _expectations(sf_dir, stmts)
    warm, stmts = stmts[:WARM_BLOCKS * 20], stmts[WARM_BLOCKS * 20:]
    ctx.phase("fixtures.prep_s", time.perf_counter() - t0)

    srv = RecordServer(log_dir).start()
    try:
        client = Client(ctx, sf_dir, log_dir, srv.address)

        def one(st: Stmt) -> tuple[float, int] | None:
            try:
                lat, cols, rows = client.run(st)
            except Exception as exc:  # noqa: BLE001 — a failed statement
                ops.record(False, f"{st.kind}: {type(exc).__name__}: "
                                  f"{str(exc)[:200]}")
                return None
            ok = checks.table_hash(cols, [tuple(r) for r in rows]) == st.expect
            ops.record(ok, "" if ok else f"{st.kind}: wrong result {st.args}")
            return lat, len(rows)

        # warm-up: untimed but checked; every block holds every kind
        t0 = time.perf_counter()
        with ctx.tracer.paused():
            for st in warm:
                one(st)
        ctx.phase("warmup_s", time.perf_counter() - t0)
        ctx.tracer.install()

        lat_by_kind: dict[str, list[float]] = {k: [] for k in MIX}
        traced, untraced = [], []
        rows_traced = 0
        i = 0
        t_start = time.perf_counter()
        while True:
            spent = time.perf_counter() - t_start
            if spent >= ctx.seconds and (i >= MIN_STATEMENTS or spent >= (
                    MAX_STRETCH * ctx.seconds)):
                break
            st = stmts[i % len(stmts)]
            # traced runs alternate traced / untraced blocks of 20
            with ctx.tracer.paused((i // 20) % 2 == 1):
                on = ctx.tracer.on
                with ctx.jobs.op(st.kind), ctx.tracer.span(st.kind,
                                                            op=f"s{i}"):
                    got = one(st)
            if got is not None:
                lat_by_kind[st.kind].append(got[0])
                (traced if on else untraced).append(got[0])
                rows_traced += got[1] if on else 0
            i += 1
        elapsed = time.perf_counter() - t_start
    finally:
        srv.stop()

    # statistics re-weighted to the declared mix, so the partial last
    # block does not move them
    kinds = [k for k, v in lat_by_kind.items() for _ in v]
    lats = [x for v in lat_by_kind.values() for x in v]
    w = stratum_weights(kinds, MIX)
    seam = [(x, wt) for x, wt, k in zip(lats, w, kinds) if k in SEAM_KINDS]
    mean_lat = sum(x * wt for x, wt in zip(lats, w)) / sum(w)
    res.end_to_end.update({
        "op_p50_ms": weighted_percentile(lats, w, 50) * 1e3,
        "op_tail_ms": weighted_percentile(lats, w, TAIL_PCT) * 1e3,
        "op_rate_per_s": 1.0 / mean_lat,
        "read_mean_ms": sum(x * wt for x, wt in seam) / sum(
            wt for _, wt in seam) * 1e3,
    })
    res.context.update({
        "statements": i, "statements_per_s": i / elapsed,
        "tail_percentile": TAIL_PCT,
        "supported_percentile": supported_percentile(len(lats)),
        "seam_statements": len(seam),
        "p50_ms_by_kind": {k: round(median(v) * 1e3, 1)
                           for k, v in lat_by_kind.items() if v},
    })
    if ctx.trace:
        res.context["rows_returned_traced"] = rows_traced
        _layers(ctx, res, traced, untraced, client)
    return res


def _layers(ctx, res, traced, untraced, client) -> None:
    """Per-layer metrics of the traced statements (event-log totals are
    added by ``finish_trace`` once the session has stopped)."""
    tr = ctx.tracer
    pl = res.per_layer
    for name in ("options.parse", "sources.consume.build", "sources.sql.build",
                 "transforms.apply_chain", "mappings.projection",
                 "sources.datasource.load", "sources.datasource.read",
                 "sources.pplog.footer_leo", "sources.loopback.parts",
                 "sources.loopback.fetch", "sinks.copy"):
        pl[name + "_ms"] = tr.mean_ms(name)
    # whole-statement latency of the kinds that are one layer's call
    pl["sources.udtf.consume_ms"] = tr.mean_ms("udtf_consume")
    pl["sources.metadata.partitions_ms"] = tr.mean_ms("metadata")
    pl["sinks.bytes_written"] = (client.copy_bytes / client.n_copy
                                 if client.n_copy else 0.0)
    n_traced = max(1, len(traced))
    pl["queries.construct_s"] = sum(tr.durations("queries.construct")) / n_traced
    pl["queries.execute_s"] = sum(tr.durations("queries.execute")) / n_traced
    pl.update(ctx.jobs.per_op())
    pl["sources.datasource.tasks"] = ctx.jobs.per_op(
        ("ds_log_dir", "ds_server"))["scheduler.tasks"]
    if traced and untraced:
        pl["tracing.overhead_ms"] = (median(traced) - median(untraced)) * 1e3


def finish_trace(ctx, res) -> None:
    """Event-log totals per traced statement."""
    ctx.add_event_log_layers(res, len(ctx.jobs.counts),
                             res.context["rows_returned_traced"])
