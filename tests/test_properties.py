"""Property-based tests (hypothesis) for the pure-Python surfaces: the
option parser round-trips and the offset algebra's invariants.  These are
driver-side only — no SparkSession — so they run in milliseconds and can
explore thousands of cases."""

from __future__ import annotations

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from fluvio_duck_spark.options import (
    ConsumeOptError,
    parse_consume_opts,
)

TOPIC = st.sampled_from(["events", "clicks", "transit-topic"])
NONNEG = st.integers(min_value=0, max_value=2**40)
POSITION = st.sampled_from(["-B", "-H", "-T", "--start", "none"])


def position_argv(pos: str, n: int, end: int | None = None,
                  rows: int | None = None) -> list[str]:
    """Option-string flags for one position/end/rows combination
    (``pos="none"``: no position flag, the default Offset::end)."""
    argv = {"-B": ["-B"], "none": []}.get(pos, [pos, str(n)])
    if end is not None:
        argv += ["--end", str(end)]
    if rows is not None:
        argv += ["--rows", str(rows)]
    return argv


def crossing(pos: str, n: int, end: int | None) -> bool:
    """``--start n --end e`` with e < n: rejected at parse time."""
    return pos == "--start" and end is not None and end < n


def offset_model(offsets, pos: str, n: int, end: int | None,
                 rows: int | None) -> list[int]:
    """The reference's offset algebra as plain Python over one log's
    offsets (reference src/consume.rs:580-605): position filter
    anchored at this log's own end → inclusive ``--end`` → the first
    ``rows`` in offset order.  The one model every consume front end
    is checked against."""
    offsets = sorted(offsets)
    leo = offsets[-1] + 1 if offsets else 0
    lo = {"-B": 0, "-H": n, "--start": n, "-T": max(leo - n, 0),
          "none": leo}[pos]
    seq = [o for o in offsets if o >= lo and (end is None or o <= end)]
    return seq if rows is None else seq[:rows]


@given(topic=TOPIC, n=NONNEG)
def test_head_parses_to_absolute_start(topic, n):
    opts = parse_consume_opts(f"{topic} -H {n}")
    start = opts.calculate_start()
    assert (start.kind, start.n) == ("head", n)


@given(topic=TOPIC, n=st.integers(min_value=1, max_value=2**40))
def test_tail_round_trip(topic, n):
    opts = parse_consume_opts([topic, "-T", str(n)])
    start = opts.calculate_start()
    assert (start.kind, start.n) == ("tail", n)


@given(topic=TOPIC, s=NONNEG, e=NONNEG)
def test_start_end_crossing_always_rejected(topic, s, e):
    """--end < --start must raise, any other combination must parse."""
    argv = [topic, "--start", str(s), "--end", str(e)]
    if e < s:
        with pytest.raises(ConsumeOptError):
            parse_consume_opts(argv)
    else:
        opts = parse_consume_opts(argv)
        assert opts.calculate_start().n == s
        assert opts.end == e


@given(
    topic=TOPIC,
    flags=st.lists(
        st.sampled_from(["-B", "-H 5", "-T 5", "--start 5"]),
        min_size=2,
        max_size=4,
        unique=True,
    ),
)
def test_position_flags_pairwise_exclusive(topic, flags):
    with pytest.raises(ConsumeOptError):
        parse_consume_opts(f"{topic} {' '.join(flags)}")


@settings(max_examples=300)
@given(
    pos=POSITION,
    n=st.integers(min_value=0, max_value=70),
    end=st.one_of(st.none(), st.integers(min_value=0, max_value=70)),
    rows=st.one_of(st.none(), st.integers(min_value=0, max_value=70)),
    log=st.one_of(
        st.integers(min_value=0, max_value=60).map(range),
        st.sets(st.integers(min_value=0, max_value=60)),
    ),
)
def test_offset_window_matches_model(pos, n, end, rows, log):
    """``ConsumeOptions.offset_window`` vs the pure-Python model, over
    dense logs (every offset below LEO present: the resolver folds
    ``--rows`` into the window) and sparse ones (the caller applies the
    budget).  LEO is asked for only by -T and the default end."""
    from hypothesis import assume

    assume(not crossing(pos, n, end))
    offsets = sorted(log)
    dense = isinstance(log, range)
    opts = parse_consume_opts(["events", *position_argv(pos, n, end, rows)])
    asked = []

    def leo() -> int:
        asked.append(True)
        return offsets[-1] + 1 if offsets else 0

    lo, hi = opts.offset_window(leo, dense=dense)
    assert bool(asked) == (pos in ("-T", "none"))
    got = [o for o in offsets if lo <= o and (hi is None or o <= hi)]
    if not dense:
        got = got[: opts.rows]
    assert got == offset_model(offsets, pos, n, end, opts.rows)


_IDENT = st.from_regex(r"[A-Za-z][A-Za-z0-9_]{0,10}", fullmatch=True)


@given(
    name=_IDENT,
    code=st.sampled_from(["i", "l", "f", "d", "s", "t"]),
    path=st.lists(_IDENT, min_size=1, max_size=3).map(".".join),
)
def test_column_mapping_round_trip(name, code, path):
    from fluvio_duck_spark.mappings import TYPE_CODES, parse_column_spec

    opts = parse_consume_opts(["events", "-c", f"{name}:{code}={path}"])
    ((spec, got_path),) = opts.columns
    assert got_path == path
    got_name, got_type = parse_column_spec(spec)
    assert got_name == name
    assert got_type == TYPE_CODES[code]


@given(name=_IDENT, path=_IDENT)
def test_column_mapping_unknown_code_is_varchar(name, path):
    """Reference parity: any unknown type code falls back to VARCHAR
    (reference src/consume.rs:235-240)."""
    from pyspark.sql import types as T

    from fluvio_duck_spark.mappings import parse_column_spec

    opts = parse_consume_opts(["events", "-c", f"{name}:zz={path}"])
    ((spec, _),) = opts.columns
    assert parse_column_spec(spec)[1] == T.StringType()


@given(rows=NONNEG)
def test_rows_budget_preserved(rows):
    assert parse_consume_opts(["events", "--rows", str(rows)]).rows == rows


@given(data=st.data())
def test_parse_never_crashes_on_flag_soup(data):
    """Fuzzing the parser with arbitrary flag combinations must either
    parse or raise ConsumeOptError — never any other exception type."""
    parts = data.draw(
        st.lists(
            st.sampled_from(
                ["events", "-B", "-H", "-T", "--start", "--end", "--rows",
                 "-c", "k:i=k", "7", "-p", "-A", "-d", "--maxbytes", "100",
                 "--isolation", "read_committed", "--smartmodule", "jolt",
                 "-e", "a=b", "--bogus"]
            ),
            min_size=1,
            max_size=8,
        )
    )
    try:
        parse_consume_opts(parts)
    except ConsumeOptError:
        pass


@settings(max_examples=300, deadline=None)
@given(data=st.data(), n_dims=st.integers(min_value=2, max_value=7))
def test_morton_chain_equals_per_bit_interleave(data, n_dims):
    """The derived shift/mask spread chain (morton_geometry) must equal
    the per-bit interleave definition for EVERY stride and any in-range
    bucket values, and the key must stay positive in a signed int64 —
    the invariants the N-dim zorder_key/zorder_sql pair rests on."""
    from fluvio_duck_spark.operators.layout import morton_geometry

    bits, steps = morton_geometry(n_dims)
    vals = [
        data.draw(st.integers(min_value=0, max_value=(1 << bits) - 1))
        for _ in range(n_dims)
    ]

    def spread(v: int) -> int:
        for shift, mask in steps:
            v = (v | (v << shift)) & mask
        return v

    chain = 0
    for j, v in enumerate(vals):
        chain |= spread(v) << j
    ref = 0
    for i in range(bits):
        for j, v in enumerate(vals):
            ref |= ((v >> i) & 1) << (i * n_dims + j)
    assert chain == ref
    assert 0 <= chain < 2**63
    # round trip: every dimension recovers from the key
    for j, v in enumerate(vals):
        back = 0
        for i in range(bits):
            back |= ((chain >> (i * n_dims + j)) & 1) << i
        assert back == v


@settings(max_examples=30, deadline=None)
@given(
    toks=st.lists(st.sampled_from("abcdefgh"), min_size=1, max_size=30),
    k=st.integers(min_value=2, max_value=6),
    w=st.integers(min_value=2, max_value=5),
)
def test_winnow_selection_is_subset_of_gram_hashes(toks, k, w):
    """Pure-python re-implementation check of the winnowing invariant:
    every selected fingerprint is the min of some w-window, and the
    number of selected fingerprints is <= number of windows."""
    import hashlib

    text = " ".join(toks)
    grams = [
        hashlib.md5(" ".join(toks[i : i + k]).encode()).hexdigest()
        for i in range(len(toks) - k + 1)
    ] if len(toks) >= k else []
    if not grams:
        expected: set[str] = set()
    elif len(grams) < w:
        expected = {min(grams)}
    else:
        expected = {min(grams[i : i + w]) for i in range(len(grams) - w + 1)}

    # compare against the Spark expression evaluated locally via pyspark's
    # expression-on-literal path (needs a session; reuse the shared one)
    from fluvio_duck_spark.functions.text import winnow_fingerprints
    from fluvio_duck_spark.session import get_spark
    from pyspark.sql import functions as F

    spark = get_spark("props", master="local[2]", shuffle_partitions=2)
    row = (
        spark.range(1)
        .select(winnow_fingerprints(F.lit(text), k=k, w=w).alias("fps"))
        .collect()[0]
    )
    assert set(row.fps) == expected


# --- model-based: the full consume pipeline vs a pure-Python model ----------

@pytest.fixture(scope="module")
def tiny_log(request):
    """A 40-record single-topic log as a cached DataFrame shaped like
    record_log's output (offset, timestamp, partition, value)."""
    spark = request.getfixturevalue("spark")
    from pyspark.sql import functions as F

    df = (
        spark.range(40)
        .select(
            F.col("id").alias("offset"),
            F.timestamp_seconds(1_700_000_000 + F.col("id")).alias("timestamp"),
            (F.col("id") % 4).cast("int").alias("partition"),
            F.format_string('{"k": %d}', F.col("id")).alias("value"),
        )
        .cache()
    )
    df.count()
    return df


@settings(max_examples=20, deadline=None)
@given(
    pos=POSITION,
    n=st.integers(min_value=0, max_value=60),
    end=st.one_of(st.none(), st.integers(min_value=0, max_value=60)),
    rows=st.one_of(st.none(), st.integers(min_value=0, max_value=60)),
)
def test_consume_offsets_match_python_model(spark, tiny_log, pos, n, end, rows):
    """Whatever combination of position/end/rows flags, the returned
    offset set must equal the pure-Python reference model: position
    filter -> inclusive end -> take first `rows` in offset order."""
    from fluvio_duck_spark.options import ConsumeOptError
    from fluvio_duck_spark.sources.consume import fluvio_consume

    argv = ["events", "-A", *position_argv(pos, n, end, rows)]
    if crossing(pos, n, end):
        with pytest.raises(ConsumeOptError):
            fluvio_consume(spark, argv, source=tiny_log)
        return
    model = offset_model(range(40), pos, n, end, rows)
    got = sorted(
        r.offset
        for r in fluvio_consume(spark, argv, source=tiny_log)
        .select("offset").collect()
    )
    assert got == model, (argv, got[:5], model[:5])


@settings(max_examples=15, deadline=None)
@given(
    part=st.integers(min_value=0, max_value=3),
    pos=st.sampled_from(["-B", "-H", "-T"]),
    n=st.integers(min_value=0, max_value=50),
    rows=st.one_of(st.none(), st.integers(min_value=0, max_value=20)),
)
def test_consume_partition_select_matches_model(spark, tiny_log, part, pos, n, rows):
    """-p P narrows the log BEFORE the offset algebra, so -T/-H act on
    the selected partition's own offset span (offset thresholds, not
    record counts — the stand-in's global offsets are sparse within one
    partition, exactly like consume_topic_tail's documented semantics)."""
    from fluvio_duck_spark.sources.consume import fluvio_consume

    argv = ["events", "-p", str(part), *position_argv(pos, n, rows=rows)]
    # -T anchors at the SELECTED partition's LEO: max(sel) + 1
    sel = [o for o in range(40) if o % 4 == part]
    model = offset_model(sel, pos, n, None, rows)

    got = sorted(
        r.offset
        for r in fluvio_consume(spark, argv, source=tiny_log)
        .select("offset").collect()
    )
    assert got == model, (argv, got, model)


@pytest.mark.parametrize("n,bins,parts", [(97, 7, 3), (64, 8, 5), (13, 4, 2), (200, 9, 8)])
def test_quantile_bins_property_sizes_and_order(spark, n, bins, parts):
    """For any (n, bins, partitioning): every bin differs by ≤1 row from
    the others, bins are contiguous in the sort order, and the result is
    partitioning-independent (the global rank must not depend on where
    range boundaries land)."""
    from pyspark.sql import functions as F

    from fluvio_duck_spark.operators.ranking import quantile_bins

    df = spark.range(0, n).select("id", (F.hash("id") % 1000).alias("v"))
    out = quantile_bins(df, ["v", "id"], n_bins=bins, n_partitions=parts)
    rows = sorted(out.collect(), key=lambda r: (r.v, r.id))
    sizes = {}
    for r in rows:
        sizes[r.bin] = sizes.get(r.bin, 0) + 1
    assert max(sizes.values()) - min(sizes.values()) <= 1
    assert sum(sizes.values()) == n
    # bin labels are monotone along the sorted order
    labels = [r.bin for r in rows]
    assert labels == sorted(labels)
    # partitioning independence
    out2 = quantile_bins(df.repartition(11), ["v", "id"], n_bins=bins,
                         n_partitions=max(1, parts - 1))
    assert {(r.id, r.bin) for r in out2.collect()} == {
        (r.id, r.bin) for r in rows
    }


def test_upsample_repeat_expectation_property(spark):
    """Realized copy counts track the rate in expectation across a rate
    sweep, and every row's count is floor(rate) or ceil(rate)."""
    import math

    from pyspark.sql import functions as F

    from fluvio_duck_spark.operators.sampling import upsample_repeat

    df = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
    for rate in (0.25, 1.0, 1.75, 3.5):
        out = upsample_repeat(df.withColumn("r", F.lit(rate)), "r")
        per = {r.doc_id: r["count"] for r in out.groupBy("doc_id").count().collect()}
        lo, hi = math.floor(rate), math.ceil(rate)
        assert all(c in (lo, hi) or (lo == hi and c == lo) for c in per.values())
        total = sum(per.values())
        assert abs(total - rate * 1000) < 60, (rate, total)


@pytest.mark.parametrize("seed,n,holes", [(1, 24, 10), (7, 48, 30), (13, 12, 4)])
def test_interp_fill_recovers_linear_series(spark, seed, n, holes):
    """interp_fill on a series sampled from an exact line must recover
    the line at every interpolated point (a convex combination of two
    points on a line lies on the line, to FP rounding), and must be
    partitioning-independent."""
    import random

    from pyspark.sql import functions as F

    from fluvio_duck_spark.operators.timeseries import interp_fill

    rng = random.Random(seed)
    a, b = rng.uniform(-5, 5), rng.uniform(-3, 3)
    knocked = set(rng.sample(range(1, n - 1), min(holes, n - 2)))
    rows = [
        (
            "k",
            f"2024-01-01 {h % 24:02d}:00:00",
            h // 24,
            None if h in knocked else a + b * h,
            h,
        )
        for h in range(n)
    ]
    df = spark.createDataFrame(
        rows, "k string, hm string, day int, v double, h int"
    ).select(
        "k", "v", "h",
        (F.col("hm").cast("timestamp") + F.make_interval(days=F.col("day"))).alias("ts"),
    )
    out = interp_fill(df.repartition(5), "k", "ts", "v", tiebreak_col="h")
    got = {r.h: (r.filled, r.filled_src) for r in out.collect()}
    for h in range(n):
        val, src = got[h]
        expect_src = "interp" if h in knocked else "obs"
        assert src == expect_src, (h, src)
        assert abs(val - (a + b * h)) < 1e-9, (h, val, a + b * h)


@settings(max_examples=8, deadline=None)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 50),
                  st.one_of(st.none(), st.text("abcxyz|\\", max_size=6))),
        min_size=1, max_size=40,
    ),
    seed=st.integers(0, 10_000),
)
def test_checksum_permutation_invariant_and_injective_ish(spark, rows, seed):
    """Property: the portable table checksum is identical under any row
    permutation/partitioning, and removing one row changes it (the audit
    must catch a lost row) — including rows whose strings contain the
    join delimiter and escape-ish characters."""
    import random

    from fluvio_duck_spark.functions.checksum import table_checksum

    df = spark.createDataFrame(rows, "k long, s string")
    a = table_checksum(df, ["k", "s"], "t").collect()[0]

    shuffled = list(rows)
    random.Random(seed).shuffle(shuffled)
    b = table_checksum(
        spark.createDataFrame(shuffled, "k long, s string").repartition(3),
        ["k", "s"], "t",
    ).collect()[0]
    assert (a.n_rows, a.checksum) == (b.n_rows, b.checksum)

    c = table_checksum(
        spark.createDataFrame(rows[1:], "k long, s string")
        if len(rows) > 1 else spark.createDataFrame([], "k long, s string"),
        ["k", "s"], "t",
    ).collect()[0]
    assert (c.n_rows, c.checksum) != (a.n_rows, a.checksum)


@settings(max_examples=8, deadline=None)
@given(
    pts=st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)),
        min_size=1, max_size=60,
    ),
)
def test_skyline_property_no_dominated_survivor_no_missing_point(spark, pts):
    """Property: every returned point is non-dominated and every
    non-dominated input point is returned (with multiplicity — ties on
    both axes all survive)."""
    from collections import Counter

    from fluvio_duck_spark.operators.skyline import skyline2d

    rows = [(i, float(c), g) for i, (c, g) in enumerate(pts)]
    df = spark.createDataFrame(rows, "id long, cost double, gain int")
    got = [(r.cost, r.gain) for r in skyline2d(df.repartition(4), "cost", "gain").collect()]

    def dominated(p):
        return any(
            q[1] <= p[0] and q[2] >= p[1] and (q[1] < p[0] or q[2] > p[1])
            for q in rows
        )

    expect = Counter((c, g) for _i, c, g in rows if not dominated((c, g)))
    assert Counter(got) == expect


@pytest.fixture(scope="module")
def tiny_pp_log(request):
    """A 4-partition per-partition-offset log with UNEQUAL lengths
    (partition p holds 10+3p records, each with its own dense 0..len-1
    sequence) — the shape where per-partition and global anchoring
    disagree on almost every input."""
    spark = request.getfixturevalue("spark")
    from pyspark.sql import functions as F

    rows = [
        (o, 1_700_000_000 + 100 * p + o, p, '{"k": %d}' % (10 * p + o))
        for p in range(4)
        for o in range(10 + 3 * p)
    ]
    df = (
        spark.createDataFrame(
            rows, "offset long, ts long, partition int, value string"
        )
        .select(
            "offset",
            F.timestamp_seconds("ts").alias("timestamp"),
            "partition",
            "value",
        )
        .cache()
    )
    df.count()
    return df


@settings(max_examples=20, deadline=None)
@given(
    pos=POSITION,
    n=st.integers(min_value=0, max_value=25),
    end=st.one_of(st.none(), st.integers(min_value=0, max_value=25)),
    rows=st.one_of(st.none(), st.integers(min_value=0, max_value=25)),
)
def test_pp_consume_matches_python_model(spark, tiny_pp_log, pos, n, end, rows):
    """per_partition_offsets=True vs the pure-Python per-partition model:
    every position/end/rows combination anchors against EACH partition's
    own length (reference src/partition.rs:107-134) — position filter →
    inclusive end → first `rows` of each partition in offset order."""
    from fluvio_duck_spark.options import ConsumeOptError
    from fluvio_duck_spark.sources.consume import fluvio_consume

    argv = ["events", "-A", *position_argv(pos, n, end, rows)]
    if crossing(pos, n, end):
        with pytest.raises(ConsumeOptError):
            fluvio_consume(
                spark, argv, source=tiny_pp_log, per_partition_offsets=True
            )
        return
    model = [
        (p, o)
        for p in range(4)
        for o in offset_model(range(10 + 3 * p), pos, n, end, rows)
    ]
    got = sorted(
        (r.partition, r.offset)
        for r in fluvio_consume(
            spark, argv, source=tiny_pp_log, per_partition_offsets=True
        )
        .join(tiny_pp_log.select("offset", "timestamp", "partition"),
              ["offset", "timestamp"])
        .select("partition", "offset")
        .collect()
    )
    assert got == sorted(model), (argv, got[:6], sorted(model)[:6])


@pytest.fixture(scope="module")
def tiny_pp_dir(tmp_path_factory):
    """On-disk per-partition log (partition=<k>/ layout) with lengths
    10/13/16/19, multiple fragments per partition — pure pyarrow, no
    Spark: the DataSource readers are drivable without a session."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = tmp_path_factory.mktemp("tiny_pp_dir")
    for p in range(4):
        d = root / f"partition={p}"
        d.mkdir()
        length = 10 + 3 * p
        cut = length // 2
        for tag, lo, hi in (("a", 0, cut), ("b", cut, length)):
            pq.write_table(
                pa.table({
                    "offset": pa.array(range(lo, hi), pa.int64()),
                    "timestamp": pa.array(
                        [1_700_000_000_000_000 + o for o in range(lo, hi)],
                        pa.timestamp("us"),
                    ),
                    "value": pa.array(['{"k": %d}' % o for o in range(lo, hi)]),
                }),
                str(d / f"part-{tag}.parquet"),
            )
    return str(root)


@settings(max_examples=60, deadline=None)
@given(
    pos=POSITION,
    n=st.integers(min_value=0, max_value=25),
    end=st.one_of(st.none(), st.integers(min_value=0, max_value=25)),
    rows=st.one_of(st.none(), st.integers(min_value=0, max_value=25)),
    pin=st.one_of(st.none(), st.integers(min_value=0, max_value=5)),
    granule=st.sampled_from([1, 3, 7, 1 << 20]),
)
def test_datasource_pp_matches_python_model(
    tiny_pp_dir, pos, n, end, rows, pin, granule
):
    """The log_dir DataSource (plan-time window algebra + granule-sized
    task chunking) vs the pure-Python per-partition model, driven
    WITHOUT Spark: for every position/end/rows/pin/granule combination
    the union of chunk reads equals the model, chunks never overlap,
    and the task split never changes results.  Pins the chunking path
    against the same model as the builder property tests (reference
    src/partition.rs:107-134)."""
    from fluvio_duck_spark.options import ConsumeOptError
    from fluvio_duck_spark.sources.datasource import FluvioReader

    argv = ["-A"] if pin is None else ["-p", str(pin)]
    argv += position_argv(pos, n, end, rows)
    if crossing(pos, n, end):
        with pytest.raises(ConsumeOptError):
            FluvioReader({"log_dir": tiny_pp_dir, "args": " ".join(argv)})
        return

    reader = FluvioReader({
        "log_dir": tiny_pp_dir, "args": " ".join(argv),
        "max_rows_per_task": str(granule),
    })
    pids = [p for p in range(4) if pin is None or p == pin]
    budget = rows if rows is not None else 1000  # parser default
    model = [
        (p, o)
        for p in pids
        for o in offset_model(range(10 + 3 * p), pos, n, end, budget)
    ]

    parts = reader.partitions()
    got = [
        (d["partition"], d["offset"])
        for p in parts
        for b in reader.read(p)
        for d in b.to_pylist()
    ]
    assert len(got) == len(set(got))  # chunks never overlap
    assert sorted(got) == sorted(model), (argv, granule)


@settings(max_examples=60, deadline=None)
@given(
    start=st.dictionaries(
        st.sampled_from(["0", "1", "2", "3"]),
        st.integers(min_value=0, max_value=30),
        min_size=0, max_size=4,
    ),
    advance=st.dictionaries(
        st.sampled_from(["0", "1", "2", "3"]),
        st.integers(min_value=0, max_value=30),
        min_size=4, max_size=4,
    ),
    granule=st.sampled_from([1, 2, 5, 1 << 20]),
)
def test_stream_partitions_tile_any_cursor_range(
    tiny_pp_dir, start, advance, granule
):
    """The full stream reader's micro-batch planner: for ANY committed
    [start, end) cursor pair and any task granule, the planned chunks
    tile each partition's range exactly (no gap, no overlap) and the
    union of executor reads equals the range's records — the replay
    determinism CONNECTOR.md §4 requires, as a property over random
    cursor positions."""
    from fluvio_duck_spark.sources.datasource import FluvioStreamReader

    r = FluvioStreamReader(
        {"log_dir": tiny_pp_dir, "max_rows_per_batch": str(granule)}
    )
    lens = {p: 10 + 3 * p for p in range(4)}
    end = {
        k: min(start.get(k, 0) + advance[k], lens[int(k)])
        for k in ("0", "1", "2", "3")
    }
    # clamp start at end (Spark never plans start > end)
    lo_map = {k: min(start.get(k, 0), end[k]) for k in end}

    parts = r.partitions(lo_map, end)
    got = [
        (d["partition"], d["offset"])
        for p in parts
        for b in r.read(p)
        for d in b.to_pylist()
    ]
    model = [
        (int(k), o)
        for k in end
        for o in range(lo_map[k], end[k])
        if o < lens[int(k)]
    ]
    assert len(got) == len(set(got))  # no chunk overlap
    assert sorted(got) == sorted(model)
    # chunk windows tile [lo, end) exactly per partition
    spans: dict[int, list] = {}
    for p in parts:
        spans.setdefault(p.pid, []).append((p.lo, p.hi))
    for pid, tiles in spans.items():
        tiles.sort()
        k = str(pid)
        assert tiles[0][0] == lo_map[k] and tiles[-1][1] == end[k]
        assert all(b[0] == a[1] for a, b in zip(tiles, tiles[1:]))


@pytest.fixture(scope="module")
def tiny_topic(request, tmp_path_factory):
    """One 48-event topic in both storage layouts, plus a record server:
    ``sf`` holds an ``events.parquet`` with the fixture schema (global
    offsets = event_id; partition = user_id % 4; four event types) and
    ``log`` the same records as per-partition logs, two fragments each
    (offsets = rank by event_id within the partition).  Every payload
    is ``{"k": event_id}``, so any front end's rows name their events."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from fluvio_duck_spark.sources.loopback import RecordServer

    root = tmp_path_factory.mktemp("tiny_topic")
    ids = list(range(48))
    uids = [(5 * i) % 11 for i in ids]
    types = [("click", "view", "click", "buy")[i % 4] for i in ids]
    ts = [1_700_000_000_000_000 + 1000 * i for i in ids]
    props = ['{"k": %d}' % i for i in ids]
    (root / "sf").mkdir()
    pq.write_table(pa.table({
        "event_id": pa.array(ids, pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(uids, pa.int64()),
        "event_type": types,
        "value": [float(i) for i in ids],
        "props": props,
    }), str(root / "sf" / "events.parquet"))
    pp_ids = {p: [i for i in ids if uids[i] % 4 == p] for p in range(4)}
    for p, members in pp_ids.items():
        d = root / "log" / f"partition={p}"
        d.mkdir(parents=True)
        cut = len(members) // 2
        for tag, lo, hi in (("a", 0, cut), ("b", cut, len(members))):
            pq.write_table(pa.table({
                "offset": pa.array(range(lo, hi), pa.int64()),
                "timestamp": pa.array([ts[i] for i in members[lo:hi]],
                                      pa.timestamp("us")),
                "value": [props[i] for i in members[lo:hi]],
            }), str(d / f"part-{tag}.parquet"))
    srv = RecordServer(str(root / "log")).start()
    yield {
        "sf": str(root / "sf"), "log": str(root / "log"),
        "server": srv.address, "types": types, "pp_ids": pp_ids,
    }
    srv.stop()


@settings(max_examples=12, deadline=None)
@given(
    topic=st.sampled_from(["events", "click"]),
    pin=st.one_of(st.none(), st.integers(min_value=0, max_value=3)),
    pos=POSITION,
    n=st.integers(min_value=0, max_value=30),
    end=st.one_of(st.none(), st.integers(min_value=0, max_value=50)),
    rows=st.one_of(st.none(), st.integers(min_value=0, max_value=30)),
)
# a zero budget over a sparse sub-topic must keep no row
@example(topic="click", pin=None, pos="-B", n=0, end=None, rows=0)
@example(topic="events", pin=2, pos="-T", n=5, end=None, rows=None)
def test_front_ends_agree_on_offsets(spark, tiny_topic, topic, pin, pos, n,
                                     end, rows):
    """Every consume front end resolves one option string to the same
    records as the shared model: the builder (global and
    ``per_partition_offsets``), the ``fluvio`` DataSource (``sf_dir``,
    ``log_dir``, ``server``), the consume UDTF and the stream.  The
    stream takes only -B/-H/--start (no log end) and no ``--rows``
    budget (an unbounded stream has no one-shot row count)."""
    import json

    from hypothesis import assume

    from fluvio_duck_spark.sources.consume import fluvio_consume
    from fluvio_duck_spark.sources.datasource import register_fluvio_source
    from fluvio_duck_spark.sources.pplog import per_partition_log
    from fluvio_duck_spark.sources.udtf import register_sql_table_functions
    from fluvio_duck_spark.streaming.consume_stream import (
        fluvio_consume_stream,
        run_stream_to_table,
    )

    assume(not crossing(pos, n, end))
    register_fluvio_source(spark)
    register_sql_table_functions(spark)
    sf, t = tiny_topic["sf"], tiny_topic
    args = " ".join(
        (["-A"] if pin is None else ["-p", str(pin)])
        + position_argv(pos, n, end, rows)
    )
    opts = f"{topic} {args}"
    budget = 1000 if rows is None else rows  # parser default

    def keys(df) -> list[int]:
        return sorted(json.loads(r.value)["k"] for r in df.select("value").collect())

    def ds(**options):
        reader = spark.read.format("fluvio").option("args", args)
        for k, v in options.items():
            reader = reader.option(k, v)
        return reader.load()

    # global offsets: an event's offset is its event_id
    sel = [
        i for i, ty in enumerate(t["types"])
        if (topic == "events" or ty == topic)
        and (pin is None or ((5 * i) % 11) % 4 == pin)
    ]
    want = offset_model(sel, pos, n, end, budget)
    got = {
        "builder": keys(fluvio_consume(spark, opts, sf)),
        "datasource sf_dir": keys(ds(sf_dir=sf, topic=topic)),
        "udtf": keys(spark.sql(
            f"SELECT value FROM fluvio_consume('{opts}', '{sf}')"
        )),
    }
    for name, ks in got.items():
        assert ks == want, (name, opts)
    if pos in ("-B", "-H", "--start"):
        stream = run_stream_to_table(
            fluvio_consume_stream(spark, opts, sf_dir=sf), spark
        )
        assert keys(stream) == offset_model(sel, pos, n, end, None), opts
    if topic != "events":
        return  # a per-partition log directory is one topic

    # per-partition offsets: each partition's rank by event_id
    want_pp = sorted(
        t["pp_ids"][p][o]
        for p in range(4) if pin is None or p == pin
        for o in offset_model(range(len(t["pp_ids"][p])), pos, n, end, budget)
    )
    got_pp = {
        "builder per_partition_offsets": keys(fluvio_consume(
            spark, opts, source=per_partition_log(spark, sf),
            per_partition_offsets=True,
        )),
        "datasource log_dir": keys(ds(log_dir=t["log"])),
        "datasource server": keys(ds(server=t["server"])),
    }
    for name, ks in got_pp.items():
        assert ks == want_pp, (name, opts)
