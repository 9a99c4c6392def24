"""Tests of the benchmark's own metric code (no Spark session needed).

    python3 -m pytest perfbench/test_metrics.py -q
"""

from __future__ import annotations

import json
import math
import os
import statistics
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from checks import table_hash  # noqa: E402
from harness import END_TO_END  # noqa: E402
from metrics import (  # noqa: E402
    OpCount,
    attribute_freshness,
    percentile,
    relative_iqr,
    stratum_weights,
    supported_percentile,
    weighted_percentile,
)


# -- percentile selection -------------------------------------------------

def test_percentile_is_nearest_rank():
    vals = list(range(1, 101))  # 1..100
    assert percentile(vals, 50) == 50
    assert percentile(vals, 95) == 95
    assert percentile(vals, 100) == 100
    assert percentile([7.0], 80) == 7.0
    assert percentile([3, 1, 2], 50) == 2  # input order does not matter


def test_percentile_of_nothing_raises():
    with pytest.raises(ValueError):
        percentile([], 50)


@pytest.mark.parametrize("n,expected", [
    (200, 95), (100, 90), (50, 80), (40, 75), (20, 50), (11, 9), (10, 0),
    (0, 0),
])
def test_supported_percentile(n, expected):
    assert supported_percentile(n) == expected


@pytest.mark.parametrize("n", [11, 23, 40, 57, 99, 200, 333])
def test_supported_percentile_leaves_ten_beyond_and_is_highest(n):
    vals = list(range(n))  # distinct, so "beyond" is unambiguous
    p = supported_percentile(n)
    assert sum(v > percentile(vals, p) for v in vals) >= 10
    if p < 99:
        assert sum(v > percentile(vals, p + 1) for v in vals) < 10


def test_consume_window_supports_its_tail_percentile():
    import w_consume

    n = w_consume.MIN_STATEMENTS
    assert supported_percentile(n) >= w_consume.TAIL_PCT
    assert supported_percentile(n - 1) < w_consume.TAIL_PCT


def test_ingest_window_supports_its_tail_percentile():
    import w_ingest

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        seconds = json.load(fh)["run_seconds"]
    chunks = int(seconds * w_ingest.RATE / w_ingest.CHUNK)
    assert supported_percentile(chunks) >= w_ingest.TAIL_PCT


def test_weighted_percentile_with_equal_weights_is_nearest_rank():
    vals = [5, 1, 4, 2, 3, 9, 7]
    for p in (10, 50, 80, 95, 100):
        assert weighted_percentile(vals, [1] * len(vals), p) == percentile(
            vals, p)


def test_stratum_weights_rebalance_to_declared_shares():
    # kind "a" ran 3 times, "b" once; declared shares are equal, so the
    # single "b" sample weighs as much as the three "a" samples together
    labels = ["a", "a", "a", "b"]
    w = stratum_weights(labels, {"a": 1, "b": 1})
    assert w == [1 / 3, 1 / 3, 1 / 3, 1.0]
    vals = [10, 10, 10, 100]
    assert percentile(vals, 50) == 10
    assert weighted_percentile(vals, w, 50) == 10
    assert weighted_percentile(vals, w, 51) == 100


# -- freshness attribution ------------------------------------------------

def test_chunk_attributed_to_first_covering_commit():
    chunks = [(0.0, 0, 9), (0.5, 0, 19), (0.7, 1, 4)]
    commits = [
        (1.0, {0: 9, 1: -1}),    # covers chunk 0 only
        (2.0, {0: 15, 1: 4}),    # partition 0 not yet at 19; covers chunk 2
        (3.0, {0: 25, 1: 4}),    # covers chunk 1
        (4.0, {0: 30, 1: 10}),   # later commits never re-attribute
    ]
    assert attribute_freshness(chunks, commits) == [1.0, 2.5, 1.3]


def test_uncovered_chunk_has_no_freshness():
    chunks = [(0.0, 0, 9), (0.0, 2, 0)]
    commits = [(1.0, {0: 8})]
    assert attribute_freshness(chunks, commits) == [None, None]


def test_a_commit_reporting_a_lower_max_is_never_first():
    # a later commit that repeats or lowers a partition's max must not
    # claim offsets an earlier commit already covered
    chunks = [(0.0, 0, 5)]
    commits = [(1.0, {0: 7}), (2.0, {0: 6}), (3.0, {0: 7})]
    assert attribute_freshness(chunks, commits) == [1.0]


def test_freshness_counts_from_due_time():
    # a stalled generator: the chunk was due at 0.0 even if sent later
    assert attribute_freshness([(0.0, 3, 0)], [(5.0, {3: 0})]) == [5.0]


def test_appended_fragment_continues_the_partition_log(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from fluvio_duck_spark.sources.pplog import pp_footer_leo
    from w_ingest import append_fragment

    part, stage = tmp_path / "partition=0", tmp_path / "stage"
    part.mkdir()
    stage.mkdir()
    pq.write_table(pa.table({
        "offset": pa.array([0, 1, 2], pa.int64()),
        "timestamp": pa.array([0, 0, 0], pa.timestamp("us")),
        "value": ['{"k": 1}'] * 3,
    }), str(part / "part-0.parquet"))
    tbl = pa.table({"timestamp": pa.array([5, 6], pa.timestamp("us")),
                    "value": ['{"k": 7}', '{"k": 8}']})
    append_fragment(str(part), str(stage), pp_footer_leo(str(part)), tbl)
    assert pp_footer_leo(str(part)) == 5
    assert list(stage.iterdir()) == []
    got = pq.read_table(str(part)).sort_by("offset")
    assert got["offset"].to_pylist() == [0, 1, 2, 3, 4]
    assert got["value"].to_pylist()[3:] == ['{"k": 7}', '{"k": 8}']


# -- failure counting -----------------------------------------------------

def test_failed_frac_counts_failed_over_attempted():
    ops = OpCount()
    for ok in (True, True, False, True):
        ops.record(ok, "" if ok else "wrong result")
    assert (ops.attempted, ops.failed) == (4, 1)
    assert ops.failed_frac == 0.25
    assert ops.errors == ["wrong result"]


def test_failed_frac_of_nothing_is_zero():
    assert OpCount().failed_frac == 0.0


def test_error_log_is_bounded():
    ops = OpCount()
    for i in range(50):
        ops.record(False, f"e{i}")
    assert ops.failed == 50 and len(ops.errors) == 20


# -- spread and hashing ---------------------------------------------------

def test_relative_iqr_matches_statistics_quantiles():
    vals = [10.0, 11.0, 9.5, 10.2, 10.8, 9.9, 10.1, 10.4, 10.0, 10.6]
    q1, _, q3 = statistics.quantiles(vals, n=4)
    assert math.isclose(relative_iqr(vals), (q3 - q1) / statistics.median(vals))


def test_table_hash_ignores_row_and_column_order():
    a = table_hash(["x", "y"], [(1, "a"), (2, "b")])
    b = table_hash(["y", "x"], [("b", 2), ("a", 1)])
    assert a == b and a[0] == 2
    assert table_hash(["x"], [(1.0,)]) != table_hash(["x"], [(1,)])


def test_declared_end_to_end_metrics_match_the_harness():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
