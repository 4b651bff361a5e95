"""Unit tests of the benchmark's own parts; run with

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import datetime
import decimal
import random

import pyarrow as pa
import pytest

from perfbench import oracle, sqlmetrics, workloads

TOTAL = "total (min, med, max (stageId: taskId))\n"

# strings captured from Spark 4.1's /sql?details=true for gcd, series_udtf,
# sum_udaf and remote_gcd, plus the shapes quoted in the Spark UI docs
CAPTURED = [
    ("1.2 s", 1.2),
    ("752 ms", 0.752),
    ("0 ms", 0.0),
    ("47.0 KiB", 47.0 * 1024),
    ("95.4 KiB", 95.4 * 1024),
    ("352.0 B", 352.0),
    ("0.0 B", 0.0),
    ("4.6 MiB", 4.6 * (1 << 20)),
    ("6,000", 6000.0),
    ("4", 4.0),
    (TOTAL + "1.4 s (165 ms, 442 ms, 453 ms (stage 5.0: task 6))", 1.4),
    (TOTAL + "55.4 KiB (12.5 KiB, 14.6 KiB, 14.8 KiB (stage 5.0: task 4))", 55.4 * 1024),
    (TOTAL + "3.5 s (1.0 s, 1.2 s, 1.3 s (stage 2.0: task 7))", 3.5),
    ("total (min, med, max)\n2.0 s (359 ms, 440 ms, 803 ms)", 2.0),
    ("1.5 m", 90.0),
    ("1.1 GiB", 1.1 * (1 << 30)),
]


@pytest.mark.parametrize("text,want", CAPTURED)
def test_parse_captured_metric_strings(text, want):
    assert sqlmetrics.parse(text) == pytest.approx(want)


@pytest.mark.parametrize("text", ["", "n/a", "3 parsecs"])
def test_parse_rejects_unknown_text(text):
    with pytest.raises(ValueError):
        sqlmetrics.parse(text)


def test_every_workload_query_is_runnable_here():
    from arrow_udf_spark.queries import ORACLE, QUERIES

    assert workloads.self_test(QUERIES, ORACLE) == []
    assert all(
        c in workloads.LAYER_OF_CLASS or c == "driver"
        for members in workloads.WORKLOADS.values()
        for c in members.values()
    )


def test_self_test_refuses_reference_server_queries():
    from arrow_udf_spark.queries import ORACLE, QUERIES

    problems = workloads.self_test(QUERIES, ORACLE, {"w": {"remote_ref_gcd": "remote"}})
    assert problems == ["w: remote_ref_gcd needs the reference server"]


def _table(rows, names):
    return pa.table({n: [r[i] for r in rows] for i, n in enumerate(names)})


ROWS = [
    (1, "a", 1.5, decimal.Decimal("1.50"), datetime.datetime(2020, 1, 2, 3, 4, 5), True),
    (2, None, float("nan"), None, None, False),
    (3, "c", -0.0, decimal.Decimal("-3.00"), datetime.datetime(1999, 12, 31), None),
    (3, "c", None, decimal.Decimal("-3.00"), datetime.datetime(1999, 12, 31), None),
    (-4, "", 1e-7, decimal.Decimal("0.10"), datetime.datetime(2001, 1, 1), True),
]
NAMES = ["K", "s", "f", "d", "ts", "b"]


def test_table_digest_is_digest_of_the_same_rows():
    # the Spark side arrives as an Arrow table, the DuckDB side as tuples
    assert oracle.table_digest(_table(ROWS, NAMES)) == oracle.digest(NAMES, ROWS)


def test_digest_ignores_row_and_column_order():
    shuffled = ROWS[:]
    random.Random(1).shuffle(shuffled)
    perm = [3, 0, 2, 5, 1, 4]
    reordered = _table([tuple(r[i] for i in perm) for r in shuffled], [NAMES[i] for i in perm])
    assert oracle.mismatch(oracle.table_digest(reordered), oracle.digest(NAMES, ROWS)) is None


def test_digest_sees_one_changed_value_and_a_lost_row():
    base = oracle.digest(NAMES, ROWS)
    changed = [ROWS[0][:2] + (1.5000000000000002,) + ROWS[0][3:]] + ROWS[1:]
    assert oracle.mismatch(oracle.digest(NAMES, changed), base) == "values differ"
    short = oracle.digest(NAMES, ROWS[:-1])
    assert oracle.mismatch(short, base).startswith("row count")


def test_null_and_nan_fold_together_as_in_compare():
    a = pa.table({"x": pa.array([float("nan"), 0.0], pa.float64())})
    b = pa.table({"x": pa.array([None, -0.0], pa.float64())})
    assert oracle.table_digest(a) == oracle.table_digest(b)


def test_benchmark_json_names_every_metric_the_run_prints():
    import json
    import os

    from perfbench.run import END_TO_END, PER_LAYER, ROOT

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
