"""Tests of the benchmark's own checks and span arithmetic.

    python3 -m pytest perfbench/test_run.py -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from run import Ops, run_ops  # noqa: E402
from spans import parse_metric, self_time  # noqa: E402
from workloads import Workload, digest  # noqa: E402


class _Pinned(Workload):
    name = "test"

    def __init__(self, expected=None):
        self.expected = expected
        self.reference = None


def _ops_over(outputs, wl) -> Ops:
    """One checked operation per output, in order."""
    ops = Ops()
    for out in outputs:
        run_ops(wl, ops, 0, lambda out=out: (out, 1))
    return ops


def test_corrupted_output_is_a_failed_operation():
    good = {"nodes": 38, "nodes_hash": 12345, "edges": 374}
    bad = dict(good, nodes_hash=12346)
    ops = _ops_over([good, good, bad], _Pinned())
    assert ops.attempted == 3
    assert ops.failed / ops.attempted > 0
    assert ops.failed == 1


def test_pinned_mismatch_fails_even_a_consistent_run():
    good = {"docs_out": 492, "docs_hash": 7}
    ops = _ops_over([good, good], _Pinned({"docs_out": 492,
                                           "docs_hash": 8}))
    assert ops.failed == 2


def test_raising_operation_counts_as_failed():
    ops = Ops()

    def boom():
        raise RuntimeError("lost executor")

    run_ops(_Pinned(), ops, 0, boom)
    assert (ops.attempted, ops.failed) == (1, 1)


def test_self_time_subtracts_the_union_of_children():
    assert self_time(0, 10, []) == 10
    assert self_time(0, 10, [(1, 3), (2, 4), (6, 7)]) == pytest.approx(6)
    assert self_time(0, 10, [(-5, 2), (9, 20)]) == pytest.approx(7)


def test_parse_metric_reads_totals():
    assert parse_metric("total (min, med, max (stageId: taskId))\n"
                        "14.2 s (338 ms, 2.9 s, 3.4 s (stage 2.0: task 4))"
                        ) == pytest.approx(14.2)
    assert parse_metric("790.9 KiB") == pytest.approx(790.9 * 1024)
    assert parse_metric("345 ms") == pytest.approx(0.345)
    assert parse_metric(None) == 0.0


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (SparkSession.builder.master("local[2]").appName("perfbench-test")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false").getOrCreate())
    yield s
    s.stop()


def test_digest_ignores_order_and_sees_one_changed_value(spark):
    schema = "id long, chunks array<string>, props map<string, array<string>>"
    rows = [(1, ["a", "b"], {"k": ["x", "y"], "j": ["z"]}),
            (2, ["c"], {"k": ["w"]})]
    shuffled = [(2, ["c"], {"k": ["w"]}),
                (1, ["b", "a"], {"j": ["z"], "k": ["y", "x"]})]
    corrupt = [(1, ["a", "b"], {"k": ["x", "y"], "j": ["z"]}),
               (2, ["c"], {"k": ["v"]})]
    d = digest(spark.createDataFrame(rows, schema))
    assert d == digest(spark.createDataFrame(shuffled, schema))
    assert d != digest(spark.createDataFrame(corrupt, schema))
    ops = _ops_over([{"h": d}, {"h": digest(spark.createDataFrame(
        corrupt, schema))}], _Pinned())
    assert ops.failed / ops.attempted > 0


def test_spans_charge_their_jobs_to_the_innermost_span(spark):
    from spans import Tracer

    tracer = Tracer(spark)
    with tracer.span("a", new_trace=True):
        with tracer.span("b"):
            spark.range(10).count()
    tracer.harvest()
    a, b = tracer.spans
    assert a["jobs"] == 0 and b["jobs"] >= 1
    assert a["self_s"] + b["self_s"] == pytest.approx(a["end"] - a["start"])
    assert tracer.own_s > 0
