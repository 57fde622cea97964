"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py -q

The tiny-size runs start Spark once per workload (about a minute each).
"""

from __future__ import annotations

import json
import math
import subprocess
import sys
from pathlib import Path

import numpy as np
import pytest

from perfbench import datagen as G
from perfbench.run import END_TO_END, closed_loop, percentile_tail, warm_ops
from perfbench.workloads import WORKLOADS, Op, RangeQuery, SelectMix

ROOT = Path(__file__).resolve().parent.parent
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_tiny_run_prints_every_metric_with_its_unit(workload):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", "1", "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    report = {ln.split()[0]: ln.split()[-1] for ln in lines[1:-1] if ln.startswith("  ")
              and not ln.startswith("  FAILED")}
    for name, unit in END_TO_END.items():
        assert report.get(name) == unit, name
    for m in BENCH["end_to_end"]:
        assert report.get(m["name"]) == m["unit"], m["name"]
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    got = result["metrics"]
    assert set(got) == {m["name"] for m in BENCH["per_layer"]}
    for m in BENCH["per_layer"]:
        assert got[m["name"]]["unit"] == m["unit"], m["name"]


class _Replay:
    """Returns canned results and checks them with a real workload's check."""

    def __init__(self, check, results):
        self.check, self.results = check, results

    def run(self, op):
        return self.results[op.name]


def test_wrong_expected_value_counts_as_failure():
    sel = SelectMix("tiny")
    ops = [Op("select", "right", expect=300), Op("select", "wrong", expect=301)]
    loop = closed_loop(_Replay(sel.check, {"right": 300, "wrong": 300}), [ops], math.inf)
    assert len(loop["lat_ms"]) == 2
    assert loop["failures"] == ["select:wrong: wrong result"]


def test_wrong_range_query_value_counts_as_failure():
    rq = RangeQuery("tiny")
    want = {("job-0", 60_000): 1.5}
    op = Op("range", "rate_sum", expect={k: v + 1e-3 for k, v in want.items()})
    rows = [{"l_job": "job-0", "_ev": 60_000, "value": 1.5}]
    loop = closed_loop(_Replay(rq.check, {"rate_sum": rows}), [[op]], math.inf)
    assert loop["failures"] == ["range:rate_sum: wrong result"]
    op.expect = want
    assert closed_loop(_Replay(rq.check, {"rate_sum": rows}), [[op]], math.inf)["failures"] == []


def test_cache_key_changes_with_package_source(tmp_path):
    pkg = tmp_path / G.PACKAGE
    (pkg / "sub").mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "sub" / "convert.py").write_text("X = 1\n")
    params = {"size": "tiny"}
    before = G.cache_key("select-mix", params, tmp_path)
    assert G.cache_key("select-mix", params, tmp_path) == before
    (pkg / "sub" / "convert.py").write_text("X = 2\n")
    assert G.cache_key("select-mix", params, tmp_path) != before
    (pkg / "sub" / "new.py").write_text("")
    assert len({before, G.cache_key("select-mix", params, tmp_path)}) == 2


def test_f2_expectations_follow_the_cross_product():
    from parquet_common_spark import Matcher as M

    f2 = G.F2.of_size("full")
    assert f2.series == 1_500_000
    assert f2.expected_series([M("__name__", "=", "test_metric_1")]) == 300_000
    one = [M("__name__", "=", "test_metric_1"), M("instance", "=", "instance-3"),
           M("region", "=", "region-1"), M("zone", "=", "zone-2"),
           M("service", "=", "service-4"), M("environment", "=", "environment-0")]
    assert f2.expected_series(one) == 1
    assert f2.expected_series([M("__name__", "=", "test_metric_1"),
                               M("environment", "=", "non-existent-environment")]) == 0


def test_tail_percentile_keeps_ten_ops_beyond_it():
    assert percentile_tail([float(x) for x in range(1, 201)]) == (190.0, 95.0, 10)
    assert percentile_tail([float(x) for x in range(1, 16)])[0] == 14.0
    assert percentile_tail([3.0]) == (3.0, 100.0, 0)


def test_range_query_round_draws_each_template_twice_and_one_block():
    rq = RangeQuery("tiny")
    for rnd in rq.rounds(np.random.default_rng(3), 4):
        assert sorted(op.name for op in rnd if op.kind == "range") == sorted(RangeQuery.TEMPLATES * 2)
        assert [op.kind for op in rnd].count("convert") == 1


def test_warm_up_takes_one_op_of_each_kind_first():
    rnd = [Op("range", "a"), Op("range", "b"), Op("range", "c"), Op("convert", "block")]
    assert [op.name for op in warm_ops(rnd, 2)] == ["a", "block"]
    assert [op.name for op in warm_ops(rnd, 3)] == ["a", "block", "b"]
    assert [op.name for op in warm_ops(rnd, 1)] == ["a", "block"]
