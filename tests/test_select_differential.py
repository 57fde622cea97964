"""Hypothesis differential: ``ParquetQueryable.select`` against a brute
force filter of the long-form input.

One input is written as 1, 2 or 3 time-split shards with 1h time
buckets, so shard skipping, bucket-partition pruning, the ``s_ts``
filter, matcher pushdown and the label-column union across shards all
run.  Random matcher sets (``=``, ``!=``, ``=~``, ``!~``, including
ones that match the empty string) and random ``[mint, maxt]`` windows
must return exactly the input samples a pure-Python evaluation of the
same matchers selects.
"""

from __future__ import annotations

import random
import re

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from parquet_common_spark import Matcher, ParquetQueryable
from parquet_common_spark import convert as C

HOUR_MS = 3_600_000
SPAN_MS = 6 * HOUR_MS


def _input() -> list[tuple[dict, int, float]]:
    """(labels, ts ms, value) rows: series of two metrics whose label
    sets differ (``code`` and ``env`` only on some), each live over its
    own part of the span, so some shards lack some series and labels."""
    rnd = random.Random(11)
    rows = []
    for name in ("up", "req"):
        for job in ("a", "b", "ab"):
            for k in range(3):
                labels = {"__name__": name, "job": job, "inst": f"i{k}"}
                if name == "req":
                    labels["code"] = ("200", "500")[k % 2]
                if k == 2:
                    labels["env"] = "prod"
                lo = rnd.randrange(0, SPAN_MS // 2, 60_000)
                hi = rnd.randrange(lo + 60_000, SPAN_MS + 1, 60_000)
                step = rnd.choice([60_000, 300_000, 900_000])
                rows += [(labels, t, float(rnd.randint(0, 99))) for t in range(lo, hi, step)]
    return rows


def _matches(labels: dict, m: Matcher) -> bool:
    v = labels.get(m.name, "")
    if m.op == "=":
        return v == m.value
    if m.op == "!=":
        return v != m.value
    hit = re.fullmatch(m.value, v, re.DOTALL) is not None
    return hit if m.op == "=~" else not hit


@pytest.fixture(scope="module")
def queryables(spark, tmp_path_factory):
    """{n: ParquetQueryable over the input split into n shards}."""
    rows = _input()
    root = tmp_path_factory.mktemp("select_diff")
    out = {}
    for n in (1, 2, 3):
        dirs = []
        for k in range(n):
            part = [r for r in rows if k * SPAN_MS // n <= r[1] < (k + 1) * SPAN_MS // n]
            df = spark.createDataFrame(part, "labels map<string,string>, ts long, value double")
            d = str(root / f"n{n}_s{k}")
            C.convert(df, d, col_duration_ms=HOUR_MS)
            dirs.append(d)
        out[n] = ParquetQueryable.from_paths(spark, dirs)
    return rows, out


_NAME = st.sampled_from(["__name__", "job", "inst", "code", "env", "ghost"])
_OP = st.sampled_from(["=", "!=", "=~", "!~"])
_VALUE = st.sampled_from(
    ["", "up", "req", "a", "ab", "i1", "200", "prod", ".*", ".+", "a.*", "a|b", "i[02]", "5..", "x"]
)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    matchers=st.lists(st.builds(Matcher, _NAME, _OP, _VALUE), min_size=1, max_size=3),
    mint=st.integers(-60, 6 * 60 + 60),
    length=st.integers(0, 5 * 60),
    n=st.integers(1, 3),
)
def test_select_matches_bruteforce(queryables, matchers, mint, length, n):
    rows, qs = queryables
    mint_ms, maxt_ms = mint * 60_000, (mint + length) * 60_000
    got = sorted(
        (
            tuple(sorted((k[2:], v) for k, v in r.asDict().items() if k.startswith("l_") and v is not None)),
            r["s_ts"],
            r["s_value"],
        )
        for r in qs[n].select(mint_ms, maxt_ms, matchers).collect()
    )
    want = sorted(
        (tuple(sorted(labels.items())), t, v)
        for labels, t, v in rows
        if mint_ms <= t <= maxt_ms and all(_matches(labels, m) for m in matchers)
    )
    assert got == want, (matchers, mint_ms, maxt_ms, n)
