"""The PromQL engine and the tumbling-window layer share each formula.

promqltest/engine.py evaluates range functions over ``(eval - range,
eval]`` and functions/promql.py over tumbling ``[w*W, (w+1)*W)``
windows; both call the same kernels (extrapolation, reset/change tests,
instant pair, Holt fold).  These pins evaluate one window both ways and
fail if the layers drift apart.  Every sample sits strictly inside the
window, so the left-open and right-open conventions select the same
samples.
"""

from __future__ import annotations

import pytest

from parquet_common_spark.functions import promql as P

W_MS = 600_000  # one 10m window
WIN = 3  # [3W, 4W): the engine evaluates at its end
START_MS, END_MS = WIN * W_MS, (WIN + 1) * W_MS

# (offset into the window in ms, value) per series — each chosen to hit
# a different branch of the extrapolation rule
CASES = {
    # regular scrapes close to both edges: extrapolate to the edges
    "edges": [(5_000 + 60_000 * i, 10.0 + 3.5 * i) for i in range(10)],
    # a counter reset mid-window, compensated
    "reset": [(20_000, 50.0), (80_000, 58.0), (140_000, 2.0), (200_000, 9.5), (260_000, 14.0)],
    # first sample far from the start and small: half-interval rule,
    # then the counter zero-point clamp
    "clamp": [(300_000, 1.0), (330_000, 40.0), (360_000, 81.0), (390_000, 120.0)],
    # a falling gauge, its last sample far from the end
    "falling": [(15_000, 900.0), (75_000, 640.0), (135_000, 610.0), (195_000, 120.25)],
    # two samples only, the last two equal (no change)
    "pair": [(100_000, 7.0), (400_000, 7.0)],
    "flat3": [(100_000, 7.0), (250_000, 7.0), (400_000, 3.0)],
}


@pytest.fixture(scope="module")
def layers(spark):
    """(engine with the samples loaded, the same samples as a µs frame)."""
    from parquet_common_spark.promqltest import PromQLEngine
    from parquet_common_spark.promqltest.scriptparse import LoadCmd, Sample

    eng = PromQLEngine(spark)
    eng.load(
        LoadCmd(
            60_000,
            [
                ({"__name__": "m", "case": c}, [Sample(START_MS + o, v) for o, v in pts])
                for c, pts in CASES.items()
            ],
        )
    )
    rows = [(c, (START_MS + o) * 1000, v) for c, pts in CASES.items() for o, v in pts]
    return eng, spark.createDataFrame(rows, "case string, ts long, v double")


def _engine(eng, expr: str) -> dict:
    kind, got = eng.eval_instant(expr, END_MS)
    assert kind == "vector"
    return {labels["case"]: vals[END_MS] for labels, vals in got}


def _windows(df, col: str) -> dict:
    rows = df.where(df["_win"] == WIN).collect()
    return {r["case"]: r[col] for r in rows if r[col] is not None}


@pytest.mark.parametrize(
    "fn,is_counter,is_rate",
    [("increase", True, False), ("rate", True, True), ("delta", False, False)],
)
def test_extrapolation_agrees_across_layers(layers, fn, is_counter, is_rate):
    eng, df = layers
    got = _engine(eng, f"{fn}(m[10m])")
    want = _windows(
        P.extrapolated_increase_over_windows(
            df, ["case"], "ts", "v", W_MS * 1000, is_counter=is_counter, is_rate=is_rate
        ),
        "rate" if is_rate else "increase",
    )
    assert got == want and len(got) == len(CASES)


def test_smoothing_agrees_across_layers(layers):
    eng, df = layers
    got = _engine(eng, "double_exponential_smoothing(m[10m], 0.3, 0.1)")
    want = _windows(
        P.double_exponential_smoothing_over_windows(
            df, ["case"], "ts", "v", W_MS * 1000, sf=0.3, tf=0.1
        ),
        "smoothed",
    )
    assert got == want and len(got) == len(CASES)


@pytest.mark.parametrize("fn", ["idelta", "irate"])
def test_instant_pair_agrees_across_layers(layers, fn):
    eng, df = layers
    got = _engine(eng, f"{fn}(m[10m])")
    want = _windows(P.instant_over_windows(df, ["case"], "ts", "v", W_MS * 1000), fn)
    assert got == want and len(got) == len(CASES)


@pytest.mark.parametrize("fn", ["resets", "changes"])
def test_pair_counts_agree_across_layers(layers, fn):
    eng, df = layers
    got = _engine(eng, f"{fn}(m[10m])")
    want = _windows(P.resets_changes_over_windows(df, ["case"], "ts", "v", W_MS * 1000), fn)
    assert got == {c: float(n) for c, n in want.items()} and len(got) == len(CASES)
