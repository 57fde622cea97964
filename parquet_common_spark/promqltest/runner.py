"""Execute parsed promqltest scripts against the Spark PromQL engine.

Comparison mirrors upstream promqltest (promql/promqltest/test.go):
values match within the default epsilon 1e-6 (relative, almost.Equal);
NaN == NaN; the result set must cover EXACTLY the expected series;
``eval_ordered`` compares output order; ``eval_fail`` expects a parse or
evaluation error.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

from parquet_common_spark.promqltest.engine import PromQLEngine
from parquet_common_spark.promqltest.promqlparse import parse_promql
from parquet_common_spark.promqltest.scriptparse import (
    ClearCmd,
    EvalCmd,
    LoadCmd,
    Script,
    parse_script,
)

EPSILON = 1e-6


def almost_equal(a: float, b: float) -> bool:
    if a is None or b is None:
        return a is b
    if math.isnan(a) and math.isnan(b):
        return True
    if a == b:
        return True
    if math.isinf(a) or math.isinf(b):
        return False
    diff = abs(a - b)
    if a == 0 or b == 0 or diff < 1e-45:  # minNormal guard, as upstream
        return diff < EPSILON
    return diff / min(abs(a) + abs(b), 1.7976931348623157e308) < EPSILON


@dataclass
class EvalFailure:
    script: str
    line: int
    expr: str
    message: str

    def __str__(self):
        return f"{self.script}:{self.line}: {self.expr}\n    {self.message}"


@dataclass
class ScriptResult:
    script: str
    evals_total: int = 0
    evals_passed: int = 0
    failures: list[EvalFailure] = field(default_factory=list)

    @property
    def ok(self) -> bool:
        return not self.failures and self.evals_passed == self.evals_total


def _fmt(labels: dict) -> str:
    inner = ", ".join(f'{k}="{v}"' for k, v in sorted(labels.items()))
    return "{" + inner + "}"


def _hist_mismatch(got: dict, want: dict) -> str | None:
    """Compare an engine histogram against an expected {{...}} literal
    (upstream promqltest compares every component with the epsilon;
    z_bucket_w is not tracked through engine aggregation — not
    compared).  None on match, else a component description."""
    if int(got["schema"]) != int(want["schema"]):
        return f"schema {got['schema']} != {want['schema']}"
    gcv = got.get("custom_values") or None
    wcv = want.get("custom_values") or None
    if (gcv is None) != (wcv is None) or (
        gcv is not None
        and (
            len(gcv) != len(wcv)
            or any(not almost_equal(g, w) for g, w in zip(gcv, wcv))
        )
    ):
        return f"custom_values {gcv} != {wcv}"
    for gk, wk in (("count", "count"), ("sum", "sum"), ("z_bucket", "z_bucket")):
        if not almost_equal(got[gk], want[wk]):
            return f"{wk} {got[gk]} != {want[wk]}"
    for side, bk, ok in (("pos", "buckets", "offset"), ("neg", "n_buckets", "n_offset")):
        wpairs = {
            want[ok] + i: c for i, c in enumerate(want[bk]) if c != 0
        }
        gpairs = {k: c for k, c in got[side].items() if c != 0}
        if set(wpairs) != set(gpairs):
            return f"{side} bucket indexes {sorted(gpairs)} != {sorted(wpairs)}"
        for k, c in wpairs.items():
            if not almost_equal(gpairs[k], c):
                return f"{side} bucket {k}: {gpairs[k]} != {c}"
    return None


def _check_hist_eval(engine: PromQLEngine, cmd: EvalCmd, expr, evs) -> str | None:
    """Eval with native-histogram {{...}} expectations."""
    try:
        result = engine.eval_hist(expr, evs)
    except Exception as e:
        if cmd.fail:
            return None
        return f"eval error: {type(e).__name__}: {e}"
    if cmd.fail:
        return "expected the query to fail, but it succeeded"

    got_by_labels = {tuple(sorted(ls.items())): vals for ls, vals in result}
    exp_keys = set()
    for exp in cmd.expected:
        key = tuple(sorted(exp.labels.items()))
        exp_keys.add(key)
        if key not in got_by_labels:
            return f"missing expected series {_fmt(exp.labels)} (got: " + (
                ", ".join(_fmt(dict(k)) for k in got_by_labels) or "<empty>"
            ) + ")"
        got_vals = got_by_labels[key]
        for i, ev in enumerate(evs):
            want = exp.hists[i] if i < len(exp.hists) else None
            wval = exp.values[i] if i < len(exp.values) else None
            stale = exp.stale[i] if i < len(exp.stale) else False
            got = got_vals.get(ev)
            if want is None:
                if wval is not None and not stale:
                    return (
                        f"series {_fmt(exp.labels)} step {ev}ms: mixed "
                        "float/histogram expectations in one eval are not "
                        "supported by this engine slice"
                    )
                if got is not None:
                    return (
                        f"series {_fmt(exp.labels)} step {ev}ms: "
                        f"expected no value, got a histogram"
                    )
                continue
            if got is None:
                return f"series {_fmt(exp.labels)} step {ev}ms: expected a histogram, got none"
            bad = _hist_mismatch(got, want)
            if bad:
                return f"series {_fmt(exp.labels)} step {ev}ms: {bad}"
    extra = [k for k in got_by_labels if k not in exp_keys]
    if extra:
        return "unexpected series in result: " + ", ".join(
            _fmt(dict(k)) for k in extra
        )
    return None


def _check_eval(engine: PromQLEngine, cmd: EvalCmd) -> str | None:
    """None on pass, else a failure message."""
    try:
        expr = parse_promql(cmd.expr)
    except Exception as e:
        if cmd.fail:
            return None
        return f"parse error: {e}"

    if any(h is not None for exp in cmd.expected for h in exp.hists):
        evs = (
            [cmd.at_ms]
            if cmd.kind == "instant"
            else list(range(cmd.start_ms, cmd.end_ms + 1, cmd.step_ms))
        )
        return _check_hist_eval(engine, cmd, expr, evs)

    try:
        if cmd.kind == "instant":
            kind, result = engine.eval_instant(expr, cmd.at_ms)
            evs = [cmd.at_ms]
        else:
            kind, result = engine.eval_range(
                expr, cmd.start_ms, cmd.end_ms, cmd.step_ms
            )
            evs = list(range(cmd.start_ms, cmd.end_ms + 1, cmd.step_ms))
    except Exception as e:
        if cmd.fail:
            return None
        return f"eval error: {type(e).__name__}: {e}"

    if cmd.fail:
        return "expected the query to fail, but it succeeded"

    if kind == "string":
        return None  # no string expectations in the corpus

    if kind == "scalar":
        if len(cmd.expected) != 1 or cmd.expected[0].labels:
            return f"scalar result but expected {len(cmd.expected)} series"
        exp_vals = cmd.expected[0].values
        for i, ev in enumerate(evs):
            want = exp_vals[i] if i < len(exp_vals) else None
            got = result.get(ev)
            if want is None:
                if got is not None:
                    return f"step {ev}ms: expected no value, got {got}"
            elif got is None or not almost_equal(got, want):
                return f"step {ev}ms: expected {want}, got {got}"
        return None

    # vector
    got_by_labels: dict[tuple, dict] = {}
    order: list[tuple] = []
    for labels, vals in result:
        key = tuple(sorted(labels.items()))
        got_by_labels[key] = vals
        order.append(key)

    exp_keys = []
    for exp in cmd.expected:
        key = tuple(sorted(exp.labels.items()))
        exp_keys.append(key)
        if key not in got_by_labels:
            return f"missing expected series {_fmt(exp.labels)} (got: " + (
                ", ".join(_fmt(dict(k)) for k in order) or "<empty>"
            ) + ")"
        got_vals = got_by_labels[key]
        for i, ev in enumerate(evs):
            want = exp.values[i] if i < len(exp.values) else None
            stale = exp.stale[i] if i < len(exp.stale) else False
            got = got_vals.get(ev)
            if want is None or stale:
                if got is not None:
                    return (
                        f"series {_fmt(exp.labels)} step {ev}ms: "
                        f"expected no value, got {got}"
                    )
            elif got is None or not almost_equal(got, want):
                return (
                    f"series {_fmt(exp.labels)} step {ev}ms: "
                    f"expected {want}, got {got}"
                )
    extra = [k for k in order if k not in set(exp_keys)]
    if extra:
        return "unexpected series in result: " + ", ".join(
            _fmt(dict(k)) for k in extra
        )
    if cmd.ordered and cmd.kind == "instant":
        if order != exp_keys:
            return (
                "wrong series order: got "
                + ", ".join(_fmt(dict(k)) for k in order)
                + " want "
                + ", ".join(_fmt(dict(k)) for k in exp_keys)
            )
    return None


def run_script(
    engine: PromQLEngine, script: Script, max_workers: int = 8
) -> ScriptResult:
    """Two-phase execution: walk the script sequentially (loads/clears
    mutate storage), snapshotting the engine state each eval sees, then
    run the independent eval actions CONCURRENTLY — Spark schedules
    parallel jobs from multiple threads, so the wall time of a script is
    bounded by its slowest eval, not the sum.  Snapshots are shallow
    copies: DataFrames are immutable and ``load``/``clear`` rebind
    rather than mutate the sample frame or shard list, and each copy
    carries its own ``_qstart``/``_qend`` eval bounds."""
    import copy
    from concurrent.futures import ThreadPoolExecutor

    res = ScriptResult(script.name)
    engine.clear()
    pending: list[tuple[EvalCmd, PromQLEngine]] = []
    for cmd in script.commands:
        if isinstance(cmd, ClearCmd):
            engine.clear()
        elif isinstance(cmd, LoadCmd):
            engine.load(cmd)
        elif isinstance(cmd, EvalCmd):
            pending.append((cmd, copy.copy(engine)))
    res.evals_total = len(pending)
    if not pending:
        return res
    with ThreadPoolExecutor(max_workers=max_workers) as ex:
        msgs = list(ex.map(lambda p: _check_eval(p[1], p[0]), pending))
    for (cmd, _), msg in zip(pending, msgs):
        if msg is None:
            res.evals_passed += 1
        else:
            res.failures.append(EvalFailure(script.name, cmd.line, cmd.expr, msg))
    return res


def run_script_text(engine: PromQLEngine, text: str, name: str = "<script>") -> ScriptResult:
    return run_script(engine, parse_script(text, name))
