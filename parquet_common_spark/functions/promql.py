"""PromQL-style temporal functions over the exploded series model.

The reference serves raw chunks and lets the PromQL engine compute
rate/increase/*_over_time upstream (SURVEY.md §2.5).  A user switching to
this engine needs those primitives natively; they map exactly onto
Window.partitionBy(series).orderBy(ts):

  - counter_adjusted: undo counter resets — whenever a sample drops below
    its predecessor, add the predecessor back (cumulative compensation).
    This is the core of PromQL's rate()/increase() counter handling.
  - increase_over_windows / rate_over_windows: reset-adjusted
    last-minus-first per fixed time window — the exact in-sample
    increase, deterministic and oracle-checkable.
  - extrapolated_increase_over_windows / extrapolated_rate_over_windows:
    the FULL upstream PromQL ``extrapolatedRate`` semantics (Prometheus
    promql/functions.go): boundary extrapolation when the first/last
    sample sits within 1.1x the average sample spacing of the window
    edge, half-average-interval extrapolation otherwise, and the
    counter zero-point clamp that stops a counter from being
    extrapolated below zero.  The reference delegates these to the
    upstream PromQL engine over its storage
    (/root/reference/queryable/parquet_queryable_test.go:45-66 runs the
    whole promqltest corpus through it); our engine computes them
    natively, validated against a Python port of the same algorithm in
    tests/test_promql_functions.py.
  - agg_over_time: avg/min/max/sum/count/last/present/stddev/stdvar/
    quantile over fixed windows.
  - resets_changes_over_windows, instant_over_windows (idelta/irate),
    deriv_over_windows (deriv/predict_linear): the remaining PromQL
    function family (promql/functions.go), with regression and moment
    sums DECIMAL-exact so results are aggregation-order independent.

All pure Column/Window expressions — one shuffle on (series, window).

The private kernels below (``_extrapolate``, ``_is_reset``/``_is_change``,
``_instant_pair``, ``_holt``) are each PromQL formula's one definition:
the tumbling windows here and the PromQL engine's ``(eval - range,
eval]`` windows (promqltest/engine.py) both call them, differing only in
the bounds and time unit they pass.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def _is_reset(prev: Column, cur: Column) -> Column:
    """Counter-reset test ``prev > cur`` with upstream NaN semantics:
    Go comparisons with NaN are false, while Spark's ordering sorts NaN
    above every number (NaN > x is true) — without the guard a NaN
    sample would fabricate a reset and poison the reset-compensation
    sum (promql/functions.go extrapolatedRate / funcResets)."""
    return (~F.isnan(prev)) & (~F.isnan(cur)) & (prev > cur)


def _is_change(prev: Column, cur: Column) -> Column:
    """``changes()``' pair test (promql/functions.go funcChanges: a change
    unless equal or both NaN).  Spark's ``!=`` already has those
    semantics — it compares NaN = NaN as true and NaN != x as true."""
    return prev.isNotNull() & (prev != cur)


def _extrapolate(
    first_ts: Column,
    last_ts: Column,
    start: Column,
    end: Column,
    n: Column,
    per_second: float,
    clamp: tuple[Column, Column] | None = None,
) -> tuple[Column, Column]:
    """upstream ``extrapolatedRate``'s boundary rule -> (extrapolated
    interval, sampled interval), both in seconds; timestamps and bounds
    are in units of ``1/per_second`` s.  A result extrapolates as
    ``result * interval / sampled``:

      toStart  = first_ts - start;  toEnd = end - last_ts
      avgDur   = sampled / (n - 1); threshold = 1.1 avgDur
      toStart  = avgDur/2 if toStart >= threshold else toStart
      toStart  = min(toStart, sampled * first/result)   (``clamp`` given,
                 result > 0, first >= 0 — never extrapolate below zero)
      toEnd    = avgDur/2 if toEnd >= threshold else toEnd
      interval = sampled + toStart + toEnd

    ``clamp`` is a counter's ``(first value, result)``."""
    to_start = (first_ts - start).cast("double") / per_second
    to_end = (end - last_ts).cast("double") / per_second
    sampled = (last_ts - first_ts).cast("double") / per_second
    avg_dur = sampled / (n - 1).cast("double")
    threshold = avg_dur * 1.1
    to_start = F.when(to_start >= threshold, avg_dur / 2).otherwise(to_start)
    if clamp is not None:
        first, result = clamp
        # NULL unless the clamp applies (guards the division: x/0 is
        # engine-dependent); NULL < to_start is NULL -> otherwise branch
        zero_clamp = F.when((result > 0) & (first >= 0), sampled * first / result)
        to_start = F.when(zero_clamp < to_start, zero_clamp).otherwise(to_start)
    to_end = F.when(to_end >= threshold, avg_dur / 2).otherwise(to_end)
    return sampled + to_start + to_end, sampled


def _last_two(rn: Column, ts: Column, v: Column) -> list[Column]:
    """Aggregates ``_last_v``/``_prev_v``/``_last_ts``/``_prev_ts``: the
    newest two samples by ``rn``, a descending row number."""
    return [
        F.max(F.when(rn == 1, v)).alias("_last_v"),
        F.max(F.when(rn == 2, v)).alias("_prev_v"),
        F.max(F.when(rn == 1, ts)).alias("_last_ts"),
        F.max(F.when(rn == 2, ts)).alias("_prev_ts"),
    ]


def _instant_pair(n: Column, per_second: float, is_counter: bool = True) -> tuple[Column, Column]:
    """(idelta, irate) over the :func:`_last_two` columns of ``n``
    samples (promql/functions.go instantValue).  idelta = last −
    previous; irate divides by their time difference (in units of
    ``1/per_second`` s), and a counter reset between the two makes the
    numerator the last value itself.  NULL for < 2 samples, and irate
    also for a zero time difference."""
    last_v, prev_v = F.col("_last_v"), F.col("_prev_v")
    last_ts, prev_ts = F.col("_last_ts"), F.col("_prev_ts")
    idelta = last_v - prev_v
    num = F.when(_is_reset(prev_v, last_v), last_v).otherwise(idelta) if is_counter else idelta
    dt_s = (last_ts - prev_ts).cast("double") / per_second
    return F.when(n >= 2, idelta), F.when((n >= 2) & (last_ts > prev_ts), num / dt_s)


def _time_sorted(order: list[Column], v: Column) -> Column:
    """Aggregate: the group's values as one list sorted by ``order``."""
    return F.transform(
        F.sort_array(F.collect_list(F.struct(*order, v.alias("_v")))),
        lambda s: s["_v"],
    )


def _holt(vals: Column, sf: float, tf: float) -> Column:
    """Holt's linear smoothing of a time-sorted value list (upstream
    funcDoubleExponentialSmoothing) as ONE left-to-right ``aggregate``
    fold; state rides in a 5-slot double array
    ``[i, s_prev, s_prev2, trend, v0]``:

        s_1     = v_1 ;  b_1 = v_2 - v_1
        trend_i = tf*(s_{i-1} - s_{i-2}) + (1-tf)*trend_{i-1}   (i >= 3)
        s_i     = sf*v_i + (1-sf)*(s_{i-1} + trend_i)
        result  = s_n"""
    sfc, cfc = F.lit(float(sf)), F.lit(1.0 - sf)
    tfc, ctc = F.lit(float(tf)), F.lit(1.0 - tf)

    def step(acc, v):
        i = F.element_at(acc, 1)
        s_prev, s_prev2 = F.element_at(acc, 2), F.element_at(acc, 3)
        trend, v0 = F.element_at(acc, 4), F.element_at(acc, 5)
        b1 = v - s_prev  # trend init from the first two samples
        s1 = sfc * v + cfc * (s_prev + b1)
        tr = tfc * (s_prev - s_prev2) + ctc * trend
        sn = sfc * v + cfc * (s_prev + tr)
        return (
            F.when(i == 0.0, F.array(F.lit(1.0), v, F.lit(0.0), F.lit(0.0), v))
            .when(i == 1.0, F.array(F.lit(2.0), s1, s_prev, b1, v0))
            .otherwise(F.array(i + 1.0, sn, s_prev, tr, v0))
        )

    zero = F.array(*[F.lit(0.0)] * 5)
    return F.element_at(F.aggregate(vals, zero, step), 2)


def _pop_var(nd: Column, sv: Column, sv2: Column) -> Column:
    """Population variance from the count and the first two moment sums."""
    return (nd * sv2 - sv * sv) / (nd * nd)


# -- tumbling-window staging


def _window_id(ts_col: str, window_us: int) -> Column:
    return F.floor(F.col(ts_col) / F.lit(window_us)).cast("long").alias("_win")


def _in_window(series_cols: list[str], *order: Column) -> Window:
    return Window.partitionBy(*series_cols, "_win").orderBy(*order)


def _with_t(df: DataFrame, ts_col: str, window_us: int) -> DataFrame:
    """``_win`` plus ``_t``, the µs into the window (the regression x)."""
    return df.withColumn("_win", _window_id(ts_col, window_us)).withColumn(
        "_t", F.col(ts_col) - F.col("_win") * F.lit(window_us)
    )


def _regression_sums(v: Column, dec: str, moments: bool = False) -> list[Column]:
    """Aggregates Σt, Σv, Σtv, Σt² (and Σv² with ``moments``) over ``_t``,
    DECIMAL/integer-exact, plus the ``_t`` span.

    The PromQL engine's ``_regression`` is a separate formulation on
    purpose: it sums doubles with x relative to the eval time, as Go's
    linearRegression does, while these registry sums must match the
    DuckDB oracle exactly."""
    t = F.col("_t")
    return [
        F.sum(t).alias("_st"),
        F.sum(v.cast(dec)).alias("_sv"),
        F.sum(v.cast(dec) * t).alias("_stv"),
        F.sum(t.cast("decimal(19,0)") * t).alias("_st2"),
        *([F.sum(v.cast(dec) * v.cast(dec)).alias("_sv2")] if moments else []),
        F.min(t).alias("_tmin"),
        F.max(t).alias("_tmax"),
    ]


def _regression_fit(window_us: int, predict_offset_s: float) -> tuple[Column, Column]:
    """(deriv, predict_linear) from the :func:`_regression_sums` columns:
    slope = (n·Σtv − Σt·Σv) / (n·Σt² − (Σt)²) per µs, the prediction at
    ``predict_offset_s`` past the window end.  NULL for < 2 samples or
    all samples at one timestamp (as PromQL drops them)."""
    nd = F.col("n_samples").cast("double")
    st, sv = F.col("_st").cast("double"), F.col("_sv").cast("double")
    stv, st2 = F.col("_stv").cast("double"), F.col("_st2").cast("double")
    slope_us = (nd * stv - st * sv) / (nd * st2 - st * st)
    intercept = (sv - slope_us * st) / nd  # value at window start
    ok = (F.col("n_samples") >= 2) & (F.col("_tmax") > F.col("_tmin"))
    t_target = F.lit(float(window_us) + predict_offset_s * 1e6)
    return F.when(ok, slope_us * F.lit(1e6)), F.when(ok, intercept + slope_us * t_target)


def _resets_changes(prev: Column, v: Column) -> list[Column]:
    """Aggregates ``resets`` and ``changes`` over adjacent pairs."""
    return [
        F.coalesce(F.sum(_is_reset(prev, v).cast("long")), F.lit(0)).alias("resets"),
        F.coalesce(F.sum(_is_change(prev, v).cast("long")), F.lit(0)).alias("changes"),
    ]


def counter_adjusted(df: DataFrame, series_cols: list[str], ts_col: str, value_col: str) -> DataFrame:
    """Add ``_adj_value``: the counter with resets compensated (monotonic
    as long as true inter-sample increases never exceed the reset span)."""
    w = Window.partitionBy(*series_cols).orderBy(ts_col)
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev = F.lag(value_col).over(w)
    drop = F.when(_is_reset(prev, F.col(value_col)), prev).otherwise(F.lit(0.0))
    return df.withColumn("_adj_value", F.col(value_col) + F.sum(drop).over(cum))


def increase_over_windows(
    df: DataFrame,
    series_cols: list[str],
    ts_col: str,
    value_col: str,
    window_us: int,
    adjust_resets: bool = True,
) -> DataFrame:
    """Reset-adjusted increase per (series, fixed window): last - first of
    the adjusted counter among samples inside the window."""
    src = counter_adjusted(df, series_cols, ts_col, value_col) if adjust_resets else df.withColumn(
        "_adj_value", F.col(value_col)
    )
    w_asc = _in_window(series_cols, F.asc(ts_col))
    w_desc = _in_window(series_cols, F.desc(ts_col))
    ranked = (
        src.withColumn("_win", _window_id(ts_col, window_us))
        .withColumn("_rn_a", F.row_number().over(w_asc))
        .withColumn("_rn_d", F.row_number().over(w_desc))
    )
    first_v = F.max(F.when(F.col("_rn_a") == 1, F.col("_adj_value")))
    last_v = F.max(F.when(F.col("_rn_d") == 1, F.col("_adj_value")))
    return ranked.groupBy(*series_cols, "_win").agg(
        F.count(F.lit(1)).alias("n_samples"),
        (last_v - first_v).alias("increase"),
        F.min(ts_col).alias("first_ts"),
        F.max(ts_col).alias("last_ts"),
    )


def rate_over_windows(
    df: DataFrame,
    series_cols: list[str],
    ts_col: str,
    value_col: str,
    window_us: int,
) -> DataFrame:
    """increase / elapsed-seconds within each window (NULL for windows with
    a single sample — no elapsed time to divide by)."""
    inc = increase_over_windows(df, series_cols, ts_col, value_col, window_us)
    elapsed_s = (F.col("last_ts") - F.col("first_ts")).cast("double") / 1_000_000.0
    return inc.withColumn(
        "rate",
        F.when(elapsed_s > 0, F.col("increase") / elapsed_s).otherwise(F.lit(None).cast("double")),
    )


def extrapolated_increase_over_windows(
    df: DataFrame,
    series_cols: list[str],
    ts_col: str,
    value_col: str,
    window_us: int,
    is_counter: bool = True,
    is_rate: bool = False,
) -> DataFrame:
    """Upstream-PromQL ``extrapolatedRate`` over fixed tumbling windows.

    Window w covers [w*window_us, (w+1)*window_us) — evaluated like
    PromQL's ``increase(x[window])`` / ``rate(x[window])`` at the window
    end (promql/functions.go, extrapolatedRate):

      result   = last - first + sum(resets within the window)   (counter)
      increase = result * interval / sampled      (see _extrapolate)
      rate     = increase / window_seconds                       (is_rate)

    Windows with < 2 samples (or zero sampled interval) yield NULL, as
    PromQL drops them.  Reset detection uses within-window sample pairs
    only, exactly like the upstream loop.  One shuffle on (series, win);
    everything else is Column arithmetic on per-window aggregates."""
    w_asc = _in_window(series_cols, F.asc(ts_col), F.asc(value_col))
    w_desc = _in_window(series_cols, F.desc(ts_col), F.desc(value_col))
    prev = F.lag(value_col).over(w_asc)
    ranked = (
        df.withColumn("_win", _window_id(ts_col, window_us))
        .withColumn("_rn_a", F.row_number().over(w_asc))
        .withColumn("_rn_d", F.row_number().over(w_desc))
        .withColumn(
            "_reset",
            F.when(_is_reset(prev, F.col(value_col)), prev).otherwise(F.lit(0.0)),
        )
    )
    first_v = F.max(F.when(F.col("_rn_a") == 1, F.col(value_col)))
    last_v = F.max(F.when(F.col("_rn_d") == 1, F.col(value_col)))
    agg = ranked.groupBy(*series_cols, "_win").agg(
        F.count(F.lit(1)).alias("n_samples"),
        first_v.alias("_first_v"),
        last_v.alias("_last_v"),
        F.min(ts_col).alias("first_ts"),
        F.max(ts_col).alias("last_ts"),
        # decimal-exact accumulation: the reset sum is the one
        # order-sensitive float reduction here; summing 9dp decimals makes
        # the result independent of partitioning / aggregation order
        F.sum(F.col("_reset").cast("decimal(27,9)")).cast("double").alias("_resets"),
    )
    result = F.col("_last_v") - F.col("_first_v") + (
        F.col("_resets") if is_counter else F.lit(0.0)
    )
    interval, sampled = _extrapolate(
        F.col("first_ts"),
        F.col("last_ts"),
        F.col("_win") * F.lit(window_us),
        (F.col("_win") + 1) * F.lit(window_us),
        F.col("n_samples"),
        1e6,
        clamp=(F.col("_first_v"), result) if is_counter else None,
    )
    increase = result * interval / sampled
    if is_rate:
        increase = increase / F.lit(window_us / 1e6)
    out_name = "rate" if is_rate else "increase"
    return agg.withColumn(
        out_name,
        F.when((F.col("n_samples") >= 2) & (sampled > 0), increase).otherwise(
            F.lit(None).cast("double")
        ),
    ).drop("_first_v", "_last_v", "_resets")


def extrapolated_rate_over_windows(
    df: DataFrame,
    series_cols: list[str],
    ts_col: str,
    value_col: str,
    window_us: int,
    is_counter: bool = True,
) -> DataFrame:
    """PromQL ``rate()``: :func:`extrapolated_increase_over_windows`
    divided by the window length in seconds."""
    return extrapolated_increase_over_windows(
        df, series_cols, ts_col, value_col, window_us, is_counter=is_counter, is_rate=True
    )


def agg_over_time(
    df: DataFrame,
    series_cols: list[str],
    ts_col: str,
    value_col: str,
    window_us: int,
    quantiles: tuple[float, ...] = (),
    value_scale: int = 6,
) -> DataFrame:
    """avg/min/max/sum/count/last/present/stddev/stdvar[/quantile]_over_time
    for fixed windows (Prometheus promql/functions.go *_over_time family).

    stddev/stdvar are population moments computed from DECIMAL-exact
    sums (``value_scale`` true decimal places assumed), so the result is
    independent of aggregation order — the cross-engine determinism
    story of plans/common.dsum.  ``quantiles`` adds
    ``quantile_<q>_over_time`` columns via exact linear-interpolation
    percentile (the same definition Prometheus uses)."""
    dec = f"decimal(18,{value_scale})"  # compact long-backed Decimal (see plans/common.dsum); values must satisfy |v| < 10^(18-value_scale)
    sv = F.sum(F.col(value_col).cast(dec))
    sv2 = F.sum(F.col(value_col).cast(dec) * F.col(value_col).cast(dec))
    nd = F.count(F.lit(1)).cast("double")
    var = _pop_var(nd, sv.cast("double"), sv2.cast("double"))
    qcols = [
        F.percentile(F.col(value_col), F.lit(q)).alias(
            f"quantile_{str(q).replace('.', '_')}_over_time"
        )
        for q in quantiles
    ]
    return (
        df.withColumn("_win", _window_id(ts_col, window_us))
        .groupBy(*series_cols, "_win")
        .agg(
            F.avg(value_col).alias("avg_over_time"),
            F.min(value_col).alias("min_over_time"),
            F.max(value_col).alias("max_over_time"),
            F.sum(value_col).alias("sum_over_time"),
            F.count(F.lit(1)).alias("count_over_time"),
            F.max(F.struct(F.col(ts_col), F.col(value_col)))[value_col].alias("last_over_time"),
            F.lit(1.0).alias("present_over_time"),
            var.alias("stdvar_over_time"),
            F.sqrt(var).alias("stddev_over_time"),
            *qcols,
        )
    )


def promql_suite_over_windows(
    df: DataFrame,
    series_cols: list[str],
    ts_col: str,
    value_col: str,
    window_us: int,
    predict_offset_s: float = 300.0,
    quantiles: tuple[float, ...] = (0.9,),
    value_scale: int = 6,
) -> DataFrame:
    """The whole PromQL function family in ONE pass: resets/changes,
    idelta/irate, deriv/predict_linear, stddev/stdvar/last/quantile —
    the same column builders as the à-la-carte functions below.

    Fused plan: one exchange on (series, window), two sorts under it
    (lag ascending, row_number descending — same partitioning, so no
    second shuffle), one partial-aggregated groupBy.  Use this when more
    than one family member is needed — the à-la-carte functions below
    each cost their own shuffle."""
    dec = f"decimal(18,{value_scale})"  # compact long-backed Decimal (see plans/common.dsum); values must satisfy |v| < 10^(18-value_scale)
    w_asc = _in_window(series_cols, F.asc(ts_col), F.asc(value_col))
    w_desc = _in_window(series_cols, F.desc(ts_col), F.desc(value_col))
    staged = (
        _with_t(df, ts_col, window_us)
        .withColumn("_prev", F.lag(value_col).over(w_asc))
        .withColumn("_rn_d", F.row_number().over(w_desc))
    )
    v = F.col(value_col)
    qaggs = [
        F.percentile(v, F.lit(q)).alias(f"quantile_{str(q).replace('.', '_')}_over_time")
        for q in quantiles
    ]
    agg = staged.groupBy(*series_cols, "_win").agg(
        F.count(F.lit(1)).alias("n_samples"),
        *_resets_changes(F.col("_prev"), v),
        *_last_two(F.col("_rn_d"), F.col(ts_col), v),
        *_regression_sums(v, dec, moments=True),
        F.max(F.struct(F.col(ts_col), v))[value_col].alias("last_over_time"),
        *qaggs,
    )
    idelta, irate = _instant_pair(F.col("n_samples"), 1e6)
    deriv, predict = _regression_fit(window_us, predict_offset_s)
    nd = F.col("n_samples").cast("double")
    var = _pop_var(nd, F.col("_sv").cast("double"), F.col("_sv2").cast("double"))
    return (
        agg.withColumn("idelta", idelta)
        .withColumn("irate", irate)
        .withColumn("deriv", deriv)
        .withColumn("predict_linear", predict)
        .withColumn("stdvar_over_time", var)
        .withColumn("stddev_over_time", F.sqrt(var))
        .drop(
            "_last_v", "_prev_v", "_last_ts", "_prev_ts",
            "_st", "_sv", "_stv", "_st2", "_sv2", "_tmin", "_tmax",
        )
    )


def resets_changes_over_windows(
    df: DataFrame,
    series_cols: list[str],
    ts_col: str,
    value_col: str,
    window_us: int,
) -> DataFrame:
    """PromQL ``resets()`` (adjacent drops) and ``changes()`` (adjacent
    value changes) per fixed window — within-window sample pairs only,
    like the upstream loops (promql/functions.go funcResets/funcChanges)."""
    w = _in_window(series_cols, F.asc(ts_col), F.asc(value_col))
    staged = df.withColumn("_win", _window_id(ts_col, window_us)).withColumn(
        "_prev", F.lag(value_col).over(w)
    )
    return staged.groupBy(*series_cols, "_win").agg(
        F.count(F.lit(1)).alias("n_samples"),
        *_resets_changes(F.col("_prev"), F.col(value_col)),
    )


def instant_over_windows(
    df: DataFrame,
    series_cols: list[str],
    ts_col: str,
    value_col: str,
    window_us: int,
    is_counter: bool = True,
) -> DataFrame:
    """PromQL ``idelta()`` / ``irate()``: the last two samples of each
    window (see :func:`_instant_pair`)."""
    w_desc = _in_window(series_cols, F.desc(ts_col), F.desc(value_col))
    ranked = df.withColumn("_win", _window_id(ts_col, window_us)).withColumn(
        "_rn_d", F.row_number().over(w_desc)
    )
    agg = ranked.groupBy(*series_cols, "_win").agg(
        F.count(F.lit(1)).alias("n_samples"),
        *_last_two(F.col("_rn_d"), F.col(ts_col), F.col(value_col)),
    )
    idelta, irate = _instant_pair(F.col("n_samples"), 1e6, is_counter)
    return (
        agg.withColumn("idelta", idelta)
        .withColumn("irate", irate)
        .drop("_last_v", "_prev_v", "_last_ts", "_prev_ts")
    )


def deriv_over_windows(
    df: DataFrame,
    series_cols: list[str],
    ts_col: str,
    value_col: str,
    window_us: int,
    predict_offset_s: float | None = None,
    value_scale: int = 6,
) -> DataFrame:
    """PromQL ``deriv()`` (least-squares slope per second) and optionally
    ``predict_linear(x[w], predict_offset_s)`` evaluated at the window
    end (promql/functions.go linearRegression).

    Algebraically identical to upstream's covariance formulation, with t
    relative to the window start (see :func:`_regression_fit`).  The
    four sums are DECIMAL/integer-exact (values assumed ≤
    ``value_scale`` true decimal places), and the final slope is a fixed
    double expression over them — deterministic across engines and
    aggregation orders."""
    dec = f"decimal(18,{value_scale})"  # compact long-backed Decimal (see plans/common.dsum); values must satisfy |v| < 10^(18-value_scale)
    agg = _with_t(df, ts_col, window_us).groupBy(*series_cols, "_win").agg(
        F.count(F.lit(1)).alias("n_samples"),
        *_regression_sums(F.col(value_col), dec),
    )
    deriv, predict = _regression_fit(window_us, predict_offset_s or 0.0)
    out = agg.withColumn("deriv", deriv)
    if predict_offset_s is not None:
        out = out.withColumn("predict_linear", predict)
    return out.drop("_st", "_sv", "_stv", "_st2", "_tmin", "_tmax")


def double_exponential_smoothing_over_windows(
    df: DataFrame,
    series_cols: list[str],
    ts_col: str,
    value_col: str,
    window_us: int,
    sf: float,
    tf: float,
    order_col: str | None = None,
) -> DataFrame:
    """PromQL ``double_exponential_smoothing(v[range], sf, tf)`` (Holt's
    linear method, upstream promql/functions.go — known as holt_winters
    before Prometheus 3.x) per fixed window: ``smoothed`` is the
    :func:`_holt` fold over the window's time-sorted values, NULL when
    the window holds < 2 samples.

    The smoothing is inherently sequential, but windows are bounded, so
    it runs as ONE left-to-right ``aggregate`` fold — deterministic, and
    reproducible in ANSI SQL as the identical ``list_reduce`` fold (both
    engines walk the same list in the same order with the same
    arithmetic, so results match bit-for-bit).  One shuffle: the groupBy
    on (series, window).  ``order_col`` breaks equal-timestamp ties.
    """
    order = [F.col(ts_col)] + ([F.col(order_col)] if order_col else [])
    agg = df.groupBy(*series_cols, _window_id(ts_col, window_us)).agg(
        F.count(F.lit(1)).alias("n_samples"),
        _time_sorted(order, F.col(value_col)).alias("_vals"),
    )
    return agg.withColumn(
        "smoothed", F.when(F.col("n_samples") >= 2, _holt(F.col("_vals"), sf, tf))
    ).drop("_vals")


def absent_over_time_windows(
    df: DataFrame,
    series_cols: list[str],
    ts_col: str,
    window_us: int,
    range_start_us: int,
    range_end_us: int,
) -> DataFrame:
    """PromQL ``absent_over_time(v[range])`` evaluated per fixed window
    across [range_start_us, range_end_us): one row with value 1.0 for
    every (series, window) with NO samples (promql/functions.go
    funcAbsentOverTime; the series universe is the distinct series seen
    anywhere in the frame — PromQL's label inference from the selector,
    which our callers express by pre-filtering ``df``).

    Plan: distinct series (1 shuffle, tiny) × an exploded window
    sequence (bounded by the range), LEFT ANTI against the observed
    (series, window) pairs — the observed side is aggregated before the
    anti join, so the join carries one row per present window, not per
    sample."""
    lo = range_start_us // window_us
    hi = (range_end_us - 1) // window_us
    scaffold = (
        df.select(*series_cols)
        .distinct()
        .withColumn("_win", F.explode(F.sequence(F.lit(lo), F.lit(hi))))
    )
    observed = (
        df.withColumn("_win", _window_id(ts_col, window_us))
        .select(*series_cols, "_win")
        .distinct()
    )
    return scaffold.join(
        observed, on=[*series_cols, "_win"], how="left_anti"
    ).withColumn("absent", F.lit(1.0))
