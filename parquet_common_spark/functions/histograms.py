"""Classic (bucketed) histogram samples and histogram_quantile.

The reference stores three chunk encodings — float, integer histogram,
float histogram (schema/encoder.go:75) — and serves them to PromQL
unchanged.  In the exploded Spark model a histogram sample is a struct
row: cumulative le-bucket counts alongside count/sum:

    (series_hash, ts, h_count, h_sum,
     h_bounds: array<double>,   -- le upper bounds, ascending, last = +Inf
     h_counts: array<long>)     -- cumulative counts per bound

``histogram_quantile`` reproduces PromQL's classic-histogram quantile
(linear interpolation within the located bucket; highest finite bound when
the quantile lands in the +Inf bucket) as a pure Column expression — no
UDF, so it vectorizes and distributes like any other projection.

Native (exponential-bucket) histograms are out of scope this round —
documented limitation, matching SURVEY.md §1.2 ("out of scope for the
minimum slice").
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, functions as F


HIST_FIELDS = "h_count long, h_sum double, h_bounds array<double>, h_counts array<long>"


def histogram_quantile(q: float | Column, bounds: Column, counts: Column) -> Column:
    """PromQL-style quantile from cumulative le-buckets.

    counts must be cumulative and aligned with bounds; bounds ascending
    with a +Inf last element.  NULL when the histogram is empty.
    """
    qc = F.lit(q) if isinstance(q, float) else q
    total = F.element_at(counts, -1).cast("double")
    target = qc * total
    # first index whose cumulative count reaches the target
    idx = F.size(F.filter(counts, lambda c: c.cast("double") < target)) + 1
    n = F.size(bounds)
    lo_bound = F.when(idx == 1, F.lit(0.0)).otherwise(F.element_at(bounds, idx - 1))
    hi_bound = F.element_at(bounds, idx)
    lo_cum = F.when(idx == 1, F.lit(0.0)).otherwise(F.element_at(counts, idx - 1).cast("double"))
    hi_cum = F.element_at(counts, idx).cast("double")
    interp = lo_bound + (hi_bound - lo_bound) * (target - lo_cum) / (hi_cum - lo_cum)
    highest_finite = F.element_at(bounds, n - 1)
    first_bound = F.element_at(bounds, 1)
    return (
        F.when(total <= 0, F.lit(None).cast("double"))
        .when(idx >= n, highest_finite)  # quantile in the +Inf bucket
        # upstream quantile.go: a first bucket with a non-positive bound
        # has no natural 0 lower edge — return the bound itself instead
        # of interpolating from 0 (if b == 0 && upperBound <= 0)
        .when((idx == 1) & (first_bound <= 0), first_bound)
        .when(hi_cum == lo_cum, hi_bound)
        .otherwise(interp)
    )


def to_hist_shard(df: DataFrame, labels_col: str = "labels", ts_col: str = "ts"):
    """Long-form histogram samples -> ShardDataset whose samples table
    carries the histogram struct columns instead of s_value."""
    from parquet_common_spark.convert import to_shard

    return to_shard(
        df, ts_col=ts_col, value_col=None, labels_col=labels_col,
        extra_value_cols=["h_count", "h_sum", "h_bounds", "h_counts"],
    )


def quantile_over_select(sel: DataFrame, q: float) -> DataFrame:
    """Apply histogram_quantile to a Select result carrying histogram
    structs; adds ``phi_{q}`` per sample row."""
    return sel.withColumn(
        f"phi_{str(q).replace('.', '_')}",
        histogram_quantile(q, F.col("h_bounds"), F.col("h_counts")),
    )
