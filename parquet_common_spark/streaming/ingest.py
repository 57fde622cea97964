"""Structured Streaming ingestion + streaming query operators.

The reference lists streaming as *Planned* (README "Current Status &
Roadmap"), so this layer is forward-looking rather than parity work
(SURVEY.md §2.9).  Design:

  - ingest of a stream into the series/samples layout is
    ``convert.convert_streaming``: each micro-batch becomes one complete
    shard directory (meta included), written by the same code as a batch
    ``convert``, so ``ShardDataset.read`` opens every committed batch.
  - windowed_series_agg: event-time tumbling-window aggregation per series
    with a watermark for late data — readStream -> window(ts) ->
    writeStream, the canonical streaming rollup.
  - rate_per_series: custom stateful operator via applyInPandasWithState —
    per-series counter/last-value state across micro-batches (what a
    streaming PromQL `rate()` needs); demonstrates the state-store path
    the built-in operators can't express.

Scale: file-source streams shard by file listing; state-store operators
partition by the grouping key (series hash) — the same partitioning the
batch layout uses, so a lambda architecture over one storage layout.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)


def windowed_series_agg(
    samples: DataFrame,
    window: str = "1 minute",
    watermark: str = "2 minutes",
    ts_col: str = "ts",
    key_col: str = "series_hash",
    value_col: str = "value",
) -> DataFrame:
    """Event-time tumbling-window aggregate per series with late-data
    watermark.  `samples` is a *streaming* DataFrame with a timestamp
    column; output is append-mode compatible (watermarked window)."""
    return (
        samples.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.sum(value_col).alias("sum_value"),
            F.min(value_col).alias("min_value"),
            F.max(value_col).alias("max_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            key_col,
            "n_samples",
            "sum_value",
            "min_value",
            "max_value",
        )
    )


_RATE_STATE_SCHEMA = StructType(
    [
        StructField("last_ts", LongType()),
        StructField("last_value", DoubleType()),
        StructField("total_count", LongType()),
    ]
)

_RATE_OUTPUT_SCHEMA = StructType(
    [
        StructField("series_hash", LongType()),
        StructField("batch_samples", LongType()),
        StructField("total_samples", LongType()),
        StructField("rate_per_sec", DoubleType()),
    ]
)


#: Default state retention: a series idle (no samples) past this horizon
#: has its state dropped.  Prometheus series churn constantly (pod
#: restarts mint new label sets), so unbounded per-series state grows
#: the state store forever on a real workload — retention makes the
#: operator's memory proportional to the ACTIVE series set, not the
#: all-time one.
DEFAULT_STATE_RETENTION_MS = 30 * 60 * 1000


def _make_rate_fn(retention_ms: int):
    def _rate_fn(key, pdfs: Iterable, state: GroupState):
        """Per-series stateful rate: increase / elapsed across micro-batches
        (the streaming analogue of PromQL rate() over a counter series)."""
        import pandas as pd

        if state.hasTimedOut:
            # series idle past the retention horizon: drop its state and
            # emit nothing — the next sample (if any) starts fresh
            state.remove()
            return

        (series_hash,) = key
        rows = pd.concat(list(pdfs)).sort_values("ts")
        if state.exists:
            last_ts, last_value, total = state.get
        else:
            last_ts, last_value, total = None, None, 0
        n = len(rows)
        total += n
        first_ts = int(rows["ts"].iloc[0])
        new_ts = int(rows["ts"].iloc[-1])
        new_value = float(rows["value"].iloc[-1])
        # Counter-reset handling, matching the batch path
        # (promql.counter_adjusted): a drop between consecutive samples —
        # INCLUDING the state carried from the previous micro-batch — adds the
        # pre-drop value back, so a process restart between batches yields the
        # true positive increase instead of a negative rate.
        vals = rows["value"].astype(float).tolist()
        if last_value is not None:
            vals = [last_value] + vals
            span_s = (new_ts - last_ts) / 1000.0 if new_ts > last_ts else 0.0
        else:
            span_s = (new_ts - first_ts) / 1000.0 if n > 1 else 0.0
        increase = vals[-1] - vals[0] + sum(p for p, c in zip(vals, vals[1:]) if c < p)
        rate = increase / span_s if span_s > 0 else 0.0
        state.update((new_ts, new_value, total))
        # expire this series' state once the event-time watermark passes
        # last-seen + retention (must stay ahead of the current watermark)
        state.setTimeoutTimestamp(
            max(new_ts + retention_ms, state.getCurrentWatermarkMs() + 1)
        )
        yield pd.DataFrame(
            {
                "series_hash": [series_hash],
                "batch_samples": [n],
                "total_samples": [total],
                "rate_per_sec": [rate],
            }
        )

    return _rate_fn


def rate_per_series(
    samples: DataFrame,
    watermark: str = "10 minutes",
    retention_ms: int = DEFAULT_STATE_RETENTION_MS,
) -> DataFrame:
    """Custom stateful streaming operator: applyInPandasWithState keyed on
    series_hash.  `samples` streaming schema: (series_hash long, ts long,
    value double), ts in epoch-milliseconds.

    State is BOUNDED: the stream carries an event-time watermark
    (``watermark`` of allowed lateness over ``ts``) and each series'
    state expires via EventTimeTimeout once the watermark passes its
    last sample + ``retention_ms``.  An expired series re-entering the
    stream starts from fresh state (one windowless sample, rate 0.0) —
    the same cold-start a new series gets."""
    with_et = samples.withColumn("_event_time", F.timestamp_millis(F.col("ts")))
    return (
        with_et.withWatermark("_event_time", watermark)
        .groupBy("series_hash")
        .applyInPandasWithState(
            _make_rate_fn(retention_ms),
            outputStructType=_RATE_OUTPUT_SCHEMA,
            stateStructType=_RATE_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
