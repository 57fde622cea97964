"""Shared helpers for the analytic query layer.

Every query in plans/ is registered as a (spark_fn, oracle_sql) pair via
``@query``.  The driver runs the Spark plan and the DuckDB oracle SQL
side-by-side and hash-compares values, so:
  - every computed column is aliased identically on both sides;
  - floating aggregates are rounded (2 for money, 6 for ratios) to absorb
    summation-order differences between engines;
  - every LIMIT is preceded by a fully deterministic ORDER BY.

Driver tables are opened one way: ``load`` (and ``read_events_raw`` for
the events table with ``ts`` as stored) goes through ``_open_table``,
which hands Spark the schema recorded in the parquet footer.  Opening a
table therefore runs no Spark job, sets no session conf and keeps no
cache: every call sees the file as it is now.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def ensure_session_env(spark: SparkSession) -> None:
    """Idempotently pin the session confs the oracle comparison depends on.

    UTC session timezone makes every NTZ<->LTZ cast the identity, so
    epoch-based expressions agree bitwise with DuckDB's ``epoch_us``.
    Called from ``load()`` (and the streaming queries) because gate/bench
    runs execute under the DRIVER's session, not ours; the check-first
    guard keeps this a no-op after the first call.
    """
    if spark.conf.get("spark.sql.session.timeZone", "") != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def event_ts_ntz(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to TIMESTAMP_NTZ(µs) whatever the physical type.

    The driver regenerates testdata between rounds and has shipped
    ``events.ts`` both as TIMESTAMP(NANOS) (``_open_table`` reads it as
    BIGINT nanos) and as plain ``timestamp[us]`` (surfaces as
    TIMESTAMP_NTZ directly).  Branch on the READ dtype rather than
    assuming either layout:
      - bigint        -> truncate ns->µs (DuckDB does the same on read)
      - timestamp_ntz -> already right
      - timestamp     -> NTZ cast (identity under the pinned UTC session TZ)
    """
    from pyspark.sql import functions as F

    dt = dict(df.dtypes).get("ts")
    if dt == "bigint":
        return df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
        )
    if dt == "timestamp_ntz":
        return df
    return df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))


def event_ts_ltz_col(dtype: str, col: str = "ts"):
    """Event-time Column (TIMESTAMP, the type watermarks require) from a
    raw events ``ts`` of the given read dtype.  Under the pinned UTC
    session TZ the NTZ->LTZ cast is the identity."""
    from pyspark.sql import functions as F

    if dtype == "bigint":
        return F.timestamp_micros(F.expr(f"{col} div 1000"))
    return F.col(col).cast("timestamp")


def _open_table(spark: SparkSession, path: str) -> DataFrame:
    """Open a driver table with the schema its parquet footer records, so
    opening runs no Spark job (``spark.read.parquet`` infers the schema
    in a job of its own, about 100 ms per table).

    The footer is read on the driver with pyarrow; ``path`` is one
    parquet file or a directory of part files.  The conversion gives
    what Spark's own inference gives: physical INT96 is Spark's
    TIMESTAMP, and a TIMESTAMP(NANOS) column reads as its raw BIGINT
    nanoseconds (what ``nanosAsLong`` would infer; Spark has no
    nanosecond timestamp type).
    """
    import pyarrow as pa
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema
    from pyspark.sql.types import LongType, StructField, StructType, TimestampType

    footer = pq.read_metadata(ds.dataset(path, format="parquet").files[0]).schema
    int96 = {c.path for c in map(footer.column, range(len(footer))) if c.physical_type == "INT96"}
    arrow = footer.to_arrow_schema()
    fields = []
    for f, a in zip(from_arrow_schema(arrow, prefer_timestamp_ntz=True), arrow):
        if f.name in int96:
            f = StructField(f.name, TimestampType())
        elif pa.types.is_timestamp(a.type) and a.type.unit == "ns":
            f = StructField(f.name, LongType())
        fields.append(f)
    return spark.read.schema(StructType(fields)).parquet(path)


def read_events_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table with ``ts`` as stored (see ``event_ts_ntz``)."""
    return _open_table(spark, f"{sf_dir}/events.parquet")


def await_stream(q, deadline: float | None = None) -> None:
    """Block until a bounded streaming query TERMINATES, not merely until a
    timeout elapses.

    ``q.awaitTermination(timeout)`` returns ``False`` on timeout without
    stopping the query — code that follows it straight into a sink
    read-back silently sees a PARTIAL result once the stream outlives the
    timeout.  That is exactly a scale bug: every streaming arm finished
    well under its old 300 s budget at driver SFs, but st6's sf100 run is
    minutes of micro-batches.  All arms use ``trigger(availableNow=True)``
    (or a bounded file set), so termination is guaranteed; this helper
    loops until it happens, keeping a generous overall deadline purely as
    a hang backstop that FAILS LOUDLY instead of returning partial data.

    Deadline default: $PCS_STREAM_DEADLINE seconds (3600 if unset).
    """
    import os as _os
    import time as _time

    if deadline is None:
        deadline = float(_os.environ.get("PCS_STREAM_DEADLINE", "3600"))
    end = _time.monotonic() + deadline
    while not q.awaitTermination(60):
        if _time.monotonic() >= end:
            q.stop()
            raise TimeoutError(
                f"streaming query {q.name or q.id} still active after "
                f"{deadline:.0f}s deadline — refusing to read a partial sink"
            )


def stream_shuffle_partitions(
    sf_dir: str,
    table: str = "events.parquet",
    per_bytes: int = 32 << 20,
    lo: int = 4,
    hi: int | None = None,
) -> str:
    """Input-size-aware shuffle partition count for the stateful
    streaming arms.

    Structured Streaming keeps ONE state store per shuffle partition,
    and the count is frozen into the checkpoint at first run — so it
    must be sized to the DATA, not the session default.  At check scale
    (sf0.01–0.1, ≤2 MB of events) 32 stores are pure commit overhead,
    which is why these arms historically pinned 4; but 4 is equally
    wrong at sf100 (2 GB of events → 4 threads grinding 25M-row state
    partitions each).  One partition per ~32 MB of source, clamped to
    [4, cpu_count], reproduces the old behavior at driver SFs and
    scales the state-store fan-out with the decade — the same sizing a
    cluster job does via spark.sql.shuffle.partitions at submit.
    """
    import os as _os

    if hi is None:
        hi = _os.cpu_count() or 32
    try:
        size = _os.path.getsize(_os.path.join(sf_dir, table))
    except OSError:
        size = 0
    return str(max(lo, min(hi, (size + per_bytes - 1) // per_bytes)))


def stream_to_parquet(
    df: DataFrame, sf_dir: str, tag: str, deadline: float | None = None
) -> DataFrame:
    """Run a bounded append-mode streaming frame through a parquet FILE
    sink and return the (distributed, lazy) batch read-back.

    The memory sink collects EVERY result row into driver JVM heap — fine
    for bounded aggregates (st1's day×type counts), but an operator whose
    output is data-proportional (st3 re-emits every unique event; st2
    emits one row per matched pair; st11 scores every record) hits
    spark.driver.maxResultSize at exactly the scale the state store starts
    mattering (st6 measured this at sf10: 9.1M sessions ≈ 1.1 GiB collect,
    r11 SCALE.md).  The parquet file sink keeps the result distributed
    end-to-end — the cluster posture — and is exactly-once for
    availableNow triggers via its own _spark_metadata commit log, so a
    retried micro-batch can never double rows.

    The read-back pins the stream's schema explicitly, so a run that
    emits zero rows (possible at tiny SFs behind watermarks) returns an
    empty frame instead of failing parquet schema inference.
    """
    import os as _os

    from parquet_common_spark.operators.pipeline_queries import _scratch_dir

    sink_dir = _scratch_dir(tag, sf_dir)
    q = (
        df.writeStream.format("parquet")
        .option("path", _os.path.join(sink_dir, "out"))
        .option("checkpointLocation", _os.path.join(sink_dir, "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q, deadline)
    return (
        df.sparkSession.read.schema(df.schema)
        .parquet(_os.path.join(sink_dir, "out"))
    )


def load(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    """Open the requested driver tables (TESTDATA.md layout), all of them
    by default.

    Each table is opened by ``_open_table`` from its footer schema, on
    every call and with no Spark job, so a rewritten file is always read
    as it is now.  ``events.ts`` is normalized to TIMESTAMP_NTZ(µs) via
    ``event_ts_ntz``, so every downstream plan sees one event-time type
    whatever way the file stores it.
    """
    ensure_session_env(spark)
    out = {n: _open_table(spark, f"{sf_dir}/{n}.parquet") for n in names or TABLES}
    if "events" in out:
        out["events"] = event_ts_ntz(out["events"])
    return out


def spread(df: DataFrame, partitions: int | None = None, *keys: str) -> DataFrame:
    """Restore scan parallelism ahead of a compute-heavy map stage when
    the source collapses to fewer partitions than the session's
    parallelism.

    Spark cannot split a single parquet row group across tasks, so a
    table written as one row group (every driver testdata file at check
    SFs) runs its ENTIRE scan stage — and everything codegen-fused into
    it (heavy projections, partial aggregates, Arrow stages) — on one
    core.  This is the guide's "unsplittable input" case (§2.5):
    repartition immediately after the read.  ADAPTIVE by construction:
    when the scan already has >= the session's parallelism (any
    well-laid-out table at cluster scale), this returns ``df`` unchanged
    and NO exchange is added, so at 100 TB the corpus is never
    re-shuffled just to satisfy a local-mode layout quirk.  Catalyst
    pushes filters and column pruning through the repartition, so
    predicate pushdown to the scan is unaffected.

    Pass high-cardinality ``keys`` when the source has them: a keyless
    round-robin exchange must first SORT its input rows within each map
    task so retried tasks reproduce the same row-to-partition assignment
    (spark.sql.execution.sortBeforeRepartition, guide §2.5) — on the
    serial single-row-group scan this exchange exists to fix, that sort
    runs on one core over the full table.  Hash partitioning on a
    deterministic column needs no such sort and is equally retry-safe
    (measured on q1: min 0.90 → 0.69 s, OPTIMIZATION_r12.md).
    """
    sc = df.sparkSession.sparkContext
    target = partitions or sc.defaultParallelism
    try:
        if df.rdd.getNumPartitions() >= target:
            return df
    except Exception:  # noqa: BLE001 — conservatively skip on exotic plans
        return df
    if keys:
        return df.repartition(target, *keys)
    return df.repartition(target)


def presorted(df: DataFrame, *cols: str) -> DataFrame:
    """Range-partition + per-partition sort BEFORE an expensive
    order-preserving map stage, replacing a final ``orderBy`` above it.

    An ``orderBy`` directly above a map stage (no intervening exchange)
    makes the range exchange's boundary-sampling job execute the map
    stage a SECOND time — for regex projections and Python decode
    stages that doubles the dominant cost (t2-class fix,
    OPTIMIZATION_r12.md).  Sorting the narrow pre-map rows instead
    samples only the cheap source, and rows leave a row-wise map stage
    in exactly ORDER BY *cols* order: range partitions are ordered
    between themselves, rows are sorted within each, and AQE may only
    coalesce ADJACENT range partitions.  Only safe when the downstream
    map is row-wise order-preserving (all codec/metric map stages here
    are) and *cols* form a total order (unique keys)."""
    return df.repartitionByRange(*cols).sortWithinPartitions(*cols)


def dsum(col, scale: int = 4):
    """Order-insensitive money sum: per-term cast to DECIMAL recovers the
    exact `scale`-decimal-place value (inputs have ≤`scale` true decimal
    places; double error ~1e-13 per term is far below the cast's rounding
    step) and decimal summation is exact — so Spark and DuckDB agree
    bitwise regardless of partitioning/summation order.  The exact decimal
    sum is cast straight to double (NO re-rounding: a final round-to-2
    can land on an exact .xx5 tie, where Spark rounds HALF_UP but DuckDB
    HALF_EVEN).  SQL twin:
    ``CAST(SUM(CAST(term AS DECIMAL(27,s))) AS DOUBLE)``.

    Per-term precision is 18 — the widest long-backed ("compact") Spark
    Decimal — which skips BigDecimal allocation per row (measured ~25%
    off q1's aggregate stage vs decimal(27); the oracle's DECIMAL(27,s)
    produces the same exact values).  Terms must satisfy
    |term| < 10^(18-scale) (money terms top out ~1e7 at scale<=6); the
    sum buffer auto-widens to decimal(28,s), so row COUNT never
    overflows — only a single term could, and convert()-scale inputs
    are bounded by contract."""
    from pyspark.sql import functions as F

    return F.sum(col.cast(f"decimal(18,{scale})")).cast("double")


@dataclass
class Query:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB; None -> rows-only check
    headline: bool = False  # include in bench.py


REGISTRY: dict[str, Query] = {}


def query(name: str, oracle: str | None, headline: bool = False):
    """Register an analytic query with its DuckDB oracle SQL."""

    def deco(fn):
        REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle, headline=headline)
        return fn

    return deco
