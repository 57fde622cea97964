"""Reference-shaped BenchmarkSelect: the 11 matcher workloads over the
1,500,000-series cross-product dataset (reference:
queryable/parquet_queryable_test.go:612-760; FIXTURES.md F2).

This mirrors the reference's primary continuous benchmark so BENCH numbers
are comparable in *shape*: same matchers, same series cardinalities, one
sample per series.  Results are forced through a noop sink so every label
column and sample is materialized (a count() would let Catalyst prune the
labels and understate the work).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from parquet_common_spark import Matcher, ParquetQueryable
from parquet_common_spark import convert as C
from parquet_common_spark import schema as S

BENCH_DIR = os.environ.get("SPARK_GRAFT_SELECT_BENCH_DIR", "/tmp/pcs_bench_select")

# reference benchmarkCases, verbatim matcher-for-matcher
WORKLOADS: list[tuple[str, list[Matcher]]] = [
    ("SingleMetricAllSeries", [Matcher("__name__", "=", "test_metric_1")]),
    (
        "SingleMetricReducedSeries",
        [Matcher("__name__", "=", "test_metric_1"), Matcher("instance", "=", "instance-1")],
    ),
    (
        "SingleMetricOneSeries",
        [
            Matcher("__name__", "=", "test_metric_1"),
            Matcher("instance", "=", "instance-2"),
            Matcher("region", "=", "region-1"),
            Matcher("zone", "=", "zone-3"),
            Matcher("service", "=", "service-10"),
            Matcher("environment", "=", "environment-1"),
        ],
    ),
    (
        "SingleMetricSparseSeries",
        [
            Matcher("__name__", "=", "test_metric_1"),
            Matcher("service", "=", "service-1"),
            Matcher("environment", "=", "environment-0"),
        ],
    ),
    (
        "NonExistentSeries",
        [
            Matcher("__name__", "=", "test_metric_1"),
            Matcher("environment", "=", "non-existent-environment"),
        ],
    ),
    ("MultipleMetricsRange", [Matcher("__name__", "=~", "test_metric_[1-5]")]),
    ("MultipleMetricsSparse", [Matcher("__name__", "=~", "test_metric_(1|5|10|15|20)")]),
    (
        "NegativeRegexSingleMetric",
        [
            Matcher("__name__", "=", "test_metric_1"),
            Matcher("instance", "!~", "(instance-1.*|instance-2.*)"),
        ],
    ),
    (
        "NegativeRegexMultipleMetrics",
        [
            Matcher("__name__", "=~", "test_metric_[1-3]"),
            Matcher("instance", "!~", "(instance-1.*|instance-2.*)"),
        ],
    ),
    (
        "ExpensiveRegexSingleMetric",
        [
            Matcher("__name__", "=", "test_metric_1"),
            Matcher(
                "instance",
                "=~",
                "(container-1|instance-2|container-3|instance-4|container-5)",
            ),
        ],
    ),
    (
        "ExpensiveRegexMultipleMetrics",
        [
            Matcher("__name__", "=~", "test_metric_[1-3]"),
            Matcher(
                "instance",
                "=~",
                "(instance-1|instance-2|instance-3|instance-4|instance-5)",
            ),
        ],
    ),
]


def generate_dataset(spark: SparkSession, out_dir: str = BENCH_DIR) -> str:
    """5 metrics x 100 instances x 5 regions x 10 zones x 20 services x
    3 environments = 1.5M series, 1 sample each at ts=0 (reference:
    parquet_queryable_test.go:710-753).  Cached on disk."""
    if os.path.exists(os.path.join(out_dir, S.META_FILE)):
        return out_dir
    dims = {
        "metric": 5,
        "instance": 100,
        "region": 5,
        "zone": 10,
        "service": 20,
        "environment": 3,
    }
    df = spark.range(dims["metric"]).select(F.col("id").alias("m"))
    for name, n in list(dims.items())[1:]:
        df = df.crossJoin(spark.range(n).select(F.col("id").alias(name[0] + "_i")))
    wide = df.select(
        F.concat(F.lit("test_metric_"), F.col("m")).alias(S.label_to_column("__name__")),
        F.concat(F.lit("instance-"), F.col("i_i")).alias(S.label_to_column("instance")),
        F.concat(F.lit("region-"), F.col("r_i")).alias(S.label_to_column("region")),
        F.concat(F.lit("zone-"), F.col("z_i")).alias(S.label_to_column("zone")),
        F.concat(F.lit("service-"), F.col("s_i")).alias(S.label_to_column("service")),
        F.concat(F.lit("environment-"), F.col("e_i")).alias(S.label_to_column("environment")),
        F.lit(0).cast("long").alias("ts"),
        F.rand(seed=42).alias("value"),
    )
    C.convert(wide, out_dir, labels_col=None, mint_ms=0, maxt_ms=0, col_duration_ms=3_600_000)
    return out_dir


def run(spark: SparkSession, out_dir: str | None = None) -> dict:
    """Run all 11 workloads over the PRIMARY layout; returns
    {name: {sec, series}}.

    r13: the primary layout is the bucketed-table pair (zero-exchange
    series⋈samples join) — the 100 TB read posture.  It was secondary
    until the one-file-per-bucket write fix (convert_bucketed):
    with 32 files per bucket the per-file open cost made it 2-3x
    SLOWER than the directory layout at this scale (every round's A/B
    said so); with one file per bucket it is ~2x FASTER
    (the message of commit 24918dd carries the interleaved A/B).  Same dataset,
    same matchers, same rows — only the storage layout changed.  The
    directory layout stays measured as the secondary key
    (``run_dir``, reported as select_dir_* in BENCH_DIAG.json).

    ``out_dir`` is accepted for API compatibility: a non-None value
    runs the DIRECTORY layout at that path (used by tests that build
    tiny fixtures)."""
    if out_dir is not None:
        q = ParquetQueryable.from_paths(spark, [generate_dataset(spark, out_dir)])
    else:
        q = ParquetQueryable.from_tables(
            spark, [generate_bucketed_dataset(spark, BUCKETED_PREFIX)]
        )
    results: dict[str, dict] = {}
    # warm-up: footers + code paths
    _force(q.select(0, 120, WORKLOADS[0][1]))
    for name, matchers in WORKLOADS:
        sel = q.select(0, 120, matchers)
        best = None
        # min-of-3 for the cheap workloads; min-of-5 for the two heavy
        # collectors, whose larger result forcing (300k/1.2M rows) makes
        # a single host-load spike visible in the round record (r6
        # printed 0.79 s for a plan that measures 0.60-0.67 s
        # interleaved at load-avg 5 — same code, same plan)
        trials = 5 if name in BUCKETED_WORKLOADS else 3
        samples: list[float] = []
        for _ in range(trials):
            t0 = time.perf_counter()
            _force(sel)
            dt = time.perf_counter() - t0
            samples.append(round(dt, 3))
            best = dt if best is None else min(best, dt)
        results[name] = {
            "sec": round(best, 3),
            "series": sel.count(),
            "trials": samples,
        }
    return results


def _force(df: DataFrame) -> None:
    """Materialize every column through the noop sink (a count() would let
    Catalyst prune the label columns and understate the work)."""
    df.write.format("noop").mode("overwrite").save()


BUCKETED_PREFIX = os.environ.get(
    "SPARK_GRAFT_SELECT_BENCH_TABLE", "pcs_bench_f2"
)

# the two heaviest workloads — the pair where the series⋈samples join
# dominates, so the layout difference shows up as wall clock; these get
# 5 trials in the primary run and are the directory-layout A/B set
BUCKETED_WORKLOADS = ("SingleMetricAllSeries", "MultipleMetricsRange")


def generate_bucketed_dataset(
    spark: SparkSession, table_prefix: str = BUCKETED_PREFIX
) -> str:
    """The same 1.5M-series F2 dataset as :func:`generate_dataset`, but
    written with ``convert_bucketed`` as co-located catalog tables —
    the 100 TB layout where the series⋈samples join plans with zero
    shuffle exchanges.  Cached in the warehouse across runs."""
    if spark.catalog.tableExists(f"{table_prefix}_series"):
        return table_prefix
    # the session catalog is in-memory: a previous session's table FILES
    # survive in the warehouse without catalog entries.  Re-attach them
    # (catalog-entry cost only) instead of regenerating 1.5M series —
    # the regeneration's write-back I/O pressure inflated the very
    # workloads this bench measures (r6: 5.66 s driver-recorded vs
    # 0.80 s against a settled table).
    if C.attach_bucketed(spark, table_prefix) is not None:
        return table_prefix
    # no re-attachable files — clear any partial leftovers or
    # saveAsTable fails with LOCATION_ALREADY_EXISTS
    import shutil
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for suffix in ("_series", "_samples"):
        loc = os.path.join(wh, f"{table_prefix}{suffix}")
        if os.path.exists(loc):
            shutil.rmtree(loc, ignore_errors=True)
    dims = {
        "metric": 5,
        "instance": 100,
        "region": 5,
        "zone": 10,
        "service": 20,
        "environment": 3,
    }
    df = spark.range(dims["metric"]).select(F.col("id").alias("m"))
    for name, n in list(dims.items())[1:]:
        df = df.crossJoin(spark.range(n).select(F.col("id").alias(name[0] + "_i")))
    wide = df.select(
        F.concat(F.lit("test_metric_"), F.col("m")).alias(S.label_to_column("__name__")),
        F.concat(F.lit("instance-"), F.col("i_i")).alias(S.label_to_column("instance")),
        F.concat(F.lit("region-"), F.col("r_i")).alias(S.label_to_column("region")),
        F.concat(F.lit("zone-"), F.col("z_i")).alias(S.label_to_column("zone")),
        F.concat(F.lit("service-"), F.col("s_i")).alias(S.label_to_column("service")),
        F.concat(F.lit("environment-"), F.col("e_i")).alias(S.label_to_column("environment")),
        F.lit(0).cast("long").alias("ts"),
        F.rand(seed=42).alias("value"),
    )
    C.convert_bucketed(
        wide,
        table_prefix,
        labels_col=None,
        mint_ms=0,
        maxt_ms=0,
        col_duration_ms=3_600_000,
    )
    return table_prefix


def run_dir(spark: SparkSession, out_dir: str = BENCH_DIR) -> dict:
    """BUCKETED_WORKLOADS over the DIRECTORY layout (the portable
    interchange form, now the secondary key); same matchers, same
    forcing sink as :func:`run`, so `select_X` vs `select_dir_X` is a
    direct bucketed-vs-directory A/B in every round artifact."""
    generate_dataset(spark, out_dir)
    q = ParquetQueryable.from_paths(spark, [out_dir])
    by_name = dict(WORKLOADS)
    results: dict[str, dict] = {}
    _force(q.select(0, 120, by_name[BUCKETED_WORKLOADS[0]]))  # warm-up
    for name in BUCKETED_WORKLOADS:
        sel = q.select(0, 120, by_name[name])
        best = None
        samples: list[float] = []
        for _ in range(5):  # match run()'s trial count for these two —
            # the A/B against the bucketed layout compares mins
            t0 = time.perf_counter()
            _force(sel)
            dt = time.perf_counter() - t0
            samples.append(round(dt, 3))
            best = dt if best is None else min(best, dt)
        results[name] = {
            "sec": round(best, 3),
            "series": sel.count(),
            "trials": samples,
        }
    return results
