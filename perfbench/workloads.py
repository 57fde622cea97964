"""The four workloads.  Each one is a closed loop with one client.

A workload builds its cached inputs (``build``, run in a separate
process), opens them (``open``, part of set-up), draws its op stream from
a seed (``rounds``; the run's set-up ends with ``WARM_OPS`` ops of a
round drawn from a fixed warm-up seed), runs one op (``run``, timed) and
checks its result against the generator's closed-form expectation
(``check``, untimed).  A round is a block of ops with a fixed
composition, so two seeds measure the same mix.

``tracer.span`` marks the benchmark's own calls into a layer; it is a
no-op unless the run is traced.
"""

from __future__ import annotations

import math
import shutil
from contextlib import nullcontext
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np

from perfbench import datagen as G


@dataclass
class Op:
    kind: str                 # select | labels | range | convert | query
    name: str                 # template / case / query name
    args: dict = field(default_factory=dict)
    expect: object = None
    info: dict = field(default_factory=dict)  # filled by run(): counts for metrics


def zipf_choice(rng, n: int, s: float = 1.2) -> int:
    w = 1.0 / np.arange(1, n + 1) ** s
    return int(rng.choice(n, p=w / w.sum()))


class NoTrace:
    def span(self, name, **attrs):
        return nullcontext()


# -- select-mix ----------------------------------------------------------------

class SelectMix:
    """F2 (BenchmarkSelect) dataset; the reference's 11 matcher cases with
    seeded label values, Zipf-skewed over variants; ~20% label calls; a
    seeded quarter of selects under a Quota above their result size, and
    one Quota per round that must trip."""

    name = "select-mix"
    WARM_OPS = 4
    VARIANTS = 8

    def __init__(self, size: str, tracer=NoTrace()):
        self.size, self.tracer = size, tracer
        self.f2 = G.F2.of_size(size)

    def build_params(self):
        return {"f2": self.f2.__dict__, "seed": G.DATA_SEED}

    def build(self, spark, out: Path):
        from parquet_common_spark import convert as C

        self.f2.write(spark, out / "f2", C.convert)

    def open(self, spark, inputs: Path):
        from parquet_common_spark import ParquetQueryable

        self.spark = spark
        self.q = ParquetQueryable.from_paths(spark, [str(inputs / "f2")])

    # op stream ---------------------------------------------------------------
    def _case(self, rng, case: str):
        from parquet_common_spark import Matcher as M

        d = self.f2.domains()
        pick = lambda label: str(rng.choice(d[label]))  # noqa: E731
        nm, ni = self.f2.metrics, self.f2.instances
        lo = int(rng.integers(0, max(nm - 2, 1)))
        rng3 = f"test_metric_[{lo}-{min(lo + 2, nm - 1)}]"
        lo4 = int(rng.integers(0, max(nm - 3, 1)))
        digits = [str(x) for x in rng.choice(np.arange(1, 10), 2, replace=False)]
        insts = [f"instance-{i}" for i in rng.choice(ni, 5, replace=False)]
        metric = M("__name__", "=", pick("__name__"))
        return {
            "SingleMetricAllSeries": [metric],
            "SingleMetricReducedSeries": [metric, M("instance", "=", pick("instance"))],
            "SingleMetricOneSeries": [metric] + [M(k, "=", pick(k)) for k in
                                                 ("instance", "region", "zone", "service", "environment")],
            "SingleMetricSparseSeries": [metric, M("service", "=", pick("service")),
                                         M("environment", "=", pick("environment"))],
            "NonExistentSeries": [metric, M("environment", "=", "non-existent-environment")],
            "MultipleMetricsRange": [M("__name__", "=~", f"test_metric_[{lo4}-{min(lo4 + 3, nm - 1)}]")],
            "MultipleMetricsSparse": [M("__name__", "=~", f"test_metric_({pick('__name__')[12:]}|{nm + 1}|{nm + 5}|{nm + 10}|{nm + 15})")],
            "NegativeRegexSingleMetric": [metric, M("instance", "!~", f"(instance-{digits[0]}.*|instance-{digits[1]}.*)")],
            "NegativeRegexMultipleMetrics": [M("__name__", "=~", rng3),
                                             M("instance", "!~", f"(instance-{digits[0]}.*|instance-{digits[1]}.*)")],
            "ExpensiveRegexSingleMetric": [metric, M("instance", "=~", "|".join(
                [insts[0].replace("instance", "container"), insts[1],
                 insts[2].replace("instance", "container"), insts[3],
                 insts[4].replace("instance", "container")]).join("()"))],
            "ExpensiveRegexMultipleMetrics": [M("__name__", "=~", rng3),
                                              M("instance", "=~", "|".join(insts).join("()"))],
        }[case]

    CASES = (
        "SingleMetricAllSeries", "SingleMetricReducedSeries", "SingleMetricOneSeries",
        "SingleMetricSparseSeries", "NonExistentSeries", "MultipleMetricsRange",
        "MultipleMetricsSparse", "NegativeRegexSingleMetric", "NegativeRegexMultipleMetrics",
        "ExpensiveRegexSingleMetric", "ExpensiveRegexMultipleMetrics",
    )

    def rounds(self, rng, n: int) -> list[list[Op]]:
        from parquet_common_spark import Matcher as M

        pool = {c: [self._case(rng, c) for _ in range(self.VARIANTS)] for c in self.CASES}
        trip = [M("__name__", "=", "test_metric_0"), M("environment", "=", "environment-0")]
        out = []
        for _ in range(n):
            ops = []
            quota_cases = set(rng.choice(len(self.CASES), 3, replace=False).tolist())
            for k, case in enumerate(self.CASES):
                ms = pool[case][zipf_choice(rng, self.VARIANTS)]
                exp = self.f2.expected_series(ms)
                quota = (2 * exp + 10) if k in quota_cases else None
                ops.append(Op("select", case, {"matchers": ms, "max_rows": quota}, exp))
            ops.append(Op("select", "QuotaTrip", {"matchers": trip, "max_rows": 10}, "trip"))
            for k in range(3):
                case = self.CASES[int(rng.integers(0, len(self.CASES)))]
                ms = pool[case][zipf_choice(rng, self.VARIANTS)]
                if k < 2:
                    label = str(rng.choice(list(self.f2.domains())))
                    ops.append(Op("labels", "label_values", {"label": label, "matchers": ms},
                                  self.f2.expected_label_values(label, ms)))
                else:
                    ops.append(Op("labels", "label_names", {"matchers": ms},
                                  self.f2.expected_label_names(ms)))
            order = rng.permutation(len(ops))
            out.append([ops[i] for i in order])
        return out

    # run / check -------------------------------------------------------------
    def _force(self, df):
        from pyspark.sql import Observation, functions as F

        obs = Observation()
        df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format("noop").mode("overwrite").save()
        return obs.get["rows"]

    def run(self, op: Op):
        from parquet_common_spark import Quota, ResourceExhausted

        a = op.args
        if op.kind == "labels":
            if op.name == "label_values":
                return self.q.label_values(a["label"], a["matchers"])
            return self.q.label_names(a["matchers"])
        quota = None if a["max_rows"] is None else Quota(max_rows=a["max_rows"], max_bytes=1 << 50)
        try:
            df = self.q.select(0, 120, a["matchers"], quota=quota)
        except ResourceExhausted:
            return "trip"
        with self.tracer.span("queryable.select.exec") as sp:
            rows = self._force(df)
            if sp is not None:
                sp.attrs["returned"] = rows
        return rows

    def check(self, op: Op, result) -> bool:
        return result == op.expect


# -- range-query ---------------------------------------------------------------

class RangeQuery:
    """Two daily shards of counters, gauges and histogram buckets (3M
    samples); each op is a seeded 1h range query at 60 s step from four
    dashboard templates, each drawn twice per round,
    run as ``PromQLEngine.from_shards(...).eval_range_df(...).collect()``.
    Each round also converts one fresh 2h block (see ``Ingest``) of 1,000
    series, as a new block lands while dashboards refresh, so the write
    path is measured without a workload of its own."""

    name = "range-query"
    WARM_OPS = 2
    TEMPLATES = ("rate_sum", "bucket_quantile", "max_over_time", "topk")
    BLOCK_INSTANCES = 100  # x 10 metrics = 1,000 series per converted block
    WINDOW_MS = 3_600_000
    STEP_MS = 60_000

    def __init__(self, size: str, tracer=NoTrace()):
        self.size, self.tracer = size, tracer
        self.data = G.RangeData.of_size(size)
        self.ingest = Ingest(size, tracer, self.BLOCK_INSTANCES)

    def build_params(self):
        d = self.data
        return {"jobs": d.jobs, "instances": d.instances, "days": d.days, "seed": d.seed}

    def build(self, spark, out: Path):
        from parquet_common_spark import convert as C

        self.data.write(spark, out, C.convert)

    def open(self, spark, inputs: Path):
        self.spark = spark
        self.shards = [str(inputs / f"day{d}") for d in range(self.data.days)]
        self.ingest.open(spark, inputs)

    def _engine(self):
        from parquet_common_spark.promqltest.engine import PromQLEngine

        return PromQLEngine.from_shards(self.spark, self.shards, ts_divisor=1)

    def rounds(self, rng, n: int) -> list[list[Op]]:
        d = self.data
        span_steps = (d.days * G.DAY_MS - 3 * self.WINDOW_MS) // self.STEP_MS
        self.ingest.start_stream(rng)
        out = []
        for r in range(n):
            ops = [self.ingest.block_op(r)]
            for name in self.TEMPLATES * 2:  # twice each, so the median op is steady
                start = G.T0_MS + self.WINDOW_MS + int(rng.integers(0, span_steps)) * self.STEP_MS
                end = start + self.WINDOW_MS
                job = str(rng.choice(d.job_names))
                code = str(rng.choice(d.CODES))
                if name == "rate_sum":
                    expr = f'sum by (job) (rate(http_requests_total{{code="{code}"}}[5m]))'
                    used = d.samples_in_window(d.jobs * d.instances, start, end, 300_000)
                elif name == "bucket_quantile":
                    expr = (f'histogram_quantile(0.9, sum by (le) '
                            f'(rate(request_duration_seconds_bucket{{job="{job}"}}[5m])))')
                    used = d.samples_in_window(d.instances * (len(G.LE_BOUNDS) + 1), start, end, 300_000)
                elif name == "max_over_time":
                    expr = f'max_over_time(memory_usage_bytes{{job="{job}"}}[10m])'
                    used = d.samples_in_window(d.instances, start, end, 600_000)
                else:
                    expr = "topk(5, memory_usage_bytes)"
                    used = d.samples_in_window(d.jobs * d.instances, start, end, 300_000)
                ops.append(Op("range", name, {"expr": expr, "start": start, "end": end,
                                              "job": job, "code": code}, info={"used": used}))
            out.append([ops[i] for i in rng.permutation(len(ops))])
        return out

    def expected(self, op: Op):
        """Closed-form result of the op, from the generator's parameters."""
        d, a = self.data, op.args
        steps = d.steps(a["start"], a["end"], self.STEP_MS)
        if op.name == "rate_sum":
            return {(j, int(ev)): v for j, v in d.expect_rate_sum_by_job(a["code"]).items()
                    for ev in steps}
        if op.name == "bucket_quantile":
            q = d.expect_bucket_quantile(0.9, a["job"])
            return {int(ev): q for ev in steps}
        if op.name == "max_over_time":
            return d.expect_max_over_time(a["job"], steps, 600_000)
        return d.expect_topk_gauge(5, steps)

    def prepare(self, op: Op) -> None:
        if op.kind == "convert":
            self.ingest.prepare(op)

    def run(self, op: Op):
        if op.kind == "convert":
            self.ingest.tracer = self.tracer
            return self.ingest.run(op)
        a = op.args
        df = self._engine().eval_range_df(a["expr"], a["start"], a["end"], self.STEP_MS)
        with self.tracer.span("engine.exec"):
            return df.collect()

    def check(self, op: Op, rows) -> bool:
        if op.kind == "convert":
            self.ingest.tracer = self.tracer
            return self.ingest.check(op, rows)
        want = op.expect if op.expect is not None else self.expected(op)
        close = lambda x, y: math.isclose(x, y, rel_tol=1e-6, abs_tol=1e-9)  # noqa: E731
        if op.name == "topk":
            got: dict = {}
            for r in rows:
                got.setdefault(r["_ev"], []).append(r["value"])
            return got.keys() == want.keys() and all(
                len(got[k]) == len(want[k]) and all(map(close, sorted(got[k], reverse=True), want[k]))
                for k in want)
        key = {"rate_sum": lambda r: (r["l_job"], r["_ev"]),
               "bucket_quantile": lambda r: r["_ev"],
               "max_over_time": lambda r: (r["l_instance"], r["_ev"])}[op.name]
        got = {key(r): r["value"] for r in rows}
        return (len(rows) == len(want) and got.keys() == want.keys()
                and all(close(got[k], want[k]) for k in want))

    def extra_metrics(self) -> dict:
        return self.ingest.extra_metrics()


# -- ingest ----------------------------------------------------------------------

class Ingest:
    """Each op converts one fresh 2h block (counters and gauges, ~10%
    series churn per block) into a new shard directory; an untimed
    read-back through ParquetQueryable checks series and sample counts."""

    name = "ingest"
    WARM_OPS = 1

    def __init__(self, size: str, tracer=NoTrace(), instances: int = 500):
        self.size, self.tracer, self.instances = size, tracer, instances

    def build_params(self):
        return None  # nothing cached: every block comes from the run seed

    def open(self, spark, inputs: Path):
        self.spark = spark
        self.work = G.CACHE_ROOT / "work" / "ingest"
        shutil.rmtree(self.work, ignore_errors=True)
        self.work.mkdir(parents=True)

    def _stage(self, op: Op, table) -> Op:
        import pyarrow.parquet as pq

        src = self.work / f"input-{op.args['block']}.parquet"
        pq.write_table(table, src)
        op.args.update(src=str(src), out=str(self.work / f"shard-{op.args['block']}"),
                       mint=int(table["ts"][0].as_py()))
        op.expect = (table.num_rows // len(np.unique(table["ts"].to_numpy())), table.num_rows)
        return op

    def start_stream(self, rng) -> None:
        self.stream = G.IngestStream.of_size(self.size, int(rng.integers(1 << 31)), self.instances)
        self._blocks = self.stream.blocks()
        self.bytes_written = self.samples_written = 0

    @staticmethod
    def block_op(b: int) -> Op:
        return Op("convert", "block", {"block": b})

    def rounds(self, rng, n: int) -> list[list[Op]]:
        self.start_stream(rng)
        return [[self.block_op(b)] for b in range(n)]

    def prepare(self, op: Op) -> None:
        """Materialize the next block of the stream as the op's input (untimed)."""
        _, table = next(self._blocks)
        self._stage(op, table)

    def run(self, op: Op):
        from parquet_common_spark import convert as C

        a = op.args
        C.convert(self.spark.read.parquet(a["src"]), a["out"], labels_col=None)
        return a["out"]

    def check(self, op: Op, out) -> bool:
        from parquet_common_spark import Matcher, ParquetQueryable

        with self.tracer.span("bench.readback"):
            q = ParquetQueryable.from_paths(self.spark, [out])
            everything = [Matcher("__name__", "=~", ".+")]
            lo, hi = op.args["mint"], op.args["mint"] + G.BLOCK_MS
            series = q.select(lo, hi, everything, skip_chunks=True).count()
            samples = q.select(lo, hi, everything).count()
        size = G.dir_bytes(Path(out))
        op.info.update(bytes=size, samples=samples)
        self.bytes_written += size
        self.samples_written += samples
        shutil.rmtree(out, ignore_errors=True)
        Path(op.args["src"]).unlink(missing_ok=True)
        return (series, samples) == op.expect

    def extra_metrics(self) -> dict:
        return {"bytes_per_sample": (self.bytes_written / max(self.samples_written, 1), "B")}


# -- analytics -------------------------------------------------------------------

HEADLINE = ("q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
            "q6_forecast_revenue", "q9_product_profit", "q18_large_volume_customer",
            "e1_event_type_stats", "d2_minhash_lsh_dedup", "t2_quality_scores",
            "sim1_cosine_topk")


def _registry():
    from parquet_common_spark.operators import pipeline_queries  # noqa: F401
    from parquet_common_spark.plans import analytics, tpch  # noqa: F401
    from parquet_common_spark.plans.common import REGISTRY

    return REGISTRY


def query_layer(fn) -> str:
    """``plans`` or ``operators``: the package module the query lives in."""
    return fn.__module__.split(".")[1]


class Analytics:
    """The 10 headline registry queries over a generated sf0.1-shaped
    dataset, cycled in a fixed order from a seeded offset; each op is one
    ``.collect()`` after ``clear_pairs_cache()``; results are compared
    with DuckDB running the query's registry oracle SQL."""

    name = "analytics"
    WARM_OPS = 2

    def __init__(self, size: str, tracer=NoTrace()):
        self.size, self.tracer = size, tracer

    def build_params(self):
        return {"rows": G.analytics_rows(self.size), "seed": G.DATA_SEED}

    def build(self, spark, out: Path):
        import json

        import duckdb

        G.write_analytics_tables(out / "tables", self.size)
        reg = _registry()
        con = duckdb.connect()
        for t in ("region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{out / 'tables' / t}.parquet'")
        expected = {}
        for n in HEADLINE:
            cur = con.execute(reg[n].oracle)
            cols = [c[0] for c in cur.description]
            expected[n] = canonical(cols, cur.fetchall())
        (out / "expected.json").write_text(json.dumps(expected))

    def open(self, spark, inputs: Path):
        import json

        self.spark = spark
        self.dir = str(inputs / "tables")
        self.expected = json.loads((inputs / "expected.json").read_text())
        self.reg = _registry()

    def rounds(self, rng, n: int) -> list[list[Op]]:
        k = int(rng.integers(0, len(HEADLINE)))
        cycle = HEADLINE[k:] + HEADLINE[:k]
        return [[Op("query", q, expect=self.expected[q]) for q in cycle] for _ in range(n)]

    def run(self, op: Op):
        from parquet_common_spark.operators.pipeline_queries import clear_pairs_cache

        clear_pairs_cache()
        fn = self.reg[op.name].fn
        with self.tracer.span(f"{query_layer(fn)}.{op.name}.exec"):
            df = fn(self.spark, self.dir)
            return [tuple(r) for r in df.collect()], df.columns

    def check(self, op: Op, result) -> bool:
        rows, cols = result
        return rows_match(canonical(cols, rows), op.expect)


def _cell(v):
    import datetime as dt
    import decimal

    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return [_cell(x) for x in v]
    return v


def canonical(cols, rows) -> dict:
    """Columns sorted by name, rows sorted; JSON-safe cells."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [[_cell(r[i]) for i in order] for r in rows]
    out.sort(key=lambda r: [str(round(x, 4)) if isinstance(x, float) else str(x) for x in r])
    return {"cols": [cols[i] for i in order], "rows": out}


def rows_match(got: dict, want: dict) -> bool:
    def same(a, b):
        if isinstance(a, float) or isinstance(b, float):
            if a is None or b is None:
                return a is b
            return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)
        if isinstance(a, list) and isinstance(b, list):
            return len(a) == len(b) and all(map(same, a, b))
        return a == b

    return (got["cols"] == want["cols"] and len(got["rows"]) == len(want["rows"])
            and all(same(a, b) for a, b in zip(got["rows"], want["rows"])))


WORKLOADS = {w.name: w for w in (SelectMix, RangeQuery, Ingest, Analytics)}
