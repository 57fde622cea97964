"""Spark evaluator for PromQL ASTs over promqltest-loaded samples.

Maps the upstream evaluation model (prometheus/prometheus
promql/engine.go + promql/functions.go; the reference delegates to it —
/root/reference/queryable/parquet_queryable_test.go:45-66) onto
DataFrame plans:

  - an *instant vector at a set of eval timestamps* is a DataFrame with
    an ``_ev`` column (eval timestamp, ms) + ``l_<label>`` columns +
    ``value``.  A range query is ONE plan evaluating every step — the
    steps ride as a broadcast ``_ev`` frame, so per-step work fans out
    instead of looping Spark actions.
  - a *scalar* is a DataFrame ``(_ev, value)`` with one row per step.
  - selectors follow Prometheus 3.x semantics: left-open lookback
    ``(T-5m, T]`` for instant vectors, left-open ``(T-r, T]`` range
    windows, staleness markers end a series, ``offset`` / fixed ``@``
    timestamps shift the effective eval time.
  - vector matching, aggregation operators, label_replace/label_join,
    and the math functions are the SAME combinators the registry
    queries use (functions/promql_vec.py) — ``_ev`` participates as an
    implicit always-on match label; ``__name__`` is excluded from
    matching and dropped from outputs exactly where upstream drops it.
  - range-vector functions (rate/increase/delta, *_over_time, deriv/
    predict_linear, idelta/irate, changes/resets, double exponential
    smoothing, absent_over_time) implement the upstream formulas with
    explicit per-eval window bounds: every selector and subquery joins
    its points to the steps in ONE place (``_window_join``), and the
    extrapolation, reset/change tests, instant pair and Holt fold are
    the same kernels functions/promql.py uses over tumbling windows
    (promql/functions.go), called with ``(eval - range, eval]`` bounds.

Storage is either in memory (plain ``load``: the model the differential
tests compare against) or shard-backed (``from_shards``, and ``load`` with
``parquet_backed=True``).  Shard-backed, each selector reads only its own
window — ``(eff-5m, eff]`` or ``(eff-range, eff]`` over the steps it is
evaluated at — through one ``ParquetQueryable.select``, so shard pruning,
time-bucket partition pruning, the ``s_ts`` filter and matcher pushdown
all reach the scan.  This is the public instant/range query surface over
converted shards; the tumbling-window layer in functions/promql.py stays
the analytics path.
"""

from __future__ import annotations

import math
import tempfile
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from parquet_common_spark import schema as S
from parquet_common_spark.matchers import Matcher, matcher_to_predicate
from parquet_common_spark.queryable import ParquetQueryable, ShardDataset
from parquet_common_spark.schema import label_to_column
from parquet_common_spark.session import local_frame
from parquet_common_spark.functions import promql
from parquet_common_spark.functions import promql_vec as pv
from parquet_common_spark.functions.histograms import histogram_quantile
from parquet_common_spark.promqltest import promqlparse as ast
from parquet_common_spark.promqltest.scriptparse import LoadCmd

LOOKBACK_MS = 5 * 60 * 1000
NAME_COL = label_to_column("__name__")

# native-histogram sample columns (the promqltest {{...}} literal
# notation mapped onto the functions/native_histograms.py sparse model:
# bucket k covers (γ^(k-1), γ^k], literal offset o = first bucket's k)
_NH_SCHEMA = [
    ("nh_schema", "int"),
    ("nh_zero_count", "long"),
    ("nh_zero_threshold", "double"),
    ("nh_count", "long"),
    ("nh_sum", "double"),
    ("nh_pos_idx", "array<int>"),
    ("nh_pos_counts", "array<long>"),
    ("nh_neg_idx", "array<int>"),
    ("nh_neg_counts", "array<long>"),
    # custom-bucket histograms (NHCB, upstream schema -53,
    # model/histogram CustomBucketsSchema): the positive-range bucket
    # index k covers (custom_values[k-1], custom_values[k]] with an
    # implicit -Inf lower bound before the first value and an implicit
    # +Inf bucket after the last; NULL for exponential histograms
    ("nh_custom_values", "array<double>"),
]
_NH_COLS = [c for c, _ in _NH_SCHEMA]
CUSTOM_BUCKETS_SCHEMA = -53

# distinctness key for custom-bucket bounds: NHCB histograms merge only
# when their custom_values match exactly; exponential histograms all map
# to the same "exp" key (they merge via schema downscale instead)
def _cv_key(col: F.Column) -> F.Column:
    return F.coalesce(
        F.array_join(F.transform(col, lambda x: x.cast("string")), ","),
        F.lit("exp"),
    )


def _pairs(which: str, h: str | None = None, sign: float | None = None) -> F.Column:
    """The ``which`` ("pos"/"neg") buckets of histogram ``h`` — a struct
    column, or the row's own columns when None — as (idx, cnt, sch)
    structs: each count a double (times ``sign`` when given), tagged
    with its histogram's schema so ``_merge_buckets`` can downscale it."""

    def col(c: str) -> F.Column:
        return F.col(f"{h}.{c}" if h else c)

    def cnt(v: F.Column) -> F.Column:
        return v.cast("double") if sign is None else v.cast("double") * F.lit(sign)

    return F.transform(
        F.zip_with(
            col(f"nh_{which}_idx"),
            col(f"nh_{which}_counts"),
            lambda k, v: F.struct(k.alias("idx"), cnt(v).alias("cnt")),
        ),
        lambda p: F.struct(
            p["idx"].alias("idx"),
            p["cnt"].alias("cnt"),
            col("nh_schema").alias("sch"),
        ),
    )


def _merge_buckets(pairs: F.Column):
    """Merge a flattened array of (idx, cnt, sch) sparse-bucket pairs
    into (sorted distinct idx array, per-idx summed counts) at the
    group's coarsest schema ``_smin``.  Index k at schema s covers
    (γ^(k-1), γ^k] with γ = 2^(2^-s); at schema t ≤ s the covering
    bucket is ceil(k / 2^(s-t)) (upstream model/histogram.go
    ReduceResolution) — F.ceil rounds toward +Inf, correct for negative
    indices too.  Quadratic in the bucket count per group — bounded by
    ≤ ~4 buckets/octave, so the expression stays tiny and JVM-side."""
    pairs = F.transform(
        pairs,
        lambda p: F.struct(
            F.ceil(
                p["idx"].cast("double")
                / F.pow(F.lit(2.0), (p["sch"] - F.col("_smin")).cast("double"))
            )
            .cast("int")
            .alias("idx"),
            p["cnt"].alias("cnt"),
        ),
    )
    idxs = F.array_sort(F.array_distinct(F.transform(pairs, lambda p: p["idx"])))
    merged = F.transform(
        idxs,
        lambda k: F.struct(
            k.alias("idx"),
            F.aggregate(
                pairs,
                F.lit(0.0),
                lambda a, p: a + F.when(p["idx"] == k, p["cnt"]).otherwise(F.lit(0.0)),
            ).alias("cnt"),
        ),
    )
    # compact: a merged/differenced bucket at exactly 0 disappears
    # (upstream compaction) — an empty bucket would poison the
    # quantile walk's in-bucket division
    merged = F.filter(merged, lambda s: s["cnt"] != 0)
    return (
        F.transform(merged, lambda s: s["idx"]),
        F.transform(merged, lambda s: s["cnt"]),
    )


def _nh_of(h: str | None = None) -> tuple:
    """``_nh_out``'s histogram arguments read from histogram ``h`` — a
    struct column, or the row's own columns when None."""

    def col(c: str) -> F.Column:
        return F.col(f"{h}.{c}" if h else c)

    return (
        col("nh_schema"),
        col("nh_zero_count"),
        col("nh_count"),
        col("nh_sum"),
        (col("nh_pos_idx"), col("nh_pos_counts")),
        (col("nh_neg_idx"), col("nh_neg_counts")),
        col("nh_custom_values"),
    )


def _nh_out(df, keys, schema, zero, count, total, pos, neg, custom, scale=None) -> DataFrame:
    """Project a histogram result onto ``keys`` and the ``_NH_SCHEMA``
    columns.  ``pos``/``neg`` are (idx array, count array) pairs;
    ``scale`` (a one-argument ``lambda c: ...``) maps the zero count,
    count, sum and every bucket count.  A derived histogram carries no
    zero threshold."""
    sc = scale or (lambda c: c)

    def counts(arr: F.Column) -> F.Column:
        return arr if scale is None else F.transform(arr, scale)

    return df.select(
        *keys,
        schema.alias("nh_schema"),
        sc(zero).alias("nh_zero_count"),
        F.lit(None).cast("double").alias("nh_zero_threshold"),
        sc(count).alias("nh_count"),
        sc(total).alias("nh_sum"),
        pos[0].alias("nh_pos_idx"),
        counts(pos[1]).alias("nh_pos_counts"),
        neg[0].alias("nh_neg_idx"),
        counts(neg[1]).alias("nh_neg_counts"),
        custom.alias("nh_custom_values"),
    )


class PromQLEvalError(ValueError):
    pass


@dataclass(frozen=True)
class _Steps:
    """The eval timestamps: the ``_ev`` frame plans broadcast, and the
    same timestamps in Python, from which each selector bounds its
    storage window (and a subquery builds its inner grid) without a
    Spark job.  Passed down explicitly rather than kept on the engine,
    because evals run concurrently on shallow engine copies."""

    df: DataFrame
    evs: tuple[int, ...]


def _mangle(names):
    return [label_to_column(n) for n in names]


class PromQLEngine:
    """Evaluates PromQL ASTs against samples accumulated from ``load``
    or against converted shards (``from_shards``)."""

    def __init__(self, spark: SparkSession, parquet_backed: bool = False):
        """``parquet_backed=True`` routes every ``load`` block through
        ``convert()`` to an on-disk shard and serves selectors back
        through ShardDataset/ParquetQueryable — the reference's
        acceptance shape (promqltest over parquet-backed storage,
        queryable/parquet_queryable_test.go:45-66), with the staleness
        flag riding as an extra value column."""
        self.spark = spark
        # calendar functions (minute/hour/month/...) extract UTC fields
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        self.parquet_backed = parquet_backed
        self._samples: DataFrame | None = None  # in-memory storage
        # shard-backed storage (None: in memory); rebound, never mutated,
        # so engine copies taken for concurrent evals keep their view
        self._shards: list | None = [] if parquet_backed else None
        self._ts_divisor = 1000  # stored timestamp units per engine ms
        # metric names known (at load time) to carry native-histogram
        # samples — lets binary × / ÷ pick the histogram side statically
        self._hist_metrics: set[str] = set()
        self._script_loaded = False  # storage came from load blocks
        self._qstart = self._qend = 0  # @ start()/end() bounds, set per run

    # ------------------------------------------------------------ storage

    def clear(self):
        self._samples = None
        self._shards = [] if self.parquet_backed else None
        self._hist_metrics = set()
        self._script_loaded = False

    def load(self, cmd: LoadCmd):
        if self._samples is None and not self._shards:
            self._script_loaded = True  # storage holds only load blocks
        rows = []
        label_names: dict[str, None] = {}
        for labels, _ in cmd.series:
            for k in labels:
                label_names[k] = None

        def hist_fields(h):
            if h is None:
                return (None,) * 10
            pos_idx = [int(h["offset"]) + i for i in range(len(h["buckets"]))]
            neg_idx = [int(h["n_offset"]) + i for i in range(len(h["n_buckets"]))]
            cv = h.get("custom_values")
            return (
                int(h["schema"]),
                int(h["z_bucket"]),
                float(h["z_bucket_w"]),
                int(h["count"]),
                float(h["sum"]),
                pos_idx,
                [int(c) for c in h["buckets"]],
                neg_idx,
                [int(c) for c in h["n_buckets"]],
                None if cv is None else [float(x) for x in cv],
            )

        for labels, samples in cmd.series:
            if any(s.hist is not None for s in samples):
                self._hist_metrics.add(labels.get("__name__"))
            for s in samples:
                rows.append(
                    tuple(labels.get(n) for n in label_names)
                    + (s.ts_ms, float(s.value), bool(s.stale))
                    + hist_fields(s.hist)
                )
        cols = _mangle(label_names)
        schema_parts = [f"`{c}` string" for c in cols]
        schema = ", ".join(
            schema_parts
            + ["ts long", "value double", "stale boolean"]
            + [f"{c} {t}" for c, t in _NH_SCHEMA]
        )
        df = local_frame(self.spark, rows, schema)
        if self.parquet_backed:
            self._shards = [*self._shards, self._write_shard(df)]
        elif self._samples is None:
            self._samples = df
        else:
            self._samples = self._samples.unionByName(df, allowMissingColumns=True)

    def _write_shard(self, df: DataFrame) -> ShardDataset:
        """One load block -> one shard (the reference's block->shard
        unit), timestamps stored in the engine's unit (µs by default)
        with the default 8h time buckets counted in the same unit."""
        from parquet_common_spark.convert import convert

        div = self._ts_divisor
        out_dir = tempfile.mkdtemp(prefix="promqltest_shard_")
        convert(
            df.withColumn("ts", F.col("ts") * F.lit(div)),  # ms -> stored unit
            out_dir,
            labels_col=None,
            col_duration_ms=S.DEFAULT_COL_DURATION_MS * div,
            extra_value_cols=["stale", *_NH_COLS],
        )
        return ShardDataset.read(self.spark, out_dir)

    # ------------------------------------------------------------- public

    def eval_instant(self, expr, t_ms: int):
        return self._run(expr, [int(t_ms)])

    def eval_instant_df(self, expr, t_ms: int) -> DataFrame:
        """The instant vector at ``t_ms`` as a lazy DataFrame (label
        columns + ``value``) — for embedding engine evaluations inside
        larger Spark plans (e.g. the driver-contract registry)."""
        if isinstance(expr, str):
            expr = ast.parse_promql(expr)
        self._qstart = self._qend = int(t_ms)  # for @ start()/end()
        kind, df = self._eval(expr, self._steps([t_ms]))
        if kind != "vector":
            raise PromQLEvalError("eval_instant_df requires a vector expression")
        return df.drop("_ev")

    def eval_hist(self, expr, evs: list[int]):
        """Histogram-valued evaluation for script expectations written
        as ``{{...}}`` literals (upstream promqltest's native-histogram
        output form): -> [(labels, {ev: hist})] where ``hist`` carries
        schema/count/sum/z_bucket scalars and sparse ``pos``/``neg``
        {idx: cnt} bucket maps.  Supports the engine's histogram-vector
        surface (selector, sum()/avg(), rate()/increase())."""
        if isinstance(expr, str):
            expr = ast.parse_promql(expr)
        self._qstart, self._qend = evs[0], evs[-1]
        df = self._hist_vec(expr, self._steps(evs))
        out: list[tuple[dict, dict]] = []
        index: dict = {}
        for r in df.collect():
            labels = {
                c[len("l_"):]: r[c]
                for c in df.columns
                if c.startswith("l_") and r[c] is not None
            }
            key = tuple(sorted(labels.items()))
            if key not in index:
                index[key] = len(out)
                out.append((labels, {}))
            series_vals = out[index[key]][1]
            if r["_ev"] in series_vals:
                raise PromQLEvalError(
                    f"vector cannot contain metrics with the same labelset: {labels}"
                )
            series_vals[r["_ev"]] = {
                "schema": r["nh_schema"],
                "count": r["nh_count"],
                "sum": r["nh_sum"],
                "z_bucket": r["nh_zero_count"],
                "pos": dict(zip(r["nh_pos_idx"] or [], r["nh_pos_counts"] or [])),
                "neg": dict(zip(r["nh_neg_idx"] or [], r["nh_neg_counts"] or [])),
                "custom_values": (
                    None
                    if r["nh_custom_values"] is None
                    else list(r["nh_custom_values"])
                ),
            }
        return out

    @staticmethod
    def _range_steps(start_ms: int, end_ms: int, step_ms: int) -> list:
        """Validated step grid for the public range-query surface."""
        start_ms, end_ms, step_ms = int(start_ms), int(end_ms), int(step_ms)
        if step_ms <= 0:
            raise PromQLEvalError(
                f"zero or negative query resolution step: {step_ms}ms"
            )
        if start_ms > end_ms:
            raise PromQLEvalError(
                "invalid time range: start is after end "
                f"({start_ms} > {end_ms})"
            )
        return list(range(start_ms, end_ms + 1, step_ms))

    def eval_range(self, expr, start_ms: int, end_ms: int, step_ms: int):
        return self._run(expr, self._range_steps(start_ms, end_ms, step_ms))

    def eval_range_df(
        self, expr, start_ms: int, end_ms: int, step_ms: int
    ) -> DataFrame:
        """The range-query result as a lazy DataFrame: one row per
        (series, step) with label columns, ``_ev`` (step timestamp, ms)
        and ``value`` — the query_range API shape, uncollected."""
        if isinstance(expr, str):
            expr = ast.parse_promql(expr)
        evs = self._range_steps(start_ms, end_ms, step_ms)
        self._qstart, self._qend = evs[0], evs[-1]
        kind, df = self._eval(expr, self._steps(evs))
        if kind != "vector":
            raise PromQLEvalError("eval_range_df requires a vector expression")
        return df

    @classmethod
    def from_shards(
        cls, spark: SparkSession, shard_dirs: list[str], ts_divisor: int = 1000
    ) -> "PromQLEngine":
        """A query engine over EXISTING converted shards — the public
        instant/range query surface (``eval_instant_df`` /
        ``eval_range_df``) against ``convert()`` output, no promqltest
        ``load`` step involved.  ``ts_divisor`` converts the shard's
        stored timestamps to the engine's milliseconds (1000 for the
        µs-stored promqltest/convert shards, 1 for ms-native data).

        Opening the shards runs no Spark job (their metas record both
        table schemas).  Each selector then reads through its own
        ``ParquetQueryable.select`` bounded to the window its steps
        need: shards outside it are skipped, and time-bucket partition
        pruning, the ``s_ts`` filter and matcher pushdown all apply
        before the engine's temporal algebra.  A later ``load`` adds
        its block as one more shard."""
        eng = cls(spark, parquet_backed=True)
        eng._shards = [ShardDataset.read(spark, d) for d in shard_dirs]
        eng._ts_divisor = int(ts_divisor)
        return eng

    def _run(self, expr, evs: list[int]):
        """-> ("vector", [(labels, {ev: value})]) | ("scalar", {ev: value})
        | ("string", s).  The vector list preserves plan output order so
        eval_ordered can compare sequences."""
        if isinstance(expr, str):
            expr = ast.parse_promql(expr)
        self._qstart, self._qend = evs[0], evs[-1]  # for @ start()/end()
        kind, df = self._eval(expr, self._steps(evs))
        if kind == "string":
            return ("string", df)
        rows = df.collect()
        if kind == "scalar":
            return ("scalar", {r["_ev"]: r["value"] for r in rows})
        label_cols = [c for c in df.columns if c not in ("_ev", "value")]
        out: list[tuple[dict, dict]] = []
        index: dict = {}
        for r in rows:
            labels = {}
            for c in label_cols:
                v = r[c]
                if v is not None:
                    labels[c[len("l_"):]] = v
            key = tuple(sorted(labels.items()))
            if key not in index:
                index[key] = len(out)
                out.append((labels, {}))
            series_vals = out[index[key]][1]
            if r["_ev"] in series_vals:
                raise PromQLEvalError(
                    f"vector cannot contain metrics with the same labelset: {labels}"
                )
            series_vals[r["_ev"]] = r["value"]
        return ("vector", out)

    # ------------------------------------------------------- core dispatch

    def _steps(self, evs) -> _Steps:
        evs = tuple(int(e) for e in evs)
        return _Steps(local_frame(self.spark, [(e,) for e in evs], "_ev long"), evs)

    def _eval(self, node, steps: _Steps):
        if isinstance(node, ast.NumberLiteral):
            return ("scalar", steps.df.withColumn("value", F.lit(float(node.value))))
        if isinstance(node, ast.StringLiteral):
            return ("string", node.value)
        if isinstance(node, ast.VectorSelector):
            return ("vector", self._instant_select(node, steps))
        if isinstance(node, ast.MatrixSelector):
            raise PromQLEvalError("range vector used where instant vector expected")
        if isinstance(node, ast.Subquery):
            raise PromQLEvalError("subqueries are not supported by this engine")
        if isinstance(node, ast.Unary):
            kind, df = self._eval(node.expr, steps)
            if kind == "string":
                raise PromQLEvalError("unary on string")
            df = df.withColumn("value", -F.col("value"))
            if kind == "vector":
                df = self._drop_name(df)
            return (kind, df)
        if isinstance(node, ast.Binary):
            return self._binary(node, steps)
        if isinstance(node, ast.Aggregate):
            return self._aggregate(node, steps)
        if isinstance(node, ast.Call):
            return self._call(node, steps)
        raise PromQLEvalError(f"cannot evaluate {type(node).__name__}")

    # ---------------------------------------------------------- selectors

    def _base(self, sel: ast.VectorSelector, window) -> DataFrame:
        """The samples ``sel`` matches: label columns, ``ts`` (ms),
        ``value``, ``stale`` and the native-histogram columns.
        Shard-backed storage is read only inside ``window`` — ``(lo, hi]``
        ms; callers still apply their exact per-step bounds."""
        matchers = [Matcher(m.name, m.op, m.value) for m in sel.matchers]
        if sel.name is not None:
            matchers.append(Matcher("__name__", "=", sel.name))
        if self._shards is not None:
            return self._select_shards(matchers, window)
        if self._samples is None:
            return local_frame(self.spark, [], "ts long, value double, stale boolean")
        df = self._samples
        cols = df.columns
        pred = F.lit(True)
        for m in matchers:
            pred = pred & matcher_to_predicate(m, cols)
        return df.where(pred)

    def _select_shards(self, matchers: list[Matcher], window) -> DataFrame:
        """One ``ParquetQueryable.select`` over the shards whose time
        range meets ``window``, projected to the engine's sample columns.
        The label columns are the union over ALL the engine's shards
        (NULL-padded), so a grouping label stays addressable when the
        shards in the window lack it."""
        div = self._ts_divisor
        # ts truncates s_ts / div, so (lo, hi] ms lies inside this
        mint, maxt = window[0] * div, window[1] * div + div - 1
        shards = [s for s in self._shards if s.meta.mint_ms <= maxt and s.meta.maxt_ms >= mint]
        labels = list(dict.fromkeys(c for s in self._shards for c in sorted(s.label_cols)))
        if not shards:
            ddl = [f"`{c}` string" for c in labels] + [
                f"{c} {t}" for c, t in (("ts", "long"), ("value", "double"), ("stale", "boolean"), *_NH_SCHEMA)
            ]
            return local_frame(self.spark, [], ", ".join(ddl))
        sel = ParquetQueryable(shards).select(mint, maxt, matchers)
        have = set(sel.columns)

        def col(c: str, t: str):
            return F.col(c) if c in have else F.lit(None).cast(t).alias(c)

        stale = F.coalesce(F.col("stale"), F.lit(False)) if "stale" in have else F.lit(False)
        return sel.select(
            *[col(c, "string") for c in labels],
            (F.col(S.TS_COLUMN) / F.lit(div)).cast("long").alias("ts"),
            F.col(S.VALUE_COLUMN).alias("value"),
            stale.alias("stale"),
            *[col(c, t) for c, t in _NH_SCHEMA],
        )

    def _window(self, sel: ast.VectorSelector, steps: _Steps, range_ms: int):
        """``(lo, hi]`` ms holding every step's ``(eff - range_ms, eff]``."""
        if sel.at_ms is not None:
            first = last = self._resolve_at(sel.at_ms)
        else:
            first, last = min(steps.evs), max(steps.evs)
        off = int(sel.offset_ms or 0)
        return first - off - int(range_ms), last - off

    def _resolve_at(self, at) -> int:
        if at == "start":
            return int(self._qstart)
        if at == "end":
            return int(self._qend)
        return int(at)

    def _eff_ev(self, node):
        """The effective eval time of a selector or subquery ``node``:
        ``_ev``, or its fixed ``@`` time, minus its offset."""
        eff = (
            F.lit(self._resolve_at(node.at_ms))
            if node.at_ms is not None
            else F.col("_ev")
        )
        if node.offset_ms:
            eff = eff - F.lit(int(node.offset_ms))
        return eff

    def _window_join(self, points: DataFrame, node, steps: _Steps, range_ms: int) -> DataFrame:
        """``points`` (a ``ts`` column, ms) joined to every step whose
        left-open window ``(eff - range_ms, eff]`` holds them — the one
        broadcast range join of selectors and subqueries — with the
        window bounds as ``_start``/``_end`` (ms) for extrapolation
        math.  ``node`` carries the ``@``/``offset`` modifiers."""
        eff = self._eff_ev(node)
        cond = (F.col("ts") > eff - F.lit(range_ms)) & (F.col("ts") <= eff)
        j = points.join(F.broadcast(steps.df), on=cond, how="inner")
        return j.withColumn("_end", eff).withColumn("_start", F.col("_end") - F.lit(range_ms))

    def _instant_select(
        self,
        sel: ast.VectorSelector,
        steps: _Steps,
        value_expr: str = "value",
        with_hist: bool = False,
    ) -> DataFrame:
        """Latest non-stale sample per series within the left-open
        lookback window; ``value_expr='ts'`` yields timestamp() values;
        ``with_hist`` carries the native-histogram columns through (for
        the histogram_* function family)."""
        base = self._base(sel, self._window(sel, steps, LOOKBACK_MS))
        labels = [c for c in base.columns if c.startswith("l_")]
        j = self._window_join(base, sel, steps, LOOKBACK_MS)
        carried = [
            F.col("value").alias("v"),
            F.col("stale").alias("st"),
            F.col("ts").alias("t"),
        ] + ([F.col(c).alias(c) for c in _NH_COLS if c in j.columns] if with_hist else [])
        picked = j.groupBy("_ev", *labels).agg(
            F.max_by(F.struct(*carried), F.col("ts")).alias("_s")
        )
        val = (
            (F.col("_s.t").cast("double") / F.lit(1000.0))
            if value_expr == "ts"
            else F.col("_s.v")
        )
        extra = (
            [F.col(f"_s.{c}").alias(c) for c in _NH_COLS]
            if with_hist and all(c in j.columns for c in _NH_COLS)
            else []
        )
        return (
            picked.where(~F.col("_s.st"))
            .select("_ev", *labels, val.alias("value"), *extra)
        )

    def _range_frame(self, node: ast.MatrixSelector, steps: _Steps):
        """Non-stale samples in the left-open window (eff-r, eff] per
        step (see ``_window_join``)."""
        sel, rng = node.selector, int(node.range_ms)
        base = self._base(sel, self._window(sel, steps, rng)).where(~F.col("stale"))
        labels = [c for c in base.columns if c.startswith("l_")]
        return self._window_join(base, sel, steps, rng), labels, rng

    # ------------------------------------------------------------ binary

    def _scalar_join(self, vec: DataFrame, sc: DataFrame, alias: str) -> DataFrame:
        return vec.join(
            F.broadcast(sc.withColumnRenamed("value", alias)), on="_ev", how="inner"
        )

    def _drop_name(self, df: DataFrame) -> DataFrame:
        return df.drop(NAME_COL) if NAME_COL in df.columns else df

    def _binary(self, node: ast.Binary, steps: _Steps):
        op = node.op
        lk, ldf = self._eval(node.lhs, steps)
        rk, rdf = self._eval(node.rhs, steps)
        if "string" in (lk, rk):
            raise PromQLEvalError("binary op on string operand")
        is_cmp = op in ("==", "!=", "<", ">", "<=", ">=")
        is_set = op in ("and", "or", "unless")

        def apply(lc, rc):
            # the same IEEE-pinned op tables vector_binop uses
            if op in pv._ARITH:
                return pv._ARITH[op](lc, rc)
            return pv._CMP[op](lc, rc)

        if lk == "scalar" and rk == "scalar":
            if is_set:
                raise PromQLEvalError(f"set operator {op!r} not allowed on scalars")
            if is_cmp and not node.bool_modifier:
                raise PromQLEvalError("comparisons between scalars must use bool")
            j = self._scalar_join(ldf.withColumnRenamed("value", "_lv"), rdf, "_rv")
            res = apply(F.col("_lv"), F.col("_rv"))
            if is_cmp:
                res = F.when(res, F.lit(1.0)).otherwise(F.lit(0.0))
            return ("scalar", j.select("_ev", res.cast("double").alias("value")))

        if is_set:
            if lk != "vector" or rk != "vector":
                raise PromQLEvalError(f"set operator {op!r} requires vectors")
            on = ["_ev"] + _mangle(node.on) if node.on is not None else None
            ignoring = _mangle(node.ignoring or []) + [NAME_COL] if node.on is None else None
            return ("vector", pv.vector_setop(ldf, rdf, op, on=on, ignoring=ignoring))

        if lk == "vector" and rk == "vector":
            on = ["_ev"] + _mangle(node.on) if node.on is not None else None
            ignoring = (
                _mangle(node.ignoring or []) + [NAME_COL] if node.on is None else None
            )
            carry = _mangle(node.carry)
            out = pv.vector_binop(
                ldf,
                rdf,
                op,
                on=on,
                ignoring=ignoring,
                group=node.group,
                carry=carry,
                bool_modifier=node.bool_modifier,
                # upstream one-to-one rejects duplicates on BOTH sides;
                # the acceptance engine pays the extra window for parity
                strict_many=node.group == "one",
            )
            if (not is_cmp) or node.bool_modifier:
                out = self._drop_name(out)
            return ("vector", out)

        # scalar <op> vector / vector <op> scalar
        if lk == "vector":
            vec, sc, vec_left = ldf, rdf, True
        else:
            vec, sc, vec_left = rdf, ldf, False
        j = self._scalar_join(vec, sc, "_sc")
        lv = F.col("value") if vec_left else F.col("_sc")
        rv = F.col("_sc") if vec_left else F.col("value")
        labels = [c for c in vec.columns if c not in ("_ev", "value")]
        if is_cmp:
            cond = apply(lv, rv)
            if node.bool_modifier:
                out = j.select(
                    "_ev", *labels,
                    F.when(cond, F.lit(1.0)).otherwise(F.lit(0.0)).alias("value"),
                )
                return ("vector", self._drop_name(out))
            out = j.where(cond).select("_ev", *labels, "value")
            return ("vector", out)
        out = j.select(
            "_ev", *labels, apply(lv, rv).cast("double").alias("value")
        )
        return ("vector", self._drop_name(out))

    # -------------------------------------------------------- aggregation

    def _aggregate(self, node: ast.Aggregate, steps: _Steps):
        kind, df = self._eval(node.expr, steps)
        if kind != "vector":
            raise PromQLEvalError(f"aggregation {node.op} requires an instant vector")
        op = node.op

        def static_param():
            p = node.param
            if isinstance(p, ast.NumberLiteral):
                return float(p.value)
            if isinstance(p, ast.Unary) and isinstance(p.expr, ast.NumberLiteral):
                return -float(p.expr.value) if p.op == "-" else float(p.expr.value)
            raise PromQLEvalError(f"{op} parameter must be a number literal here")

        if node.by is not None:
            by = ["_ev"] + _mangle(node.by)
            without = None
        elif node.without is not None:
            by = None
            without = list(dict.fromkeys(_mangle(node.without) + [NAME_COL]))
        else:
            by = ["_ev"]
            without = None

        if op in ("sum", "min", "max", "avg", "count", "group", "stddev", "stdvar"):
            return ("vector", pv.agg_vector(df, op, by=by, without=without))
        if op == "quantile":
            return (
                "vector",
                pv.agg_vector(df, "quantile", by=by, without=without, q=static_param()),
            )
        if op in ("topk", "bottomk"):
            k = int(static_param())
            out = pv.topk(df, k, by=by, without=without, bottom=op == "bottomk")
            return ("vector", out)
        if op == "count_values":
            p = node.param
            if not isinstance(p, ast.StringLiteral):
                raise PromQLEvalError("count_values needs a string label")
            out = pv.count_values(
                self._drop_name(df), label_to_column(p.value), by=by, without=without
            )
            return ("vector", out)
        if op == "limitk":
            # experimental upstream: k arbitrary series per group.
            # Upstream's pick is unspecified; pinned on label order for
            # reproducibility (same discipline as topk tie-breaks).
            k = int(static_param())
            # a by() label with no column groups everything together,
            # same existence filter as promql_vec._group_cols
            keys = (
                [c for c in by if c in df.columns] if by is not None else ["_ev"]
            )
            if without is not None:
                keys = [
                    c for c in df.columns
                    if (c == "_ev" or c.startswith("l_")) and c not in without
                ]
            others = sorted(
                c for c in df.columns if c not in ("value", *keys)
            )
            w = Window.partitionBy(*keys).orderBy(
                *[F.asc_nulls_first(c) for c in others] or [F.lit(1)]
            )
            out = (
                df.withColumn("_rk", F.row_number().over(w))
                .where(F.col("_rk") <= k)
                .drop("_rk")
            )
            return ("vector", out)
        if op == "limit_ratio":
            # experimental upstream: deterministic pseudo-random series
            # sample.  Upstream hashes the labelset to [0,1) and keeps
            # f < r (r >= 0) or f >= 1+r (r < 0), so limit_ratio(r) and
            # limit_ratio(r-1) PARTITION the input — that contract (and
            # determinism across partitionings/reruns) is what we
            # reproduce; the hash itself is this engine's stable series
            # hash, not upstream's xxhash, so WHICH series land in each
            # part differs from upstream (documented — same stance as
            # topk/limitk tie-breaks).  |r| > 1 clamps to keep-all, as
            # upstream warns-and-clamps.
            from parquet_common_spark.schema import series_hash_column

            r = float(static_param())
            if math.isnan(r):
                # upstream errors on a NaN ratio (promql/engine.go
                # "Ratio value is NaN") rather than clamping
                raise PromQLEvalError("Ratio value is NaN")
            r = max(-1.0, min(1.0, r))
            label_cols = [c for c in df.columns if c.startswith("l_")]
            frac = (
                F.pmod(series_hash_column(label_cols), F.lit(1_000_003))
            ).cast("double") / F.lit(1_000_003.0)
            if r >= 0:
                keep = frac < F.lit(r)
            else:
                keep = frac >= F.lit(1.0 + r)
            return ("vector", df.where(keep))
        raise PromQLEvalError(f"unknown aggregation {op!r}")

    # ----------------------------------------------------------- functions

    def _call(self, node: ast.Call, steps: _Steps):
        fn = node.func
        h = getattr(self, f"_fn_{fn}", None)
        if h is not None:
            return h(node.args, steps)
        if fn in _SIMPLE_MATH:
            return self._simple_math(fn, node.args, steps)
        if fn in _OVER_TIME:
            return self._over_time(fn, node.args, steps)
        raise PromQLEvalError(f"unsupported function {fn!r}")

    # -- shared helpers

    def _vec_arg(self, arg, steps) -> DataFrame:
        kind, df = self._eval(arg, steps)
        if kind != "vector":
            raise PromQLEvalError("expected an instant vector argument")
        return df

    def _matrix_arg(self, arg, steps):
        if isinstance(arg, ast.Subquery):
            return self._subquery_frame(arg, steps)
        if not isinstance(arg, ast.MatrixSelector):
            raise PromQLEvalError("expected a range vector argument")
        return self._range_frame(arg, steps)

    DEFAULT_SUBQUERY_STEP_MS = 60_000  # promqltest's default interval

    def _subquery_frame(self, node: ast.Subquery, steps: _Steps):
        """``expr[range:step]`` (promql/engine.go evalSubquery): the inner
        expression evaluated on an absolute step grid (multiples of the
        step since epoch), serving the points in (T-range, T] as a range
        vector.  ONE inner plan evaluates the union of every grid point
        all outer steps need; the outer association is a broadcast range
        join on the tiny step frames."""
        step_ms = node.step_ms or self.DEFAULT_SUBQUERY_STEP_MS
        rng = int(node.range_ms)
        at = self._resolve_at(node.at_ms) if node.at_ms is not None else None
        grid: dict[int, None] = {}
        for t in steps.evs:
            eff = at if at is not None else t
            eff -= node.offset_ms
            # grid points are absolute multiples of step; (eff-rng, eff]
            first = ((eff - rng) // step_ms + 1) * step_ms
            p = first
            while p <= eff:
                grid[p] = None
                p += step_ms
        kind, inner = self._eval(node.expr, self._steps(sorted(grid) or [0]))
        # a scalar subquery is a labelless vector
        if kind not in ("vector", "scalar"):
            raise PromQLEvalError("subquery requires a vector expression")
        labels = [c for c in inner.columns if c not in ("_ev", "value")]
        pts = inner.withColumnRenamed("_ev", "ts")
        return self._window_join(pts, node, steps, rng), labels, rng

    def _scalar_param(self, arg, steps) -> DataFrame:
        kind, df = self._eval(arg, steps)
        if kind != "scalar":
            raise PromQLEvalError("expected a scalar argument")
        return df

    def _simple_math(self, fn, args, steps):
        if len(args) != 1:
            raise PromQLEvalError(f"{fn} takes one argument")
        df = self._vec_arg(args[0], steps)
        out = df.withColumn("value", _SIMPLE_MATH[fn](F.col("value")))
        return ("vector", self._drop_name(out))

    # -- instant-vector functions

    def _fn_clamp(self, args, steps):
        df = self._vec_arg(args[0], steps)
        lo = self._scalar_param(args[1], steps)
        hi = self._scalar_param(args[2], steps)
        j = self._scalar_join(self._scalar_join(df, lo, "_lo"), hi, "_hi")
        out = (
            # Go: NaN > x is false, so a NaN bound never triggers the
            # min>max empty-result rule; Spark orders NaN largest and
            # would wrongly drop the rows on `_lo > _hi`
            j.where(
                F.isnan(F.col("_lo"))
                | F.isnan(F.col("_hi"))
                | ~(F.col("_lo") > F.col("_hi"))
            )
            .withColumn(
                "value",
                # Go math.Max/Min propagate NaN bounds (a NaN bound is
                # NOT min>max, so the series survives — with value NaN);
                # Spark's greatest/least order NaN as largest instead
                F.when(
                    F.isnan(F.col("value"))
                    | F.isnan(F.col("_lo"))
                    | F.isnan(F.col("_hi")),
                    F.lit(float("nan")),
                ).otherwise(
                    F.least(F.greatest(F.col("value"), F.col("_lo")), F.col("_hi"))
                ),
            )
            .drop("_lo", "_hi")
        )
        return ("vector", self._drop_name(out))

    def _fn_clamp_min(self, args, steps):
        df = self._vec_arg(args[0], steps)
        lo = self._scalar_param(args[1], steps)
        j = self._scalar_join(df, lo, "_lo")
        out = j.withColumn(
            "value",
            F.when(F.isnan(F.col("_lo")), F.lit(float("nan"))).otherwise(
                F.greatest(F.col("value"), F.col("_lo"))
            ),
        ).drop("_lo")
        return ("vector", self._drop_name(out))

    def _fn_clamp_max(self, args, steps):
        df = self._vec_arg(args[0], steps)
        hi = self._scalar_param(args[1], steps)
        j = self._scalar_join(df, hi, "_hi")
        out = j.withColumn(
            "value",
            # Go math.Min propagates NaN from EITHER side; Spark least()
            # orders NaN largest, so least(NaN, hi) would wrongly keep hi
            # (differential-probe-caught on a NaN sample)
            F.when(
                F.isnan(F.col("value")) | F.isnan(F.col("_hi")), F.lit(float("nan"))
            ).otherwise(F.least(F.col("value"), F.col("_hi"))),
        ).drop("_hi")
        return ("vector", self._drop_name(out))

    def _fn_round(self, args, steps):
        df = self._vec_arg(args[0], steps)
        if len(args) > 1:
            near = self._scalar_param(args[1], steps)
            j = self._scalar_join(df, near, "_n")
        else:
            j = df.withColumn("_n", F.lit(1.0))
        out = j.withColumn(
            "value",
            # to_nearest of 0 (v/0 -> ±Inf, ±Inf*0 -> NaN in Go) or NaN
            # makes every value NaN; ANSI Spark would raise on the
            # division instead
            F.when(
                (F.col("_n") == 0)
                | F.isnan(F.col("_n"))
                | F.isnan(F.col("value")),
                F.lit(float("nan")),
            )
            .when(F.abs(F.col("value")) == float("inf"), F.col("value"))
            .otherwise(
                F.floor(F.col("value") / F.col("_n") + F.lit(0.5)) * F.col("_n")
            ),
        ).drop("_n")
        return ("vector", self._drop_name(out))

    def _fn_scalar(self, args, steps):
        df = self._vec_arg(args[0], steps)
        agg = df.groupBy("_ev").agg(
            F.count(F.lit(1)).alias("_n"), F.max("value").alias("_v")
        )
        out = steps.df.join(agg, on="_ev", how="left").select(
            "_ev",
            F.when(F.col("_n") == 1, F.col("_v"))
            .otherwise(F.lit(float("nan")))
            .alias("value"),
        )
        return ("scalar", out)

    def _fn_vector(self, args, steps):
        sc = self._scalar_param(args[0], steps)
        return ("vector", sc.select("_ev", "value"))

    def _fn_time(self, args, steps):
        return (
            "scalar",
            steps.df.select(
                "_ev", (F.col("_ev").cast("double") / F.lit(1000.0)).alias("value")
            ),
        )

    def _fn_pi(self, args, steps):
        return ("scalar", steps.df.withColumn("value", F.lit(math.pi)))

    def _fn_timestamp(self, args, steps):
        if isinstance(args[0], ast.VectorSelector):
            return ("vector", self._drop_name(
                self._instant_select(args[0], steps, value_expr="ts")
            ))
        df = self._vec_arg(args[0], steps)
        out = df.withColumn("value", F.col("_ev").cast("double") / F.lit(1000.0))
        return ("vector", self._drop_name(out))

    def _sort(self, args, steps, desc: bool):
        """sort/sort_desc: order by value (the collected row order is
        the result order, so the orderBy must be on the returned df)."""
        df = self._vec_arg(args[0], steps)
        labels = sorted(c for c in df.columns if c not in ("_ev", "value"))
        lead = F.desc("value") if desc else F.asc("value")
        # upstream funcSort/funcSortDesc: NaN sorts to the bottom in BOTH
        # directions (promql/functions.go), whereas Spark orders NaN as
        # the largest double (first under desc) — force NaN last.
        nan_last = F.asc(F.isnan(F.col("value")))
        return (
            "vector",
            df.orderBy(
                F.asc("_ev"), nan_last, lead, *[F.asc_nulls_first(c) for c in labels]
            ),
        )

    def _fn_sort(self, args, steps):
        return self._sort(args, steps, False)

    def _fn_sort_desc(self, args, steps):
        return self._sort(args, steps, True)

    def _sort_by_label(self, args, steps, desc: bool):
        """sort_by_label/sort_by_label_desc (upstream experimental):
        order by the given label values (absent == ""), remaining
        labels as tie-break."""
        df = self._vec_arg(args[0], steps)
        keys = [label_to_column(self._string(a)) for a in args[1:]]
        rest = sorted(
            c for c in df.columns if c not in ("_ev", "value") and c not in keys
        )

        def k(c):
            col = F.coalesce(F.col(c), F.lit("")) if c in df.columns else F.lit("")
            return col.desc() if desc else col.asc()

        return (
            "vector",
            df.orderBy(F.asc("_ev"), *[k(c) for c in keys], *[k(c) for c in rest]),
        )

    def _fn_sort_by_label(self, args, steps):
        return self._sort_by_label(args, steps, False)

    def _fn_sort_by_label_desc(self, args, steps):
        return self._sort_by_label(args, steps, True)

    def _fn_label_replace(self, args, steps):
        df = self._vec_arg(args[0], steps)
        dst, repl, src, regex = (self._string(a) for a in args[1:5])
        out = pv.label_replace(
            df, label_to_column(dst), repl, label_to_column(src), regex
        )
        return ("vector", out)

    def _fn_label_join(self, args, steps):
        df = self._vec_arg(args[0], steps)
        dst = self._string(args[1])
        sep = self._string(args[2])
        srcs = [label_to_column(self._string(a)) for a in args[3:]]
        out = pv.label_join(df, label_to_column(dst), sep, *srcs)
        return ("vector", out)

    def _string(self, arg) -> str:
        if not isinstance(arg, ast.StringLiteral):
            raise PromQLEvalError("expected a string literal argument")
        return arg.value

    def _fn_absent(self, args, steps):
        kind, df = self._eval(args[0], steps)
        if kind != "vector":
            raise PromQLEvalError("absent() requires an instant vector")
        present = df.select("_ev").distinct()
        out = steps.df.join(present, on="_ev", how="left_anti")
        return ("vector", self._with_absent_labels(out, args[0]))

    def _fn_absent_over_time(self, args, steps):
        rdf, labels, _ = self._matrix_arg(args[0], steps)
        present = rdf.select("_ev").distinct()
        out = steps.df.join(present, on="_ev", how="left_anti")
        # _with_absent_labels unwraps MatrixSelector itself; a Subquery
        # argument contributes no inferable labels (as upstream)
        return ("vector", self._with_absent_labels(out, args[0]))

    def _with_absent_labels(self, evs: DataFrame, node) -> DataFrame:
        """Label inference for absent()/absent_over_time: equality
        matchers of a direct selector, excluding __name__
        (promql/functions.go createLabelsForAbsentFunction)."""
        out = evs.withColumn("value", F.lit(1.0))
        sel = node
        if isinstance(sel, ast.MatrixSelector):
            sel = sel.selector
        if isinstance(sel, ast.VectorSelector):
            seen: dict[str, str | None] = {}
            for m in sel.matchers:
                if m.name == "__name__":
                    continue
                if m.op == "=" and m.value != "":
                    seen[m.name] = m.value if m.name not in seen else None
            for name, val in seen.items():
                if val is not None:
                    out = out.withColumn(label_to_column(name), F.lit(val))
        return out

    # -- native-histogram functions (sparse exponential model; the
    #    Column kernels live in functions/native_histograms.py)

    def _norm_hist(self, df: DataFrame) -> DataFrame:
        """Uniform float-histogram shape: double scalars, double count
        arrays — so stored integer histograms and derived float
        histograms (rate()/sum()) share one representation."""
        return df.withColumns(
            {
                "nh_zero_count": F.col("nh_zero_count").cast("double"),
                "nh_count": F.col("nh_count").cast("double"),
                "nh_sum": F.col("nh_sum").cast("double"),
                "nh_pos_counts": F.col("nh_pos_counts").cast("array<double>"),
                "nh_neg_counts": F.col("nh_neg_counts").cast("array<double>"),
            }
        )

    @staticmethod
    def _no_hist(df: DataFrame, keys) -> DataFrame:
        """An empty histogram vector over ``df``'s ``keys`` columns (the
        storage holds no histogram columns)."""
        return df.where(F.lit(False)).select(*keys).withColumns(
            {c: F.lit(None).cast(t) for c, t in _NH_SCHEMA}
        )

    def _hist_vec(self, arg, steps) -> DataFrame:
        """A native-histogram instant vector: selector, sum()/avg()
        aggregation, rate()/increase() over a histogram range, or
        arithmetic (histogram ± histogram, histogram ×÷ scalar)."""
        if isinstance(arg, ast.Aggregate) and arg.op in ("sum", "avg"):
            return self._hist_sum(arg, steps, mean=arg.op == "avg")
        if isinstance(arg, ast.Call) and arg.func in ("rate", "increase", "delta"):
            return self._hist_rate(arg, steps, mode=arg.func)
        if isinstance(arg, ast.Call) and arg.func in (
            "sum_over_time", "avg_over_time", "last_over_time"
        ):
            return self._hist_over_time(arg, steps)
        if isinstance(arg, ast.Binary) and arg.op in ("+", "-", "*", "/"):
            return self._hist_binary(arg, steps)
        if not isinstance(arg, ast.VectorSelector):
            raise PromQLEvalError(
                "histogram functions need a selector, sum()/avg(), "
                "rate()/increase(), or histogram arithmetic here"
            )
        df = self._instant_select(arg, steps, with_hist=True)
        if "nh_schema" not in df.columns:
            return self._no_hist(df, df.columns)
        return self._norm_hist(df.where(F.col("nh_schema").isNotNull()))

    def _hist_sum(self, node: ast.Aggregate, steps, mean: bool = False) -> DataFrame:
        """sum()/avg() (by/without) over a native-histogram vector
        (upstream promql/engine.go histogram aggregation; see
        ``_hist_merge``)."""
        inner = self._hist_vec(node.expr, steps)
        if node.by is not None:
            keys = ["_ev"] + [c for c in _mangle(node.by) if c in inner.columns]
        elif node.without is not None:
            drop = set(_mangle(node.without)) | {NAME_COL}
            keys = [
                c for c in inner.columns
                if (c == "_ev" or c.startswith("l_")) and c not in drop
            ]
        else:
            keys = ["_ev"]
        return self._hist_merge(inner, keys, mean)

    def _hist_merge(self, df: DataFrame, keys, mean: bool) -> DataFrame:
        """Bucket-wise sum of each ``keys`` group's histograms; ``mean``
        scales it by 1/n.  Mixed bucketing schemas within a group
        downscale to the group's COARSEST schema before the merge
        (``_merge_buckets``), matching upstream's histogram addition."""
        staged = df.select(
            *keys,
            "nh_schema", "nh_zero_count", "nh_count", "nh_sum",
            "nh_custom_values",
            _cv_key(F.col("nh_custom_values")).alias("_cvk"),
            _pairs("pos").alias("_pp"),
            _pairs("neg").alias("_np"),
        )
        agg = staged.groupBy(*keys).agg(
            F.min("nh_schema").alias("_smin"),
            F.sum("nh_zero_count").alias("nh_zero_count"),
            F.sum("nh_count").alias("_count"),
            F.sum("nh_sum").alias("nh_sum"),
            F.flatten(F.collect_list("_pp")).alias("_pflat"),
            F.flatten(F.collect_list("_np")).alias("_nflat"),
            F.count(F.lit(1)).alias("_gn"),
            # custom-bucket compatibility: a group mixing exponential and
            # custom histograms, or custom histograms with different
            # bounds, cannot merge — upstream drops the group with a
            # warning annotation (histograms are only addable when their
            # custom bounds match)
            F.count_distinct(F.col("_cvk")).alias("_ncv"),
            F.first("nh_custom_values").alias("nh_custom_values"),
        )
        return _nh_out(
            agg.where(F.col("_ncv") == 1),
            keys,
            F.col("_smin"),
            F.col("nh_zero_count"),
            F.col("_count"),
            F.col("nh_sum"),
            _merge_buckets(F.col("_pflat")),
            _merge_buckets(F.col("_nflat")),
            F.col("nh_custom_values"),
            scale=(lambda c: c.cast("double") / F.col("_gn").cast("double")) if mean else None,
        )

    def _extrapolation(self, clamp=None):
        """promql._extrapolate over a window aggregate's ``_n``,
        ``_first_ts``/``_last_ts`` and ``_start``/``_end`` (ms)."""
        return promql._extrapolate(
            F.col("_first_ts"), F.col("_last_ts"), F.col("_start"), F.col("_end"),
            F.col("_n"), 1e3, clamp,
        )

    def _hist_rate(self, node: ast.Call, steps, mode: str) -> DataFrame:
        """rate()/increase()/delta() over a native-histogram range
        vector.  delta() is the gauge form: last-minus-first with the
        same boundary extrapolation but NO counter-reset compensation
        (upstream funcDelta's isCounter=false histogram branch).
        rate()/increase():
        last-minus-first per bucket PLUS counter-reset compensation
        (promql/functions.go histogramRate: each pre-reset histogram is
        ADDED back, a reset being a drop in total or zero-bucket count),
        scaled by the same boundary extrapolation as the float path
        (the histogram branch applies NO counter zero clamp).  A
        bucketing-schema change inside the window downscales every
        involved histogram to the window's COARSEST schema before
        differencing (upstream tracks minSchema across ALL in-window
        points and CopyToSchema's onto it).  Bucket-level-only resets
        (a bucket dropping while counts hold — only possible with NaN
        observations) are not detected — documented slice."""
        rdf, labels, range_ms = self._matrix_arg(node.args[0], steps)
        if "nh_schema" not in rdf.columns:
            return self._no_hist(rdf, ["_ev", *labels])
        rdf = rdf.where(F.col("nh_schema").isNotNull())
        pick = F.struct(
            "nh_schema", "nh_zero_count", "nh_count", "nh_sum",
            "nh_pos_idx", "nh_pos_counts", "nh_neg_idx", "nh_neg_counts",
            "nh_custom_values",
        )
        wseries = Window.partitionBy("_ev", *labels).orderBy("ts")
        _pair_t = "array<struct<idx:int,cnt:double,sch:int>>"

        def prev_pairs(which: str):
            return F.when(
                F.col("_reset"), _pairs(which, "_prevh", 1.0)
            ).otherwise(F.array().cast(_pair_t))

        staged = rdf.withColumn("_prevh", F.lag(pick).over(wseries))
        staged = staged.withColumn(
            "_reset",
            F.lit(False)
            if mode == "delta"
            else (
                F.col("_prevh").isNotNull()
                & (
                    (F.col("_prevh.nh_count") > F.col("nh_count"))
                    | (F.col("_prevh.nh_zero_count") > F.col("nh_zero_count"))
                )
            ),
        )
        staged = staged.withColumn("_comp_pp", prev_pairs("pos")).withColumn(
            "_comp_np", prev_pairs("neg")
        )

        def comp_scalar(field: str):
            return F.sum(
                F.when(
                    F.col("_reset"), F.col(f"_prevh.{field}").cast("double")
                ).otherwise(F.lit(0.0))
            )

        agg = staged.groupBy("_ev", *labels).agg(
            F.count(F.lit(1)).alias("_n"),
            F.min_by(pick, "ts").alias("_f"),
            F.max_by(pick, "ts").alias("_l"),
            F.min("ts").alias("_first_ts"),
            F.max("ts").alias("_last_ts"),
            F.first("_start").alias("_start"),
            F.first("_end").alias("_end"),
            comp_scalar("nh_count").alias("_comp_count"),
            comp_scalar("nh_sum").alias("_comp_sum"),
            comp_scalar("nh_zero_count").alias("_comp_zero"),
            F.flatten(F.collect_list("_comp_pp")).alias("_comp_pp"),
            F.flatten(F.collect_list("_comp_np")).alias("_comp_np"),
            F.min("nh_schema").alias("_smin"),
            # a custom-bounds change (or an exponential↔custom switch)
            # inside the window makes the difference undefined — upstream
            # drops the point with an incompatible-bounds warning
            F.count_distinct(_cv_key(F.col("nh_custom_values"))).alias("_ncv"),
        )
        interval, sampled = self._extrapolation()
        factor = interval / sampled
        if mode == "rate":
            factor = factor / F.lit(range_ms / 1e3)
        ok = (F.col("_n") >= 2) & (sampled > 0) & (F.col("_ncv") == 1)

        def diff(which: str):
            # last − first + every pre-reset histogram (already positive)
            return _merge_buckets(
                F.concat(
                    _pairs(which, "_l", 1.0),
                    _pairs(which, "_f", -1.0),
                    F.col(f"_comp_{which[:1]}p"),
                )
            )

        out = _nh_out(
            agg.where(ok),
            ["_ev", *labels],
            F.col("_smin"),
            F.col("_l.nh_zero_count").cast("double")
            - F.col("_f.nh_zero_count").cast("double")
            + F.col("_comp_zero"),
            F.col("_l.nh_count").cast("double")
            - F.col("_f.nh_count").cast("double")
            + F.col("_comp_count"),
            F.col("_l.nh_sum") - F.col("_f.nh_sum") + F.col("_comp_sum"),
            diff("pos"),
            diff("neg"),
            F.col("_l.nh_custom_values"),
            scale=lambda c: (c * factor).cast("double"),
        )
        return self._drop_name(out)

    def _hist_over_time(self, node: ast.Call, steps) -> DataFrame:
        """sum_over_time()/avg_over_time()/last_over_time() over a
        native-histogram range vector (upstream funcSumOverTime /
        funcAvgOverTime / funcLastOverTime histogram branches):
        ``_hist_merge`` of every in-window histogram; last picks the
        newest sample and (alone among the three) KEEPS the metric
        name."""
        fn = node.func
        rdf, labels, _ = self._matrix_arg(node.args[0], steps)
        if "nh_schema" not in rdf.columns:
            return self._no_hist(rdf, ["_ev", *labels])
        rdf = self._norm_hist(rdf.where(F.col("nh_schema").isNotNull()))
        if fn == "last_over_time":
            pick = F.struct(*[F.col(c) for c in _NH_COLS])
            agg = rdf.groupBy("_ev", *labels).agg(F.max_by(pick, "ts").alias("_h"))
            return agg.select(
                "_ev", *labels, *[F.col(f"_h.{c}").alias(c) for c in _NH_COLS]
            )
        return self._drop_name(
            self._hist_merge(rdf, ["_ev", *labels], mean=fn == "avg_over_time")
        )

    @staticmethod
    def _hist_match_keep(node: ast.Binary, l_labs, r_labs):
        """(match, keep) label columns for one-to-one histogram vector
        matching (engine.go resultMetric rules): match on on() labels,
        else the union of both sides' labels minus ignoring(); result
        labels are the on() labels when on() is given, else the
        expression-LHS labels minus ignoring.  ``l_labs`` must be the
        expression LHS side's label columns."""
        if node.group != "one":
            raise PromQLEvalError(
                "histogram vector matching supports one-to-one only "
                "(group_left/group_right with histogram values is "
                "outside this slice)"
            )
        if node.on is not None:
            match = list(dict.fromkeys(_mangle(node.on)))
            keep = list(match)
        else:
            ign = set(_mangle(node.ignoring or []))
            match = [c for c in dict.fromkeys([*l_labs, *r_labs]) if c not in ign]
            keep = [c for c in l_labs if c not in ign]
        return match, keep

    def _match_join(self, node: ast.Binary, left, lpack, right, rpack, left_is_lhs: bool = True):
        """One-to-one vector matching (``_hist_match_keep``) of ``left``
        and ``right``, each carried as one ``(name, column)`` pack ->
        (frame of ``_ev``, the result labels and both packs; the result
        labels).  ``left_is_lhs``: whether ``left`` is the expression's
        LHS, whose labels the result keeps."""
        l_labs = [c for c in left.columns if c.startswith("l_")]
        r_labs = [c for c in right.columns if c.startswith("l_")]
        match, keep = self._hist_match_keep(
            node, *((l_labs, r_labs) if left_is_lhs else (r_labs, l_labs))
        )
        for c in match:
            if c not in left.columns:
                left = left.withColumn(c, F.lit(None).cast("string"))
            if c not in right.columns:
                right = right.withColumn(c, F.lit(None).cast("string"))
        L = left.select("_ev", *match, lpack[1].alias(lpack[0])).alias("L")
        R = right.select("_ev", *match, rpack[1].alias(rpack[0])).alias("R")
        cond = F.col("L._ev") == F.col("R._ev")
        for c in match:
            cond = cond & F.col(f"L.{c}").eqNullSafe(F.col(f"R.{c}"))
        j = L.join(R, cond, "inner").select(
            F.col("L._ev").alias("_ev"),
            *[F.col(f"L.{c}").alias(c) for c in keep],
            lpack[0],
            rpack[0],
        )
        return j, keep

    def _hist_binary(self, node: ast.Binary, steps) -> DataFrame:
        """Histogram arithmetic (upstream promql/engine.go
        VectorscalarBinop / VectorVectorBinop histogram branches):
        ``h ± h`` and ``h ×÷ float-vector`` match one-to-one with
        on()/ignoring() support (metric name dropped; result labels per
        engine.go resultMetric — the on() labels, else the LHS labels
        minus ignoring); ``h ± h`` merges bucket-wise after downscaling
        both sides to the pair's coarser schema; ``h × s`` / ``h ÷ s``
        scale every component.  Scalar ÷ histogram and
        group_left/group_right with histogram values are outside this
        slice and raise."""
        op = node.op
        pack = F.struct(*[F.col(c) for c in _NH_COLS])
        if op in ("*", "/"):
            def by(col: str):
                factor = (
                    F.col(col) if op == "*" else F.lit(1.0) / F.col(col)
                ).cast("double")
                return lambda c: c.cast("double") * factor

            # the scalar side is whichever subtree evaluates to scalar
            # kind; histogram / anything-but-scalar is invalid upstream
            def _try_scalar(sub):
                try:
                    kind, df = self._eval(sub, steps)
                except PromQLEvalError:
                    return None
                return df if kind == "scalar" else None

            sdf = _try_scalar(node.rhs)
            hside = node.lhs
            if sdf is None and op == "*":
                sdf = _try_scalar(node.lhs)
                hside = node.rhs
            if sdf is not None:
                h = self._hist_vec(hside, steps)
                j = h.join(
                    F.broadcast(sdf.withColumnRenamed("value", "_s")), on="_ev"
                )
                keys = [c for c in h.columns if c not in _NH_COLS]
                return self._drop_name(_nh_out(j, keys, *_nh_of(), scale=by("_s")))

            # float-VECTOR matching (upstream VectorVectorBinop's
            # histogram×float branch): exactly one side is
            # histogram-capable; match one-to-one on the full labelset
            # (names dropped) and scale by the float sample
            lcap = self._hist_capable(node.lhs)
            rcap = self._hist_capable(node.rhs)
            if op == "/":
                if not lcap:
                    raise PromQLEvalError(
                        "histogram division needs the histogram on the left"
                    )
                hside, fside = node.lhs, node.rhs
            elif lcap == rcap:
                raise PromQLEvalError(
                    f"histogram {op}: exactly one operand must be "
                    "histogram-valued"
                )
            else:
                hside, fside = (
                    (node.lhs, node.rhs) if lcap else (node.rhs, node.lhs)
                )
            fk, fdf = self._eval(fside, steps)
            if fk != "vector":
                raise PromQLEvalError(f"histogram {op} needs a vector operand")
            h = self._drop_name(self._norm_hist(self._hist_vec(hside, steps)))
            f = self._drop_name(fdf)
            j, keep = self._match_join(
                node, h, ("_h", pack), f, ("_v", F.col("value")),
                left_is_lhs=hside is node.lhs,
            )
            return _nh_out(j, ["_ev", *keep], *_nh_of("_h"), scale=by("_v"))

        l = self._drop_name(self._norm_hist(self._hist_vec(node.lhs, steps)))
        r = self._drop_name(self._norm_hist(self._hist_vec(node.rhs, steps)))
        j, keep = self._match_join(node, l, ("_lh", pack), r, ("_rh", pack))
        j = j.withColumn(
            "_smin", F.least(F.col("_lh.nh_schema"), F.col("_rh.nh_schema"))
        )
        # custom-bucket compatibility: both sides must agree on bounds
        # (both exponential, or both custom with identical custom_values)
        # — upstream drops incompatible pairs with a warning annotation
        j = j.where(
            _cv_key(F.col("_lh.nh_custom_values")).eqNullSafe(
                _cv_key(F.col("_rh.nh_custom_values"))
            )
        )
        sgn = 1.0 if op == "+" else -1.0

        def merged(which: str):
            return _merge_buckets(
                F.concat(_pairs(which, "_lh", 1.0), _pairs(which, "_rh", sgn))
            )

        comb = lambda f: (  # noqa: E731
            F.col(f"_lh.{f}").cast("double")
            + F.col(f"_rh.{f}").cast("double") * F.lit(sgn)
        )
        return _nh_out(
            j,
            ["_ev", *keep],
            F.col("_smin"),
            comb("nh_zero_count"),
            comb("nh_count"),
            comb("nh_sum"),
            merged("pos"),
            merged("neg"),
            F.col("_lh.nh_custom_values"),
        )

    def _hist_scalar_fn(self, args, steps, value: F.Column | None = None, fn=None):
        df = self._hist_vec(args[-1], steps)
        labels = [c for c in df.columns if c.startswith("l_") and c != NAME_COL]
        val = fn(df) if fn is not None else value
        return (
            "vector",
            df.select("_ev", *labels, val.cast("double").alias("value")).where(
                F.col("value").isNotNull()
            ),
        )

    def _fn_histogram_count(self, args, steps):
        from parquet_common_spark.functions.native_histograms import histogram_count

        return self._hist_scalar_fn(args, steps, fn=lambda df: histogram_count(F.col("nh_count")))

    def _fn_histogram_sum(self, args, steps):
        from parquet_common_spark.functions.native_histograms import histogram_sum

        return self._hist_scalar_fn(args, steps, fn=lambda df: histogram_sum(F.col("nh_sum")))

    def _fn_histogram_avg(self, args, steps):
        from parquet_common_spark.functions.native_histograms import histogram_avg

        return self._hist_scalar_fn(
            args, steps, fn=lambda df: histogram_avg(F.col("nh_sum"), F.col("nh_count"))
        )

    def _hist_moment_cols(self):
        return [
            F.col("nh_schema"),
            F.col("nh_zero_count"),
            F.col("nh_count"),
            F.col("nh_sum"),
            F.col("nh_pos_idx"),
            F.col("nh_pos_counts"),
            F.col("nh_neg_idx"),
            F.col("nh_neg_counts"),
        ]

    def _stdvar_col(self) -> F.Column:
        from parquet_common_spark.functions.native_histograms import (
            custom_histogram_stdvar,
            histogram_stdvar,
        )

        return F.when(
            F.col("nh_schema") == CUSTOM_BUCKETS_SCHEMA,
            custom_histogram_stdvar(
                F.col("nh_custom_values"),
                F.col("nh_count"),
                F.col("nh_sum"),
                F.col("nh_pos_idx"),
                F.col("nh_pos_counts"),
            ),
        ).otherwise(histogram_stdvar(*self._hist_moment_cols()))

    def _fn_histogram_stddev(self, args, steps):
        return self._hist_scalar_fn(
            args, steps, fn=lambda df: F.sqrt(self._stdvar_col())
        )

    def _fn_histogram_stdvar(self, args, steps):
        return self._hist_scalar_fn(args, steps, fn=lambda df: self._stdvar_col())

    def _fn_histogram_fraction(self, args, steps):
        from parquet_common_spark.functions.native_histograms import (
            custom_histogram_fraction,
            histogram_fraction,
        )

        lo = self._static_number(args[0], "lower")
        hi = self._static_number(args[1], "upper")
        return self._hist_scalar_fn(
            args,
            steps,
            fn=lambda df: F.when(
                F.col("nh_schema") == CUSTOM_BUCKETS_SCHEMA,
                custom_histogram_fraction(
                    lo,
                    hi,
                    F.col("nh_custom_values"),
                    F.col("nh_count"),
                    F.col("nh_pos_idx"),
                    F.col("nh_pos_counts"),
                ),
            ).otherwise(
                histogram_fraction(
                    lo,
                    hi,
                    F.col("nh_schema"),
                    F.col("nh_zero_count"),
                    F.col("nh_count"),
                    F.col("nh_pos_idx"),
                    F.col("nh_pos_counts"),
                    F.col("nh_neg_idx"),
                    F.col("nh_neg_counts"),
                )
            ),
        )

    def _native_histogram_quantile(self, args, steps):
        from parquet_common_spark.functions.native_histograms import (
            custom_histogram_quantile,
            native_histogram_quantile,
        )

        phi = self._scalar_param(args[0], steps)
        df = self._hist_vec(args[1], steps)
        labels = [c for c in df.columns if c.startswith("l_") and c != NAME_COL]
        j = self._scalar_join(df, phi, "_phi")
        q_exp = native_histogram_quantile(
            F.col("_phi"),
            F.col("nh_schema"),
            F.col("nh_zero_count"),
            F.col("nh_pos_idx"),
            F.col("nh_pos_counts"),
            F.col("nh_neg_idx"),
            F.col("nh_neg_counts"),
            interpolation="exponential",  # upstream ≥2.50 log-axis rule
        )
        q_custom = custom_histogram_quantile(
            F.col("_phi"),
            F.col("nh_custom_values"),
            F.col("nh_pos_idx"),
            F.col("nh_pos_counts"),
        )
        q = F.when(
            F.col("nh_schema") == CUSTOM_BUCKETS_SCHEMA, q_custom
        ).otherwise(q_exp)
        val = (
            F.when(F.isnan(F.col("_phi")), F.lit(float("nan")))
            .when(F.col("_phi") < 0, F.lit(float("-inf")))
            .when(F.col("_phi") > 1, F.lit(float("inf")))
            .otherwise(q)
        )
        return (
            "vector",
            j.select("_ev", *labels, val.alias("value")).where(
                F.col("value").isNotNull()
            ),
        )

    def _hist_root(self, node):
        """``(selector, range_ms)`` of the selector a histogram-capable
        expression bottoms out in, with the range it reads per step
        (the lookback for an instant selector): unwraps
        sum()/rate()/increase() chains and histogram arithmetic (the
        shapes _hist_vec evaluates natively).  None when there is none."""
        if isinstance(node, ast.Aggregate) and node.op in ("sum", "avg"):
            return self._hist_root(node.expr)
        if isinstance(node, ast.Binary) and node.op in ("+", "-", "*", "/"):
            return self._hist_root(node.lhs) or self._hist_root(node.rhs)
        if isinstance(node, ast.Call) and node.func in (
            "rate", "increase", "delta",
            "sum_over_time", "avg_over_time", "last_over_time",
        ):
            arg = node.args[0]
            if isinstance(arg, ast.MatrixSelector):
                return arg.selector, int(arg.range_ms)
            return None
        if isinstance(node, ast.VectorSelector):
            return node, LOOKBACK_MS
        return None

    def _hist_capable(self, node) -> bool:
        """Whether a subtree can be histogram-valued — schema-only (the
        selector it bottoms out in reads storage that HAS histogram
        columns); used to pick the histogram side of × / ÷ vector
        matching without running a job."""
        if isinstance(node, ast.Binary) and node.op in ("+", "-", "*", "/"):
            return self._hist_capable(node.lhs) or self._hist_capable(node.rhs)
        root = self._hist_root(node)
        return root is not None and self._may_hold_hist(root[0])

    def _may_hold_hist(self, sel: ast.VectorSelector) -> bool:
        """Schema-only: whether storage can hold native-histogram samples
        for ``sel`` at all.  Script loads track histogram-carrying metric
        names, so there the answer is per metric; otherwise it is whether
        the storage has the histogram columns."""
        if sel.name is not None and self._script_loaded:
            return sel.name in self._hist_metrics
        if self._shards is not None:
            return any("nh_schema" in s.samples.columns for s in self._shards)
        return self._samples is not None and "nh_schema" in self._samples.columns

    def _fn_histogram_quantile(self, args, steps):
        # native path when the argument (a selector, or a sum()/rate()
        # chain over one) selects native-histogram samples; classic
        # le-bucket path otherwise.  The probe job runs only when the
        # schema leaves both possible.
        root = self._hist_root(args[1])
        if root is not None and self._may_hold_hist(root[0]):
            sel, range_ms = root
            probe = self._base(sel, self._window(sel, steps, range_ms))
            probe = probe.where(F.col("nh_schema").isNotNull())
            if probe.limit(1).count() > 0:
                return self._native_histogram_quantile(args, steps)
        phi = self._scalar_param(args[0], steps)
        df = self._vec_arg(args[1], steps)
        le_col = label_to_column("le")
        if le_col not in df.columns:
            return ("vector", df.where(F.lit(False)).drop(le_col, NAME_COL))
        labels = [
            c for c in df.columns
            if c not in ("_ev", "value", le_col, NAME_COL)
        ]
        le_d = (
            F.when(F.col(le_col).isin("+Inf", "Inf", "inf"), F.lit(float("inf")))
            .when(F.col(le_col) == "-Inf", F.lit(float("-inf")))
            .otherwise(F.col(le_col).cast("double"))
        )
        g = (
            df.withColumn("_le", le_d)
            .where(F.col("_le").isNotNull())
            .groupBy("_ev", *labels)
            .agg(
                F.sort_array(
                    F.collect_list(F.struct(F.col("_le"), F.col("value")))
                ).alias("_b")
            )
            .withColumn("_bounds", F.transform(F.col("_b"), lambda s: s["_le"]))
            # upstream enforces monotonicity on classic cumulative counts
            # (promql/quantile.go ensureMonotonic...: counts produced by
            # rate() over separately-scraped bucket series can dip) —
            # clamp each count to the running max
            .withColumn(
                "_counts",
                F.aggregate(
                    F.transform(F.col("_b"), lambda s: s["value"]),
                    F.array().cast("array<double>"),
                    lambda acc, c: F.concat(
                        acc,
                        F.array(
                            F.greatest(
                                c.cast("double"),
                                # try_: ANSI element_at throws on the
                                # empty seed array
                                F.coalesce(
                                    F.try_element_at(acc, F.lit(-1)),
                                    F.lit(float("-inf")),
                                ),
                            )
                        ),
                    ),
                ),
            )
        )
        j = self._scalar_join(g, phi, "_phi")
        has_inf = F.element_at(F.col("_bounds"), -1) == F.lit(float("inf"))
        q = histogram_quantile(F.col("_phi"), F.col("_bounds"), F.col("_counts"))
        val = (
            F.when(F.isnan(F.col("_phi")), F.lit(float("nan")))
            .when(F.col("_phi") < 0, F.lit(float("-inf")))
            .when(F.col("_phi") > 1, F.lit(float("inf")))
            .when(~has_inf, F.lit(float("nan")))
            .when(F.size(F.col("_bounds")) < 2, F.lit(float("nan")))
            .otherwise(q)
        )
        out = j.select("_ev", *labels, val.alias("value")).where(
            F.col("value").isNotNull()
        )
        return ("vector", out)

    # -- range-vector functions

    def _fn_rate(self, args, steps):
        return ("vector", self._extrapolated(args, steps, True, True))

    def _fn_increase(self, args, steps):
        return ("vector", self._extrapolated(args, steps, True, False))

    def _fn_delta(self, args, steps):
        return ("vector", self._extrapolated(args, steps, False, False))

    def _extrapolated(self, args, steps, is_counter: bool, is_rate: bool) -> DataFrame:
        """promql/functions.go extrapolatedRate with explicit per-eval
        bounds (promql._extrapolate)."""
        rdf, labels, range_ms = self._matrix_arg(args[0], steps)
        w = Window.partitionBy("_ev", *labels).orderBy("ts")
        prev = F.lag("value").over(w)
        staged = rdf.withColumn(
            "_reset", F.when(promql._is_reset(prev, F.col("value")), prev).otherwise(F.lit(0.0))
        )
        agg = staged.groupBy("_ev", *labels).agg(
            F.count(F.lit(1)).alias("_n"),
            F.min_by("value", "ts").alias("_first_v"),
            F.max_by("value", "ts").alias("_last_v"),
            F.min("ts").alias("_first_ts"),
            F.max("ts").alias("_last_ts"),
            F.sum("_reset").alias("_resets"),
            F.first("_start").alias("_start"),
            F.first("_end").alias("_end"),
        )
        result = F.col("_last_v") - F.col("_first_v") + (
            F.col("_resets") if is_counter else F.lit(0.0)
        )
        interval, sampled = self._extrapolation(
            clamp=(F.col("_first_v"), result) if is_counter else None
        )
        inc = result * interval / sampled
        if is_rate:
            inc = inc / F.lit(range_ms / 1e3)
        out = agg.withColumn(
            "value",
            F.when((F.col("_n") >= 2) & (sampled > 0), inc).otherwise(
                F.lit(None).cast("double")
            ),
        ).where(F.col("value").isNotNull())
        return self._drop_name(
            out.select("_ev", *labels, "value")
        )

    def _instant_pair(self, args, steps, is_rate: bool):
        """idelta/irate: last two samples (promql._instant_pair)."""
        rdf, labels, _ = self._matrix_arg(args[0], steps)
        w = Window.partitionBy("_ev", *labels).orderBy(F.desc("ts"))
        ranked = rdf.withColumn("_rn", F.row_number().over(w))
        agg = ranked.groupBy("_ev", *labels).agg(
            F.count(F.lit(1)).alias("_n"),
            *promql._last_two(F.col("_rn"), F.col("ts"), F.col("value")),
        )
        idelta, irate = promql._instant_pair(F.col("_n"), 1e3)
        out = (
            agg.withColumn("value", irate if is_rate else idelta)
            .where(F.col("value").isNotNull())
            .select("_ev", *labels, "value")
        )
        return ("vector", self._drop_name(out))

    def _fn_idelta(self, args, steps):
        return self._instant_pair(args, steps, False)

    def _fn_irate(self, args, steps):
        return self._instant_pair(args, steps, True)

    def _fn_resets(self, args, steps):
        return self._pairs_count(args, steps, resets=True)

    def _fn_changes(self, args, steps):
        return self._pairs_count(args, steps, resets=False)

    def _pairs_count(self, args, steps, resets: bool):
        rdf, labels, _ = self._matrix_arg(args[0], steps)
        w = Window.partitionBy("_ev", *labels).orderBy("ts")
        prev = F.lag("value").over(w)
        flag = (promql._is_reset if resets else promql._is_change)(prev, F.col("value"))
        staged = rdf.withColumn("_f", flag.cast("long"))
        out = staged.groupBy("_ev", *labels).agg(
            F.coalesce(F.sum("_f"), F.lit(0)).cast("double").alias("value")
        )
        return ("vector", self._drop_name(out.select("_ev", *labels, "value")))

    def _regression(self, args, steps):
        """least-squares slope/intercept with x in seconds relative to the
        eval timestamp (promql/functions.go linearRegression).  Double
        sums, as Go's; the tumbling layer's DECIMAL-exact sums
        (promql._regression_sums) serve the DuckDB-checked registry."""
        rdf, labels, _ = self._matrix_arg(args[0], steps)
        x = (F.col("ts") - F.col("_end")).cast("double") / 1e3
        staged = rdf.withColumn("_x", x)
        agg = staged.groupBy("_ev", *labels).agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum("_x").alias("_sx"),
            F.sum("value").alias("_sv"),
            F.sum(F.col("_x") * F.col("value")).alias("_sxv"),
            F.sum(F.col("_x") * F.col("_x")).alias("_sx2"),
            F.min("ts").alias("_tmin"),
            F.max("ts").alias("_tmax"),
        )
        nd = F.col("_n").cast("double")
        num = nd * F.col("_sxv") - F.col("_sx") * F.col("_sv")
        den = nd * F.col("_sx2") - F.col("_sx") * F.col("_sx")
        slope = num / den
        intercept = (F.col("_sv") - slope * F.col("_sx")) / nd
        ok = (F.col("_n") >= 2) & (F.col("_tmax") > F.col("_tmin"))
        return agg, labels, slope, intercept, ok

    def _fn_deriv(self, args, steps):
        agg, labels, slope, _, ok = self._regression(args, steps)
        out = (
            agg.withColumn("value", F.when(ok, slope))
            .where(F.col("value").isNotNull())
            .select("_ev", *labels, "value")
        )
        return ("vector", self._drop_name(out))

    def _fn_predict_linear(self, args, steps):
        agg, labels, slope, intercept, ok = self._regression(args, steps)
        t = self._scalar_param(args[1], steps)
        j = self._scalar_join(agg, t, "_t")
        out = (
            j.withColumn("value", F.when(ok, intercept + slope * F.col("_t")))
            .where(F.col("value").isNotNull())
            .select("_ev", *labels, "value")
        )
        return ("vector", self._drop_name(out))

    def _fn_info(self, args, steps):
        """info(v[, data-label-selector]) (upstream experimental,
        promql/info.go): enrich every sample of ``v`` with the data
        labels of the info series sharing its identifying labels
        (instance, job).  The optional second argument is a braces-only
        selector: ``__name__`` matchers pick which info metrics are
        considered (default ``target_info``); the remaining matchers are
        data-label matchers — an info series must satisfy all of them
        (missing label matches ""), and ONLY the matcher-named labels
        are copied.  With no data-label matchers every populated data
        label is copied.  Samples with no matching info series pass
        through unchanged; identifying labels matching MULTIPLE info
        series is an execution-time error (window count over the
        broadcast-small info side, assert folded into a join key so
        pruning can't drop it).  Plan construction is fully lazy — no
        driver-side actions."""
        df = self._vec_arg(args[0], steps)
        name_matchers, data_matchers = [], []
        if len(args) > 1:
            sel2 = args[1]
            if not isinstance(sel2, ast.VectorSelector) or sel2.name is not None:
                raise PromQLEvalError(
                    "info(): second argument must be a braces-only label selector"
                )
            for m in sel2.matchers:
                (name_matchers if m.name == "__name__" else data_matchers).append(m)
        if name_matchers:
            sel = ast.VectorSelector(name=None, matchers=list(name_matchers))
        else:
            sel = ast.VectorSelector(
                name="target_info",
                matchers=[ast.LabelMatcher("__name__", "=", "target_info")],
            )
        info = self._instant_select(sel, steps)
        ident = ["_ev", label_to_column("instance"), label_to_column("job")]
        missing = [c for c in ident if c not in info.columns or c not in df.columns]
        if missing:
            return ("vector", df)  # nothing to enrich with
        icols = info.columns
        for m in data_matchers:
            info = info.where(
                matcher_to_predicate(Matcher(m.name, m.op, m.value), icols)
            )
        if data_matchers:
            carry = [
                c
                for c in dict.fromkeys(
                    label_to_column(m.name) for m in data_matchers
                )
                if c in icols and c not in ident and c != NAME_COL
            ]
        else:
            carry = [
                c
                for c in icols
                if c.startswith("l_") and c not in ident and c != NAME_COL
            ]
        # one row per identifying key on the info side; duplicates error
        # at execution time.  The assert rides on "_ev" (a join key), so
        # column pruning cannot eliminate it.
        w = Window.partitionBy(*ident)
        one = (
            info.select(*ident, *carry)
            .withColumn("_icnt", F.count(F.lit(1)).over(w))
            .withColumn(
                "_ev",
                F.when(
                    F.assert_true(
                        F.col("_icnt") == 1,
                        F.lit(
                            "info(): found duplicate info series for the "
                            "identifying labels"
                        ),
                    ).isNull(),
                    F.col("_ev"),
                ),
            )
            .drop("_icnt")
        )
        right = one.select(
            *[F.col(c).alias(f"_i_{c}") for c in [*ident, *carry]]
        )
        cond = F.lit(True)
        for c in ident:
            cond = cond & F.col(c).eqNullSafe(F.col(f"_i_{c}"))
        joined = df.join(F.broadcast(right), on=cond, how="left")
        # per-ROW coalesce: an info label rides only where that info
        # series populates it; v's own label survives otherwise.  (The
        # shared samples frame materializes every label column for every
        # selector, so all-NULL carry columns are expected, not special.)
        base_labels = [c for c in df.columns if c != "value"]
        out_cols = []
        for c in base_labels:
            if c in carry:
                out_cols.append(F.coalesce(F.col(f"_i_{c}"), joined[c]).alias(c))
            else:
                out_cols.append(joined[c])
        for c in carry:
            if c not in base_labels:
                out_cols.append(F.col(f"_i_{c}").alias(c))
        return ("vector", joined.select(*out_cols, F.col("value")))

    def _fn_holt_winters(self, args, steps):
        """Pre-3.0 name of double_exponential_smoothing (upstream kept
        the alias behind the experimental flag when renaming)."""
        return self._fn_double_exponential_smoothing(args, steps)

    def _fn_double_exponential_smoothing(self, args, steps):
        """Holt's linear smoothing (promql._holt)."""
        rdf, labels, _ = self._matrix_arg(args[0], steps)
        sf = self._static_number(args[1], "sf")
        tf = self._static_number(args[2], "tf")
        if not (0 < sf < 1) or not (0 < tf < 1):
            raise PromQLEvalError("smoothing factors must be in (0, 1)")
        agg = rdf.groupBy("_ev", *labels).agg(
            F.count(F.lit(1)).alias("_n"),
            promql._time_sorted([F.col("ts")], F.col("value")).alias("_vals"),
        )
        smoothed = promql._holt(F.col("_vals"), sf, tf)
        out = (
            agg.withColumn("value", F.when(F.col("_n") >= 2, smoothed))
            .where(F.col("value").isNotNull())
            .select("_ev", *labels, "value")
        )
        return ("vector", self._drop_name(out))

    def _static_number(self, arg, what: str) -> float:
        if isinstance(arg, ast.NumberLiteral):
            return float(arg.value)
        if isinstance(arg, ast.Unary) and isinstance(arg.expr, ast.NumberLiteral):
            return -float(arg.expr.value) if arg.op == "-" else float(arg.expr.value)
        raise PromQLEvalError(f"{what} must be a number literal")

    def _over_time(self, fn, args, steps):
        rdf, labels, _ = self._matrix_arg(args[-1], steps)
        v = F.col("value")
        if fn == "mad_over_time":
            # median absolute deviation (upstream experimental):
            # median(|x - median(x)|), both medians via the Go-exact
            # quantile (NaN-first sort, no exact-rank short-circuit);
            # the inner median rides a window over the same (eval,
            # series) partition the outer groupBy uses, so no extra
            # shuffle
            w = Window.partitionBy("_ev", *labels)
            out = (
                rdf.withColumn(
                    "_med",
                    pv.go_quantile_interp(
                        pv.go_quantile_collect(v).over(w), 0.5
                    ),
                )
                .groupBy("_ev", *labels)
                .agg(
                    pv.go_quantile_collect(F.abs(v - F.col("_med"))).alias("_qv")
                )
                .select(
                    "_ev",
                    *labels,
                    pv.go_quantile_interp(F.col("_qv"), 0.5)
                    .cast("double")
                    .alias("value"),
                )
            )
            return ("vector", self._drop_name(out))
        if fn == "quantile_over_time":
            q = self._static_number(args[0], "quantile")
            if math.isnan(q):
                # upstream warns and yields NaN for a NaN φ
                agg_expr = F.max(F.lit(float("nan")))
            elif not (0.0 <= q <= 1.0):
                # upstream warns and yields ±Inf for out-of-range φ
                agg_expr = F.max(F.lit(float("-inf") if q < 0 else float("inf")))
            else:
                # Go-exact quantile (see promql_vec.go_quantile_interp)
                out = (
                    rdf.groupBy("_ev", *labels)
                    .agg(pv.go_quantile_collect(v).alias("_qv"))
                    .select(
                        "_ev",
                        *labels,
                        pv.go_quantile_interp(F.col("_qv"), q)
                        .cast("double")
                        .alias("value"),
                    )
                )
                return ("vector", self._drop_name(out))
        else:
            agg_expr = {
                "avg_over_time": F.avg(v),
                # min/max_over_time skip NaN unless every sample is NaN
                # (upstream funcMin/MaxOverTime; Spark's native ordering
                # would make max NaN whenever any sample is)
                "min_over_time": pv._nan_skipping(F.min)(v),
                "max_over_time": pv._nan_skipping(F.max)(v),
                "sum_over_time": F.sum(v),
                "count_over_time": F.count(F.lit(1)).cast("double"),
                "last_over_time": F.max_by(v, F.col("ts")),
                "first_over_time": F.min_by(v, F.col("ts")),
                "present_over_time": F.lit(1.0),
                "stdvar_over_time": F.var_pop(v),
                "stddev_over_time": F.stddev_pop(v),
                # ts_of_* (upstream experimental, funcTsOfMin/Max/Last):
                # the timestamp (seconds) of the selected sample.  Tie +
                # NaN rules mirror upstream's loop (`v <= best ||
                # isNaN(best)`): `<=`/`>=` comparisons make the LAST
                # occurrence win; a NaN current value never replaces a
                # real best, so NaN wins only when every sample is NaN
                # (then the last sample's ts).  A separate isnan flag —
                # not a ±Inf mapping — keeps a NaN sample from tying
                # with a genuine ±Inf sample: the flag sorts every NaN
                # strictly worse than every real value, ±Inf included.
                "ts_of_last_over_time": F.max(F.col("ts")) / F.lit(1000.0),
                "ts_of_min_over_time": F.min_by(
                    F.col("ts"),
                    F.struct(
                        F.isnan(v).cast("int").alias("bad"),
                        F.when(F.isnan(v), F.lit(0.0)).otherwise(v).alias("v"),
                        (-F.col("ts")).alias("nt"),
                    ),
                ).cast("double")
                / F.lit(1000.0),
                "ts_of_max_over_time": F.max_by(
                    F.col("ts"),
                    F.struct(
                        (~F.isnan(v)).cast("int").alias("ok"),
                        F.when(F.isnan(v), F.lit(0.0)).otherwise(v).alias("v"),
                        F.col("ts").alias("t"),
                    ),
                ).cast("double")
                / F.lit(1000.0),
            }[fn]
        out = rdf.groupBy("_ev", *labels).agg(
            agg_expr.cast("double").alias("value")
        )
        out = out.select("_ev", *labels, "value")
        # last_over_time keeps the metric name (it serves the raw sample,
        # like an instant selector); every other *_over_time drops it
        if fn != "last_over_time":
            out = self._drop_name(out)
        return ("vector", out)

    # -- calendar functions (UTC; value is epoch seconds, default time())

    def _calendar(self, fn, args, steps):
        if args:
            df = self._vec_arg(args[0], steps)
        else:
            df = steps.df.select(
                "_ev", (F.col("_ev").cast("double") / F.lit(1000.0)).alias("value")
            )
        t = F.timestamp_seconds(F.col("value"))
        expr = {
            "minute": F.minute(t),
            "hour": F.hour(t),
            "day_of_week": F.dayofweek(t) - F.lit(1),  # Spark: Sun=1; PromQL: Sun=0
            "day_of_month": F.dayofmonth(t),
            "day_of_year": F.dayofyear(t),
            "month": F.month(t),
            "year": F.year(t),
            "days_in_month": F.dayofmonth(F.last_day(t)),
        }[fn]
        out = df.withColumn("value", expr.cast("double"))
        return ("vector", self._drop_name(out))

    def _fn_minute(self, a, s):
        return self._calendar("minute", a, s)

    def _fn_hour(self, a, s):
        return self._calendar("hour", a, s)

    def _fn_day_of_week(self, a, s):
        return self._calendar("day_of_week", a, s)

    def _fn_day_of_month(self, a, s):
        return self._calendar("day_of_month", a, s)

    def _fn_day_of_year(self, a, s):
        return self._calendar("day_of_year", a, s)

    def _fn_month(self, a, s):
        return self._calendar("month", a, s)

    def _fn_year(self, a, s):
        return self._calendar("year", a, s)

    def _fn_days_in_month(self, a, s):
        return self._calendar("days_in_month", a, s)


_SIMPLE_MATH = {
    "abs": pv.vabs,
    "ceil": pv.vceil,
    "floor": pv.vfloor,
    "exp": pv.vexp,
    "ln": pv.vln,
    "log2": pv.vlog2,
    "log10": pv.vlog10,
    "sqrt": pv.vsqrt,
    "sgn": pv.vsgn,
    "acos": F.acos,
    "asin": F.asin,
    "atan": F.atan,
    "cos": F.cos,
    "sin": F.sin,
    "tan": F.tan,
    "acosh": F.acosh,
    "asinh": F.asinh,
    "atanh": F.atanh,
    "cosh": F.cosh,
    "sinh": F.sinh,
    "tanh": F.tanh,
    "deg": lambda c: c * F.lit(180.0 / math.pi),
    "rad": lambda c: c * F.lit(math.pi / 180.0),
}

_OVER_TIME = {
    "avg_over_time", "min_over_time", "max_over_time", "sum_over_time",
    "count_over_time", "last_over_time", "first_over_time",
    "present_over_time", "stdvar_over_time", "stddev_over_time",
    "quantile_over_time", "mad_over_time",
    "ts_of_last_over_time", "ts_of_min_over_time", "ts_of_max_over_time",
}
