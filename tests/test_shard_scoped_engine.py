"""The shard-backed PromQL engine reads only each selector's window.

Pins the read path of ``PromQLEngine.from_shards`` and parquet-backed
``load``: every selector issues its own ``ParquetQueryable.select``
bounded to ``(eff - range, eff]`` over its steps, shards outside that
window are skipped, and opening a shard runs no Spark job because every
writer records both table schemas in the shard meta, and every writer
writes the same file layout as ``convert()``.  A hypothesis
differential checks the scoped path against the in-memory engine fed the
same samples.
"""

from __future__ import annotations

import glob
import math
import os
import random

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from parquet_common_spark import Matcher
from parquet_common_spark import convert as C
from parquet_common_spark import schema as S

HOUR_MS = 3_600_000
MIN_MS = 60_000


def _jobs_in(spark, fn):
    """-> (fn(), number of Spark jobs fn ran)."""
    sc = spark.sparkContext
    group = f"jobs-{random.getrandbits(48)}"
    sc.setJobGroup(group, "job count probe")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _plan(df) -> str:
    """The physical plan with scan metadata (paths, filters) untruncated."""
    conf = df.sparkSession.conf
    conf.set("spark.sql.maxMetadataStringLength", "100000")
    try:
        return df._jdf.queryExecution().executedPlan().toString()
    finally:
        conf.unset("spark.sql.maxMetadataStringLength")


# ----------------------------------------------- µs promqltest time buckets


def test_parquet_backed_load_block_is_one_time_bucket(spark, tmp_path, monkeypatch):
    """A 2h promqltest load block is stored in µs; its time buckets must be
    the default 8h counted in µs too, i.e. one partition directory, not
    one per 28.8 s."""
    import tempfile

    from parquet_common_spark.promqltest import PromQLEngine, parse_script
    from parquet_common_spark.promqltest.scriptparse import LoadCmd

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    eng = PromQLEngine(spark, parquet_backed=True)
    script = parse_script(
        """
load 1m
    up{job="a"} 0+1x120
    up{job="b"} 0+2x120
"""
    )
    for cmd in script.commands:
        if isinstance(cmd, LoadCmd):
            eng.load(cmd)
    (shard,) = glob.glob(str(tmp_path / "promqltest_shard_*"))
    buckets = glob.glob(os.path.join(shard, "samples.parquet", f"{S.TIME_BUCKET_COLUMN}=*"))
    assert len(buckets) == 1, buckets
    got = eng.eval_instant_df('up{job="b"}', 120 * MIN_MS).collect()
    assert [r["value"] for r in got] == [240.0]


# --------------------------------------------------- plan and job pins


@pytest.fixture(scope="module")
def daily_shards(spark, tmp_path_factory):
    """Two daily ms-native shards (default 8h buckets, 3 per day) of
    per-second counters, scraped every minute; ``code`` exists only on
    day 0."""
    root = tmp_path_factory.mktemp("daily")
    dirs = []
    for day in range(2):
        rows = []
        for job, slope in (("api", 1.0), ("web", 2.0)):
            labels = {"__name__": "http_requests_total", "job": job}
            if day == 0:
                labels["code"] = "200"
            for k in range(24 * 60):
                t = day * 24 * HOUR_MS + k * MIN_MS
                rows.append((labels, t, slope * t / 1000.0))
        df = spark.createDataFrame(rows, "labels map<string,string>, ts long, value double")
        out = str(root / f"day{day}")
        C.convert(df, out)
        dirs.append(out)
    return dirs


def _samples_scans(plan: str) -> list[str]:
    return [ln for ln in plan.splitlines() if "FileScan" in ln and "samples.parquet" in ln]


def test_from_shards_range_query_reads_only_its_window(spark, daily_shards):
    from parquet_common_spark.promqltest import PromQLEngine

    start = 10 * HOUR_MS  # day 0, time bucket 1 ([8h, 16h))
    end = start + HOUR_MS
    eng = PromQLEngine.from_shards(spark, daily_shards, ts_divisor=1)
    df = eng.eval_range_df(
        "sum by (job) (rate(http_requests_total[5m]))", start, end, MIN_MS
    )
    plan = _plan(df)
    scans = _samples_scans(plan)
    assert scans, plan
    for scan in scans:
        assert "day1" not in scan  # the shard outside the window is skipped
        part = scan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
        assert f"({S.TIME_BUCKET_COLUMN}#" in part and ">= 1)" in part and "<= 1)" in part, part
        pushed = scan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
        assert f"GreaterThanOrEqual({S.TS_COLUMN},{start - 5 * MIN_MS})" in pushed, pushed
        assert f"LessThanOrEqual({S.TS_COLUMN},{end})" in pushed, pushed
    assert str(2**62) not in plan
    got = {(r["l_job"], r["_ev"]): r["value"] for r in df.collect()}
    assert len(got) == 2 * 61
    assert all(math.isclose(v, {"api": 1.0, "web": 2.0}[j]) for (j, _), v in got.items())


def test_from_shards_label_union_spans_pruned_shards(spark, daily_shards):
    """``code`` lives only on day 0; a day-1 query still groups by it
    (absent == empty), and a window on no shard is an empty result."""
    from parquet_common_spark.promqltest import PromQLEngine

    eng = PromQLEngine.from_shards(spark, daily_shards, ts_divisor=1)
    t = 30 * HOUR_MS
    rows = eng.eval_instant_df("sum by (code) (http_requests_total)", t).collect()
    assert [(r["l_code"], r["value"]) for r in rows] == [(None, 3.0 * t / 1000.0)]
    df = eng.eval_instant_df("http_requests_total", 100 * HOUR_MS)
    assert _samples_scans(_plan(df)) == []
    assert df.collect() == [] and "l_code" in df.columns


def test_from_shards_opens_without_jobs_and_skips_histogram_probe(spark, daily_shards):
    """Opening the shards runs no job, and histogram_quantile over shards
    without native-histogram columns picks the classic path without a
    probe job: planning the query runs no job either."""
    from parquet_common_spark.promqltest import PromQLEngine

    def plan():
        eng = PromQLEngine.from_shards(spark, daily_shards, ts_divisor=1)
        return eng.eval_range_df(
            "histogram_quantile(0.9, sum by (le) (rate(http_requests_total[5m])))",
            10 * HOUR_MS, 11 * HOUR_MS, MIN_MS,
        )

    _, jobs = _jobs_in(spark, plan)
    assert jobs == 0


def test_histogram_probe_reads_only_its_window(spark, tmp_path, monkeypatch):
    """When storage may hold native histograms, histogram_quantile's
    probe reads the same window as the selector it inspects, not all
    time."""
    import tempfile

    from parquet_common_spark.promqltest import PromQLEngine, parse_script
    from parquet_common_spark.queryable import ParquetQueryable

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    eng = PromQLEngine(spark, parquet_backed=True)
    (cmd,) = parse_script(
        """
load 5m
    nh{env="a"} {{schema:0 sum:7 count:4 buckets:[1 2 1] offset:0}}x1
"""
    ).commands
    eng.load(cmd)
    calls = []
    select = ParquetQueryable.select

    def recording(self, mint, maxt, matchers):
        calls.append((mint, maxt))
        return select(self, mint, maxt, matchers)

    monkeypatch.setattr(ParquetQueryable, "select", recording)
    got = eng.eval_instant("histogram_quantile(0.75, nh)", 5 * MIN_MS)
    assert got == ("vector", [({"env": "a"}, {5 * MIN_MS: 2.0})])
    assert len(calls) >= 2 and set(calls) == {(0, 5 * MIN_MS * 1000 + 999)}


def test_load_after_from_shards_is_queried(spark, daily_shards, tmp_path, monkeypatch):
    """A ``load`` on an engine opened over shards adds its block as one
    more shard, stored in the engine's time unit, next to the opened ones."""
    import tempfile

    from parquet_common_spark.promqltest import PromQLEngine, parse_script

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    eng = PromQLEngine.from_shards(spark, daily_shards, ts_divisor=1)
    (cmd,) = parse_script(
        """
load 1m
    http_requests_total{job="batch"} 0+60x10
"""
    ).commands
    eng.load(cmd)
    t = 10 * MIN_MS
    rows = eng.eval_instant_df("http_requests_total", t).collect()
    got = sorted((r["l_job"], r["value"]) for r in rows)
    assert got == [("api", t / 1000.0), ("batch", 600.0), ("web", 2.0 * t / 1000.0)]


def test_in_memory_frames_are_local_relations(spark):
    """``load`` blocks and step frames are local relations, not Python
    RDDs: a query over them scans no Python-fed RDD, and the engine's
    results match the rows that were loaded (NaN, ±Inf, -0, stale)."""
    from parquet_common_spark.promqltest import PromQLEngine
    from parquet_common_spark.promqltest.scriptparse import LoadCmd, Sample
    from parquet_common_spark.session import local_frame

    eng = PromQLEngine(spark)
    vals = [1.0, float("nan"), float("inf"), -0.0, -float("inf")]
    eng.load(LoadCmd(MIN_MS, [
        ({"__name__": "m", "k": "a"}, [Sample(i * MIN_MS, v) for i, v in enumerate(vals)]),
        ({"__name__": "m", "k": "b"}, [Sample(0, 2.0), Sample(MIN_MS, 0.0, stale=True)]),
    ]))
    df = eng.eval_range_df("m", 0, 4 * MIN_MS, MIN_MS)
    plan = _plan(df)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    got = {(r["l_k"], r["_ev"]): r["value"] for r in df.collect()}
    for i, v in enumerate(vals):
        w = got[("a", i * MIN_MS)]
        assert (math.isnan(w) and math.isnan(v)) or (w == v and math.copysign(1, w) == math.copysign(1, v))
    assert got[("b", 0)] == 2.0 and ("b", MIN_MS) not in got

    ddl = "`l_x` string, ts long, nh_pos_idx array<int>, nh_custom_values array<double>"
    rows = [("x", 1, [1, 2], None), (None, -5, [], [1.5, float("inf")])]
    lf = local_frame(spark, rows, ddl)
    assert lf.schema == spark.createDataFrame(rows, ddl).schema
    assert [tuple(r) for r in lf.collect()] == rows
    assert local_frame(spark, [], ddl).schema == lf.schema


def _convert_shard(spark, out):
    # newest sample first, so only a real sort puts a file in (hash, ts) order
    rows = [
        ({"__name__": "m", "env": env, "i": str(i)}, t * 30 * MIN_MS, float(i + t))
        for env in ("dev", "prod") for i in range(3) for t in reversed(range(8))
    ]
    df = spark.createDataFrame(rows, "labels map<string,string>, ts long, value double")
    C.convert(df, out)
    return out


@pytest.fixture(scope="module")
def written_shards(spark, tmp_path_factory) -> dict[str, str]:
    """One shard directory per writer."""
    tmp_path = tmp_path_factory.mktemp("writers")
    src = _convert_shard(spark, str(tmp_path / "convert"))
    df = spark.createDataFrame(
        [({"__name__": "m", "i": str(i)}, t * MIN_MS, float(t)) for i in range(4) for t in reversed(range(5))],
        "labels map<string,string>, ts long, value double",
    )
    sharded = C.convert_sharded(df, str(tmp_path / "sharded"), num_shards=2)
    C.convert_merged([df, df], str(tmp_path / "merged"), dedup_samples=True)
    C.compact_shards(spark, [src, sharded[0]], str(tmp_path / "compacted"))
    C.delete_series(spark, src, [Matcher("env", "=", "dev")], str(tmp_path / "deleted"))
    C.downsample_shard(spark, src, str(tmp_path / "downsampled"), resolution_ms=HOUR_MS)

    wide = C.wide_from_label_map(df, "labels")
    stream_src = str(tmp_path / "stream_src")
    wide.write.parquet(stream_src)
    q = C.convert_streaming(
        spark.readStream.schema(wide.schema).parquet(stream_src),
        str(tmp_path / "stream"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        labels_col=None,
    )
    q.awaitTermination(300)
    (streamed,) = glob.glob(str(tmp_path / "stream" / "batch=*"))
    return {
        "convert": src,
        "convert_sharded": sharded[0],
        "convert_merged": str(tmp_path / "merged"),
        "compact_shards": str(tmp_path / "compacted"),
        "delete_series": str(tmp_path / "deleted"),
        "downsample_shard": str(tmp_path / "downsampled"),
        "convert_streaming": streamed,
    }


def test_every_writer_records_the_inferred_schemas(spark, written_shards):
    """Each writer records both schemas exactly as footer inference
    returns them, so ShardDataset.read opens its shards with no job."""
    from parquet_common_spark.queryable import ShardDataset

    for writer, d in written_shards.items():
        meta = S.ShardMeta.read(d)
        assert meta.series_schema == spark.read.parquet(d + "/series.parquet").schema, writer
        assert meta.samples_schema == spark.read.parquet(d + "/samples.parquet").schema, writer
        shard, jobs = _jobs_in(spark, lambda: ShardDataset.read(spark, d))
        assert jobs == 0, writer
        assert shard.samples.schema == meta.samples_schema, writer
        assert shard.series.count() > 0, writer


def _layout(spark, shard_dir: str) -> dict:
    """The on-disk format facts of one shard, read from the parquet-mr
    footers and the files themselves."""
    import pyarrow.parquet as pq

    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    meta = S.ShardMeta.read(shard_dir)
    facts = {}
    for table in ("series.parquet", "samples.parquet"):
        root = os.path.join(shard_dir, table)
        blooms, codecs, unsorted = set(), set(), []
        max_rows = 0
        files = glob.glob(root + "/**/part-*.parquet", recursive=True)
        assert files, root
        for f in files:
            footer = jvm.org.apache.parquet.hadoop.ParquetFileReader.readFooter(
                conf, jvm.org.apache.hadoop.fs.Path(f)
            )
            blocks = footer.getBlocks()
            for i in range(blocks.size()):
                block = blocks.get(i)
                max_rows = max(max_rows, block.getRowCount())
                cols = block.getColumns()
                for j in range(cols.size()):
                    col = cols.get(j)
                    codecs.add(col.getCodec().name())
                    if col.getBloomFilterOffset() >= 0:
                        blooms.add(col.getPath().toDotString())
            t = pq.read_table(f)
            if table == "samples.parquet":
                keys = list(zip(t[S.SERIES_HASH_COLUMN].to_pylist(), t[S.TS_COLUMN].to_pylist()))
            else:
                order = C._series_order(S.label_columns(t.column_names), meta.sort_labels)
                keys = [
                    tuple((v is not None, v or "") for v in row)  # NULLS FIRST
                    for row in zip(*(t[c].to_pylist() for c in order))
                ]
            if keys != sorted(keys):
                unsorted.append(os.path.relpath(f, root))
        parts = sorted(
            e for e in os.listdir(root) if not e.startswith((".", "_"))
            and os.path.isdir(os.path.join(root, e))
        )
        facts[table] = {
            "blooms": blooms,
            "codecs": codecs,
            "within_row_cap": max_rows <= S.DEFAULT_ROW_GROUP_SIZE,
            "partitions": {p.split("=")[0] for p in parts},
            "unsorted_files": unsorted,
        }
    return facts


def test_every_writer_writes_convert_layout(spark, written_shards, tmp_path):
    """One writer owns the file format: every writer's shards carry the
    same bloom-filter columns, codec, row-group cap, time-bucket
    partitioning and per-file sort order as convert()'s, and no bloom
    filter inflates the series files."""
    from pyspark.sql import functions as F

    want = {
        "series.parquet": {
            # the l___name__ bloom option writes nothing: parquet-mr
            # dictionary-encodes the repeating column and skips its bloom;
            # the unique s_series_hash (a join key only) has no bloom
            "blooms": set(),
            "codecs": {"ZSTD"},
            "within_row_cap": True,
            "partitions": set(),
            "unsorted_files": [],
        },
        "samples.parquet": {
            "blooms": set(),
            "codecs": {"ZSTD"},
            "within_row_cap": True,
            "partitions": {S.TIME_BUCKET_COLUMN},
            "unsorted_files": [],
        },
    }
    assert _layout(spark, written_shards["convert"]) == want
    for writer, d in written_shards.items():
        assert _layout(spark, d) == want, writer

    # a 1,000-series block: with a bloom on s_series_hash its series
    # files took about 2 MB, nearly all of it filter
    labels = F.create_map(F.lit("__name__"), F.lit("m"), F.lit("i"), F.col("id").cast("string"))
    block = spark.range(1000).select(
        labels.alias("labels"), (F.col("id") % 120 * MIN_MS).alias("ts"), F.lit(1.0).alias("value")
    )
    C.convert(block, str(tmp_path / "block"))
    files = glob.glob(str(tmp_path / "block" / "series.parquet" / "*.parquet"))
    assert files and sum(map(os.path.getsize, files)) < 100_000


def test_shards_without_recorded_schemas_still_open(spark, tmp_path):
    """Shards written before schemas were recorded open by inference."""
    from parquet_common_spark.queryable import ParquetQueryable

    d = _convert_shard(spark, str(tmp_path / "old"))
    meta = S.ShardMeta.read(d)
    S.ShardMeta(meta.mint_ms, meta.maxt_ms, meta.col_duration_ms, meta.sort_labels).write(d)
    assert S.ShardMeta.read(d).samples_schema is None
    q = ParquetQueryable.from_paths(spark, [d])
    assert q.select(0, 10**15, [Matcher("env", "=", "dev")]).count() == 3 * 8


# ------------------------------------------------ differential vs in-memory


_SERIES = [
    ({"__name__": "m", "job": "a", "code": "200"}, (0, 1), 1.0),
    ({"__name__": "m", "job": "a", "code": "500"}, (0,), 0.5),
    ({"__name__": "m", "job": "b"}, (0, 1, 2), 2.0),
    ({"__name__": "g", "job": "a"}, (1, 2), None),
]
_SHARD_MS = HOUR_MS  # shard k holds [k h, (k+1) h)
_SCRAPE_MS = 45_000


def _diff_samples():
    """(labels, [(ts_ms, value)]) per series: counters with a reset and
    a gap, a gauge, all scraped every 45 s inside the shards they live in."""
    rnd = random.Random(7)
    out = []
    for labels, shards, slope in _SERIES:
        samples, v = [], 0.0
        for k in shards:
            for t in range(k * _SHARD_MS, (k + 1) * _SHARD_MS, _SCRAPE_MS):
                if slope is None:
                    v = float(rnd.randint(0, 100))
                elif t == HOUR_MS + 20 * _SCRAPE_MS:
                    v = 3.0  # counter reset
                else:
                    v += slope * _SCRAPE_MS / 1000.0
                samples.append((t, v))
        out.append((labels, samples))
    return out


@pytest.fixture(scope="module")
def diff_engines(spark, tmp_path_factory):
    """The same samples as three µs shards behind from_shards, and loaded
    into the in-memory engine (the model)."""
    from parquet_common_spark.promqltest import PromQLEngine
    from parquet_common_spark.promqltest.scriptparse import LoadCmd, Sample

    series = _diff_samples()
    root = tmp_path_factory.mktemp("diff")
    dirs = []
    for k in range(3):
        rows = [
            (labels, t * 1000, v)
            for labels, samples in series
            for t, v in samples
            if k * _SHARD_MS <= t < (k + 1) * _SHARD_MS
        ]
        df = spark.createDataFrame(rows, "labels map<string,string>, ts long, value double")
        d = str(root / f"s{k}")
        # 20-minute buckets: several per shard, so bucket pruning is live
        C.convert(df, d, col_duration_ms=20 * MIN_MS * 1000)
        dirs.append(d)
    scoped = PromQLEngine.from_shards(spark, dirs, ts_divisor=1000)
    model = PromQLEngine(spark)
    model.load(
        LoadCmd(_SCRAPE_MS, [(labels, [Sample(t, v) for t, v in s]) for labels, s in series])
    )
    return scoped, model


_DUR = st.sampled_from(["1m", "5m", "10m", "30m"])
_MOD = st.one_of(
    st.just(""),
    st.sampled_from(["1m", "10m", "1h", "-5m"]).map(lambda d: f" offset {d}"),
    st.integers(0, 3 * 60).map(lambda m: f" @ {m * 60}"),
    st.sampled_from([" @ start()", " @ end()"]),
)


@st.composite
def _scoped_exprs(draw):
    sel = draw(st.sampled_from(['m', 'm{job="a"}', 'm{code=~"5.."}', "g", "m{job!=\"a\"}"]))
    mod = draw(_MOD)
    rng = draw(_DUR)
    shape = draw(st.integers(0, 6))
    if shape == 0:
        return f"{sel}{mod}"
    if shape == 1:
        return f"sum by (code) ({sel}{mod})"
    if shape == 2:
        return f"rate({sel}[{rng}]{mod})"
    if shape == 3:
        fn = draw(st.sampled_from(["max_over_time", "count_over_time", "changes", "resets"]))
        return f"{fn}({sel}[{rng}]{mod})"
    if shape == 4:
        step = draw(st.sampled_from(["1m", "2m", "5m"]))
        return f"max_over_time(rate({sel}[5m])[{rng}:{step}]{mod})"
    if shape == 5:
        return f"sum by (job) (increase({sel}[{rng}]{mod})) / sum by (job) ({sel})"
    return f"timestamp({sel}{mod})"


def _as_map(result):
    kind, got = result
    if kind == "scalar":
        return {((), ev): v for ev, v in got.items()}
    return {
        (tuple(sorted(labels.items())), ev): v for labels, vals in got for ev, v in vals.items()
    }


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(data=st.data())
def test_scoped_select_matches_in_memory(diff_engines, data):
    """Random windows, offsets, ``@`` and subqueries: the window-scoped
    shard read gives exactly what the in-memory engine gives over the
    same samples, including windows that touch one shard of three, span
    two, or miss all of them."""
    scoped, model = diff_engines
    expr = data.draw(_scoped_exprs())
    start = data.draw(st.integers(-30, 3 * 60 + 30)) * MIN_MS
    length = data.draw(st.sampled_from([0, 10, 30, 45])) * MIN_MS
    step = data.draw(st.sampled_from([MIN_MS, 90_000, 5 * MIN_MS]))
    want = _as_map(model.eval_range(expr, start, start + length, step))
    got = _as_map(scoped.eval_range(expr, start, start + length, step))
    assert got.keys() == want.keys(), (expr, start, length, step)
    for k, v in want.items():
        g = got[k]
        assert (math.isnan(v) and math.isnan(g)) or math.isclose(g, v, rel_tol=1e-9, abs_tol=1e-9), (
            expr, start, k, g, v,
        )
