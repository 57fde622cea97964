"""Seeded input generators and the on-disk input cache.

Every dataset is a pure function of its parameters (size, data seed), so
the benchmark can rebuild it anywhere from source.  Expected results are
derived here, from the generator's own arithmetic, never from the code
under test:

* ``F2`` — the reference BenchmarkSelect cross-product (1.5M series at
  full size); a matcher set's series count is the product over labels of
  the values each label's matchers accept.
* ``RangeData`` — counters with known per-series slopes, sine gauges and
  classic-histogram ``_bucket`` counters, scraped every 60 s.
* ``ingest_block`` — one 2h block of counter and gauge scrapes with
  seeded series churn.
* ``write_analytics_tables`` — sf0.1-shaped TPC-H-ish tables plus
  events, documents and embeddings.

The cache lives under ``<checkout>/.perfbench_cache``.  Its key covers
the dataset name, its parameters and a hash of the package sources, so a
change to ``parquet_common_spark`` rebuilds inputs that its code writes.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import re
import shutil
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = Path(__file__).resolve().parent.parent
CACHE_ROOT = ROOT / ".perfbench_cache"
PACKAGE = "parquet_common_spark"
# bump when a generator's output changes for the same parameters
GENERATOR_VERSION = 1
# datasets use a fixed data seed so one cached build serves every run
# seed; the run seed draws the op stream (and the ingest blocks)
DATA_SEED = 20240101

T0_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
DAY_MS = 86_400_000
SCRAPE_MS = 60_000


# -- cache -----------------------------------------------------------------

def package_source_hash(root: Path = ROOT) -> str:
    """sha256 over every ``parquet_common_spark/**/*.py`` path and body."""
    h = hashlib.sha256()
    for p in sorted((root / PACKAGE).rglob("*.py")):
        h.update(str(p.relative_to(root)).encode())
        h.update(b"\0")
        h.update(p.read_bytes())
        h.update(b"\0")
    return h.hexdigest()


def cache_key(name: str, params: dict, root: Path = ROOT) -> str:
    blob = json.dumps(
        {
            "name": name,
            "params": params,
            "generator": GENERATOR_VERSION,
            "source": package_source_hash(root),
        },
        sort_keys=True,
    )
    return f"{name}-{hashlib.sha256(blob.encode()).hexdigest()[:16]}"


def input_dir(name: str, params: dict) -> Path:
    """Cache directory of a dataset; complete once it holds ``_COMPLETE``."""
    return CACHE_ROOT / "inputs" / cache_key(name, params)


def is_built(path: Path) -> bool:
    return (path / "_COMPLETE").exists()


def build_into(final: Path, build) -> None:
    """Run ``build(tmp_dir)`` and rename the result into ``final``, so an
    interrupted build never looks complete.  Stale entries of the same
    dataset are removed first."""
    final.parent.mkdir(parents=True, exist_ok=True)
    name = final.name.rsplit("-", 1)[0]
    for old in final.parent.glob(f"{name}-*"):
        shutil.rmtree(old, ignore_errors=True)
    tmp = final.parent / f".{final.name}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    build(tmp)
    (tmp / "_COMPLETE").touch()
    tmp.rename(final)


def dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in Path(path).rglob("*") if p.is_file())


def parquet_files(path: Path) -> int:
    return sum(1 for p in Path(path).rglob("*.parquet") if p.is_file())


# -- F2: the BenchmarkSelect cross product -----------------------------------

@dataclass(frozen=True)
class F2:
    """Label domains of the cross-product dataset; one sample per series."""

    metrics: int = 5
    instances: int = 100
    regions: int = 5
    zones: int = 10
    services: int = 20
    environments: int = 3

    @classmethod
    def of_size(cls, size: str) -> "F2":
        return cls() if size == "full" else cls(3, 12, 2, 3, 4, 3)

    def domains(self) -> dict[str, list[str]]:
        return {
            "__name__": [f"test_metric_{i}" for i in range(self.metrics)],
            "instance": [f"instance-{i}" for i in range(self.instances)],
            "region": [f"region-{i}" for i in range(self.regions)],
            "zone": [f"zone-{i}" for i in range(self.zones)],
            "service": [f"service-{i}" for i in range(self.services)],
            "environment": [f"environment-{i}" for i in range(self.environments)],
        }

    @property
    def series(self) -> int:
        return math.prod(len(v) for v in self.domains().values())

    def accepted(self, label: str, matchers) -> list[str]:
        """Values of ``label`` accepted by every matcher on it (absent
        labels read as "" as in Prometheus)."""
        values = self.domains().get(label, [""])
        return [v for v in values if all(_match(m, v) for m in matchers if m.name == label)]

    def expected_series(self, matchers) -> int:
        names = set(self.domains()) | {m.name for m in matchers}
        return math.prod(len(self.accepted(n, matchers)) for n in names)

    def expected_label_values(self, label: str, matchers) -> list[str]:
        if self.expected_series(matchers) == 0:
            return []
        return sorted(v for v in self.accepted(label, matchers) if v)

    def expected_label_names(self, matchers) -> list[str]:
        return sorted(self.domains()) if self.expected_series(matchers) else []

    def write(self, spark, out_dir: Path, convert) -> None:
        doms = self.domains()
        sizes = [len(v) for v in doms.values()]
        idx = np.indices(sizes).reshape(len(sizes), -1)  # every label combination
        cols = {f"l_{label}": pa.array(np.array(values, dtype=object)[i], pa.string())
                for (label, values), i in zip(doms.items(), idx)}
        rng = np.random.default_rng(DATA_SEED)
        stage = out_dir.parent / f"input-{out_dir.name}.parquet"
        pq.write_table(pa.table({**cols, "ts": np.zeros(idx.shape[1], dtype=np.int64),
                                 "value": rng.random(idx.shape[1])}), stage)
        convert(spark.read.parquet(str(stage)), str(out_dir), labels_col=None, mint_ms=0,
                maxt_ms=0, col_duration_ms=3_600_000)
        stage.unlink()


def _match(m, value: str) -> bool:
    if m.op == "=":
        return value == m.value
    if m.op == "!=":
        return value != m.value
    hit = re.fullmatch(m.value, value, re.DOTALL) is not None
    return hit if m.op == "=~" else not hit


# -- range-query shards -------------------------------------------------------

LE_BOUNDS = (0.005, 0.01, 0.025, 0.05, 0.1, 0.25, 0.5, 1.0)


def _le_str(b: float) -> str:
    return "+Inf" if math.isinf(b) else repr(b)


@dataclass
class RangeData:
    """Counters, gauges and histogram buckets over ``days`` daily shards.

    ``http_requests_total{job,instance,code}`` = slope * seconds + base;
    ``memory_usage_bytes{job,instance}`` = base + amp * sin(...);
    ``request_duration_seconds_bucket{job,instance,le}`` = cumulative
    bucket slope * seconds."""

    jobs: int
    instances: int
    days: int
    seed: int = DATA_SEED

    CODES = ("200", "404", "500")

    @classmethod
    def of_size(cls, size: str) -> "RangeData":
        return cls(8, 10, 2) if size == "full" else cls(2, 3, 2)

    def __post_init__(self):
        rng = np.random.default_rng(self.seed)
        nj, ni, nc = self.jobs, self.instances, len(self.CODES)
        self.job_names = [f"job-{j}" for j in range(nj)]
        self.counter_slope = rng.uniform(0.1, 10.0, (nj, ni, nc))
        self.counter_base = rng.uniform(0.0, 1000.0, (nj, ni, nc))
        self.gauge_base = rng.uniform(1e8, 4e8, (nj, ni))
        self.gauge_amp = rng.uniform(1e6, 5e7, (nj, ni))
        self.gauge_period_s = rng.uniform(1800.0, 14400.0, (nj, ni))
        self.gauge_phase = rng.uniform(0.0, 2 * math.pi, (nj, ni))
        # per-bucket increments; the +Inf bucket gets a small share so the
        # 0.9 quantile always lands in a finite bucket
        inc = rng.uniform(0.5, 5.0, (nj, ni, len(LE_BOUNDS) + 1))
        inc[..., -1] = rng.uniform(0.0, 0.2, (nj, ni))
        self.bucket_slope = np.cumsum(inc, axis=-1)

    @property
    def samples_per_day(self) -> int:
        return DAY_MS // SCRAPE_MS

    @property
    def series(self) -> int:
        return self.jobs * self.instances * (len(self.CODES) + 1 + len(LE_BOUNDS) + 1)

    def gauge(self, j, i, ts_ms):
        t = (np.asarray(ts_ms, dtype=np.float64) - T0_MS) / 1000.0
        return self.gauge_base[j, i] + self.gauge_amp[j, i] * np.sin(
            2 * math.pi * t / self.gauge_period_s[j, i] + self.gauge_phase[j, i]
        )

    def day_table(self, day: int) -> pa.Table:
        ts = T0_MS + day * DAY_MS + np.arange(self.samples_per_day, dtype=np.int64) * SCRAPE_MS
        secs = (ts - T0_MS) / 1000.0
        cols: dict[str, list] = {k: [] for k in ("name", "job", "instance", "code", "le")}
        ts_parts, val_parts = [], []

        def add(name, job, inst, code, le, values):
            n = len(ts)
            for k, v in (("name", name), ("job", job), ("instance", inst), ("code", code), ("le", le)):
                cols[k].append(np.full(n, v, dtype=object))
            ts_parts.append(ts)
            val_parts.append(values)

        for j, job in enumerate(self.job_names):
            for i in range(self.instances):
                inst = f"{job}-host-{i}"
                for c, code in enumerate(self.CODES):
                    add("http_requests_total", job, inst, code, None,
                        self.counter_slope[j, i, c] * secs + self.counter_base[j, i, c])
                add("memory_usage_bytes", job, inst, None, None, self.gauge(j, i, ts))
                for k, b in enumerate(LE_BOUNDS + (math.inf,)):
                    add("request_duration_seconds_bucket", job, inst, None, _le_str(b),
                        self.bucket_slope[j, i, k] * secs)
        return pa.table({
            "l___name__": pa.array(np.concatenate(cols["name"]), pa.string()),
            "l_job": pa.array(np.concatenate(cols["job"]), pa.string()),
            "l_instance": pa.array(np.concatenate(cols["instance"]), pa.string()),
            "l_code": pa.array(np.concatenate(cols["code"]), pa.string()),
            "l_le": pa.array(np.concatenate(cols["le"]), pa.string()),
            "ts": pa.array(np.concatenate(ts_parts), pa.int64()),
            "value": pa.array(np.concatenate(val_parts), pa.float64()),
        })

    def write(self, spark, out_dir: Path, convert) -> list[str]:
        shards = []
        for day in range(self.days):
            stage = out_dir / f"input-day{day}.parquet"
            pq.write_table(self.day_table(day), stage)
            shard = out_dir / f"day{day}"
            convert(spark.read.parquet(str(stage)), str(shard), labels_col=None)
            stage.unlink()
            shards.append(str(shard))
        return shards

    # closed-form expectations ------------------------------------------------

    def steps(self, start_ms: int, end_ms: int, step_ms: int) -> np.ndarray:
        return np.arange(start_ms, end_ms + 1, step_ms, dtype=np.int64)

    def expect_rate_sum_by_job(self, code: str) -> dict[str, float]:
        c = self.CODES.index(code)
        return {job: float(self.counter_slope[j, :, c].sum()) for j, job in enumerate(self.job_names)}

    def expect_bucket_quantile(self, q: float, job: str) -> float:
        cum = self.bucket_slope[self.job_names.index(job)].sum(axis=0)
        bounds = LE_BOUNDS + (math.inf,)
        rank = q * cum[-1]
        k = int(np.searchsorted(cum, rank, side="left"))
        if k >= len(LE_BOUNDS):
            return LE_BOUNDS[-1]
        lo_b = 0.0 if k == 0 else bounds[k - 1]
        lo_c = 0.0 if k == 0 else cum[k - 1]
        return lo_b + (bounds[k] - lo_b) * (rank - lo_c) / (cum[k] - lo_c)

    def expect_max_over_time(self, job: str, steps: np.ndarray, window_ms: int) -> dict:
        """{(instance, step): max gauge sample in (step - window, step]}."""
        j = self.job_names.index(job)
        n_back = window_ms // SCRAPE_MS  # samples in the left-open window
        out = {}
        for i in range(self.instances):
            for ev in steps:
                ts = ev - np.arange(n_back, dtype=np.int64) * SCRAPE_MS
                out[(f"{job}-host-{i}", int(ev))] = float(self.gauge(j, i, ts).max())
        return out

    def expect_topk_gauge(self, k: int, steps: np.ndarray) -> dict[int, list[float]]:
        vals = np.stack([
            self.gauge(j, i, steps) for j in range(self.jobs) for i in range(self.instances)
        ])
        top = -np.sort(-vals, axis=0)[:k]
        return {int(ev): top[:, s].tolist() for s, ev in enumerate(steps)}

    def samples_in_window(self, n_series: int, start_ms: int, end_ms: int, range_ms: int) -> int:
        """Stored samples of ``n_series`` series with ts in
        (start - range, end] — the rows a range query needs."""
        first = start_ms - range_ms + SCRAPE_MS
        return n_series * ((end_ms - first) // SCRAPE_MS + 1)


# -- ingest blocks ------------------------------------------------------------

BLOCK_MS = 2 * 3600 * 1000
INGEST_METRICS = ("node_cpu_seconds_total", "http_requests_total", "bytes_sent_total",
                  "errors_total", "gc_runs_total",
                  "memory_bytes", "queue_depth", "temperature_celsius", "open_fds", "load1")


@dataclass
class IngestStream:
    """Successive 2h blocks; ~``churn`` of the instances are replaced
    between blocks.  Half the metric names are counters, half gauges."""

    instances: int
    samples: int = BLOCK_MS // SCRAPE_MS
    churn: float = 0.1
    seed: int = 0

    @classmethod
    def of_size(cls, size: str, seed: int, instances: int = 500) -> "IngestStream":
        return cls(instances, seed=seed) if size == "full" else cls(20, 12, seed=seed)

    @property
    def series(self) -> int:
        return self.instances * len(INGEST_METRICS)

    def blocks(self):
        """Yields ``(block_index, pa.Table)`` forever."""
        rng = np.random.default_rng([self.seed, 7])
        live = np.arange(self.instances)
        next_id = self.instances
        b = 0
        while True:
            if b:
                k = int(round(self.churn * self.instances))
                out = rng.choice(self.instances, size=k, replace=False)
                live = live.copy()
                live[out] = np.arange(next_id, next_id + k)
                next_id += k
            yield b, self._block(rng, b, live)
            b += 1

    def _block(self, rng, b: int, live: np.ndarray) -> pa.Table:
        n_inst, n_s, n_m = len(live), self.samples, len(INGEST_METRICS)
        ts = T0_MS + b * BLOCK_MS + np.arange(n_s, dtype=np.int64) * SCRAPE_MS
        half = n_m // 2
        # counters: monotone integer-ish increments; gauges: slow walks
        inc = rng.poisson(rng.uniform(1, 50, (half, n_inst, 1)), (half, n_inst, n_s))
        counters = rng.uniform(0, 1e6, (half, n_inst, 1)).round() + np.cumsum(inc, axis=-1)
        walk = np.cumsum(rng.normal(0, 0.5, (n_m - half, n_inst, n_s)), axis=-1)
        gauges = (rng.uniform(10, 1000, (n_m - half, n_inst, 1)) + walk).round(2)
        values = np.concatenate([counters, gauges]).astype(np.float64)
        names = np.repeat(np.array(INGEST_METRICS, dtype=object), n_inst * n_s)
        inst = np.tile(np.repeat(np.array([f"host-{i}" for i in live], dtype=object), n_s), n_m)
        job = np.tile(np.repeat(np.array([f"job-{i % 10}" for i in live], dtype=object), n_s), n_m)
        return pa.table({
            "l___name__": pa.array(names, pa.string()),
            "l_instance": pa.array(inst, pa.string()),
            "l_job": pa.array(job, pa.string()),
            "ts": pa.array(np.tile(ts, n_m * n_inst), pa.int64()),
            "value": pa.array(values.reshape(-1), pa.float64()),
        })


# -- analytics tables ---------------------------------------------------------

WORDS = (
    "the a and of to in is it batch part spark line column order small sort fast "
    "value scan hash slow group agg filter query big key window row table stream "
    "merge data join vector customer shuffle plan cache index page block shard "
    "label series sample chunk bloom footer codec metric range"
).split()


def analytics_rows(size: str) -> dict[str, int]:
    scale = 1.0 if size == "full" else 0.01
    return {
        "customer": int(15_000 * scale), "supplier": max(int(1_000 * scale), 25),
        "part": int(20_000 * scale), "orders": int(150_000 * scale),
        "lineitem": int(600_000 * scale), "events": int(100_000 * scale),
        "documents": int(5_000 * scale), "embeddings": max(int(2_000 * scale), 50),
    }


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts_us(rng, start: str, end: str, n, whole_days: bool):
    lo = np.datetime64(start, "us").astype(np.int64)
    hi = np.datetime64(end, "us").astype(np.int64)
    v = rng.integers(lo, hi, n)
    if whole_days:
        v -= v % 86_400_000_000
    return pa.array(v, pa.timestamp("us"))


def write_analytics_tables(out_dir: Path, size: str, seed: int = DATA_SEED) -> None:
    """sf0.1-shaped tables (one parquet file each), columns independent
    and uniform like the reference test data."""
    rng = np.random.default_rng(seed)
    n = analytics_rows(size)
    out_dir.mkdir(parents=True, exist_ok=True)

    def put(name, cols):
        pq.write_table(pa.table(cols), out_dir / f"{name}.parquet")

    put("region", {"r_regionkey": pa.array(np.arange(5), pa.int32()),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    put("nation", {"n_nationkey": pa.array(np.arange(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    c = n["customer"]
    put("customer", {
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], c),
    })
    s = n["supplier"]
    put("supplier", {
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, s),
    })
    p = n["part"]
    adj = np.array(["large", "hot", "blue", "green", "small", "red", "tiny", "steel"])
    noun = np.array(["ring", "bolt", "gear", "pipe", "valve", "spring"])
    put("part", {
        "p_partkey": np.arange(p, dtype=np.int64),
        "p_name": np.char.add(np.char.add(rng.choice(adj, p), " "), rng.choice(noun, p)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, p).astype(str)),
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], p),
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) / 10.0, 2),
    })
    o = n["orders"]
    okeys = rng.choice(o * 4, o, replace=False).astype(np.int64)
    okeys.sort()
    put("orders", {
        "o_orderkey": okeys,
        "o_custkey": rng.integers(0, c, o).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], o),
        "o_totalprice": _money(rng, 1000.0, 500000.0, o),
        "o_orderdate": _ts_us(rng, "1995-01-01", "2001-08-02", o, True),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], o),
    })
    li = n["lineitem"]
    lok = np.sort(rng.choice(okeys, li))
    linenumber = np.ones(li, dtype=np.int32)
    for k in range(1, li):  # 1-based position within each order
        if lok[k] == lok[k - 1]:
            linenumber[k] = linenumber[k - 1] + 1
    put("lineitem", {
        "l_orderkey": lok,
        "l_partkey": rng.integers(0, p, li).astype(np.int64),
        "l_suppkey": rng.integers(0, s, li).astype(np.int64),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], li),
        "l_linestatus": rng.choice(["F", "O"], li),
        "l_shipdate": _ts_us(rng, "1995-01-02", "2001-11-05", li, True),
    })
    e = n["events"]
    put("events", {
        "event_id": np.arange(e, dtype=np.int64),
        "ts": _ts_us(rng, "2024-01-01", "2024-01-31", e, False),
        "user_id": rng.integers(0, max(e // 66, 10), e).astype(np.int64),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], e),
        "value": _money(rng, 0.0, 500.0, e),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })
    d = n["documents"]
    words = np.array(WORDS)
    texts: list[str] = []
    for i in range(d):
        if i > 10 and rng.random() < 0.1:  # near-duplicate of an earlier doc
            toks = texts[int(rng.integers(0, i))].split()
            for k in rng.integers(0, len(toks), max(1, len(toks) // 20)):
                toks[k] = str(rng.choice(words))
        else:
            toks = list(rng.choice(words, int(rng.integers(8, 100))))
        texts.append(" ".join(toks))
    put("documents", {
        "doc_id": np.arange(d, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "en", "en", "es", "fr", "de"], d),
        "source": np.char.add("src", rng.integers(0, 20, d).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    v = n["embeddings"]
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, v)
    emb = (centers[labels] + rng.normal(0, 0.6, (v, 64))).astype(np.float32)
    put("embeddings", {
        "vec_id": np.arange(v, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
