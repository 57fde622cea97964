"""Span recorder for the traced run, installed from outside the package.

``Tracer.install()`` wraps the package's public calls where they are
looked up (e.g. ``parquet_common_spark.queryable.matchers_to_predicate``)
so each call records a span: name, start, end, parent span and op id.
Each span also sets its id as the Spark job group, so after every op the
jobs, stages and SQL executions it ran are read from the driver's status
stores and attributed to the innermost span that started them.  Spans
stay in memory and are written out at the end of the run.

``LAYERS`` maps each layer to its per-layer metrics, the end-to-end
metrics they should move and the workloads they are measured on; every
run record carries it.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

# layer -> (metrics, end-to-end metrics they should move, workloads)
LAYERS = {
    "session": (["session.start_s"], ["setup_s"], "all"),
    "convert": (["convert.call_ms", "convert.jobs", "convert.shuffle_bytes",
                 "convert.files_written", "convert.bytes_written"],
                ["op_p50_ms", "ops_per_s", "op_cpu_ms", "bytes_per_sample"],
                "range-query (one 1,000-series block per round), ingest"),
    "matchers": (["matchers.compile_us"], ["select_p50_ms", "op_cpu_ms"], "select-mix, range-query"),
    "queryable": (["queryable.select.call_ms", "queryable.select.exec_ms",
                   "queryable.select.files_read", "queryable.select.scan_bytes",
                   "queryable.select.rows_scanned", "queryable.select.scan_per_returned",
                   "queryable.select.shuffle_bytes", "queryable.labels.call_ms",
                   "queryable.labels.scan_bytes"],
                  ["select_p50_ms", "labels_p50_ms", "op_p50_ms", "ops_per_s", "op_cpu_ms"],
                  "select-mix, range-query"),
    "limits": (["limits.check_ms", "limits.jobs", "limits.trips"],
               ["select_p50_ms", "op_tail_ms", "op_cpu_ms"], "select-mix"),
    "engine": (["engine.parse_ms", "engine.plan_ms", "engine.exec_ms", "engine.rows_scanned",
                "engine.scan_per_used", "engine.shuffle_bytes"],
               ["op_p50_ms", "op_tail_ms", "ops_per_s", "op_cpu_ms"], "range-query"),
    "plans/operators": (["plans.<query>.exec_ms", "operators.<query>.exec_ms",
                         "analytics.shuffle_bytes"], ["op_p50_ms", "ops_per_s", "op_cpu_ms"],
                        "analytics"),
    "spark": (["spark.jobs_per_op", "spark.tasks_per_op", "spark.busy_share",
               "spark.gc_ms_per_op"], ["op_p50_ms", "op_tail_ms", "ops_per_s", "op_cpu_ms",
                                       "peak_rss_mb"], "all"),
}
SELF_LAYERS = ("bench", "convert", "matchers", "queryable", "limits", "engine",
               "plans", "operators")


@dataclass
class Span:
    id: int
    parent: int | None
    op: int | None
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1e3


def _newer(seq, key, seen: int) -> list:
    """Items of a Scala Seq with ``key > seen``, read from its newest end
    (status-store lists are sorted by id, in either direction)."""
    n = seq.size()
    if n == 0:
        return []
    idx = range(n) if key(seq.apply(0)) >= key(seq.apply(n - 1)) else range(n - 1, -1, -1)
    out = []
    for i in idx:
        item = seq.apply(i)
        if key(item) <= seen:
            break
        out.append(item)
    return out


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._undo: list = []
        self.op_id: int | None = None
        self._seen_job = -1
        self._seen_exec = -1
        self._seen_stages: set[int] = set()

    # spans -------------------------------------------------------------------
    def _group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"pb-{span.id}", span.name)

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), parent.id if parent else None, self.op_id, name,
                  time.perf_counter(), attrs=dict(attrs))
        self.spans.append(sp)
        self._stack.append(sp)
        self._group(sp)
        try:
            yield sp
        except BaseException as e:
            sp.attrs["error"] = type(e).__name__
            raise
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._group(self._stack[-1] if self._stack else None)

    def _wrap(self, name: str, fn, after=None):
        tracer = self

        def traced(*a, **kw):
            with tracer.span(name) as sp:
                out = fn(*a, **kw)
            if after is not None:
                after(sp, a, kw, out)
            return out

        traced.__wrapped__ = fn
        return traced

    def _patch(self, owner, attr: str, name: str, after=None) -> None:
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        if isinstance(orig, classmethod):
            new = classmethod(self._wrap(name, orig.__func__, after))
        else:
            new = self._wrap(name, orig, after)
        setattr(owner, attr, new)
        self._undo.append((owner, attr, orig))

    def install(self) -> None:
        from parquet_common_spark import convert as C, limits, queryable
        from parquet_common_spark.promqltest import engine, promqlparse

        def convert_out(sp, a, kw, _):
            from perfbench.datagen import dir_bytes, parquet_files

            out = Path(kw.get("out_dir", a[1] if len(a) > 1 else ""))
            sp.attrs.update(files_written=parquet_files(out), bytes_written=dir_bytes(out))

        self._patch(C, "convert", "convert.call", convert_out)
        self._patch(queryable, "matchers_to_predicate", "matchers.compile")
        self._patch(engine, "matcher_to_predicate", "matchers.compile")
        Q = queryable.ParquetQueryable
        self._patch(Q, "select", "queryable.select.call")
        self._patch(Q, "label_names", "queryable.labels.call")
        self._patch(Q, "label_values", "queryable.labels.call")
        self._patch(limits.Quota, "check_rows", "limits.check")
        self._patch(limits.Quota, "check_bytes", "limits.check")
        E = engine.PromQLEngine
        self._patch(E, "from_shards", "engine.open")
        self._patch(E, "eval_range_df", "engine.plan")
        self._patch(promqlparse, "parse_promql", "engine.parse")
        self.mark()

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)
        self._group(None)

    # Spark status stores -----------------------------------------------------
    def mark(self) -> None:
        """Forget jobs and executions that ran before now."""
        self._drain()
        for j in _newer(self.sc._jsc.sc().statusStore().jobsList(None),
                        lambda j: j.jobId(), self._seen_job):
            self._seen_job = max(self._seen_job, j.jobId())
        for e in _newer(self.spark._jsparkSession.sharedState().statusStore().executionsList(),
                        lambda e: e.executionId(), self._seen_exec):
            self._seen_exec = max(self._seen_exec, e.executionId())

    def _drain(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def collect_counters(self) -> None:
        """Attribute the jobs, stages and SQL executions that ran since the
        last call to the spans that started them (untimed)."""
        self._drain()
        by_id = {s.id: s for s in self.spans}
        store = self.sc._jsc.sc().statusStore()
        job_span: dict[int, Span] = {}
        new_jobs = _newer(store.jobsList(None), lambda j: j.jobId(), self._seen_job)
        for j in new_jobs:
            self._seen_job = max(self._seen_job, j.jobId())
            g = j.jobGroup()
            gid = g.get() if g.isDefined() else ""
            sp = by_id.get(int(gid[3:])) if gid.startswith("pb-") else None
            if sp is None:
                continue
            job_span[j.jobId()] = sp
            c = sp.attrs.setdefault("spark", {})
            c["jobs"] = c.get("jobs", 0) + 1
            sids = j.stageIds()
            for k in range(sids.size()):
                sid = sids.apply(k)
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                st = store.lastStageAttempt(sid)
                if st.status().toString() != "COMPLETE":
                    continue
                for key, v in (("tasks", st.numCompleteTasks()), ("input_bytes", st.inputBytes()),
                               ("shuffle_bytes", st.shuffleWriteBytes()),
                               ("run_ms", st.executorRunTime()), ("gc_ms", st.jvmGcTime())):
                    c[key] = c.get(key, 0) + int(v)
        sql = self.spark._jsparkSession.sharedState().statusStore()
        for ex in _newer(sql.executionsList(), lambda e: e.executionId(), self._seen_exec):
            eid = ex.executionId()
            self._seen_exec = max(self._seen_exec, eid)
            ids = ex.jobs().keys().toSeq()
            owners = [job_span[ids.apply(k)] for k in range(ids.size()) if ids.apply(k) in job_span]
            if not owners:
                continue
            rows, files = self._scan_metrics(sql, eid)
            c = owners[0].attrs.setdefault("spark", {})
            c["rows_scanned"] = c.get("rows_scanned", 0) + rows
            c["files_read"] = c.get("files_read", 0) + files

    @staticmethod
    def _scan_metrics(sql, eid) -> tuple[int, int]:
        values = sql.executionMetrics(eid)
        nodes = sql.planGraph(eid).allNodes()
        rows = files = 0
        for i in range(nodes.size()):
            node = nodes.apply(i)
            if not node.name().startswith("Scan"):
                continue
            ms = node.metrics()
            for k in range(ms.size()):
                m = ms.apply(k)
                if m.name() not in ("number of output rows", "number of files read"):
                    continue
                v = values.get(m.accumulatorId())
                n = int(v.get().replace(",", "").split()[0]) if v.isDefined() else 0
                if m.name() == "number of output rows":
                    rows += n
                else:
                    files += n
        return rows, files

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({"id": s.id, "parent": s.parent, "op": s.op, "name": s.name,
                                    "start": s.start, "end": s.end, "attrs": s.attrs}) + "\n")


# -- per-layer metrics ---------------------------------------------------------

def _subtree(spans: list[Span]) -> dict[int, list[Span]]:
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    return kids


def in_ops(spans: list[Span]) -> list[Span]:
    """The spans inside a timed op (a ``bench.op`` span or below it)."""
    by_id = {s.id: s for s in spans}

    def root(s: Span) -> Span:
        while s.parent is not None:
            s = by_id[s.parent]
        return s

    return [s for s in spans if root(s).name == "bench.op"]


def self_ms(span: Span, kids: dict[int, list[Span]]) -> float:
    """Duration minus the part of it covered by child spans."""
    covered, cur_end = 0.0, span.start
    for c in sorted(kids.get(span.id, []), key=lambda c: c.start):
        lo, hi = max(c.start, cur_end), min(c.end, span.end)
        if hi > lo:
            covered += hi - lo
            cur_end = hi
    return (span.end - span.start - covered) * 1e3


def _med(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _counter(spans, key) -> int:
    return sum(s.attrs.get("spark", {}).get(key, 0) for s in spans)


def per_layer_metrics(spans: list[Span], ops: list, session_s: float, cores: int,
                      query_layers: dict[str, str]) -> dict[str, tuple[float, str]]:
    """Every per-layer metric from the spans of one traced loop.

    Times are medians per call; convert, select and engine counts are per
    call of that layer, the others per timed op; a layer that the workload
    never calls reads 0."""
    spans = in_ops(spans)
    kids = _subtree(spans)
    n_ops = max(len(ops), 1)
    named = lambda n: [s for s in spans if s.name == n]  # noqa: E731
    under = lambda prefix: [s for s in spans if s.name.startswith(prefix)]  # noqa: E731
    m: dict[str, tuple[float, str]] = {"session.start_s": (session_s, "s")}

    conv = named("convert.call")
    per_conv = max(len(conv), 1)
    m["convert.call_ms"] = (_med([s.ms for s in conv]), "ms")
    m["convert.jobs"] = (_counter(under("convert."), "jobs") / per_conv, "count")
    m["convert.shuffle_bytes"] = (_counter(under("convert."), "shuffle_bytes") / per_conv, "B")
    m["convert.files_written"] = (
        sum(s.attrs.get("files_written", 0) for s in conv) / per_conv, "count")
    m["convert.bytes_written"] = (sum(s.attrs.get("bytes_written", 0) for s in conv) / per_conv, "B")

    m["matchers.compile_us"] = (_med([s.ms * 1e3 for s in named("matchers.compile")]), "us")

    sel_call, sel_exec = named("queryable.select.call"), named("queryable.select.exec")
    m["queryable.select.call_ms"] = (_med([s.ms for s in sel_call]), "ms")
    m["queryable.select.exec_ms"] = (_med([s.ms for s in sel_exec]), "ms")
    per_sel = max(len(sel_exec), 1)
    m["queryable.select.files_read"] = (_counter(sel_exec, "files_read") / per_sel, "count")
    m["queryable.select.scan_bytes"] = (_counter(sel_exec, "input_bytes") / per_sel, "B")
    m["queryable.select.rows_scanned"] = (_counter(sel_exec, "rows_scanned") / per_sel, "count")
    returned = sum(s.attrs.get("returned", 0) for s in sel_exec)
    m["queryable.select.scan_per_returned"] = (
        _counter(sel_exec, "rows_scanned") / returned if returned else 0.0, "ratio")
    m["queryable.select.shuffle_bytes"] = (_counter(sel_exec, "shuffle_bytes") / per_sel, "B")
    labels = named("queryable.labels.call")
    m["queryable.labels.call_ms"] = (_med([s.ms for s in labels]), "ms")
    m["queryable.labels.scan_bytes"] = (
        _counter(labels, "input_bytes") / max(len(labels), 1), "B")

    checks = named("limits.check")
    m["limits.check_ms"] = (_med([s.ms for s in checks]), "ms")
    m["limits.jobs"] = (_counter(checks, "jobs") / n_ops, "count")
    m["limits.trips"] = (sum(1 for s in checks if s.attrs.get("error") == "ResourceExhausted")
                         / n_ops, "count")

    eng_exec = named("engine.exec")
    per_query = max(len(eng_exec), 1)
    m["engine.parse_ms"] = (_med([s.ms for s in named("engine.parse")]), "ms")
    m["engine.plan_ms"] = (_med([self_ms(s, kids) for s in named("engine.plan")]), "ms")
    m["engine.exec_ms"] = (_med([s.ms for s in eng_exec]), "ms")
    scanned = _counter(eng_exec, "rows_scanned")
    used = sum(op.info.get("used", 0) for op in ops if op.kind == "range")
    m["engine.rows_scanned"] = (scanned / per_query, "count")
    m["engine.scan_per_used"] = (scanned / used if used else 0.0, "ratio")
    m["engine.shuffle_bytes"] = (_counter(eng_exec, "shuffle_bytes") / per_query, "B")

    for q, layer in query_layers.items():
        m[f"{layer}.{q}.exec_ms"] = (_med([s.ms for s in named(f"{layer}.{q}.exec")]), "ms")
    m["analytics.shuffle_bytes"] = (
        (_counter(under("plans."), "shuffle_bytes") + _counter(under("operators."), "shuffle_bytes"))
        / n_ops, "B")

    wall_s = sum(s.end - s.start for s in spans if s.name == "bench.op")
    m["spark.jobs_per_op"] = (_counter(spans, "jobs") / n_ops, "count")
    m["spark.tasks_per_op"] = (_counter(spans, "tasks") / n_ops, "count")
    m["spark.busy_share"] = (_counter(spans, "run_ms") / 1e3 / (wall_s * cores) if wall_s else 0.0,
                             "ratio")
    m["spark.gc_ms_per_op"] = (_counter(spans, "gc_ms") / n_ops, "ms")

    totals = {layer: 0.0 for layer in SELF_LAYERS}
    for s in spans:
        if s.layer in totals:
            totals[s.layer] += self_ms(s, kids)
    for layer, v in totals.items():
        m[f"self.{layer}_ms"] = (v / n_ops, "ms")
    return m
