"""Repository benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload select-mix --seed 1 --seconds 10 --trace 0

Run from the repository root.  Spark runs at ``local[nproc]``.  Inputs
are built on first use into ``.perfbench_cache/`` (in a child process, so
neither set-up time nor peak memory includes the build), then the run

1. sets up once: starts Spark, opens the inputs and runs ``WARM_OPS``
   ops of a round drawn from a fixed seed (one of each kind first), checked;
   ``setup_s`` is the time from process start to the first timed op,
   less the input build;
2. draws the op stream from ``--seed`` and runs it in whole rounds until
   ``--seconds`` of op time has been measured, checking every result;
3. prints a report of every metric, then one JSON line with ``correct``,
   ``attempted``, ``failed`` and ``metrics``: the ``end_to_end`` metrics
   that BENCHMARK.json names with ``--trace 0``, its ``per_layer`` ones
   with ``--trace 1``.

``op_cpu_ms`` is the mean CPU time (this process plus the gateway JVM, all
threads) per op.  It leaves out time the machine gave to other tenants
but cannot see parallelism or waiting; ``ops_per_s`` (one client, so the
inverse of the mean op latency) does.  BENCHMARK.json bounds these two and
``setup_s``.  The median and tail latencies and ``peak_rss_mb`` are
reported beside them: on 4 vCPU their spread over ten seeds was too wide
to bound, as the median op moves with the seeded op mix and peak RSS with
when the JVM grows its heap.

With ``--trace 1`` the untraced loop runs first, then the same op stream
again with the span recorder installed, each for half of ``--seconds``;
the difference of their median
op latencies is the tracing overhead.  Spans and a run record are
written to ``.perfbench_cache/out/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import resource  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from contextlib import nullcontext  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import datagen as G  # noqa: E402
from perfbench import tracing as T  # noqa: E402
from perfbench.workloads import HEADLINE, WORKLOADS, _registry, query_layer  # noqa: E402

# printed for every workload; BENCHMARK.json names the ones the final JSON line carries
END_TO_END = {"setup_s": "s", "op_p50_ms": "ms", "op_tail_ms": "ms", "ops_per_s": "ops/s",
              "error_ratio": "ratio", "peak_rss_mb": "MB", "op_cpu_ms": "ms"}
TAIL_BEYOND = 10  # the tail percentile keeps this many ops above it
WARM_SEED = 999_983  # seed of the warm-up round's op stream
HEAP = "2g"


# -- environment -----------------------------------------------------------------

def configure_env() -> int:
    """Keep Spark's scratch files inside the checkout; return nproc."""
    nproc = len(os.sched_getaffinity(0))
    for sub in ("spark-local", "tmp", "warehouse"):
        (G.CACHE_ROOT / sub).mkdir(parents=True, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(nproc),
        SPARK_LOCAL_DIRS=str(G.CACHE_ROOT / "spark-local"),
        SPARK_DRIVER_MEMORY=HEAP,
        TMPDIR=str(G.CACHE_ROOT / "tmp"),
    )
    os.environ.pop("SPARK_MASTER", None)
    return nproc


def start_session():
    from parquet_common_spark.session import get_spark

    spark = get_spark("perfbench", extra_conf={
        "spark.sql.warehouse.dir": str(G.CACHE_ROOT / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={G.CACHE_ROOT / 'tmp'} "
                                         "-XX:-UsePerfData",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop Spark and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def jvm_hwm_kb(spark) -> int:
    pid = spark._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def cpu_clock(spark):
    """Seconds of CPU used so far by this process and the gateway JVM, all
    threads.  Unlike wall time it leaves out time the machine gave to other
    tenants."""
    stat = f"/proc/{spark._jvm.ProcessHandle.current().pid()}/stat"
    tick = os.sysconf("SC_CLK_TCK")

    def now() -> float:
        with open(stat) as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return time.process_time() + (int(fields[11]) + int(fields[12])) / tick

    return now


def versions(spark) -> dict:
    return {"spark": spark.version, "java": spark._jvm.System.getProperty("java.version"),
            "python": platform.python_version()}


# -- inputs ----------------------------------------------------------------------

def inputs_for(workload) -> Path | None:
    params = workload.build_params()
    return None if params is None else G.input_dir(f"{workload.name}-{workload.size}", params)


def ensure_inputs(workload, size: str) -> float:
    """Build missing inputs in a child process; returns seconds spent."""
    path = inputs_for(workload)
    if path is None or G.is_built(path):
        return 0.0
    t0 = time.perf_counter()
    subprocess.run([sys.executable, str(Path(__file__).resolve()), "--build", workload.name,
                    "--size", size], check=True, timeout=850)
    if not G.is_built(path):
        raise RuntimeError(f"input build for {workload.name} did not complete")
    return time.perf_counter() - t0


def build_main(name: str, size: str) -> int:
    configure_env()
    workload = WORKLOADS[name](size)
    spark = start_session()
    try:
        G.build_into(inputs_for(workload), lambda out: workload.build(spark, out))
    finally:
        stop_jvm(spark)
    return 0


# -- measurement -----------------------------------------------------------------

def percentile_tail(lat_ms: list[float]) -> tuple[float, float, int]:
    """(latency, percentile, ops beyond) at the highest nearest-rank
    percentile that leaves at least TAIL_BEYOND ops above it, but never
    below p90: a run of fewer than 100 ops reports its p90 and how few
    ops lie beyond it."""
    xs = sorted(lat_ms)
    n = len(xs)
    rank = max(n - TAIL_BEYOND, math.ceil(0.9 * n))  # 1-based
    return xs[rank - 1], 100.0 * rank / n, n - rank


def warm_ops(round_: list, n: int) -> list:
    """The first op of each kind in ``round_``, then the next ops in order,
    ``n`` in all (at least one of each kind)."""
    picked = []
    for op in round_:
        if all(op.kind != p.kind for p in picked):
            picked.append(op)
    for op in round_:
        if len(picked) >= n:
            break
        if all(op is not p for p in picked):
            picked.append(op)
    return picked


def closed_loop(workload, rounds, seconds: float, tracer=None, cpu=time.process_time) -> dict:
    """Run whole rounds until ``seconds`` of op time is measured, so every
    run measures the same op mix."""
    lat, cpu_ms, done, failures = [], [], [], []
    timed = 0.0
    for rnd in rounds:
        for op in rnd:
            if hasattr(workload, "prepare"):
                workload.prepare(op)
            if tracer is not None:
                tracer.op_id = len(done)
            err = None
            c0 = cpu()
            t0 = time.perf_counter()
            try:
                with tracer.span("bench.op", op=op.name) if tracer else nullcontext():
                    result = workload.run(op)
            except Exception as e:  # noqa: BLE001 — an op that raises is a failed op
                err = f"{type(e).__name__}: {e}"
            dt = time.perf_counter() - t0
            cpu_ms.append((cpu() - c0) * 1e3)
            if tracer is not None:
                tracer.op_id = None
                tracer.collect_counters()
            if err is None:
                try:
                    ok = workload.check(op, result)
                except Exception as e:  # noqa: BLE001 — a check that raises fails the op
                    ok, err = False, f"check {type(e).__name__}: {e}"
                if not ok and err is None:
                    err = "wrong result"
            if err is not None:
                failures.append(f"{op.kind}:{op.name}: {err}"[:300])
            timed += dt
            lat.append(dt * 1e3)
            done.append(op)
        if timed >= seconds:
            break
    return {"lat_ms": lat, "cpu_ms": cpu_ms, "ops": done, "failures": failures,
            "timed_s": timed}


def end_to_end(loop: dict, warm: dict, setup_s: float, rss_mb: float) -> dict:
    """Latencies come from the timed loop; errors count the warm-up ops too."""
    lat, ops = loop["lat_ms"], loop["ops"]
    tail, pct, beyond = percentile_tail(lat)
    m = {
        "setup_s": (setup_s, "s"),
        "op_p50_ms": (statistics.median(lat), "ms"),
        "op_cpu_ms": (statistics.fmean(loop["cpu_ms"]), "ms"),
        "op_tail_ms": (tail, "ms"),
        "ops_per_s": (len(lat) / loop["timed_s"], "ops/s"),
        "peak_rss_mb": (rss_mb, "MB"),
        "error_ratio": ((len(loop["failures"]) + len(warm["failures"]))
                        / (len(lat) + len(warm["lat_ms"])), "ratio"),
        "op_tail_pct": (pct, "%"),
        "op_tail_beyond": (beyond, "count"),
        "ops": (len(lat), "count"),
    }
    for kind, key in (("select", "select_p50_ms"), ("labels", "labels_p50_ms")):
        xs = [x for x, op in zip(lat, ops) if op.kind == kind]
        if xs:
            m[key] = (statistics.median(xs), "ms")
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny runs the same code on small inputs (tests)")
    ap.add_argument("--build", choices=sorted(WORKLOADS), help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if not (ROOT / G.PACKAGE / "__init__.py").is_file():
        print(f"perfbench: no {G.PACKAGE}/ package under {ROOT}", file=sys.stderr)
        return 2
    if args.build:
        return build_main(args.build, args.size)
    if not args.workload:
        ap.error("--workload is required")
    if args.seconds <= 0:
        ap.error("--seconds must be positive")

    import numpy as np

    nproc = configure_env()
    load_before = os.getloadavg()[0]
    workload = WORKLOADS[args.workload](args.size)
    build_s = ensure_inputs(workload, args.size)
    inputs = inputs_for(workload)

    t_s = time.perf_counter()
    spark = start_session()
    session_s = time.perf_counter() - t_s
    try:
        workload.open(spark, inputs)
        # the first ops of a round from a fixed seed, checked, warm the JIT
        # and Spark's code caches; their time is part of setup_s
        cpu = cpu_clock(spark)
        warm_round = workload.rounds(np.random.default_rng(WARM_SEED), 1)[0]
        warm = closed_loop(workload, [warm_ops(warm_round, workload.WARM_OPS)], math.inf, cpu=cpu)
        setup_s = time.perf_counter() - T_START - build_s
        # a traced run splits its time between the untraced and traced loops
        seconds = args.seconds / 2 if args.trace else args.seconds
        n_rounds = int(4 * args.seconds) + 8
        loop = closed_loop(workload, workload.rounds(np.random.default_rng(args.seed), n_rounds),
                           seconds, cpu=cpu)
        rss_mb = (jvm_hwm_kb(spark) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024
        metrics = end_to_end(loop, warm, setup_s, rss_mb)
        loop["failures"] = warm["failures"] + loop["failures"]
        if hasattr(workload, "extra_metrics"):
            metrics.update(workload.extra_metrics())
        layer: dict = {}
        if args.trace:
            tracer = T.Tracer(spark)
            workload.tracer = tracer
            tracer.install()
            try:
                traced = closed_loop(workload, workload.rounds(np.random.default_rng(args.seed),
                                                               n_rounds), seconds, tracer)
            finally:
                tracer.uninstall()
            layers = {q: query_layer(_registry()[q].fn) for q in HEADLINE}
            layer = T.per_layer_metrics(tracer.spans, traced["ops"], session_s, nproc, layers)
            layer["trace.overhead_ms"] = (
                statistics.median(traced["lat_ms"]) - statistics.median(loop["lat_ms"]), "ms")
            loop["failures"] += traced["failures"]
            loop["lat_ms_traced"] = traced["lat_ms"]
            tracer.dump(G.CACHE_ROOT / "out" / f"spans-{args.workload}-s{args.seed}.jsonl")
        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "size": args.size, "nproc": nproc, **versions(spark),
            "layers": T.LAYERS,
            "load1_before": load_before, "load1_after": os.getloadavg()[0],
            "setup_s": setup_s, "warm_s": warm["timed_s"], "session_start_s": session_s,
            "build_s": build_s,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in {**metrics, **layer}.items()},
            "ops": [f"{op.kind}:{op.name}" for op in loop["ops"]],
            "lat_ms": loop["lat_ms"], "cpu_ms": loop["cpu_ms"], "failures": loop["failures"],
        }
    finally:
        stop_jvm(spark)
    out = G.CACHE_ROOT / "out" / f"run-{args.workload}-s{args.seed}-t{args.trace}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps(record, indent=1))

    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} size={args.size} "
          f"nproc={nproc} spark={record['spark']} java={record['java']} "
          f"python={record['python']} load1={load_before:.2f}->{record['load1_after']:.2f}")
    for k, (v, u) in {**metrics, **layer}.items():
        print(f"  {k:<40} {v:>14.4f} {u}")
    for f in loop["failures"][:10]:
        print(f"  FAILED {f}")
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    values = layer if args.trace else metrics
    shown = {m["name"]: values[m["name"]] for m in bench["per_layer" if args.trace else "end_to_end"]}
    attempted = len(warm["lat_ms"]) + len(loop["lat_ms"]) + len(loop.get("lat_ms_traced", []))
    print(json.dumps({
        "correct": not loop["failures"],
        "attempted": attempted,
        "failed": len(loop["failures"]),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
