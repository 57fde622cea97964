"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "headline_total_sec", "value": N, "unit": "sec",
   "queries": {"q1_pricing_summary": sec, ...}, "sf": 0.1}

Mirrors the reference's benchmark contract (BASELINE.md): wall sec/query
== ns/op; rows collected == series/op.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def render_stdout_line(result: dict) -> str:
    """Serialize the driver-facing stdout line, enforcing the <1900-char
    hard guard (the driver keeps only the last 2000 chars of stdout and
    json-parses the final line — r8/r9 recorded ``parsed: null`` when
    diagnostics bloated it).  On overflow, drop the band diagnostic and
    truncate the per-query map to 30 entries WITH an explicit marker
    (ADVICE r10: consumers must be able to tell the map is partial)."""
    line = json.dumps(result)
    if len(line) > 1900:
        # shallow-copy: never mutate the caller's dict (ADVICE r11 —
        # BENCH_DIAG.json is written from the same object later)
        result = dict(result)
        times = result.get("queries", {})
        result.pop("same_code_band_sec", None)
        result["queries"] = dict(sorted(times.items())[:30])
        result["queries_truncated"] = True
        result["queries_dropped"] = max(0, len(times) - 30)
        line = json.dumps(result)
    return line


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1")

    from parquet_common_spark.session import get_spark
    import __spark_entry__ as E
    from parquet_common_spark.plans.common import REGISTRY

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    E.queries()  # populate registry

    headline = [name for name, q in REGISTRY.items() if q.headline]
    errors: dict[str, str] = {}

    # FAULT ISOLATION: one broken query must never erase the whole round's
    # perf record (round 3 lost its entire bench to a warm-up crash).
    # Every warm-up and measured step is individually guarded, and the JSON
    # line is ALWAYS emitted — failed queries are reported as such.
    def guarded(name, fn):
        try:
            return fn()
        except Exception as e:  # noqa: BLE001 — report, don't abort
            errors[name] = f"{type(e).__name__}: {e}"[:500]
            return None

    # warm the JVM + parquet footers with a cheap NON-headline query, then
    # drop any cross-query caches it populated: every timed run below must
    # include its own full computation (no warm-up-primed cache reads)
    guarded("_warmup_e2", lambda: REGISTRY["e2_daily_activity"].fn(spark, sf_dir).collect())
    # spin up the Python/Arrow worker pool on a 32-row no-op so the first
    # timed Arrow-stage query doesn't pay daemon startup (infrastructure
    # warm-up only — no query results are primed)
    guarded(
        "_warmup_arrow",
        lambda: spark.range(32).repartition(32).mapInPandas(lambda it: it, "id long").count(),
    )
    from parquet_common_spark.operators.pipeline_queries import clear_pairs_cache

    clear_pairs_cache()

    # NOISE DISCIPLINE (VERDICT r7 ask #1): the driver-recorded total has
    # swung 16.4 -> 14.0 -> 11.1 -> 15.0 s on substantially-similar
    # headline code, so the artifact itself must carry enough to tell a
    # regression from host weather.  Every benched query (headline AND
    # select_* AND select_dir_*) runs >= 3 trials; the JSON records the full
    # per-query trial list, the host load-average before/after, and a
    # same-code band [sum-of-mins, sum-of-medians] — if a future total
    # sits inside the band, it's the same code under different weather.
    #
    # SETTLE GATE (VERDICT r8 'What's wrong #2'): r8's own artifact showed
    # the INVERSE of the recorded monotone-decay signature — later trials
    # inflated while loadavg climbed 3.4→8.1 (load arriving MID-RUN, which
    # best-of-3 absorbs but Σ-median misreads).  So: (a) spin-wait up to
    # SETTLE_TIMEOUT for the 1-min loadavg to drop below SETTLE_LOAD
    # before the first timed trial, and (b) annotate the JSON with a
    # weather verdict when load still arrives mid-run, so the reader
    # never has to re-derive the rule from raw trials.
    SETTLE_LOAD = float(os.environ.get("SPARK_GRAFT_SETTLE_LOAD", "4.0"))
    SETTLE_TIMEOUT = float(os.environ.get("SPARK_GRAFT_SETTLE_TIMEOUT", "120"))
    settle_waited = 0.0
    while os.getloadavg()[0] > SETTLE_LOAD and settle_waited < SETTLE_TIMEOUT:
        time.sleep(5)
        settle_waited += 5
    settled = os.getloadavg()[0] <= SETTLE_LOAD
    load_start = list(os.getloadavg())

    times: dict[str, float] = {}
    rows: dict[str, int] = {}
    spread: dict[str, list[float]] = {}
    # best-of-3 per query: the host VM shows multi-second scheduler noise
    # (observed 2s vs 23s for the same plan back-to-back, and a full-run
    # 15s vs 33s spread under load-avg-5), so a single sample can
    # misreport a stable plan by 10x and even min-of-two catches a bad
    # pair.  Min-of-three costs ~40s more and halves the variance again;
    # every trial drops cross-query caches first so each timed run
    # includes its own full computation (no cache-primed reads).
    for name in headline:
        best = None
        samples: list[float] = []
        for _ in range(3):
            clear_pairs_cache()
            t0 = time.perf_counter()
            out = guarded(name, lambda n=name: REGISTRY[n].fn(spark, sf_dir).collect())
            if out is None:
                break
            dt = time.perf_counter() - t0
            samples.append(round(dt, 3))
            best = dt if best is None else min(best, dt)
            rows[name] = len(out)
        if best is not None:
            times[name] = round(best, 3)
            spread[name] = samples

    # reference-shaped BenchmarkSelect: 11 matcher workloads over the
    # 1.5M-series F2 dataset (mirrors BASELINE.md's primary benchmark).
    # r13: the primary layout behind these names is now the bucketed
    # zero-exchange table pair (one file per bucket) — same dataset,
    # same matchers, same result rows; the directory layout is the
    # secondary key below.  The interleaved A/B is in the message of
    # commit 24918dd.
    def run_select_bench():
        from parquet_common_spark.benchmarks import select_bench

        for name, r in select_bench.run(spark).items():
            times[f"select_{name}"] = r["sec"]
            rows[f"select_{name}"] = r["series"]
            spread[f"select_{name}"] = r["trials"]

    guarded("_select_bench", run_select_bench)

    # directory-layout A/B for the two heaviest select workloads: keeps
    # the bucketed-vs-directory trade measured in every round artifact.
    # Reported under a SEPARATE key so the headline total stays
    # comparable round-over-round.
    select_dir: dict[str, float] = {}

    def run_select_dir_bench():
        from parquet_common_spark.benchmarks import select_bench

        for name, r in select_bench.run_dir(spark).items():
            select_dir[f"select_dir_{name}"] = r["sec"]
            spread[f"select_dir_{name}"] = r["trials"]

    guarded("_select_dir_bench", run_select_dir_bench)

    def median(xs: list[float]) -> float:
        s = sorted(xs)
        n = len(s)
        return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2

    # same-code band for the HEADLINE total (the regression-gated value):
    # [Σ min, Σ median] over each headline query's trials.  A future
    # total inside this band is weather; a total above Σ-median of a
    # clean run deserves a plan diff.
    band = [
        round(sum(min(s) for n, s in spread.items() if n in times and s), 3),
        round(sum(median(s) for n, s in spread.items() if n in times and s), 3),
    ]

    # WEATHER VERDICT: load arriving mid-run inflates LATER trials (the
    # non-monotone signature r8 recorded); cache/JIT warm-up inflates the
    # FIRST trial with monotone decay.  Either way the best-of-N headline
    # stays comparable; the verdict tells the reader which Σ-median to
    # trust without re-deriving the rule from raw trial lists.
    load_end = list(os.getloadavg())
    load_delta = round(load_end[0] - load_start[0], 2)
    late_inflated = [
        n for n, s in spread.items()
        if len(s) >= 3 and min(s) == s[0] and max(s[1:]) > 2.0 * s[0]
    ]
    weather = {
        "settled": settled,
        "settle_waited_sec": settle_waited,
        "load_delta_1m": load_delta,
        "mid_run_load_arrival": load_delta > 2.0 and bool(late_inflated),
        "late_inflated_queries": late_inflated[:10],
        "rule": "non-monotone trials + rising load => weather (trust "
                "sum-of-mins); monotone first-trial decay => cache warm-up",
    }

    # THE STDOUT CONTRACT (r10, VERDICT-r9 follow-up to the r8/r9
    # parsed:null regression): the driver keeps only the LAST 2000 CHARS
    # of stdout and json-parses the final line — r8/r9's line grew past
    # that with trial diagnostics and the recorded BENCH_r{8,9}.json
    # carried parsed:null.  So stdout gets a COMPACT line (metric,
    # value, unit, queries, sf, band — well under the cap) and the full
    # diagnostics (trials, rows, loadavg, weather, select_dir, errors) go
    # to BENCH_DIAG.json next to this script.
    diag = {
        "rows": rows,
        "trials": spread,
        "same_code_band_sec": band,
        "load_avg": {"start": load_start, "end": load_end},
        "weather": weather,
        # the DIRECTORY-layout secondary (select_dir_*); diagnostics
        # written before this key existed carry it as "bucketed"
        "select_dir": select_dir,
        "errors": errors,
    }
    diag_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DIAG.json")
    try:
        with open(diag_path, "w") as f:
            json.dump(diag, f, indent=1)
    except OSError:
        pass

    result = {
        "metric": "headline_total_sec",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "same_code_band_sec": band,
        "weather_ok": settled and not weather["mid_run_load_arrival"],
    }
    if errors:
        result["n_errors"] = len(errors)
    print(render_stdout_line(result))
    return 0


if __name__ == "__main__":
    try:
        raise SystemExit(main())
    except SystemExit:
        raise
    except Exception as e:  # noqa: BLE001 — always emit the JSON line
        print(
            json.dumps(
                {
                    "metric": "headline_total_sec",
                    "value": None,
                    "unit": "sec",
                    "queries": {},
                    "error": f"{type(e).__name__}: {e}"[:500],
                }
            )
        )
        raise SystemExit(0)
