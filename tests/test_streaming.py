"""Structured Streaming: ingest round-trip, windowed agg with watermark,
custom stateful rate operator."""

from __future__ import annotations

import glob

import pytest
from pyspark.sql import functions as F

from parquet_common_spark import ShardDataset, convert_streaming, schema as S
from parquet_common_spark.streaming.ingest import (
    rate_per_series,
    windowed_series_agg,
)


def _write_sample_files(spark, d, n_batches=3):
    for b in range(n_batches):
        rows = []
        for i in range(4):
            labels = {"__name__": "cpu", "core": str(i)}
            for s in range(10):
                ts = (b * 10 + s) * 1000  # 1s apart
                rows.append((labels, ts, float(b * 10 + s)))
        spark.createDataFrame(rows, "labels map<string,string>, ts long, value double") \
            .coalesce(1).write.mode("append").parquet(d)


def test_convert_streaming_roundtrip(spark, tmp_path):
    """Stream ingest writes one complete shard per micro-batch: counts,
    time buckets per ``col_duration_ms``, and a restart with the same
    checkpoint processes nothing new."""
    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _write_sample_files(spark, src)
    stream = spark.readStream.schema(
        "labels map<string,string>, ts long, value double"
    ).parquet(src)

    def ingest():
        q = convert_streaming(stream, out, ckpt, col_duration_ms=10_000, mint_ms=0)
        q.awaitTermination(120)
        return sorted(glob.glob(out + "/batch=*"))

    batches = ingest()
    assert batches
    shards = [ShardDataset.read(spark, d) for d in batches]
    hashes = {r[0] for sh in shards for r in sh.series.select(S.SERIES_HASH_COLUMN).collect()}
    assert len(hashes) == 4
    assert sum(sh.samples.count() for sh in shards) == 4 * 30
    # time buckets assigned per 10s duration
    buckets = {r[0] for sh in shards for r in sh.samples.select(S.TIME_BUCKET_COLUMN).collect()}
    assert buckets == {0, 1, 2}
    # exactly-once: restarting with same checkpoint processes nothing new
    assert ingest() == batches
    assert sum(ShardDataset.read(spark, d).samples.count() for d in batches) == 120


def test_windowed_series_agg(spark, tmp_path):
    src = str(tmp_path / "in")
    rows = []
    for i in range(2):
        for s in range(180):
            rows.append((i, s * 1000, 1.0))
    df = spark.createDataFrame(rows, "series_hash long, ts_ms long, value double")
    df.coalesce(1).write.parquet(src)

    stream = (
        spark.readStream.schema("series_hash long, ts_ms long, value double")
        .parquet(src)
        .withColumn("ts", F.timestamp_millis(F.col("ts_ms")))
    )
    agg = windowed_series_agg(stream, window="1 minute", watermark="2 minutes")
    # update mode: append mode would hold every window open until a LATER
    # batch advances the watermark past it — a single availableNow batch
    # emits nothing in append mode (that behavior is Spark's, not ours)
    q = (
        agg.writeStream.format("memory")
        .queryName("winagg")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from winagg").collect()
    # 3 full minutes x 2 series
    assert len(got) == 6
    assert all(r["n_samples"] == 60 for r in got)
    assert {r["series_hash"] for r in got} == {0, 1}


def test_rate_per_series_stateful(spark, tmp_path):
    src = str(tmp_path / "in")
    # counter series: value increments 1 per second -> rate 1.0/s
    # (ts offset off epoch 0: an event-time at the initial watermark is late)
    rows = [(7, (s + 1) * 1000, float(s)) for s in range(60)]
    spark.createDataFrame(rows, "series_hash long, ts long, value double") \
        .coalesce(1).write.parquet(src)
    stream = spark.readStream.schema("series_hash long, ts long, value double").parquet(src)
    out = rate_per_series(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("rates")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from rates").collect()
    assert len(got) >= 1
    last = got[-1]
    assert last["series_hash"] == 7
    assert last["total_samples"] == 60
    assert abs(last["rate_per_sec"] - 1.0) < 1e-9


def test_rate_counter_reset_within_batch(spark, tmp_path):
    """A counter reset inside one micro-batch must yield the positive
    reset-compensated increase (batch-path parity), not last-first."""
    src = str(tmp_path / "in")
    rows = [(3, (s + 1) * 1000, float(s if s < 10 else s - 10)) for s in range(20)]
    spark.createDataFrame(rows, "series_hash long, ts long, value double") \
        .coalesce(1).write.parquet(src)
    stream = spark.readStream.schema("series_hash long, ts long, value double").parquet(src)
    q = (
        rate_per_series(stream)
        .writeStream.format("memory")
        .queryName("rates_reset")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    last = spark.sql("select * from rates_reset").collect()[-1]
    # increase = (9 - 0) + 9 (reset pre-value) = 18 over 19s
    assert last["rate_per_sec"] == pytest.approx(18.0 / 19.0)


def test_rate_counter_reset_across_batches(spark, tmp_path):
    """A reset BETWEEN micro-batches (process restart) must not produce a
    zero/negative rate — the state's last value participates in reset
    compensation."""
    src = str(tmp_path / "in")
    b1 = [(5, (s + 1) * 1000, float(s)) for s in range(10)]      # 0..9
    b2 = [(5, (11 + s) * 1000, float(s)) for s in range(10)]     # resets to 0..9
    spark.createDataFrame(b1, "series_hash long, ts long, value double") \
        .coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(b2, "series_hash long, ts long, value double") \
        .coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("series_hash long, ts long, value double")
        .option("maxFilesPerTrigger", 1)  # one file per micro-batch
        .parquet(src)
    )
    q = (
        rate_per_series(stream)
        .writeStream.format("memory")
        .queryName("rates_xbatch")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from rates_xbatch order by total_samples").collect()
    assert rows[-1]["total_samples"] == 20
    # batch 2: vals [9(state), 0..9]: increase = 9-9+9 = 9 over 10s
    assert rows[-1]["rate_per_sec"] == pytest.approx(0.9)


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Streaming exact-dedup: duplicate event_ids arriving within the
    watermark are dropped (the streaming face of the dedup operators)."""
    src = str(tmp_path / "in")
    # heavy dups; time base > 0 — a ts equal to the stream's initial
    # watermark (epoch 0) is treated as late and silently dropped
    base = 1_704_067_200_000
    rows = [(i % 5, base + i % 5 * 1000, float(i)) for i in range(50)]
    spark.createDataFrame(rows, "event_id long, ts_ms long, value double") \
        .coalesce(1).write.parquet(src)
    stream = (
        spark.readStream.schema("event_id long, ts_ms long, value double")
        .parquet(src)
        .withColumn("ts", F.timestamp_millis(F.col("ts_ms")))
    )
    deduped = stream.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(["event_id"])
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from dedup_stream").collect()
    assert len(got) == 5
    assert sorted(r["event_id"] for r in got) == [0, 1, 2, 3, 4]


def test_rate_state_expires_for_idle_series(spark, tmp_path):
    """A series idle past the retention horizon must have its state
    DROPPED (EventTimeTimeout): when it comes back, it restarts from
    fresh state (total_samples resets) instead of accumulating forever.
    Guards the unbounded-state-store failure mode of churning series."""
    src = str(tmp_path / "in")
    schema = "series_hash long, ts long, value double"
    hour = 3_600_000
    batches = [
        # b1: series 5 active at t ~ 0
        [(5, (s + 1) * 1000, float(s)) for s in range(10)],
        # b2: series 6 far in the future -> advances the watermark
        [(6, 3 * hour + s * 1000, float(s)) for s in range(5)],
        # b3: series 6 again -> watermark now way past series 5's
        # last_seen + retention; series 5's timeout fires this batch
        [(6, 3 * hour + 60_000 + s * 1000, float(s + 60)) for s in range(5)],
        # b4: series 5 returns -> must start from FRESH state
        [(5, 3 * hour + 120_000 + s * 1000, float(s)) for s in range(10)],
    ]
    for b in batches:
        spark.createDataFrame(b, schema).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = (
        rate_per_series(stream, watermark="1 second", retention_ms=60_000)
        .writeStream.format("memory")
        .queryName("rates_expiry")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    s5 = spark.sql(
        "select * from rates_expiry where series_hash = 5 order by total_samples"
    ).collect()
    totals = [r["total_samples"] for r in s5]
    # without expiry the second appearance would report 20; with expiry
    # the state was dropped while idle, so it reports a fresh 10
    assert 10 in totals and 20 not in totals and len(s5) == 2


def test_st5_streaming_neardup_matches_incremental_cross_pairs(spark):
    """The streaming arm must agree with the batch incremental path on
    the crossing (old, new) pairs; new-new pairs are d8's department."""
    from parquet_common_spark.plans.common import REGISTRY
    import parquet_common_spark.plans.analytics  # noqa: F401
    import parquet_common_spark.operators.pipeline_queries  # noqa: F401

    sf = "/root/testdata/sf0.001"
    st5 = {
        (r[0], r[1], r[2])
        for r in REGISTRY["st5_streaming_neardup"].fn(spark, sf).collect()
    }
    d8 = {
        (r[0], r[1], r[2])
        for r in REGISTRY["d8_incremental_dedup"].fn(spark, sf).collect()
        if r[0] < 300  # crossing pairs only
    }
    assert st5 == d8
    assert all(a < 300 <= b for a, b, _ in st5)


# -------------------- streaming transitions (st13 operator)


def _drive_transitions(spark, src, name, **kw):
    from parquet_common_spark.streaming.transitions import (
        streaming_transitions,
    )

    schema = "user_id long, _type string, _tus long, _tie long, _event_time timestamp"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        streaming_transitions(stream, **kw)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(
        f"select prev_type, next_type, sum(n) as n from {name} "
        "group by 1, 2 order by 1, 2"
    ).collect()


def _tx_rows(spark, rows):
    import datetime as dt

    utc = dt.timezone.utc
    return spark.createDataFrame(
        [
            (u, t, tus, tie, dt.datetime.fromtimestamp(tus / 1e6, tz=utc))
            for (u, t, tus, tie) in rows
        ],
        "user_id long, _type string, _tus long, _tie long, _event_time timestamp",
    )


def test_streaming_transitions_chain_across_batches(spark, tmp_path):
    """The pair straddling a micro-batch boundary is emitted exactly
    once, chained through the per-user state tail."""
    src = str(tmp_path / "in")
    _tx_rows(
        spark, [(1, "a", 1_000_000, 1), (1, "b", 2_000_000, 2)]
    ).coalesce(1).write.mode("append").parquet(src)
    _tx_rows(spark, [(1, "c", 3_000_000, 3)]).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    got = {(r.prev_type, r.next_type): r.n for r in _drive_transitions(
        spark, src, "tx_xbatch"
    )}
    assert got == {("a", "b"): 1, ("b", "c"): 1}


def test_streaming_transitions_sorts_within_batch(spark, tmp_path):
    """Rows arriving out of event-time order inside one batch are
    paired by (ts, tiebreak), not arrival order."""
    src = str(tmp_path / "in")
    _tx_rows(
        spark,
        [
            (1, "c", 3_000_000, 3),
            (1, "a", 1_000_000, 1),
            (1, "b", 2_000_000, 2),
            (2, "x", 1_000_000, 4),
            (2, "x", 2_000_000, 5),
        ],
    ).coalesce(1).write.mode("append").parquet(src)
    got = {(r.prev_type, r.next_type): r.n for r in _drive_transitions(
        spark, src, "tx_sort"
    )}
    assert got == {("a", "b"): 1, ("b", "c"): 1, ("x", "x"): 1}


def test_streaming_transitions_state_expires(spark, tmp_path):
    """After the watermark passes last-seen + retention the user's
    chain is forgotten: its next event starts cold (no pair)."""
    src = str(tmp_path / "in")
    hour = 3_600_000_000
    _tx_rows(spark, [(1, "a", 1 * hour, 1)]).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    # another user far in the future advances the watermark past
    # user 1's retention window
    _tx_rows(spark, [(2, "z", 50 * hour, 2)]).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    # a batch where user 1 has NO data: its timeout fires here (a key
    # with fresh rows in the same batch is served data, not a timeout)
    _tx_rows(spark, [(2, "z", 50 * hour + 1_000_000, 3)]).coalesce(
        1
    ).write.mode("append").parquet(src)
    _tx_rows(spark, [(1, "b", 51 * hour, 4)]).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    got = {(r.prev_type, r.next_type): r.n for r in _drive_transitions(
        spark, src, "tx_expire", watermark="0 seconds",
        retention_ms=60_000,
    )}
    # a->b would require user 1's state to survive expiry; user 2's
    # z->z pair within its own chain is the only transition left
    assert got == {("z", "z"): 1}


# -------------------- streaming funnel (st14 operator)


def _drive_funnel(spark, src, name, **kw):
    from parquet_common_spark.streaming.funnel import streaming_funnel

    schema = "user_id long, _type string, _tus long, _tie long, _event_time timestamp"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        streaming_funnel(stream, **kw)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(
        f"select user_id, max(step_reached) as step from {name} group by 1"
    ).collect()


def test_streaming_funnel_advances_across_batches(spark, tmp_path):
    """view in batch 1, click in batch 2, purchase in batch 3: the
    state must carry each completed step forward."""
    src = str(tmp_path / "in")
    for i, typ in enumerate(["view", "click", "purchase"]):
        _tx_rows(spark, [(1, typ, (i + 1) * 1_000_000, i)]).coalesce(
            1
        ).write.mode("append").parquet(src)
    got = {r.user_id: r.step for r in _drive_funnel(spark, src, "fn_x")}
    assert got == {1: 3}


def test_streaming_funnel_strictly_after_and_order(spark, tmp_path):
    """A click BEFORE the first view never counts; one AT the same
    instant doesn't either (strict >); a later one does.  A user with
    views only stays at step 1."""
    src = str(tmp_path / "in")
    _tx_rows(
        spark,
        [
            (1, "click", 1_000_000, 1),   # before any view: ignored
            (1, "view", 2_000_000, 2),
            (1, "click", 2_000_000, 3),   # same instant as t1: ignored
            (1, "click", 3_000_000, 4),   # counts
            (2, "view", 1_000_000, 5),
        ],
    ).coalesce(1).write.mode("append").parquet(src)
    got = {r.user_id: r.step for r in _drive_funnel(spark, src, "fn_strict")}
    assert got == {1: 2, 2: 1}


def test_streaming_funnel_no_emission_without_first_step(spark, tmp_path):
    """Clicks/purchases with no view emit nothing for that user."""
    src = str(tmp_path / "in")
    _tx_rows(
        spark, [(9, "click", 1_000_000, 1), (9, "purchase", 2_000_000, 2)]
    ).coalesce(1).write.mode("append").parquet(src)
    got = _drive_funnel(spark, src, "fn_none")
    assert got == []


# ------------------------------------------------ await_stream contract (r12)


def test_await_stream_blocks_until_termination_not_timeout():
    """await_stream must loop past individual awaitTermination timeouts and
    return only once the query actually terminates — the old fixed
    ``q.awaitTermination(300)`` returned False at timeout and let callers
    read a PARTIAL sink (the st6-at-sf100 hazard)."""
    from parquet_common_spark.plans.common import await_stream

    class FakeQuery:
        def __init__(self, rounds_until_done):
            self.rounds = rounds_until_done
            self.stopped = False
            self.name = "fake"
            self.id = "fake-id"

        def awaitTermination(self, timeout=None):
            self.rounds -= 1
            return self.rounds <= 0

        def stop(self):
            self.stopped = True

    q = FakeQuery(rounds_until_done=3)
    await_stream(q, deadline=3600)
    assert q.rounds == 0 and not q.stopped


def test_await_stream_deadline_raises_and_stops():
    """Past the hang-backstop deadline it must STOP the query and raise —
    never fall through to a sink read."""
    import pytest

    from parquet_common_spark.plans.common import await_stream

    class NeverDone:
        name = None
        id = "never-done"
        stopped = False

        def awaitTermination(self, timeout=None):
            return False

        def stop(self):
            self.stopped = True

    q = NeverDone()
    with pytest.raises(TimeoutError, match="never-done"):
        await_stream(q, deadline=0)
    assert q.stopped


def test_stream_shuffle_partitions_sizing(tmp_path):
    """One state store per ~32 MB of source, clamped to [4, cpu_count]:
    driver SFs keep the historical 4; a 2 GB sf100 events file fans out
    to the full machine instead of grinding 4 threads."""
    from parquet_common_spark.plans.common import stream_shuffle_partitions

    f = tmp_path / "events.parquet"
    f.write_bytes(b"x" * 1024)  # tiny: clamps up to lo
    assert stream_shuffle_partitions(str(tmp_path)) == "4"
    assert stream_shuffle_partitions(str(tmp_path), hi=32) == "4"
    # missing file: defensive lo (never crash the query on a stat)
    assert stream_shuffle_partitions(str(tmp_path), "nope.parquet") == "4"
    # synthetic sizes via per_bytes scaling: 2 GB at 32 MB/partition
    # wants 64, clamps to hi
    big = tmp_path / "big.parquet"
    big.write_bytes(b"x" * (8 << 20))
    assert stream_shuffle_partitions(
        str(tmp_path), "big.parquet", per_bytes=1 << 20, hi=32
    ) == "8"
    assert stream_shuffle_partitions(
        str(tmp_path), "big.parquet", per_bytes=64 << 10, hi=32
    ) == "32"
