"""Fidelity chunk codec: framing round-trip, chunk cutting, time pruning
(reference semantics: schema/encoder.go:105-113, 200-222, 274-325)."""

from __future__ import annotations

import pytest

from parquet_common_spark import schema as S
from parquet_common_spark.functions import chunks as CK


def test_uvarint_roundtrip():
    for n in [0, 1, 127, 128, 300, 2**20, 2**40, 2**62]:
        buf = CK._uvarint(n)
        got, pos = CK._read_uvarint(buf, 0)
        assert got == n and pos == len(buf)


def test_uvarint_negative_terminates_and_wraps():
    # pre-1970 timestamp: must NOT hang; wraps via uint64 like the Go
    # encoder (schema/encoder.go) and sign-restores on decode
    buf = CK._uvarint(-5)
    got, _ = CK._read_uvarint(buf, 0)
    assert got == (1 << 64) - 5
    assert CK._to_i64(got) == -5


def test_pack_unpack_roundtrip():
    samples = [(i * 1000, float(i) * 1.5) for i in range(300)]
    buf = CK.pack_chunks(samples, samples_per_chunk=120)
    assert CK.unpack_chunks(buf) == samples


def test_pack_unpack_pre_1970_timestamps():
    # negative ts (pre-epoch): framing mint/maxt and the first delta are
    # negative — full round-trip incl. chunk-level time pruning
    samples = [(-500_000 + i * 1000, float(i)) for i in range(250)]
    buf = CK.pack_chunks(samples, samples_per_chunk=100)
    assert CK.unpack_chunks(buf) == samples
    got = CK.unpack_chunks(buf, mint=-400_000, maxt=-300_000)
    assert got == [(t, v) for t, v in samples if -400_000 <= t <= -300_000]


def test_chunk_cutting():
    # 300 samples at 120/chunk -> 3 chunks (reference re-cut semantics)
    samples = [(i, float(i)) for i in range(300)]
    buf = CK.pack_chunks(samples, samples_per_chunk=120)
    n_chunks = 0
    pos = 0
    while pos < len(buf):
        _, pos = CK._read_uvarint(buf, pos)   # enc
        _, pos = CK._read_uvarint(buf, pos)   # mint
        _, pos = CK._read_uvarint(buf, pos)   # maxt
        ln, pos = CK._read_uvarint(buf, pos)  # len
        pos += ln
        n_chunks += 1
    assert n_chunks == 3


def test_time_pruning():
    samples = [(i * 10, float(i)) for i in range(100)]
    buf = CK.pack_chunks(samples, samples_per_chunk=10)
    got = CK.unpack_chunks(buf, mint=250, maxt=500)
    assert got == [(t, v) for t, v in samples if 250 <= t <= 500]
    assert CK.unpack_chunks(buf, mint=10**9) == []


def test_xor_chunk_header_and_first_sample():
    # Gorilla layout: 2-byte BE count, zigzag-varint first ts, raw 64-bit
    # first value (prometheus/tsdb/chunkenc XOR chunk wire format)
    import struct

    buf = CK.encode_chunk([(3, 1.5)])
    assert buf[0:2] == (1).to_bytes(2, "big")
    assert buf[2] == 6  # zigzag(3) = 6, single varint byte
    assert buf[3:11] == struct.pack(">Q", struct.unpack("<Q", struct.pack("<d", 1.5))[0])


def test_xor_compresses_regular_series():
    # constant scrape interval + repeated values: dod=0 (1 bit/ts) and
    # xor=0 (1 bit/value) — far below the 16 B/sample raw form
    samples = [(1000 + 15_000 * i, 42.0) for i in range(120)]
    buf = CK.encode_chunk(samples)
    assert len(buf) < 120 * 2  # ~0.25 B/sample + header/first-sample cost


def test_xor_special_values_roundtrip():
    import math
    import struct

    vals = [0.0, -0.0, float("nan"), float("inf"), float("-inf"), 1e-300, -1e300]
    samples = [(i * 1000, v) for i, v in enumerate(vals)]
    got = CK.decode_chunk(CK.encode_chunk(samples))
    assert [t for t, _ in got] == [t for t, _ in samples]
    for (_, a), (_, b) in zip(samples, got):
        assert struct.pack("<d", a) == struct.pack("<d", b)  # bit-exact, NaN incl.


def test_xor_full_width_window():
    # xor with 0 leading and 0 trailing zero bits: the 6-bit significant
    # length wraps 64 -> 0 and the decoder must restore it
    import struct

    a = struct.unpack("<d", struct.pack("<Q", 0x8000_0000_0000_0001))[0]
    b = struct.unpack("<d", struct.pack("<Q", 0x0000_0000_0000_0000))[0]
    samples = [(0, a), (1000, b), (2000, a)]
    got = CK.decode_chunk(CK.encode_chunk(samples))
    assert struct.pack("<d", got[1][1]) == struct.pack("<d", b)
    assert struct.pack("<d", got[2][1]) == struct.pack("<d", a)


def test_xor_dod_windows():
    # deltas exercising each prefix window: 0, ±14-bit, ±17-bit, ±20-bit,
    # and the 64-bit escape
    deltas = [15_000, 15_000, 15_000 + 8192, 15_000 - 8191, 2_000_000, 100,
              268_435_556, 100, 10**15, 100]
    ts, samples = 0, []
    for i, d in enumerate([0] + deltas):
        ts += d
        samples.append((ts, float(i)))
    assert CK.decode_chunk(CK.encode_chunk(samples)) == samples


def test_xor_roundtrip_property():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    ts_deltas = st.lists(st.integers(min_value=0, max_value=10**9), min_size=1, max_size=60)
    values = st.floats(allow_nan=False, width=64)

    @settings(max_examples=50, deadline=None)
    @given(start=st.integers(min_value=-(2**40), max_value=2**40), deltas=ts_deltas, data=st.data())
    def run(start, deltas, data):
        ts, samples = start, []
        for d in deltas:
            samples.append((ts, data.draw(values)))
            ts += d + 1
        assert CK.decode_chunk(CK.encode_chunk(samples)) == samples

    run()


def test_dataframe_pack_roundtrip(spark):
    rows = [(h, (t // 100), t, float(h * 1000 + t)) for h in (1, 2) for t in range(0, 500, 7)]
    df = spark.createDataFrame(
        rows,
        f"{S.SERIES_HASH_COLUMN} long, {S.TIME_BUCKET_COLUMN} int, {S.TS_COLUMN} long, {S.VALUE_COLUMN} double",
    )
    packed = CK.samples_to_packed(df, samples_per_chunk=20)
    assert packed.count() == df.select(S.SERIES_HASH_COLUMN, S.TIME_BUCKET_COLUMN).distinct().count()
    back = CK.packed_to_samples(packed)
    assert sorted(map(tuple, back.collect())) == sorted(rows)
    # time-pruned decode
    pruned = CK.packed_to_samples(packed, mint=100, maxt=200)
    expected = [r for r in rows if 100 <= r[2] <= 200]
    assert sorted(map(tuple, pruned.collect())) == sorted(expected)


def test_series_filter_callback(spark):
    from pyspark.sql import functions as F

    from parquet_common_spark import Matcher, ParquetQueryable
    from parquet_common_spark import convert as C

    df = spark.createDataFrame(
        [({"__name__": "m", "pod": f"p{i}"}, 0, float(i)) for i in range(6)],
        "labels map<string,string>, ts long, value double",
    )
    q = ParquetQueryable([C.to_shard(df)])
    out = q.select(
        0, 10, [Matcher("__name__", "=", "m")],
        series_filter=lambda s: F.col("l_pod").isin("p1", "p3"),
    )
    assert sorted(r["l_pod"] for r in out.collect()) == ["p1", "p3"]


def test_convert_max_series(spark, tmp_path):
    from parquet_common_spark import ParquetQueryable
    from parquet_common_spark import convert as C

    df = spark.createDataFrame(
        [({"__name__": "m", "i": str(i)}, 0, 1.0) for i in range(20)],
        "labels map<string,string>, ts long, value double",
    )
    out = str(tmp_path / "capped")
    C.convert(df, out, max_series=5)
    sh = ParquetQueryable.from_paths(spark, [out]).shards[0]
    assert sh.series.count() == 5
    assert sh.samples.count() == 5


def test_convert_max_series_keeps_first_in_sort_order(spark, tmp_path):
    """The cap keeps the first N series in the written sort order (sort
    labels, then the full label set), whatever the shuffle layout."""
    from parquet_common_spark import ParquetQueryable
    from parquet_common_spark import convert as C

    df = spark.createDataFrame(
        [({"__name__": "m", "i": str(i)}, 0, 1.0) for i in range(20)],
        "labels map<string,string>, ts long, value double",
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for parts in ("1", "7"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            out = str(tmp_path / f"capped{parts}")
            C.convert(df, out, max_series=5)
            sh = ParquetQueryable.from_paths(spark, [out]).shards[0]
            assert sorted(r["l_i"] for r in sh.series.collect()) == ["0", "1", "10", "11", "12"]
            assert sorted(r["l_i"] for r in sh.samples.join(sh.series, "s_series_hash").collect()) == [
                "0", "1", "10", "11", "12"
            ]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


# ------------------------------------------ native histogram chunk codec
# (EncHistogram / EncFloatHistogram, reference schema/encoder.go:75-84)


def _mk_hist(ts, rng, float_counts=False):
    import random

    r = random.Random(rng)
    pos = sorted(r.sample(range(-25, 50), r.randint(0, 10)))
    neg = sorted(r.sample(range(-15, 30), r.randint(0, 6)))
    cast = (lambda x: x + 0.25) if float_counts else int
    return CK.HistogramSample(
        ts, r.choice([0, 2, 3]), 1e-9,
        cast(r.randint(0, 9)), cast(r.randint(1, 900)),
        r.uniform(-1e6, 1e6),
        tuple(pos), tuple(cast(r.randint(1, 99)) for _ in pos),
        tuple(neg), tuple(cast(r.randint(1, 99)) for _ in neg),
    )


def test_spans_roundtrip_edge_cases():
    for idx in ([], [5], [-3, -2, -1], [0, 1, 5, 6, 7, 100], [-5, 0, 1]):
        assert CK._spans_to_idx(CK._idx_to_spans(idx)) == idx


def test_histogram_pack_unpack_roundtrip():
    for fc in (False, True):
        samples = sorted(
            (_mk_hist(t * 977 + (t % 3), t, fc) for t in range(300)), key=lambda s: s.ts
        )
        buf = CK.pack_histogram_chunks(samples, samples_per_chunk=32, float_counts=fc)
        assert CK.unpack_histogram_chunks(buf) == samples


def test_histogram_encoding_ids_match_reference():
    # chunkenc ids: XOR=1, Histogram=2, FloatHistogram=3
    s = [_mk_hist(0, 1)]
    buf = CK.pack_histogram_chunks(s)
    enc, _ = CK._read_uvarint(buf, 0)
    assert enc == CK.ENC_HISTOGRAM == 2
    buf = CK.pack_histogram_chunks([_mk_hist(0, 1, True)], float_counts=True)
    enc, _ = CK._read_uvarint(buf, 0)
    assert enc == CK.ENC_FLOAT_HISTOGRAM == 3
    assert CK.ENC_XOR == 1


def test_histogram_time_pruning():
    samples = [_mk_hist(t * 1000, t) for t in range(200)]
    buf = CK.pack_histogram_chunks(samples, samples_per_chunk=50)
    got = CK.unpack_histogram_chunks(buf, mint=40_000, maxt=120_000)
    assert got == [s for s in samples if 40_000 <= s.ts <= 120_000]


def test_histogram_zero_threshold_must_be_constant():
    a = _mk_hist(0, 1)
    b = _mk_hist(1000, 2)._replace(zero_threshold=0.5)
    with pytest.raises(ValueError, match="zero_threshold"):
        CK.encode_histogram_chunk([a, b], float_counts=False)


def test_histogram_roundtrip_property():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    idxs = st.lists(st.integers(min_value=-100, max_value=100), max_size=12, unique=True)
    counts = st.integers(min_value=0, max_value=10**9)
    floats = st.floats(allow_nan=False, width=64)

    @st.composite
    def hist_samples(draw):
        n = draw(st.integers(min_value=1, max_value=40))
        ts = draw(st.integers(min_value=-(2**40), max_value=2**40))
        out = []
        for _ in range(n):
            pos = tuple(sorted(draw(idxs)))
            neg = tuple(sorted(draw(idxs)))
            out.append(
                CK.HistogramSample(
                    ts, draw(st.integers(min_value=-4, max_value=8)), 1e-9,
                    draw(counts), draw(counts), draw(floats),
                    pos, tuple(draw(counts) for _ in pos),
                    neg, tuple(draw(counts) for _ in neg),
                )
            )
            ts += draw(st.integers(min_value=1, max_value=10**9))
        return out

    @settings(max_examples=40, deadline=None)
    @given(samples=hist_samples())
    def run(samples):
        buf = CK.pack_histogram_chunks(samples, samples_per_chunk=16)
        assert CK.unpack_histogram_chunks(buf) == samples

    run()


def test_histogram_dataframe_roundtrip(spark):
    from pyspark.sql import functions as F

    rows = [
        (h, t // 100, t, 2, 1, 10 + t % 5, float(t) * 0.5,
         [1, 2, 5], [3, 2, 1], [0], [4])
        for h in (7, 8)
        for t in range(0, 400, 10)
    ]
    schema = (
        f"{S.SERIES_HASH_COLUMN} long, {S.TIME_BUCKET_COLUMN} int, {S.TS_COLUMN} long,"
        " nh_schema int, nh_zero_count long, nh_count long, nh_sum double,"
        " nh_pos_idx array<int>, nh_pos_counts array<long>,"
        " nh_neg_idx array<int>, nh_neg_counts array<long>"
    )
    df = spark.createDataFrame(rows, schema)
    packed = CK.histograms_to_packed(df, samples_per_chunk=16)
    assert (
        packed.count()
        == df.select(S.SERIES_HASH_COLUMN, S.TIME_BUCKET_COLUMN).distinct().count()
    )
    back = CK.packed_to_histograms(packed)
    got = sorted(
        (r[0], r[1], r[2], r[3], r[4], r[5], r[6], list(r[7]), list(r[8]), list(r[9]), list(r[10]))
        for r in back.collect()
    )
    assert got == sorted(rows)
    pruned = CK.packed_to_histograms(packed, mint=100, maxt=250)
    assert pruned.count() == len([r for r in rows if 100 <= r[2] <= 250])


def test_mixed_encoding_cell_roundtrip():
    """Mirror of the reference's TestEncodeDecode invariants
    (schema/encoder_test.go:31-97): a cell holding float AND histogram
    chunks of one series decodes to exactly the input samples, every
    decoded chunk respects the samples_per_chunk cap, and time pruning
    drops whole frames regardless of encoding."""
    floats = [(t * 1000, float(t) * 0.5) for t in range(100)]
    hists = [_mk_hist(t * 1000 + 1, t) for t in range(70)]
    cap = 30
    buf = CK.pack_mixed_chunks(floats, hists, samples_per_chunk=cap)
    # per-chunk sample cap (walk the frames, decode each body)
    pos, per_chunk = 0, []
    while pos < len(buf):
        enc, pos = CK._read_uvarint(buf, pos)
        _, pos = CK._read_uvarint(buf, pos)
        _, pos = CK._read_uvarint(buf, pos)
        ln, pos = CK._read_uvarint(buf, pos)
        body = buf[pos : pos + ln]
        pos += ln
        if enc == CK.ENC_XOR:
            per_chunk.append(len(CK.decode_chunk(body)))
        else:
            per_chunk.append(len(CK.decode_histogram_chunk(body, enc == 3)))
    assert all(n <= cap for n in per_chunk)
    assert sum(per_chunk) == len(floats) + len(hists)
    # lossless decode of both sample kinds
    got_f, got_h = CK.unpack_mixed_chunks(buf)
    assert got_f == floats and got_h == hists
    # pruning drops whole frames of either encoding
    got_f, got_h = CK.unpack_mixed_chunks(buf, mint=10_000, maxt=50_000)
    assert got_f == [s for s in floats if 10_000 <= s[0] <= 50_000]
    assert got_h == [s for s in hists if 10_000 <= s.ts <= 50_000]


def test_bucket_range_clamps_like_data_colum_idx():
    """Mirror of schema_builder_test.go Test_DataColumIdx's clamp cases:
    a timestamp below the shard's mint lands in bucket 0."""
    from parquet_common_spark.schema import ShardMeta

    meta = ShardMeta(
        mint_ms=3_600_000, maxt_ms=5 * 3_600_000, col_duration_ms=3_600_000,
        sort_labels=("__name__",),
    )
    # query entirely BEFORE the shard -> empty bucket range (lo > hi);
    # the reference's write-side DataColumIdx clamps ts<mint to 0
    # (:66-109 case mint=1h ts=0) because no such sample can exist —
    # query-side, an empty range is the correct pruning
    lo, hi = meta.bucket_range(0, 0)
    assert lo > hi
    # a range straddling the shard start clamps low to bucket 0
    assert meta.bucket_range(0, 3_600_000) == (0, 0)
    # query far beyond maxt clamps to the last bucket (query-side
    # semantics; the reference's write-side idx is unclamped upward but
    # no sample beyond maxt exists by construction)
    lo, hi = meta.bucket_range(0, 10**9)
    assert lo == 0 and hi == (5 * 3_600_000 - 3_600_000) // 3_600_000


def test_encoders_reject_oversized_sample_count():
    # the chunk count header is 16-bit; >65535 samples must raise, not
    # silently truncate the count and corrupt the chunk
    with pytest.raises(ValueError, match="65535"):
        CK.encode_chunk([(i, 1.0) for i in range(65_536)])
    hs = CK.HistogramSample(
        ts=0, schema=0, zero_threshold=0.0, zero_count=0, count=1, sum=1.0,
        pos_idx=(), pos_counts=(), neg_idx=(), neg_counts=(),
    )
    with pytest.raises(ValueError, match="65535"):
        CK.encode_histogram_chunk([hs] * 65_536, float_counts=False)


def test_nhcb_chunk_roundtrip():
    """Custom-bucket (NHCB, schema -53) histogram chunks round-trip the
    custom_values header; a bounds change inside one chunk is rejected
    (chunkenc cuts a new chunk on a custom-values change)."""
    cv = (0.5, 2.0, 10.0)
    samples = [
        CK.HistogramSample(
            1000 * i, -53, 0.0, 0, 4 * (i + 1), 10.0 * (i + 1),
            (0, 1, 2), (i + 1, 2 * (i + 1), i + 1), (), (), cv,
        )
        for i in range(5)
    ]
    buf = CK.pack_histogram_chunks(samples, samples_per_chunk=3)
    assert CK.unpack_histogram_chunks(buf) == samples
    # time-pruned read keeps the bounds
    mid = CK.unpack_histogram_chunks(buf, mint=1000, maxt=3000)
    assert [s.ts for s in mid] == [1000, 2000, 3000]
    assert all(s.custom_values == cv for s in mid)

    with pytest.raises(ValueError, match="constant within a chunk"):
        CK.encode_histogram_chunk(
            [samples[0], samples[1]._replace(custom_values=(1.0, 2.0, 3.0))],
            float_counts=False,
        )
    with pytest.raises(ValueError, match="custom_values and vice versa"):
        CK.encode_histogram_chunk(
            [samples[0]._replace(schema=0)], float_counts=False
        )
