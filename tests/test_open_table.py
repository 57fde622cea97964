"""Driver tables open from their footer schema, with no Spark job.

``plans.common._open_table`` reads a table's parquet footer on the
driver and hands Spark the schema, so opening a table never runs the
footer-inference job that ``spark.read.parquet`` runs.  These tests pin
that the schema is exactly the one Spark would infer (for every driver
table and for each physical encoding of ``events.ts``), that no job runs
and no session conf changes, and that ``load`` reads a rewritten file as
it is now.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from parquet_common_spark.plans.common import TABLES, _open_table, load

SF01 = "/root/testdata/sf0.01"
NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"

pytestmark = pytest.mark.skipif(
    not os.path.exists(f"{SF01}/events.parquet"), reason="sf0.01 testdata absent"
)


def _jobs_in(spark, fn):
    """-> (fn(), number of Spark jobs fn ran)."""
    sc = spark.sparkContext
    group = f"open-{random.getrandbits(48)}"
    sc.setJobGroup(group, "table open probe")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _events_with_ts(root, unit: str) -> str:
    """An sf_dir holding only the sf0.01 events, ``ts`` stored as
    ``timestamp[unit]`` (``ns`` is parquet TIMESTAMP(NANOS))."""
    table = pq.read_table(f"{SF01}/events.parquet")
    i = table.schema.get_field_index("ts")
    table = table.set_column(i, "ts", table.column("ts").cast(pa.timestamp(unit)))
    d = root / unit
    d.mkdir()
    pq.write_table(table, str(d / "events.parquet"))
    return str(d)


@pytest.mark.parametrize("table", TABLES)
def test_driver_table_opens_with_inferred_schema_and_no_job(spark, table):
    path = f"{SF01}/{table}.parquet"
    df, jobs = _jobs_in(spark, lambda: _open_table(spark, path))
    assert jobs == 0
    assert df.schema == spark.read.parquet(path).schema


def test_load_opens_every_table_with_no_job(spark):
    """Each load() call opens every driver table afresh, and none of
    those opens runs a Spark job (schema inference took 0.7-0.9 s of
    every sf0.1 bench trial before tables were opened from footers)."""
    opened, jobs = _jobs_in(spark, lambda: [load(spark, d) for d in ("/root/testdata/sf0.001", SF01, SF01)])
    assert jobs == 0
    assert [set(t) for t in opened] == [set(TABLES)] * 3
    assert opened[1]["nation"] is not opened[2]["nation"]
    assert opened[0]["nation"].count() == opened[1]["nation"].count() == 25


def test_events_ts_encodings_open_as_spark_infers(spark, tmp_path):
    us = _events_with_ts(tmp_path, "us")
    ns = _events_with_ts(tmp_path, "ns")
    footer = pq.ParquetFile(f"{ns}/events.parquet").schema
    ts_col = footer.column(footer.names.index("ts"))
    assert ts_col.physical_type == "INT64" and "nanoseconds" in str(ts_col.logical_type)
    assert spark.conf.get(NANOS_AS_LONG, None) is None

    (df_us, df_ns), jobs = _jobs_in(
        spark, lambda: (_open_table(spark, f"{us}/events.parquet"), _open_table(spark, f"{ns}/events.parquet"))
    )
    assert jobs == 0
    assert spark.conf.get(NANOS_AS_LONG, None) is None
    assert df_us.schema == spark.read.parquet(f"{us}/events.parquet").schema
    assert dict(df_ns.dtypes)["ts"] == "bigint"
    spark.conf.set(NANOS_AS_LONG, "true")
    try:
        inferred_ns = spark.read.parquet(f"{ns}/events.parquet").schema
    finally:
        spark.conf.unset(NANOS_AS_LONG)
    assert df_ns.schema == inferred_ns

    # both encodings normalize to the same event times
    a = load(spark, us, "events")["events"].orderBy("event_id").select("event_id", "ts").collect()
    b = load(spark, ns, "events")["events"].orderBy("event_id").select("event_id", "ts").collect()
    assert a == b and len(a) > 0
    assert spark.conf.get(NANOS_AS_LONG, None) is None


def test_spark_written_table_directory_opens_as_spark_infers(spark, tmp_path):
    """A table written by Spark: a directory of part files, ``ts`` stored
    as INT96, which Spark reads as TIMESTAMP."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "events.parquet")
    src = spark.read.parquet(f"{SF01}/events.parquet")
    src.withColumn("ts", F.col("ts").cast("timestamp")).repartition(2).write.parquet(path)
    df, jobs = _jobs_in(spark, lambda: _open_table(spark, path))
    assert jobs == 0
    assert dict(df.dtypes)["ts"] == "timestamp"
    assert df.schema == spark.read.parquet(path).schema
    assert df.count() == src.count()


def test_load_reads_a_rewritten_table_as_it_is_now(spark, tmp_path):
    path = str(tmp_path / "region.parquet")
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}), path)
    assert load(spark, str(tmp_path), "region")["region"].count() == 2
    pq.write_table(pa.table({"r_regionkey": [0, 1, 2], "r_name": ["A", "B", "C"]}), path)
    rows = load(spark, str(tmp_path), "region")["region"].orderBy("r_regionkey").collect()
    assert [r["r_name"] for r in rows] == ["A", "B", "C"]
