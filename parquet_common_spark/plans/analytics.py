"""Window functions, grouping sets, set ops, event analytics, and the
matcher-parity queries (the reference's Select/LabelValues surface run
through the engine and checked against plain SQL over the source table).

Scale notes:
  - every window is partitioned by a high-cardinality key (user_id,
    c_custkey) — no global windows in the hot path (q15's global rank runs
    over a 10-row aggregate, not raw data);
  - sessionization and as-of join use a single sort-within-partition per
    user (one shuffle), the standard scalable formulation;
  - rollup/cube are native Catalyst Expand operators — one shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_common_spark.plans.common import (
    await_stream,
    dsum,
    load,
    query,
    stream_shuffle_partitions,
    stream_to_parquet,
)

# ---------------------------------------------------------------- windows


@query(
    "w1_top_orders_per_customer",
    """
    SELECT o_custkey, o_orderkey, ROUND(o_totalprice, 2) AS o_totalprice, CAST(rn AS INT) AS rn
    FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                 ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders)
    WHERE rn <= 3
    ORDER BY o_custkey, rn
    """,
)
def w1(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        t["orders"]
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"), F.col("rn").cast("int"))
        .orderBy("o_custkey", "rn")
    )


@query(
    "w2_running_revenue",
    """
    SELECT o_custkey, o_orderkey,
           ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
    FROM orders
    ORDER BY o_custkey, o_orderkey
    """,
)
def w2(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        t["orders"]
        .select(
            "o_custkey",
            "o_orderkey",
            F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@query(
    "w3_moving_avg_events",
    """
    SELECT event_id, user_id,
           ROUND(AVG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) AS moving_avg
    FROM events
    ORDER BY user_id, event_id
    """,
)
def w3(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-4, 0)
    return (
        t["events"]
        .select("event_id", "user_id", F.round(F.avg("value").over(w), 6).alias("moving_avg"))
        .orderBy("user_id", "event_id")
    )


@query(
    "w4_sessionization",
    """
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events, CAST(SUM(new_session) AS BIGINT) AS n_sessions
    FROM (SELECT user_id,
                 CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                           > INTERVAL 1 HOUR
                       OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                      THEN 1 ELSE 0 END AS new_session
          FROM events)
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def w4(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    # microsecond arithmetic so the comparison matches INTERVAL 1 HOUR exactly
    gap_us = F.unix_micros(F.col("ts").cast("timestamp")) - F.unix_micros(prev.cast("timestamp"))
    new_sess = F.when(prev.isNull() | (gap_us > 3_600_000_000), 1).otherwise(0)
    return (
        t["events"]
        .withColumn("new_session", new_sess)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("new_session").cast("long").alias("n_sessions"),
        )
        .orderBy("user_id")
    )


# ------------------------------------------------- grouping sets / set ops


@query(
    "g1_rollup_revenue",
    """
    SELECT r_name, n_name, CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2))) AS DOUBLE) AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
                JOIN nation   ON c_nationkey = n_nationkey
                JOIN region   ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    ORDER BY r_name NULLS FIRST, n_name NULLS FIRST
    """,
)
def g1(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load(spark, sf_dir, "orders", "customer", "nation", "region")
    j = (
        t["orders"]
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return (
        j.rollup("r_name", "n_name")
        .agg(dsum(F.col("o_totalprice"), 2).alias("revenue"))
        .orderBy(F.asc_nulls_first("r_name"), F.asc_nulls_first("n_name"))
    )


@query(
    "g2_cube_orders",
    """
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
)
def g2(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load(spark, sf_dir, "orders")
    return (
        t["orders"]
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.asc_nulls_first("o_orderstatus"), F.asc_nulls_first("o_orderpriority"))
    )


@query(
    "g4_grouping_sets",
    """
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2))) AS DOUBLE) AS revenue
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
)
def g4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS — the explicit-sets member completing the
    rollup/cube trio; one expand + one shuffle, same as rollup."""
    t = load(spark, sf_dir, "orders")
    t["orders"].createOrReplaceTempView("g4_orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2))) AS DOUBLE) AS revenue
        FROM g4_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
        """
    )


@query(
    "s1_nation_setops",
    """
    WITH cn AS (SELECT DISTINCT c_nationkey AS nationkey FROM customer),
         sn AS (SELECT DISTINCT s_nationkey AS nationkey FROM supplier)
    SELECT 'both' AS side, nationkey FROM (SELECT nationkey FROM cn INTERSECT SELECT nationkey FROM sn)
    UNION ALL
    SELECT 'customer_only' AS side, nationkey FROM (SELECT nationkey FROM cn EXCEPT SELECT nationkey FROM sn)
    ORDER BY side, nationkey
    """,
)
def s1(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load(spark, sf_dir, "customer", "supplier")
    cn = t["customer"].select(F.col("c_nationkey").alias("nationkey")).distinct()
    sn = t["supplier"].select(F.col("s_nationkey").alias("nationkey")).distinct()
    both = cn.intersect(sn).select(F.lit("both").alias("side"), "nationkey")
    conly = cn.exceptAll(sn).select(F.lit("customer_only").alias("side"), "nationkey")
    return both.unionByName(conly).orderBy("side", "nationkey")


# ----------------------------------------------------------- event analytics


@query(
    "e1_event_type_stats",
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(SUM(CAST(value AS DECIMAL(27,2))) AS DOUBLE) AS total_value,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(27,2))) AS DOUBLE) / COUNT(*), 6) AS avg_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    headline=True,
)
def e1(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load(spark, sf_dir, "events")
    return (
        t["events"]
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            dsum(F.col("value"), 2).alias("total_value"),
            F.round(dsum(F.col("value"), 2) / F.count(F.lit(1)), 6).alias("avg_value"),
        )
        .orderBy("event_type")
    )


@query(
    "e2_daily_activity",
    """
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type, COUNT(*) AS n
    FROM events
    GROUP BY 1, 2
    ORDER BY day, event_type
    """,
)
def e2(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load(spark, sf_dir, "events")
    return (
        t["events"]
        .groupBy(F.date_trunc("day", "ts").cast("date").alias("day"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("day", "event_type")
    )


@query(
    "e3_json_props",
    """
    SELECT event_type,
           ROUND(AVG(CAST(json_extract_string(props, '$.k') AS INT)), 6) AS avg_k
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def e3(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load(spark, sf_dir, "events")
    return (
        t["events"]
        .groupBy("event_type")
        .agg(F.round(F.avg(F.get_json_object("props", "$.k").cast("int")), 6).alias("avg_k"))
        .orderBy("event_type")
    )


@query(
    "e4_asof_last_click_before_purchase",
    """
    SELECT p.event_id AS purchase_id, p.user_id,
           (SELECT MAX(c.ts) FROM events c
            WHERE c.user_id = p.user_id AND c.event_type = 'click' AND c.ts <= p.ts) AS last_click_ts
    FROM events p
    WHERE p.event_type = 'purchase'
    ORDER BY purchase_id
    """,
)
def e4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's latest click at-or-before
    it.  Implemented scalably as union + one per-user window pass (single
    shuffle on user_id), not a range join: tag clicks/purchases, sort by
    (user_id, ts), carry last-click-ts forward with ``last(ignorenulls)``.
    DuckDB oracle uses a correlated MAX (== ASOF JOIN semantics)."""
    t = load(spark, sf_dir, "events")
    ev = t["events"].select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("event_type") == "click", F.col("ts")).alias("click_ts"),
        F.col("event_type"),
    )
    # order clicks before purchases at identical ts ("at-or-before"): click tag 0, others 1
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", F.when(F.col("event_type") == "click", 0).otherwise(1), "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = ev.withColumn("last_click_ts", F.last("click_ts", ignorenulls=True).over(w))
    return (
        carried.where(F.col("event_type") == "purchase")
        .select(F.col("event_id").alias("purchase_id"), "user_id", "last_click_ts")
        .orderBy("purchase_id")
    )


@query(
    "e5_top_users_by_value",
    """
    SELECT user_id, CAST(SUM(CAST(value AS DECIMAL(27,2))) AS DOUBLE) AS total_value, COUNT(*) AS n
    FROM events
    GROUP BY user_id
    ORDER BY total_value DESC, user_id
    LIMIT 10
    """,
)
def e5(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load(spark, sf_dir, "events")
    return (
        t["events"]
        .groupBy("user_id")
        .agg(dsum(F.col("value"), 2).alias("total_value"), F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("total_value"), "user_id")
        .limit(10)
    )


# --------------------------------------------- matcher-parity (engine surface)
#
# These run the reference's Select / LabelValues surface through OUR engine:
# the events table is converted in-memory to the series/samples model
# (labels: __name__, event_type, user_bucket; err label only on error
# events — exercising the NULL==""==absent semantics), queried with
# matchers, and the result is aggregated so the DuckDB oracle can express
# the same answer as plain SQL over the raw events table.


_EVENTS_SHARD_CACHE: dict = {}
_SHARD_CACHE_MAX = 4  # (session, sf_dir) entries per cache


def _shard_cache_put(cache: dict, key, shard):
    """Bounded per-(session, sf_dir) shard cache: beyond _SHARD_CACHE_MAX
    the oldest entry is unpersisted and dropped — same contract as
    pipeline_queries._PAIRS_CACHE, so a long-lived session sweeping many
    sf_dirs can't pin unbounded executor memory."""
    while len(cache) >= _SHARD_CACHE_MAX:
        _, old = cache.popitem()
        old.series.unpersist()
        old.samples.unpersist()
    cache[key] = shard
    return shard


def _events_shard(spark: SparkSession, sf_dir: str):
    """Converted events shard, cached per (session, sf_dir) — eight
    matcher-parity queries reuse it within one correctness run."""
    key = (id(spark), sf_dir)
    if key in _EVENTS_SHARD_CACHE:
        return _EVENTS_SHARD_CACHE[key]
    shard = _build_events_shard(spark, sf_dir)
    shard.series = shard.series.persist()
    shard.samples = shard.samples.persist()
    return _shard_cache_put(_EVENTS_SHARD_CACHE, key, shard)


def _build_events_shard(spark: SparkSession, sf_dir: str):
    from parquet_common_spark.convert import to_shard

    ev = load(spark, sf_dir, "events")["events"]
    labeled = ev.select(
        F.create_map(
            F.lit("__name__"), F.lit("events"),
            F.lit("event_type"), F.col("event_type"),
            F.lit("user_bucket"), (F.col("user_id") % 10).cast("string"),
            F.lit("err"), F.when(F.col("event_type") == "error", F.lit("1")).otherwise(F.lit(None)),
        ).alias("labels"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts"),  # µs, not ms:
        F.col("value"),                                            # exact boundaries
    )
    # create_map with a NULL value keeps the key → strip absent labels
    labeled = labeled.withColumn(
        "labels", F.map_filter("labels", lambda k, v: v.isNotNull())
    )
    return to_shard(labeled, col_duration_ms=24 * 3600 * 1_000_000)


@query(
    "m1_matcher_eq",
    """
    SELECT COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(27,2))) AS DOUBLE) AS total
    FROM events WHERE event_type = 'click'
    """,
)
def m1(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_common_spark import Matcher, ParquetQueryable

    q = ParquetQueryable([_events_shard(spark, sf_dir)])
    sel = q.select(0, 2**62, [Matcher("__name__", "=", "events"), Matcher("event_type", "=", "click")])
    return sel.agg(F.count(F.lit(1)).alias("n"), dsum(F.col("s_value"), 2).alias("total"))


@query(
    "m2_matcher_regex_set",
    """
    SELECT event_type, COUNT(*) AS n
    FROM events WHERE event_type IN ('click', 'view')
    GROUP BY event_type ORDER BY event_type
    """,
)
def m2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_common_spark import Matcher, ParquetQueryable

    q = ParquetQueryable([_events_shard(spark, sf_dir)])
    sel = q.select(0, 2**62, [Matcher("event_type", "=~", "click|view")])
    return (
        sel.groupBy(F.col("l_event_type").alias("event_type"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("event_type")
    )


@query(
    "m3_matcher_negative_regex",
    """
    SELECT event_type, COUNT(*) AS n
    FROM events WHERE NOT regexp_full_match(event_type, 'c.*')
    GROUP BY event_type ORDER BY event_type
    """,
)
def m3(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_common_spark import Matcher, ParquetQueryable

    q = ParquetQueryable([_events_shard(spark, sf_dir)])
    sel = q.select(0, 2**62, [Matcher("event_type", "!~", "c.*")])
    return (
        sel.groupBy(F.col("l_event_type").alias("event_type"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("event_type")
    )


@query(
    "m4_empty_label_semantics",
    """
    SELECT COUNT(*) AS n_no_err, CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_err_inside
    FROM events WHERE event_type <> 'error'
    """,
)
def m4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """err="" must match exactly the series where the err label is ABSENT
    (the F3 truth table from FIXTURES.md, over real data)."""
    from parquet_common_spark import Matcher, ParquetQueryable

    q = ParquetQueryable([_events_shard(spark, sf_dir)])
    sel = q.select(0, 2**62, [Matcher("err", "=", "")])
    return sel.agg(
        F.count(F.lit(1)).alias("n_no_err"),
        F.sum(F.when(F.col("l_event_type") == "error", 1).otherwise(0)).cast("long").alias("n_err_inside"),
    )


@query(
    "m5_label_values",
    """
    SELECT DISTINCT event_type AS value FROM events ORDER BY value
    """,
)
def m5(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_common_spark import ParquetQueryable

    shard = _events_shard(spark, sf_dir)
    vals = ParquetQueryable([shard]).label_values("event_type")
    return spark.createDataFrame([(v,) for v in vals], "value string").orderBy("value")


@query(
    "m6_time_range_pruning",
    """
    SELECT COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(27,2))) AS DOUBLE) AS total
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-10' AND ts <= TIMESTAMP '2024-01-12'
      AND event_type = 'purchase'
    """,
)
def m6(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_common_spark import Matcher, ParquetQueryable
    import datetime as dt

    lo = int(dt.datetime(2024, 1, 10, tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    hi = int(dt.datetime(2024, 1, 12, tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    q = ParquetQueryable([_events_shard(spark, sf_dir)])
    sel = q.select(lo, hi, [Matcher("event_type", "=", "purchase")])
    return sel.agg(F.count(F.lit(1)).alias("n"), dsum(F.col("s_value"), 2).alias("total"))


@query(
    "m8_daily_series_delta",
    """
    WITH base AS (
      SELECT event_type,
             CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
             epoch_us(ts) AS ts_us, value
      FROM events),
    ranked AS (
      SELECT event_type, day, value,
             ROW_NUMBER() OVER (PARTITION BY event_type, day ORDER BY ts_us, value) AS rn_a,
             ROW_NUMBER() OVER (PARTITION BY event_type, day ORDER BY ts_us DESC, value DESC) AS rn_d
      FROM base)
    SELECT event_type, day,
           COUNT(*) AS n_samples,
           ROUND(MAX(CASE WHEN rn_a = 1 THEN value END), 6) AS first_value,
           ROUND(MAX(CASE WHEN rn_d = 1 THEN value END), 6) AS last_value,
           ROUND(MAX(CASE WHEN rn_d = 1 THEN value END)
                 - MAX(CASE WHEN rn_a = 1 THEN value END), 6) AS delta
    FROM ranked
    GROUP BY event_type, day
    ORDER BY event_type, day
    """,
)
def m8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL-style per-series temporal computation THROUGH the engine:
    matcher select -> Window.partitionBy(series).orderBy(ts) -> first/last
    per day (SURVEY.md §2.5 — the reference delegates this to PromQL; our
    analytic layer expresses it natively)."""
    from parquet_common_spark import Matcher, ParquetQueryable

    q = ParquetQueryable([_events_shard(spark, sf_dir)])
    sel = q.select(0, 2**62, [Matcher("__name__", "=", "events")])
    base = sel.select(
        F.col("l_event_type").alias("event_type"),
        F.floor(F.col("s_ts") / 86_400_000_000).cast("long").alias("day"),
        F.col("s_ts").alias("ts_us"),
        F.col("s_value").alias("value"),
    )
    wa = Window.partitionBy("event_type", "day").orderBy(F.asc("ts_us"), F.asc("value"))
    wd = Window.partitionBy("event_type", "day").orderBy(F.desc("ts_us"), F.desc("value"))
    ranked = base.withColumn("rn_a", F.row_number().over(wa)).withColumn(
        "rn_d", F.row_number().over(wd)
    )
    first_v = F.max(F.when(F.col("rn_a") == 1, F.col("value")))
    last_v = F.max(F.when(F.col("rn_d") == 1, F.col("value")))
    return (
        ranked.groupBy("event_type", "day")
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.round(first_v, 6).alias("first_value"),
            F.round(last_v, 6).alias("last_value"),
            F.round(last_v - first_v, 6).alias("delta"),
        )
        .orderBy("event_type", "day")
    )


@query(
    "m9_extrapolated_rate",
    """
    WITH base AS (
      SELECT event_type, epoch_us(ts) AS ts_us, value,
             CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day
      FROM events),
    lagged AS (
      SELECT *,
             LAG(value) OVER (PARTITION BY event_type, day ORDER BY ts_us, value) AS prev,
             ROW_NUMBER() OVER (PARTITION BY event_type, day ORDER BY ts_us, value) AS rn_a,
             ROW_NUMBER() OVER (PARTITION BY event_type, day ORDER BY ts_us DESC, value DESC) AS rn_d
      FROM base),
    agg AS (
      SELECT event_type, day, COUNT(*) AS n_samples,
             MAX(CASE WHEN rn_a = 1 THEN value END) AS first_v,
             MAX(CASE WHEN rn_d = 1 THEN value END) AS last_v,
             MIN(ts_us) AS first_ts, MAX(ts_us) AS last_ts,
             CAST(SUM(CAST(CASE WHEN prev > value THEN prev ELSE 0 END AS DECIMAL(27,9))) AS DOUBLE) AS resets
      FROM lagged GROUP BY event_type, day),
    calc AS (
      SELECT *, last_v - first_v + resets AS result,
             (first_ts - day * 86400000000) / 1e6 AS to_start0,
             ((day + 1) * 86400000000 - last_ts) / 1e6 AS to_end0,
             (last_ts - first_ts) / 1e6 AS sampled,
             ((last_ts - first_ts) / 1e6) / (n_samples - 1) AS avg_dur
      FROM agg),
    calc2 AS (
      SELECT *,
             CASE WHEN to_start0 >= avg_dur * 1.1 THEN avg_dur / 2 ELSE to_start0 END AS to_start1,
             CASE WHEN to_end0 >= avg_dur * 1.1 THEN avg_dur / 2 ELSE to_end0 END AS to_end
      FROM calc),
    calc3 AS (
      SELECT *,
             CASE WHEN result > 0 AND first_v >= 0
                       AND sampled * first_v / result < to_start1
                  THEN sampled * first_v / result ELSE to_start1 END AS to_start
      FROM calc2)
    SELECT event_type, day, n_samples,
           ROUND(CASE WHEN n_samples >= 2 AND sampled > 0
                 THEN result * (sampled + to_start + to_end) / sampled END, 6) AS increase,
           ROUND(CASE WHEN n_samples >= 2 AND sampled > 0
                 THEN result * (sampled + to_start + to_end) / sampled / 86400.0 END, 9) AS rate
    FROM calc3
    ORDER BY event_type, day
    """,
)
def m9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL rate()/increase() with FULL upstream extrapolation semantics
    through the engine: matcher select -> per-(series, day) boundary
    extrapolation + counter zero-point clamp (Prometheus
    promql/functions.go extrapolatedRate; the reference serves this via
    the upstream engine, /root/reference/queryable/parquet_queryable_test.go:45).
    The oracle replays the identical algorithm in SQL."""
    from parquet_common_spark import Matcher, ParquetQueryable
    from parquet_common_spark.functions.promql import extrapolated_increase_over_windows

    q = ParquetQueryable([_events_shard(spark, sf_dir)])
    sel = q.select(0, 2**62, [Matcher("__name__", "=", "events")])
    base = sel.select(
        F.col("l_event_type").alias("event_type"),
        F.col("s_ts").alias("ts_us"),
        F.col("s_value").alias("value"),
    )
    inc = extrapolated_increase_over_windows(
        base, ["event_type"], "ts_us", "value", 86_400_000_000, is_counter=True
    )
    return inc.select(
        "event_type",
        F.col("_win").alias("day"),
        "n_samples",
        F.round(F.col("increase"), 6).alias("increase"),
        F.round(F.col("increase") / F.lit(86400.0), 9).alias("rate"),
    ).orderBy("event_type", "day")


_HIST_BOUNDS = [10.0, 25.0, 50.0, 100.0, 250.0]  # finite le-bounds; +Inf appended
_HIST_SHARD_CACHE: dict = {}


def _hist_shard(spark: SparkSession, sf_dir: str):
    """Histogram-sample shard written through convert() to parquet and read
    back — the reference's EncHistogram story (schema/encoder.go:74-79)
    exercised end-to-end: histogram struct columns ride the samples table
    next to the float slot, survive the disk round trip, and are served by
    the same matcher select."""
    import tempfile

    from parquet_common_spark.convert import convert
    from parquet_common_spark.queryable import ShardDataset

    key = (id(spark), sf_dir)
    if key in _HIST_SHARD_CACHE:
        return _HIST_SHARD_CACHE[key]
    ev = load(spark, sf_dir, "events")["events"]
    day = F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(86_400_000_000)).cast("long")
    cums = [
        F.sum((F.col("value") <= F.lit(b)).cast("long")).alias(f"_c{i}")
        for i, b in enumerate(_HIST_BOUNDS)
    ]
    g = (
        ev.groupBy(F.col("event_type"), day.alias("day"))
        .agg(F.count(F.lit(1)).alias("h_count"), dsum(F.col("value"), 2).alias("h_sum"), *cums)
    )
    rows = g.select(
        F.create_map(
            F.lit("__name__"), F.lit("events_hist"), F.lit("event_type"), F.col("event_type")
        ).alias("labels"),
        (F.col("day") * F.lit(86_400_000_000)).alias("ts"),
        "h_count",
        "h_sum",
        F.array(*[F.lit(b) for b in _HIST_BOUNDS], F.lit(float("inf"))).alias("h_bounds"),
        F.array(*[F.col(f"_c{i}") for i in range(len(_HIST_BOUNDS))], F.col("h_count")).alias(
            "h_counts"
        ),
    )
    out_dir = tempfile.mkdtemp(prefix="hist_shard_")
    # persist: convert() runs several actions (ts-range agg, series write,
    # samples write) — without this the whole upstream agg re-runs per
    # action.  30-day buckets: 150 daily rows -> a handful of partition
    # dirs, not 150 tiny files (pruning granularity is exercised by the
    # m6 shard, not here).
    rows = rows.persist()
    convert(
        rows,
        out_dir,
        value_col=None,
        extra_value_cols=["h_count", "h_sum", "h_bounds", "h_counts"],
        col_duration_ms=30 * 24 * 3600 * 1_000_000,
    )
    rows.unpersist()
    shard = ShardDataset.read(spark, out_dir)
    shard.series = shard.series.persist()
    shard.samples = shard.samples.persist()
    return _shard_cache_put(_HIST_SHARD_CACHE, key, shard)


@query(
    "m10_histogram_quantile",
    """
    WITH agg AS (
      SELECT event_type,
             CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
             COUNT(*) AS h_count,
             CAST(SUM(CAST(value AS DECIMAL(27,2))) AS DOUBLE) AS h_sum,
             CAST(SUM(CASE WHEN value <= 10.0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
             CAST(SUM(CASE WHEN value <= 25.0 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
             CAST(SUM(CASE WHEN value <= 50.0 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
             CAST(SUM(CASE WHEN value <= 100.0 THEN 1 ELSE 0 END) AS BIGINT) AS c3,
             CAST(SUM(CASE WHEN value <= 250.0 THEN 1 ELSE 0 END) AS BIGINT) AS c4
      FROM events GROUP BY 1, 2),
    arr AS (
      SELECT event_type, day, h_count, h_sum,
             [c0, c1, c2, c3, c4, h_count] AS counts,
             [10.0, 25.0, 50.0, 100.0, 250.0, 'infinity'::DOUBLE] AS bounds
      FROM agg),
    ph AS (
      SELECT a.*, t.q,
             q * CAST(h_count AS DOUBLE) AS target,
             CAST(len(list_filter(counts, c -> CAST(c AS DOUBLE) < q * CAST(h_count AS DOUBLE))) AS BIGINT) + 1 AS idx
      FROM arr a CROSS JOIN (VALUES (0.5), (0.95)) t(q)),
    phi AS (
      SELECT event_type, day, h_count, h_sum, q,
             CASE WHEN h_count <= 0 THEN NULL
                  WHEN idx >= 6 THEN bounds[5]
                  WHEN CAST(counts[idx] AS DOUBLE) = (CASE WHEN idx = 1 THEN 0.0 ELSE CAST(counts[idx - 1] AS DOUBLE) END) THEN bounds[idx]
                  ELSE (CASE WHEN idx = 1 THEN 0.0 ELSE bounds[idx - 1] END)
                       + (bounds[idx] - (CASE WHEN idx = 1 THEN 0.0 ELSE bounds[idx - 1] END))
                         * (target - (CASE WHEN idx = 1 THEN 0.0 ELSE CAST(counts[idx - 1] AS DOUBLE) END))
                         / (CAST(counts[idx] AS DOUBLE) - (CASE WHEN idx = 1 THEN 0.0 ELSE CAST(counts[idx - 1] AS DOUBLE) END))
             END AS phi
      FROM ph)
    SELECT event_type, day, h_count, h_sum,
           ROUND(MAX(CASE WHEN q = 0.5 THEN phi END), 6) AS phi_0_5,
           ROUND(MAX(CASE WHEN q = 0.95 THEN phi END), 6) AS phi_0_95
    FROM phi GROUP BY event_type, day, h_count, h_sum
    ORDER BY event_type, day
    """,
)
def m10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic-histogram samples through convert -> parquet -> select ->
    histogram_quantile (reference: EncHistogram/EncFloatHistogram chunk
    encodings, schema/encoder.go:74-79; PromQL histogram_quantile runs
    upstream there, natively here)."""
    from parquet_common_spark import Matcher, ParquetQueryable
    from parquet_common_spark.functions.histograms import histogram_quantile

    q = ParquetQueryable([_hist_shard(spark, sf_dir)])
    sel = q.select(0, 2**62, [Matcher("__name__", "=", "events_hist")])
    return sel.select(
        F.col("l_event_type").alias("event_type"),
        F.floor(F.col("s_ts") / F.lit(86_400_000_000)).cast("long").alias("day"),
        "h_count",
        "h_sum",
        F.round(histogram_quantile(0.5, F.col("h_bounds"), F.col("h_counts")), 6).alias("phi_0_5"),
        F.round(histogram_quantile(0.95, F.col("h_bounds"), F.col("h_counts")), 6).alias(
            "phi_0_95"
        ),
    ).orderBy("event_type", "day")


_NH_SHARD_CACHE: dict = {}
_NH_COLS = [
    "nh_schema",
    "nh_zero_count",
    "nh_count",
    "nh_sum",
    "nh_pos_idx",
    "nh_pos_counts",
    "nh_neg_idx",
    "nh_neg_counts",
]


def _native_hist_shard(spark: SparkSession, sf_dir: str):
    """Native-histogram shard through convert(): one exponential-bucket
    histogram per (event_type, day) over the SIGNED observation
    value-50.0 (exercises the negative range), stored as sparse nh_*
    array columns in the samples table (the EncHistogram slot,
    schema/encoder.go:74-79) and read back from parquet."""
    import tempfile

    from parquet_common_spark.convert import convert
    from parquet_common_spark.functions.native_histograms import build_histograms
    from parquet_common_spark.queryable import ShardDataset

    key = (id(spark), sf_dir)
    if key in _NH_SHARD_CACHE:
        return _NH_SHARD_CACHE[key]
    ev = load(spark, sf_dir, "events")["events"]
    day = F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(86_400_000_000)).cast("long")
    base = ev.select(
        "event_type", day.alias("day"), (F.col("value") - F.lit(50.0)).alias("obs")
    )
    h = build_histograms(base, ["event_type", "day"], "obs", schema=2)
    rows = h.select(
        F.create_map(
            F.lit("__name__"), F.lit("events_nhist"), F.lit("event_type"), F.col("event_type")
        ).alias("labels"),
        (F.col("day") * F.lit(86_400_000_000)).alias("ts"),
        *_NH_COLS,
    )
    out_dir = tempfile.mkdtemp(prefix="nhist_shard_")
    # persist before convert's multiple actions (same rationale as
    # _hist_shard) — the applyInPandas histogram build is the expensive
    # upstream here
    rows = rows.persist()
    convert(
        rows,
        out_dir,
        value_col=None,
        extra_value_cols=_NH_COLS,
        col_duration_ms=30 * 24 * 3600 * 1_000_000,
    )
    rows.unpersist()
    shard = ShardDataset.read(spark, out_dir)
    shard.series = shard.series.persist()
    shard.samples = shard.samples.persist()
    return _shard_cache_put(_NH_SHARD_CACHE, key, shard)


# DuckDB oracle: recompute the sparse exponential bucketing (k =
# ceil(ln|v|/ln γ − 1e-12), γ = 2^0.25 at schema 2) and walk buckets in
# value order (negative desc-k → zero → positive asc-k) with the same
# linear interpolation and the same first-cum≥target bucket choice as
# native_histogram_quantile.  q ∈ {0.25, 0.5} are exact binary rationals
# × an integer total, so bucket selection is rounding-proof; 0.9 rounds
# once identically in both engines.
_M11_SQL = """
    WITH base AS (
      SELECT event_type,
             CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
             value - 50.0 AS v
      FROM events),
    bucketed AS (
      SELECT event_type, day,
             CASE WHEN abs(v) <= 1e-9 THEN 0 WHEN v > 0 THEN 1 ELSE -1 END AS rng,
             CASE WHEN abs(v) <= 1e-9 THEN 0
                  ELSE CAST(ceil(ln(abs(v)) / ln(POWER(2.0, 0.25)) - 1e-12) AS INT) END AS k
      FROM base),
    counts AS (
      SELECT event_type, day, rng, k, COUNT(*) AS c
      FROM bucketed GROUP BY event_type, day, rng, k),
    walk AS (
      SELECT event_type, day, rng, k, c,
             SUM(c) OVER w AS cum,
             SUM(c) OVER w - c AS prev_cum,
             SUM(c) OVER (PARTITION BY event_type, day) AS total
      FROM counts
      WINDOW w AS (PARTITION BY event_type, day
                   ORDER BY rng, CASE WHEN rng = -1 THEN -k ELSE k END
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    hits AS (
      SELECT w.event_type, w.day, t.q,
             CASE WHEN w.rng = 0 THEN 0.0
                  WHEN w.rng = 1 THEN
                    POWER(POWER(2.0, 0.25), w.k - 1)
                    + (POWER(POWER(2.0, 0.25), w.k) - POWER(POWER(2.0, 0.25), w.k - 1))
                      * (t.q * CAST(w.total AS DOUBLE) - CAST(w.prev_cum AS DOUBLE))
                      / CAST(w.c AS DOUBLE)
                  ELSE
                    (-POWER(POWER(2.0, 0.25), w.k))
                    + ((-POWER(POWER(2.0, 0.25), w.k - 1)) - (-POWER(POWER(2.0, 0.25), w.k)))
                      * (t.q * CAST(w.total AS DOUBLE) - CAST(w.prev_cum AS DOUBLE))
                      / CAST(w.c AS DOUBLE)
             END AS phi
      FROM walk w CROSS JOIN (VALUES (0.25), (0.5), (0.9)) t(q)
      WHERE CAST(w.prev_cum AS DOUBLE) < t.q * CAST(w.total AS DOUBLE)
        AND CAST(w.cum AS DOUBLE) >= t.q * CAST(w.total AS DOUBLE)),
    stats AS (
      SELECT event_type, day,
             CAST(SUM(c) AS BIGINT) AS nh_count,
             CAST(SUM(CASE WHEN rng = 0 THEN c ELSE 0 END) AS BIGINT) AS nh_zero_count,
             CAST(COUNT(CASE WHEN rng = -1 THEN 1 END) AS INT) AS n_neg_buckets,
             CAST(COUNT(CASE WHEN rng = 1 THEN 1 END) AS INT) AS n_pos_buckets
      FROM counts GROUP BY event_type, day)
    SELECT s.event_type, s.day, s.nh_count, s.nh_zero_count,
           s.n_neg_buckets, s.n_pos_buckets,
           ROUND(MAX(CASE WHEN h.q = 0.25 THEN h.phi END), 6) AS phi_25,
           ROUND(MAX(CASE WHEN h.q = 0.5  THEN h.phi END), 6) AS phi_50,
           ROUND(MAX(CASE WHEN h.q = 0.9  THEN h.phi END), 6) AS phi_90
    FROM stats s JOIN hits h ON s.event_type = h.event_type AND s.day = h.day
    GROUP BY s.event_type, s.day, s.nh_count, s.nh_zero_count,
             s.n_neg_buckets, s.n_pos_buckets
    ORDER BY s.event_type, s.day
"""


@query("m11_native_histogram_quantile", _M11_SQL)
def m11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native (exponential) histogram samples through convert -> parquet
    -> matcher select -> native_histogram_quantile, negative range
    included (reference: EncHistogram/EncFloatHistogram encodings,
    schema/encoder.go:74-79)."""
    from parquet_common_spark import Matcher, ParquetQueryable
    from parquet_common_spark.functions.native_histograms import native_histogram_quantile

    q = ParquetQueryable([_native_hist_shard(spark, sf_dir)])
    sel = q.select(0, 2**62, [Matcher("__name__", "=", "events_nhist")])

    def phi(qq: float):
        return F.round(
            native_histogram_quantile(
                qq,
                F.col("nh_schema"),
                F.col("nh_zero_count"),
                F.col("nh_pos_idx"),
                F.col("nh_pos_counts"),
                F.col("nh_neg_idx"),
                F.col("nh_neg_counts"),
            ),
            6,
        )

    return sel.select(
        F.col("l_event_type").alias("event_type"),
        F.floor(F.col("s_ts") / F.lit(86_400_000_000)).cast("long").alias("day"),
        F.col("nh_count"),
        F.col("nh_zero_count"),
        F.size("nh_neg_idx").alias("n_neg_buckets"),
        F.size("nh_pos_idx").alias("n_pos_buckets"),
        phi(0.25).alias("phi_25"),
        phi(0.5).alias("phi_50"),
        phi(0.9).alias("phi_90"),
    ).orderBy("event_type", "day")


_NHCB_BOUNDS = [5.0, 20.0, 50.0, 150.0, 300.0]
_NHCB_SHARD_CACHE: dict = {}


def _nhcb_shard(spark: SparkSession, sf_dir: str):
    """Custom-bucket (NHCB, schema -53) histogram shard through
    convert(): one histogram per (event_type, day) over the raw
    observation value with fixed bounds _NHCB_BOUNDS, the bounds stored
    in nh_custom_values and round-tripped through the parquet shard
    (upstream model/histogram CustomBucketsSchema; chunk-layer slot in
    functions/chunks.py)."""
    import tempfile

    from parquet_common_spark.convert import convert
    from parquet_common_spark.functions.native_histograms import build_histograms
    from parquet_common_spark.queryable import ShardDataset

    key = (id(spark), sf_dir)
    if key in _NHCB_SHARD_CACHE:
        return _NHCB_SHARD_CACHE[key]
    ev = load(spark, sf_dir, "events")["events"]
    day = F.floor(
        F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(86_400_000_000)
    ).cast("long")
    base = ev.select("event_type", day.alias("day"), F.col("value").alias("obs"))
    h = build_histograms(
        base, ["event_type", "day"], "obs", custom_bounds=_NHCB_BOUNDS
    )
    cols = _NH_COLS + ["nh_custom_values"]
    rows = h.select(
        F.create_map(
            F.lit("__name__"), F.lit("events_nhcb"),
            F.lit("event_type"), F.col("event_type"),
        ).alias("labels"),
        (F.col("day") * F.lit(86_400_000_000)).alias("ts"),
        *cols,
    ).persist()
    out_dir = tempfile.mkdtemp(prefix="nhcb_shard_")
    convert(
        rows,
        out_dir,
        value_col=None,
        extra_value_cols=cols,
        col_duration_ms=30 * 24 * 3600 * 1_000_000,
    )
    rows.unpersist()
    _NHCB_SHARD_CACHE[key] = ShardDataset.read(spark, out_dir)
    return _NHCB_SHARD_CACHE[key]


# DuckDB oracle for m19: the classic-equivalent quantile walk over the
# custom bounds (linear interpolation, first bucket from 0, overflow
# bucket collapsing to the top bound) — the same arithmetic shapes as
# custom_histogram_quantile so both engines round identically at 6dp,
# and an exact integer-ratio fraction over the [20, 150] bound-aligned
# window.
_M19_SQL = """
    WITH base AS (
      SELECT event_type,
             CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
             value AS v
      FROM events),
    bucketed AS (
      SELECT event_type, day,
             (CASE WHEN v > 5.0 THEN 1 ELSE 0 END
              + CASE WHEN v > 20.0 THEN 1 ELSE 0 END
              + CASE WHEN v > 50.0 THEN 1 ELSE 0 END
              + CASE WHEN v > 150.0 THEN 1 ELSE 0 END
              + CASE WHEN v > 300.0 THEN 1 ELSE 0 END) AS k
      FROM base),
    counts AS (
      SELECT event_type, day, k, COUNT(*) AS c
      FROM bucketed GROUP BY event_type, day, k),
    bounds(k, lo, hi) AS (VALUES
      (0, 0.0, 5.0), (1, 5.0, 20.0), (2, 20.0, 50.0),
      (3, 50.0, 150.0), (4, 150.0, 300.0), (5, 300.0, CAST(NULL AS DOUBLE))),
    walk AS (
      SELECT c.event_type, c.day, c.k, c.c,
             SUM(c.c) OVER w AS cum,
             SUM(c.c) OVER w - c.c AS prev_cum,
             SUM(c.c) OVER (PARTITION BY c.event_type, c.day) AS total
      FROM counts c
      WINDOW w AS (PARTITION BY c.event_type, c.day ORDER BY c.k
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    hits AS (
      SELECT w.event_type, w.day, t.q,
             CASE WHEN w.k = 5 THEN 300.0
                  ELSE b.lo + (b.hi - b.lo)
                       * ((CAST(t.q AS DOUBLE) * CAST(w.total AS DOUBLE)
                           - CAST(w.prev_cum AS DOUBLE))
                          / CAST(w.c AS DOUBLE))
             END AS phi
      FROM walk w
      JOIN bounds b ON b.k = w.k
      CROSS JOIN (VALUES (0.25), (0.5), (0.9)) t(q)
      WHERE CAST(w.prev_cum AS DOUBLE)
              < CAST(t.q AS DOUBLE) * CAST(w.total AS DOUBLE)
        AND CAST(w.cum AS DOUBLE)
              >= CAST(t.q AS DOUBLE) * CAST(w.total AS DOUBLE)),
    frac AS (
      SELECT event_type, day,
             CAST(SUM(CASE WHEN k IN (2, 3) THEN c ELSE 0 END) AS DOUBLE)
             / CAST(SUM(c) AS DOUBLE) AS f
      FROM counts GROUP BY event_type, day),
    stats AS (
      SELECT event_type, day,
             CAST(SUM(c) AS BIGINT) AS nh_count,
             CAST(COUNT(*) AS INT) AS n_buckets
      FROM counts GROUP BY event_type, day)
    SELECT s.event_type, s.day, s.nh_count, s.n_buckets,
           ROUND(MAX(CASE WHEN h.q = 0.25 THEN h.phi END), 6) AS phi_25,
           ROUND(MAX(CASE WHEN h.q = 0.5  THEN h.phi END), 6) AS phi_50,
           ROUND(MAX(CASE WHEN h.q = 0.9  THEN h.phi END), 6) AS phi_90,
           ROUND(MAX(f.f), 6) AS frac_20_150
    FROM stats s
    JOIN hits h ON s.event_type = h.event_type AND s.day = h.day
    JOIN frac f ON s.event_type = f.event_type AND s.day = f.day
    GROUP BY s.event_type, s.day, s.nh_count, s.n_buckets
    ORDER BY s.event_type, s.day
"""


@query("m19_custom_bucket_histograms", _M19_SQL)
def m19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom-bucket native histograms (NHCB, schema -53) through
    convert -> parquet -> matcher select -> custom_histogram_quantile /
    custom_histogram_fraction.  The reference stores whatever chunkenc
    encodes — custom-bucket histogram chunks included (schema/encoder.go:75
    EncHistogram); the PromQL semantics mirror upstream promql/quantile.go
    custom-bucket (classic-equivalent) interpolation."""
    from parquet_common_spark import Matcher, ParquetQueryable
    from parquet_common_spark.functions.native_histograms import (
        custom_histogram_fraction,
        custom_histogram_quantile,
    )

    q = ParquetQueryable([_nhcb_shard(spark, sf_dir)])
    sel = q.select(0, 2**62, [Matcher("__name__", "=", "events_nhcb")])

    def phi(qq: float):
        return F.round(
            custom_histogram_quantile(
                qq,
                F.col("nh_custom_values"),
                F.col("nh_pos_idx"),
                F.col("nh_pos_counts"),
            ),
            6,
        )

    return sel.select(
        F.col("l_event_type").alias("event_type"),
        F.floor(F.col("s_ts") / F.lit(86_400_000_000)).cast("long").alias("day"),
        F.col("nh_count"),
        F.size("nh_pos_idx").alias("n_buckets"),
        phi(0.25).alias("phi_25"),
        phi(0.5).alias("phi_50"),
        phi(0.9).alias("phi_90"),
        F.round(
            custom_histogram_fraction(
                20.0,
                150.0,
                F.col("nh_custom_values"),
                F.col("nh_count"),
                F.col("nh_pos_idx"),
                F.col("nh_pos_counts"),
            ),
            6,
        ).alias("frac_20_150"),
    ).orderBy("event_type", "day")


# DuckDB oracle for the PromQL function family: resets/changes via LAG,
# idelta/irate from the last two samples, deriv/predict_linear from
# DECIMAL-exact regression sums (the double expression over those sums is
# written with the exact same operation shapes as deriv_over_windows, so
# both engines produce bit-identical doubles), stddev from exact moments,
# quantile via linear interpolation (both engines' definition).
_M12_SQL = """
    WITH base AS (
      SELECT event_type, epoch_us(ts) AS ts_us, value,
             CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day
      FROM events),
    lagged AS (
      SELECT *,
             LAG(value) OVER (PARTITION BY event_type, day ORDER BY ts_us, value) AS prev,
             ROW_NUMBER() OVER (PARTITION BY event_type, day ORDER BY ts_us DESC, value DESC) AS rn_d,
             ts_us - day * 86400000000 AS t_rel
      FROM base),
    agg AS (
      SELECT event_type, day,
             CAST(COUNT(*) AS BIGINT) AS n_samples,
             CAST(COALESCE(SUM(CASE WHEN prev > value THEN 1 ELSE 0 END), 0) AS BIGINT) AS resets,
             CAST(COALESCE(SUM(CASE WHEN prev IS NOT NULL AND prev <> value THEN 1 ELSE 0 END), 0) AS BIGINT) AS changes,
             MAX(CASE WHEN rn_d = 1 THEN value END) AS last_v,
             MAX(CASE WHEN rn_d = 2 THEN value END) AS prev_v,
             MAX(CASE WHEN rn_d = 1 THEN ts_us END) AS last_ts,
             MAX(CASE WHEN rn_d = 2 THEN ts_us END) AS prev_ts,
             SUM(t_rel) AS st,
             SUM(CAST(value AS DECIMAL(12,2))) AS sv,
             SUM(CAST(value AS DECIMAL(12,2)) * CAST(t_rel AS DECIMAL(13,0))) AS stv,
             SUM(CAST(t_rel AS HUGEINT) * t_rel) AS st2,
             SUM(CAST(value AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2))) AS sv2,
             MIN(t_rel) AS tmin, MAX(t_rel) AS tmax,
             quantile_cont(value, 0.9) AS q90
      FROM lagged GROUP BY event_type, day),
    calc AS (
      SELECT *,
             (CAST(n_samples AS DOUBLE) * CAST(stv AS DOUBLE)
              - CAST(st AS DOUBLE) * CAST(sv AS DOUBLE))
             / (CAST(n_samples AS DOUBLE) * CAST(st2 AS DOUBLE)
                - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)) AS slope_us,
             (CAST(n_samples AS DOUBLE) * CAST(sv2 AS DOUBLE)
              - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))
             / (CAST(n_samples AS DOUBLE) * CAST(n_samples AS DOUBLE)) AS varp,
             n_samples >= 2 AND tmax > tmin AS reg_ok
      FROM agg)
    SELECT event_type, day, n_samples, resets, changes,
           ROUND(CASE WHEN n_samples >= 2 THEN last_v - prev_v END, 6) AS idelta,
           ROUND(CASE WHEN n_samples >= 2 AND last_ts > prev_ts THEN
                   (CASE WHEN last_v < prev_v THEN last_v ELSE last_v - prev_v END)
                   / (CAST(last_ts - prev_ts AS DOUBLE) / 1e6) END, 9) AS irate,
           ROUND(CASE WHEN reg_ok THEN slope_us * 1e6 END, 9) AS deriv,
           ROUND(CASE WHEN reg_ok THEN
                   (CAST(sv AS DOUBLE) - slope_us * CAST(st AS DOUBLE))
                   / CAST(n_samples AS DOUBLE)
                   + slope_us * 86700000000.0 END, 6) AS predict_5m,
           ROUND(sqrt(varp), 6) AS stddev,
           ROUND(q90, 6) AS q90
    FROM calc
    ORDER BY event_type, day
"""


@query("m12_promql_functions", _M12_SQL)
def m12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PromQL function family through the engine: matcher select ->
    resets/changes, idelta/irate, deriv/predict_linear (least-squares
    over DECIMAL-exact sums), stddev_over_time, quantile_over_time
    (Prometheus promql/functions.go; the reference serves these via the
    upstream engine over its storage, queryable/parquet_queryable_test.go:45)."""
    from parquet_common_spark import Matcher, ParquetQueryable
    from parquet_common_spark.functions.promql import promql_suite_over_windows

    q = ParquetQueryable([_events_shard(spark, sf_dir)])
    sel = q.select(0, 2**62, [Matcher("__name__", "=", "events")])
    base = sel.select(
        F.col("l_event_type").alias("event_type"),
        F.col("s_ts").alias("ts_us"),
        F.col("s_value").alias("value"),
    )
    suite = promql_suite_over_windows(
        base,
        ["event_type"],
        "ts_us",
        "value",
        86_400_000_000,
        predict_offset_s=300.0,
        quantiles=(0.9,),
        value_scale=2,
    )
    return suite.select(
        "event_type",
        F.col("_win").alias("day"),
        "n_samples",
        "resets",
        "changes",
        F.round("idelta", 6).alias("idelta"),
        F.round("irate", 9).alias("irate"),
        F.round("deriv", 9).alias("deriv"),
        F.round("predict_linear", 6).alias("predict_5m"),
        F.round("stddev_over_time", 6).alias("stddev"),
        F.round("quantile_0_9_over_time", 6).alias("q90"),
    ).orderBy("event_type", "day")


# ------------------------------------------------- m13: chunk codec roundtrip

# The packed-chunk fidelity form through the gate: events -> exploded
# samples -> framed Gorilla-XOR cells (samples_to_packed) -> unpack ->
# per-series aggregate.  The codec is lossless, so the oracle is plain SQL
# over the RAW events — any framing/bit-packing defect breaks the hash.
# Series key = the cross-engine polynomial hash of event_type (the same
# construction t4 oracles in DuckDB).
_M13_SQL = None  # assigned below once _phash is importable


def _m13_sql() -> str:
    from parquet_common_spark.operators.pipeline_queries import _phash

    return f"""
    SELECT {_phash("event_type")} AS s_series_hash,
           COUNT(*) AS n_samples,
           CAST(COUNT(DISTINCT CAST(floor(epoch_us(ts) / 86400000000) AS INT)) AS BIGINT)
             AS n_buckets,
           CAST(SUM(CAST(value AS DECIMAL(27,2))) AS DOUBLE) AS sum_value,
           MIN(epoch_us(ts)) AS min_ts,
           MAX(epoch_us(ts)) AS max_ts
    FROM events
    GROUP BY 1
    ORDER BY s_series_hash
    """


@query("m13_chunk_roundtrip", _m13_sql())
def m13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gorilla-XOR packed-cell fidelity form end-to-end (reference:
    schema/encoder.go:200-222 framing over EncXOR chunk bytes,
    encoder.go:105-113 re-cut): pack -> unpack must be the identity, so
    the oracle aggregates the raw rows the codec never saw."""
    from parquet_common_spark import schema as S
    from parquet_common_spark.functions.chunks import packed_to_samples, samples_to_packed
    from parquet_common_spark.operators.text import char_poly_hash

    ev = load(spark, sf_dir, "events")["events"]
    samples = ev.select(
        char_poly_hash(F.col("event_type")).alias(S.SERIES_HASH_COLUMN),
        F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(86_400_000_000))
        .cast("int")
        .alias(S.TIME_BUCKET_COLUMN),
        F.unix_micros(F.col("ts").cast("timestamp")).alias(S.TS_COLUMN),
        F.col("value").cast("double").alias(S.VALUE_COLUMN),
    )
    rt = packed_to_samples(samples_to_packed(samples))
    return (
        rt.groupBy(S.SERIES_HASH_COLUMN)
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.count_distinct(F.col(S.TIME_BUCKET_COLUMN)).alias("n_buckets"),
            dsum(F.col(S.VALUE_COLUMN), 2).alias("sum_value"),
            F.min(S.TS_COLUMN).alias("min_ts"),
            F.max(S.TS_COLUMN).alias("max_ts"),
        )
        .orderBy(S.SERIES_HASH_COLUMN)
    )


# --------------------------------- m14: histogram chunk codec roundtrip

# EncHistogram fidelity form through the gate (reference
# schema/encoder.go:75-84 cutNewChunk ids 2/3, framing 200-222): per
# (event_type, day) native histograms (same bucketing as m11) -> framed
# EncHistogram cells (3 cells per series via a 50-day time bucket, chunks
# re-cut at 32 samples) -> unpack -> integer-exact aggregates.  The codec
# is lossless, so the oracle recomputes everything from the RAW events;
# every compared value is integer arithmetic (bucket structure, counts,
# k-weighted checksums), immune to float summation order.


def _m14_sql() -> str:
    from parquet_common_spark.operators.pipeline_queries import _phash

    # γ = 2^(2^-2) at schema 2; same bucket rule as build_histograms
    return f"""
    WITH base AS (
      SELECT event_type,
             CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
             value - 50.0 AS v
      FROM events),
    bucketed AS (
      SELECT event_type, day,
             CASE WHEN abs(v) <= 1e-9 THEN 0 WHEN v > 0 THEN 1 ELSE -1 END AS rng,
             CASE WHEN abs(v) <= 1e-9 THEN 0
                  ELSE CAST(ceil(ln(abs(v)) / ln(POWER(2.0, 0.25)) - 1e-12) AS INT) END AS k
      FROM base),
    counts AS (
      SELECT event_type, day, rng, k, COUNT(*) AS c
      FROM bucketed GROUP BY event_type, day, rng, k)
    SELECT {_phash("event_type")} AS s_series_hash,
           CAST(COUNT(DISTINCT day) AS BIGINT) AS n_samples,
           CAST(SUM(c) AS BIGINT) AS total_count,
           CAST(SUM(CASE WHEN rng = 0 THEN c ELSE 0 END) AS BIGINT) AS total_zero,
           CAST(SUM(CASE WHEN rng = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos_buckets,
           CAST(SUM(CASE WHEN rng = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg_buckets,
           CAST(SUM(CASE WHEN rng = 1 THEN k * c ELSE 0 END) AS BIGINT) AS kweight_pos,
           CAST(SUM(CASE WHEN rng = -1 THEN k * c ELSE 0 END) AS BIGINT) AS kweight_neg,
           MIN(day) * 86400000000 AS min_ts,
           MAX(day) * 86400000000 AS max_ts
    FROM counts
    GROUP BY 1
    ORDER BY s_series_hash
    """


@query("m14_histogram_chunk_roundtrip", _m14_sql())
def m14(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_common_spark import schema as S
    from parquet_common_spark.functions.chunks import (
        histograms_to_packed,
        packed_to_histograms,
    )
    from parquet_common_spark.functions.native_histograms import build_histograms
    from parquet_common_spark.operators.text import char_poly_hash

    ev = load(spark, sf_dir, "events")["events"]
    day = F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(86_400_000_000)).cast(
        "long"
    )
    base = ev.select(
        "event_type", day.alias("day"), (F.col("value") - F.lit(50.0)).alias("obs")
    )
    h = build_histograms(base, ["event_type", "day"], "obs", schema=2)
    nh = h.select(
        char_poly_hash(F.col("event_type")).alias(S.SERIES_HASH_COLUMN),
        (F.col("day") / F.lit(50)).cast("int").alias(S.TIME_BUCKET_COLUMN),
        (F.col("day") * F.lit(86_400_000_000)).alias(S.TS_COLUMN),
        "nh_schema", "nh_zero_count", "nh_count", "nh_sum",
        "nh_pos_idx", "nh_pos_counts", "nh_neg_idx", "nh_neg_counts",
    )
    rt = packed_to_histograms(histograms_to_packed(nh, samples_per_chunk=32))
    kweight = lambda kc, cc: F.aggregate(  # noqa: E731
        F.zip_with(kc, cc, lambda k, c: k.cast("long") * c),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    return (
        rt.groupBy(S.SERIES_HASH_COLUMN)
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.sum("nh_count").alias("total_count"),
            F.sum("nh_zero_count").alias("total_zero"),
            F.sum(F.size("nh_pos_idx").cast("long")).alias("n_pos_buckets"),
            F.sum(F.size("nh_neg_idx").cast("long")).alias("n_neg_buckets"),
            F.sum(kweight(F.col("nh_pos_idx"), F.col("nh_pos_counts"))).alias("kweight_pos"),
            F.sum(kweight(F.col("nh_neg_idx"), F.col("nh_neg_counts"))).alias("kweight_neg"),
            F.min(S.TS_COLUMN).alias("min_ts"),
            F.max(S.TS_COLUMN).alias("max_ts"),
        )
        .orderBy(S.SERIES_HASH_COLUMN)
    )


# --------------------------- w6: sliding event-time windows (overlapping)

# F.window with a slide — each event lands in window_duration/slide
# overlapping windows (here 2).  This is the native operator Structured
# Streaming uses for sliding aggregations; the oracle rebuilds the
# window set relationally (generate_series of slide-aligned starts
# joined on containment).  Counts and decimal-exact sums only.
_W6_SQL = """
    WITH b AS (
      SELECT event_type, epoch_us(ts) AS tus, value FROM events),
    bounds AS (
      SELECT CAST(floor(MIN(tus) / 43200000000) AS BIGINT) * 43200000000 AS lo,
             MAX(tus) AS hi
      FROM b),
    wins AS (
      SELECT unnest(generate_series((SELECT lo - 43200000000 FROM bounds),
                                    (SELECT hi FROM bounds),
                                    43200000000)) AS ws)
    SELECT w.ws AS window_start_us, e.event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM wins w JOIN b e
      ON e.tus >= w.ws AND e.tus < w.ws + 86400000000
    GROUP BY w.ws, e.event_type
    ORDER BY window_start_us, event_type
"""


@query("w6_sliding_windows", _W6_SQL)
def w6(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")["events"]
    win = F.window(F.col("ts").cast("timestamp"), "1 day", "12 hours")
    return (
        ev.groupBy(win.alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"), dsum(F.col("value"), 2).alias("sum_value"))
        .select(
            F.unix_micros(F.col("w.start").cast("timestamp")).alias("window_start_us"),
            "event_type",
            "n_events",
            "sum_value",
        )
        .orderBy("window_start_us", "event_type")
    )


# ---------------------- g3: PromQL aggregation operators through the gate

# agg_vector (avg/stddev/quantile with by-grouping) over the per-
# (event_type, day) count vector; the oracle uses AVG/STDDEV_POP/
# QUANTILE_CONT — the exact population-moment and sorted-linear-
# interpolation rules the operators implement.
_G3_SQL = """
    WITH v AS (
      SELECT event_type,
             CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
             CAST(COUNT(*) AS DOUBLE) AS value
      FROM events GROUP BY 1, 2)
    SELECT day,
           ROUND(AVG(value), 6) AS avg_n,
           ROUND(STDDEV_POP(value), 6) AS stddev_n,
           ROUND(QUANTILE_CONT(value, 0.25), 6) AS q25,
           ROUND(QUANTILE_CONT(value, 0.5), 6) AS q50,
           ROUND(QUANTILE_CONT(value, 0.9), 6) AS q90
    FROM v GROUP BY day ORDER BY day
"""


@query("g3_vector_aggregations", _G3_SQL)
def g3(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_common_spark.functions import promql_vec as V

    ev = load(spark, sf_dir, "events")["events"]
    day = (
        F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(86_400_000_000))
        .cast("long")
        .cast("string")
    )
    vec = ev.groupBy(F.col("event_type"), day.alias("day")).agg(
        F.count(F.lit(1)).cast("double").alias("value")
    )
    parts = [
        V.agg_vector(vec, "avg", by=["day"]).withColumnRenamed("value", "avg_n"),
        V.agg_vector(vec, "stddev", by=["day"]).withColumnRenamed("value", "stddev_n"),
        V.agg_vector(vec, "quantile", by=["day"], q=0.25).withColumnRenamed("value", "q25"),
        V.agg_vector(vec, "quantile", by=["day"], q=0.5).withColumnRenamed("value", "q50"),
        V.agg_vector(vec, "quantile", by=["day"], q=0.9).withColumnRenamed("value", "q90"),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.join(p, "day")
    return out.select(
        F.col("day").cast("long").alias("day"),
        F.round("avg_n", 6).alias("avg_n"),
        F.round("stddev_n", 6).alias("stddev_n"),
        F.round("q25", 6).alias("q25"),
        F.round("q50", 6).alias("q50"),
        F.round("q90", 6).alias("q90"),
    ).orderBy("day")


# ----------------------------------------- m18: absent_over_time windows

# Sparse selector (events with value > 300 — a few hits per type) over
# the full day range: absent_over_time emits 1.0 for every
# (event_type, day) with NO qualifying sample.  The oracle rebuilds the
# scaffold with generate_series × the distinct types and anti-joins the
# observed days — pure integer arithmetic end to end.
_M18_SQL = """
    WITH sel AS (
      SELECT event_type,
             CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day
      FROM events WHERE value > 300),
    bounds AS (
      SELECT CAST(floor(MIN(epoch_us(ts)) / 86400000000) AS BIGINT) AS lo,
             CAST(floor(MAX(epoch_us(ts)) / 86400000000) AS BIGINT) AS hi
      FROM events),
    scaffold AS (
      SELECT t.event_type, CAST(g.day AS BIGINT) AS day
      FROM (SELECT DISTINCT event_type FROM sel) t
      CROSS JOIN (SELECT unnest(generate_series((SELECT lo FROM bounds),
                                                (SELECT hi FROM bounds))) AS day) g)
    SELECT s.event_type, s.day, CAST(1.0 AS DOUBLE) AS absent
    FROM scaffold s
    ANTI JOIN (SELECT DISTINCT event_type, day FROM sel) o
      USING (event_type, day)
    ORDER BY event_type, day
"""


@query("m18_absent_over_time", _M18_SQL)
def m18(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_common_spark.functions.promql import absent_over_time_windows

    ev = load(spark, sf_dir, "events")["events"]
    tus = F.unix_micros(F.col("ts").cast("timestamp"))
    bounds = ev.agg(F.min(tus).alias("lo"), F.max(tus).alias("hi")).collect()[0]
    day_us = 86_400_000_000
    sel = ev.where(F.col("value") > 300).select(
        "event_type", tus.alias("tus")
    )
    out = absent_over_time_windows(
        sel, ["event_type"], "tus", day_us,
        (int(bounds["lo"]) // day_us) * day_us,
        (int(bounds["hi"]) // day_us) * day_us + day_us,
    )
    return out.select(
        "event_type", F.col("_win").alias("day"), "absent"
    ).orderBy("event_type", "day")


# --------------------- m17: double exponential smoothing (Holt's linear)

# The sequential smoothing fold replayed in SQL: both engines walk the
# SAME time-sorted value list left-to-right with the same arithmetic
# (Spark aggregate() vs DuckDB list_reduce over a prepended state list),
# so the smoothed values match bit-for-bit — no rounding tolerance
# needed beyond the display ROUND.
_M17_SF, _M17_TF = 0.3, 0.1


def _m17_sql() -> str:
    sf, tf = _M17_SF, _M17_TF
    csf, ctf = 1.0 - sf, 1.0 - tf
    # state = [i, s_prev, s_prev2, trend, v0]; elements ride as 5-lists
    step = f"""CASE
        WHEN acc[1] = 0.0 THEN [1.0, x[1], 0.0, 0.0, x[1]]
        WHEN acc[1] = 1.0 THEN [2.0,
            {sf} * x[1] + {csf} * (acc[2] + (x[1] - acc[2])),
            acc[2], x[1] - acc[2], acc[5]]
        ELSE [acc[1] + 1.0,
            {sf} * x[1] + {csf} * (acc[2] + ({tf} * (acc[2] - acc[3]) + {ctf} * acc[4])),
            acc[2], {tf} * (acc[2] - acc[3]) + {ctf} * acc[4], acc[5]]
        END"""
    return f"""
    WITH base AS (
      SELECT event_type,
             CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
             epoch_us(ts) AS tus, event_id, value AS v
      FROM events),
    grouped AS (
      SELECT event_type, day,
             COUNT(*) AS n_samples,
             list(v ORDER BY tus, event_id) AS vals
      FROM base GROUP BY event_type, day)
    SELECT event_type, day, n_samples,
           CASE WHEN n_samples >= 2 THEN ROUND(
             list_reduce(
               list_prepend([0.0, 0.0, 0.0, 0.0, 0.0],
                            list_transform(vals, v -> [v, 0.0, 0.0, 0.0, 0.0])),
               (acc, x) -> {step})[2], 6)
           END AS smoothed
    FROM grouped
    ORDER BY event_type, day
    """


@query("m17_double_exponential_smoothing", _m17_sql())
def m17(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_common_spark.functions.promql import (
        double_exponential_smoothing_over_windows,
    )

    ev = load(spark, sf_dir, "events")["events"]
    base = ev.select(
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("tus"),
        "event_id",
        F.col("value").alias("v"),
    )
    out = double_exponential_smoothing_over_windows(
        base, ["event_type"], "tus", "v", 86_400_000_000,
        sf=_M17_SF, tf=_M17_TF, order_col="event_id",
    )
    return out.select(
        "event_type",
        F.col("_win").alias("day"),
        "n_samples",
        F.round("smoothed", 6).alias("smoothed"),
    ).orderBy("event_type", "day")


# --------------------------- m16: native-histogram function family

# histogram_count / histogram_fraction over per-(event_type, day)
# exponential histograms (upstream promql funcHistogramCount /
# histogramFraction — the reference delegates these to the PromQL
# engine).  The oracle replays the per-bucket linear-interpolation rank
# sums in SQL from the raw observations; fractions round at 6dp so the
# two engines' float summation orders cannot flip a digit.


def _m16_rank_sql(x: float, inclusive: bool) -> str:
    g = "POWER(2.0, 0.25)"  # γ at schema 2
    up_p, lo_p = f"POWER({g}, k)", f"POWER({g}, k - 1)"
    up_n, lo_n = f"(-POWER({g}, k - 1))", f"(-POWER({g}, k))"
    # zero bucket = point mass at 0.0: inclusive rank counts it at x >= 0,
    # the exclusive (lower-bound) rank only at x > 0
    zero_cmp = ">=" if inclusive else ">"
    return f"""SUM(CASE
        WHEN rng = 1 THEN c * (CASE WHEN {x} >= {up_p} THEN 1.0
                                    WHEN {x} <= {lo_p} THEN 0.0
                                    ELSE ({x} - {lo_p}) / ({up_p} - {lo_p}) END)
        WHEN rng = -1 THEN c * (CASE WHEN {x} >= {up_n} THEN 1.0
                                     WHEN {x} <= {lo_n} THEN 0.0
                                     ELSE ({x} - {lo_n}) / ({up_n} - {lo_n}) END)
        ELSE c * (CASE WHEN {x} {zero_cmp} 0 THEN 1.0 ELSE 0.0 END) END)"""


def _m16_sql() -> str:
    def frac(lo: float, up: float) -> str:
        return (
            f"ROUND(LEAST(GREATEST(({_m16_rank_sql(up, True)} - {_m16_rank_sql(lo, False)})"
            f" / SUM(c), 0.0), 1.0), 6)"
        )

    return f"""
    WITH base AS (
      SELECT event_type,
             CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
             value - 50.0 AS v
      FROM events),
    bucketed AS (
      SELECT event_type, day,
             CASE WHEN abs(v) <= 1e-9 THEN 0 WHEN v > 0 THEN 1 ELSE -1 END AS rng,
             CASE WHEN abs(v) <= 1e-9 THEN 0
                  ELSE CAST(ceil(ln(abs(v)) / ln(POWER(2.0, 0.25)) - 1e-12) AS INT) END AS k
      FROM base),
    counts AS (
      SELECT event_type, day, rng, k, COUNT(*) AS c
      FROM bucketed GROUP BY event_type, day, rng, k)
    SELECT event_type, day,
           CAST(SUM(c) AS DOUBLE) AS h_count,
           {frac(0.0, 25.0)} AS frac_0_25,
           {frac(-10.0, 10.0)} AS frac_n10_10,
           {frac(5.0, 1000000000.0)} AS frac_ge5
    FROM counts
    GROUP BY event_type, day
    ORDER BY event_type, day
    """


@query("m16_histogram_functions", _m16_sql())
def m16(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_common_spark.functions import native_histograms as NH
    from parquet_common_spark.functions.native_histograms import build_histograms

    ev = load(spark, sf_dir, "events")["events"]
    day = F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(86_400_000_000)).cast(
        "long"
    )
    base = ev.select(
        "event_type", day.alias("day"), (F.col("value") - F.lit(50.0)).alias("obs")
    )
    h = build_histograms(base, ["event_type", "day"], "obs", schema=2)

    def frac(lo: float, up: float):
        return F.round(
            NH.histogram_fraction(
                lo, up,
                F.col("nh_schema"), F.col("nh_zero_count"), F.col("nh_count"),
                F.col("nh_pos_idx"), F.col("nh_pos_counts"),
                F.col("nh_neg_idx"), F.col("nh_neg_counts"),
            ),
            6,
        )

    return h.select(
        "event_type",
        "day",
        NH.histogram_count(F.col("nh_count")).alias("h_count"),
        frac(0.0, 25.0).alias("frac_0_25"),
        frac(-10.0, 10.0).alias("frac_n10_10"),
        frac(5.0, 1_000_000_000.0).alias("frac_ge5"),
    ).orderBy("event_type", "day")


# ------------------------------------------- st3: streaming deduplication

# dropDuplicatesWithinWatermark through the gate: the events stream is
# synthetically DOUBLED (explode over two copies) and the stateful dedup
# operator must collapse it back to exactly the batch row set — the
# streaming-ingest shape of a training-data pipeline's exact dedup (state
# keyed on event_id, dropped once the watermark passes, so state size is
# bounded by the lateness window, not the stream length).  The oracle is
# plain batch SQL over the ORIGINAL rows: any duplicate the operator
# leaks (or legitimate row it drops) breaks the count AND the
# decimal-exact value sum.
_ST3_SQL = """
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY event_type ORDER BY event_type
"""


@query("st3_streaming_dedup", _ST3_SQL)
def st3(spark: SparkSession, sf_dir: str) -> DataFrame:

    from parquet_common_spark.plans.common import (
        ensure_session_env,
        event_ts_ltz_col,
        read_events_raw,
    )

    ensure_session_env(spark)
    raw = read_events_raw(spark, sf_dir)
    ts_dt = dict(raw.dtypes)["ts"]
    stream = (
        spark.readStream.schema(raw.schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .withColumn("ts", event_ts_ltz_col(ts_dt))
        # plant exact duplicates: two copies of every row
        .withColumn("_copy", F.explode(F.array(F.lit(1), F.lit(2))))
        .drop("_copy")
    )
    deduped = stream.withWatermark("ts", "1 day").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(  # one state store per shuffle partition
        "spark.sql.shuffle.partitions", stream_shuffle_partitions(sf_dir)
    )
    try:
        # file sink, not memory: deduped is one row per UNIQUE EVENT —
        # the memory sink would collect the whole corpus onto the driver
        # (the st6 maxResultSize class); the groupBy below then runs as
        # an ordinary distributed batch agg over the sink files.
        out = stream_to_parquet(deduped, sf_dir, "pcs_st3")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return (
        out
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum(F.col("value"), 2).alias("sum_value"))
        .orderBy("event_type")
    )


# ----------------------------- m15: PromQL vector matching + label functions

# The instant-vector evaluation layer (functions/promql_vec.py) through
# the gate: per-(event_type, day) event counts as an instant vector,
# many-to-one vector_binop on(day) group_left against the per-day sum
# (the canonical PromQL share-of-total), label_replace with $1 group
# expansion, then topk(2) by day.  The reference delegates all of this to
# the upstream PromQL engine (queryable/parquet_queryable_test.go:45-66);
# here each step is a native DataFrame combinator and the oracle rebuilds
# the same pipeline relationally.
_M15_SQL = """
    WITH per AS (
      SELECT event_type,
             CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
             CAST(COUNT(*) AS DOUBLE) AS v
      FROM events GROUP BY 1, 2),
    tot AS (SELECT day, SUM(v) AS tv FROM per GROUP BY day),
    share AS (SELECT p.event_type, p.day, p.v / t.tv AS share
              FROM per p JOIN tot t USING (day)),
    g AS (SELECT event_type, day, share,
                 'g_' || substr(event_type, 1, 2) AS grp FROM share),
    ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY day
                                            ORDER BY share DESC, event_type, grp) AS rk
               FROM g)
    SELECT day, event_type, grp, ROUND(share, 9) AS share
    FROM ranked WHERE rk <= 2
    ORDER BY day, share DESC, event_type
"""


@query("m15_promql_vector_matching", _M15_SQL)
def m15(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_common_spark.functions import promql_vec as V

    ev = load(spark, sf_dir, "events")["events"]
    day = (
        F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(86_400_000_000))
        .cast("long")
        .cast("string")  # instant-vector labels are strings
    )
    per = ev.groupBy(F.col("event_type"), day.alias("day")).agg(
        F.count(F.lit(1)).cast("double").alias("value")
    )
    total = V.agg_vector(per, "sum", by=["day"])
    share = V.vector_binop(per, total, "/", on=["day"], group="left")
    share = V.label_replace(share, "grp", "g_$1", "event_type", "(..).*")
    top2 = V.topk(share, 2, by=["day"])
    return top2.select(
        F.col("day").cast("long").alias("day"),
        "event_type",
        "grp",
        F.round("value", 9).alias("share"),
    ).orderBy("day", F.desc("share"), "event_type")


# --------------------------------------------- st1: streaming through the gate

# Bounded Structured Streaming with a hash-checked oracle (reference:
# README "Planned: Streaming query capabilities" — our §2.9 goes further
# than the reference ships): the events table is consumed as a file-source
# STREAM, aggregated with an event-time tumbling window + watermark, and
# drained into a complete-mode memory sink by an availableNow trigger.
# The streamed answer must equal plain batch SQL over the same rows.
_ST1_SQL = """
    SELECT event_type,
           CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2 ORDER BY event_type, day
"""


@query("st1_streaming_daily_counts", _ST1_SQL)
def st1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time windowed streaming aggregate, gate-checked against the
    batch oracle.  availableNow processes the whole bounded input, and the
    complete-mode sink emits every window regardless of watermark cutoff,
    so the result is deterministic."""
    import uuid

    from parquet_common_spark.plans.common import (
        ensure_session_env,
        event_ts_ltz_col,
        read_events_raw,
    )

    ensure_session_env(spark)
    raw = read_events_raw(spark, sf_dir)
    ts_dt = dict(raw.dtypes)["ts"]
    stream = (
        # the file source streams a DIRECTORY; glob-filter to the events
        # table (each driver table is a single parquet file in sf_dir)
        spark.readStream.schema(raw.schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        # watermarks require TIMESTAMP (not NTZ); session TZ is pinned UTC,
        # so the LTZ interpretation is the identity
        .withColumn("ts", event_ts_ltz_col(ts_dt))
    )
    agg = (
        stream.withWatermark("ts", "1 day")
        .groupBy(F.window(F.col("ts"), "1 day").alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"), dsum(F.col("value"), 2).alias("sum_value"))
    )
    sink = f"st1_{uuid.uuid4().hex[:8]}"
    # scope down the stateful-agg partition count at check scale (one
    # state store per shuffle partition — see st2); restored right after
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", stream_shuffle_partitions(sf_dir)
    )
    try:
        q = (
            agg.writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        await_stream(q)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return (
        spark.table(sink)
        .select(
            "event_type",
            F.floor(F.unix_micros(F.col("w.start").cast("timestamp")) / F.lit(86_400_000_000))
            .cast("long")
            .alias("day"),
            "n_events",
            "sum_value",
        )
        .orderBy("event_type", "day")
    )


# ----------------------------------------- w5: native session windows (batch)

# F.session_window is the native gap-based sessionizer (the same operator
# Structured Streaming uses for stateful sessions); the oracle rebuilds
# sessions relationally with LAG + running SUM.  Semantics pinned: a
# session EXTENDS while gap <= 1h and closes on gap > 1h — session_window's
# window is [first_ts, last_ts + gap), so session bounds are derived from
# min/max event time, which both engines can compute.
_W5_SQL = """
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR ts - LAG(ts) OVER w > INTERVAL 1 HOUR
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sess AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked)
    SELECT user_id,
           CAST(sid AS BIGINT) AS sid,
           COUNT(*) AS n_events,
           MIN(epoch_us(ts)) AS session_start_us,
           MAX(epoch_us(ts)) AS session_end_us
    FROM sess GROUP BY user_id, sid
    ORDER BY user_id, sid
"""


@query("w5_session_windows", _W5_SQL)
def w5(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load(spark, sf_dir, "events")
    ev = t["events"].select(
        "user_id", "event_id", F.col("ts").cast("timestamp").alias("ts")
    )
    sessions = (
        ev.groupBy("user_id", F.session_window(F.col("ts"), "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(F.unix_micros(F.col("ts"))).alias("session_start_us"),
            F.max(F.unix_micros(F.col("ts"))).alias("session_end_us"),
        )
    )
    sw = Window.partitionBy("user_id").orderBy("session_start_us")
    return (
        sessions.withColumn("sid", F.row_number().over(sw).cast("long"))
        .select("user_id", "sid", "n_events", "session_start_us", "session_end_us")
        .orderBy("user_id", "sid")
    )


# --------------------------- st6: streaming session windows through the gate

# The SAME native gap sessionizer as w5, but run as a stateful
# Structured Streaming aggregation: watermarked event time, session
# state keyed by user and evicted once the watermark passes a session's
# close (state is bounded by the lateness horizon × active users, not
# the stream length).  The harness stages the events file plus two
# far-future sentinel files processed as later micro-batches
# (maxFilesPerTrigger=1), standing in for a live stream's continuing
# flow so the final watermark crosses — and append mode emits — every
# real session; the sentinel user is filtered from the output.  The
# oracle is w5's relational LAG/SUM session rebuild — streaming must
# reproduce the batch sessionization bit-for-bit.


@query("st6_streaming_sessions", _W5_SQL)
def st6(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile
    import time

    from parquet_common_spark.plans.common import (
        ensure_session_env,
        event_ts_ltz_col,
        read_events_raw,
    )

    ensure_session_env(spark)
    raw = read_events_raw(spark, sf_dir)
    ts_dt = dict(raw.dtypes)["ts"]
    uid_dt = dict(raw.dtypes)["user_id"]

    stage = tempfile.mkdtemp(prefix="st6_")
    try:
        shutil.copy(
            os.path.join(sf_dir, "events.parquet"),
            os.path.join(stage, "a_events.parquet"),
        )
        day_raw = (
            86_400 * 1_000_000_000 if ts_dt in ("bigint", "long") else None
        )
        sent = raw.limit(1).withColumn("user_id", F.lit(-1).cast(uid_dt))
        for name, days in (("b_sentinel1", 30), ("c_sentinel2", 31)):
            if day_raw is not None:
                s = sent.withColumn(
                    "ts", (F.col("ts") + F.lit(days * day_raw)).cast("long")
                )
            else:
                s = sent.withColumn(
                    "ts", F.col("ts") + F.expr(f"INTERVAL {days} DAYS")
                )
            s.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(stage, name)
            )
            time.sleep(1.1)  # distinct mtimes pin the micro-batch order

        stream = (
            spark.readStream.schema(raw.schema)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(stage)
            .withColumn("ts", event_ts_ltz_col(ts_dt))
        )
        sessions = (
            stream.withWatermark("ts", "1 minute")
            .groupBy(
                "user_id", F.session_window(F.col("ts"), "1 hour").alias("w")
            )
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.min(F.unix_micros(F.col("ts"))).alias("session_start_us"),
                F.max(F.unix_micros(F.col("ts"))).alias("session_end_us"),
            )
        )
        prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set(
        "spark.sql.shuffle.partitions", stream_shuffle_partitions(sf_dir)
    )
        # Session-window state for the whole first micro-batch (the full
        # events file) lives in the state store; the default
        # HDFSBacked provider keeps it as java-serialized JVM-heap maps
        # and OOMs around 1e7 events under the 8g local heap (r11 scale
        # run).  RocksDB keeps state off-heap/on-disk — the same choice
        # a 100 TB cluster deployment makes.  Conf is captured at query
        # start, so set/restore around start() is safe.
        provider_key = "spark.sql.streaming.stateStore.providerClass"
        prev_provider = spark.conf.get(provider_key, None)
        spark.conf.set(
            provider_key,
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        # parquet sink, not memory: st6's output is data-proportional
        # (one row per session) — at 1e7 events the memory sink's
        # collect blows spark.driver.maxResultSize (1.1 GiB measured at
        # sf10).  A file sink keeps the result distributed end-to-end,
        # as it would be on a cluster; the scratch dir is uuid-suffixed
        # and hour-GC'd like every other write-path query's.
        from parquet_common_spark.operators.pipeline_queries import _scratch_dir

        sink_dir = _scratch_dir("pcs_st6", sf_dir)
        try:
            q = (
                sessions.writeStream.format("parquet")
                .option("path", os.path.join(sink_dir, "out"))
                .option(
                    "checkpointLocation", os.path.join(sink_dir, "ckpt")
                )
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            await_stream(q)
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
            if prev_provider is None:
                spark.conf.unset(provider_key)
            else:
                spark.conf.set(provider_key, prev_provider)
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    sw = Window.partitionBy("user_id").orderBy("session_start_us")
    return (
        spark.read.parquet(os.path.join(sink_dir, "out"))
        .where(F.col("user_id") >= 0)
        .withColumn("sid", F.row_number().over(sw).cast("long"))
        .select(
            "user_id", "sid", "n_events", "session_start_us", "session_end_us"
        )
        .orderBy("user_id", "sid")
    )


# ------------------------------------- st2: stream-stream join through the gate

# Two file-source streams over the same bounded events table (clicks and
# purchases), inner-joined on user with an event-time range — the marquee
# stateful Structured Streaming operator.  Both sides are watermarked and
# the join carries the time constraint, so state is droppable exactly as
# it would be on an unbounded stream; availableNow drains everything, and
# an inner join emits each qualifying pair exactly once regardless of
# watermark timing, so the joined SET is deterministic.  The memory sink
# materializes the pairs; the per-user aggregate runs batch-side on it.
_ST2_SQL = """
    SELECT c.user_id,
           COUNT(*) AS n_pairs,
           MIN(epoch_us(p.ts) - epoch_us(c.ts)) AS min_lag_us
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    GROUP BY c.user_id
    ORDER BY c.user_id
"""


@query("st2_stream_stream_join", _ST2_SQL)
def st2(spark: SparkSession, sf_dir: str) -> DataFrame:

    from parquet_common_spark.plans.common import (
        ensure_session_env,
        event_ts_ltz_col,
        read_events_raw,
    )

    ensure_session_env(spark)
    raw = read_events_raw(spark, sf_dir)
    ts_dt = dict(raw.dtypes)["ts"]

    def side(event_type: str, prefix: str):
        return (
            spark.readStream.schema(raw.schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
            .where(F.col("event_type") == event_type)
            .select(
                F.col("user_id").alias(f"{prefix}_user"),
                event_ts_ltz_col(ts_dt).alias(f"{prefix}_ts"),
            )
            .withWatermark(f"{prefix}_ts", "1 day")
        )

    clicks, purchases = side("click", "c"), side("purchase", "p")
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") > F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
        "inner",
    )
    # a stream-stream join keeps one state store PER side PER shuffle
    # partition; at check scale 32 partitions are pure commit overhead.
    # The partition count is fixed at query start, so scope it down here
    # and restore (at cluster scale leave the session default).
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", stream_shuffle_partitions(sf_dir)
    )
    try:
        # file sink: the join emits one row per matched click→purchase
        # PAIR (data-proportional, quadratic under densification) — a
        # memory sink would collect every pair onto the driver.
        out = stream_to_parquet(joined, sf_dir, "pcs_st2")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return (
        out
        .groupBy(F.col("c_user").alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.min(F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("min_lag_us"),
        )
        .orderBy("user_id")
    )


# ---------------------- st4: stream-static decontamination (broadcast)

# Same contract as d7 (operators/decontam.py), evaluated over a STREAM
# of documents against the STATIC benchmark n-gram set: the remaining
# streaming join shape (st2 covers stream-stream).  The benchmark set is
# packed into one broadcast array row and equi-joined on a constant key
# (stream-static cross joins are not allowed; a lit-key broadcast hash
# join is the supported spelling), so the per-doc check is
# size(array_intersect(...)) — pure map, no state, no watermark.  At a
# multi-GB benchmark the batch operator's explode+join form (d7) is the
# right tool; a broadcast array is the streaming-friendly shape for the
# MB-scale eval suites decontamination actually uses.
def _st4_sql() -> str:
    from parquet_common_spark.operators.pipeline_queries import _D7_SQL

    return _D7_SQL


@query("st4_stream_static_decontam", _st4_sql())
def st4(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from parquet_common_spark.operators import dedup as DD
    from parquet_common_spark.operators.decontam import benchmark_ngram_set
    from parquet_common_spark.operators.pipeline_queries import (
        _DC_BENCH_SRC,
        _DC_MIN_HITS,
        _DC_N,
    )

    batch = load(spark, sf_dir, "documents")["documents"]
    bench_docs = batch.where(F.col("source") == _DC_BENCH_SRC)
    # r11 redesign: the first version attached the benchmark set as ONE
    # broadcast array row and took array_intersect(_sh, _bench) per
    # document — ArrayIntersect rebuilds a hash set of the bench array
    # for EVERY row, i.e. O(|corpus rows| x |bench set|), the same
    # interpreted-probe class as d9's straggler.  The probe is now the
    # contamination() spelling inside foreachBatch — per micro-batch:
    # explode the stream side's shingles, broadcast-hash-join the
    # (small, distinct) bench set, one partial-agg groupBy.  foreachBatch
    # is the production pattern for stream-static enrich + aggregate
    # without watermark gymnastics; results land in a parquet scratch
    # sink (hour-GC'd) so nothing data-proportional transits the driver.
    from parquet_common_spark.operators.pipeline_queries import _scratch_dir

    bench_set = F.broadcast(
        benchmark_ngram_set(bench_docs, "doc_id", "text", _DC_N)
    )
    stream = (
        spark.readStream.schema(batch.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
        .where(F.col("source") != _DC_BENCH_SRC)
        .withColumn("_sh", DD.shingle_hashes(F.col("text"), _DC_N))
    )
    sink_dir = _scratch_dir("pcs_st4", sf_dir)
    out_dir = os.path.join(sink_dir, "out")

    def _probe(bdf: DataFrame, epoch: int) -> None:
        base = bdf.select(
            "doc_id", F.size("_sh").cast("long").alias("n_shingles"), "_sh"
        )
        # distinct mirrors array_intersect's set semantics exactly
        hits = (
            base.select("doc_id", F.explode("_sh").alias("h"))
            .distinct()
            .join(bench_set, "h")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
        )
        (
            base.drop("_sh")
            .join(hits, "doc_id", "left")
            .withColumn("n_hits", F.coalesce("n_hits", F.lit(0).cast("long")))
            .select(
                "doc_id",
                "n_shingles",
                "n_hits",
                F.round(
                    F.col("n_hits").cast("double")
                    / F.col("n_shingles").cast("double"),
                    6,
                ).alias("hit_frac"),
                (F.col("n_hits") >= _DC_MIN_HITS).alias("contaminated"),
            )
            # Idempotent per-epoch sink (ADVICE r11): foreachBatch is
            # at-least-once, so a retried micro-batch under blind append
            # would duplicate rows.  Each epoch overwrites its own
            # deterministic subdir instead — a retry replaces, never
            # doubles; partition discovery unions the epochs at read.
            .write.mode("overwrite")
            .parquet(os.path.join(out_dir, f"epoch={epoch}"))
        )

    q = (
        stream.writeStream.foreachBatch(_probe)
        .option("checkpointLocation", os.path.join(sink_dir, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q)
    return spark.read.parquet(out_dir).drop("epoch").orderBy("doc_id")


# --------------- st5: streaming near-dup detection vs a static index

# A stream of new documents checked for near-duplicates AGAINST A
# REFERENCE CORPUS (the persisted MinHash sketch store d8 builds):
# the streaming arm of incremental dedup.  Everything is stateless —
# signature/band computation is a map, both joins are stream-static
# equi joins — so no watermark and no state store; cross-batch
# dedup of the pair stream happens on the bounded sink (at scale the
# band join is a shuffled stream-static join and the sink dedup is a
# downstream batch job; new-new pairs are d8's department).
def _st5_sql() -> str:
    from parquet_common_spark.operators.pipeline_queries import _D8_SPLIT, _D2_SQL, _SH_TAU

    return _D2_SQL.replace(
        f"WHERE jac >= {_SH_TAU}",
        f"WHERE jac >= {_SH_TAU} AND id_a < {_D8_SPLIT} AND id_b >= {_D8_SPLIT}",
    )


@query("st5_streaming_neardup", _st5_sql())
def st5(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from parquet_common_spark.operators import dedup as DD
    from parquet_common_spark.operators.pipeline_queries import _D8_SPLIT, _SH_TAU

    batch = load(spark, sf_dir, "documents")["documents"]
    idx = tempfile.mkdtemp(prefix="pcs_st5_idx_")
    DD.build_minhash_index(
        batch.where(F.col("doc_id") < _D8_SPLIT), "doc_id", "text", idx
    )
    index = spark.read.parquet(idx)
    idx_bands = DD._band_frame(index).select(
        F.col("_id").alias("_old_id"), "_band"
    )
    idx_hashes = index.select(F.col("_id").alias("_old_id"), F.col("_sh").alias("_sh_old"))

    stream = (
        spark.readStream.schema(batch.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
        .where(F.col("doc_id") >= _D8_SPLIT)
        .select(F.col("doc_id").alias("_id"), DD.shingle_hashes(F.col("text")).alias("_sh"))
        .withColumn("_sig", DD.minhash_signature_from_hashes(F.col("_sh")))
    )
    # carrying _sh through the band explode duplicates the array x16;
    # acceptable here because a stream side cannot self-join back (the
    # batch path's join-back optimization needs two passes over one
    # frame) — the documented stream/batch trade.
    stream_bands = DD._band_frame(stream, carry=("_sh",))
    verified = (
        stream_bands.join(idx_bands, "_band")
        .join(idx_hashes, "_old_id")
        .withColumn("jac", DD.jaccard(F.col("_sh_old"), F.col("_sh")))
        .where(F.col("jac") >= _SH_TAU)
        .select(
            F.col("_old_id").alias("id_a"),
            F.col("_id").alias("id_b"),
            F.round("jac", 6).alias("jaccard"),
        )
    )
    # file sink: verified near-dup PAIRS are corpus-proportional — the
    # memory sink would collect them all onto the driver (st6 class).
    return (
        stream_to_parquet(verified, sf_dir, "pcs_st5")
        .dropDuplicates(["id_a", "id_b"])
        .orderBy("id_a", "id_b")
    )


@query(
    "w7_rank_functions",
    """
    SELECT c_mktsegment, c_custkey,
           CAST(RANK() OVER w AS INT) AS rnk,
           CAST(DENSE_RANK() OVER w AS INT) AS drnk,
           CAST(NTILE(4) OVER w AS INT) AS quartile,
           ROUND(PERCENT_RANK() OVER w, 6) AS prank,
           ROUND(CUME_DIST() OVER w, 6) AS cdist
    FROM customer
    WHERE c_custkey <= 400
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
    ORDER BY c_mktsegment, rnk, c_custkey
    """,
)
def w7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ranking-function window family (rank/dense_rank/ntile/
    percent_rank/cume_dist) — one window spec, ONE shuffle on the
    partition key; the deterministic (acctbal DESC, custkey) order
    makes every rank oracle-exact."""
    t = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    return (
        t["customer"]
        .where(F.col("c_custkey") <= 400)
        .select(
            "c_mktsegment",
            "c_custkey",
            F.rank().over(w).cast("int").alias("rnk"),
            F.dense_rank().over(w).cast("int").alias("drnk"),
            F.ntile(4).over(w).cast("int").alias("quartile"),
            F.round(F.percent_rank().over(w), 6).alias("prank"),
            F.round(F.cume_dist().over(w), 6).alias("cdist"),
        )
        .orderBy("c_mktsegment", "rnk", "c_custkey")
    )


@query(
    "e7_cohort_retention",
    """
    WITH firstw AS (
      SELECT user_id, MIN(date_trunc('week', ts)) AS cohort
      FROM events GROUP BY user_id),
    act AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events)
    SELECT CAST(cohort AS DATE) AS cohort_week,
           CAST((epoch(wk) - epoch(cohort)) / 604800 AS INT) AS week_offset,
           COUNT(*) AS n_users
    FROM act JOIN firstw USING (user_id)
    GROUP BY 1, 2
    ORDER BY cohort_week, week_offset
    """,
)
def e7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-activity week,
    counted per week-offset of subsequent activity — the standard
    product-analytics query.  Two aggregations on user_id (the second
    reuses the first's hash partitioning through the join) plus the
    final (cohort, offset) count; all shuffles carry (user, week)
    pairs, never events."""
    t = load(spark, sf_dir, "events")
    ev = t["events"].select("user_id", F.date_trunc("week", "ts").alias("wk"))
    first = ev.groupBy("user_id").agg(F.min("wk").alias("cohort"))
    act = ev.distinct()
    return (
        act.join(first, "user_id")
        .groupBy(
            F.col("cohort").cast("date").alias("cohort_week"),
            ((F.unix_timestamp("wk") - F.unix_timestamp("cohort")) / 604800)
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


@query(
    "e8_funnel_conversion",
    """
    WITH v AS (
      SELECT user_id, MIN(ts) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY user_id),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t_click
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t_view
      GROUP BY e.user_id),
    p AS (
      SELECT e.user_id
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
      GROUP BY e.user_id)
    SELECT (SELECT COUNT(*) FROM v) AS n_view,
           (SELECT COUNT(*) FROM c) AS n_view_click,
           (SELECT COUNT(*) FROM p) AS n_view_click_purchase
    """,
)
def e8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: users who viewed, then clicked AFTER the first
    view, then purchased AFTER that first post-view click.  Each stage
    is one aggregation keyed on user_id — consecutive stages reuse the
    same hash partitioning, so the chain costs one logical shuffle of
    (user, ts) pairs; the three counts collapse to single rows and
    cross-join for free."""
    t = load(spark, sf_dir, "events")
    ev = t["events"].select("user_id", "ts", "event_type")
    v = ev.where(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts").alias("t_view")
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    return (
        v.agg(F.count(F.lit(1)).alias("n_view"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_view_click")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_view_click_purchase")))
    )


# ----------------- w8: navigation + value-range window frames

_W8_SQL = """
    WITH o AS (
      SELECT o_orderkey, o_custkey,
             date_diff('day', DATE '1992-01-01', o_orderdate) AS d,
             o_totalprice AS price
      FROM orders WHERE o_custkey < 100)
    SELECT o_orderkey, o_custkey, CAST(d AS BIGINT) AS d, price,
           lead(price, 1, 0.0) OVER (PARTITION BY o_custkey
                                     ORDER BY d, o_orderkey) AS next_price,
           nth_value(price, 2) OVER (PARTITION BY o_custkey
                                     ORDER BY d, o_orderkey
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND UNBOUNDED FOLLOWING) AS second_price,
           CAST(SUM(CAST(price AS DECIMAL(18,2))) OVER (
                PARTITION BY o_custkey ORDER BY d
                RANGE BETWEEN 90 PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS sum_90d
    FROM o ORDER BY o_custkey, d, o_orderkey
"""


@query("w8_navigation_frames", _W8_SQL)
def w8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Navigation + value-range window frames: lead-with-default,
    nth_value over the full-partition frame, and a RANGE (value-offset)
    frame summing the trailing 90 days — the §2.5 window surface beyond
    the rank family (w7) and row frames (w3/w6).  RANGE peers include
    ties on the order value in both engines; the frame sum is
    decimal-exact so summation order inside the frame cannot flip
    rounding.  One shuffle on the partition key."""
    t = load(spark, sf_dir, "orders")
    o = t["orders"].where(F.col("o_custkey") < 100).select(
        "o_orderkey",
        "o_custkey",
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-01").cast("date"))
        .cast("long")
        .alias("d"),
        F.col("o_totalprice").alias("price"),
    )
    wnav = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
    wfull = wnav.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    wrange = (
        Window.partitionBy("o_custkey").orderBy("d").rangeBetween(-90, 0)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        "d",
        "price",
        F.lead("price", 1, 0.0).over(wnav).alias("next_price"),
        F.nth_value("price", 2).over(wfull).alias("second_price"),
        F.sum(F.col("price").cast("decimal(18,2)"))
        .over(wrange)
        .cast("double")
        .alias("sum_90d"),
    ).orderBy("o_custkey", "d", "o_orderkey")


# ---------------- e9: forward as-of with tolerance (attribution join)

_E9_TOL_US = 3_600_000_000  # 1 hour

_E9_SQL = f"""
    SELECT c.event_id AS click_id, c.user_id,
           (SELECT CAST(epoch_us(MIN(p.ts)) AS BIGINT) FROM events p
            WHERE p.user_id = c.user_id AND p.event_type = 'purchase'
              AND p.ts > c.ts
              AND epoch_us(p.ts) - epoch_us(c.ts) <= {_E9_TOL_US})
             AS next_purchase_us
    FROM events c WHERE c.event_type = 'click'
    ORDER BY click_id
"""


@query("e9_asof_next_purchase_within_1h", _E9_SQL)
def e9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join with tolerance: each click matched to the
    user's FIRST purchase strictly after it, but only within one hour —
    the attribution-window join (e4's backward twin).  Same scalable
    shape: union-tagged events, ONE shuffle on user_id, a
    forward-looking first(ignorenulls) window (purchases sort before
    clicks at identical ts, so the strictly-after rule holds without a
    range join), tolerance applied as a map-only comparison.  The
    DuckDB oracle is the correlated MIN (ASOF JOIN ... TOLERANCE
    semantics)."""
    t = load(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    ev = t["events"].select(
        "event_id",
        "user_id",
        us.alias("us"),
        F.col("event_type"),
        F.when(F.col("event_type") == "purchase", us).alias("pus"),
    )
    tag = F.when(F.col("event_type") == "purchase", 0).otherwise(1)
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", tag, "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    nxt = ev.withColumn("_np", F.first("pus", ignorenulls=True).over(w))
    return (
        nxt.where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.when(
                F.col("_np") - F.col("us") <= F.lit(_E9_TOL_US), F.col("_np")
            ).alias("next_purchase_us"),
        )
        .orderBy("click_id")
    )


# ------------- dq1/dq2/cdc1: data-quality & CDC layer (operators/quality.py)

_DQ1_NUM = ["l_discount", "l_extendedprice", "l_orderkey", "l_quantity"]
_DQ1_STR = ["l_linestatus", "l_returnflag"]


def _dq1_sql() -> str:
    parts = []
    for c in _DQ1_NUM:
        parts.append(f"""
        SELECT '{c}' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT({c}) AS BIGINT) AS n_nonnull,
               CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
               ROUND(CAST(MIN({c}) AS DOUBLE), 6) AS min_num,
               ROUND(CAST(MAX({c}) AS DOUBLE), 6) AS max_num,
               ROUND(CAST(SUM(CAST({c} AS DECIMAL(27,4))) AS DOUBLE)
                     / COUNT({c}), 6) AS mean,
               CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
        FROM lineitem""")
    for c in _DQ1_STR:
        parts.append(f"""
        SELECT '{c}' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT({c}) AS BIGINT) AS n_nonnull,
               CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
               CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num,
               CAST(NULL AS DOUBLE) AS mean,
               MIN({c}) AS min_str, MAX({c}) AS max_str
        FROM lineitem""")
    return " UNION ALL ".join(parts) + " ORDER BY col_name"


@query("dq1_column_profile", _dq1_sql())
def dq1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """deequ-style one-pass column profile of lineitem: per-column
    row/non-null/exact-distinct counts, numeric min/max and an
    order-insensitive exact-decimal mean, lexical min/max for strings.
    ONE aggregate over the scan (Expand for the simultaneous
    count-distincts); ``approx=True`` is the documented 100 TB switch
    (HLL collapses the Expand into bounded per-column sketch state)."""
    from parquet_common_spark.operators.quality import column_profile

    li = load(spark, sf_dir, "lineitem")["lineitem"]
    return column_profile(li, _DQ1_NUM + _DQ1_STR).orderBy("col_name")


_DQ2_RELS = [
    ("events.user_id->customer.c_custkey", "events", "user_id", "customer", "c_custkey"),
    ("lineitem.l_orderkey->orders.o_orderkey", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part.p_partkey", "lineitem", "l_partkey", "part", "p_partkey"),
    ("orders.o_custkey->customer.c_custkey", "orders", "o_custkey", "customer", "c_custkey"),
]


def _dq2_sql() -> str:
    parts = []
    for name, ctab, ck, ptab, pk in _DQ2_RELS:
        parts.append(f"""
        SELECT '{name}' AS relationship,
               CAST(COALESCE(SUM(c_rows), 0) AS BIGINT) AS child_rows,
               CAST(COUNT(c_rows) AS BIGINT) AS child_keys,
               CAST(COUNT(CASE WHEN in_parent IS NULL THEN 1 END) AS BIGINT)
                 AS orphan_keys,
               CAST(COALESCE(SUM(CASE WHEN in_parent IS NULL THEN c_rows END), 0)
                    AS BIGINT) AS orphan_rows,
               CAST(COUNT(CASE WHEN c_rows IS NULL THEN 1 END) AS BIGINT)
                 AS unreferenced_parents
        FROM (SELECT {ck} AS key, COUNT(*) AS c_rows FROM {ctab} GROUP BY 1) c
        FULL OUTER JOIN
             (SELECT DISTINCT {pk} AS key, 1 AS in_parent FROM {ptab}) p
        USING (key)""")
    return " UNION ALL ".join(parts) + " ORDER BY relationship"


@query("dq2_key_integrity", _dq2_sql())
def dq2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key integrity audit over four declared relationships:
    orphaned child keys/rows and unreferenced parents, as COUNTS (so a
    clean corpus still hash-checks non-vacuously — unreferenced parents
    ARE nonzero here: parts never ordered, customers without orders).
    Per relationship: one map-side-combined groupBy on the child key +
    a key-partitioned full-outer join — |distinct keys| shuffled, never
    child rows."""
    from parquet_common_spark.operators.quality import key_integrity

    t = load(spark, sf_dir, "events", "lineitem", "orders", "part", "customer")
    frames = {"events": t["events"], "lineitem": t["lineitem"],
              "orders": t["orders"], "part": t["part"], "customer": t["customer"]}
    rels = [
        (name, frames[ctab], ck, frames[ptab], pk)
        for name, ctab, ck, ptab, pk in _DQ2_RELS
    ]
    return key_integrity(rels).orderBy("relationship")


_CDC1_SQL = """
    WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t, event_id
               FROM events WHERE user_id < 5),
    marks AS (SELECT user_id, event_type, t,
                     CASE WHEN LAG(event_type) OVER w IS NULL
                               OR LAG(event_type) OVER w <> event_type
                          THEN 1 ELSE 0 END AS s
              FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
    r2 AS (SELECT user_id, event_type, t,
                  SUM(s) OVER (PARTITION BY user_id ORDER BY t
                               ROWS UNBOUNDED PRECEDING) AS run
           FROM marks),
    hist AS (SELECT user_id, run, MIN(event_type) AS event_type,
                    MIN(t) AS valid_from, CAST(COUNT(*) AS BIGINT) AS run_len
             FROM r2 GROUP BY user_id, run)
    SELECT user_id, CAST(ROW_NUMBER() OVER w2 AS INT) AS version, event_type,
           valid_from, LEAD(valid_from) OVER w2 AS valid_to, run_len,
           LEAD(valid_from) OVER w2 IS NULL AS is_current
    FROM hist WINDOW w2 AS (PARTITION BY user_id ORDER BY valid_from)
    ORDER BY user_id, version
"""


@query("cdc1_scd2_history", _CDC1_SQL)
def cdc1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 (type-2) history construction from the event log: per user,
    consecutive runs of an unchanged event_type collapse into
    ``[valid_from, valid_to)`` versions with an open current row — the
    CDC primitive for dimension snapshots.  Two windows + one aggregate,
    all partitioned by user_id (per-key state only)."""
    from parquet_common_spark.operators.quality import scd2_history

    ev = load(spark, sf_dir, "events")["events"].where(F.col("user_id") < 5)
    e = ev.select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("_tus"),
        "event_id",
    )
    return (
        scd2_history(e, "user_id", "event_type", "_tus", "event_id")
        .select(
            "user_id",
            "version",
            F.col("value").alias("event_type"),
            "valid_from",
            "valid_to",
            "run_len",
            "is_current",
        )
        .orderBy("user_id", "version")
    )


# --------------- e10/st8: pure range join via temporal bucketing

_E10_W_US = 300_000_000  # 5-minute blast-radius window


_E10_SQL = f"""
    WITH err AS (SELECT event_id AS err_id, epoch_us(ts) AS t0
                 FROM events WHERE event_type = 'error'),
    clk AS (SELECT event_id AS click_id, epoch_us(ts) AS tc
            FROM events WHERE event_type = 'click')
    SELECT err_id, CAST(COUNT(*) AS BIGINT) AS n_clicks,
           MIN(click_id) AS first_click_id
    FROM err JOIN clk ON tc >= t0 AND tc < t0 + {_E10_W_US}
    GROUP BY err_id ORDER BY n_clicks DESC, err_id LIMIT 25
"""


@query("e10_interval_blast_radius", _E10_SQL)
def e10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure range join (NO equality key): clicks landing inside the
    5-minute window after each error event — incident blast radius.
    Catalyst alone would plan this as a nested-loop; the operator
    rewrites it as a temporal-bucket equi-join
    (operators/intervals.py), so it hash-partitions, AQE-skew-splits,
    and scales like any other join."""
    from parquet_common_spark.operators.intervals import point_in_interval_join

    ev = load(spark, sf_dir, "events")["events"]
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    err = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        us.alias("t0"),
        (us + F.lit(_E10_W_US)).alias("t1"),
    )
    clk = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), us.alias("tc")
    )
    pairs = point_in_interval_join(clk, err, "tc", "t0", "t1", _E10_W_US)
    return (
        pairs.groupBy("err_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clicks"),
            F.min("click_id").alias("first_click_id"),
        )
        .orderBy(F.desc("n_clicks"), "err_id")
        .limit(25)
    )


_ST8_SQL = f"""
    SELECT e.event_id AS err_id, c.event_id AS click_id
    FROM events e JOIN events c
      ON c.event_type = 'click' AND e.event_type = 'error'
     AND epoch_us(c.ts) >= epoch_us(e.ts)
     AND epoch_us(c.ts) < epoch_us(e.ts) + {_E10_W_US}
    ORDER BY err_id, click_id
"""


@query("st8_streaming_interval_join", _ST8_SQL)
def st8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming arm of e10: a CLICK STREAM range-joined to the static
    error-interval table through the same temporal-bucket equi-join —
    stream-static inner joins are stateless in Structured Streaming, so
    this runs in append mode with zero state store rows; the exact
    containment check is a map-only filter per micro-batch."""

    from parquet_common_spark.plans.common import (
        ensure_session_env,
        event_ts_ltz_col,
        read_events_raw,
    )

    ensure_session_env(spark)
    batch_raw = read_events_raw(spark, sf_dir)
    ev = load(spark, sf_dir, "events")["events"]
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    err = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        us.alias("t0"),
        (us + F.lit(_E10_W_US)).alias("t1"),
    )
    w = F.lit(_E10_W_US)
    err_b = err.withColumn(
        "_bucket",
        F.explode(
            F.sequence(
                F.floor(F.col("t0") / w).cast("long"),
                F.floor((F.col("t1") - F.lit(1)) / w).cast("long"),
            )
        ),
    )
    raw_dt = dict(batch_raw.dtypes).get("ts")
    sus = F.unix_micros(event_ts_ltz_col(raw_dt))
    stream = (
        spark.readStream.schema(batch_raw.schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .where(F.col("event_type") == "click")
        .select(F.col("event_id").alias("click_id"), sus.alias("tc"))
        .withColumn("_bucket", F.floor(F.col("tc") / w).cast("long"))
    )
    matched = (
        stream.join(err_b, "_bucket", "inner")
        .where((F.col("tc") >= F.col("t0")) & (F.col("tc") < F.col("t1")))
        .select("err_id", "click_id")
    )
    # file sink: matched (err, click) PAIRS are the e10 density family —
    # quadratic under densification — never driver-collectible at scale.
    return stream_to_parquet(matched, sf_dir, "pcs_st8").orderBy(
        "err_id", "click_id"
    )


# --------------- st9: streaming SCD2 (custom stateful operator)

_ST9_SQL = """
    WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t, event_id
               FROM events WHERE user_id < 5),
    marks AS (SELECT user_id, event_type, t,
                     CASE WHEN LAG(event_type) OVER w IS NULL
                               OR LAG(event_type) OVER w <> event_type
                          THEN 1 ELSE 0 END AS s
              FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
    r2 AS (SELECT user_id, event_type, t,
                  SUM(s) OVER (PARTITION BY user_id ORDER BY t
                               ROWS UNBOUNDED PRECEDING) AS run
           FROM marks),
    hist AS (SELECT user_id, run, MIN(event_type) AS event_type,
                    MIN(t) AS valid_from, CAST(COUNT(*) AS BIGINT) AS run_len
             FROM r2 GROUP BY user_id, run),
    v AS (SELECT user_id AS key, CAST(ROW_NUMBER() OVER w2 AS INT) AS version,
                 event_type AS value, valid_from,
                 LEAD(valid_from) OVER w2 AS valid_to, run_len
          FROM hist WINDOW w2 AS (PARTITION BY user_id ORDER BY valid_from))
    SELECT key, version, value, valid_from, valid_to, run_len
    FROM v WHERE valid_to IS NOT NULL ORDER BY key, version
"""


@query("st9_streaming_scd2", _ST9_SQL)
def st9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming arm of cdc1: the SCD2 fold as a CUSTOM STATEFUL
    operator (applyInPandasWithState keyed on the entity, EventTimeTimeout
    retention) — each micro-batch closes versions against the open run
    carried in state and emits exactly the batch operator's
    ``valid_to IS NOT NULL`` rows, which is the oracle here."""

    from parquet_common_spark.plans.common import (
        ensure_session_env,
        event_ts_ltz_col,
        read_events_raw,
    )
    from parquet_common_spark.streaming.scd2 import streaming_scd2

    ensure_session_env(spark)
    raw = read_events_raw(spark, sf_dir)
    ts_dt = dict(raw.dtypes)["ts"]
    et = event_ts_ltz_col(ts_dt)
    stream = (
        spark.readStream.schema(raw.schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .where(F.col("user_id") < 5)
        .select(
            F.col("user_id"),
            F.col("event_type"),
            F.unix_micros(et).alias("_tus"),
            F.col("event_id"),
            et.alias("_et"),
        )
    )
    out = streaming_scd2(
        stream, "user_id", "event_type", "_tus", "event_id", "_et"
    )
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", stream_shuffle_partitions(sf_dir)
    )
    try:
        # file sink: closed SCD2 versions grow with the event stream
        # (runs per key are data-proportional under densification).
        res = stream_to_parquet(out, sf_dir, "pcs_st9")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return res.orderBy("key", "version")


# --------------- dq3: numeric distribution drift (PSI over value bins)

_DQ3_SPLIT_US = 1_705_363_200_000_000  # 2024-01-16T00:00Z: the month's halves
_DQ3_WIDTH = 50
_DQ3_BINS = 10

_DQ3_SQL = f"""
    WITH e AS (SELECT event_type,
                      LEAST(CAST(floor(value / {_DQ3_WIDTH}) AS BIGINT),
                            {_DQ3_BINS - 1}) AS bin,
                      CASE WHEN epoch_us(ts) < {_DQ3_SPLIT_US} THEN 1 ELSE 0 END AS a
               FROM events),
    per AS (SELECT event_type, bin,
                   CAST(SUM(a) AS BIGINT) AS n_a,
                   CAST(SUM(1 - a) AS BIGINT) AS n_b
            FROM e GROUP BY event_type, bin),
    tot AS (SELECT event_type, SUM(n_a) AS ta, SUM(n_b) AS tb
            FROM per GROUP BY event_type)
    SELECT p.event_type, p.bin, n_a, n_b,
           ROUND(CAST(2 * n_a + 1 AS DOUBLE) / CAST(2 * ta + {2 * _DQ3_BINS} AS DOUBLE), 6) AS p_a,
           ROUND(CAST(2 * n_b + 1 AS DOUBLE) / CAST(2 * tb + {2 * _DQ3_BINS} AS DOUBLE), 6) AS p_b,
           ROUND((CAST(2 * n_a + 1 AS DOUBLE) / CAST(2 * ta + {2 * _DQ3_BINS} AS DOUBLE)
                  - CAST(2 * n_b + 1 AS DOUBLE) / CAST(2 * tb + {2 * _DQ3_BINS} AS DOUBLE))
                 * ln((CAST(2 * n_a + 1 AS DOUBLE) * CAST(2 * tb + {2 * _DQ3_BINS} AS DOUBLE))
                      / (CAST(2 * n_b + 1 AS DOUBLE) * CAST(2 * ta + {2 * _DQ3_BINS} AS DOUBLE))), 6)
             AS psi_term
    FROM per p JOIN tot t ON p.event_type = t.event_type
    ORDER BY p.event_type, bin
"""


@query("dq3_numeric_drift", _DQ3_SQL)
def dq3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric-distribution drift between the month's halves per event
    type: fixed-width value bins (no quantile pass), PSI terms with
    add-half smoothing — the monitoring view that catches a metric
    regime change before it poisons a training mix.  One
    map-side-combined groupBy reduces the corpus to ≤ |groups|·bins
    rows (see quality.numeric_drift)."""
    from parquet_common_spark.operators.quality import numeric_drift

    ev = load(spark, sf_dir, "events")["events"]
    split = F.unix_micros(F.col("ts").cast("timestamp")) < F.lit(_DQ3_SPLIT_US)
    return numeric_drift(
        ev, "event_type", "value", split, _DQ3_WIDTH, _DQ3_BINS
    ).orderBy("event_type", "bin")


# --------------- e11: daily OHLC + exact mean per event type

_E11_SQL = """
    WITH e AS (SELECT event_type,
                      CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
                      epoch_us(ts) AS tus, event_id, value
               FROM events),
    r AS (SELECT *,
                 ROW_NUMBER() OVER (PARTITION BY event_type, day
                                    ORDER BY tus, event_id) AS rn_a,
                 ROW_NUMBER() OVER (PARTITION BY event_type, day
                                    ORDER BY tus DESC, event_id DESC) AS rn_d
          FROM e)
    SELECT event_type, day,
           ROUND(MAX(CASE WHEN rn_a = 1 THEN value END), 6) AS open,
           ROUND(MAX(value), 6) AS high,
           ROUND(MIN(value), 6) AS low,
           ROUND(MAX(CASE WHEN rn_d = 1 THEN value END), 6) AS close,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) / COUNT(*), 6)
             AS mean_value
    FROM r GROUP BY event_type, day ORDER BY event_type, day
"""


@query("e11_daily_ohlc", _E11_SQL)
def e11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC + exact-decimal mean per event type — the
    downsampling rollup a metrics/market pipeline materializes.  Open
    and close are ``min_by``/``max_by`` over the total (tus, event_id)
    order, so the WHOLE query is ONE map-side-combined aggregate — no
    window sort of the events table at all (the r7 two-ROW_NUMBER
    version cost two extra full-table window sorts; VERDICT r7 §wrong
    #3).  All state is per (type, day)."""
    t = load(spark, sf_dir, "events")["events"]
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    e = t.select(
        "event_type",
        F.floor(us / F.lit(86_400_000_000)).cast("long").alias("day"),
        us.alias("tus"),
        "event_id",
        "value",
    )
    ord_key = F.struct(F.col("tus"), F.col("event_id"))
    return (
        e.groupBy("event_type", "day")
        .agg(
            F.round(F.min_by("value", ord_key), 6).alias("open"),
            F.round(F.max("value"), 6).alias("high"),
            F.round(F.min("value"), 6).alias("low"),
            F.round(F.max_by("value", ord_key), 6).alias("close"),
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_value"),
        )
        .orderBy("event_type", "day")
    )


# --------------- e12: interval-interval overlap join (sessions x outages)

_E12_L_US = 600_000_000  # purchase-session span: 10 min
_E12_R_US = 420_000_000  # error-outage span: 7 min
_E12_BUCKET_US = 300_000_000  # 5-min buckets: both sides span >1 bucket

_E12_SQL = f"""
    WITH s AS (SELECT event_id AS sid, epoch_us(ts) AS ls,
                      epoch_us(ts) + {_E12_L_US} AS le
               FROM events WHERE event_type = 'purchase'),
    o AS (SELECT event_id AS oid, epoch_us(ts) AS rs,
                 epoch_us(ts) + {_E12_R_US} AS re
          FROM events WHERE event_type = 'error')
    SELECT sid, CAST(COUNT(*) AS BIGINT) AS n_outages,
           MIN(oid) AS first_outage_id,
           CAST(SUM(LEAST(le, re) - GREATEST(ls, rs)) AS BIGINT) AS overlap_us
    FROM s JOIN o ON ls < re AND rs < le
    GROUP BY sid ORDER BY n_outages DESC, sid LIMIT 25
"""


@query("e12_session_outage_overlap", _E12_SQL)
def e12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-OVERLAP join (the other pure range-join shape, VERDICT
    r7 ask #6): 10-min purchase sessions x 7-min error outages, per
    session the overlapping outage count and total overlapped µs.
    Catalyst would nested-loop the `ls < re AND rs < le` predicate;
    ``interval_overlap_join`` rewrites it as a temporal-bucket
    equi-join with same-bucket-ownership dedup (each overlapping pair
    is emitted exactly once even though both sides explode into
    multiple buckets — both spans here EXCEED the 5-min bucket, so the
    multi-bucket path is exercised, not just allowed)."""
    from parquet_common_spark.operators.intervals import interval_overlap_join

    ev = load(spark, sf_dir, "events")["events"]
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    s = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("sid"),
        us.alias("ls"),
        (us + F.lit(_E12_L_US)).alias("le"),
    )
    o = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("oid"),
        us.alias("rs"),
        (us + F.lit(_E12_R_US)).alias("re"),
    )
    pairs = interval_overlap_join(s, o, "ls", "le", "rs", "re", _E12_BUCKET_US)
    return (
        pairs.groupBy("sid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_outages"),
            F.min("oid").alias("first_outage_id"),
            F.sum(
                F.least(F.col("le"), F.col("re"))
                - F.greatest(F.col("ls"), F.col("rs"))
            )
            .cast("long")
            .alias("overlap_us"),
        )
        .orderBy(F.desc("n_outages"), "sid")
        .limit(25)
    )


# --------------- st10: streaming record linkage (stream-static ER)

# The streaming arm of er1 (operators/linkage.py::entity_linkage): a
# STREAM of new records fuzzy-matched against the STATIC master table.
# Redesigned r12 to the same aggregate-then-link posture as er1: the
# driver's part table has 64 distinct names at every sf, so emitting
# record×record matched pairs made the OUTPUT Θ(|stream|·|master|/k)
# — quadratic across a scale decade no matter how the join is planned.
# Instead the master side collapses to three per-(block, name) count
# frames (static, entity-bounded, auto-broadcast), each micro-batch
# takes three map-side broadcast hash joins, and the union of the two
# blocking passes is counted by inclusion–exclusion
# (c_brand,size + c_type,size − c_brand,type,size) in a PER-BATCH
# groupBy keyed by (stream id, master name) — legal without a state
# store or watermark because every stream record lives in exactly one
# micro-batch, so the per-id aggregate never spans batches.  Output is
# one row per (stream record, matched master NAME) with the master
# support count: linear in the stream.  Results land in the idempotent
# per-epoch parquet sink (st4's pattern), never a driver-side memory
# sink.

_ST10_SQL = """
    WITH m AS (SELECT * FROM part WHERE p_partkey % 2 = 0),
    s AS (SELECT * FROM part WHERE p_partkey % 2 = 1),
    m1 AS (SELECT p_brand AS mb, p_size AS msz, p_name AS nm, count(*) AS c
           FROM m GROUP BY 1, 2, 3),
    mt AS (SELECT p_type AS mt, p_size AS msz, p_name AS nm, count(*) AS c
           FROM m GROUP BY 1, 2, 3),
    mbt AS (SELECT p_type AS mt, p_brand AS mb, p_size AS msz,
                   p_name AS nm, count(*) AS c
            FROM m GROUP BY 1, 2, 3, 4),
    u AS (
      SELECT s.p_partkey AS id_s, s.p_name AS sn, f.nm, f.c AS np
      FROM s JOIN m1 f ON f.mb = s.p_brand AND f.msz = s.p_size
      UNION ALL
      SELECT s.p_partkey, s.p_name, f.nm, f.c
      FROM s JOIN mt f ON f.mt = s.p_type AND f.msz = s.p_size
      UNION ALL
      SELECT s.p_partkey, s.p_name, f.nm, -f.c
      FROM s JOIN mbt f ON f.mt = s.p_type AND f.mb = s.p_brand
                       AND f.msz = s.p_size
    ),
    tot AS (SELECT id_s, sn, nm, CAST(SUM(np) AS BIGINT) AS n_masters
            FROM u GROUP BY 1, 2, 3 HAVING SUM(np) > 0)
    SELECT id_s, nm AS name_m,
           round(jaro_winkler_similarity(sn, nm), 6) AS sim, n_masters
    FROM tot
    WHERE round(jaro_winkler_similarity(sn, nm), 6) >= 0.93
    ORDER BY id_s, name_m
"""


@query("st10_streaming_linkage", _ST10_SQL)
def st10(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from parquet_common_spark.operators.linkage import _jaro_winkler_udf
    from parquet_common_spark.operators.pipeline_queries import _scratch_dir

    batch = load(spark, sf_dir, "part")["part"]
    master = batch.where(F.col("p_partkey") % 2 == 0).select(
        F.col("p_name").alias("nm"),
        F.col("p_brand").alias("mb"),
        F.col("p_type").alias("mt"),
        F.col("p_size").alias("msz"),
    )
    # static entity-level master frames — bounded by names × block keys,
    # tiny at every sf, auto-broadcast into each micro-batch's joins
    m1 = master.groupBy("mb", "msz", "nm").agg(F.count(F.lit(1)).alias("c"))
    mtf = master.groupBy("mt", "msz", "nm").agg(F.count(F.lit(1)).alias("c"))
    mbt = master.groupBy("mt", "mb", "msz", "nm").agg(
        F.count(F.lit(1)).alias("c")
    )
    stream = (
        spark.readStream.schema(batch.schema)
        .option("pathGlobFilter", "part.parquet")
        .parquet(sf_dir)
        .where(F.col("p_partkey") % 2 == 1)
        .select(
            F.col("p_partkey").alias("id_s"),
            F.col("p_name").alias("sn"),
            F.col("p_brand").alias("sb"),
            F.col("p_type").alias("st"),
            F.col("p_size").alias("ssz"),
        )
    )
    sink_dir = _scratch_dir("pcs_st10", sf_dir)
    out_dir = os.path.join(sink_dir, "out")
    jw = _jaro_winkler_udf()

    def _link(bdf: DataFrame, epoch: int) -> None:
        j1 = bdf.join(
            m1,
            (F.col("sb") == F.col("mb")) & (F.col("ssz") == F.col("msz")),
        ).select("id_s", "sn", "nm", F.col("c").alias("np"))
        j2 = bdf.join(
            mtf,
            (F.col("st") == F.col("mt")) & (F.col("ssz") == F.col("msz")),
        ).select("id_s", "sn", "nm", F.col("c").alias("np"))
        j3 = bdf.join(
            mbt,
            (F.col("st") == F.col("mt"))
            & (F.col("sb") == F.col("mb"))
            & (F.col("ssz") == F.col("msz")),
        ).select("id_s", "sn", "nm", (-F.col("c")).alias("np"))
        (
            j1.unionByName(j2)
            .unionByName(j3)
            .groupBy("id_s", "sn", "nm")
            .agg(F.sum("np").cast("long").alias("n_masters"))
            .where(F.col("n_masters") > 0)
            .withColumn("sim", F.round(jw(F.col("sn"), F.col("nm")), 6))
            .where(F.col("sim") >= 0.93)
            .select("id_s", F.col("nm").alias("name_m"), "sim", "n_masters")
            .write.mode("overwrite")
            .parquet(os.path.join(out_dir, f"epoch={epoch}"))
        )

    q = (
        stream.writeStream.foreachBatch(_link)
        .option("checkpointLocation", os.path.join(sink_dir, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q)
    return spark.read.parquet(out_dir).drop("epoch").orderBy("id_s", "name_m")


# -------- st11: streaming k-means assignment (stream-static scoring)

# The streaming arm of km1 (operators/clustering.py): centroids are FIT
# on the static half of the embeddings table (even vec_ids, the same
# deterministic Lloyd's contract as km1 — quantized ints, lowest-id
# seeds, SUM/COUNT updates), then the STREAM of new vectors (odd
# vec_ids) is assigned map-only against the k x dim broadcast-literal
# centroids: no join, no aggregation, no state store — the
# streaming-legal shape of model scoring, and at 100 TB/day exactly how
# an embedding-ingest pipeline buckets new vectors (the model is
# scalars; the stream never shuffles).


def _st11_sql(k: int = 4, dim: int = 64) -> str:
    """km1's unrolled recurrence restricted to the even half, plus a
    final odd-half assignment with the squared-distance fingerprint."""
    qcols = ", ".join(
        f"CAST(ROUND(CAST(embedding[{i + 1}] AS DOUBLE) * 1000) AS BIGINT) AS q_{i}"
        for i in range(dim)
    )
    dist_int = " + ".join(
        f"(e.q_{i} - c.c_{i}) * (e.q_{i} - c.c_{i})" for i in range(dim)
    )
    dist_dbl = " + ".join(
        f"(CAST(e.q_{i} AS DOUBLE) - c.c_{i}) * (CAST(e.q_{i} AS DOUBLE) - c.c_{i})"
        for i in range(dim)
    )
    sums = ", ".join(f"SUM(e.q_{i}) AS s_{i}" for i in range(dim))
    cdiv = ", ".join(f"CAST(s_{i} AS DOUBLE) / n AS c_{i}" for i in range(dim))
    ccols0 = ", ".join(f"q_{i} AS c_{i}" for i in range(dim))

    def assign(src: str, prev: str, dist: str) -> str:
        return (
            f"(SELECT vec_id, cid AS cluster, d FROM ("
            f"SELECT e.vec_id, c.cid, {dist} AS d, ROW_NUMBER() OVER ("
            f"PARTITION BY e.vec_id ORDER BY {dist}, c.cid) AS rn "
            f"FROM {src} e CROSS JOIN {prev} c) WHERE rn = 1)"
        )

    def update(a: str) -> str:
        return (
            f"(SELECT cid, {cdiv} FROM (SELECT {a}.cluster AS cid, "
            f"COUNT(*) AS n, {sums} FROM {a} JOIN ev e USING (vec_id) "
            f"GROUP BY {a}.cluster))"
        )

    return f"""
    WITH allq AS (SELECT vec_id, {qcols} FROM embeddings),
    ev AS (SELECT * FROM allq WHERE vec_id % 2 = 0),
    od AS (SELECT * FROM allq WHERE vec_id % 2 = 1),
    c0 AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, {ccols0}
           FROM (SELECT * FROM ev ORDER BY vec_id LIMIT {k})),
    a0 AS {assign('ev', 'c0', dist_int)},
    c1 AS {update('a0')},
    a1 AS {assign('ev', 'c1', dist_dbl)},
    c2 AS {update('a1')},
    fin AS {assign('od', 'c2', dist_dbl)}
    SELECT vec_id, cluster, ROUND(SQRT(d), 6) AS dist
    FROM fin ORDER BY vec_id
    """


@query("st11_streaming_kmeans", _st11_sql())
def st11(spark: SparkSession, sf_dir: str) -> DataFrame:

    from parquet_common_spark.operators.clustering import (
        assign_to_centroids,
        kmeans_fit,
        quantize_vectors,
    )

    batch = load(spark, sf_dir, "embeddings")["embeddings"]
    static = batch.where(F.col("vec_id") % 2 == 0)
    centroids = kmeans_fit(static, k=4, iterations=2, dim=64)

    stream = (
        spark.readStream.schema(batch.schema)
        .option("pathGlobFilter", "embeddings.parquet")
        .parquet(sf_dir)
        .where(F.col("vec_id") % 2 == 1)
    )
    q = quantize_vectors(stream)
    cluster, sqd = assign_to_centroids(q, centroids, integer_centroids=False)
    scored = q.select(
        "vec_id",
        cluster.alias("cluster"),
        F.round(F.sqrt(sqd), 6).alias("dist"),
    )
    # file sink: scoring emits one row PER RECORD — the memory sink
    # would collect the entire scored stream onto the driver (st6 class).
    return stream_to_parquet(scored, sf_dir, "pcs_st11").orderBy("vec_id")


# ------------ cdc2: as-of snapshot diff (time-travel table diff)

_CDC2_SQL = """
    WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t, event_id
               FROM events),
    b AS (SELECT MIN(t) AS lo, MAX(t) AS hi FROM e),
    tt AS (SELECT lo + (hi - lo) // 3 AS t1,
                  lo + 2 * ((hi - lo) // 3) AS t2 FROM b),
    s1 AS (SELECT user_id, event_type AS type_t1, n_t1 FROM (
             SELECT e.user_id, e.event_type,
                    CAST(COUNT(*) OVER (PARTITION BY e.user_id) AS BIGINT)
                      AS n_t1,
                    ROW_NUMBER() OVER (PARTITION BY e.user_id
                                       ORDER BY e.t DESC, e.event_id DESC)
                      AS rn
             FROM e, tt WHERE e.t <= tt.t1) WHERE rn = 1),
    s2 AS (SELECT user_id, event_type AS type_t2, n_t2 FROM (
             SELECT e.user_id, e.event_type,
                    CAST(COUNT(*) OVER (PARTITION BY e.user_id) AS BIGINT)
                      AS n_t2,
                    ROW_NUMBER() OVER (PARTITION BY e.user_id
                                       ORDER BY e.t DESC, e.event_id DESC)
                      AS rn
             FROM e, tt WHERE e.t <= tt.t2) WHERE rn = 1)
    SELECT s2.user_id,
           CASE WHEN s1.user_id IS NULL THEN 'added'
                WHEN s1.type_t1 <> s2.type_t2 THEN 'changed'
                ELSE 'unchanged' END AS status,
           s1.type_t1, s2.type_t2,
           COALESCE(s1.n_t1, 0) AS n_t1, s2.n_t2
    FROM s2 LEFT JOIN s1 USING (user_id)
    WHERE s1.user_id IS NULL OR s1.type_t1 <> s2.type_t2
    ORDER BY user_id
"""


@query("cdc2_snapshot_diff", _CDC2_SQL)
def cdc2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-travel snapshot diff: reconstruct every user's state AS OF
    two instants (T1 = 1/3 and T2 = 2/3 through the event-time range,
    integer arithmetic so both engines pick identical cut points), then
    diff the snapshots — 'added' (entity born between T1 and T2) and
    'changed' (latest event_type differs), with event counts at each
    instant.  This is the audit query an SCD2/lakehouse store answers
    between two versions (cdc1 materializes the full history; this
    reads it at two points and compares).  'removed' cannot occur over
    an append-only event source and is deliberately absent from the
    contract.

    Scale shape: two as-of reconstructions = two windowed
    latest-per-key passes over the pruned time slices (each ONE
    shuffle on user_id; at 100 TB the t <= T predicate prunes
    time-partitioned storage before the shuffle), then one user_id
    equi-join of |users|-row snapshots.  Integer/string exact — no
    float accumulation anywhere."""
    ev = load(spark, sf_dir, "events")["events"]
    e = ev.select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t"),
        "event_id",
    )
    b = e.agg(F.min("t").alias("lo"), F.max("t").alias("hi")).collect()[0]
    span = b["hi"] - b["lo"]
    t1 = b["lo"] + span // 3
    t2 = b["lo"] + 2 * (span // 3)

    def snapshot(cut, type_alias, n_alias):
        w_rank = Window.partitionBy("user_id").orderBy(
            F.desc("t"), F.desc("event_id")
        )
        w_all = Window.partitionBy("user_id")
        return (
            e.where(F.col("t") <= cut)
            .select(
                "user_id",
                F.col("event_type").alias(type_alias),
                F.count(F.lit(1)).over(w_all).cast("long").alias(n_alias),
                F.row_number().over(w_rank).alias("rn"),
            )
            .where(F.col("rn") == 1)
            .drop("rn")
        )

    s1 = snapshot(t1, "type_t1", "n_t1")
    s2 = snapshot(t2, "type_t2", "n_t2")
    j = s2.join(s1, "user_id", "left")
    return (
        j.select(
            "user_id",
            F.when(F.col("type_t1").isNull(), "added")
            .when(F.col("type_t1") != F.col("type_t2"), "changed")
            .otherwise("unchanged")
            .alias("status"),
            "type_t1",
            "type_t2",
            F.coalesce(F.col("n_t1"), F.lit(0)).cast("long").alias("n_t1"),
            "n_t2",
        )
        .where(F.col("type_t1").isNull() | (F.col("type_t1") != F.col("type_t2")))
        .orderBy("user_id")
    )


# ------------------------------------- e13: event transition profile

_E13_SQL = """
    WITH s AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events),
    t AS (SELECT prev_type, event_type AS next_type, COUNT(*) AS n
          FROM s WHERE prev_type IS NOT NULL
          GROUP BY prev_type, event_type)
    SELECT prev_type, next_type, n,
           ROUND(CAST(n AS DOUBLE) /
                 SUM(n) OVER (PARTITION BY prev_type), 6) AS prob
    FROM t ORDER BY prev_type, next_type
"""


@query("e13_event_transitions", _E13_SQL)
def e13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition profile of user behavior: per-user
    event streams ordered by (ts, event_id), lag-paired into
    (prev_type, next_type) bigrams, counted, and normalized into
    row-stochastic transition probabilities — the session-behavior
    fingerprint bot-detection and curriculum-mixing pipelines consume.

    Scale shape: the lag window partitions by user_id (hash shuffle,
    per-user state only — no global sort); the transition groupBy is
    |event_types|^2 keys at most, map-side combinable; the normalizing
    window runs over that tiny aggregated frame, not the raw events.
    Deterministic: (ts, event_id) is a total order per user."""
    ev = load(spark, sf_dir, "events")["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wp = Window.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "next_type",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(wp), 6).alias("prob"),
    ).orderBy("prev_type", "next_type")


# ----------------------- st12: streaming text-format ingestion (JSON source)

# The streaming arm of io1's format-interop surface: a JSON drop
# directory consumed as a file-source stream with an EXPLICIT schema
# (streaming schema inference is disabled by default in Spark for good
# reason — a text stream's inferred schema can drift batch to batch),
# windowed on event time, drained by availableNow into a memory sink.
_ST12_SQL = """
    SELECT event_type,
           CAST(floor(epoch_us(ts) / 43200000000) AS BIGINT) AS half_day,
           COUNT(*) AS n_events,
           CAST(MAX(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS max_value
    FROM events WHERE event_id % 3 = 0
    GROUP BY 1, 2 ORDER BY event_type, half_day
"""


@query("st12_streaming_json_ingest", _ST12_SQL)
def st12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines drop-directory ingestion as a STREAM: the io1 format
    surface meets the st1 streaming gate.  A filtered events slice is
    staged as JSON files (the landing-zone shape: producers drop text
    files, the pipeline tails the directory), then consumed with
    readStream + explicit schema, watermarked, windowed 12h, and
    drained complete-mode by an availableNow trigger.  The streamed
    answer must equal batch SQL over the same rows — any JSON
    serializer/parser drift (timestamp format, double precision)
    breaks the hash.  Scale shape: file-source streams partition per
    file; the stateful agg keys are (window x event_type) — bounded
    state, watermark-expired."""
    import os
    import uuid

    from parquet_common_spark.plans.common import (
        ensure_session_env,
        event_ts_ltz_col,
    )

    ensure_session_env(spark)
    ev = load(spark, sf_dir, "events")["events"].where(F.col("event_id") % 3 == 0)
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    drop_dir = f"/tmp/pcs_io/{tag}/events_json"
    ev.write.mode("overwrite").json(drop_dir)
    schema = ev.schema
    ts_dt = dict(ev.dtypes)["ts"]
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "*.json")
        .json(drop_dir)
        .withColumn("ts", event_ts_ltz_col(ts_dt))
    )
    agg = (
        stream.withWatermark("ts", "1 day")
        .groupBy(F.window(F.col("ts"), "12 hours").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("max_value"),
        )
    )
    sink = f"st12_{uuid.uuid4().hex[:8]}"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", stream_shuffle_partitions(sf_dir)
    )
    try:
        q = (
            agg.writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        await_stream(q)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return (
        spark.table(sink)
        .select(
            "event_type",
            F.floor(
                F.unix_micros(F.col("w.start").cast("timestamp"))
                / F.lit(43_200_000_000)
            )
            .cast("long")
            .alias("half_day"),
            "n_events",
            "max_value",
        )
        .orderBy("event_type", "half_day")
    )


# ------------------------------------- e14: ordered funnel conversion

_E14_SQL = """
    WITH a AS (SELECT user_id, MIN(ts) AS t1 FROM events
               WHERE event_type = 'view' GROUP BY user_id),
    b AS (SELECT e.user_id, a.t1, MIN(e.ts) AS t2
          FROM events e JOIN a USING (user_id)
          WHERE e.event_type = 'click' AND e.ts > a.t1
          GROUP BY e.user_id, a.t1),
    c AS (SELECT e.user_id, b.t1, MIN(e.ts) AS t3
          FROM events e JOIN b USING (user_id)
          WHERE e.event_type = 'purchase' AND e.ts > b.t2
          GROUP BY e.user_id, b.t1)
    SELECT * FROM (
      SELECT 1 AS step, 'view' AS step_type, COUNT(*) AS n_users,
             CAST(SUM(user_id) AS BIGINT) AS user_sum,
             CAST(0 AS BIGINT) AS lag_us_sum
      FROM a
      UNION ALL
      SELECT 2, 'click', COUNT(*), CAST(SUM(user_id) AS BIGINT),
             CAST(SUM(epoch_us(t2) - epoch_us(t1)) AS BIGINT) FROM b
      UNION ALL
      SELECT 3, 'purchase', COUNT(*), CAST(SUM(user_id) AS BIGINT),
             CAST(SUM(epoch_us(t3) - epoch_us(t1)) AS BIGINT) FROM c
    ) u ORDER BY step
"""


@query("e14_funnel_conversion", _E14_SQL)
def e14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel conversion (view -> click -> purchase): per user,
    each step counts only if it happens STRICTLY AFTER the user's
    earliest completion of the previous step — the product-analytics
    primitive behind conversion dashboards, and the event-sequencing
    shape (min-after-min) a MATCH_RECOGNIZE engine compiles to.
    Output: per-step reach (n_users), membership pin (user_sum), and
    total time-to-convert from the funnel entry in integer
    microseconds (lag_us_sum) — engine-exact, no float.

    Scale shape: three groupBys + two joins, ALL keyed on user_id —
    one hash partitioning reused across every stage (co-partitioned
    joins, no extra exchange under AQE); each stage's frame shrinks
    monotonically (funnel reach only narrows).  No window over raw
    events, no per-user sort: MIN-aggregates do the sequencing.
    Reference: no funnel surface in the reference; pipeline-layer
    addendum (SURVEY §2)."""
    from parquet_common_spark.plans.common import event_ts_ntz

    ev = event_ts_ntz(load(spark, sf_dir, "events")["events"])
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731

    a = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    b = (
        ev.where(F.col("event_type") == "click")
        .join(a, "user_id")
        .where(F.col("ts") > F.col("t1"))
        .groupBy("user_id", "t1")
        .agg(F.min("ts").alias("t2"))
    )
    c = (
        ev.where(F.col("event_type") == "purchase")
        .join(b, "user_id")
        .where(F.col("ts") > F.col("t2"))
        .groupBy("user_id", "t1")
        .agg(F.min("ts").alias("t3"))
    )

    def level(df, step, name, lag_col):
        lag = (
            F.sum(us(lag_col) - us("t1")).cast("long")
            if lag_col
            else F.lit(0).cast("long")
        )
        return df.agg(
            F.lit(step).alias("step"),
            F.lit(name).alias("step_type"),
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("user_id").cast("long").alias("user_sum"),
            lag.alias("lag_us_sum"),
        )

    return (
        level(a, 1, "view", None)
        .unionAll(level(b, 2, "click", "t2"))
        .unionAll(level(c, 3, "purchase", "t3"))
        .orderBy("step")
    )


# ------------------------------------- e15: retention cohort matrix

_E15_SQL = """
    WITH f AS (SELECT user_id,
                      MIN(CAST(floor(epoch_us(ts) / 604800000000) AS BIGINT))
                        AS cohort_w
               FROM events GROUP BY user_id),
    a AS (SELECT DISTINCT e.user_id, f.cohort_w,
                 CAST(floor(epoch_us(e.ts) / 604800000000) AS BIGINT)
                   - f.cohort_w AS week_offset
          FROM events e JOIN f USING (user_id))
    SELECT cohort_w, week_offset, COUNT(*) AS n_users,
           CAST(SUM(user_id) AS BIGINT) AS user_sum
    FROM a GROUP BY cohort_w, week_offset ORDER BY cohort_w, week_offset
"""


@query("e15_retention_cohorts", _E15_SQL)
def e15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohort matrix: users bucketed by first-seen week
    (cohort), each later active week recorded as an offset from the
    cohort week, distinct users counted per (cohort, offset) cell —
    the classic retention triangle product analytics reads, and the
    second event-sequencing member next to e14's funnel.  user_sum
    pins cell MEMBERSHIP, not just cardinality.

    Scale shape: first-seen is one map-side-combinable groupBy MIN on
    user_id; the join back is co-partitioned with it (same key); the
    distinct + cell groupBy shuffle on (user, cohort, offset) then
    (cohort, offset) — cells are bounded by |weeks|^2, the distinct by
    |users| x |weeks|.  No window over raw events."""
    from parquet_common_spark.plans.common import event_ts_ntz

    ev = event_ts_ntz(load(spark, sf_dir, "events")["events"])
    week = (
        F.floor(
            F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(604_800_000_000)
        )
    ).cast("long")
    first = ev.groupBy("user_id").agg(F.min(week).alias("cohort_w"))
    active = (
        ev.join(first, "user_id")
        .select(
            "user_id",
            "cohort_w",
            (week - F.col("cohort_w")).alias("week_offset"),
        )
        .distinct()
    )
    return (
        active.groupBy("cohort_w", "week_offset")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("user_id").cast("long").alias("user_sum"),
        )
        .orderBy("cohort_w", "week_offset")
    )


# --------------- st13: streaming event transitions (stateful operator)

_ST13_SQL = """
    WITH s AS (SELECT user_id, event_type,
                      LAG(event_type) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id) AS prev_type
               FROM events WHERE user_id < 50)
    SELECT prev_type, event_type AS next_type, COUNT(*) AS n
    FROM s WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type ORDER BY prev_type, next_type
"""


@query("st13_streaming_transitions", _ST13_SQL)
def st13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming arm of e13: the first-order transition profile as a
    CUSTOM STATEFUL operator (streaming/transitions.py —
    applyInPandasWithState keyed on user, one fixed-width last-event
    tuple per active user, EventTimeTimeout retention).  Per-batch
    transition counts are emitted with boundary pairs chained through
    state, then summed — the oracle is the batch LAG-window
    formulation over the same slice.  Scale shape: state is one tuple
    per active user (watermark-expired); the per-batch fold is a
    pandas sort+shift per user group; the final sum is a
    |types|^2-key groupBy."""

    from parquet_common_spark.plans.common import (
        ensure_session_env,
        event_ts_ltz_col,
        read_events_raw,
    )
    from parquet_common_spark.streaming.transitions import (
        streaming_transitions,
    )

    ensure_session_env(spark)
    raw = read_events_raw(spark, sf_dir)
    ts_dt = dict(raw.dtypes)["ts"]
    et = event_ts_ltz_col(ts_dt)
    stream = (
        spark.readStream.schema(raw.schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .where(F.col("user_id") < 50)
        .select(
            F.col("user_id"),
            F.col("event_type").alias("_type"),
            F.unix_micros(et).alias("_tus"),
            F.col("event_id").alias("_tie"),
            et.alias("_event_time"),
        )
    )
    out = streaming_transitions(stream)
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", stream_shuffle_partitions(sf_dir)
    )
    try:
        # file sink: per-batch (user, prev, next, n) rows grow with
        # active users × batches — data-proportional, not collectible.
        res = stream_to_parquet(out, sf_dir, "pcs_st13")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return (
        res
        .groupBy("prev_type", "next_type")
        .agg(F.sum("n").cast("long").alias("n"))
        .orderBy("prev_type", "next_type")
    )


# --------------- cdc3: changelog apply (MERGE/upsert compaction)

_CDC3_SQL = """
    WITH all_rows AS (
      SELECT c_custkey AS user_id, CAST(-1 AS BIGINT) AS ts_us,
             CAST(-1 AS BIGINT) AS tie, 'upsert' AS op,
             'base' AS src, CAST(c_acctbal AS DOUBLE) AS val
      FROM customer
      UNION ALL
      SELECT user_id, epoch_us(ts), event_id,
             CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END,
             event_type, value
      FROM events),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                       ORDER BY ts_us DESC, tie DESC) AS rn
          FROM all_rows)
    SELECT user_id, src AS last_src, ROUND(val, 6) AS last_val
    FROM r WHERE rn = 1 AND op = 'upsert' ORDER BY user_id
"""


@query("cdc3_changelog_apply", _CDC3_SQL)
def cdc3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert compaction (operators/quality.apply_changelog):
    the customer table is the base snapshot (sentinel order -1), the
    event stream is the changelog (errors = deletes, everything else
    upserts the latest value), last-writer-wins under (ts, event_id).
    Untouched base keys survive, deleted keys vanish, active keys
    surface their latest event — the third CDC member (cdc1 history,
    cdc2 as-of diff, cdc3 compaction).

    Scale shape: ONE map-side-combinable groupBy max_by over the
    order struct — the shuffle carries |keys| candidates, not the
    changelog; the oracle's ROW_NUMBER window formulation is the
    semantics spec, not the plan.  Base and changelog align by a
    simple projection; no join at all."""
    from parquet_common_spark.operators.quality import apply_changelog
    from parquet_common_spark.plans.common import event_ts_ntz

    cust = load(spark, sf_dir, "customer")["customer"]
    ev = event_ts_ntz(load(spark, sf_dir, "events")["events"])
    base = cust.select(
        F.col("c_custkey").cast("long").alias("user_id"),
        F.lit(-1).cast("long").alias("ts_us"),
        F.lit(-1).cast("long").alias("tie"),
        F.lit("upsert").alias("op"),
        F.lit("base").alias("src"),
        F.col("c_acctbal").cast("double").alias("val"),
    )
    changes = ev.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.col("event_id").cast("long").alias("tie"),
        F.when(F.col("event_type") == "error", F.lit("delete"))
        .otherwise(F.lit("upsert"))
        .alias("op"),
        F.col("event_type").alias("src"),
        F.col("value").cast("double").alias("val"),
    )
    snap = apply_changelog(
        base.unionAll(changes), ["user_id"], ["ts_us", "tie"]
    )
    return snap.select(
        "user_id",
        F.col("src").alias("last_src"),
        F.round("val", 6).alias("last_val"),
    ).orderBy("user_id")


# --------------- e16: sequence-pattern mining (regex over event strings)

_E16_SQL = """
    WITH s AS (SELECT user_id,
                      string_agg(left(event_type, 1), ''
                                 ORDER BY ts, event_id) AS seq
               FROM events GROUP BY user_id)
    SELECT user_id, CAST(length(seq) AS BIGINT) AS seq_len,
           CAST(len(regexp_extract_all(seq, 'vc+p')) AS BIGINT) AS n_funnels,
           CAST(len(regexp_extract_all(seq, 'ee+')) AS BIGINT) AS n_error_bursts
    FROM s ORDER BY user_id
"""


@query("e16_sequence_patterns", _E16_SQL)
def e16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern mining, the MATCH_RECOGNIZE shape: each user's
    event history is folded into a compact symbol string (event-type
    initials in (ts, event_id) order) and behavioral motifs are
    counted with leftmost non-overlapping regex semantics — strict
    view->clicks->purchase funnels (contrast e14, whose steps may be
    separated by other events) and error bursts.  Both engines scan
    with the same leftmost-match rule, so counts are integer-exact.

    Scale shape: ONE groupBy(user) building the per-user string
    (collect_list is bounded by per-user event volume, which the data
    model holds CONSTANT as users grow — documents SCALE.md §e16);
    the regex pass is map-only over |users| short strings.  No joins,
    no windows over raw events."""
    from parquet_common_spark.plans.common import event_ts_ntz

    ev = event_ts_ntz(load(spark, sf_dir, "events")["events"])
    seq = ev.groupBy("user_id").agg(
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "ts",
                            "event_id",
                            F.substring("event_type", 1, 1).alias("ch"),
                        )
                    )
                ),
                lambda s: s["ch"],
            ),
        ).alias("seq")
    )
    return seq.select(
        "user_id",
        F.length("seq").cast("long").alias("seq_len"),
        F.regexp_count("seq", F.lit("vc+p")).cast("long").alias("n_funnels"),
        F.regexp_count("seq", F.lit("ee+")).cast("long").alias("n_error_bursts"),
    ).orderBy("user_id")


# --------------- mb1: market-basket co-occurrence (support/lift)

_MB1_SQL = """
    WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                   FROM lineitem),
    n_orders AS (SELECT COUNT(DISTINCT o) AS n FROM items),
    per_item AS (SELECT p, COUNT(*) AS n_p FROM items GROUP BY p),
    pairs AS (SELECT a.p AS part_a, b.p AS part_b, COUNT(*) AS n_ab
              FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
              GROUP BY a.p, b.p)
    SELECT part_a, part_b, n_ab,
           ROUND(CAST(n_ab AS DOUBLE) / n.n, 6) AS support,
           ROUND(CAST(n_ab AS DOUBLE) * n.n
                 / (pa.n_p * pb.n_p), 6) AS lift
    FROM pairs
    JOIN per_item pa ON pa.p = part_a
    JOIN per_item pb ON pb.p = part_b
    CROSS JOIN n_orders n
    ORDER BY n_ab DESC, part_a, part_b LIMIT 25
"""


@query("mb1_copurchase_lift", _MB1_SQL)
def mb1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: part pairs bought in the same
    order, with support and lift — the association-rule /
    collaborative-filtering primitive (co-occurrence matrices are the
    classical recommender baseline and the curriculum-pairing signal
    a data-mixing pipeline consumes).  Deterministic top-25 by
    (n_ab DESC, part_a, part_b).

    Scale shape: the pair generation is a self-equi-join on the
    ORDER key, so fan-out is bounded by basket size squared (TPC-H
    baskets ≤ 7 lines; real carts are small constants) — never an
    all-pairs over parts; the pair groupBy shuffles on (a, b); the
    per-item counts frame joins back onto pairs (AQE picks
    broadcast while it fits and demotes to SMJ as parts grow — the
    pinned demotion invariant); the order total is a bounded scalar.  Top-k is a
    TakeOrdered, not a global sort."""
    li = load(spark, sf_dir, "lineitem")["lineitem"]
    items = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    n_orders = items.select("o").distinct().count()  # bounded scalar
    per_item = items.groupBy("p").agg(F.count(F.lit(1)).alias("n_p"))
    a = items.select("o", F.col("p").alias("part_a"))
    b = items.select("o", F.col("p").alias("part_b"))
    pairs = (
        a.join(b, "o")
        .where(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    pa = per_item.select(F.col("p").alias("part_a"), F.col("n_p").alias("_na"))
    pb = per_item.select(F.col("p").alias("part_b"), F.col("n_p").alias("_nb"))
    return (
        pairs.join(pa, "part_a")
        .join(pb, "part_b")
        .select(
            "part_a",
            "part_b",
            "n_ab",
            F.round(F.col("n_ab").cast("double") / F.lit(n_orders), 6).alias(
                "support"
            ),
            F.round(
                F.col("n_ab").cast("double")
                * F.lit(n_orders)
                / (F.col("_na") * F.col("_nb")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.col("n_ab").desc(), "part_a", "part_b")
        .limit(25)
    )


# --------------- st14: streaming funnel (stateful min-after-min)

_ST14_SQL = """
    WITH a AS (SELECT user_id, MIN(ts) AS t1 FROM events
               WHERE event_type = 'view' AND user_id < 60
                 AND epoch_us(ts) < 1704240000000000 GROUP BY user_id),
    b AS (SELECT e.user_id, a.t1, MIN(e.ts) AS t2
          FROM events e JOIN a USING (user_id)
          WHERE e.event_type = 'click' AND e.ts > a.t1
                AND epoch_us(e.ts) < 1704240000000000
          GROUP BY e.user_id, a.t1),
    c AS (SELECT e.user_id, b.t1, b.t2, MIN(e.ts) AS t3
          FROM events e JOIN b USING (user_id)
          WHERE e.event_type = 'purchase' AND e.ts > b.t2
                AND epoch_us(e.ts) < 1704240000000000
          GROUP BY e.user_id, b.t1, b.t2),
    fin AS (SELECT a.user_id,
                   CASE WHEN c.t3 IS NOT NULL THEN 3
                        WHEN b.t2 IS NOT NULL THEN 2 ELSE 1 END AS step_reached,
                   epoch_us(a.t1) AS t1_us,
                   epoch_us(COALESCE(c.t3, b.t2, a.t1)) AS t_last_us
            FROM a LEFT JOIN b ON a.user_id = b.user_id
                   LEFT JOIN c ON a.user_id = c.user_id)
    SELECT step_reached, COUNT(*) AS n_users,
           CAST(SUM(user_id) AS BIGINT) AS user_sum,
           CAST(SUM(t_last_us - t1_us) AS BIGINT) AS lag_us_sum
    FROM fin GROUP BY step_reached ORDER BY step_reached
"""


@query("st14_streaming_funnel", _ST14_SQL)
def st14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming arm of e14: the ordered funnel as a CUSTOM STATEFUL
    operator (streaming/funnel.py — applyInPandasWithState keyed on
    user, fixed-width (t1,t2,t3) state, EventTimeTimeout).  Each
    batch advances users' funnel positions with vectorized
    min-after-min under the watermark in-order contract; the
    update-mode drain keeps each user's LAST emitted position
    (max_by on step), and the final-step distribution must equal the
    batch CTE-chain oracle.  14th streaming entry.  Scale shape:
    one tuple per active user; the summary is a 3-key groupBy."""

    from parquet_common_spark.plans.common import (
        ensure_session_env,
        event_ts_ltz_col,
        read_events_raw,
    )
    from parquet_common_spark.streaming.funnel import streaming_funnel

    ensure_session_env(spark)
    raw = read_events_raw(spark, sf_dir)
    ts_dt = dict(raw.dtypes)["ts"]
    et = event_ts_ltz_col(ts_dt)
    stream = (
        spark.readStream.schema(raw.schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .where((F.col("user_id") < 60) & (F.unix_micros(et) < 1704240000000000))
        .select(
            F.col("user_id"),
            F.col("event_type").alias("_type"),
            F.unix_micros(et).alias("_tus"),
            F.col("event_id").alias("_tie"),
            et.alias("_event_time"),
        )
    )
    out = streaming_funnel(stream)
    # Update-mode drain through the idempotent per-epoch parquet pattern
    # (st4's): the parquet file sink is append-only, and per-user update
    # rows are data-proportional in active users — a memory sink would
    # hold every emission on the driver.  Epoch subdirs overwrite on
    # retry; the max_by(step) fold below collapses re-emissions exactly
    # as it did over the memory sink's update stream.
    import os

    from parquet_common_spark.operators.pipeline_queries import _scratch_dir

    sink_dir = _scratch_dir("pcs_st14", sf_dir)
    out_dir = os.path.join(sink_dir, "out")

    def _drain(bdf: DataFrame, epoch: int) -> None:
        bdf.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"epoch={epoch}")
        )

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", stream_shuffle_partitions(sf_dir)
    )
    try:
        q = (
            out.writeStream.foreachBatch(_drain)
            .outputMode("update")
            .option("checkpointLocation", os.path.join(sink_dir, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        await_stream(q)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    final = (
        spark.read.schema(out.schema)
        .option("basePath", out_dir)
        .parquet(out_dir)
        .groupBy("user_id")
        .agg(
            F.max_by(
                F.struct("step_reached", "t1_us", "t_last_us"),
                F.col("step_reached"),
            ).alias("_f")
        )
        .select("user_id", "_f.*")
    )
    return (
        final.groupBy("step_reached")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("user_id").cast("long").alias("user_sum"),
            F.sum(F.col("t_last_us") - F.col("t1_us"))
            .cast("long")
            .alias("lag_us_sum"),
        )
        .orderBy("step_reached")
    )


# --------------- dq7: declarative expectations validation

_DQ7_SQL = """
    WITH one AS (
      SELECT COUNT(*) AS n,
        CAST(SUM(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 0 ELSE 1 END) AS BIGINT) AS v0,
        CAST(SUM(CASE WHEN l_extendedprice > 0 THEN 0 ELSE 1 END) AS BIGINT) AS v1,
        CAST(SUM(CASE WHEN l_discount BETWEEN 0 AND 0.1 THEN 0 ELSE 1 END) AS BIGINT) AS v2,
        CAST(SUM(CASE WHEN l_returnflag IN ('A', 'N', 'R') THEN 0 ELSE 1 END) AS BIGINT) AS v3,
        CAST(SUM(CASE WHEN l_linestatus IN ('O', 'F') THEN 0 ELSE 1 END) AS BIGINT) AS v4,
        CAST(SUM(CASE WHEN l_discount <= 0.05 THEN 0 ELSE 1 END) AS BIGINT) AS v5,
        CAST(SUM(CASE WHEN l_tax <= 0.06 THEN 0 ELSE 1 END) AS BIGINT) AS v6
      FROM lineitem),
    rules(rule, n_violations, n_rows) AS (
      SELECT 'quantity_in_range', v0, n FROM one UNION ALL
      SELECT 'price_positive', v1, n FROM one UNION ALL
      SELECT 'discount_in_range', v2, n FROM one UNION ALL
      SELECT 'returnflag_domain', v3, n FROM one UNION ALL
      SELECT 'linestatus_domain', v4, n FROM one UNION ALL
      SELECT 'discount_low_tier', v5, n FROM one UNION ALL
      SELECT 'tax_cap', v6, n FROM one)
    SELECT rule, n_rows, n_violations,
           ROUND(CAST(n_violations AS DOUBLE) / n_rows, 6) AS violation_rate
    FROM rules ORDER BY rule
"""


@query("dq7_expectations", _DQ7_SQL)
def dq7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative expectations audit (quality.validate_expectations —
    the Great-Expectations/dbt-test shape): seven rules over lineitem
    evaluated in ONE map-side-combined aggregation pass (conditional
    sums; no per-rule scan), laid out per-rule with a stack over the
    1-row result.  The mix is deliberate: domain/range/ordering rules
    that PASS on TPC-H-shaped data and two that genuinely FAIL
    (discounts above the low tier, tax above 6%) so the report is
    non-vacuous and the rate arithmetic is exercised."""
    from parquet_common_spark.operators.quality import validate_expectations

    li = load(spark, sf_dir, "lineitem")["lineitem"]
    rules = [
        ("quantity_in_range", F.col("l_quantity").between(1, 50)),
        ("price_positive", F.col("l_extendedprice") > 0),
        ("discount_in_range", F.col("l_discount").between(0, 0.1)),
        ("returnflag_domain", F.col("l_returnflag").isin("A", "N", "R")),
        ("linestatus_domain", F.col("l_linestatus").isin("O", "F")),
        ("discount_low_tier", F.col("l_discount") <= 0.05),
        ("tax_cap", F.col("l_tax") <= 0.06),
    ]
    return validate_expectations(li, rules).orderBy("rule")


# ----------- m20: PromQL subquery — avg_over_time(rate(c[1h])[1d:1h])

_M20_SQL = """
    WITH m AS (SELECT event_type,
                      CAST(floor(epoch_us(ts) / 60000000) AS BIGINT) AS minute,
                      SUM(CAST(value AS DECIMAL(18,2))) AS v
               FROM events GROUP BY event_type, minute),
    c AS (SELECT event_type, minute,
                 SUM(v) OVER (PARTITION BY event_type ORDER BY minute) AS cum
          FROM m),
    h AS (SELECT event_type, CAST(floor(minute / 60) AS BIGINT) AS hour,
                 COUNT(*) AS n, MIN(minute) AS mn, MAX(minute) AS mx,
                 arg_min(cum, minute) AS first_cum,
                 arg_max(cum, minute) AS last_cum
          FROM c GROUP BY event_type, hour),
    r AS (SELECT event_type, hour,
                 CASE WHEN n >= 2 AND mx > mn
                      THEN CAST(last_cum - first_cum AS DOUBLE)
                           / ((mx - mn) * 60.0) END AS rate
          FROM h)
    SELECT event_type, CAST(floor(hour / 24) AS BIGINT) AS day,
           COUNT(rate) AS n_windows,
           ROUND(CAST(SUM(CAST(rate AS DECIMAL(27,12))) AS DOUBLE)
                 / COUNT(rate), 9) AS avg_rate
    FROM r GROUP BY event_type, day
    HAVING COUNT(rate) > 0
    ORDER BY event_type, day
"""


@query("m20_promql_subquery", _M20_SQL)
def m20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL SUBQUERY semantics — ``avg_over_time(rate(c[1h])[1d:1h])``:
    the inner expression is evaluated on a fixed step grid (1h,
    epoch-aligned — PromQL's default subquery alignment) and the outer
    range function aggregates those inner samples per 1d range.  The
    counter ``c`` is the running total of per-minute value sums (a
    derived monotone counter, so no reset adjustment is needed and the
    inner rate is increase/elapsed within each aligned window).

    Determinism contract: per-minute sums are DECIMAL(18,2) (dsum
    family — order-insensitive), the running counter is a decimal
    window sum over the UNIQUE minute spine (no ties -> arg_min/max
    are total), the inner rate's only float op is one division, and
    the outer mean is an exact decimal sum of 12dp-quantized rates
    over a counted group — so both engines agree bit-for-bit, unlike
    a naive AVG(double) whose summation order differs.

    Scale shape: one map-side-combined groupBy (per-minute), one
    window partitioned by series (running counter — per-series state
    only), two more bounded groupBys (hour, day).  The subquery grid
    never materializes per-eval-step copies of the input: each level
    is an aggregation, which is how a 100 TB engine wants nested range
    queries to execute (contrast: upstream Prometheus re-evaluates the
    inner query per outer step).
    Reference: subqueries are upstream-engine surface
    (/root/reference/queryable/parquet_queryable_test.go:45 resolves
    promqltest); this completes the m-family's temporal coverage."""
    from parquet_common_spark.plans.common import event_ts_ntz

    ev = event_ts_ntz(load(spark, sf_dir, "events")["events"])
    minute = (
        F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(60_000_000))
    ).cast("long")
    m = ev.groupBy("event_type", minute.alias("minute")).agg(
        F.sum(F.col("value").cast("decimal(18,2)")).alias("v")
    )
    c = m.withColumn(
        "cum",
        F.sum("v").over(Window.partitionBy("event_type").orderBy("minute")),
    )
    h = c.groupBy(
        "event_type", F.floor(F.col("minute") / 60).cast("long").alias("hour")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("minute").alias("mn"),
        F.max("minute").alias("mx"),
        F.min_by("cum", "minute").alias("first_cum"),
        F.max_by("cum", "minute").alias("last_cum"),
    )
    r = h.select(
        "event_type",
        "hour",
        F.when(
            (F.col("n") >= 2) & (F.col("mx") > F.col("mn")),
            (F.col("last_cum") - F.col("first_cum")).cast("double")
            / ((F.col("mx") - F.col("mn")) * F.lit(60.0)),
        ).alias("rate"),
    )
    return (
        r.groupBy(
            "event_type", F.floor(F.col("hour") / 24).cast("long").alias("day")
        )
        .agg(
            F.count("rate").alias("n_windows"),
            F.round(
                F.sum(F.col("rate").cast("decimal(27,12)")).cast("double")
                / F.count("rate"),
                9,
            ).alias("avg_rate"),
        )
        .where(F.col("n_windows") > 0)
        .orderBy("event_type", "day")
    )
