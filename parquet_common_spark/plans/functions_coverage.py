"""Scalar-function and remaining-operator coverage: string / datetime /
array functions, window-over-dim top-1, market-share ratios, having-over-
scalar-subquery, approximate distinct — rounding out SURVEY.md §2.8's
"analytic layer uses Spark's built-ins" surface with oracle checks."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_common_spark.plans.common import (
    await_stream,
    dsum,
    load,
    query,
    stream_shuffle_partitions,
)


@query(
    "q2a_top_supplier_per_nation",
    """
    SELECT n_name, s_name, ROUND(s_acctbal, 2) AS s_acctbal
    FROM (SELECT n_name, s_name, s_acctbal,
                 ROW_NUMBER() OVER (PARTITION BY n_name ORDER BY s_acctbal DESC, s_suppkey) AS rn
          FROM supplier JOIN nation ON s_nationkey = n_nationkey)
    WHERE rn = 1
    ORDER BY n_name
    """,
)
def q2a(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load(spark, sf_dir, "supplier", "nation")
    w = Window.partitionBy("n_name").orderBy(F.desc("s_acctbal"), F.asc("s_suppkey"))
    return (
        t["supplier"]
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("n_name", "s_name", F.round("s_acctbal", 2).alias("s_acctbal"))
        .orderBy("n_name")
    )


@query(
    "q8a_market_share",
    """
    SELECT o_year,
           ROUND(CAST(SUM(CAST(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END AS DECIMAL(27,4))) AS DOUBLE)
                 / CAST(SUM(CAST(volume AS DECIMAL(27,4))) AS DOUBLE), 6) AS mkt_share
    FROM (SELECT CAST(year(o_orderdate) AS INT) AS o_year,
                 l_extendedprice * (1 - l_discount) AS volume,
                 n2.n_name AS supp_nation
          FROM lineitem JOIN orders   ON l_orderkey = o_orderkey
                        JOIN customer ON o_custkey = c_custkey
                        JOIN nation n1 ON c_nationkey = n1.n_nationkey
                        JOIN region   ON n1.n_regionkey = r_regionkey
                        JOIN supplier ON l_suppkey = s_suppkey
                        JOIN nation n2 ON s_nationkey = n2.n_nationkey
          WHERE r_name = 'ASIA')
    GROUP BY o_year
    ORDER BY o_year
    """,
)
def q8a(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load(spark, sf_dir)
    n1 = t["nation"].select(F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region"))
    n2 = t["nation"].select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    base = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("cn_key"))
        .join(
            F.broadcast(t["region"]).where(F.col("r_name") == "ASIA"),
            F.col("cn_region") == F.col("r_regionkey"),
        )
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("sn_key"))
        .select(F.year("o_orderdate").alias("o_year"), vol.alias("volume"), "supp_nation")
    )
    nat = F.when(F.col("supp_nation") == "NATION_3", F.col("volume")).otherwise(0.0)
    return (
        base.groupBy("o_year")
        .agg(
            (
                F.sum(nat.cast("decimal(27,4)")).cast("double")
                / F.sum(F.col("volume").cast("decimal(27,4)")).cast("double")
            ).alias("_share")
        )
        .select("o_year", F.round("_share", 6).alias("mkt_share"))
        .orderBy("o_year")
    )


@query(
    "q11a_important_parts",
    """
    SELECT p_brand, CAST(SUM(CAST(p_retailprice AS DECIMAL(27,2))) AS DOUBLE) AS brand_value
    FROM part
    GROUP BY p_brand
    HAVING SUM(CAST(p_retailprice AS DECIMAL(27,2)))
           > (SELECT SUM(CAST(p_retailprice AS DECIMAL(27,2))) * 0.03 FROM part)
    ORDER BY brand_value DESC, p_brand
    """,
)
def q11a(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load(spark, sf_dir, "part")
    total = t["part"].agg(F.sum(F.col("p_retailprice").cast("decimal(27,2)")).alias("tv"))
    return (
        t["part"]
        .groupBy("p_brand")
        .agg(F.sum(F.col("p_retailprice").cast("decimal(27,2)")).alias("_bv"))
        .crossJoin(F.broadcast(total))
        .where(F.col("_bv") > F.col("tv") * 0.03)
        .select("p_brand", F.col("_bv").cast("double").alias("brand_value"))
        .orderBy(F.desc("brand_value"), "p_brand")
    )


@query(
    "q16a_part_supplier_stats",
    """
    SELECT p_brand, p_type, COUNT(DISTINCT l_suppkey) AS supplier_cnt, COUNT(*) AS line_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1' AND p_size BETWEEN 1 AND 25
    GROUP BY p_brand, p_type
    ORDER BY supplier_cnt DESC, p_brand, p_type
    """,
)
def q16a(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load(spark, sf_dir, "part", "lineitem")
    return (
        F.broadcast(t["part"].where((F.col("p_brand") != "Brand#1") & F.col("p_size").between(1, 25)))
        .join(t["lineitem"], F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type")
        .agg(
            F.countDistinct("l_suppkey").alias("supplier_cnt"),
            F.count(F.lit(1)).alias("line_cnt"),
        )
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type")
    )


@query(
    "f1_string_functions",
    """
    SELECT n_name,
           lower(n_name) AS lower_name,
           substr(n_name, 1, 6) AS prefix6,
           replace(n_name, 'NATION', 'N') AS short_name,
           length(n_name) AS name_len,
           concat(n_name, '#', CAST(n_nationkey AS VARCHAR)) AS tagged,
           lpad(CAST(n_nationkey AS VARCHAR), 4, '0') AS padded,
           reverse(n_name) AS reversed,
           CAST(strpos(n_name, '_') AS INT) AS underscore_at
    FROM nation
    ORDER BY n_nationkey
    """,
)
def f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load(spark, sf_dir, "nation")
    return (
        t["nation"]
        .select(
            "n_name",
            F.lower("n_name").alias("lower_name"),
            F.substring("n_name", 1, 6).alias("prefix6"),
            F.replace(F.col("n_name"), F.lit("NATION"), F.lit("N")).alias("short_name"),
            F.length("n_name").alias("name_len"),
            F.concat(F.col("n_name"), F.lit("#"), F.col("n_nationkey").cast("string")).alias("tagged"),
            F.lpad(F.col("n_nationkey").cast("string"), 4, "0").alias("padded"),
            F.reverse("n_name").alias("reversed"),
            F.instr(F.col("n_name"), "_").cast("int").alias("underscore_at"),
            F.col("n_nationkey"),
        )
        .orderBy("n_nationkey")
        .drop("n_nationkey")
    )


@query(
    "f2_datetime_functions",
    """
    SELECT CAST(year(o_orderdate) AS INT) AS yr,
           CAST(quarter(o_orderdate) AS INT) AS qtr,
           CAST(month(o_orderdate) AS INT) AS mth,
           COUNT(*) AS n,
           CAST(MIN(day(o_orderdate)) AS INT) AS min_day,
           MIN(CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE)) AS first_plus_30d,
           CAST(MIN(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate)) AS BIGINT) AS min_days_since_epoch_start
    FROM orders
    GROUP BY 1, 2, 3
    ORDER BY yr, qtr, mth
    """,
)
def f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load(spark, sf_dir, "orders")
    return (
        t["orders"]
        .groupBy(
            F.year("o_orderdate").alias("yr"),
            F.quarter("o_orderdate").alias("qtr"),
            F.month("o_orderdate").alias("mth"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(F.dayofmonth("o_orderdate")).cast("int").alias("min_day"),
            F.min(F.date_add(F.col("o_orderdate").cast("date"), 30)).alias("first_plus_30d"),
            F.min(F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")))
            .cast("long")
            .alias("min_days_since_epoch_start"),
        )
        .orderBy("yr", "qtr", "mth")
    )


@query(
    "f3_array_functions",
    """
    SELECT n.n_name,
           array_to_string(list_sort(list(DISTINCT c.c_mktsegment)), ',') AS segments,
           CAST(len(list_sort(list(DISTINCT c.c_mktsegment))) AS INT) AS n_segments,
           CAST(list_contains(list(DISTINCT c.c_mktsegment), 'BUILDING') AS BOOLEAN) AS has_building
    FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    ORDER BY n.n_name
    """,
)
def f3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array built-ins (collect_set/array_sort/size/array_contains).  The
    sorted array is emitted as a ','-joined STRING: the driver's pandas
    canonicalizer cannot hash raw list cells (r01 TypeError), and the
    joined form is hash-equivalent for a sorted string array."""
    t = load(spark, sf_dir, "nation", "customer")
    return (
        t["customer"]
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.array_sort(F.collect_set("c_mktsegment")).alias("_segs"))
        .select(
            "n_name",
            F.array_join("_segs", ",").alias("segments"),
            F.size("_segs").alias("n_segments"),
            F.array_contains("_segs", "BUILDING").alias("has_building"),
        )
        .orderBy("n_name")
    )


@query(
    "a1_approx_distinct",
    # The estimator VALUE is engine-specific (Spark HLL++ vs anything
    # DuckDB would produce), so the hashed columns are the exact count
    # plus a deterministic pass/fail: |approx - exact| / exact within
    # 3x the default rsd (0.05).  Spark's HLL sketch is hash-based and
    # merge-commutative, so the bound check is reproducible across
    # partitionings; the oracle asserts the same rows with TRUE.
    """
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS within_bound
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def a1(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load(spark, sf_dir, "events")
    rel_bound = 3 * 0.05  # 3x approx_count_distinct's default rsd
    return (
        t["events"]
        .groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id").alias("_approx"),
            F.countDistinct("user_id").alias("exact_users"),
        )
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("_approx") - F.col("exact_users"))
                / F.col("exact_users")
                <= F.lit(rel_bound)
            ).alias("within_bound"),
        )
        .orderBy("event_type")
    )


@query(
    "m7_label_values_filtered",
    """
    SELECT DISTINCT CAST(user_id % 10 AS VARCHAR) AS value
    FROM events WHERE event_type = 'click'
    ORDER BY value
    """,
)
def m7(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_common_spark import Matcher, ParquetQueryable
    from parquet_common_spark.plans.analytics import _events_shard

    q = ParquetQueryable([_events_shard(spark, sf_dir)])
    vals = q.label_values("user_bucket", matchers=[Matcher("event_type", "=", "click")])
    return spark.createDataFrame([(v,) for v in vals], "value string").orderBy("value")


@query(
    "q20a_active_part_suppliers",
    """
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE s_suppkey IN (
      SELECT l_suppkey FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      GROUP BY l_suppkey
      HAVING SUM(l_quantity) > (
        SELECT 0.5 * AVG(sq) FROM (
          SELECT SUM(l_quantity) AS sq FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
          GROUP BY l_suppkey)))
    ORDER BY s_suppkey
    """,
)
def q20a(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q20-shaped: suppliers whose shipped volume in 1996 exceeds half the
    mean per-supplier volume (no partsupp table in the driver schema)."""
    t = load(spark, sf_dir, "supplier", "lineitem")
    vol = (
        t["lineitem"]
        .where((F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01"))
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("sq"))
    )
    thresh = vol.agg((0.5 * F.avg("sq")).alias("t"))
    active = vol.crossJoin(F.broadcast(thresh)).where(F.col("sq") > F.col("t"))
    return (
        t["supplier"]
        .join(active.select("l_suppkey"), F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


@query(
    "q21a_late_sole_suppliers",
    """
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
                  JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    """,
)
def q21a(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q21-shaped: suppliers who were the ONLY late shipper on a
    multi-supplier finalized order (l_shipdate > orderdate+90d stands in
    for the missing receipt/commit dates)."""
    t = load(spark, sf_dir, "supplier", "lineitem", "orders")
    li = t["lineitem"].select("l_orderkey", "l_suppkey", "l_shipdate")
    l1 = (
        li.join(
            t["orders"].where(F.col("o_orderstatus") == "F").select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .withColumn("late", F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAY"))
    )
    per_order = l1.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("late"), F.col("l_suppkey"))).alias("n_late_supp"),
    )
    sole_late = (
        l1.where(F.col("late"))
        .join(
            per_order.where((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1)).select("l_orderkey"),
            "l_orderkey",
            "left_semi",
        )
    )
    return (
        sole_late.join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
    )


@query(
    "p1_pivot_event_counts",
    """
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           CAST(COUNT(*) FILTER (event_type = 'click') AS BIGINT)    AS click,
           CAST(COUNT(*) FILTER (event_type = 'error') AS BIGINT)    AS error,
           CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
           CAST(COUNT(*) FILTER (event_type = 'signup') AS BIGINT)   AS signup,
           CAST(COUNT(*) FILTER (event_type = 'view') AS BIGINT)     AS view
    FROM events GROUP BY 1 ORDER BY day
    """,
)
def p1(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_common_spark.plans.common import load as _load

    t = _load(spark, sf_dir, "events")
    piv = (
        t["events"]
        .groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .count()
        .orderBy("day")
    )
    # pivot leaves NULL for empty cells; the oracle's FILTER counts give 0
    return piv.select(
        "day", *[F.coalesce(F.col(c), F.lit(0)).alias(c) for c in ["click", "error", "purchase", "signup", "view"]]
    )


@query(
    "x1_token_frequencies",
    r"""
    SELECT token, COUNT(*) AS freq
    FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS token FROM documents)
    GROUP BY token
    ORDER BY freq DESC, token
    LIMIT 20
    """,
)
def x1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode/unnest (lateral) coverage: corpus token frequencies."""
    docs = load(spark, sf_dir, "documents")["documents"]
    from parquet_common_spark.operators.text import tokens

    return (
        docs.select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), "token")
        .limit(20)
    )


@query(
    "sql1_revenue_by_segment",
    """
    SELECT c_mktsegment,
           COUNT(DISTINCT o_orderkey) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2))) AS DOUBLE) AS revenue
    FROM customer JOIN orders ON c_custkey = o_custkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def sql1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The spark.sql surface: same engine, SQL text in, Catalyst out —
    the oracle string IS the Spark query (ANSI SQL runs on both)."""
    t = load(spark, sf_dir, "customer", "orders")
    t["customer"].createOrReplaceTempView("customer")
    t["orders"].createOrReplaceTempView("orders")
    from parquet_common_spark.plans.common import REGISTRY

    return spark.sql(REGISTRY["sql1_revenue_by_segment"].oracle)


@query(
    "pq1_promql_engine",
    """
    SELECT grp, inc FROM (VALUES ('canary', CAST(420 AS DOUBLE)),
                                 ('production', CAST(180 AS DOUBLE))) AS t(grp, inc)
    ORDER BY grp
    """,
)
def pq1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The native PromQL engine end-to-end: promqltest-format load ->
    expression parse -> DataFrame evaluation (promqltest/engine.py; the
    reference runs this surface through the upstream engine,
    queryable/parquet_queryable_test.go:45-66).  The oracle is the
    analytically derived constant table: four regular counters stepping
    10/20/30/40 per 5m give increase[30m] of exactly 60/120/180/240 at
    t=50m (interior-window extrapolation covers the 300s to the range
    start), summing to 180/420 per group.  ``sf_dir`` is unused — the
    samples are the script's, not the TPC-H tables'."""
    from parquet_common_spark.promqltest import PromQLEngine, parse_script
    from parquet_common_spark.promqltest.scriptparse import LoadCmd

    eng = PromQLEngine(spark)
    script = parse_script(
        """
load 5m
    http_requests{job="api-server", instance="0", group="production"}    0+10x10
    http_requests{job="api-server", instance="1", group="production"}    0+20x10
    http_requests{job="api-server", instance="0", group="canary"}        0+30x10
    http_requests{job="api-server", instance="1", group="canary"}        0+40x10
"""
    )
    for cmd in script.commands:
        if isinstance(cmd, LoadCmd):
            eng.load(cmd)
    vec = eng.eval_instant_df(
        "sum by (group) (increase(http_requests[30m]))", 50 * 60 * 1000
    )
    return vec.select(
        F.col("l_group").alias("grp"), F.col("value").alias("inc")
    ).orderBy("grp")


@query(
    "pq2_promql_parquet_storage",
    """
    SELECT grp, inc FROM (VALUES ('canary', CAST(420 AS DOUBLE)),
                                 ('production', CAST(180 AS DOUBLE))) AS t(grp, inc)
    ORDER BY grp
    """,
)
def pq2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pq1's evaluation with the storage layer in the loop: the load
    block is written through convert() to a parquet shard and served
    back through ShardDataset/ParquetQueryable — the reference's
    promqltest-over-parquet-storage acceptance shape
    (queryable/parquet_queryable_test.go:45-66) as a driver-gate entry.
    Same analytically derived oracle as pq1 (results must be identical
    across storage backends)."""
    from parquet_common_spark.promqltest import PromQLEngine, parse_script
    from parquet_common_spark.promqltest.scriptparse import LoadCmd

    eng = PromQLEngine(spark, parquet_backed=True)
    script = parse_script(
        """
load 5m
    http_requests{job="api-server", instance="0", group="production"}    0+10x10
    http_requests{job="api-server", instance="1", group="production"}    0+20x10
    http_requests{job="api-server", instance="0", group="canary"}        0+30x10
    http_requests{job="api-server", instance="1", group="canary"}        0+40x10
"""
    )
    for cmd in script.commands:
        if isinstance(cmd, LoadCmd):
            eng.load(cmd)
    vec = eng.eval_instant_df(
        "sum by (group) (increase(http_requests[30m]))", 50 * 60 * 1000
    )
    return vec.select(
        F.col("l_group").alias("grp"), F.col("value").alias("inc")
    ).orderBy("grp")


@query(
    "pq3_promql_native_histograms",
    """
    SELECT q, v FROM (VALUES
        ('count', CAST(0.013333333333333334 AS DOUBLE)),
        ('p75',   CAST(1.5874010519681994 AS DOUBLE)),
        ('sum',   CAST(0.016666666666666666 AS DOUBLE))) AS t(q, v)
    ORDER BY q
    """,
)
def pq3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The native-histogram engine flow end-to-end in the driver gate:
    {{...}} literals -> sparse-histogram storage -> rate() with
    boundary extrapolation -> same-schema sum() merge ->
    histogram_count/sum/quantile.  The oracle is the analytically
    derived constant table: two regular integer histograms stepping
    (2, 3)/5m give rate buckets k0=1/300, k1=3/300 at t=10m (interior
    extrapolation factor 2 over the 600 s range), so count=4/300,
    sum=5/300, and phi=0.75 lands 2/3 into (1, 2] on the log axis:
    2^(2/3).  ``sf_dir`` unused (script-defined samples)."""
    from pyspark.sql import functions as SF

    from parquet_common_spark.promqltest import PromQLEngine, parse_script
    from parquet_common_spark.promqltest.scriptparse import LoadCmd

    eng = PromQLEngine(spark)
    script = parse_script(
        """
load 5m
    rq{i="a"} {{schema:0 count:2 sum:3 buckets:[1 1] offset:0}} {{schema:0 count:4 sum:6 buckets:[2 2] offset:0}} {{schema:0 count:6 sum:9 buckets:[3 3] offset:0}}
    rq{i="b"} {{schema:0 count:2 sum:2 buckets:[2] offset:1}} {{schema:0 count:4 sum:4 buckets:[4] offset:1}} {{schema:0 count:6 sum:6 buckets:[6] offset:1}}
"""
    )
    for cmd in script.commands:
        if isinstance(cmd, LoadCmd):
            eng.load(cmd)
    t = 10 * 60 * 1000
    count = eng.eval_instant_df("histogram_count(sum(rate(rq[10m])))", t)
    total = eng.eval_instant_df("histogram_sum(sum(rate(rq[10m])))", t)
    p75 = eng.eval_instant_df(
        "histogram_quantile(0.75, sum(rate(rq[10m])))", t
    )
    return (
        count.select(SF.lit("count").alias("q"), SF.col("value").alias("v"))
        .unionByName(p75.select(SF.lit("p75").alias("q"), SF.col("value").alias("v")))
        .unionByName(total.select(SF.lit("sum").alias("q"), SF.col("value").alias("v")))
        .orderBy("q")
    )


@query(
    "pq4_promql_range_api",
    """
    SELECT grp, ev, r FROM (VALUES
        ('canary',     CAST(1200000 AS BIGINT), CAST(0.233333 AS DOUBLE)),
        ('canary',     CAST(1800000 AS BIGINT), CAST(0.233333 AS DOUBLE)),
        ('canary',     CAST(2400000 AS BIGINT), CAST(0.233333 AS DOUBLE)),
        ('production', CAST(1200000 AS BIGINT), CAST(0.1 AS DOUBLE)),
        ('production', CAST(1800000 AS BIGINT), CAST(0.1 AS DOUBLE)),
        ('production', CAST(2400000 AS BIGINT), CAST(0.1 AS DOUBLE))) AS t(grp, ev, r)
    ORDER BY grp, ev
    """,
)
def pq4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The public query_range surface over converted shards:
    PromQLEngine.from_shards routes selectors through
    ParquetQueryable.select (pushdown + bucket pruning), eval_range_df
    returns the lazy (labels, _ev, value) frame.  Oracle derived
    analytically: linear 5m-step counters make rate() constant at every
    step — per-series slope/300s with full boundary extrapolation
    (factor 2 over the 2-sample window), summed by group.
    (Reference shape: remote-read + query_range through the upstream
    engine, queryable/parquet_queryable_test.go:45-66.)"""
    import tempfile

    from parquet_common_spark import schema as S
    from parquet_common_spark.convert import convert
    from parquet_common_spark.promqltest import PromQLEngine

    rows = []
    for inst, group, slope in (
        ("0", "production", 10.0),
        ("1", "production", 20.0),
        ("0", "canary", 30.0),
        ("1", "canary", 40.0),
    ):
        labels = {
            "__name__": "http_requests",
            "job": "api-server",
            "instance": inst,
            "group": group,
        }
        for k in range(11):
            rows.append((labels, k * 5 * 60 * 1000 * 1000, slope * k))  # µs
    df = spark.createDataFrame(rows, "labels map<string,string>, ts long, value double")
    out_dir = tempfile.mkdtemp(prefix="pq4_shard_")
    convert(df, out_dir, col_duration_ms=S.DEFAULT_COL_DURATION_MS * 1000)  # µs buckets
    eng = PromQLEngine.from_shards(spark, [out_dir])
    vec = eng.eval_range_df(
        "sum by (group) (rate(http_requests[10m]))",
        20 * 60 * 1000,
        40 * 60 * 1000,
        10 * 60 * 1000,
    )
    return vec.select(
        F.col("l_group").alias("grp"),
        F.col("_ev").alias("ev"),
        F.round(F.col("value"), 6).alias("r"),
    ).orderBy("grp", "ev")


@query(
    "a2_approx_quantile",
    # Same discipline as a1: the sketch VALUE is engine-specific
    # (Spark's Greenwald-Khanna vs DuckDB's t-digest), so the hashed
    # columns are the exact percentiles plus a deterministic pass/fail:
    # the GK sketch with accuracy 1/eps guarantees rank error <= eps*N,
    # checked as a VALUE bound via the exact quantiles at rank +/- eps*N
    # (rank error translates to a value window on the sorted column).
    """
    WITH b AS (
      SELECT event_type,
             quantile_cont(value, 0.50) AS p50_exact,
             quantile_cont(value, 0.95) AS p95_exact,
             TRUE AS p50_ok, TRUE AS p95_ok
      FROM events GROUP BY event_type)
    SELECT event_type,
           ROUND(p50_exact, 6) AS p50_exact, ROUND(p95_exact, 6) AS p95_exact,
           p50_ok, p95_ok
    FROM b ORDER BY event_type
    """,
)
def a2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate quantiles (Greenwald-Khanna sketch, the distributed
    scale path for percentiles) bounded against the exact per-group
    quantiles: the approx p50/p95 must land inside the exact value
    window [quantile(p - eps), quantile(p + eps)] with eps = 1/accuracy.
    ONE shuffle for both the sketch and the exact reference; at 100 TB
    the exact side drops away and the sketch's mergeable partials are
    the whole story."""
    from parquet_common_spark.plans.common import load as _load

    t = _load(spark, sf_dir, "events")
    acc = 200  # sketch rank error eps = 1/acc = 0.005
    eps = 3.0 / acc  # 3x slack on the value window (a1's discipline):
    # the sketch returns an OBSERVED element while the window ends are
    # interpolated, so the exact-eps window can exclude a legal element
    agg = (
        t["events"]
        .groupBy("event_type")
        .agg(
            F.percentile_approx("value", [0.5, 0.95], F.lit(acc)).alias("_ap"),
            F.expr(
                f"percentile(value, array(0.5, 0.95, {0.5-eps}, {0.5+eps},"
                f" {0.95-eps}, {0.95+eps}))"
            ).alias("_ex"),
        )
    )
    return agg.select(
        "event_type",
        F.round(F.col("_ex")[0], 6).alias("p50_exact"),
        F.round(F.col("_ex")[1], 6).alias("p95_exact"),
        (
            (F.col("_ap")[0] >= F.col("_ex")[2]) & (F.col("_ap")[0] <= F.col("_ex")[3])
        ).alias("p50_ok"),
        (
            (F.col("_ap")[1] >= F.col("_ex")[4]) & (F.col("_ap")[1] <= F.col("_ex")[5])
        ).alias("p95_ok"),
    ).orderBy("event_type")


@query(
    "e6_value_histogram",
    """
    SELECT event_type,
           CAST(LEAST(FLOOR(value / 25.0), 19) AS INT) AS bucket,
           COUNT(*) AS n,
           ROUND(SUM(value), 2) AS sum_value
    FROM events
    GROUP BY event_type, bucket
    ORDER BY event_type, bucket
    """,
)
def e6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram per event type (the heatmap/binning
    shape): bucket = floor(value/25) clipped to a 20-bucket range.
    Map-only bucket assignment + ONE combined aggregation over
    (type, bucket) — a bounded key space, so the shuffle moves only
    the partial histogram at any corpus size."""
    from parquet_common_spark.plans.common import load as _load

    t = _load(spark, sf_dir, "events")
    b = F.least(F.floor(F.col("value") / F.lit(25.0)), F.lit(19)).cast("int")
    return (
        t["events"]
        .groupBy("event_type", b.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("event_type", "bucket")
    )


@query(
    "pq5_streaming_ingest",
    """
    SELECT lpad(CAST(i.range AS VARCHAR), 2, '0') AS bar,
           CAST(s.range * 1000 AS BIGINT) AS ts,
           CAST(i.range AS DOUBLE) AS value
    FROM range(6) i, range(4) s
    ORDER BY bar, ts
    """,
)
def pq5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming-ingest lifecycle through the driver gate: a
    deterministic fixture streams through convert_streaming (one shard
    per micro-batch, idempotent epoch dirs), the batch shards compact
    into one archival shard, and the queryable serves the samples back
    — the oracle regenerates the fixture arithmetically, so any loss or
    duplication in stream->shard->compact->read hashes red."""
    import tempfile

    from parquet_common_spark import convert as C
    from parquet_common_spark.matchers import Matcher
    from parquet_common_spark.queryable import ParquetQueryable
    from parquet_common_spark import schema as S
    from parquet_common_spark.plans.common import ensure_session_env

    ensure_session_env(spark)
    rows = [
        (f"{i:02d}", "pcs_stream_fixture", s * 1000, float(i))
        for i in range(6)
        for s in range(4)
    ]
    wide = spark.createDataFrame(
        rows, "l_bar string, l___name__ string, ts long, value double"
    )
    root = tempfile.mkdtemp(prefix="pcs_pq5_")
    src = f"{root}/src"
    wide.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = C.convert_streaming(
        stream, f"{root}/shards", checkpoint_dir=f"{root}/ckpt", labels_col=None
    )
    await_stream(q)
    import glob

    shard_dirs = sorted(glob.glob(f"{root}/shards/batch=*"))
    C.compact_shards(spark, shard_dirs, f"{root}/compacted")
    sel = ParquetQueryable.from_paths(spark, [f"{root}/compacted"]).select(
        0, 10**15, [Matcher("__name__", "=", "pcs_stream_fixture")]
    )
    return sel.select(
        F.col("l_bar").alias("bar"),
        F.col(S.TS_COLUMN).alias("ts"),
        F.col(S.VALUE_COLUMN).alias("value"),
    ).orderBy("bar", "ts")


@query(
    "pq6_retention_lifecycle",
    """
    SELECT lpad(CAST(i.range AS VARCHAR), 2, '0') AS bar,
           CAST(w.range * 2000 AS BIGINT) AS ts,
           CAST(2 AS BIGINT) AS ds_count,
           CAST(2 * i.range AS DOUBLE) AS ds_sum,
           CAST(i.range AS DOUBLE) AS ds_min,
           CAST(i.range AS DOUBLE) AS ds_max,
           CAST(i.range AS DOUBLE) AS value
    FROM range(3) i, range(2) w
    ORDER BY bar, ts
    """,
)
def pq6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention lifecycle through the driver gate: fixture shard ->
    delete_series(bar=~"0[3-5]") -> downsample to 2s windows -> read
    back through the ordinary queryable.  The oracle regenerates the
    surviving series' window aggregates arithmetically, so a matcher
    compiled too wide/narrow, a lost window, or a wrong aggregate
    hashes red."""
    import tempfile

    from parquet_common_spark import convert as C
    from parquet_common_spark.matchers import Matcher
    from parquet_common_spark.queryable import ParquetQueryable
    from parquet_common_spark import schema as S
    from parquet_common_spark.plans.common import ensure_session_env

    ensure_session_env(spark)
    rows = [
        (f"{i:02d}", "pcs_lifecycle_fixture", s * 1000, float(i))
        for i in range(6)
        for s in range(4)
    ]
    wide = spark.createDataFrame(
        rows, "l_bar string, l___name__ string, ts long, value double"
    )
    root = tempfile.mkdtemp(prefix="pcs_pq6_")
    C.convert(wide, f"{root}/raw", labels_col=None)
    C.delete_series(spark, f"{root}/raw", [Matcher("bar", "=~", "0[3-5]")], f"{root}/kept")
    C.downsample_shard(spark, f"{root}/kept", f"{root}/ds", resolution_ms=2000)
    sel = ParquetQueryable.from_paths(spark, [f"{root}/ds"]).select(
        0, 10**15, [Matcher("__name__", "=", "pcs_lifecycle_fixture")]
    )
    return sel.select(
        F.col("l_bar").alias("bar"),
        F.col(S.TS_COLUMN).alias("ts"),
        F.col("ds_count").cast("long").alias("ds_count"),
        "ds_sum", "ds_min", "ds_max",
        F.col(S.VALUE_COLUMN).alias("value"),
    ).orderBy("bar", "ts")


@query(
    "f4_conditional_null",
    """
    SELECT s_suppkey,
           CASE WHEN s_acctbal < 0 THEN 'debt'
                WHEN s_acctbal < 5000 THEN 'mid'
                ELSE 'high' END AS bal_band,
           COALESCE(NULLIF(s_name, ''), '<empty>') AS name_nz,
           ROUND(GREATEST(s_acctbal, 0.0), 2) AS bal_floor0,
           ROUND(LEAST(s_acctbal, 1000.0), 2) AS bal_cap1k,
           CAST(s_acctbal IS NULL AS BOOLEAN) AS bal_null,
           IFNULL(CAST(NULL AS DOUBLE), ROUND(s_acctbal, 2)) AS bal_if
    FROM supplier
    WHERE s_suppkey <= 200
    ORDER BY s_suppkey
    """,
)
def f4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional/null-handling function breadth: CASE bands,
    COALESCE/NULLIF, GREATEST/LEAST, IS NULL, IFNULL — all map-only
    Column expressions inside whole-stage codegen."""
    from parquet_common_spark.plans.common import load as _load

    t = _load(spark, sf_dir, "supplier")
    bal = F.col("s_acctbal")
    return (
        t["supplier"]
        .where(F.col("s_suppkey") <= 200)
        .select(
            "s_suppkey",
            F.when(bal < 0, "debt").when(bal < 5000, "mid").otherwise("high").alias("bal_band"),
            F.coalesce(F.nullif(F.col("s_name"), F.lit("")), F.lit("<empty>")).alias("name_nz"),
            F.round(F.greatest(bal, F.lit(0.0)), 2).alias("bal_floor0"),
            F.round(F.least(bal, F.lit(1000.0)), 2).alias("bal_cap1k"),
            bal.isNull().alias("bal_null"),
            F.ifnull(F.lit(None).cast("double"), F.round(bal, 2)).alias("bal_if"),
        )
        .orderBy("s_suppkey")
    )


# ------------------- a3: count-min frequency sketch (heavy hitters)

def _a3_sql() -> str:
    from parquet_common_spark.operators import sketch as SK
    from parquet_common_spark.operators.pipeline_queries import _phash

    return rf"""
    WITH t AS (
      SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
      FROM documents),
    th AS (SELECT {_phash('token')} AS h FROM t),
    cells AS (
      SELECT r,
             ((h * (37 + 101 * r) + (91 + 57 * r)) % {SK.HASH_P}) % {SK.CMS_W} AS c,
             COUNT(*) AS cnt
      FROM th, generate_series(0, {SK.CMS_D - 1}) AS g(r)
      GROUP BY r, c),
    top AS (
      SELECT token, COUNT(*) AS exact_cnt FROM t GROUP BY token
      ORDER BY exact_cnt DESC, token LIMIT 10),
    probe AS (SELECT token, exact_cnt, {_phash('token')} AS h FROM top),
    est AS (
      SELECT p.token, p.exact_cnt, MIN(cl.cnt) AS est_cnt
      FROM probe p JOIN cells cl
        ON cl.c = ((p.h * (37 + 101 * cl.r) + (91 + 57 * cl.r))
                   % {SK.HASH_P}) % {SK.CMS_W}
      GROUP BY p.token, p.exact_cnt)
    SELECT token, CAST(exact_cnt AS BIGINT) AS exact_cnt,
           CAST(est_cnt AS BIGINT) AS est_cnt,
           est_cnt >= exact_cnt AS never_undercounts
    FROM est ORDER BY exact_cnt DESC, token
    """


@query("a3_count_min_heavy_hitters", _a3_sql())
def a3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min frequency sketch probed at the exact top-10 tokens —
    the frequency member of the approximate-aggregation family (a1 HLL
    distinct, a2 GK quantiles).  Unlike those, the sketch here is a
    deterministic plain aggregation (operators/sketch.py), so the
    ESTIMATES themselves hash-match the oracle, not just a bound; the
    never_undercounts column pins the one-sided CMS guarantee."""
    from parquet_common_spark.operators import sketch as SK
    from parquet_common_spark.operators.text import tokens

    docs = load(spark, sf_dir, "documents")["documents"]
    table = SK.count_min_table(docs, "text")
    tok = docs.select(F.explode(tokens(F.col("text"))).alias("token"))
    top = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), "token")
        .limit(10)
    )
    est = SK.cms_estimates(top, table, "token")
    return est.select(
        "token",
        "exact_cnt",
        F.col("est_cnt").cast("long").alias("est_cnt"),
        (F.col("est_cnt") >= F.col("exact_cnt")).alias("never_undercounts"),
    ).orderBy(F.desc("exact_cnt"), "token")


@query("st7_streaming_heavy_hitters", _a3_sql())
def st7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The count-min table maintained as a STREAMING aggregation: the
    documents table is consumed as a file-source stream, the sketch
    cells accumulate in a complete-mode stateful groupBy (state bounded
    by D*W cells — a sketch IS bounded streaming state, which is why
    heavy-hitter monitoring is the canonical streaming-sketch workload),
    and the drained table must produce byte-identical estimates to the
    batch a3 oracle.  At scale this is the shape of a live
    token-frequency monitor over an ingest firehose: per-micro-batch
    map-side partials merge into D*W counters, never per-token state."""
    import uuid

    from parquet_common_spark.operators import sketch as SK
    from parquet_common_spark.operators.text import tokens
    from parquet_common_spark.plans.common import ensure_session_env

    ensure_session_env(spark)
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    table_stream = SK.count_min_table(stream, "text")
    sink = f"st7_{uuid.uuid4().hex[:8]}"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        stream_shuffle_partitions(sf_dir, "documents.parquet"),
    )
    try:
        q = (
            table_stream.writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        await_stream(q)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    table = spark.table(sink)
    docs = load(spark, sf_dir, "documents")["documents"]
    tok = docs.select(F.explode(tokens(F.col("text"))).alias("token"))
    top = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), "token")
        .limit(10)
    )
    est = SK.cms_estimates(top, table, "token")
    return est.select(
        "token",
        "exact_cnt",
        F.col("est_cnt").cast("long").alias("est_cnt"),
        (F.col("est_cnt") >= F.col("exact_cnt")).alias("never_undercounts"),
    ).orderBy(F.desc("exact_cnt"), "token")


@query(
    "pq7_recording_rule",
    # identical analytic oracle to pq4: the recording rule materializes
    # exactly the range-eval frame, and the read-back selector returns
    # the recorded samples at the recorded timestamps
    """
    SELECT grp, ev, r FROM (VALUES
        ('canary',     CAST(1200000 AS BIGINT), CAST(0.233333 AS DOUBLE)),
        ('canary',     CAST(1800000 AS BIGINT), CAST(0.233333 AS DOUBLE)),
        ('canary',     CAST(2400000 AS BIGINT), CAST(0.233333 AS DOUBLE)),
        ('production', CAST(1200000 AS BIGINT), CAST(0.1 AS DOUBLE)),
        ('production', CAST(1800000 AS BIGINT), CAST(0.1 AS DOUBLE)),
        ('production', CAST(2400000 AS BIGINT), CAST(0.1 AS DOUBLE))) AS t(grp, ev, r)
    ORDER BY grp, ev
    """,
)
def pq7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recording-rule lifecycle: evaluate a range expression, write the
    result back through convert() as a NEW metric
    (``group:http_requests:rate10m`` — the upstream recording-rule
    naming convention), then answer a plain selector over the derived
    metric from the materialized shard.  This is Prometheus's rule
    evaluation loop re-expressed as a batch pipeline: the eval frame
    stays a lazy DataFrame end-to-end (no driver materialization — the
    rule output is map-transformed into (labels, ts, value) rows and
    convert() writes it with the standard dual-projection sort), so at
    100 TB a rule over billions of series is one distributed
    eval+write.  (Reference: rule materialization is exactly the
    write path of convert.go applied to engine output.)"""
    import tempfile

    from parquet_common_spark import schema as S
    from parquet_common_spark.convert import convert
    from parquet_common_spark.promqltest import PromQLEngine

    rows = []
    for inst, group, slope in (
        ("0", "production", 10.0),
        ("1", "production", 20.0),
        ("0", "canary", 30.0),
        ("1", "canary", 40.0),
    ):
        labels = {
            "__name__": "http_requests",
            "job": "api-server",
            "instance": inst,
            "group": group,
        }
        for k in range(11):
            rows.append((labels, k * 5 * 60 * 1000 * 1000, slope * k))  # µs
    df = spark.createDataFrame(rows, "labels map<string,string>, ts long, value double")
    raw_dir = tempfile.mkdtemp(prefix="pq7_raw_")
    convert(df, raw_dir, col_duration_ms=S.DEFAULT_COL_DURATION_MS * 1000)  # µs buckets
    eng = PromQLEngine.from_shards(spark, [raw_dir])
    vec = eng.eval_range_df(
        "sum by (group) (rate(http_requests[10m]))",
        20 * 60 * 1000,
        40 * 60 * 1000,
        10 * 60 * 1000,
    )
    rule = "group:http_requests:rate10m"
    rec = vec.select(
        F.create_map(
            F.lit("__name__"), F.lit(rule), F.lit("group"), F.col("l_group")
        ).alias("labels"),
        (F.col("_ev") * F.lit(1000)).cast("long").alias("ts"),  # ms -> µs
        F.col("value"),
    )
    rule_dir = tempfile.mkdtemp(prefix="pq7_rule_")
    convert(rec, rule_dir, col_duration_ms=S.DEFAULT_COL_DURATION_MS * 1000)
    out = PromQLEngine.from_shards(spark, [rule_dir]).eval_range_df(
        rule, 20 * 60 * 1000, 40 * 60 * 1000, 10 * 60 * 1000
    )
    return out.select(
        F.col("l_group").alias("grp"),
        F.col("_ev").alias("ev"),
        F.round(F.col("value"), 6).alias("r"),
    ).orderBy("grp", "ev")


@query(
    "f5_map_functions",
    # the oracle validates the SEMANTICS map-free: per-region nation
    # counts canonicalized as scalars/strings (the driver's hasher
    # cannot hash raw map cells, same reason f3 string-joins arrays)
    """
    WITH c AS (
      SELECT r_name, n_name, COUNT(*) AS cnt
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name, n_name)
    SELECT r_name,
           CAST(COUNT(*) AS INT) AS n_keys,
           MIN(n_name) AS first_key,
           CAST(MIN_BY(cnt, n_name) AS BIGINT) AS first_val,
           string_agg(n_name || '=' || cnt, ',' ORDER BY n_name) AS entries
    FROM c GROUP BY r_name ORDER BY r_name
    """,
)
def f5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map built-ins (map_from_entries / map_keys / element_at /
    map_entries) — §2.8's complex-type surface beyond arrays (f3):
    per-region nation→customer-count maps, emitted canonically (sorted
    "k=v" join) so the hash compare is dialect-free."""
    t = load(spark, sf_dir, "customer", "nation", "region")
    counts = (
        t["customer"]
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    m = counts.groupBy("r_name").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("n_name", "cnt")))
        ).alias("m")
    )
    first_key = F.array_min(F.map_keys(F.col("m")))
    return m.select(
        "r_name",
        F.size("m").cast("int").alias("n_keys"),
        first_key.alias("first_key"),
        F.element_at(F.col("m"), first_key).alias("first_val"),
        F.array_join(
            F.transform(
                F.map_entries(F.col("m")),
                lambda e: F.concat(e["key"], F.lit("="), e["value"].cast("string")),
            ),
            ",",
        ).alias("entries"),
    ).orderBy("r_name")


@query(
    "p10_unpivot_event_matrix",
    """
    WITH piv AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(COUNT(*) FILTER (event_type = 'click') AS BIGINT)    AS click,
             CAST(COUNT(*) FILTER (event_type = 'error') AS BIGINT)    AS error,
             CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
             CAST(COUNT(*) FILTER (event_type = 'signup') AS BIGINT)   AS signup,
             CAST(COUNT(*) FILTER (event_type = 'view') AS BIGINT)     AS view
      FROM events GROUP BY 1)
    SELECT day, event_type, n FROM piv
    UNPIVOT (n FOR event_type IN (click, error, purchase, signup, view))
    WHERE n > 0
    ORDER BY day, event_type
    """,
)
def p10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt) — the reshape inverse of p1's pivot, completing
    the wide<->long pair: the day x event-type count matrix melted back
    to long form with Spark's native unpivot (zero-count cells dropped,
    matching UNPIVOT's NULL-exclusion convention when the wide frame
    uses NULL for empty cells).  Map-only after p1's one aggregation
    shuffle: unpivot is a generator projection, no extra exchange."""
    from parquet_common_spark.plans.common import load as _load

    cols = ["click", "error", "purchase", "signup", "view"]
    t = _load(spark, sf_dir, "events")
    piv = (
        t["events"]
        .groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
        .pivot("event_type", cols)
        .count()
    )
    # keep empty cells NULL: unpivot drops NULLs, mirroring the
    # oracle's UNPIVOT NULL-exclusion (we filter n > 0 on both sides
    # anyway, so 0-vs-NULL representation cannot diverge)
    out = piv.unpivot("day", cols, "event_type", "n")
    return out.where(F.col("n") > 0).orderBy("day", "event_type")


@query(
    "f6_bitwise_functions",
    """
    SELECT l_linestatus,
           CAST(BIT_AND(l_orderkey) AS BIGINT) AS and_all,
           CAST(BIT_OR(l_orderkey) AS BIGINT) AS or_all,
           CAST(BIT_XOR(l_orderkey) AS BIGINT) AS xor_all,
           CAST(SUM(bit_count(l_orderkey) % 2) AS BIGINT) AS odd_popcount_rows,
           CAST(SUM(CASE WHEN (l_orderkey & 255) < 128 THEN 1 ELSE 0 END)
                AS BIGINT) AS low_bucket_rows,
           MAX(hex(l_orderkey & 4095)) AS max_hex
    FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus
    """,
)
def f6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise built-ins surface: & masking, popcount, shift-free hex
    formatting, and the bit_and/bit_or/bit_xor aggregates — all
    JVM-side Column algebra inside one map-side-combined aggregate."""
    li = load(spark, sf_dir, "lineitem")["lineitem"]
    key = F.col("l_orderkey")
    return (
        li.groupBy("l_linestatus")
        .agg(
            F.bit_and(key).cast("long").alias("and_all"),
            F.bit_or(key).cast("long").alias("or_all"),
            F.bit_xor(key).cast("long").alias("xor_all"),
            F.sum(F.bit_count(key) % 2).cast("long").alias("odd_popcount_rows"),
            F.sum(
                F.when(key.bitwiseAND(F.lit(255)) < 128, 1).otherwise(0)
            )
            .cast("long")
            .alias("low_bucket_rows"),
            F.max(F.hex(key.bitwiseAND(F.lit(4095)))).alias("max_hex"),
        )
        .orderBy("l_linestatus")
    )
