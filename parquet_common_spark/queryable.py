"""The query surface: matcher-based Select, LabelNames, LabelValues.

Spark-first equivalent of ``Queryable``/``Querier`` (reference:
queryable/parquet_queryable.go:153-346).  The reference's whole pipeline —
constraint compile, two-phase page filtering, lazy label+chunk
materialization, per-shard fan-out, k-way sorted merge
(SURVEY.md §3.1) — collapses into one declarative plan per shard:

    series.where(matcher_predicate)           # Catalyst + Parquet do
       .select(projected label columns)       # bloom/stats/dict pruning
       .join(samples  time-pruned by bucket)  # == chunk materialization
    union across shards (unionByName allowMissingColumns — shards can have
    different label column sets, reference: convert/merge.go:25)
    orderBy(labels) if sorted output demanded  # == k-way heap merge

Multi-shard dedup of identical series (reference vertical chunk merge,
convert/merge.go:85-127) is free in the exploded-sample model: the union of
sample rows IS the merged series.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from parquet_common_spark import schema as S
from parquet_common_spark.limits import Quota
from parquet_common_spark.matchers import Matcher, matchers_to_predicate


@dataclass
class ShardDataset:
    """One shard: aligned series + samples tables plus metadata.

    Replaces the reference's two-parquet-file pair (ParquetShard,
    storage/parquet_shard.go:138-185); positional row alignment is replaced
    by the explicit ``s_series_hash`` key.
    """

    series: DataFrame
    samples: DataFrame | None
    meta: S.ShardMeta

    @classmethod
    def read(cls, spark: SparkSession, shard_dir: str) -> "ShardDataset":
        """Open a shard directory.  With the schemas recorded in its meta
        this runs no Spark job; older shards fall back to footer
        inference (one job per table)."""
        meta = S.ShardMeta.read(shard_dir)

        def table(name: str, schema) -> DataFrame:
            reader = spark.read if schema is None else spark.read.schema(schema)
            return reader.parquet(os.path.join(shard_dir, name))

        return cls(
            series=table("series.parquet", meta.series_schema),
            samples=table("samples.parquet", meta.samples_schema),
            meta=meta,
        )

    @classmethod
    def from_tables(
        cls, spark: SparkSession, table_prefix: str, meta: S.ShardMeta | None = None
    ) -> "ShardDataset":
        """Open a bucketed-table shard written by ``convert_bucketed``:
        catalog tables ``<prefix>_series`` / ``<prefix>_samples``, with
        shard metadata read back from the series table's ``pcs.meta``
        property.  Because both tables are bucketed on the series hash,
        every Select's series⋈samples join plans shuffle-free."""
        series = spark.table(f"{table_prefix}_series")
        samples = spark.table(f"{table_prefix}_samples")
        if meta is None:
            props = {
                r["key"]: r["value"]
                for r in spark.sql(
                    f"SHOW TBLPROPERTIES {table_prefix}_series"
                ).collect()
            }
            meta = S.ShardMeta.from_json(props["pcs.meta"])
        return cls(series=series, samples=samples, meta=meta)

    @property
    def label_cols(self) -> list[str]:
        return S.label_columns(self.series.columns)


class LruResultCache:
    """Bounded predicate-result cache: keeps the ``capacity`` most
    recently used entries and UNPERSISTS evicted frames, so a
    long-lived session querying many matcher sets holds at most
    ``capacity`` cached series frames (the reference's cache is
    similarly bounded per-deployment; search/constraint_cache.go:16-33).
    The reference makes its cache an injectable interface, and so does
    :class:`ParquetQueryable`: any object with the same three methods
    (``get``/``put``/``clear``) drops in."""

    def __init__(self, capacity: int = 64):
        if capacity < 1:
            raise ValueError("capacity must be >= 1")
        self._capacity = int(capacity)
        self._store: dict = {}

    def get(self, key):
        df = self._store.get(key)
        if df is not None:
            # dict preserves insertion order: re-insert to mark recency
            self._store.pop(key)
            self._store[key] = df
        return df

    def put(self, key, df: DataFrame) -> None:
        if key in self._store:
            self._store.pop(key).unpersist()
        self._store[key] = df.persist()
        while len(self._store) > self._capacity:
            oldest = next(iter(self._store))  # insertion order == recency
            self._store.pop(oldest).unpersist()

    def clear(self) -> None:
        for df in self._store.values():
            df.unpersist()
        self._store.clear()


class ParquetQueryable:
    """Matcher-query engine over one or more shards.

    ``shards_finder`` hook (reference: queryable/parquet_queryable.go:39)
    is the constructor: pass whatever shards the catalog says overlap the
    query time range.
    """

    def __init__(self, shards: list[ShardDataset], result_cache=False):
        """``result_cache`` memoizes the filtered series set per
        (shard, matcher-set) across Select calls — the reference's
        predicate-result cache (O9, search/constraint_cache.go:16-71),
        realized as persisted DataFrames (MEMORY_AND_DISK) instead of
        row-range lists.  Pass ``True`` for a bounded
        ``LruResultCache(64)``, or any object with ``get(key)``,
        ``put(key, df)`` and ``clear()`` to inject your own policy
        (mirroring the reference's injectable cache interface)."""
        if not shards:
            raise ValueError("at least one shard required")
        self.shards = shards
        if result_cache is True:
            self._result_cache = LruResultCache()
        elif result_cache:
            self._result_cache = result_cache
        else:
            self._result_cache = None

    def clear_cache(self) -> None:
        if self._result_cache is not None:
            self._result_cache.clear()

    @staticmethod
    def _matcher_key(matchers) -> tuple:
        ms = [m if isinstance(m, Matcher) else Matcher(*m) for m in matchers]
        return tuple(sorted((m.name, m.op, m.value) for m in ms))

    @classmethod
    def from_paths(
        cls, spark: SparkSession, shard_dirs: list[str], result_cache=False
    ) -> "ParquetQueryable":
        return cls(
            [ShardDataset.read(spark, d) for d in shard_dirs],
            result_cache=result_cache,
        )

    @classmethod
    def from_tables(
        cls, spark: SparkSession, table_prefixes: list[str], result_cache=False
    ) -> "ParquetQueryable":
        """Queryable over bucketed-table shards (see
        ``convert.convert_bucketed`` / ``ShardDataset.from_tables``)."""
        return cls(
            [ShardDataset.from_tables(spark, p) for p in table_prefixes],
            result_cache=result_cache,
        )

    # -- Select -----------------------------------------------------------
    def select(
        self,
        mint_ms: int,
        maxt_ms: int,
        matchers: list[Matcher] | list[tuple[str, str, str]],
        projection: list[str] | None = None,
        exclude: list[str] | None = None,
        skip_chunks: bool = False,
        sorted_output: bool = False,
        quota: Quota | None = None,
        drop_empty_series: bool = True,
        series_filter=None,
    ) -> DataFrame:
        """Matcher select (reference: Querier.Select,
        queryable/parquet_queryable.go:283-346).

        Returns label columns + (unless ``skip_chunks``) sample columns
        ``s_ts``/``s_value``.  ``projection``/``exclude`` mirror the
        reference's projection hints include/exclude mode (reference:
        search/materialize.go:404-494).  ``drop_empty_series`` mirrors
        FilterEmptyChunkSeriesSet (search/iterators.go:100-184): series with
        no samples in range are dropped (inner join does this naturally).
        ``series_filter`` is the MaterializedLabelsFilterCallback hook
        (reference: search/materialize.go:74-87): a fn(DataFrame)->Column
        applied after label materialization, before chunk fetch.
        """
        parts: list[DataFrame] = []
        for shard in self.shards:
            parts.append(
                self._select_shard(
                    shard, mint_ms, maxt_ms, matchers, projection, exclude,
                    skip_chunks, quota, drop_empty_series, series_filter,
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        if skip_chunks and len(parts) > 1:
            out = out.distinct()  # same series in >1 shard (reference dedup, merge.go:85)
        label_cols = sorted(S.label_columns(out.columns))
        if sorted_output:
            # sorted contract forced for >1 shard in the reference
            # (parquet_queryable.go:311-314); callers opt in here.
            order = label_cols + ([] if skip_chunks else [S.TS_COLUMN])
            out = out.orderBy(*order)
        return out

    def _select_shard(
        self,
        shard: ShardDataset,
        mint_ms: int,
        maxt_ms: int,
        matchers,
        projection,
        exclude,
        skip_chunks: bool,
        quota: Quota | None,
        drop_empty_series: bool,
        series_filter=None,
    ) -> DataFrame:
        if self._result_cache is not None and series_filter is None:
            key = (id(shard), self._matcher_key(matchers))
            series = self._result_cache.get(key)
            if series is None:
                pred = matchers_to_predicate(matchers, shard.series.columns)
                series = shard.series.where(pred)
                self._result_cache.put(key, series)
        else:
            pred = matchers_to_predicate(matchers, shard.series.columns)
            series = shard.series.where(pred)
        if series_filter is not None:
            series = series.where(series_filter(series))
        keep = sorted(S.label_columns(series.columns))
        if projection is not None:
            req = {S.label_to_column(n) for n in projection}
            keep = [c for c in keep if c in req]
        if exclude:
            drop = {S.label_to_column(n) for n in exclude}
            keep = [c for c in keep if c not in drop]
        series = series.select(*keep, S.SERIES_HASH_COLUMN)
        if quota is not None:
            quota.check_bytes(series, kind="data")
            # row quota meters MATCHED series rows per shard, accumulated
            # across shards (reference: rowCountQuota shared per Select,
            # decremented as each shard materializes labels-file rows)
            quota.check_rows(series)
        if skip_chunks or shard.samples is None:
            # "series" fast path (reference: parquet_queryable.go:322) —
            # labels only, zero sample I/O. Distinct because projection may
            # collapse series.
            return series.drop(S.SERIES_HASH_COLUMN).distinct()

        lo, hi = shard.meta.bucket_range(mint_ms, maxt_ms)
        if quota is not None:
            # meter the PRUNED sample scan: only time_bucket partitions
            # inside the query range count against the byte budget
            quota.check_bytes(shard.samples, {S.TIME_BUCKET_COLUMN: (lo, hi)}, kind="chunk")
        value_cols = [
            c for c in shard.samples.columns
            if c not in (S.SERIES_HASH_COLUMN, S.TIME_BUCKET_COLUMN, S.TS_COLUMN)
        ]  # s_value for float samples; h_* struct columns for histograms
        samples = shard.samples.where(
            (F.col(S.TIME_BUCKET_COLUMN) >= lo)   # partition pruning
            & (F.col(S.TIME_BUCKET_COLUMN) <= hi)
            & (F.col(S.TS_COLUMN) >= mint_ms)     # exact chunk time filter
            & (F.col(S.TS_COLUMN) <= maxt_ms)     # (reference: encoder.go:311-321)
        ).select(S.SERIES_HASH_COLUMN, S.TS_COLUMN, *value_cols)
        how = "inner" if drop_empty_series else "left"
        joined = series.join(samples, on=S.SERIES_HASH_COLUMN, how=how)
        return joined.drop(S.SERIES_HASH_COLUMN)

    # -- Label APIs -------------------------------------------------------
    def label_names(
        self,
        matchers: list | None = None,
        limit: int | None = None,
    ) -> list[str]:
        """Distinct label names, optionally under matchers (reference:
        Querier.LabelNames, parquet_queryable.go:172-224).

        No-matcher fast path is schema-only (reference:
        search/materialize.go:250-261) — a catalog lookup, zero I/O.
        """
        if not matchers:
            # schema-only across every shard: zero Spark actions
            names = {
                S.extract_label_from_column(c)
                for shard in self.shards
                for c in shard.label_cols
            }
            out = sorted(names)
            return out[:limit] if limit is not None else out

        # ONE action total regardless of shard count: each shard's
        # one-row per-column "any non-null non-empty value" aggregate is
        # normalized to (name, present) rows and unioned lazily — at
        # 1,000 shards this is one job with 1,000 tiny parallel
        # aggregations, not 1,000 sequential driver round-trips.
        parts: list[DataFrame] = []
        for shard in self.shards:
            cols = shard.label_cols
            if not cols:
                continue
            pred = matchers_to_predicate(matchers, shard.series.columns)
            aggs = [
                F.max((F.col(c).isNotNull()) & (F.col(c) != "")).alias(c)
                for c in cols
            ]
            one_row = shard.series.where(pred).agg(*aggs)
            parts.append(
                one_row.select(
                    F.explode(
                        F.array(
                            *[
                                F.struct(
                                    F.lit(S.extract_label_from_column(c)).alias("name"),
                                    F.coalesce(F.col(c), F.lit(False)).alias("present"),
                                )
                                for c in cols
                            ]
                        )
                    ).alias("e")
                ).select("e.name", "e.present")
            )
        if not parts:
            return []
        merged = parts[0]
        for p in parts[1:]:
            merged = merged.unionByName(p)
        rows = (
            merged.where(F.col("present"))
            .select("name")
            .distinct()
            .collect()
        )
        out = sorted(r["name"] for r in rows)
        return out[:limit] if limit is not None else out

    def label_values(
        self,
        name: str,
        matchers: list | None = None,
        limit: int | None = None,
    ) -> list[str]:
        """Distinct values of one label (reference: Querier.LabelValues,
        parquet_queryable.go:226-277; dictionary-page fast path
        search/materialize.go:358-380 — Spark's parquet aggregate/distinct
        pushdown covers the unfiltered case)."""
        values: DataFrame | None = None
        phys = S.label_to_column(name)
        for shard in self.shards:
            if phys not in shard.series.columns:
                continue
            df = shard.series
            if matchers:
                df = df.where(matchers_to_predicate(matchers, shard.series.columns))
            v = df.select(F.col(phys).alias("value")).where(
                F.col("value").isNotNull() & (F.col("value") != "")
            ).distinct()
            values = v if values is None else values.unionByName(v)
        if values is None:
            return []
        merged = values.distinct().orderBy("value")  # sorted-dedup merge
        if limit is not None:                        # (reference: util/strutil.go:24-45)
            merged = merged.limit(limit)
        return [r["value"] for r in merged.collect()]
