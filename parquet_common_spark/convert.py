"""Conversion: long-form samples -> the two-table Parquet series layout.

Spark-first equivalent of ``ConvertTSDBBlock`` (reference:
convert/convert.go:348-426).  The reference iterates TSDB postings,
re-encodes chunks into 8h data columns, globally sorts series by sort
labels, splits into shards, and writes a labels file + chunks file pair per
shard through one sink (convert/writer.go:63-107, 188-260).  Here the same
job is ONE declarative plan, built in two places only:

  :func:`to_shard` — the transform, shared by every writer:
      input (labels map | wide label cols, ts, value)
        -> wide frame with one l_* column per label name present   (dynamic schema,
           reference: convert/convert.go:495-503)
        -> series_hash = xxhash64(sorted pairs)                    (reference: convert/reader.go:136)
        -> series table:  distinct label sets + hash
        -> samples table: (series_hash, time_bucket, ts, value)    (time_bucket ==
           DataColumIdx, reference: schema/schema_builder.go:155-161)

  :func:`_write_shard` — the sink, the only code that knows the file format:
      series sorted by sort labels then the full label set within each file,
      samples sorted by (series_hash, ts) within each file and partitioned by
      time_bucket (== per-time data columns), maxRecordsPerFile == row-group
      cap, zstd by default, a bloom-filter option on the series'
      l___name__.  parquet-mr writes a bloom only for a column chunk it
      did not dictionary-encode, so in practice it writes none for the
      repeating ``l___name__``.  ``s_series_hash`` gets no bloom: it is
      only a join key, no predicate filters on it, and on the unique
      series column parquet-mr would write about 1 MB of filter per file
      (most of a small shard's bytes).  Both tables and
      ``_meta.json`` go to a sibling temp directory that is renamed into
      place last, so a failed write leaves the previous shard intact.

:func:`convert` adds the global order: repartitionByRange(sort_labels) +
sortWithinPartitions (== sortedPostings + shardSeries, reference:
convert/convert.go:633-826 — range partitioning IS the reference's
equal-size shard split).

Scale notes (100 TB): the only shuffles are the range-repartition for sort
order (required by the output contract) and the distinct for the series
table (keyed on series_hash — high cardinality, no skew).  Samples are
written partitioned by time_bucket so time-range queries prune at the
directory level before any file I/O; label-equality queries prune via
dictionary + min/max inside the sorted labels files.
"""

from __future__ import annotations

import dataclasses
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F

from parquet_common_spark import schema as S
from parquet_common_spark.queryable import ShardDataset


def wide_from_label_map(df: DataFrame, labels_col: str = "labels") -> DataFrame:
    """map<string,string> labels -> one ``l_*`` column per label name.

    The union of label names is collected to the driver (small: label-name
    cardinality, not series cardinality — same information the reference
    gathers at convert/convert.go:495-503 before building the schema).
    """
    names_row = (
        df.select(F.explode(F.map_keys(F.col(labels_col))).alias("k")).distinct().collect()
    )
    names = sorted(r["k"] for r in names_row)
    cols = [F.col(labels_col).getItem(n).alias(S.label_to_column(n)) for n in names]
    other = [c for c in df.columns if c != labels_col]
    return df.select(*cols, *other)


def to_shard(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str | None = "value",
    labels_col: str | None = "labels",
    col_duration_ms: int = S.DEFAULT_COL_DURATION_MS,
    mint_ms: int | None = None,
    maxt_ms: int | None = None,
    extra_value_cols: list[str] | None = None,
):
    """In-memory conversion: long-form samples -> a ShardDataset (no I/O).

    The one long-form -> (series, samples, meta) transform: every writer
    in this module starts from it, and it also runs the matcher engine
    directly over any relational input.  ``value_col=None`` leaves
    ``s_value`` out, for samples that carry only ``extra_value_cols``.
    """
    if labels_col is not None and labels_col in df.columns:
        df = wide_from_label_map(df, labels_col)
    label_cols = S.label_columns(df.columns)
    if mint_ms is None or maxt_ms is None:
        row = df.agg(F.min(ts_col).alias("mn"), F.max(ts_col).alias("mx")).collect()[0]
        mint_ms = int(row["mn"]) if mint_ms is None else mint_ms
        maxt_ms = int(row["mx"]) if maxt_ms is None else maxt_ms
    hashed = df.withColumn(S.SERIES_HASH_COLUMN, S.series_hash_column(label_cols))
    series = hashed.select(*label_cols, S.SERIES_HASH_COLUMN).distinct()
    value_exprs = (
        [F.col(value_col).cast("double").alias(S.VALUE_COLUMN)] if value_col is not None else []
    ) + [F.col(c) for c in (extra_value_cols or [])]
    samples = hashed.select(
        F.col(S.SERIES_HASH_COLUMN),
        S.data_col_idx(F.col(ts_col).cast("long"), mint_ms, col_duration_ms).alias(S.TIME_BUCKET_COLUMN),
        F.col(ts_col).cast("long").alias(S.TS_COLUMN),
        *value_exprs,
    )
    meta = S.ShardMeta(
        mint_ms=mint_ms, maxt_ms=maxt_ms, col_duration_ms=col_duration_ms
    ).with_schemas(series.schema, samples.schema)
    return ShardDataset(series=series, samples=samples, meta=meta)


def _series_order(label_cols: list[str], sort_labels: tuple[str, ...]) -> list[str]:
    """Sort labels first, then the full label set (reference comparator:
    convert/convert.go:745-755)."""
    sort_cols = [S.label_to_column(l) for l in sort_labels if S.label_to_column(l) in label_cols]
    return sort_cols + [c for c in sorted(label_cols) if c not in sort_cols]


def _write_shard(
    series: DataFrame,
    samples: DataFrame,
    out_dir: str,
    meta: S.ShardMeta,
    row_group_size: int = S.DEFAULT_ROW_GROUP_SIZE,
    compression: str = "zstd",
    series_compression: str | None = None,
    samples_compression: str | None = None,
    split_col: str | None = None,
) -> S.ShardMeta:
    """The one shard writer (reference: the single sink of
    convert/writer.go:63-107, 188-260).  Callers choose the partitioning;
    this sorts within partitions, applies the file options, records both
    schemas in the meta and replaces ``out_dir`` atomically.

    Everything goes to a sibling temp directory first, ``_meta.json``
    last, and the directory is renamed into place at the end, so a failed
    write leaves whatever was at ``out_dir`` untouched.  With
    ``split_col``, rows are split by that column into one shard directory
    ``out_dir/shard=<value>`` each (:func:`convert_sharded`), all renamed
    into place together.  Returns the recorded meta."""
    extra = [split_col] if split_col else []
    meta = meta.with_schemas(series.drop(*extra).schema, samples.drop(*extra).schema)
    order = _series_order(S.label_columns(series.columns), meta.sort_labels)
    parent, name = os.path.split(os.path.abspath(out_dir))
    os.makedirs(parent, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f".{name}.tmp-", dir=parent)
    try:
        # Each table is sorted by its partition columns first: the write
        # needs that order and would otherwise plan its own sort on them
        # alone, which replaces (not refines) a sort within partitions.
        for table, df, codec, partition_cols, key, blooms in (
            ("series.parquet", series, series_compression, extra, order,
             [S.label_to_column(S.METRIC_NAME_LABEL)]),
            ("samples.parquet", samples, samples_compression, [*extra, S.TIME_BUCKET_COLUMN],
             [S.SERIES_HASH_COLUMN, S.TS_COLUMN], []),
        ):
            df = df.sortWithinPartitions(*partition_cols, *key)
            writer = (
                df.write.option("compression", codec or compression)
                .option("maxRecordsPerFile", row_group_size)
                .partitionBy(*partition_cols)
            )
            for c in blooms:
                writer = writer.option("parquet.bloom.filter.enabled#" + c, "true")
            writer.parquet(os.path.join(tmp, table))
        if split_col:
            for part in os.listdir(os.path.join(tmp, "series.parquet")):
                if not part.startswith(split_col + "="):
                    continue
                sdir = os.path.join(tmp, "shard=" + part.split("=", 1)[1])
                os.makedirs(sdir)
                for table in ("series.parquet", "samples.parquet"):
                    src = os.path.join(tmp, table, part)
                    if os.path.isdir(src):
                        os.rename(src, os.path.join(sdir, table))
                    else:  # series with zero in-range samples: empty table dir
                        os.makedirs(os.path.join(sdir, table))
                meta.write(sdir)
            for table in ("series.parquet", "samples.parquet"):
                shutil.rmtree(os.path.join(tmp, table))
        else:
            meta.write(tmp)
        _replace_dir(tmp, out_dir)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    return meta


def _replace_dir(new: str, target: str) -> None:
    """Rename directory ``new`` to ``target``, removing what was there.
    A directory cannot be renamed over a non-empty one, so the old one is
    first moved aside (a rename within the same parent)."""
    if not os.path.exists(target):
        os.rename(new, target)
        return
    old = new + ".old"
    os.rename(target, old)
    try:
        os.rename(new, target)
    except BaseException:
        os.rename(old, target)
        raise
    shutil.rmtree(old, ignore_errors=True)


def convert_sharded(
    df: DataFrame,
    out_dir: str,
    num_shards: int,
    ts_col: str = "ts",
    value_col: str = "value",
    labels_col: str | None = "labels",
    sort_labels: tuple[str, ...] = S.DEFAULT_SORT_LABELS,
    col_duration_ms: int = S.DEFAULT_COL_DURATION_MS,
    row_group_size: int = S.DEFAULT_ROW_GROUP_SIZE,
    compression: str = "zstd",
    series_compression: str | None = None,
    samples_compression: str | None = None,
) -> list[str]:
    """Split the series set into `num_shards` contiguous sorted ranges and
    write one shard directory per range (reference: shardSeries,
    convert/convert.go:633-731 — its global-sort + equal-split IS
    ``repartitionByRange``, which range-splits via reservoir sampling
    without any single-node sort).

    Shard assignment is computed once on the series table
    (series_hash -> shard_id) and joined onto samples so a series' labels
    and samples always land in the same shard — the positional-alignment
    contract of the reference's labels/chunks file pair (SURVEY.md §1.1),
    expressed as an explicit key.  ONE write per table, partitioned by
    the shard id (the reference's per-shard writer fan-out,
    convert/convert.go:390-419, as a single distributed write); the
    writer then promotes each partition to its own shard directory with
    renames — metadata ops, no data movement.

    Returns the shard directory paths (each openable by ShardDataset.read).
    """
    shard = to_shard(
        df, ts_col=ts_col, value_col=value_col, labels_col=labels_col,
        col_duration_ms=col_duration_ms,
    )
    order = _series_order(shard.label_cols, sort_labels)
    assigned = (
        shard.series.repartitionByRange(num_shards, *[F.col(c) for c in order])
        .withColumn("_shard", F.spark_partition_id())
        .persist()
    )
    try:
        samples = shard.samples.join(
            assigned.select(S.SERIES_HASH_COLUMN, "_shard"), S.SERIES_HASH_COLUMN
        ).repartition(F.col("_shard"), F.col(S.TIME_BUCKET_COLUMN))
        _write_shard(
            assigned, samples, out_dir,
            dataclasses.replace(shard.meta, sort_labels=tuple(sort_labels)),
            row_group_size=row_group_size, compression=compression,
            series_compression=series_compression, samples_compression=samples_compression,
            split_col="_shard",
        )
    finally:
        assigned.unpersist()
    shard_ids = sorted(int(d.split("=", 1)[1]) for d in os.listdir(out_dir) if d.startswith("shard="))
    return [os.path.join(out_dir, f"shard={sid}") for sid in shard_ids]


def convert_merged(
    dfs: list[DataFrame],
    out_dir: str,
    dedup_samples: bool = False,
    ts_col: str = "ts",
    labels_col: str | None = "labels",
    **convert_kwargs,
) -> S.ShardMeta:
    """Convert SEVERAL input blocks into one shard, merging same-labels
    series (reference: convert/merge.go NewMergeChunkSeriesSet — a k-way
    heap merge of sorted per-block series sets with vertical merge of
    equal label sets).

    The Spark formulation needs no heap: ``unionByName`` concatenates the
    blocks (schemas may differ — missing label columns fill with NULL ==
    absent), the series table's ``distinct`` collapses equal label sets
    to ONE row, and the write-time global sort restores series order.
    Samples of merged series concatenate vertically (the reference's
    concatenating merger); ``dedup_samples`` additionally drops exact
    duplicate (series, ts) samples, the typical overlapping-block case.
    """
    merged = dfs[0]
    for d in dfs[1:]:
        merged = merged.unionByName(d, allowMissingColumns=True)
    if labels_col is not None and labels_col in merged.columns:
        merged = wide_from_label_map(merged, labels_col)
        labels_col = None
    if dedup_samples:
        label_cols = S.label_columns(merged.columns)
        merged = merged.dropDuplicates([*label_cols, ts_col])
    return convert(
        merged, out_dir, ts_col=ts_col, labels_col=labels_col, **convert_kwargs
    )


def convert(
    df: DataFrame,
    out_dir: str,
    ts_col: str = "ts",
    value_col: str | None = "value",
    labels_col: str | None = "labels",
    sort_labels: tuple[str, ...] = S.DEFAULT_SORT_LABELS,
    col_duration_ms: int = S.DEFAULT_COL_DURATION_MS,
    row_group_size: int = S.DEFAULT_ROW_GROUP_SIZE,
    mint_ms: int | None = None,
    maxt_ms: int | None = None,
    num_shards: int | None = None,
    max_series: int | None = None,
    extra_value_cols: list[str] | None = None,
    compression: str = "zstd",
    series_compression: str | None = None,
    samples_compression: str | None = None,
) -> S.ShardMeta:
    """Write one shard directory: ``series.parquet`` + ``samples.parquet`` + meta.

    ``df``: either long form with a map column ``labels_col``, or already-wide
    with ``l_*`` columns (pass ``labels_col=None``).

    Compression defaults to zstd with a per-role override
    (``series_compression`` / ``samples_compression``), mirroring the
    reference's per-file-role codec config (schema/schema.go:38-55,
    convert/convert.go:289-326 — zstd default, snappy optional).

    ``extra_value_cols`` carries additional per-sample columns into the
    samples table verbatim — the histogram slot: the reference stores
    float, integer-histogram and float-histogram chunk encodings
    side by side (schema/encoder.go:74-79); here a histogram sample is
    struct/array columns (``h_*`` classic or ``nh_*`` native, see
    functions/histograms.py) next to — or instead of (``value_col=None``)
    — the float ``s_value``.  The read side serves whatever sample
    columns exist (queryable.py value_cols discovery).
    """
    shard = to_shard(
        df, ts_col=ts_col, value_col=value_col, labels_col=labels_col,
        col_duration_ms=col_duration_ms, mint_ms=mint_ms, maxt_ms=maxt_ms,
        extra_value_cols=extra_value_cols,
    )
    series, samples = shard.series, shard.samples
    order = _series_order(shard.label_cols, sort_labels)
    if max_series is not None:
        # shard row cap over the SORTED series stream (reference:
        # limitReader, convert/writer.go:262-285): the first N in series
        # order, which is total because series rows are distinct label sets
        series = series.orderBy(*order).limit(max_series)
        samples = samples.join(
            F.broadcast(series.select(S.SERIES_HASH_COLUMN)), S.SERIES_HASH_COLUMN, "left_semi"
        )
    nparts = num_shards or max(1, series.sparkSession.sparkContext.defaultParallelism // 2)
    return _write_shard(
        series.repartitionByRange(nparts, *[F.col(c) for c in order]),
        samples.repartition(nparts, F.col(S.SERIES_HASH_COLUMN)),
        out_dir,
        dataclasses.replace(shard.meta, sort_labels=tuple(sort_labels)),
        row_group_size=row_group_size,
        compression=compression,
        series_compression=series_compression,
        samples_compression=samples_compression,
    )


def convert_bucketed(
    df: DataFrame,
    table_prefix: str,
    n_buckets: int = 32,
    ts_col: str = "ts",
    value_col: str | None = "value",
    labels_col: str | None = "labels",
    sort_labels: tuple[str, ...] = S.DEFAULT_SORT_LABELS,
    col_duration_ms: int = S.DEFAULT_COL_DURATION_MS,
    mint_ms: int | None = None,
    maxt_ms: int | None = None,
    extra_value_cols: list[str] | None = None,
    compression: str = "zstd",
) -> S.ShardMeta:
    """Write the shard as BUCKETED catalog tables
    ``<prefix>_series`` / ``<prefix>_samples``, both bucketed on
    ``s_series_hash`` with the same bucket count and sorted within
    buckets (samples additionally by timestamp).

    This is the co-located layout for the 100 TB read path: the
    series⋈samples join in ``ParquetQueryable`` hits two tables whose
    bucketing matches the join key, so Catalyst plans a sort-merge join
    with ZERO shuffle exchanges on either side — the scan IS the join
    layout (plan-pinned in tests/test_convert_queryable.py).  The
    reference gets the same effect from positional row alignment inside
    one sorted file pair (storage/parquet_shard.go:138-185); bucketing
    is Spark's native equivalent for distributed storage.

    Shard metadata rides on the series table as the ``pcs.meta`` table
    property (the catalog replaces the ``_meta.json`` sidecar).
    Directory-based :func:`convert` remains the portable interchange
    form; use this when the engine owns the catalog.
    """
    shard = to_shard(
        df, ts_col=ts_col, value_col=value_col, labels_col=labels_col,
        col_duration_ms=col_duration_ms, mint_ms=mint_ms, maxt_ms=maxt_ms,
        extra_value_cols=extra_value_cols,
    )
    series, samples = shard.series, shard.samples

    # ONE FILE PER BUCKET (r13): a bucketed write emits one file per
    # (writer task, bucket) pair, so feeding it W arbitrary partitions
    # produces W files per bucket — measured 1024 tiny files per table
    # (32x32) on the F2 fixture, and every read paid the per-file open
    # cost 32x over (guide §6 "small files hurt twice").  Hash-
    # repartitioning on the bucket column first aligns writer partitions
    # with buckets (both sides are pmod(murmur3, n)), so each task
    # writes exactly its own bucket's file: n_buckets files total, the
    # minimum the layout allows (x time_bucket partitions for samples).
    (
        series.repartition(n_buckets, S.SERIES_HASH_COLUMN)
        .write.mode("overwrite")
        .format("parquet")
        .option("compression", compression)
        .option("parquet.bloom.filter.enabled#" + S.label_to_column(S.METRIC_NAME_LABEL), "true")
        .bucketBy(n_buckets, S.SERIES_HASH_COLUMN)
        .sortBy(S.SERIES_HASH_COLUMN)
        .saveAsTable(f"{table_prefix}_series")
    )
    (
        samples.repartition(n_buckets, S.SERIES_HASH_COLUMN)
        .write.mode("overwrite")
        .format("parquet")
        .option("compression", compression)
        .partitionBy(S.TIME_BUCKET_COLUMN)
        .bucketBy(n_buckets, S.SERIES_HASH_COLUMN)
        .sortBy(S.SERIES_HASH_COLUMN, S.TS_COLUMN)
        .saveAsTable(f"{table_prefix}_samples")
    )
    meta = S.ShardMeta(
        mint_ms=shard.meta.mint_ms,
        maxt_ms=shard.meta.maxt_ms,
        col_duration_ms=col_duration_ms,
        sort_labels=tuple(sort_labels),
    )
    esc = meta.to_json().replace("'", "''")
    df.sparkSession.sql(
        f"ALTER TABLE {table_prefix}_series SET TBLPROPERTIES ('pcs.meta' = '{esc}')"
    )
    # Re-attach sidecar: the session catalog is in-memory, so a fresh
    # session sees the warehouse FILES but no table entries.  Persist
    # everything attach_bucketed() needs to recreate the catalog entries
    # without rewriting the data (underscore-prefixed files are ignored
    # by parquet listing, like _SUCCESS).
    import json as _json

    loc = _table_location(df.sparkSession, f"{table_prefix}_series")
    if loc is not None:
        with open(os.path.join(loc, _BUCKETED_SIDECAR), "w") as f:
            _json.dump({"meta": meta.to_json(), "n_buckets": n_buckets}, f)
    return meta


_BUCKETED_SIDECAR = "_pcs_bucketed_meta.json"


def _table_location(spark: SparkSession, table: str) -> str | None:
    """Local-filesystem path of a catalog table, or None if non-local."""
    from urllib.parse import urlparse

    for r in spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect():
        if r["col_name"] == "Location":
            u = urlparse(r["data_type"])
            return u.path if u.scheme in ("", "file") else None
    return None


def attach_bucketed(spark: SparkSession, table_prefix: str) -> S.ShardMeta | None:
    """Re-attach bucketed-table shards written by :func:`convert_bucketed`
    in a PREVIOUS session: recreate the ``<prefix>_series`` /
    ``<prefix>_samples`` catalog entries over the existing warehouse
    files — no data rewrite.  Returns the shard meta, or ``None`` when
    the warehouse has no re-attachable files (caller then generates).

    Why this exists: the default session catalog is in-memory, so
    bucketed tables "vanish" between sessions even though their files
    (and bucket-id file naming) survive in the warehouse.  Regenerating
    1.5M+ series on every fresh session puts write-back I/O pressure on
    whatever is measured next (the r6 bench recorded 5.66 s for a
    workload that measures 0.80 s against a settled table).  A
    ``CREATE TABLE ... CLUSTERED BY ... LOCATION`` over the existing
    files restores the zero-exchange join plan (bucket ids ride in the
    file names) at catalog-entry cost.  On a real deployment a
    persistent metastore makes this a no-op; the sidecar written by
    convert_bucketed carries (meta, n_buckets) so local mode can
    self-heal."""
    import json as _json
    from urllib.parse import urlparse

    if spark.catalog.tableExists(f"{table_prefix}_series"):
        return None  # already attached — caller reads meta from props
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    series_loc = os.path.join(wh, f"{table_prefix}_series")
    samples_loc = os.path.join(wh, f"{table_prefix}_samples")
    sidecar = os.path.join(series_loc, _BUCKETED_SIDECAR)
    if not (os.path.exists(sidecar) and os.path.isdir(samples_loc)):
        return None
    with open(sidecar) as f:
        side = _json.load(f)
    meta = S.ShardMeta.from_json(side["meta"])
    n_buckets = int(side["n_buckets"])

    def ddl(schema) -> str:
        return ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields)

    series_schema = spark.read.parquet(series_loc).schema
    esc = meta.to_json().replace("'", "''")
    spark.sql(
        f"CREATE TABLE {table_prefix}_series ({ddl(series_schema)}) USING parquet "
        f"CLUSTERED BY ({S.SERIES_HASH_COLUMN}) SORTED BY ({S.SERIES_HASH_COLUMN}) "
        f"INTO {n_buckets} BUCKETS LOCATION '{series_loc}' "
        f"TBLPROPERTIES ('pcs.meta' = '{esc}')"
    )
    samples_schema = (
        spark.read.option("basePath", samples_loc).parquet(samples_loc).schema
    )
    spark.sql(
        f"CREATE TABLE {table_prefix}_samples ({ddl(samples_schema)}) USING parquet "
        f"PARTITIONED BY ({S.TIME_BUCKET_COLUMN}) "
        f"CLUSTERED BY ({S.SERIES_HASH_COLUMN}) "
        f"SORTED BY ({S.SERIES_HASH_COLUMN}, {S.TS_COLUMN}) "
        f"INTO {n_buckets} BUCKETS LOCATION '{samples_loc}'"
    )
    spark.sql(f"MSCK REPAIR TABLE {table_prefix}_samples")
    return meta


# ------------------------------------------------ streaming ingest


def convert_streaming(
    stream_df: DataFrame,
    out_root: str,
    checkpoint_dir: str,
    trigger: dict | None = None,
    **convert_kwargs,
):
    """Continuous ingest into the shard layout (Structured Streaming):
    each micro-batch becomes ONE shard directory
    (``out_root/batch=<epoch_id>``) written by the exact ``convert()``
    plan — per-batch global label sort, bloom filters, time-bucket
    partitioning — so the multi-shard read side
    (``ParquetQueryable.from_paths`` over the batch dirs) serves every
    committed batch with the usual k-way merge.  This is the live-ingest
    story the reference's offline TSDB-block converter doesn't have:
    Spark ingests the stream AND maintains the same queryable layout.

    Exactly-once: foreachBatch + the checkpoint gives at-least-once
    batch replay, and ``convert()`` replaces the epoch-keyed directory
    as a whole, so a replayed batch overwrites its own shard
    (idempotent), never duplicates it.

    Small per-batch shards are the expected streaming cost;
    :func:`compact_shards` folds them into archival shards offline —
    the standard small-files lifecycle.  Returns the started
    StreamingQuery; caller owns awaitTermination/stop."""

    def _write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        convert(batch_df, os.path.join(out_root, f"batch={epoch_id}"), **convert_kwargs)

    writer = (
        stream_df.writeStream.foreachBatch(_write_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    trigger = trigger or {"availableNow": True}
    return writer.trigger(**trigger).start()


def compact_shards(
    spark,
    shard_dirs: list[str],
    out_dir: str,
    **convert_kwargs,
) -> S.ShardMeta:
    """Merge many shards into one: reconstruct the wide frame from each
    shard (samples ⋈ broadcast series on the hash — the series side is
    small by construction), union across shards (schemas may differ —
    label columns fill with NULL), and re-run the ``convert()`` plan.
    The result is plan-equivalent to a single batch convert of the
    union: global re-sort, fresh row groups, one bloom filter per
    column — the small-files compaction step for streaming ingest.
    Time bounds come from the input metas (no extra scan)."""
    frames = []
    mint, maxt = None, None
    for d in shard_dirs:
        shard = ShardDataset.read(spark, d)
        meta = shard.meta
        mint = meta.mint_ms if mint is None else min(mint, meta.mint_ms)
        maxt = meta.maxt_ms if maxt is None else max(maxt, meta.maxt_ms)
        frames.append(
            shard.samples.drop(S.TIME_BUCKET_COLUMN).join(
                F.broadcast(shard.series), S.SERIES_HASH_COLUMN
            ).drop(S.SERIES_HASH_COLUMN)
        )
    wide = frames[0]
    for f in frames[1:]:
        wide = wide.unionByName(f, allowMissingColumns=True)
    extra = [
        c for c in wide.columns
        if c not in (S.TS_COLUMN, S.VALUE_COLUMN) and not c.startswith("l_")
    ]
    return convert(
        wide,
        out_dir,
        ts_col=S.TS_COLUMN,
        value_col=S.VALUE_COLUMN if S.VALUE_COLUMN in wide.columns else None,
        labels_col=None,
        mint_ms=mint,
        maxt_ms=maxt,
        extra_value_cols=extra or None,
        **convert_kwargs,
    )


# -------------------------------------------- retention / deletion


def delete_series(
    spark,
    shard_dir: str,
    matchers,
    out_dir: str,
    row_group_size: int = S.DEFAULT_ROW_GROUP_SIZE,
    compression: str = "zstd",
) -> S.ShardMeta:
    """Rewrite a shard WITHOUT the series matching ``matchers`` (the
    tombstone-apply/deletion step of a storage lifecycle — GDPR
    erasure, bad-exporter cleanup).  Matching uses the same compiled
    predicate layer as the query path (NULL≡"" semantics, regex
    rewrites), so exactly the series a query would select are the
    series a deletion removes.

    Plan: the series file is filtered with the compiled predicate
    (pushdown-friendly); the samples prune by anti-joining the
    REMOVED hashes — broadcast when the deletion is selective, which
    is the operational case; a deletion that removes most of a shard
    should be expressed as retention (drop the shard) instead.  The
    source files are already in layout order, so the rewrite needs no
    global re-sort and no shuffle of the samples: only the writer's
    sort within each partition."""
    from parquet_common_spark.matchers import matchers_to_predicate

    src = ShardDataset.read(spark, shard_dir)
    series, samples = src.series, src.samples
    pred = matchers_to_predicate(matchers, series.columns)
    removed = series.where(pred).select(S.SERIES_HASH_COLUMN)
    kept_series = series.where(~pred)
    kept_samples = samples.join(
        F.broadcast(removed), S.SERIES_HASH_COLUMN, "left_anti"
    )
    return _write_shard(
        kept_series, kept_samples, out_dir, src.meta,
        row_group_size=row_group_size, compression=compression,
    )


def downsample_shard(
    spark,
    shard_dir: str,
    out_dir: str,
    resolution_ms: int,
    row_group_size: int = S.DEFAULT_ROW_GROUP_SIZE,
    compression: str = "zstd",
) -> S.ShardMeta:
    """Thanos-style downsampling: per (series, aligned window) emit ONE
    sample row carrying the aggregate bundle (count/sum/min/max/last)
    as extra value columns next to ``s_value`` (= last, so existing
    readers keep working).  Long-horizon range queries then scan
    ~window/resolution fewer rows; rate() uses sum/count, min/max keep
    extremes honest — the aggregate set Thanos downsampling persists.

    ONE shuffle (the window groupBy); output keeps the shard layout
    (time buckets recomputed at the coarser grain, blooms, meta), so
    the same queryable opens raw and downsampled shards alike.

    Scope: float samples (``s_value``).  Native-histogram columns would
    need the sparse-bucket merge the acceptance engine implements for
    ``sum()`` (promqltest/engine.py _hist_sum/_merge_sparse) — a
    documented slice; the reference has no downsampling at all."""
    src = ShardDataset.read(spark, shard_dir)
    meta, samples = src.meta, src.samples
    win = (F.floor(F.col(S.TS_COLUMN) / F.lit(resolution_ms)) * F.lit(resolution_ms)).cast("long")
    last_struct = F.max(F.struct(F.col(S.TS_COLUMN), F.col(S.VALUE_COLUMN)))
    agg = (
        samples.groupBy(F.col(S.SERIES_HASH_COLUMN), win.alias("_w"))
        .agg(
            F.count(F.lit(1)).alias("ds_count"),
            F.sum(S.VALUE_COLUMN).alias("ds_sum"),
            F.min(S.VALUE_COLUMN).alias("ds_min"),
            F.max(S.VALUE_COLUMN).alias("ds_max"),
            last_struct.alias("_last"),
        )
        .select(
            S.SERIES_HASH_COLUMN,
            S.data_col_idx(F.col("_w"), meta.mint_ms, meta.col_duration_ms).alias(
                S.TIME_BUCKET_COLUMN
            ),
            F.col("_w").alias(S.TS_COLUMN),
            F.col("_last")[S.VALUE_COLUMN].alias(S.VALUE_COLUMN),
            "ds_count", "ds_sum", "ds_min", "ds_max",
        )
    )
    return _write_shard(
        src.series, agg.repartition(F.col(S.SERIES_HASH_COLUMN)), out_dir, meta,
        row_group_size=row_group_size, compression=compression,
    )
