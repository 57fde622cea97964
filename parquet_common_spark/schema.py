"""Schema model for the Parquet series layout.

Mirrors the reference's "TSDB schema" (reference: schema/schema.go:28-35,
schema/schema_builder.go:99-161) in idiomatic Spark terms:

  - one nullable string column ``l_<labelname>`` per distinct label name
    (NULL == label absent == empty string, the Prometheus contract);
  - ``s_series_hash``: stable 64-bit hash of the full label set
    (reference: convert/reader.go:136-139 uses labels.StableHash; we use
    xxhash64 over canonicalized sorted pairs — stability contract only,
    hash VALUES intentionally differ from Go);
  - samples live in exploded canonical form ``(series_hash, time_bucket,
    ts, value)`` instead of packed chunk bytes (reference:
    schema/encoder.go:200-222); ``time_bucket`` reproduces ``DataColumIdx``
    (reference: schema/schema_builder.go:155-161) and becomes a physical
    partition column so Spark's partition pruning replaces the reference's
    data-column time pruning (reference: search/materialize.go:691-709).

Dataset metadata (minT / maxT / data_col_duration_ms, reference:
schema/schema.go:33-35) is stored in a ``_meta.json`` sidecar per shard,
together with both tables' Parquet schemas, so opening a shard reads no
file footers.
"""

from __future__ import annotations

import dataclasses
import json
import os
from dataclasses import dataclass, field

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

LABEL_COLUMN_PREFIX = "l_"
SERIES_HASH_COLUMN = "s_series_hash"
TIME_BUCKET_COLUMN = "s_time_bucket"
TS_COLUMN = "s_ts"
VALUE_COLUMN = "s_value"
META_FILE = "_meta.json"

# Reference defaults: convert/convert.go:42-55
DEFAULT_COL_DURATION_MS = 8 * 60 * 60 * 1000  # 8h
DEFAULT_ROW_GROUP_SIZE = 1_000_000
DEFAULT_SORT_LABELS = ("__name__",)
METRIC_NAME_LABEL = "__name__"


def label_to_column(name: str) -> str:
    """Label name -> physical column name (reference: schema/schema.go:77-80)."""
    return LABEL_COLUMN_PREFIX + name


def extract_label_from_column(col: str) -> str:
    """Physical column name -> label name (reference: schema/schema.go:82-86)."""
    if not col.startswith(LABEL_COLUMN_PREFIX):
        raise ValueError(f"not a label column: {col}")
    return col[len(LABEL_COLUMN_PREFIX):]


def is_label_column(col: str) -> bool:
    return col.startswith(LABEL_COLUMN_PREFIX)


def label_columns(columns: list[str]) -> list[str]:
    return [c for c in columns if is_label_column(c)]


def data_col_idx(ts_ms: Column, mint_ms: int, col_duration_ms: int) -> Column:
    """time_bucket of a timestamp (reference: schema/schema_builder.go:155-161)."""
    return ((ts_ms - F.lit(mint_ms)) / F.lit(col_duration_ms)).cast("int")


def series_hash_column(label_cols: list[str]) -> Column:
    """Stable series identity hash over the sorted (name, value) pairs.

    NULL and "" canonicalize identically (absent label == empty label, the
    core Prometheus semantic; see SURVEY.md §2.2).  Pairs are joined with
    \\x00/\\x01 separators to avoid ambiguity, then xxhash64'd.
    """
    parts = []
    for c in sorted(label_cols):
        name = extract_label_from_column(c)
        v = F.coalesce(F.col(c), F.lit(""))
        # absent/empty labels contribute nothing, matching labels.Labels
        # semantics where empty-value labels are dropped
        parts.append(F.when(v != "", F.concat(F.lit(name), F.lit("\x01"), v, F.lit("\x00"))).otherwise(F.lit("")))
    return F.xxhash64(F.concat(*parts) if parts else F.lit(""))


_SCHEMA_KEYS = ("series_schema", "samples_schema")
_META_KEYS = ("minT", "maxT", "data_col_duration_ms", "sort_labels", *_SCHEMA_KEYS)


@dataclass
class ShardMeta:
    """Per-shard dataset metadata (reference: schema/schema.go:33-35).

    ``series_schema`` / ``samples_schema`` are the two tables' schemas
    exactly as a Parquet read infers them (see :meth:`with_schemas`);
    ``None`` for shards written before they were recorded, which are
    then opened by footer inference."""

    mint_ms: int
    maxt_ms: int
    col_duration_ms: int = DEFAULT_COL_DURATION_MS
    sort_labels: tuple[str, ...] = DEFAULT_SORT_LABELS
    extra: dict = field(default_factory=dict)
    series_schema: StructType | None = None
    samples_schema: StructType | None = None

    def with_schemas(self, series: StructType, samples: StructType) -> "ShardMeta":
        """A copy recording the schemas of the tables a writer wrote from
        DataFrames with schemas ``series`` / ``samples``.  Every field
        becomes nullable and the ``s_time_bucket`` partition column moves
        last as ``int`` — what footer inference plus partition discovery
        return.  Every shard writer goes through here, so a meta copied
        from a source shard never keeps the source's schemas."""
        data = [f for f in samples.fields if f.name != TIME_BUCKET_COLUMN]
        samples = StructType(data + [StructField(TIME_BUCKET_COLUMN, IntegerType())])
        return dataclasses.replace(
            self, series_schema=series.toNullable(), samples_schema=samples.toNullable()
        )

    def to_json(self) -> str:
        schemas = {
            k: getattr(self, k).jsonValue() for k in _SCHEMA_KEYS if getattr(self, k) is not None
        }
        return json.dumps(
            {
                "minT": self.mint_ms,
                "maxT": self.maxt_ms,
                "data_col_duration_ms": self.col_duration_ms,
                "sort_labels": list(self.sort_labels),
                **schemas,
                **self.extra,
            }
        )

    @classmethod
    def from_json(cls, s: str) -> "ShardMeta":
        d = json.loads(s)
        extra = {k: v for k, v in d.items() if k not in _META_KEYS}
        schemas = {k: StructType.fromJson(d[k]) for k in _SCHEMA_KEYS if k in d}
        return cls(
            mint_ms=d["minT"],
            maxt_ms=d["maxT"],
            col_duration_ms=d.get("data_col_duration_ms", DEFAULT_COL_DURATION_MS),
            sort_labels=tuple(d.get("sort_labels", DEFAULT_SORT_LABELS)),
            extra=extra,
            **schemas,
        )

    def write(self, shard_dir: str) -> None:
        with open(os.path.join(shard_dir, META_FILE), "w") as f:
            f.write(self.to_json())

    @classmethod
    def read(cls, shard_dir: str) -> "ShardMeta":
        with open(os.path.join(shard_dir, META_FILE)) as f:
            return cls.from_json(f.read())

    def bucket_range(self, mint_ms: int, maxt_ms: int) -> tuple[int, int]:
        """Inclusive bucket range overlapping [mint_ms, maxt_ms]."""
        lo = (max(mint_ms, self.mint_ms) - self.mint_ms) // self.col_duration_ms
        hi = (min(maxt_ms, self.maxt_ms) - self.mint_ms) // self.col_duration_ms
        return int(lo), int(hi)
