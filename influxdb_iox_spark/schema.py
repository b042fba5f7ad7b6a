"""Influx data model on Spark types: tag / field / timestamp categories.

Mirrors the reference's schema layer:
- column categories + Arrow-metadata trick:
  /root/reference/internal_types/src/schema.rs:71-114 (metadata keys :112-114)
- tag = string (dictionary-encodable): schema.rs:636-646
- field = f64/i64/u64/utf8/bool: schema.rs:569-592
- time = Timestamp(Nanosecond), column named "time": schema.rs:23,36-40
- canonical column order = sorted by name: schema.rs:188-190
- schema union across chunks (SchemaMerger): internal_types/src/schema/merge.rs:83

Spark mapping: the category is recorded in ``StructField.metadata`` under
``iox::column_type`` exactly like the reference stores it in Arrow field
metadata.  ``time`` is canonical **LongType nanoseconds** (Spark TimestampType
is µs-precision; keeping ns as long preserves hash-exact reference semantics).
UInt64 fields map to LongType (documented wrap risk — Spark has no unsigned).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from enum import Enum
from functools import reduce

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BooleanType,
    DataType,
    DecimalType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

TIME_COLUMN_NAME = "time"  # schema.rs:23
COLUMN_TYPE_KEY = "iox::column_type"  # schema.rs:112-114

#: Exact u64 carrier: DecimalType(20, 0) holds the full [0, 2^64) range
#: (the reference stores true u64, schema.rs:569-592; Spark has no
#: unsigned type).  Opt-in via ``uint64_exact`` because decimal
#: aggregation is slower than long; the default LongType mapping wraps
#: above 2^63 (documented).
UINT64_EXACT_TYPE = DecimalType(20, 0)
#: u64 domain bounds (validation at ingest)
UINT64_MAX = 2**64 - 1


class InfluxColumnType(str, Enum):
    TAG = "tag"
    FIELD_FLOAT = "field::float"
    FIELD_INTEGER = "field::integer"
    FIELD_UINTEGER = "field::uinteger"
    FIELD_STRING = "field::string"
    FIELD_BOOLEAN = "field::boolean"
    TIMESTAMP = "timestamp"

    @property
    def is_field(self) -> bool:
        return self.value.startswith("field::")

    def spark_type(self, uint64_exact: bool = False) -> DataType:
        if self is InfluxColumnType.FIELD_UINTEGER and uint64_exact:
            return UINT64_EXACT_TYPE
        return _SPARK_TYPES[self]


_SPARK_TYPES: dict[InfluxColumnType, DataType] = {
    InfluxColumnType.TAG: StringType(),
    InfluxColumnType.FIELD_FLOAT: DoubleType(),
    InfluxColumnType.FIELD_INTEGER: LongType(),
    # No unsigned 64-bit in Spark: store as LongType; values >= 2^63 wrap.
    # IoxSchema.build(uint64_exact=True) maps to UINT64_EXACT_TYPE instead.
    InfluxColumnType.FIELD_UINTEGER: LongType(),
    InfluxColumnType.FIELD_STRING: StringType(),
    InfluxColumnType.FIELD_BOOLEAN: BooleanType(),
    InfluxColumnType.TIMESTAMP: LongType(),  # ns since epoch
}


def make_field(
    name: str,
    ctype: InfluxColumnType,
    nullable: bool = True,
    uint64_exact: bool = False,
) -> StructField:
    nullable = nullable and ctype is not InfluxColumnType.TIMESTAMP
    return StructField(
        name,
        ctype.spark_type(uint64_exact),
        nullable,
        metadata={COLUMN_TYPE_KEY: ctype.value},
    )


def column_type(f: StructField) -> InfluxColumnType | None:
    v = (f.metadata or {}).get(COLUMN_TYPE_KEY)
    return InfluxColumnType(v) if v is not None else None


@dataclass(frozen=True)
class IoxSchema:
    """An Influx-categorized Spark schema for one measurement (table)."""

    struct: StructType

    @staticmethod
    def build(
        tags: list[str],
        fields: dict[str, InfluxColumnType],
        time_col: str = TIME_COLUMN_NAME,
        uint64_exact: bool = False,
    ) -> "IoxSchema":
        """``uint64_exact``: map FIELD_UINTEGER to DecimalType(20,0) so
        the full u64 domain round-trips exactly (the reference's true-u64
        semantics, schema.rs:582-592); default LongType wraps ≥ 2^63."""
        cols = [make_field(t, InfluxColumnType.TAG) for t in tags]
        cols += [make_field(n, t, uint64_exact=uint64_exact) for n, t in fields.items()]
        cols += [make_field(time_col, InfluxColumnType.TIMESTAMP, nullable=False)]
        # Canonical order: sorted by name (schema.rs:188-190).
        return IoxSchema(StructType(sorted(cols, key=lambda f: f.name)))

    @property
    def tag_columns(self) -> list[str]:
        return [f.name for f in self.struct if column_type(f) is InfluxColumnType.TAG]

    @property
    def field_columns(self) -> list[str]:
        ct = [(f.name, column_type(f)) for f in self.struct]
        return [n for n, t in ct if t is not None and t.is_field]

    @property
    def time_column(self) -> str:
        for f in self.struct:
            if column_type(f) is InfluxColumnType.TIMESTAMP:
                return f.name
        return TIME_COLUMN_NAME

    @property
    def primary_key(self) -> list[str]:
        """All tags + time (schema.rs primary-key definition)."""
        return [*self.tag_columns, self.time_column]

    def project(self, columns: list[str]) -> StructType:
        """The registered fields named in ``columns``, in schema order —
        the read schema of a chunk that holds only those columns (names
        outside the schema are dropped)."""
        names = set(columns)
        return StructType([f for f in self.struct.fields if f.name in names])

    def merge(self, other: "IoxSchema") -> "IoxSchema":
        """Union two chunk schemas (SchemaMerger, merge.rs:83).

        Columns present in both must agree on type and category; the result is
        the by-name union in canonical sorted order.
        """
        by_name: dict[str, StructField] = {f.name: f for f in self.struct}
        for f in other.struct:
            prev = by_name.get(f.name)
            if prev is None:
                by_name[f.name] = f
            elif prev.dataType != f.dataType or column_type(prev) != column_type(f):
                raise ValueError(
                    f"schema merge conflict on column {f.name!r}: "
                    f"{prev.dataType}/{column_type(prev)} vs {f.dataType}/{column_type(f)}"
                )
        return IoxSchema(StructType(sorted(by_name.values(), key=lambda f: f.name)))


def merge_chunk_frames(frames: list[DataFrame]) -> DataFrame:
    """Union chunk DataFrames with differing column subsets.

    Spark-native equivalent of scanning chunks with merged schema
    (query/src/provider.rs stitching + merge.rs): union by name, missing
    columns become nulls.
    """
    if not frames:
        raise ValueError("no frames to merge")
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), frames)


def ns_to_us_floor(time_col: str) -> F.Column:
    """ns → µs with FLOOR semantics, exact for the full int64 range.

    One canonical helper for every ns→µs conversion (partition keys, view
    timestamps, window bounds must agree): plain ``div`` truncates toward
    zero, so a pre-1970 timestamp would round toward the future and can flip
    a date-based partition key at a day boundary; float division is exact
    only to double's 53-bit mantissa.  ``(t - pmod(t, 1000)) div 1000`` is
    integer, exact, and floors for negative ns.
    """
    c = f"`{time_col}`"
    return F.expr(f"({c} - pmod({c}, 1000)) div 1000")


def time_to_timestamp(df: DataFrame, time_col: str = TIME_COLUMN_NAME) -> DataFrame:
    """Derive a µs TimestampType view column from canonical ns-long time."""
    return df.withColumn(
        f"{time_col}_ts", F.timestamp_micros(ns_to_us_floor(time_col))
    )
