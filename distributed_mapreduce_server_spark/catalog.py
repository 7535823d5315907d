"""Table catalog: load the driver-generated parquet tables as DataFrames
and register temp views so operators can use either the DataFrame or
SQL API.

Loading submits no Spark job. Each table's schema is read from its
parquet footer on the driver (:func:`parquet_footer`) and handed to
``spark.read.schema(...)``, so Spark skips its own schema-inference
job. The same memoized footer read serves the row-count sizing hint
(:func:`table_row_count`) and the streaming jobs' file-source schemas.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pyarrow.types as pat
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"

# The driver-generated parquet stores timestamps as INT64
# TIMESTAMP(NANOS), which Spark's vectorized reader rejects. We read
# them as raw nanos (LongType, what legacy.parquet.nanosAsLong infers)
# and convert to microsecond timestamps here — lossless for this data
# (verified: no sub-microsecond components), and matches DuckDB's
# TIMESTAMP (us).
_NANOS_TS_COLUMNS: dict[str, tuple[str, ...]] = {
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
    "events": ("ts",),
}


# (application id, sf_dir) -> (owning session, table frames).
# DataFrames are immutable logical plans, so reusing them across
# operator invocations is safe and skips 10 relation resolutions per
# call (a measurable fixed cost when a session runs hundreds of
# queries). The owning SparkSession rides along (a strong ref, so its
# identity can't be recycled) and is compared on every hit: a
# DIFFERENT session in the same context (spark.newSession()) must not
# reuse the frames — createOrReplaceTempView would register views in
# the owner's catalog, not the caller's. Source files are assumed
# immutable for the app's lifetime (testdata is); a mutable table
# would need refresh_tables().
_plan_cache: dict[tuple[str, str], tuple[SparkSession, dict[str, DataFrame]]] = {}


# Caches elsewhere in the package that derive from sf_dir contents
# (e.g. the trained-codebook memo in operators.similarity) register a
# clear callback here so refresh_tables() invalidates EVERYTHING that
# assumed source immutability — without catalog importing operator
# modules.
_refresh_hooks: list = []


def register_refresh_hook(fn) -> None:
    """Register a zero-arg callback run by refresh_tables(). Idempotent
    per function object (module reimport won't double-register)."""
    if fn not in _refresh_hooks:
        _refresh_hooks.append(fn)


def refresh_tables() -> None:
    """Drop all cached table plans and footer metadata (the REFRESH
    TABLE analog) — call after rewriting files under an sf_dir within
    one application. Also clears every registered derived cache
    (trained codebooks)."""
    _plan_cache.clear()
    _footer_cache.clear()
    for fn in _refresh_hooks:
        fn()


# abs path -> (Spark schema, row count), read from parquet FOOTERS on
# the driver — no Spark job at all (milliseconds vs a schema-inference
# job per table, or a full count() stage). The footer metadata is
# exactly what a lake catalog would serve: the schema feeds
# spark.read.schema(...), and operators that only need a SIZING hint
# (the blocked grid's adaptive B) read the row count instead of running
# DataFrame.count(). Same immutability contract as _plan_cache
# (refresh_tables() clears both).
_footer_cache: dict[str, tuple[T.StructType, int]] = {}

# Footer key under which Spark writes its own schema; Spark's reader
# prefers it over converting the parquet schema, so this catalog does too.
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _exact_arrow_type(at, column: str):
    """``at`` with every TIMESTAMP(NANOS) replaced by int64 (what
    nanosAsLong inference gives), or ValueError where Spark's parquet
    reader would not give what ``from_arrow_type`` returns."""
    if pat.is_timestamp(at):
        return pa.int64() if at.unit == "ns" else at
    if pat.is_list(at) or pat.is_large_list(at) or pat.is_fixed_size_list(at):
        return pa.list_(at.value_field.with_type(_exact_arrow_type(at.value_type, column)))
    if pat.is_map(at):
        return pa.map_(
            at.key_field.with_type(_exact_arrow_type(at.key_type, column)),
            at.item_field.with_type(_exact_arrow_type(at.item_type, column)),
        )
    if pat.is_struct(at):
        return pa.struct([f.with_type(_exact_arrow_type(f.type, column)) for f in at])
    if pat.is_dictionary(at):
        return _exact_arrow_type(at.value_type, column)
    if (
        pat.is_unsigned_integer(at)
        or pat.is_float16(at)
        or pat.is_time(at)
        or pat.is_duration(at)
        or pat.is_null(at)
        or isinstance(at, pa.BaseExtensionType)
    ):
        raise ValueError(f"column {column!r} has type {at}, which has no exact Spark mapping")
    return at


def _as_nullable(dt: T.DataType) -> T.DataType:
    """Spark's ``asNullable``: a file-source relation reads every field,
    array element and map value as nullable, whatever the file says."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _as_nullable(f.dataType), True, f.metadata) for f in dt.fields]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_as_nullable(dt.keyType), _as_nullable(dt.valueType), True)
    return dt


def _footer_schema(md: pq.FileMetaData) -> T.StructType:
    """The schema Spark's parquet inference gives for one file's footer."""
    kv = md.metadata or {}
    if _SPARK_SCHEMA_KEY in kv:
        return T.StructType.fromJson(json.loads(kv[_SPARK_SCHEMA_KEY]))
    for i in range(md.num_columns):
        col = md.schema.column(i)
        if col.physical_type == "INT96":
            # arrow reads INT96 as timestamp[ns], Spark as TIMESTAMP
            raise ValueError(f"column {col.path!r} is INT96, which has no exact Spark mapping")
    arrow = md.schema.to_arrow_schema()
    fields = [f.with_type(_exact_arrow_type(f.type, f.name)) for f in arrow]
    return from_arrow_schema(pa.schema(fields), prefer_timestamp_ntz=True)


def _data_files(path: str) -> list[str]:
    """The parquet files of a table: the file itself, or the part
    files of a directory in name order (Spark skips ``_``/``.`` names)."""
    if not os.path.isdir(path):
        return [path]
    return [
        os.path.join(path, f)
        for f in sorted(os.listdir(path))
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    ]


def parquet_footer(path: str) -> tuple[T.StructType, int]:
    """``(schema, num_rows)`` of a parquet table (file or directory of
    part files) from its footers, memoized per absolute path.

    The schema is the one ``spark.read.parquet(path)`` infers without
    schema merging: it comes from the first part file, with
    TIMESTAMP(NANOS) as LongType (nanosAsLong) and naive timestamps as
    TIMESTAMP_NTZ. A column type whose mapping would not be exact raises
    ValueError naming the table and the column. ``num_rows`` sums every
    part file.
    """
    key = os.path.abspath(path)
    hit = _footer_cache.get(key)
    if hit is not None:
        return hit
    files = _data_files(path)
    if not files:
        raise ValueError(f"table {path}: no parquet data files")
    footers = [pq.read_metadata(f) for f in files]
    try:
        schema = _footer_schema(footers[0])
    except ValueError as e:
        raise ValueError(f"table {path}: {e}") from None
    out = (_as_nullable(schema), sum(md.num_rows for md in footers))
    _footer_cache[key] = out
    return out


def table_row_count(sf_dir: str | None, name: str) -> int:
    """Exact row count of ``<sf_dir>/<name>.parquet`` from parquet
    footer metadata (file or directory-of-part-files), memoized.

    Accepts ``sf_dir=None`` with the same env-var/default fallback as
    :func:`load_tables`, so sizing-hint callers can pass through the
    caller's (possibly-None) sf_dir verbatim.
    """
    sf_dir = sf_dir or os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    return parquet_footer(os.path.join(sf_dir, f"{name}.parquet"))[1]


def normalize_timestamps(name: str, df: DataFrame) -> DataFrame:
    """Give table ``name``'s timestamp columns one type, TIMESTAMP.

    Raw-nanos columns (LongType under nanosAsLong) become microsecond
    timestamps; columns written without isAdjustedToUTC (TIMESTAMP_NTZ)
    are cast, value-preserving because the session timezone is pinned
    to UTC. Works on batch and streaming frames alike.
    """
    nanos = _NANOS_TS_COLUMNS.get(name, ())
    conv = {}
    for field in df.schema.fields:
        c = field.name
        if c in nanos and isinstance(field.dataType, T.LongType):
            # integer `div`, not `/`: ns epoch values exceed 2^53 so
            # float division would be off by ±1us.
            conv[c] = F.timestamp_micros(F.expr(f"`{c}` div 1000"))
        elif isinstance(field.dataType, T.TimestampNTZType):
            conv[c] = F.col(f"`{c}`").cast(T.TimestampType())
    return df.withColumns(conv) if conv else df


def load_tables(spark: SparkSession, sf_dir: str | None = None, register_views: bool = True) -> dict[str, DataFrame]:
    """Load every test table from ``sf_dir`` (parquet scan, lazily).

    Submits no Spark job: each table's schema comes from its parquet
    footer (:func:`parquet_footer`), so Spark does not infer it. Frames
    are cached per (application, sf_dir); see :func:`refresh_tables`.
    Column pruning + predicate pushdown happen at the scan because
    every operator selects/filters declaratively on these DataFrames.
    """
    sf_dir = sf_dir or os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    cache_key = (spark.sparkContext.applicationId, sf_dir)
    cached = _plan_cache.get(cache_key)
    if cached is not None and cached[0] is spark:
        frames = cached[1]
        if register_views:
            for name, df in frames.items():
                df.createOrReplaceTempView(name)
        return dict(frames)
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        schema = parquet_footer(path)[0]
        df = normalize_timestamps(name, spark.read.schema(schema).parquet(path))
        out[name] = df
        if register_views:
            df.createOrReplaceTempView(name)
    _plan_cache[cache_key] = (spark, dict(out))
    return out
