"""Parquet source for the driver's testdata tables.

The reference engine is Kafka-only (SURVEY §2.1); this engine adds file
sources via the same entity abstraction. One wrinkle handled here: the
driver's parquet files carry TIMESTAMP(NANOS) columns, which Spark's
vectorized reader rejects unless ``spark.sql.legacy.parquet.nanosAsLong``
is set — ``read_parquet`` sets it at runtime and converts the nanos-longs
back to proper TimestampType (micros) columns so downstream code sees
real timestamps. Every parquet read in the engines goes through it: the
driver tables (``read_table``), a topic's ``source`` path and a
``{"file": {"format": "parquet"}}`` topic, batch and streaming. A plain
``spark.read.parquet`` would fail on such a column, or, once the flag is
set for the session, return its nanoseconds as a bare long.

Schema cache: ``spark.read.parquet(path)`` infers the schema with a Spark
job that reads the footers, on every call. ``read_table`` instead infers
once per SparkSession and path, keeps the ``StructType`` and the list of
nanos columns, and reads with ``spark.read.schema(cached).parquet(path)``,
which starts no job. Each entry carries the path's file signature — inode,
size and mtime of the file, or of every file under a directory — and a
call whose signature differs infers again, so a table rewritten in place
is read with its new schema. Paths that ``os.stat`` cannot see (remote
file systems) are never cached.

Scale notes: the read is still a plain parquet scan — predicate pushdown,
column pruning and partition pruning all apply; the timestamp conversions
are one projection, fused into the scan by codegen.
"""

from __future__ import annotations

import os
import stat
import threading
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLE_NAMES = (
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

# SparkSession -> {path: (signature, schema, nanos columns)}
_SCHEMAS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_SCHEMAS_LOCK = threading.Lock()


def table_names() -> tuple[str, ...]:
    return TABLE_NAMES


def _nanos_ts_columns(path: str) -> list[str]:
    """Columns stored as TIMESTAMP(NANOS) in the parquet footer (of the
    first data file, for a directory — the file Spark infers from)."""
    try:
        import pyarrow as pa
        import pyarrow.dataset as ds
        import pyarrow.parquet as pq

        if os.path.isdir(path):
            schema = ds.dataset(path, format="parquet").schema
        else:
            schema = pq.read_schema(path)
        return [
            f.name
            for f in schema
            if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
        ]
    except Exception:
        return []


def _signature(path: str) -> tuple | None:
    """(path, inode, size, mtime) of the file, or of every file under the
    directory; None when the path is not on a local file system."""
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return ((path, st.st_ino, st.st_size, st.st_mtime_ns),)
        sig = []
        for root, dirs, files in os.walk(path):
            dirs.sort()
            for f in sorted(files):
                p = os.path.join(root, f)
                s = os.stat(p)
                sig.append((p, s.st_ino, s.st_size, s.st_mtime_ns))
        return tuple(sig)
    except OSError:
        return None


def _schema(
    spark: SparkSession, path: str, options: dict[str, str]
) -> tuple[T.StructType, list[str]]:
    """The path's inferred schema and nanos columns, from the cache when
    the path's signature still matches. Reads with reader options are
    inferred every call: the options can change the inferred schema."""
    sig = None if options else _signature(path)
    with _SCHEMAS_LOCK:
        hit = _SCHEMAS.get(spark, {}).get(path)
    if sig is not None and hit is not None and hit[0] == sig:
        return hit[1], hit[2]
    schema = spark.read.options(**options).parquet(path).schema
    nanos = _nanos_ts_columns(path)
    if sig is not None:
        with _SCHEMAS_LOCK:
            _SCHEMAS.setdefault(spark, {})[path] = (sig, schema, nanos)
    return schema, nanos


def read_parquet(
    spark: SparkSession, path: str, streaming: bool = False, options: dict | None = None
) -> DataFrame:
    """Read a parquet file or directory, as a batch frame or a file
    stream; nanos-timestamp columns come back as true TimestampType
    (truncated to micros, Spark's native precision) whatever the
    session's ``nanosAsLong`` setting was before the call."""
    options = options or {}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema, nanos = _schema(spark, path, options)
    # integer DIV, not float division: ns values (~1.7e18) exceed
    # double precision, and a 1-ulp error here shifts epoch-ms
    # values — the DuckDB oracle would hash-mismatch
    conv = {c: F.timestamp_micros(F.expr(f"`{c}` DIV 1000")) for c in nanos}
    # micros-precision columns come back TIMESTAMP_NTZ; normalize to
    # TimestampType (session tz is UTC, matching DuckDB's naive-as-UTC)
    for f in schema.fields:
        if isinstance(f.dataType, T.TimestampNTZType):
            conv[f.name] = F.col(f.name).cast("timestamp")
    reader = spark.readStream if streaming else spark.read
    df = reader.options(**options).schema(schema).parquet(path)
    return df.withColumns(conv) if conv else df


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver table (``read_parquet`` of ``<sf_dir>/<name>.parquet``)."""
    return read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


def register_views(spark: SparkSession, sf_dir: str, names=TABLE_NAMES) -> None:
    for n in names:
        read_table(spark, sf_dir, n).createOrReplaceTempView(n)
