"""File sources (CSV / JSON / parquet / ORC / text) for topic entities.

The reference engine is Kafka-only (SURVEY §2.1); this engine already
adds parquet tables (sources/parquet.py) and here generalizes to any
Spark file format under the SAME entity abstraction as the Kafka
config (sources/kafka.py):

    {"type": "topic",
     "file": {"path": "/data/clicks", "format": "csv",
              "options": {"header": "true"},
              "key": "user_id", "value": "amount", "timestamp": "ts",
              "schema": "user_id string, amount bigint, ts bigint"}}

``key`` / ``value`` / ``timestamp`` name the columns projected onto the
engine's record contract. ``timestamp`` may be a proper timestamp
column or an epoch-millis integer column (converted); when omitted,
records get the epoch (ts=0) — explicit is better for event-time ops.

Batch reads infer schemas natively. STREAMING reads of csv/json
require a schema: pass ``schema`` (a DDL string) — at scale you want
this anyway (schema inference reads data twice and can drift between
runs); without one, a one-off batch inference over the existing files
is used as a convenience (documented test-only behavior).

Scale notes: plain ``spark.read`` — predicate pushdown / column
pruning apply (parquet/orc), partition-dir pruning applies to all formats;
csv/json scans are always full-row parses, so convert long-lived
corpora to parquet with ``df.write.parquet`` once and read that.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..model import KEY, TIMESTAMP, VALUE
from .parquet import read_parquet

_FORMATS = ("parquet", "orc", "csv", "json", "text")


def _record_projection(df: DataFrame, cfg: dict[str, Any]) -> DataFrame:
    key_col = cfg.get("key", KEY)
    value_col = cfg.get("value", VALUE)
    ts_col = cfg.get("timestamp")
    if ts_col is None and TIMESTAMP in df.columns:
        ts_col = TIMESTAMP
    if ts_col is None:
        ts = F.timestamp_millis(F.lit(0))
    elif isinstance(df.schema[ts_col].dataType, (T.TimestampType, T.TimestampNTZType)):
        ts = F.col(ts_col).cast("timestamp")
    else:
        ts = F.timestamp_millis(F.col(ts_col).cast("bigint"))
    return df.select(
        F.col(key_col).alias(KEY), F.col(value_col).alias(VALUE), ts.alias(TIMESTAMP)
    )


def read_records(
    spark: SparkSession, cfg: dict[str, Any], streaming: bool = False
) -> DataFrame:
    """File → record stream/frame (S1 for file-backed topics): project
    the file's columns to the engine's (key, value, timestamp)
    contract. Works for both compilers; the streaming variant is a
    file-stream source (new files become micro-batches)."""
    fmt = cfg.get("format", "parquet")
    if fmt not in _FORMATS:
        raise ValueError(f"unsupported file source format {fmt!r}; one of {_FORMATS}")
    path = cfg["path"]
    options = {k: str(v) for k, v in cfg.get("options", {}).items()}
    schema = cfg.get("schema")
    if fmt == "parquet" and schema is None:
        # footer schema, TIMESTAMP(NANOS) columns converted
        return _record_projection(read_parquet(spark, path, streaming, options), cfg)
    if streaming:
        reader = spark.readStream
        if schema is None:
            # file streams need a schema up front; infer once from the
            # files already present (convenience for tests — pass an
            # explicit schema in production; parquet/orc footers make
            # this a metadata read, csv/json re-scan data)
            schema = spark.read.format(fmt).options(**options).load(path).schema
        reader = reader.schema(schema)
    else:
        reader = spark.read
        if schema is not None:
            reader = reader.schema(schema)
    df = reader.format(fmt).options(**options).load(path)
    return _record_projection(df, cfg)


def file_source(cfg: dict[str, Any]):
    """Entity-config helper: a ``source`` callable for batch topologies
    (``{"type": "topic", "source": file_source({...})}``). Topic
    entities may equivalently carry the config under ``"file"`` and
    both compilers resolve it automatically."""

    def _read(spark: SparkSession) -> DataFrame:
        return read_records(spark, cfg, streaming=False)

    return _read
