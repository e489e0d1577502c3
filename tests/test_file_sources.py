"""CSV/JSON/parquet file sources for topic entities — the same entity
abstraction as the Kafka config, resolved by BOTH compilers (batch via
``_seed``, streaming via ``_node``'s topic sourcing)."""

from collections import Counter

import pytest

from willa_spark import MapValues, collect_records, run_topology
from willa_spark.sources import file_source, read_records


def _write_csv(tmp_path):
    d = tmp_path / "clicks_csv"
    d.mkdir()
    (d / "part1.csv").write_text("user_id,amount,ts\nu1,5,100\nu2,7,200\n")
    (d / "part2.csv").write_text("user_id,amount,ts\nu1,9,300\n")
    return str(d)


def _write_json(tmp_path):
    d = tmp_path / "clicks_json"
    d.mkdir()
    (d / "a.json").write_text(
        '{"user_id":"u1","amount":5,"ts":100}\n{"user_id":"u2","amount":7,"ts":200}\n'
    )
    return str(d)


CSV_CFG = {
    "format": "csv",
    "options": {"header": "true"},
    "key": "user_id",
    "value": "amount",
    "timestamp": "ts",
    "schema": "user_id string, amount bigint, ts bigint",
}


def test_batch_topology_over_csv_file_entity(spark, tmp_path):
    """A topic entity with a ``file`` config seeds itself — no inputs
    dict needed; epoch-millis ints become real timestamps."""
    topo = {
        "entities": {
            "in": {"type": "topic", "file": {**CSV_CFG, "path": _write_csv(tmp_path)}},
            "s": {"type": "kstream", "xform": MapValues(lambda v: v * 10)},
            "out": {"type": "topic"},
        },
        "workflow": [("in", "s"), ("s", "out")],
    }
    out = collect_records(run_topology(spark, topo)["out"])
    assert Counter(out) == Counter([("u1", 50), ("u2", 70), ("u1", 90)])


def test_batch_and_streaming_orc_file_entity(spark, tmp_path):
    """ORC as a first-class file-source format: batch topology seeding
    and a streaming read both project the record contract; footer
    metadata drives the streaming schema (no data re-scan)."""
    import os

    from willa_spark.sources.files import read_records

    path = os.path.join(str(tmp_path), "orc")
    spark.createDataFrame(
        [("u1", 5, 1000), ("u2", 7, 2000)],
        "user_id string, amount bigint, ts bigint",
    ).write.orc(path)
    cfg = {"format": "orc", "path": path, "key": "user_id",
           "value": "amount", "timestamp": "ts"}
    topo = {
        "entities": {
            "in": {"type": "topic", "file": cfg},
            "s": {"type": "kstream", "xform": MapValues(lambda v: v * 10)},
            "out": {"type": "topic"},
        },
        "workflow": [("in", "s"), ("s", "out")],
    }
    out = collect_records(run_topology(spark, topo)["out"])
    assert Counter(out) == Counter([("u1", 50), ("u2", 70)])
    sdf = read_records(spark, cfg, streaming=True)
    assert sdf.isStreaming and set(sdf.columns) == {"key", "value", "timestamp"}


def test_batch_json_via_source_callable(spark, tmp_path):
    """``file_source`` as an entity ``source`` callable (json, schema
    inferred)."""
    cfg = {"format": "json", "path": _write_json(tmp_path),
           "key": "user_id", "value": "amount", "timestamp": "ts"}
    topo = {
        "entities": {"in": {"type": "topic", "source": file_source(cfg)},
                     "out": {"type": "topic"}},
        "workflow": [("in", "out")],
    }
    out = collect_records(run_topology(spark, topo)["out"])
    assert Counter(out) == Counter([("u1", 5), ("u2", 7)])


def test_read_records_timestamp_handling(spark, tmp_path):
    """Missing timestamp column -> epoch; proper timestamp column is
    passed through unchanged."""
    d = tmp_path / "nots"
    d.mkdir()
    (d / "r.csv").write_text("k,v\na,1\n")
    cfg = {"format": "csv", "path": str(d), "options": {"header": "true"},
           "key": "k", "value": "v", "schema": "k string, v bigint"}
    row = read_records(spark, cfg).collect()[0]
    assert row["timestamp"].timestamp() == 0.0


def test_streaming_topology_over_csv_file_entity(spark, tmp_path):
    """The SAME file-configured topology runs through the streaming
    compiler: csv files become micro-batches, the transform applies,
    results land in the memory sink."""
    from willa_spark.streaming.compiler import StreamingTopologyRunner

    topo = {
        "entities": {
            "in": {"type": "topic", "file": {**CSV_CFG, "path": _write_csv(tmp_path)}},
            "s": {"type": "kstream", "xform": MapValues(lambda v: v + 1)},
            "out": {"type": "topic"},
        },
        "workflow": [("in", "s"), ("s", "out")],
    }
    runner = StreamingTopologyRunner(spark, topo)
    built = runner.build({})
    q = (
        built["out"]
        .writeStream.format("memory")
        .queryName("file_src_smoke")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT key, value FROM file_src_smoke").collect()
    assert Counter((r["key"], r["value"]) for r in rows) == Counter(
        [("u1", 6), ("u2", 8), ("u1", 10)]
    )


def test_start_queries_parquet_sink(spark, tmp_path):
    """S3 via start_queries: leaf 'sink' config writes the transformed
    stream to parquet; reading the files back recovers the records."""
    from willa_spark.streaming.compiler import StreamingTopologyRunner

    out_dir = str(tmp_path / "out_parquet")
    topo = {
        "entities": {
            "in": {"type": "topic", "file": {**CSV_CFG, "path": _write_csv(tmp_path)}},
            "s": {"type": "kstream", "xform": MapValues(lambda v: v + 1)},
            "out": {"type": "topic", "sink": {"format": "parquet", "path": out_dir}},
        },
        "workflow": [("in", "s"), ("s", "out")],
    }
    runner = StreamingTopologyRunner(spark, topo)
    queries = runner.start_queries(runner.build({}), str(tmp_path / "chk"))
    for q in queries.values():
        assert q.awaitTermination(120)
    rows = spark.read.parquet(out_dir).collect()
    assert Counter((r["key"], r["value"]) for r in rows) == Counter(
        [("u1", 6), ("u2", 8), ("u1", 10)]
    )


def test_start_queries_rejects_update_mode_file_sink(spark, tmp_path):
    """An unwindowed (update-mode) aggregate feeding a file sink fails
    fast with a clear error instead of dying inside Spark."""
    from willa_spark import Aggregate
    from willa_spark.streaming.compiler import StreamingTopologyRunner

    topo = {
        "entities": {
            "in": {"type": "topic", "file": {**CSV_CFG, "path": _write_csv(tmp_path)}},
            "t": {"type": "ktable", "aggregate": Aggregate.sum()},
            "out": {"type": "topic", "sink": {"format": "parquet",
                                              "path": str(tmp_path / "nope")}},
        },
        "workflow": [("in", "t"), ("t", "out")],
    }
    runner = StreamingTopologyRunner(spark, topo)
    built = runner.build({})
    with pytest.raises(ValueError, match="append-only"):
        runner.start_queries(built, str(tmp_path / "chk2"))


def test_start_queries_rejects_unknown_sink_format(spark, tmp_path):
    """A typo'd sink format must fail fast, not silently write to an
    in-memory table while the configured files never appear."""
    from willa_spark.streaming.compiler import StreamingTopologyRunner

    topo = {
        "entities": {
            "in": {"type": "topic", "file": {**CSV_CFG, "path": _write_csv(tmp_path)}},
            "out": {"type": "topic", "sink": {"format": "parqet",
                                              "path": str(tmp_path / "nope")}},
        },
        "workflow": [("in", "out")],
    }
    runner = StreamingTopologyRunner(spark, topo)
    built = runner.build({})
    with pytest.raises(ValueError, match="unknown sink format"):
        runner.start_queries(built, str(tmp_path / "chk3"))


@pytest.mark.parametrize("nanos_as_long", ["false", "true"])
def test_nanos_timestamp_parquet_sources(spark, tmp_path, nanos_as_long):
    """pandas writes ``datetime64[ns]`` as TIMESTAMP(NANOS). A topic's
    ``source`` path and its ``file`` config, batch and streaming, read
    the records at their true epoch-ms timestamps whatever the session's
    ``nanosAsLong`` setting was before the read."""
    import pandas as pd
    import pyarrow.parquet as pq

    from willa_spark.streaming.compiler import StreamingTopologyRunner

    path = str(tmp_path / "ns")  # a directory: file streams read directories
    (tmp_path / "ns").mkdir()
    pd.DataFrame({
        "key": ["a", "b"],
        "value": [1, 2],
        "timestamp": pd.to_datetime([1000, 2000], unit="ms").astype("datetime64[ns]"),
    }).to_parquet(f"{path}/part-0.parquet")
    assert pq.read_schema(f"{path}/part-0.parquet").field("timestamp").type.unit == "ns"
    conf = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(conf, None)
    spark.conf.set(conf, nanos_as_long)
    try:
        def topo(source):
            return {
                "entities": {"in": {"type": "topic", **source}, "out": {"type": "topic"}},
                "workflow": [("in", "out")],
            }

        file_cfg = {"file": {"format": "parquet", "path": path}}
        for source in ({"source": path}, file_cfg):
            out = collect_records(run_topology(spark, topo(source))["out"], with_timestamp=True)
            assert out == [("a", 1, 1000), ("b", 2, 2000)], source
        name = f"nanos_src_{nanos_as_long}"
        q = (
            StreamingTopologyRunner(spark, topo(file_cfg)).build({})["out"]
            .writeStream.format("memory").queryName(name)
            .option("checkpointLocation", str(tmp_path / "chk"))
            .trigger(availableNow=True).start()
        )
        assert q.awaitTermination(120)
        rows = spark.sql(f"SELECT key, unix_millis(timestamp) FROM {name} ORDER BY key").collect()
        assert [tuple(r) for r in rows] == [("a", 1000), ("b", 2000)]
    finally:
        if before is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, before)
