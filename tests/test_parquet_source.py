"""``read_table``'s schema cache: it infers a table's schema once per
session and path, infers again when the files change, converts
TIMESTAMP(NANOS) columns on cached calls too, and lets a warm topology
build start no Spark job."""

import shutil
import sys
import time
import uuid
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import types as T

from willa_spark.queries import QUERIES
from willa_spark.sources import read_table

def jobs_started(spark, fn) -> int:
    """Spark jobs started while ``fn()`` runs, counted with the status
    tracker under a job group of their own. A marker job closes the
    group: the tracker learns of jobs in the order they start, so once
    it lists the marker it lists every job ``fn`` started."""
    sc = spark.sparkContext
    group = f"read-table-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 60
    while not (ids := tracker.getJobIdsForGroup(group)) and time.monotonic() < deadline:
        time.sleep(0.05)
    assert ids, "the marker job never reached the status tracker"
    return len(ids) - 1


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_rewritten_file_is_read_with_its_new_schema(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert read_table(spark, str(tmp_path), "t").columns == ["a"]
    assert jobs_started(spark, lambda: read_table(spark, str(tmp_path), "t")) == 0
    pq.write_table(pa.table({"b": ["x", "y", "z"], "c": [1.5, 2.5, 3.5]}), path)
    df = read_table(spark, str(tmp_path), "t")
    assert df.columns == ["b", "c"]
    assert _rows(df) == [("x", 1.5), ("y", 2.5), ("z", 3.5)]


def test_rewritten_directory_is_read_with_its_new_schema(spark, tmp_path):
    d = tmp_path / "t.parquet"
    d.mkdir()
    pq.write_table(pa.table({"a": [1, 2]}), str(d / "part-0.parquet"))
    assert _rows(read_table(spark, str(tmp_path), "t")) == [(1,), (2,)]
    # a new file under the directory is a new signature: its rows show up
    pq.write_table(pa.table({"a": [3]}), str(d / "part-1.parquet"))
    assert _rows(read_table(spark, str(tmp_path), "t")) == [(1,), (2,), (3,)]
    shutil.rmtree(d)
    d.mkdir()
    ns = pa.array([1_700_000_000_123_456_789], type=pa.timestamp("ns"))
    pq.write_table(pa.table({"k": ["p"], "ts": ns}), str(d / "part-0.parquet"))
    df = read_table(spark, str(tmp_path), "t")
    assert df.columns == ["k", "ts"]
    assert isinstance(df.schema["ts"].dataType, T.TimestampType)
    assert df.selectExpr("k", "unix_micros(ts)").collect()[0] == ("p", 1_700_000_000_123_456)


def test_nanos_column_is_a_timestamp_on_first_and_cached_call(spark, tmp_path):
    ns = [1_700_000_000_123_456_789, 1_700_000_001_000_000_999]
    pq.write_table(
        pa.table({"id": [1, 2], "ts": pa.array(ns, type=pa.timestamp("ns"))}),
        str(tmp_path / "ev.parquet"),
    )
    assert pq.read_schema(str(tmp_path / "ev.parquet")).field("ts").type.unit == "ns"
    first = read_table(spark, str(tmp_path), "ev")
    assert jobs_started(spark, lambda: read_table(spark, str(tmp_path), "ev")) == 0
    cached = read_table(spark, str(tmp_path), "ev")
    for df in (first, cached):
        assert isinstance(df.schema["ts"].dataType, T.TimestampType)
        # truncated to micros: Spark's native precision
        got = df.selectExpr("id", "unix_micros(ts) AS us").orderBy("id").collect()
        assert [r.us for r in got] == [v // 1000 for v in ns]


def test_concurrent_reads_share_one_schema(spark, tmp_path):
    """Cold and warm calls from more threads than cores, as the
    benchmark's check pass makes them: each returns its table's schema,
    and no cache insert is lost."""
    from willa_spark.sources import parquet

    tables = {
        f"x{i}": pa.table({"a": list(range(10 * i + 1))}) for i in range(5)
    } | {"y": pa.table({"s": ["u", "v"], "ts": pa.array([1, 2], type=pa.timestamp("ns"))})}
    for name, t in tables.items():
        pq.write_table(t, str(tmp_path / f"{name}.parquet"))
    names = list(tables) * 4
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(8) as pool:
            dfs = list(pool.map(lambda n: read_table(spark, str(tmp_path), n), names, timeout=300))
    finally:
        sys.setswitchinterval(interval)
    cached = parquet._SCHEMAS[spark]
    assert all(str(tmp_path / f"{n}.parquet") in cached for n in tables)
    for name, df in zip(names, dfs):
        assert df.columns == tables[name].column_names
    assert [read_table(spark, str(tmp_path), f"x{i}").count() for i in range(5)] == [1, 11, 21, 31, 41]
    assert isinstance(dfs[names.index("y")].schema["ts"].dataType, T.TimestampType)


def test_warm_topology_build_starts_no_job(spark, tmp_path):
    us = pa.array([1_704_067_200_000_000, 1_704_067_260_000_000], type=pa.timestamp("us"))
    pq.write_table(pa.table({
        "event_id": [0, 1], "ts": us, "user_id": [7, 8],
        "event_type": ["purchase", "click"], "value": [60.5, 3.25],
    }), str(tmp_path / "events.parquet"))
    pq.write_table(pa.table({
        "o_orderkey": [0], "o_custkey": [7], "o_totalprice": [99.5], "o_orderdate": us[:1],
    }), str(tmp_path / "orders.parquet"))
    sf = str(tmp_path)
    # the counter does see the schema-inference job of a cold read
    assert jobs_started(spark, lambda: read_table(spark, sf, "orders")) >= 1
    for name in ("filter_map", "asof_enrich"):
        QUERIES[name](spark, sf)  # warms the schema cache
        assert jobs_started(spark, lambda: QUERIES[name](spark, sf)) == 0, name
    assert QUERIES["filter_map"](spark, sf).collect() == [(0, 121.0)]


def test_uncached_path_is_still_read(spark, tmp_path, monkeypatch):
    """A path ``os.stat`` cannot see (a remote file system) is read with
    plain inference every call."""
    from willa_spark.sources import parquet

    pq.write_table(pa.table({"a": [4]}), str(tmp_path / "r.parquet"))
    monkeypatch.setattr(parquet, "_signature", lambda path: None)
    assert _rows(read_table(spark, str(tmp_path), "r")) == [(4,)]
    assert str(tmp_path / "r.parquet") not in parquet._SCHEMAS.get(spark, {})
