"""Custom stateful streaming operator: arbitrary Python folds via
applyInPandasWithState — changelog emission, state across micro-batches,
congruity with the batch engine's Python-fold tier."""

from collections import Counter

import pytest

from willa_spark import Aggregate, collect_records, run_topology
from willa_spark.streaming import run_streaming_topology


def topic(**kw):
    return {"type": "topic", **kw}


# A fold no built-in aggregate expresses: sum capped at 10. Defined as
# a lambda so cloudpickle ships it by value (a module-level function in
# a test file is pickled by reference — unimportable on workers).
cap_sum = lambda acc, gk, v: min(acc + v, 10)  # noqa: E731


def build(suppress=False):
    t = {"type": "ktable", "aggregate": Aggregate.fold(0, cap_sum, "bigint")}
    if suppress:
        t["suppress"] = True
    return {
        "entities": {"in": topic(), "t": t, "out": topic()},
        "workflow": [("in", "t"), ("t", "out")],
    }


def test_python_fold_changelog_streaming(spark, tmp_path):
    """Single batch: full changelog emitted, capped fold applied."""
    inputs = {"in": [("k", 4, 100), ("k", 5, 200), ("k", 9, 300), ("k2", 1, 100)]}
    res = run_streaming_topology(spark, build(), inputs, str(tmp_path))
    assert Counter(res["out"]) == Counter([("k", 4), ("k", 9), ("k", 10), ("k2", 1)])


def test_python_fold_state_across_batches(spark, tmp_path):
    """Second micro-batch continues from stored state (4+5=9, then cap)."""
    res = run_streaming_topology(
        spark,
        build(),
        {"in": [("k", 4, 100)]},
        str(tmp_path),
        extra_files={"in": [("k", 5, 200), ("k", 9, 300)]},
    )
    assert Counter(res["out"]) == Counter([("k", 4), ("k", 9), ("k", 10)])


def test_python_fold_congruity_with_batch(spark, tmp_path):
    inputs = {"in": [("k", 4, 100), ("k", 5, 200), ("k2", 3, 50)]}
    b = Counter(collect_records(run_topology(spark, build(), inputs=inputs)["out"]))
    s = Counter(run_streaming_topology(spark, build(), inputs, str(tmp_path))["out"])
    assert b == s == Counter([("k", 4), ("k", 9), ("k2", 3)])


def test_windowed_python_fold_streaming_congruity(spark, tmp_path):
    """Windowed (tumbling) Python fold in streaming: fold state keyed
    by (group, window-start); full changelog congruent with the batch
    windowed fold — including a record landing in a later window."""
    t = {
        "type": "ktable",
        "aggregate": Aggregate.fold(0, cap_sum, "bigint"),
        "window": __import__("willa_spark").TumblingWindow(100),
        "emit_window": True,
    }
    topo = {
        "entities": {"in": topic(), "t": t, "out": topic()},
        "workflow": [("in", "t"), ("t", "out")],
    }
    inputs = {"in": [("k", 4, 0), ("k", 5, 50), ("k", 9, 150), ("k2", 1, 20)]}
    b = Counter(collect_records(run_topology(spark, topo, inputs=inputs)["out"]))
    s = Counter(run_streaming_topology(spark, topo, inputs, str(tmp_path))["out"])
    assert b == s == Counter(
        [("k", (0, 4)), ("k", (0, 9)), ("k", (100, 9)), ("k2", (0, 1))]
    )


def test_hopping_python_fold_streaming(spark, tmp_path):
    """Hopping windows: each record folds into every containing window."""
    from willa_spark import HoppingWindow

    t = {
        "type": "ktable",
        "aggregate": Aggregate.fold(0, cap_sum, "bigint"),
        "window": HoppingWindow(200, 100),
        "emit_window": True,
    }
    topo = {
        "entities": {"in": topic(), "t": t, "out": topic()},
        "workflow": [("in", "t"), ("t", "out")],
    }
    inputs = {"in": [("k", 4, 150)]}
    b = Counter(collect_records(run_topology(spark, topo, inputs=inputs)["out"]))
    s = Counter(run_streaming_topology(spark, topo, inputs, str(tmp_path))["out"])
    # ts 150 belongs to windows [0,199] and [100,299]
    assert b == s == Counter([("k", (0, 4)), ("k", (100, 4))])


def test_python_fold_retraction_congruity(spark, tmp_path):
    """A5 with a NON-invertible Python subtractor fold in streaming
    (streams.clj:44-50: the reference supports arbitrary subtractors).
    The fold keeps a canonical sorted CSV of group members — opaque to
    the column tier (not sum/count). Two-stage plan: stateful re-key op
    emits signed events; a deferred foreachBatch fold applies
    adder/subtractor against a versioned parquet state table. Final
    state per group must equal the batch engine's fold — including a
    key whose group flips between micro-batches (snapshot state across
    triggers)."""
    from pyspark.sql import functions as F

    # defined in-test (closures pickle by value; module-level defs would
    # be pickled by reference to a module Spark workers can't import)
    def _csv_add(acc, gk, v):
        parts = [p for p in acc.split(",") if p] + [str(v)]
        return ",".join(sorted(parts))

    def _csv_sub(acc, gk, v):
        parts = [p for p in acc.split(",") if p]
        parts.remove(str(v))
        return ",".join(sorted(parts))

    group_parity = lambda k, v: F.when(v % 2 == 1, F.lit("odd")).otherwise(F.lit("even"))  # noqa: E731
    ent = {
        "type": "ktable",
        "group_by": group_parity,
        "aggregate": Aggregate.fold("", _csv_add, "string", subtractor=_csv_sub),
        "retract": True,
    }
    wf = [("in", "t"), ("t", "out")]
    first = [("k", 1, 100), ("k2", 3, 150), ("k", 2, 200)]
    late = [("k", 7, 400)]  # k flips even→odd in a LATER micro-batch
    topo_batch = {
        "entities": {"in": topic(), "t": {**ent, "suppress": True}, "out": topic()},
        "workflow": wf,
    }
    b = Counter(
        collect_records(run_topology(spark, topo_batch, inputs={"in": first + late})["out"])
    )
    topo_stream = {
        "entities": {"in": topic(), "t": {**ent, "watermark": "0 seconds"}, "out": topic()},
        "workflow": wf,
    }
    rows = run_streaming_topology(
        spark, topo_stream, {"in": first}, str(tmp_path), extra_files={"in": late}
    )["out"]
    final = {}
    for k, v in rows:
        final[k] = v
    assert Counter(final.items()) == b == Counter([("odd", "3,7"), ("even", "")])


def test_python_fold_retraction_restart_needs_state_dir(spark, tmp_path):
    """A Python-subtractor retraction restarted from its checkpoint in a
    NEW runner: the checkpoint restores the stage-1 re-key state, so the
    stage-2 fold must resume from the snapshots of the first run. With
    the entity's ``state_dir`` it does and equals an uninterrupted run;
    without one each build folds into a fresh temporary directory, and
    the restart fails naming ``state_dir`` instead of folding from
    ``initial`` (which yields even=-2, odd=7)."""
    from pyspark.errors import StreamingQueryException
    from pyspark.sql import functions as F

    def topo(state_dir=None):
        ent = {
            "type": "ktable",
            "group_by": lambda k, v: F.when(v % 2 == 1, F.lit("odd")).otherwise(F.lit("even")),
            "aggregate": Aggregate.fold(
                0, lambda a, gk, v: a + v, "bigint", subtractor=lambda a, gk, v: a - v
            ),
            "retract": True,
            "watermark": "0 seconds",
        }
        if state_dir:
            ent["state_dir"] = state_dir
        return {
            "entities": {"in": topic(), "t": ent, "out": topic()},
            "workflow": [("in", "t"), ("t", "out")],
        }

    first = [("k", 1, 100), ("k2", 3, 150), ("k", 2, 200)]
    late = [("k", 7, 400)]  # k flips even→odd after the restart

    def final(*runs):
        out = {}
        for rows in runs:
            out.update(rows)
        return out

    whole = run_streaming_topology(
        spark, topo(), {"in": first}, str(tmp_path / "whole"), extra_files={"in": late}
    )["out"]
    assert final(whole) == {"even": 0, "odd": 10}

    state_dir = str(tmp_path / "state")
    run = str(tmp_path / "restart")
    before = run_streaming_topology(spark, topo(state_dir), {"in": first}, run)["out"]
    after = run_streaming_topology(spark, topo(state_dir), {"in": late}, run)["out"]
    assert final(before, after) == final(whole)

    run = str(tmp_path / "no_state_dir")
    run_streaming_topology(spark, topo(), {"in": first}, run)
    with pytest.raises(StreamingQueryException, match="no fold state snapshot.*'state_dir'"):
        run_streaming_topology(spark, topo(), {"in": late}, run)


def test_python_fold_windowed_retraction_congruity(spark, tmp_path):
    """A5 × A2 with a Python subtractor fold: the retraction lands in
    the OLD record's window; the deferred per-batch fold keys state by
    (group, window). k flips win0→win1 across micro-batches."""
    from pyspark.sql import functions as F

    from willa_spark import TumblingWindow

    def _add(acc, gk, v):
        return ",".join(sorted([p for p in acc.split(",") if p] + [str(v)]))

    def _sub(acc, gk, v):
        parts = [p for p in acc.split(",") if p]
        parts.remove(str(v))
        return ",".join(sorted(parts))

    ent = {
        "type": "ktable",
        "group_by": lambda k, v: F.lit("g1"),
        "window": TumblingWindow(1000),
        "aggregate": Aggregate.fold("", _add, "string", subtractor=_sub),
        "retract": True,
        "emit_window": True,
    }
    wf = [("in", "t"), ("t", "out")]
    first = [("k", 1, 100), ("k2", 3, 100)]
    late = [("k", 2, 1200), ("k2", 5, 300)]  # k moves to win1; k2 updates in win0
    topo_batch = {
        "entities": {"in": topic(), "t": {**ent, "suppress": True}, "out": topic()},
        "workflow": wf,
    }
    b = Counter(
        collect_records(run_topology(spark, topo_batch, inputs={"in": first + late})["out"])
    )
    topo_stream = {
        "entities": {"in": topic(), "t": {**ent, "watermark": "0 seconds"}, "out": topic()},
        "workflow": wf,
    }
    rows = run_streaming_topology(
        spark, topo_stream, {"in": first}, str(tmp_path), extra_files={"in": late}
    )["out"]
    final = {}
    for k, v in rows:
        final[(k, v[0])] = (k, v)
    # win0: +1 +3, then k2 upsert (-3 +5), then k's move retracts 1 → "5"
    assert Counter(final.values()) == b == Counter(
        [("g1", (0, "5")), ("g1", (1000, "2"))]
    )


def test_python_fold_on_rocksdb_state_store(spark, tmp_path):
    """The reference keeps state in RocksDB (core.clj:95-96); Spark's
    RocksDBStateStoreProvider is the scale path for state larger than
    executor heap. Same topology, same results, different provider."""
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        inputs = {"in": [("k", 4, 100), ("k", 5, 200), ("k2", 1, 100)]}
        res = run_streaming_topology(spark, build(), inputs, str(tmp_path))
        assert Counter(res["out"]) == Counter([("k", 4), ("k", 9), ("k2", 1)])
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


# --- session-window Python folds (A3×A4 fused stateful op) -----------

# Non-commutative concat fold: proves in-order fold congruity, not just
# totals. merger is Kafka Streams' session Merger (required when a late
# record bridges two open sessions).
concat_add = lambda acc, gk, v: (acc + "|" if acc else "") + str(v)  # noqa: E731
concat_merge = lambda gk, a, b: a + "|" + b  # noqa: E731


def session_topo(agg, suppress=False, watermark=None):
    from willa_spark import SessionWindow

    t = {
        "type": "ktable",
        "window": SessionWindow(100),
        "aggregate": agg,
    }
    if suppress:
        t["suppress"] = True
    if watermark:
        t["watermark"] = watermark
    return {
        "entities": {"in": topic(), "t": t, "out": topic()},
        "workflow": [("in", "t"), ("t", "out")],
    }


def test_session_python_fold_update_congruity(spark, tmp_path):
    """Per-record changelog of a session-windowed Python fold: the gap
    split (sessions [0,50] and [400] for k) and the fold order within
    each session both match the batch engine exactly."""
    agg = Aggregate.fold("", concat_add, "string", merger=concat_merge)
    topo = session_topo(agg)
    inputs = {"in": [("k", 1, 0), ("k", 2, 50), ("k", 3, 400), ("k2", 5, 30)]}
    b = Counter(collect_records(run_topology(spark, topo, inputs=inputs)["out"]))
    s = Counter(run_streaming_topology(spark, topo, inputs, str(tmp_path))["out"])
    assert b == s == Counter([("k", "1"), ("k", "1|2"), ("k", "3"), ("k2", "5")])


def test_session_python_fold_state_ttl_evicts_idle_sessions(spark, tmp_path):
    """Watermark-less update-mode session folds bound their state with
    'state_ttl': a key idle past the TTL has ALL its open sessions
    evicted (processing-time timeout). Observable because a later
    record that would land inside the old session's gap starts a FRESH
    session instead of extending the fold: with state retained k's
    second record would emit '1|2' — after eviction it emits '2'.

    Driven with a processing-time trigger, not availableNow: Spark
    always schedules another micro-batch while a ProcessingTimeTimeout
    operator has state (shouldRunAnotherBatch is unconditionally true),
    so an availableNow drain never terminates — the documented trigger
    constraint for state_ttl."""
    import os
    import time

    from pyspark.sql import functions as F

    from willa_spark import SessionWindow
    from willa_spark.model import KEY, TIMESTAMP, VALUE
    from willa_spark.streaming import StreamingTopologyRunner

    agg = Aggregate.fold("", concat_add, "string", merger=concat_merge)
    topo = session_topo(agg)
    topo["entities"]["t"]["window"] = SessionWindow(1_000_000)
    topo["entities"]["t"]["state_ttl"] = "1 millisecond"

    d = os.path.join(str(tmp_path), "in")
    os.makedirs(d)

    def feed(rows):
        df = spark.createDataFrame(
            rows, f"{KEY} string, {VALUE} bigint, {TIMESTAMP} long"
        ).withColumn(TIMESTAMP, F.timestamp_millis(F.col(TIMESTAMP)))
        df.coalesce(1).write.mode("append").parquet(d)
        time.sleep(0.05)

    feed([("k", 1, 0)])
    schema = spark.read.parquet(d).schema
    src = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d)
    built = StreamingTopologyRunner(spark, topo).build({"in": src})
    q = (
        built["out"]
        .writeStream.format("memory")
        .queryName("ttl_evict_sink")
        .outputMode("update")
        .option("checkpointLocation", os.path.join(str(tmp_path), "chk"))
        .trigger(processingTime="50 milliseconds")
        .start()
    )
    try:
        def sink_rows():
            return [
                (r[KEY], r[VALUE])
                for r in spark.sql("SELECT * FROM ttl_evict_sink").collect()
            ]

        def await_rows(n, timeout=60):
            deadline = time.time() + timeout
            while time.time() < deadline:
                if len(sink_rows()) >= n:
                    return
                time.sleep(0.2)
            raise TimeoutError(f"sink never reached {n} rows: {sink_rows()}")

        await_rows(1)
        # an unrelated key's batch, processed > ttl later, fires k's
        # idle timeout and evicts its open session
        feed([("other", 9, 50)])
        await_rows(2)
        # k returns WITHIN the old session's gap — must open a fresh
        # session ('2'), not extend the evicted fold ('1|2')
        feed([("k", 2, 100)])
        await_rows(3)
        assert Counter(sink_rows()) == Counter(
            [("k", "1"), ("other", "9"), ("k", "2")]
        )
    finally:
        q.stop()


def test_session_python_fold_state_ttl_rejected_with_suppress(spark):
    """state_ttl is an update-mode knob; suppression already bounds
    state via its event-time timeout — combining them is an error."""
    import pytest

    from willa_spark.streaming import StreamingTopologyRunner

    agg = Aggregate.fold("", concat_add, "string", merger=concat_merge)
    topo = session_topo(agg, suppress=True, watermark="0 milliseconds")
    topo["entities"]["t"]["state_ttl"] = "1 hour"
    records = spark.createDataFrame(
        [("k", 1, 0)], "key string, value bigint, timestamp long"
    )
    from pyspark.sql import functions as F

    from willa_spark.model import TIMESTAMP

    src = records.withColumn(TIMESTAMP, F.timestamp_millis(F.col(TIMESTAMP)))
    with pytest.raises(ValueError, match="state_ttl"):
        StreamingTopologyRunner(spark, topo).build({"in": src})


def test_session_python_fold_suppressed_final(spark, tmp_path):
    """suppress=True: each session emits once, when the watermark passes
    its close (end + gap) — batch final_only congruity."""
    agg = Aggregate.fold("", concat_add, "string", merger=concat_merge)
    topo = session_topo(agg, suppress=True, watermark="0 milliseconds")
    inputs = {"in": [("k", 1, 0), ("k", 2, 50), ("k", 3, 400), ("k2", 5, 30)]}
    b = batch_like = Counter(
        collect_records(run_topology(spark, topo, inputs=inputs)["out"])
    )
    rows = run_streaming_topology(
        spark, topo, inputs, str(tmp_path),
        extra_files={"in": [("zz", 0, 1_000_000)]},
    )["out"]
    b = Counter({kv: n for kv, n in b.items() if kv[0] != "zz"})
    s = Counter(kv for kv in rows if kv[0] != "zz")
    assert b == s == Counter([("k", "1|2"), ("k", "3"), ("k2", "5")])


def test_session_python_fold_merger_across_batches(spark, tmp_path):
    """A record in a LATER micro-batch bridging two open sessions must
    merge them via the aggregate's merger.  The watermark delay (500ms)
    must keep BOTH sessions open across the batches — with a 0ms
    watermark the bridge would be genuinely late and dropped, exactly
    as Kafka Streams drops post-grace records."""
    add = lambda acc, gk, v: acc + v  # noqa: E731  (commutative: merge order-safe)
    merge = lambda gk, a, b: a + b  # noqa: E731
    agg = Aggregate.fold(0, add, "bigint", merger=merge)
    topo = session_topo(agg, suppress=True, watermark="500 milliseconds")
    # batch 1 opens session A at ts=0; batch 2 opens session B at ts=150
    # (gap 100 → disjoint: 150-0 > 100); batch 3's ts=90 is within 100
    # of BOTH (90 <= 0+100 and 90 >= 150-100) → merges them into one
    # [0,150] session folding all three values.
    first = [("k", 1, 0)]
    second = [("k", 2, 150)]
    bridge = [("k", 9, 90)]
    b = Counter(
        collect_records(
            run_topology(spark, topo, inputs={"in": first + second + bridge})["out"]
        )
    )
    rows = run_streaming_topology(
        spark, topo, {"in": first}, str(tmp_path),
        extra_files={"in": [second, bridge, [("zz", 0, 1_000_000)]]},
    )["out"]
    b = Counter({kv: n for kv, n in b.items() if kv[0] != "zz"})
    s = Counter(kv for kv in rows if kv[0] != "zz")
    assert b == s == Counter([("k", 12)])


def test_session_python_fold_merger_in_session_time_order(spark, tmp_path):
    """When a bridge record merges sessions that were OPENED out of
    temporal order (the temporally later one arrived first), the
    merger must still combine the temporally EARLIER accumulator on
    the left — Kafka Streams' session Merger contract, observable only
    with a non-commutative accumulator. Batch congruity doesn't apply
    here (documented arrival-order divergence); the assertion is on
    the streaming result itself: state-list order would give
    '2|1|9'."""
    agg = Aggregate.fold("", concat_add, "string", merger=concat_merge)
    topo = session_topo(agg, suppress=True, watermark="1 second")
    # same bridge geometry as the cross-batch test (A at ts=0, B at
    # ts=150, bridge ts=90 within gap 100 of both) but arriving
    # B-FIRST, so the state list holds [B, A] when the bridge lands
    first = [("k", 2, 150)]
    second = [("k", 1, 0)]
    bridge = [("k", 9, 90)]
    rows = run_streaming_topology(
        spark, topo, {"in": first}, str(tmp_path),
        extra_files={"in": [second, bridge, [("zz", 0, 1_000_000)]]},
    )["out"]
    s = Counter(kv for kv in rows if kv[0] != "zz")
    assert s == Counter([("k", "1|2|9")])


def test_session_python_fold_requires_merger(spark, tmp_path):
    import pytest as _pytest

    agg = Aggregate.fold("", concat_add, "string")  # no merger
    topo = session_topo(agg)
    with _pytest.raises(ValueError, match="merger"):
        run_streaming_topology(
            spark, topo, {"in": [("k", 1, 0)]}, str(tmp_path)
        )


def test_state_ttl_rejects_available_now_trigger(spark, tmp_path):
    """start_queries must reject the (default) availableNow trigger
    when any entity arms state_ttl — the ProcessingTimeTimeout operator
    always schedules another micro-batch, so the drain would hang in
    awaitTermination instead of terminating."""
    import os

    from pyspark.sql import functions as F

    from willa_spark.model import KEY, TIMESTAMP, VALUE
    from willa_spark.streaming import StreamingTopologyRunner

    import pytest

    agg = Aggregate.fold("", concat_add, "string", merger=concat_merge)
    topo = session_topo(agg)
    topo["entities"]["t"]["state_ttl"] = "1 hour"

    d = os.path.join(str(tmp_path), "in")
    os.makedirs(d)
    df = spark.createDataFrame(
        [("k", 1, 0)], f"{KEY} string, {VALUE} bigint, {TIMESTAMP} long"
    ).withColumn(TIMESTAMP, F.timestamp_millis(F.col(TIMESTAMP)))
    df.coalesce(1).write.mode("append").parquet(d)
    schema = spark.read.parquet(d).schema
    src = spark.readStream.schema(schema).parquet(d)

    runner = StreamingTopologyRunner(spark, topo)
    built = runner.build({"in": src})
    with pytest.raises(ValueError, match="processing-time trigger"):
        runner.start_queries(built, os.path.join(str(tmp_path), "chk"))


# 14 records, one key, timestamps shuffled so a chunk-local sort
# differs from the whole-group order
SHUFFLED = [9, 2, 13, 5, 0, 11, 7, 3, 12, 1, 8, 6, 10, 4]


def _prefixes_of_the_sorted_sequence(values):
    # the LONGEST emission is the complete fold and must be the
    # timestamp-sorted sequence; every changelog emission is a prefix
    # of it (order never regresses mid-fold)
    assert max(values, key=len) == tuple(range(len(SHUFFLED)))
    for v in values:
        assert v == tuple(range(len(v)))


def _chunk_case(operator):
    """(topology, inputs, check) for one keyed-state operator, with an
    order-SENSITIVE input whose single key spans several Arrow chunks."""
    from pyspark.sql import functions as F

    from willa_spark import SessionWindow

    wf = [("in", "t"), ("t", "out")]
    inputs = {"in": [("k", i, i * 100) for i in SHUFFLED]}
    if operator == "fold":
        order_fold = lambda acc, gk, v: acc + [v]  # noqa: E731
        t = {"type": "ktable", "aggregate": Aggregate.fold([], order_fold, "array<bigint>")}
        check = lambda rows: _prefixes_of_the_sorted_sequence(  # noqa: E731
            [tuple(v) for _, v in rows]
        )
    elif operator == "session_fold":
        # one session (every gap < 1000 ms): a record folded out of
        # timestamp order lands in the concatenation out of order
        t = {
            "type": "ktable",
            "window": SessionWindow(1000),
            "aggregate": Aggregate.fold("", concat_add, "string", merger=concat_merge),
        }
        check = lambda rows: _prefixes_of_the_sorted_sequence(  # noqa: E731
            [tuple(int(x) for x in v.split("|")) for _, v in rows]
        )
    elif operator == "retract_rekey":
        # each update of k retracts its previous value, so the group's
        # sum is the value of the LAST record the re-key stage applied
        t = {
            "type": "ktable",
            "group_by": lambda k, v: F.lit("g"),
            "aggregate": Aggregate.sum(),
            "retract": True,
            "watermark": "0 seconds",
        }

        def check(rows):
            assert rows[-1] == ("g", max(SHUFFLED))
    else:  # stream_table_join
        # the stream record at t*100+50 must see the table value set at t*100
        topo = {
            "entities": {
                "in-s": topic(),
                "in-t": topic(),
                "s": {"type": "kstream"},
                "t": {"type": "ktable"},
                "joined": {"type": "kstream"},
                "out": topic(),
            },
            "workflow": [
                ("in-s", "s"), ("in-t", "t"), ("s", "joined"), ("t", "joined"), ("joined", "out"),
            ],
            "joins": {("s", "t"): {"type": "left"}},
        }
        inputs = {
            "in-s": [("k", i, i * 100 + 50) for i in SHUFFLED],
            "in-t": [("k", i, i * 100) for i in SHUFFLED],
        }

        def check(rows):
            assert Counter(rows) == Counter(("k", (i, i)) for i in SHUFFLED)

        return topo, inputs, check
    topo = {"entities": {"in": topic(), "t": t, "out": topic()}, "workflow": wf}
    return topo, inputs, check


@pytest.mark.parametrize(
    "operator", ["fold", "stream_table_join", "session_fold", "retract_rekey"]
)
def test_python_fold_order_across_arrow_chunks(spark, tmp_path, operator):
    """A group LARGER than arrow.maxRecordsPerBatch arrives as several
    Arrow chunks; every keyed-state operator must process the whole
    group in timestamp order ACROSS chunk boundaries (per-chunk sorting
    lets a later record apply before an earlier one whenever a group
    spans chunks — invisible below 10k rows/group at the default
    setting). Forced here with maxRecordsPerBatch=4 and order-SENSITIVE
    inputs, records deliberately shuffled in the input file."""
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "4")
    try:
        topo, inputs, check = _chunk_case(operator)
        check(run_streaming_topology(spark, topo, inputs, str(tmp_path))["out"])
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)


def test_suppressed_windowed_python_fold_congruity(spark, tmp_path):
    """'suppress' on a tumbling-window PYTHON fold emits final-only,
    append-mode rows congruent with the batch engine's suppressed fold
    (r14 review: this combination previously compiled to the full
    update-mode changelog with NO error — the suppress flag was
    silently ignored for tumbling/hopping folds while session folds
    and column aggregates honored it). The sentinel closes the data
    windows; its own never-closing window is dropped from both sides
    (the test_congruity_tumbling_window_sum convention)."""
    from collections import Counter as C

    from willa_spark import TumblingWindow

    ent = {
        "type": "ktable",
        "aggregate": Aggregate.fold(0, cap_sum, "bigint"),
        "window": TumblingWindow(100),
        "suppress": True,
        "emit_window": True,
        "watermark": "0 milliseconds",
    }
    topo = {
        "entities": {"in": topic(), "t": ent, "out": topic()},
        "workflow": [("in", "t"), ("t", "out")],
    }
    inputs = {"in": [("k", 4, 0), ("k", 5, 50), ("k", 9, 150), ("k2", 8, 20)]}
    b = C(collect_records(run_topology(spark, topo, inputs=inputs)["out"]))
    s = C(
        run_streaming_topology(
            spark,
            topo,
            inputs,
            str(tmp_path),
            extra_files={"in": [("zz", 0, 1_000_000)]},
        )["out"]
    )
    b = C({kv: n for kv, n in b.items() if kv[0] != "zz"})
    s = C({kv: n for kv, n in s.items() if kv[0] != "zz"})
    # ONE final row per (key, window): k win0 capped 4+5=9, k win100 9,
    # k2 win0 8 — no intermediate (k, (0, 4)) changelog row
    assert b == s == C([("k", (0, 9)), ("k", (100, 9)), ("k2", (0, 8))])


def test_suppressed_unwindowed_python_fold_fails_loud(spark):
    """The inexpressible case names itself instead of silently
    emitting the changelog (r14 review)."""
    import pytest as _pytest

    from willa_spark.streaming import run_streaming_topology as _run

    topo = {
        "entities": {
            "in": topic(),
            "t": {
                "type": "ktable",
                "aggregate": Aggregate.fold(0, cap_sum, "bigint"),
                "suppress": True,
                "watermark": "0 milliseconds",
            },
            "out": topic(),
        },
        "workflow": [("in", "t"), ("t", "out")],
    }
    with _pytest.raises(ValueError, match="UNWINDOWED Python fold"):
        _run(spark, topo, {"in": [("k", 1, 0)]}, "/tmp/never-used")
