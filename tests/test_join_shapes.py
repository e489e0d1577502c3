"""The join-shape table (``walk.JOIN_SHAPES``), checked exhaustively over
every (left joinable type, right joinable type, join type):

- ``validate`` accepts exactly the combinations the table lists;
- the batch engine runs every accepted combination on tiny inputs;
- the streaming engine compiles each accepted combination, or raises a
  ``NotImplementedError`` naming the restriction, never a bare
  ``KeyError``/``AttributeError``.
"""

from itertools import product

import pytest
from pyspark.sql import functions as F

from willa_spark import TopologyError, collect_records, run_topology
from willa_spark.model import GLOBAL_KTABLE, JOIN_TYPES, KSTREAM, KTABLE
from willa_spark.streaming.compiler import StreamingTopologyRunner
from willa_spark.validate import validate
from willa_spark.walk import JOIN_SHAPES

TYPES = (KSTREAM, KTABLE, GLOBAL_KTABLE)
JOINS = tuple(jt for jt in JOIN_TYPES if jt != "merge")
ALL = list(product(TYPES, TYPES, JOINS))
ACCEPTED = [c for c in ALL if c[2] in JOIN_SHAPES.get(c[:2], (None, ()))[1]]


def two_leg_topo(left_type, right_type, jt):
    return {
        "entities": {
            "in-l": {"type": "topic"},
            "in-r": {"type": "topic"},
            "l": {"type": left_type},
            "r": {"type": right_type},
            "j": {"type": "kstream"},
            "out": {"type": "topic"},
        },
        "workflow": [("in-l", "l"), ("in-r", "r"), ("l", "j"), ("r", "j"), ("j", "out")],
        "joins": {("l", "r"): {"type": jt, "window": (100, 100)}},
    }


@pytest.mark.parametrize("left_type,right_type,jt", ALL)
def test_validate_accepts_exactly_the_table(left_type, right_type, jt):
    topo = two_leg_topo(left_type, right_type, jt)
    if (left_type, right_type, jt) in ACCEPTED:
        validate(topo)
    else:
        with pytest.raises(TopologyError, match=f"unsupported for the {left_type}⋈{right_type}"):
            validate(topo)


def test_table_lists_every_engine_operator():
    assert {op for op, _ in JOIN_SHAPES.values()} == {
        "stream_stream", "table_table", "stream_table", "global_table"
    }
    assert len(ACCEPTED) == 22


@pytest.mark.parametrize("left_type,right_type,jt", ACCEPTED)
def test_batch_runs_every_accepted_shape(spark, left_type, right_type, jt):
    """Left record ("k", 1)@100, right record ("k", 2)@50: every shape
    matches them (inside the stream-stream band, as-of for tables, by key
    for the global lookup)."""
    out = collect_records(
        run_topology(
            spark,
            two_leg_topo(left_type, right_type, jt),
            {"in-l": [("k", 1, 100)], "in-r": [("k", 2, 50)]},
        )["out"]
    )
    if jt == "left_semi":
        assert out == [("k", 1)]
    elif jt == "left_anti":
        assert out == []
    else:
        assert ("k", (1, 2)) in out


@pytest.mark.parametrize("left_type,right_type,jt", ACCEPTED)
def test_streaming_compiles_or_names_the_restriction(spark, left_type, right_type, jt):
    topo = two_leg_topo(left_type, right_type, jt)
    if right_type == GLOBAL_KTABLE:
        topo["entities"]["r"]["static_source"] = spark.createDataFrame(
            [("k", 2, 50)], "key string, value bigint, timestamp bigint"
        )
    src = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .select(F.lit("k").alias("key"), F.col("value"), F.col("timestamp"))
    )
    runner = StreamingTopologyRunner(spark, topo)
    if jt in ("left_semi", "left_anti") and right_type != GLOBAL_KTABLE:
        restriction = f"join type {jt!r} is not implemented in streaming"
        with pytest.raises(NotImplementedError, match=restriction):
            runner.build({"in-l": src, "in-r": src})
    else:
        assert runner.build({"in-l": src, "in-r": src})["out"].isStreaming
