"""Streaming table joins (J5/J6) as custom stateful operators —
congruent with the batch oracle when arrival order == timestamp order
(the Kafka-parity condition documented in the compiler)."""

from collections import Counter

import pytest

from willa_spark import collect_records, run_topology
from willa_spark.streaming import run_streaming_topology


def topic(**kw):
    return {"type": "topic", **kw}


def stream_table_topo(jt):
    return {
        "entities": {
            "in-s": topic(),
            "in-t": topic(),
            "s": {"type": "kstream"},
            "t": {"type": "ktable"},
            "joined": {"type": "kstream"},
            "out": topic(),
        },
        "workflow": [
            ("in-s", "s"),
            ("in-t", "t"),
            ("s", "joined"),
            ("t", "joined"),
            ("joined", "out"),
        ],
        "joins": {("s", "t"): {"type": jt}},
    }


def table_table_topo(jt):
    return {
        "entities": {
            "in-a": topic(),
            "in-b": topic(),
            "ta": {"type": "ktable"},
            "tb": {"type": "ktable"},
            "joined": {"type": "kstream"},
            "out": topic(),
        },
        "workflow": [
            ("in-a", "ta"),
            ("in-b", "tb"),
            ("ta", "joined"),
            ("tb", "joined"),
            ("joined", "out"),
        ],
        "joins": {("ta", "tb"): {"type": jt}},
    }


def test_stream_table_left_join_streaming(spark, tmp_path):
    inputs = {
        "in-s": [("k", 1, 50), ("k", 10, 250)],
        "in-t": [("k", 100, 100), ("k", 200, 200)],
    }
    res = run_streaming_topology(spark, stream_table_topo("left"), inputs, str(tmp_path))
    # (k,1,50): no table state yet -> [1, None]; (k,10,250): table=200
    assert Counter(res["out"]) == Counter([("k", (1, None)), ("k", (10, 200))])
    # congruity with the batch oracle (arrival order == ts order here)
    b = Counter(
        collect_records(run_topology(spark, stream_table_topo("left"), inputs=inputs)["out"])
    )
    assert b == Counter(res["out"])


def test_stream_table_inner_join_streaming(spark, tmp_path):
    inputs = {"in-s": [("k", 1, 50), ("k", 10, 250)], "in-t": [("k", 100, 100)]}
    res = run_streaming_topology(spark, stream_table_topo("inner"), inputs, str(tmp_path))
    assert Counter(res["out"]) == Counter([("k", (10, 100))])


def test_table_table_inner_join_streaming(spark, tmp_path):
    inputs = {"in-a": [("k", 1, 100), ("k", 3, 300)], "in-b": [("k", 2, 200)]}
    res = run_streaming_topology(spark, table_table_topo("inner"), inputs, str(tmp_path))
    # a@100: no b (dropped); b@200: a=1 -> [1,2]; a@300: b=2 -> [3,2]
    assert Counter(res["out"]) == Counter([("k", (1, 2)), ("k", (3, 2))])
    b = Counter(
        collect_records(run_topology(spark, table_table_topo("inner"), inputs=inputs)["out"])
    )
    assert b == Counter(res["out"])


def test_table_table_outer_join_streaming(spark, tmp_path):
    inputs = {"in-a": [("k", 1, 100)], "in-b": [("k", 2, 50)]}
    res = run_streaming_topology(spark, table_table_topo("outer"), inputs, str(tmp_path))
    assert Counter(res["out"]) == Counter([("k", (None, 2)), ("k", (1, 2))])


@pytest.mark.parametrize(
    "jt,expected",
    [
        ("inner", [(1, 2), (3, 2), (3, 4)]),
        ("left", [(1, None), (1, 2), (3, 2), (3, 4)]),
        ("outer", [(1, None), (1, 2), (3, 2), (3, 4)]),
    ],
)
def test_table_table_equal_timestamps_apply_in_leg_order(spark, tmp_path, jt, expected):
    """Updates of both tables at the SAME timestamp apply in join-leg
    order, the first leg's before the second's, as in every n-ary
    table chain: a@100 then b@100, a@200 then b@200."""
    inputs = {"in-a": [("k", 1, 100), ("k", 3, 200)], "in-b": [("k", 2, 100), ("k", 4, 200)]}
    res = run_streaming_topology(spark, table_table_topo(jt), inputs, str(tmp_path))
    assert Counter(res["out"]) == Counter(("k", v) for v in expected)


def nary_topo(jt, first="ktable"):
    return {
        "entities": {
            "in-a": topic(),
            "in-b": topic(),
            "in-c": topic(),
            "ta": {"type": first},
            "tb": {"type": "ktable"},
            "tc": {"type": "ktable"},
            "joined": {"type": "kstream"},
            "out": topic(),
        },
        "workflow": [
            ("in-a", "ta"),
            ("in-b", "tb"),
            ("in-c", "tc"),
            ("ta", "joined"),
            ("tb", "joined"),
            ("tc", "joined"),
            ("joined", "out"),
        ],
        "joins": {("ta", "tb", "tc"): {"type": jt}},
    }


def test_nary_table_table_inner_join_streaming(spark, tmp_path):
    """J8 × J5: three KTables fold into one widened tuple
    (streams.clj:115-123) — fused into a SINGLE stateful operator in
    streaming (Spark rejects chained stateful Pandas ops). Congruent
    with the batch pairwise as-of fold when arrival order == ts order."""
    inputs = {
        "in-a": [("k", 1, 100), ("k", 4, 400)],
        "in-b": [("k", 2, 200)],
        "in-c": [("k", 3, 300)],
    }
    res = run_streaming_topology(spark, nary_topo("inner"), inputs, str(tmp_path))
    # a@100: no b/c; b@200: no c; c@300: [1,2,3]; a@400: [4,2,3]
    assert Counter(res["out"]) == Counter([("k", (1, 2, 3)), ("k", (4, 2, 3))])
    b = Counter(
        collect_records(run_topology(spark, nary_topo("inner"), inputs=inputs)["out"])
    )
    assert b == Counter(res["out"])


def test_nary_stream_tables_join_streaming(spark, tmp_path):
    """J8 × J6: stream ⋈ table ⋈ table — emission only on stream
    records, each looking up BOTH tables' current state; table state
    carries across micro-batches."""
    inputs = {
        "in-b": [("k", 20, 100)],
        "in-c": [("k", 30, 150)],
    }
    res = run_streaming_topology(
        spark,
        nary_topo("left", first="kstream"),
        inputs,
        str(tmp_path),
        extra_files={"in-a": [("k", 1, 200), ("k2", 9, 250)]},
    )
    # k: both tables set → [1,20,30]; k2: no table state → [9,None,None]
    assert Counter(res["out"]) == Counter(
        [("k", (1, 20, 30)), ("k2", (9, None, None))]
    )


def test_state_carries_across_batches(spark, tmp_path):
    """Table state from batch 1 enriches stream records in batch 2."""
    res = run_streaming_topology(
        spark,
        stream_table_topo("left"),
        {"in-t": [("k", 100, 100)]},
        str(tmp_path),
        extra_files={"in-s": [("k", 1, 200)]},
    )
    assert Counter(res["out"]) == Counter([("k", (1, 100))])


# ----------------------------------------------------------------------
# Bounded-lateness congruity contract (VERDICT r07 #6): the streaming
# table join is Kafka's runtime semantics — a lookup against CURRENT
# state in arrival order — while the batch engine is the reference
# oracle's timestamp-as-of idealization (experiment.clj:37-62). The
# property below turns the prose "the two agree when arrival order is
# timestamp order" into a tested contract: for ANY records whose
# micro-batch assignment is timestamp-monotone ACROSS batches (any
# permutation WITHIN a batch is fine — the stateful fold orders each
# batch by event time), streaming output == batch as-of output as
# multisets. The pinned counterexample after it shows exactly which
# rows diverge when a record is late across a batch boundary.

from hypothesis import HealthCheck, given, settings, strategies as st


@st.composite
def _ts_monotone_arrival(draw):
    """Records for two table sources with globally-unique timestamps,
    split into micro-batches at ts-monotone cut points, arbitrarily
    permuted within each batch."""
    n = draw(st.integers(min_value=2, max_value=9))
    ts = sorted(draw(st.lists(
        st.integers(min_value=1, max_value=60), min_size=n, max_size=n, unique=True)))
    keys = [f"k{i}" for i in range(draw(st.integers(min_value=1, max_value=2)))]
    recs = [
        (draw(st.sampled_from(["in-a", "in-b"])),
         (draw(st.sampled_from(keys)), i + 1, t * 100))
        for i, t in enumerate(ts)
    ]
    n_cuts = draw(st.integers(min_value=0, max_value=min(2, n - 1)))
    cuts = sorted(draw(st.lists(
        st.integers(min_value=1, max_value=n - 1),
        min_size=n_cuts, max_size=n_cuts, unique=True)))
    bounds = [0] + cuts + [n]
    batches = []
    for lo, hi in zip(bounds, bounds[1:]):
        chunk = recs[lo:hi]
        batches.append(draw(st.permutations(chunk)))
    jt = draw(st.sampled_from(["inner", "left", "outer"]))
    return batches, jt


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(arrival=_ts_monotone_arrival())
def test_table_table_asof_bounded_lateness_congruity(
    spark, tmp_path_factory, arrival
):
    """Within the declared lateness bound (= one micro-batch: arrival
    is ts-monotone across batches, arbitrary within), the streaming
    current-state join IS the batch as-of oracle — for every join
    type, key mix, and batch split."""
    batches, jt = arrival
    per_batch = {eid: [[r for (e, r) in b if e == eid] for b in batches]
                 for eid in ("in-a", "in-b")}
    inputs = {eid: bs[0] for eid, bs in per_batch.items()}
    extra = {eid: bs[1:] for eid, bs in per_batch.items() if bs[1:]}
    all_recs = {eid: [r for b in per_batch[eid] for r in b]
                for eid in ("in-a", "in-b")}
    b = Counter(collect_records(
        run_topology(spark, table_table_topo(jt), inputs=all_recs)["out"]))
    tmp = tmp_path_factory.mktemp("asof")
    s = Counter(run_streaming_topology(
        spark, table_table_topo(jt), inputs, str(tmp), extra_files=extra or None
    )["out"])
    assert b == s


def test_table_table_asof_late_data_divergence_pinned(spark, tmp_path):
    """The exact counterexample OUTSIDE the bound: b@200 arrives in a
    later micro-batch than a@300. Streaming (Kafka semantics) had
    already joined a@300 against the then-current b@100=5 and then
    emits the late b@200 against current a=1; the batch as-of oracle
    says a@300 should see b-as-of-300 = 9 and that b@200 sees no a yet
    (a@300 is in its future). The divergent rows are precisely the
    late-superseded join (1, 5) — emitted by streaming, impossible
    under as-of — and nothing else; the shared row (1, 9) arrives via
    different events (the late-b lookup vs the a@300 as-of)."""
    topo = table_table_topo("inner")
    ontime = {"in-a": [("k", 1, 300)], "in-b": [("k", 5, 100)]}
    late = {"in-b": [[("k", 9, 200)]]}
    s = Counter(run_streaming_topology(
        spark, topo, ontime, str(tmp_path), extra_files=late)["out"])
    b = Counter(collect_records(run_topology(
        spark, topo,
        inputs={"in-a": [("k", 1, 300)], "in-b": [("k", 5, 100), ("k", 9, 200)]},
    )["out"]))
    assert s == Counter([("k", (1, 5)), ("k", (1, 9))])
    assert b == Counter([("k", (1, 9))])
    assert s - b == Counter([("k", (1, 5))])  # the late-superseded join
    # ...and the SAME records delivered inside the bound agree again
    import os
    tmp2 = os.path.join(str(tmp_path), "ontime")
    s2 = Counter(run_streaming_topology(
        spark, topo,
        {"in-a": [("k", 1, 300)], "in-b": [("k", 5, 100), ("k", 9, 200)]},
        tmp2)["out"])
    assert s2 == b


def test_unsupported_streaming_join_types_fail_loud(spark, tmp_path):
    """Join types no engine supports are rejected by validate() at
    COMPILE time (r15 review: outer stream⋈table previously fell
    through to a streaming NotImplementedError, and crashed the batch
    engine in a bare KeyError); types the batch engine runs but
    streaming does not compile (semi/anti stream-stream) still name
    the restriction and the alternative in streaming (r14 review)."""
    import pytest

    from willa_spark import TopologyError

    inputs = {"in-s": [("k", 1, 100)], "in-t": [("k", 2, 50)]}
    with pytest.raises(TopologyError, match="unsupported for the kstream⋈ktable"):
        run_streaming_topology(
            spark, stream_table_topo("outer"), inputs, str(tmp_path / "a")
        )
    ss = stream_table_topo("left_semi")
    ss["entities"]["t"] = {"type": "kstream"}
    with pytest.raises(
        NotImplementedError, match="stream-stream join type 'left_semi'"
    ):
        run_streaming_topology(spark, ss, inputs, str(tmp_path / "b"))
