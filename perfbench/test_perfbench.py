"""Tests of the benchmark's own metric code; no Spark needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import subprocess
import sys

import duckdb
import pytest

from perfbench import common, streamgen, topo_batch, topo_stream
from perfbench.checks import exactly_once, oracle_mismatch, same_mapping
from perfbench.tracing import Tracer, inclusive_py4j, job_stats, layer_totals, parse_event_log, self_times


# -- percentiles ---------------------------------------------------------

@pytest.mark.parametrize("n, want", [(10, 50), (20, 50), (30, 66), (100, 90), (1000, 90)])
def test_tail_pct_keeps_ten_samples_beyond(n, want):
    p = common.tail_pct(n)
    assert p == want
    if p > 50:  # the median is the floor even when fewer than ten lie beyond it
        assert n * (1 - p / 100) >= 10 - 1e-9


def test_mix_percentile_weighs_every_query_equally():
    one_pass = [("a", 1.0), ("b", 2.0), ("c", 3.0)]
    assert topo_batch.mix_percentile(one_pass, 50) == pytest.approx(2.0)
    # a second run of "a" alone must not drag the median toward it
    extra = one_pass + [("a", 1.0)]
    assert topo_batch.mix_percentile(extra, 50) == pytest.approx(2.0)
    lo, mid, hi = (topo_batch.mix_percentile(one_pass, p) for p in (10, 50, 90))
    assert 1.0 < lo < mid < hi < 3.0


def test_mix_percentile_smooths_across_a_gap():
    # ten light and nine heavy queries: the plain median is the heaviest
    # light one, and one light query turning heavy flips it to a heavy one
    light = [(f"l{i}", 0.3 + 0.01 * i) for i in range(10)]
    heavy = [(f"h{i}", 1.0 + 0.01 * i) for i in range(9)]
    before = topo_batch.mix_percentile(light + heavy, 50)
    after = topo_batch.mix_percentile(light[:9] + [("l9", 1.09)] + heavy, 50)
    assert 0.39 < before < after < 1.0
    assert after - before < 0.5 * (1.0 - 0.39)


def test_beta_cdf_matches_closed_forms():
    x = [0.0, 0.1, 0.5, 0.8, 1.0]
    assert topo_batch.beta_cdf(x, 1, 1) == pytest.approx(x, abs=1e-6)
    assert topo_batch.beta_cdf(x, 2, 2) == pytest.approx([3 * v**2 - 2 * v**3 for v in x], abs=1e-6)
    assert topo_batch.beta_cdf(x, 10.5, 10.5)[2] == pytest.approx(0.5, abs=1e-6)


# -- CPU time --------------------------------------------------------------

def test_tree_cpu_counts_live_descendants_but_not_skipped_or_reaped_ones():
    burn = "import sys, time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass\nprint(flush=True)\nsys.stdin.read()"
    child = subprocess.Popen([sys.executable, "-c", burn], stdin=subprocess.PIPE, stdout=subprocess.PIPE)
    try:
        child.stdout.readline()  # it has burnt its 0.3 s and now waits
        counted, skipped = common.tree_cpu_s(), common.tree_cpu_s(frozenset({child.pid}))
        assert counted - skipped >= 0.25
    finally:
        child.stdin.close()
        child.wait()
        child.stdout.close()
    assert common.tree_cpu_s() < counted - 0.2  # a child this process reaped drops out


# -- the ladder ----------------------------------------------------------

def test_backlog_growth_detection():
    flat = [(t * 0.25, 200 + (t % 8) * 10) for t in range(80)]  # batch sawtooth, no trend
    growing = [(t * 0.25, 200 + t * 20) for t in range(80)]  # +80 rows/s at 400 ev/s
    assert not common.backlog_growing(flat, rate=100)
    assert common.backlog_growing(growing, rate=100)
    assert not common.backlog_growing(growing, rate=400, share=0.25)  # +80/s < a quarter of 400/s
    assert not common.backlog_growing([(0.0, 5)], rate=100)
    assert not common.backlog_growing([(0.0, 200), (4.0, 360)], rate=100)  # two troughs: not judged
    assert not common.backlog_growing([(0.0, 200), (4.0, 360), (8.0, 300)], rate=100)


def test_sustained_rate_is_highest_passing_step_below_first_failure():
    steps = [
        {"rate": 100, "tail_ms": 3000, "growing": False},
        {"rate": 200, "tail_ms": 4500, "growing": False},
        {"rate": 400, "tail_ms": 4000, "growing": True},
        {"rate": 800, "tail_ms": 4000, "growing": False},  # after a failure: not counted
    ]
    assert common.sustained_rate(steps, 5000) == 200
    assert common.sustained_rate(steps, 4000) == 100
    assert common.sustained_rate([{"rate": 100, "tail_ms": 6000, "growing": False}], 5000) == 0
    assert common.sustained_rate(list(reversed(steps)), 5000) == 200


def test_due_counts_carry_fractional_rates():
    ticks = streamgen.due_counts([(10, 1.0), (3, 2.0)], 0.25)
    assert len(ticks) == 12
    assert sum(n for _, n, r in ticks if r == 10) == 10
    assert sum(n for _, n, r in ticks if r == 3) == 6
    assert [t for t, _, _ in ticks][-1] == pytest.approx(3.0)


def test_backlog_at_counts_kept_events_not_yet_committed():
    ticks = [{"first_id": 0, "n": 20, "written_ms": 1000.0}, {"first_id": 20, "n": 10, "written_ms": 2000.0}]
    assert topo_stream.backlog_at(ticks, [], 500.0) == 0
    assert topo_stream.backlog_at(ticks, [], 1000.0) == 18  # ids 3 and 13 are filtered out
    commits = [900.0] * 5 + [1500.0]
    assert topo_stream.backlog_at(ticks, commits, 1000.0) == 13
    assert topo_stream.backlog_at(ticks, commits, 2000.0) == 27 - 6  # id 23 filtered out too


# -- spans -----------------------------------------------------------------

def _span(sid, parent, t0, t1, name="x", py4j=0, op="a"):
    return {"id": sid, "parent": parent, "op": op, "name": name, "t0": t0, "t1": t1, "py4j": py4j}


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span(0, None, 0.0, 10.0, "op", py4j=1),
        _span(1, 0, 1.0, 4.0, "build", py4j=5),
        _span(2, 1, 2.0, 3.0, "read", py4j=2),
        _span(3, 0, 3.5, 6.0, "exec"),  # overlaps build: covered once
        _span(4, 0, 9.0, 12.0, "late"),  # runs past its parent: clipped
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - (6.0 - 1.0) - (10.0 - 9.0))
    assert st[1] == pytest.approx(3.0 - 1.0)
    assert st[2] == pytest.approx(1.0)
    assert inclusive_py4j(spans) == {0: 8, 1: 7, 2: 2, 3: 0, 4: 0}
    tot = layer_totals(spans)
    assert tot["build"] == {"calls": 1, "self_s": pytest.approx(2.0), "py4j": 7}


def test_tracer_nests_spans_and_is_free_when_disabled():
    tr = Tracer()
    with tr.span("op", op="q#1"):
        pass
    assert tr.spans == []
    tr.enabled = True

    class Mod:
        @staticmethod
        def work(x):
            return x + 1

    tr.patch(Mod, "work", "mod.work")
    with tr.span("op", op="q#1"):
        assert Mod.work(1) == 2
    tr.unpatch()
    assert Mod.work(1) == 2 and len(tr.spans) == 2
    op, child = tr.spans
    assert child["parent"] == op["id"] and child["op"] == "q#1" and child["name"] == "mod.work"


def test_event_log_jobs_and_task_metrics(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0, 1],
         "Properties": {"perfbench.op": "q#1/exec"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor CPU Time": 2_000_000_000, "JVM GC Time": 500,
            "Shuffle Read Metrics": {"Remote Bytes Read": 1, "Local Bytes Read": 2},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 3},
            "Memory Bytes Spilled": 4, "Disk Bytes Spilled": 5}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1400, "Stage IDs": [2]},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2000},
    ]
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    (d / "events_1_app").write_text("\n".join(json.dumps(e) for e in events) + "\nnot json\n")
    jobs = parse_event_log(str(tmp_path))
    assert jobs[0]["props"]["perfbench.op"] == "q#1/exec"
    assert (jobs[0]["tasks"], jobs[0]["cpu_s"], jobs[0]["gc_s"]) == (1, 2.0, 0.5)
    assert (jobs[0]["shuffle_bytes"], jobs[0]["spill_bytes"]) == (6, 9)
    assert job_stats(list(jobs.values()))["wall_s"] == pytest.approx(1.0)  # 1.0–2.0 s, overlap once


# -- output checks -------------------------------------------------------

class _Type:
    def __init__(self, s):
        self.s = s

    def simpleString(self):
        return self.s


class _Field:
    def __init__(self, t):
        self.dataType = _Type(t)


class _Frame:
    """The slice of a Spark DataFrame the oracle check reads."""

    def __init__(self, cols, types, rows):
        self.columns = cols
        self.schema = type("S", (), {"fields": [_Field(t) for t in types]})()
        self.rows = rows

    def collect(self):
        return self.rows


def test_oracle_check_accepts_equal_and_rejects_wrong_output():
    con = duckdb.connect()
    sql = "SELECT * FROM (VALUES (1::BIGINT, 2.5::DOUBLE), (2, 3.0)) t(k, v)"
    good = _Frame(["v", "k"], ["double", "bigint"], [(3.0, 2), (2.5, 1)])
    assert oracle_mismatch(good, con, sql) == []
    wrong_value = _Frame(["k", "v"], ["bigint", "double"], [(1, 2.5), (2, 3.5)])
    assert oracle_mismatch(wrong_value, con, sql) == ["1 rows differ"]
    missing_row = _Frame(["k", "v"], ["bigint", "double"], [(1, 2.5)])
    assert oracle_mismatch(missing_row, con, sql) == ["rows 1 != 2"]
    hugeint = "SELECT sum(k) AS k, 1.0::DOUBLE AS v FROM (VALUES (1::BIGINT)) t(k)"
    assert oracle_mismatch(_Frame(["k", "v"], ["bigint", "double"], [(1, 1.0)]), con, hugeint)


def test_exactly_once_rejects_lost_and_duplicated_rows():
    assert exactly_once([1, 2, 4], [4, 2, 1]) == []
    assert exactly_once([1, 2, 4], [1, 2]) == ["1 expected rows missing"]
    assert exactly_once([1, 2, 4], [1, 2, 4, 4]) == ["1 unexpected or duplicate rows"]


def test_window_sum_check_rejects_a_wrong_sum():
    want = {(1, 0): 10, (1, 2000): 7}
    assert same_mapping(dict(want), want) == []
    assert same_mapping({(1, 0): 10, (1, 2000): 8}, want)
    assert same_mapping({(1, 0): 10}, want)
