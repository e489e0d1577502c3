"""bench.py's per-query layers: event-log grouping by query tag and the
codegen compile counter."""

import json
import time

from pyspark.sql import functions as F

from bench import QUERY_PROP, codegen_compiles, query_layers
from perfbench.tracing import parse_event_log


def _job(jid, t0, t1, tag, cpu_ns, stage):
    props = {QUERY_PROP: tag} if tag else {}
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t0,
         "Stage IDs": [stage], "Properties": props},
        {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Metrics": {
            "Executor CPU Time": cpu_ns, "JVM GC Time": 0,
            "Shuffle Read Metrics": {"Local Bytes Read": 100},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 20},
            "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 7}},
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": t1},
    ]


def test_event_log_groups_jobs_per_query(tmp_path):
    events = (
        _job(0, 1_000, 1_500, "a#0", 2e8, 0)
        + _job(1, 1_400, 2_000, "a#0", 3e8, 1)  # overlaps job 0: counted once
        + _job(2, 3_000, 3_250, None, 9e9, 2)  # untagged (warm-up): no query's
        + _job(3, 5_000, 5_200, "b#1", 1e8, 3)
    )
    (tmp_path / "local-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    layers = query_layers(
        parse_event_log(str(tmp_path)), {"a#0": (1.5, 4), "b#1": (0.5, 0)}
    )
    assert layers["a#0"] == {
        "jobs": 2, "job_wall_s": 1.0, "driver_gap_s": 0.5, "task_cpu_s": 0.5,
        "shuffle_bytes": 240, "spill_bytes": 14, "codegen_compiles": 4,
    }
    assert layers["b#1"]["jobs"] == 1
    assert layers["b#1"]["job_wall_s"] == 0.2
    assert layers["b#1"]["driver_gap_s"] == 0.3
    assert layers["b#1"]["task_cpu_s"] == 0.1


def test_codegen_counter_counts_compiles_not_cache_hits(spark):
    fresh = time.time_ns()  # a literal no earlier projection compiled

    def run():
        spark.range(10).select((F.col("id") + F.lit(fresh)).alias("x")).collect()

    before = codegen_compiles(spark)
    run()
    first = codegen_compiles(spark) - before
    run()
    again = codegen_compiles(spark) - before - first
    assert first >= 1
    assert again == 0
