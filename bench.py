"""Benchmark harness: runs every registered query, in registration
order, at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE COMPACT JSON line: {"metric",
"value", "unit", "queries" (top-10 only, so the line stays short),
"n_queries", "errors", "loadavg", "sf"}. The COMPLETE record (all
per-query timings, both raw passes, pass spread, host loadavg
before/after, and each query's layers) is written to BENCH_LAST.json
beside this file.

Execution is forced with the noop sink (full computation, no driver
collect). Each query timed individually; "value" is the total.

Each query's ``layers`` come from the pass whose wall time is kept:
the Spark jobs it ran (tagged with the local property
``QUERY_PROP`` = ``<query>#<pass>`` and read back from Spark's event
log with perfbench's parser), their wall time and the driver gap left
over, the task CPU time, shuffle and spill bytes, and the classes
Spark's code generator compiled during the call.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

QUERY_PROP = "willa.bench.query"


def spark_session(
    app: str,
    event_log_dir: str | None = None,
    cpus: int | None = None,
    driver_memory: str | None = None,
    conf: dict[str, str] | None = None,
):
    """(spark, cpus) under the benchmark configuration: local[$cpus],
    AQE on, Arrow on, UTC, UI off, and NO console stage-progress \\r
    spam on stdout (a bench line pushed out of a reader's tail window
    by progress-bar output is unparseable). With ``event_log_dir``,
    Spark writes its uncompressed event log there. Every measurement
    that must compare with the bench (tools/capture_plans.py) builds
    its session here, and so do the test suite and the parity check,
    each with its own ``cpus`` and ``driver_memory`` (defaults:
    $SPARK_GRAFT_CPUS or 32, $SPARK_GRAFT_DRIVER_MEM or 48g) and any
    extra ``conf``."""
    from pyspark.sql import SparkSession

    cpus = str(cpus or os.environ.get("SPARK_GRAFT_CPUS", "32"))
    driver_memory = driver_memory or os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g")
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    for key, value in (conf or {}).items():
        b = b.config(key, value)
    if event_log_dir:
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.dir", event_log_dir)
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, cpus


def codegen_compiles(spark) -> int:
    """Classes Spark's code generator has compiled in this JVM so far.
    In local mode the driver and the executors share the counter; a
    cache hit compiles nothing."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def query_layers(jobs: dict[int, dict], calls: dict[str, tuple[float, int]]):
    """Tag → layers of that call, for every tag in ``calls`` (tag →
    (wall s, codegen compiles)). ``jobs`` is ``parse_event_log``'s
    output; a job is counted for the call whose tag its ``QUERY_PROP``
    holds, and an untagged job for none."""
    from perfbench.tracing import job_stats

    by_tag: dict[str, list[dict]] = {tag: [] for tag in calls}
    for job in jobs.values():
        tagged = by_tag.get(job["props"].get(QUERY_PROP))
        if tagged is not None:
            tagged.append(job)
    out = {}
    for tag, (wall, compiles) in calls.items():
        js = job_stats(by_tag[tag])
        out[tag] = {
            "jobs": js["jobs"],
            "job_wall_s": round(js["wall_s"], 3),
            "driver_gap_s": round(wall - js["wall_s"], 3),
            "task_cpu_s": round(js["cpu_s"], 3),
            "shuffle_bytes": js["shuffle_bytes"],
            "spill_bytes": js["spill_bytes"],
            "codegen_compiles": compiles,
        }
    return out


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else -1.0
    evdir = tempfile.mkdtemp(prefix="willa-bench-eventlog-")
    try:
        return _run(sf_dir, sf, evdir)
    finally:
        shutil.rmtree(evdir, ignore_errors=True)


def _run(sf_dir: str, sf: float, evdir: str) -> int:
    spark, cpus = spark_session("willa_spark-bench", evdir)
    from pyspark.sql import functions as F

    from perfbench.tracing import parse_event_log
    from willa_spark.queries import QUERIES
    from willa_spark.sources import read_table, table_names

    # untimed warmup: touch every table once so the timed loop measures
    # query execution, not first-scan JVM/codegen/file-listing warmup
    for t in table_names():
        try:
            read_table(spark, sf_dir, t).count()
        except Exception:
            pass
    # ...and warm the Python/Arrow worker pool: the first pandas_udf
    # call in a session pays interpreter spawn + pandas/numpy import on
    # every worker, which is session startup, not query cost.
    warm = F.pandas_udf(lambda s: s, "long")
    spark.range(0, 10_000, 1, int(cpus)).select(warm("id").alias("x")).write.format(
        "noop"
    ).mode("overwrite").save()

    # Two full passes, report the per-query min. The host is shared, so
    # a single sample conflates query cost with neighbour noise; both
    # samples are recorded, so a per-query spread >>1 flags the noise.
    sc = spark.sparkContext
    load_before = _loadavg()
    passes: dict[str, list[float]] = {name: [] for name in QUERIES}
    calls: dict[str, tuple[float, int]] = {}  # "<query>#<pass>" -> (wall s, compiles)
    for p in range(2):
        for name, fn in QUERIES.items():
            tag = f"{name}#{p}"
            sc.setLocalProperty(QUERY_PROP, tag)
            compiled = codegen_compiles(spark)
            t0 = time.perf_counter()
            try:
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                wall = round(time.perf_counter() - t0, 3)
                passes[name].append(wall)
                calls[tag] = (wall, codegen_compiles(spark) - compiled)
            except Exception as e:  # keep the bench line parseable no matter what
                print(f"bench error in {name}: {e}", file=sys.stderr)
            # queries are self-contained: drop their persisted frames so
            # one query's cache doesn't squeeze memory for the next
            spark.catalog.clearCache()
            sc.setLocalProperty(QUERY_PROP, None)
    load_after = _loadavg()
    spark.stop()  # closes the event log, so every job's end is in it
    by_tag = query_layers(parse_event_log(evdir), calls)
    timings = {name: (min(ts) if ts else -1.0) for name, ts in passes.items()}
    # the layers of the pass whose wall time is kept (the first on a tie)
    layers = {}
    for name in QUERIES:
        kept = [t for t in (f"{name}#0", f"{name}#1") if t in calls]
        if kept:
            layers[name] = by_tag[min(kept, key=lambda t: calls[t][0])]
    errors = sum(1 for t in timings.values() if t < 0)
    total = round(sum(t for t in timings.values() if t >= 0), 3)
    # spread = slower/faster pass; >~2 on many queries = noisy window
    spread = {
        name: round(max(ts) / max(min(ts), 1e-9), 2)
        for name, ts in passes.items()
        if len(ts) == 2
    }
    common = {"metric": "headline_queries_total_wall", "value": total, "unit": "sec"}
    detail = json.dumps({
        **common, "queries": timings, "passes": passes, "pass_spread": spread,
        "layers": layers, "loadavg_before": load_before, "loadavg_after": load_after,
        "n_queries": len(QUERIES), "errors": errors, "sf": sf,
    })
    # BENCH_LAST.json is the stable pointer; the file keyed by core
    # count + sf keeps a run at other settings from clobbering it
    here = os.path.dirname(os.path.abspath(__file__))
    keyed = f"BENCH_DETAIL_{cpus}c_sf{sf}.json"
    for fname in ("BENCH_LAST.json", keyed):
        out_path = os.path.join(here, fname)
        try:
            with open(out_path, "w") as f:
                f.write(detail + "\n")
        except OSError as e:
            print(f"bench: could not write {out_path}: {e}", file=sys.stderr)
    # stdout gets a compact line: totals, host load and the 10 most
    # expensive queries; full per-query detail lives in BENCH_LAST.json
    top = dict(sorted(((k, v) for k, v in timings.items() if v >= 0),
                      key=lambda kv: -kv[1])[:10])
    print(json.dumps({
        **common, "queries": top, "n_queries": len(QUERIES), "errors": errors,
        "loadavg": [load_before, load_after],
        "max_pass_spread": sorted(spread.items(), key=lambda kv: -kv[1])[:5],
        "detail": "BENCH_LAST.json", "detail_keyed": keyed, "sf": sf,
    }), flush=True)
    return 0


def _loadavg() -> list[float]:
    """1/5/15-minute host load: records whether a bench window was noisy."""
    try:
        return [round(x, 2) for x in os.getloadavg()]
    except OSError:  # pragma: no cover
        return []


if __name__ == "__main__":
    raise SystemExit(main())
