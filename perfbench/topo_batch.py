"""``topo_batch``: the batch engine driven through the topology DSL.

One client in a closed loop calls the registry queries that go through
``run_topology`` in a fixed order, on freshly generated sf0.01 tables, and
writes each result to the noop sink; one operation is one call plus its
write. Before timing, one untimed pass collects every query and compares
it with its DuckDB oracle; the pass is also the warm-up.

A timed run reports the CPU time one operation costs the driver, the JVM
and Spark's Python workers. Its wall time follows how busy the host's
other guests are, so it goes to the traced run's ``e2e.*`` metrics.
"""

from __future__ import annotations

import json
import os
import time
from collections import Counter
from concurrent.futures import ThreadPoolExecutor

import numpy as np

from . import datagen
from .checks import oracle_mismatch
from .common import cores, log, make_session, stop_session, tail_pct, tree_cpu_s
from .tracing import Tracer, catalyst_phases_ms, job_stats, layer_totals, parse_event_log

QUERIES = (
    "filter_map", "fanout_flatmap", "merge_streams", "running_sum_changelog",
    "interval_join", "asof_enrich", "broadcast_enrich", "table_table_asof",
    "windowed_left_join", "windowed_outer_join", "nary_join_fold", "group_by_fn_agg",
    "suppressed_window_final", "regrouped_retraction", "with_dedupe_first",
    "rekey_fanout", "value_only_rekey", "rekey_transform", "changelog_filter",
)
OP_PROP = "perfbench.op"


def _patch_layers(tracer: Tracer) -> None:
    import willa_spark.batch as batch
    import willa_spark.queries as queries

    tracer.patch(queries, "read_table", "sources.read_table")
    tracer.patch(queries, "run_topology", "batch.run_topology")
    tracer.patch(batch, "validate", "validate")
    tracer.count_py4j()


def check_pass(spark, data: str, tables: list[str], con) -> dict[str, list[str]]:
    """Each query against its DuckDB oracle, then once to the noop sink,
    one thread per core: the queries are independent, and running them
    side by side halves the cold first pass that precedes timing."""
    from willa_spark.queries import ORACLE_SQL, QUERIES as REGISTRY

    for t in tables:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")

    def check(name: str) -> list[str]:
        try:
            problems = oracle_mismatch(REGISTRY[name](spark, data), con.cursor(), ORACLE_SQL[name])
            # the noop write plans and compiles code of its own; without this
            # warm-up a query's first timed call costs up to twice its second
            REGISTRY[name](spark, data).write.format("noop").mode("overwrite").save()
            return problems
        except Exception as e:  # a failing query is a wrong output, reported by name
            return [f"{type(e).__name__}: {e}"]

    with ThreadPoolExecutor(cores()) as pool:
        problems = dict(zip(QUERIES, pool.map(check, QUERIES)))
    spark.catalog.clearCache()
    return problems


def run(seed: int, seconds: float, trace: bool, work: str, t_process: float) -> dict:
    import duckdb

    data = os.path.join(work, "data")
    tables = datagen.write(seed, data)
    spark = make_session(work, "perfbench-topo_batch", event_log=trace)
    try:
        from willa_spark.queries import QUERIES as REGISTRY

        t_check = time.perf_counter()
        problems = check_pass(spark, data, tables, duckdb.connect())
        log(f"topo_batch: session up at {t_check - t_process:.1f} s, output checks took {time.perf_counter() - t_check:.1f} s")
        bad = {k: v for k, v in problems.items() if v}
        for name, p in bad.items():
            log(f"check failed: {name}: {'; '.join(p)}")
        tracer = Tracer()
        if trace:
            _patch_layers(tracer)
        setup_s = time.perf_counter() - t_process
        sc = spark.sparkContext
        walls: list[tuple[str, float]] = []  # (query, seconds) of untraced calls
        cpus: dict[str, list[float]] = {}  # query -> CPU seconds of its untraced calls
        overheads: list[float] = []  # traced minus untraced seconds, per traced call
        phases: dict[str, dict[str, float]] = {}
        failed = 0
        t0 = time.perf_counter()
        deadline = t0 + seconds
        i = 0
        # at least one full pass, so every query is in the percentiles and the layer means
        while i < len(QUERIES) or time.perf_counter() < deadline:
            name = QUERIES[i % len(QUERIES)]
            # a traced run calls each query twice, traced and untraced, in
            # alternating order so the warmer second call favours neither
            modes = ((False, True) if i % 2 else (True, False)) if trace else (False,)
            took, cpu = {}, 0.0
            for traced in modes:
                op = f"{name}#{i}{'t' if traced else 'u'}"
                tracer.enabled = traced
                try:
                    cpu0 = tree_cpu_s()
                    start = time.perf_counter()
                    with tracer.span("op", op=op):
                        sc.setLocalProperty(OP_PROP, f"{op}/build")
                        with tracer.span("build"):
                            df = REGISTRY[name](spark, data)
                        sc.setLocalProperty(OP_PROP, f"{op}/exec")
                        with tracer.span("exec"):
                            df.write.format("noop").mode("overwrite").save()
                    took[traced] = time.perf_counter() - start
                    if traced:
                        phases[op] = catalyst_phases_ms(df)
                    else:
                        cpu = tree_cpu_s() - cpu0
                except Exception as e:  # counted against fail_ratio, the loop goes on
                    failed += 1
                    log(f"{op} failed: {type(e).__name__}: {e}")
                sc.setLocalProperty(OP_PROP, None)
                spark.catalog.clearCache()
            i += 1
            if False in took:
                walls.append((name, took[False]))
                cpus.setdefault(name, []).append(cpu)
            if len(took) == 2:
                overheads.append(took[True] - took[False])
        elapsed = time.perf_counter() - t0
        tracer.enabled = False
        tracer.unpatch()
    finally:
        stop_session(spark)

    attempted = i * (2 if trace else 1) + len(QUERIES)
    failed += len(bad)
    result = {"correct": not bad, "attempted": attempted, "failed": failed}
    if not walls:
        raise RuntimeError("no query completed inside the measured window")
    p_tail = tail_pct(len(walls))
    log(f"topo_batch: {len(walls)} ops in {elapsed:.2f} s, tail = p{p_tail:g}")
    log("op walls s", json.dumps([(q, round(w, 4)) for q, w in walls]))
    log("op cpu s", json.dumps({q: [round(c, 3) for c in cs] for q, cs in cpus.items()}))
    if not trace:
        # every query weighted equally, so the part of a pass that fits in
        # the window does not tilt the mix toward the queries it ran twice
        cpu_ms = 1000 * float(np.mean([np.mean(cs) for cs in cpus.values()]))
        result["metrics"] = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "cpu_ms_per_op": {"value": cpu_ms, "unit": "ms"},
        }
        return result
    result["layers"] = batch_layers(tracer, phases, os.path.join(work, "eventlog")) | {
        "e2e.latency_p50_ms": mix_percentile(walls, 50) * 1000,
        "e2e.latency_tail_ms": mix_percentile(walls, p_tail) * 1000,
        "trace.overhead_ms": float(np.median(overheads)) * 1000 if overheads else 0.0,
    }
    result["spans"] = tracer.spans
    return result


def mix_percentile(walls, p: float) -> float:
    """Percentile ``p`` (0 < p < 100) of the operation walls, every query
    weighted equally, so the part of a pass that fits in the window does
    not tilt the mix toward the queries it ran twice.

    It is the Harrell–Davis estimate, a Beta-weighted mean of all the
    ordered walls, with Kish's effective sample size for the weights. The
    walls fall into light and heavy queries with the median in the gap
    between them, where the one or two samples nearest the percentile jump
    from run to run; the weighted mean moves smoothly."""
    runs = Counter(q for q, _ in walls)
    pts = sorted((w, 1.0 / runs[q]) for q, w in walls)
    values, weights = np.array([v for v, _ in pts]), np.array([w for _, w in pts])
    n = weights.sum() ** 2 / (weights**2).sum()
    edges = np.concatenate([[0.0], np.cumsum(weights) / weights.sum()])
    q = p / 100.0
    return float(np.dot(np.diff(beta_cdf(edges, q * (n + 1), (1 - q) * (n + 1))), values))


def beta_cdf(x, a: float, b: float, grid: int = 4000):
    """The regularised incomplete beta function I_x(a, b), by the
    midpoint rule on ``grid`` cells over [0, 1]."""
    t = (np.arange(grid) + 0.5) / grid
    log_pdf = (a - 1) * np.log(t) + (b - 1) * np.log1p(-t)
    cdf = np.concatenate([[0.0], np.cumsum(np.exp(log_pdf - log_pdf.max()))])
    return np.interp(x, np.linspace(0.0, 1.0, grid + 1), cdf / cdf[-1])


def batch_layers(tracer: Tracer, phases: dict, evdir: str) -> dict[str, float]:
    """Per-operation means of each layer over the traced operations."""
    spans = tracer.spans
    n = sum(1 for s in spans if s["name"] == "op")
    tot = layer_totals(spans)

    def per_op(name, key):
        return tot.get(name, {}).get(key, 0) / n

    # the jobs each traced operation's noop write ran, grouped per operation
    exec_tags = {f"{s['op']}/exec" for s in spans if s["name"] == "op"}
    by_op: dict[str, list[dict]] = {}
    for j in parse_event_log(evdir).values():
        tag = j["props"].get(OP_PROP)
        if tag in exec_tags:
            by_op.setdefault(tag, []).append(j)
    js = job_stats([j for jobs in by_op.values() for j in jobs])
    job_wall = sum(job_stats(jobs)["wall_s"] for jobs in by_op.values())
    exec_wall = tot.get("exec", {}).get("self_s", 0.0)
    opt_plan_s = sum(p["optimization"] + p["planning"] for p in phases.values()) / 1000
    def mean_wall(name):
        return sum(s["t1"] - s["t0"] for s in spans if s["name"] == name) / n

    # the blocking steps of one call: build (with the spans under it) then the noop write
    log(f"topo_batch: traced op wall {mean_wall('op'):.3f} s = build {mean_wall('build'):.3f} s"
        f" + exec {mean_wall('exec'):.3f} s + {tot['op']['self_s'] / n:.3f} s between")
    return {
        "sources.read_table.calls": per_op("sources.read_table", "calls"),
        "sources.read_table.s": per_op("sources.read_table", "self_s"),
        "validate.s": per_op("validate", "self_s"),
        "batch.run_topology.s": per_op("batch.run_topology", "self_s"),
        "build.s": per_op("build", "self_s"),
        "build.py4j_calls": per_op("build", "py4j"),
        "catalyst.analysis_ms": sum(p["analysis"] for p in phases.values()) / n,
        "catalyst.optimization_ms": sum(p["optimization"] for p in phases.values()) / n,
        "catalyst.planning_ms": sum(p["planning"] for p in phases.values()) / n,
        "exec.s": max(0.0, exec_wall - opt_plan_s) / n,
        "exec.jobs": js["jobs"] / n,
        "exec.job_wall_s": job_wall / n,
        "exec.driver_gap_s": max(0.0, exec_wall - job_wall) / n,
        "exec.task_cpu_s": js["cpu_s"] / n,
        "exec.gc_s": js["gc_s"] / n,
        "exec.shuffle_bytes": js["shuffle_bytes"] / n,
        "exec.spill_bytes": js["spill_bytes"] / n,
        "trace.ops": n,
    }
