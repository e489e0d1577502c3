"""``topo_stream``: the flagship topology on Structured Streaming.

An open loop: ``streamgen.py`` runs as its own process and writes
``events`` at a fixed rate, and ``orders`` at a tenth of it, into a file
source. ``StreamingTopologyRunner.build`` compiles the topology once. It
has two leaves, each with a benchmark-owned ``foreachBatch`` sink:

- ``enriched``: events → filter/map kstream → left as-of join with the
  orders ktable. The sink lands each micro-batch in a store
  (``store_append``, compacted every few batches) and reads the written
  partition back; a row counts as committed then.
- ``wsum``: events → tumbling-window KTable sum, kept by the sink as the
  latest value per (key, window).

One operation is one event that passes the filter. A timed run reports
the CPU time the driver, the JVM and Spark's Python workers spend from
the window's first write to the commit of its last event, per operation;
the generator's is left out. An event's latency runs from its creation
stamp to the commit of its enriched row; the traced run reports it, as
it follows the trigger interval more than the program. A traced run adds
ladder steps at higher rates after the base window, to find the highest
rate that keeps the tail latency within the limit without a growing
backlog.
"""

from __future__ import annotations

import bisect
import json
import os
import subprocess
import sys
import threading
import time

import numpy as np

from .checks import exactly_once, same_mapping
from .common import backlog_growing, log, make_session, stop_session, sustained_rate, tail_pct, tree_cpu_s
from .streamgen import due_counts
from .tracing import Tracer, inclusive_py4j, layer_totals, parse_event_log

BASE_RATE = 100  # events/s in the measured window
LADDER = (1000, 4000, 16000)  # events/s, traced runs only, one step each after the base window
LADDER_S = 12.0  # seconds per ladder step
WARM_S = 3.0  # untimed warm-up at the base rate, drained before timing
# A base-rate micro-batch takes 2-3 s on two task slots; a longer trigger
# keeps the engine below saturation, where latency follows the batch wall
# instead of a queue that flips between idle and back-to-back. A window
# of a whole number of triggers then holds the same number of micro-batches
# in every run, and each costs about the same CPU whatever its size.
TRIGGER = "5 seconds"
# The limit a ladder step's tail latency must meet. An event waits for the
# next trigger, up to 5 s, then for that micro-batch's wall, so the tail
# sits near 7 s at any rate; a limit below that floor passes no rate.
LATENCY_LIMIT_MS = 10_000.0
KEYS = 200
TICK_S = 0.25  # the generator writes one file per tick
WINDOW_MS = 2_000
COMPACT_EVERY = 4
SCHEMA = "key bigint, value bigint, timestamp bigint"


def kept(event_id: int) -> bool:
    """The kstream filter, on an event id or its Column: ids ending in 3 drop."""
    return event_id % 10 != 3


def topology(suppress_windows: bool = False) -> dict:
    from willa_spark import Aggregate, Compose, FilterRecords, MapValues, TumblingWindow

    window = {
        "type": "ktable",
        "window": TumblingWindow(WINDOW_MS),
        "aggregate": Aggregate.sum(),
        "emit_window": True,
    }
    if suppress_windows:
        window.update(suppress=True, watermark="0 milliseconds")
    return {
        "entities": {
            "events": {"type": "topic"},
            "orders": {"type": "topic"},
            "s": {
                "type": "kstream",
                "xform": Compose([FilterRecords(lambda k, v: kept(v)), MapValues(lambda v: v * 2)]),
            },
            "t": {"type": "ktable"},
            "joined": {"type": "kstream"},
            "enriched": {"type": "topic"},
            "w": window,
            "wsum": {"type": "topic"},
        },
        "workflow": [
            ("events", "s"), ("orders", "t"), ("s", "joined"), ("t", "joined"),
            ("joined", "enriched"), ("events", "w"), ("w", "wsum"),
        ],
        "joins": {("s", "t"): {"type": "left"}},
    }


class EnrichedSink:
    """foreachBatch sink of the enriched leaf: store, read back, stamp."""

    def __init__(self, spark, store_dir: str, tracer: Tracer):
        self.spark, self.dir, self.tracer = spark, store_dir, tracer
        self.rows: list[tuple[int, int, float]] = []  # (event id, created ms, committed ms)
        self.lock = threading.Lock()

    def __call__(self, df, batch_id: int) -> None:
        from pyspark.sql import functions as F
        from willa_spark.streaming import store

        tr = self.tracer
        with tr.span("step", op=f"enriched:{batch_id}"):
            store.store_compact_every(self.spark, [(self.dir, None)], batch_id, COMPACT_EVERY)
            out = df.select(F.col("value")[0].alias("v"), F.unix_millis("timestamp").alias("ts"))
            with tr.span("store.append"):
                wrote = store.store_append(out, self.dir, batch_id)
            rows = []
            if wrote:
                with tr.span("store.read"):
                    rows = store.store_read_batch(self.spark, self.dir, batch_id).collect()
            with tr.span("sink"):
                now = time.time() * 1000
                with self.lock:
                    self.rows.extend((v // 2, ts, now) for v, ts in rows)


class WindowSink:
    """foreachBatch sink of the windowed-sum leaf (update mode): the
    latest sum per (key, window start)."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.sums: dict[tuple[int, int], int] = {}

    def __call__(self, df, batch_id: int) -> None:
        with self.tracer.span("wsum.step", op=f"wsum:{batch_id}"):
            for k, win, v in df.select("key", "value.win", "value.v").collect():
                self.sums[(k, win)] = v


class Generator:
    """One run of ``streamgen.py`` in its own process. The process starts
    and imports at once, then waits for ``begin`` to set its schedule
    going, so its start-up never makes the first ticks late."""

    def __init__(self, inp: str, tag: str, seed: int, first_id: int, steps: list[tuple[float, float]]):
        self.path = os.path.join(inp, f"ticks-{tag}.jsonl")
        self.seconds = sum(s for _, s in steps)
        self.events = sum(n for _, n, _ in due_counts(steps, TICK_S))
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(__file__), "streamgen.py"), inp, tag, str(seed),
             str(TICK_S), str(KEYS), str(first_id)] + [f"{r}:{s}" for r, s in steps],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )

    def begin(self) -> float:
        """Wait until the process is ready and start its schedule now;
        the start, in epoch seconds."""
        if self.proc.stdout.readline().strip() != "ready":
            raise RuntimeError("the stream generator exited before it was ready")
        start = time.time()
        self.proc.stdin.write(f"{start!r}\n")
        self.proc.stdin.flush()
        return start

    def finish(self) -> list[dict]:
        """Wait for the schedule to end; its ticks, one dict each."""
        self.proc.wait(timeout=self.seconds + 60)
        with open(self.path) as f:
            return [json.loads(line) for line in f]

    def close(self) -> None:
        """Stop the process if it still runs, and wait for it."""
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait()
        self.proc.stdin.close()
        self.proc.stdout.close()


def batch_window_sums(spark, events_dir: str) -> dict[tuple[int, int], int]:
    """The same windowed sum through the batch engine, final per window."""
    from pyspark.sql import functions as F
    from willa_spark import run_topology
    from willa_spark.operators.aggregates import SEQ

    ents = topology(suppress_windows=True)["entities"]
    src = spark.read.parquet(events_dir).withColumn(SEQ, F.col("value"))
    batch_topo = {
        "entities": {"events": {"type": "topic", "source": src}, "w": ents["w"], "wsum": ents["wsum"]},
        "workflow": [("events", "w"), ("w", "wsum")],
    }
    out = run_topology(spark, batch_topo)["wsum"]
    return {(k, v[0]): v[1] for k, v in out.select("key", "value").collect()}


def backlog_at(ticks: list[dict], commits: list[float], at_ms: float) -> int:
    """Kept events written by ``at_ms`` and not yet committed then;
    ``commits`` holds every committed row's commit time, sorted."""
    n = max((t["first_id"] + t["n"] for t in ticks if t["written_ms"] <= at_ms), default=0)
    kept_ids = n - (n + 6) // 10  # ids below n that do not end in 3
    return kept_ids - bisect.bisect_right(commits, at_ms)


def run(seed: int, seconds: float, trace: bool, work: str, t_process: float) -> dict:
    from willa_spark.streaming import StreamingTopologyRunner, compiler, store

    tracer = Tracer()
    inp, store_dir = os.path.join(work, "in"), os.path.join(work, "enriched_store")
    for e in ("events", "orders"):
        os.makedirs(os.path.join(inp, e))
    steps = [(BASE_RATE, seconds)] + ([(r, LADDER_S) for r in LADDER] if trace else [])
    # both generators import while Spark starts, then wait for their turn
    warm = Generator(inp, "warm", seed, 0, [(BASE_RATE, WARM_S)])  # untimed warm-up input
    gen = Generator(inp, "main", seed, warm.events, steps)
    try:
        spark = make_session(work, "perfbench-topo_stream", event_log=trace)
        try:
            warm.begin()
            if trace:
                tracer.patch(store, "store_compact", "store.compact")
                tracer.patch(compiler, "validate", "validate")
                tracer.count_py4j()
            tracer.enabled = trace
            with tracer.span("streaming.build", op="build"):
                runner = StreamingTopologyRunner(spark, topology())
                built = runner.build({
                    e: spark.readStream.schema(SCHEMA).parquet(os.path.join(inp, e)) for e in ("events", "orders")
                })
            tracer.enabled = False
            enriched, wsum = EnrichedSink(spark, store_dir, tracer), WindowSink(tracer)
            queries = {
                leaf: built[leaf].writeStream.foreachBatch(sink)
                .outputMode(runner.output_mode_for(leaf))
                .option("checkpointLocation", os.path.join(work, "chk", leaf))
                .trigger(processingTime=TRIGGER)
                .start()
                for leaf, sink in (("enriched", enriched), ("wsum", wsum))
            }
            warm_ticks = warm.finish()
            for q in queries.values():  # drain the warm-up before timing starts
                q.processAllAvailable()
            gens = frozenset((warm.proc.pid, gen.proc.pid))
            cpu0 = tree_cpu_s(gens)
            w0 = gen.begin()  # the measured window opens here
            w1 = w0 + seconds
            setup_s = time.perf_counter() - t_process
            if trace:  # trace the second half of the base window
                time.sleep(max(0.0, w0 + seconds / 2 - time.time()))
                tracer.enabled = True
                time.sleep(max(0.0, w1 - time.time()))
                tracer.enabled = False
            ticks = warm_ticks + gen.finish()
            want = [i for i in range(sum(t["n"] for t in ticks)) if kept(i)]
            for q in queries.values():
                q.processAllAvailable()
            cpu_s = tree_cpu_s(gens) - cpu0  # every event of the window, from write to commit
            progress = {leaf: list(q.recentProgress) for leaf, q in queries.items()}
            query_ids = {leaf: q.id for leaf, q in queries.items()}
            for q in queries.values():
                q.stop()
            tracer.unpatch()
            got = [r[0] // 2 for r in store.store_read(spark, store_dir).select("v").collect()]
            problems = [f"enriched: {p}" for p in exactly_once(want, got)]
            sums = batch_window_sums(spark, os.path.join(inp, "events"))
            problems += [f"wsum: {p}" for p in same_mapping(wsum.sums, sums)]
            store_bytes = sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(store_dir) for f in fs)
            store_parts = len(store.store_partitions(store_dir))
        finally:
            stop_session(spark)
    finally:
        warm.close()
        gen.close()
    for p in problems:
        log(f"check failed: {p}")

    late_ids: set[int] = set()  # events of ticks written more than a tick late
    for t in ticks:
        if t["written_ms"] - t["due_ms"] > TICK_S * 1000:
            late_ids.update(range(t["first_id"], t["first_id"] + t["n"]))
    committed = {i: (ts, c) for i, ts, c in enriched.rows}

    def window(lo_s, hi_s):
        """(latency ms, commit ms) of kept on-time events due in
        [lo_s, hi_s), and how many were late or never committed."""
        lat, lost = [], 0
        for t in ticks:
            if lo_s * 1000 <= t["due_ms"] < hi_s * 1000:
                for i in range(t["first_id"], t["first_id"] + t["n"]):
                    if not kept(i):
                        continue
                    if i in late_ids or i not in committed:
                        lost += 1
                    else:
                        ts, c = committed[i]
                        lat.append((c - ts, c))
        return lat, lost

    lat, lost = window(w0, w1)
    if not lat:
        raise RuntimeError("no event committed inside the measured window")
    ms = [x for x, _ in lat]
    p_tail = tail_pct(len(ms))
    log(f"topo_stream: {len(ms)} events, {lost} late or lost, tail = p{p_tail:g}")
    log("enriched batch walls ms", [p["durationMs"].get("triggerExecution") for p in progress["enriched"] if p["numInputRows"]])
    result = {"correct": not problems, "attempted": len(lat) + lost, "failed": lost + len(problems)}
    if not trace:
        result["metrics"] = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "cpu_ms_per_op": {"value": 1000 * cpu_s / (len(lat) + lost), "unit": "ms"},
        }
        return result

    ladder, t_lo = [], w0
    commits = sorted(c for _, _, c in enriched.rows)
    for rate, secs in [(BASE_RATE, seconds)] + [(r, LADDER_S) for r in LADDER]:
        lo, hi = t_lo * 1000, (t_lo + secs) * 1000
        xs = [x for x, _ in window(t_lo, t_lo + secs)[0]]
        # right after each commit the backlog is at the trough of its
        # sawtooth; the step's first commit still drains the previous rate
        troughs = [(c / 1000, backlog_at(ticks, commits, c)) for c in sorted(set(commits)) if lo <= c < hi][1:]
        ladder.append({
            "rate": rate,
            "tail_ms": np.percentile(xs, tail_pct(len(xs))) if xs else float("inf"),
            "growing": backlog_growing(troughs, rate),
        })
        t_lo += secs
    log("ladder", json.dumps(ladder))
    # rows waiting whenever the generator wrote a tick of the base window
    waiting = [backlog_at(ticks, commits, t["written_ms"]) for t in ticks if w0 * 1000 <= t["due_ms"] < w1 * 1000]
    result["layers"] = stream_layers(
        tracer, progress, query_ids, (w0, w0 + seconds / 2, w1), ticks, os.path.join(work, "eventlog"),
    ) | {
        "source.backlog_rows": sum(waiting) / max(1, len(waiting)),
        "store.bytes": store_bytes,
        "store.partitions": store_parts,
        "ladder.sustained_eps": sustained_rate(ladder, LATENCY_LIMIT_MS),
        "e2e.latency_p50_ms": float(np.percentile(ms, 50)),
        "e2e.latency_tail_ms": float(np.percentile(ms, p_tail)),
    }
    result["spans"] = tracer.spans
    return result


def stream_layers(tracer, progress, query_ids, window, ticks, evdir) -> dict[str, float]:
    """Per-batch means of each layer over the measured base window
    (start, start of tracing, end); state is summed over both queries, the
    rest is the enriched leaf's."""
    from datetime import datetime

    w0, t_on, w1 = window
    spans = tracer.spans
    tot = layer_totals(spans)
    steps = [s for s in spans if s["name"] == "step"]  # the enriched leaf's
    n_steps = max(1, len(steps))
    p4 = inclusive_py4j(spans)
    build = [s for s in spans if s["name"] == "streaming.build"]

    def per_step(name, key):
        return tot.get(name, {}).get(key, 0) / n_steps

    def at(p):
        return datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()

    # micro-batches of the enriched query, the one on the latency path
    batches = [p for p in progress["enriched"] if w0 <= at(p) < w1 and p["numInputRows"] > 0]
    nb = max(1, len(batches))

    def dur(k, ps=batches):
        return sum(p["durationMs"].get(k, 0) for p in ps) / max(1, len(ps))

    # batch walls started with tracing on, less those started with it off
    traced = [p for p in batches if at(p) >= t_on]
    untraced = [p for p in batches if at(p) < t_on]
    overhead = dur("triggerExecution", traced) - dur("triggerExecution", untraced) if traced and untraced else 0.0

    # state size at the end of the window, summed over both queries
    last = [[p for p in ps if at(p) < w1][-1:] for ps in progress.values()]
    end_state = [so for ps in last for p in ps for so in p.get("stateOperators", [])]
    step_keys = {(query_ids["enriched"], s["op"].split(":")[1]) for s in steps}
    step_jobs = sum(
        1 for j in parse_event_log(evdir).values()
        if (j["props"].get("sql.streaming.queryId"), j["props"].get("streaming.sql.batchId")) in step_keys
    )
    win_ticks = [t for t in ticks if w0 * 1000 <= t["due_ms"] < w1 * 1000]
    return {
        "validate.s": tot.get("validate", {}).get("self_s", 0.0),
        "streaming.build.s": sum(s["t1"] - s["t0"] for s in build),
        "streaming.build.py4j_calls": sum(p4[s["id"]] for s in build),
        "microbatch.batches": len(batches),
        "microbatch.rows_per_batch": sum(p["numInputRows"] for p in batches) / nb,
        "microbatch.trigger_ms": dur("triggerExecution"),
        "microbatch.addBatch_ms": dur("addBatch"),
        "microbatch.getBatch_ms": dur("getBatch"),
        "microbatch.latestOffset_ms": dur("latestOffset"),
        "microbatch.queryPlanning_ms": dur("queryPlanning"),
        "microbatch.walCommit_ms": dur("walCommit"),
        "microbatch.commitOffsets_ms": dur("commitOffsets"),
        "state.rows_total": sum(so.get("numRowsTotal", 0) for so in end_state),
        "state.memory_bytes": sum(so.get("memoryUsedBytes", 0) for so in end_state),
        "state.commit_ms": sum(so.get("commitTimeMs", 0) for p in batches for so in p.get("stateOperators", [])) / nb,
        "gen.late_ms": sum(t["written_ms"] - t["due_ms"] for t in win_ticks) / max(1, len(win_ticks)),
        "step.s": sum(s["t1"] - s["t0"] for s in steps) / n_steps,
        "step.jobs": step_jobs / n_steps,
        "step.py4j_calls": sum(p4[s["id"]] for s in steps) / n_steps,
        "store.append.calls": per_step("store.append", "calls"),
        "store.append.s": per_step("store.append", "self_s"),
        "store.read.s": per_step("store.read", "self_s"),
        "store.compact.s": per_step("store.compact", "self_s"),
        "sink.s": per_step("sink", "self_s"),
        "trace.ops": len(steps),
        "trace.overhead_ms": overhead,
    }
