"""Benchmark harness: runs every registered query, in registration
order, at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE COMPACT JSON line: {"metric",
"value", "unit", "queries" (top-10 only, so the line stays short),
"n_queries", "errors", "loadavg", "sf"}. The COMPLETE record (all
per-query timings, both raw passes, pass spread, host loadavg
before/after) is written to BENCH_LAST.json beside this file.

Execution is forced with the noop sink (full computation, no driver
collect). Each query timed individually; "value" is the total.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else -1.0
    # the one shared benchmark session config (tools/bench_session.py)
    from tools.bench_session import make_bench_session

    spark, cpus = make_bench_session("willa_spark-bench")
    from pyspark.sql import functions as F

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
    load_before = _loadavg()
    passes: dict[str, list[float]] = {name: [] for name in QUERIES}
    for _pass in range(2):
        for name, fn in QUERIES.items():
            t0 = time.perf_counter()
            try:
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                passes[name].append(round(time.perf_counter() - t0, 3))
            except Exception as e:  # keep the bench line parseable no matter what
                print(f"bench error in {name}: {e}", file=sys.stderr)
            # queries are self-contained: drop their persisted frames so
            # one query's cache doesn't squeeze memory for the next
            spark.catalog.clearCache()
    load_after = _loadavg()
    timings = {name: (min(ts) if ts else -1.0) for name, ts in passes.items()}
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
        "loadavg_before": load_before, "loadavg_after": load_after,
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
