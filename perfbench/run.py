"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload topo_batch --seed 1 --seconds 15 --trace 0

Run it from the root of a checkout. ``--trace 0`` is a timed run and
prints the end-to-end metrics; ``--trace 1`` is a traced run and prints
the per-layer metrics, writing its spans to ``.perfbench_out/``. The last
line is one JSON object: ``{"correct", "attempted", "failed", "metrics"}``,
each metric a ``{"value", "unit"}`` pair. Host facts (cores, heap, load
before and after, CPU steal during the run, versions) go to stderr.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the workloads and metric names and units are the ones BENCHMARK.json declares
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _BENCH = json.load(_f)
WORKLOADS = [w["name"] for w in _BENCH["workloads"]]
END_TO_END = {m["name"]: m["unit"] for m in _BENCH["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _BENCH["per_layer"]}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "willa_spark", "__init__.py")):
        print(f"perfbench: no willa_spark package under {ROOT}; run from a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # Spark's Python workers import willa_spark too
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("PYTHONWARNINGS", "ignore::FutureWarning")

    from perfbench import common

    workload = __import__(f"perfbench.{args.workload}", fromlist=["run"])
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # temporary files of this process, the JVM launcher and Spark's workers stay in the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    before, steal0 = common.host_facts(), common.steal_s()
    try:
        with common.RssSampler() as rss:
            res = workload.run(args.seed, args.seconds, bool(args.trace), work, T_PROCESS)
            peak_mb = rss.peak_mb
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    # steal time shows a host busy with other guests, which slows every metric
    common.log("host", json.dumps({**before, "loadavg_after": os.getloadavg(), "steal_s": common.steal_s() - steal0}))

    spans = res.pop("spans", None)
    layers = res.pop("layers", None)
    if args.trace:
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        with open(os.path.join(out, f"spans-{args.workload}-seed{args.seed}.jsonl"), "w") as f:
            for s in spans or []:
                f.write(json.dumps(s) + "\n")
        res["metrics"] = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
    else:
        res["metrics"]["peak_rss_mb"] = {"value": peak_mb, "unit": "MB"}
        res["metrics"] = {k: res["metrics"][k] for k in END_TO_END}
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
