"""Open-loop event generator for the ``topo_stream`` workload.

Runs as its own process, separate from the system under test, so a slow
Spark driver never slows the schedule. On every tick it writes the events
that fell due since the previous tick as one parquet file into
``<out>/events`` and every tenth of them as an order into ``<out>/orders``.
Each file is written under a dot-prefixed name (the file source ignores
hidden files) and then renamed into place, so the source never sees a
partial file.

Each event's ``timestamp`` is the epoch-millisecond instant it was due,
which is its creation time on the schedule; a tick that is written late
delays its events, and that delay shows in their latency. One JSON line per
tick goes to ``<out>/ticks-<TAG>.jsonl``: the tick's due time, the time it
was actually written and the event ids it carried. Event ids start at
FIRST_ID, so a later run continues where an earlier one stopped.

Once imported and ready it prints ``ready`` and reads the schedule's start,
in epoch seconds, from one line of stdin.

Usage: python3 streamgen.py OUT TAG SEED TICK_S KEYS FIRST_ID RATE:SECONDS ...
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ORDER_EVERY = 10  # orders arrive at 1/10 of the event rate

SCHEMA = pa.schema([("key", pa.int64()), ("value", pa.int64()), ("timestamp", pa.int64())])


def _write(directory: str, name: str, table: pa.Table) -> None:
    tmp = os.path.join(directory, "." + name)
    pq.write_table(table, tmp)
    os.rename(tmp, os.path.join(directory, name))


def due_counts(schedule: list[tuple[float, float]], tick_s: float) -> list[tuple[float, int, float]]:
    """(due offset in s, events due in the tick, rate) per tick: the
    cumulative count at each tick edge is floor(∫ rate dt), so a
    fractional rate carries over instead of rounding away."""
    out, t, done = [], 0.0, 0
    for rate, seconds in schedule:
        step_start, step_done = t, done
        for i in range(1, int(round(seconds / tick_s)) + 1):
            t = step_start + i * tick_s
            total = step_done + int(rate * (t - step_start))
            out.append((t, total - done, rate))
            done = total
    return out


def main(argv: list[str]) -> int:
    out, tag, seed, tick_s = argv[0], argv[1], int(argv[2]), float(argv[3])
    n_keys, next_id = int(argv[4]), int(argv[5])
    schedule = [tuple(float(x) for x in s.split(":")) for s in argv[6:]]
    rng = np.random.default_rng([seed, next_id])
    ev_dir, ord_dir = os.path.join(out, "events"), os.path.join(out, "orders")
    os.makedirs(ev_dir, exist_ok=True)
    os.makedirs(ord_dir, exist_ok=True)
    # the first parquet write pays for lazy initialisation; pay it before the
    # schedule, under a name of this run's own, as several generators start at once
    _write(ev_dir, f".warm-{tag}.parquet", pa.table([[], [], []], schema=SCHEMA))
    os.remove(os.path.join(ev_dir, f".warm-{tag}.parquet"))
    print("ready", flush=True)
    start = float(sys.stdin.readline())
    prev_due = start
    with open(os.path.join(out, f"ticks-{tag}.jsonl"), "w") as log:
        for k, (offset, n, rate) in enumerate(due_counts(schedule, tick_s)):
            due = start + offset
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            ids = np.arange(next_id, next_id + n, dtype=np.int64)
            # events spread evenly over the tick, each stamped with its due instant
            stamps = (1000 * (prev_due + (np.arange(1, n + 1) / max(n, 1)) * (due - prev_due))).astype(np.int64)
            keys = rng.integers(0, n_keys, size=n, dtype=np.int64)
            if n:
                _write(ev_dir, f"{tag}-{k:06d}.parquet", pa.table([keys, ids, stamps], schema=SCHEMA))
                o = ids % ORDER_EVERY == 0
                if o.any():
                    cents = rng.integers(100, 100_000, size=int(o.sum()), dtype=np.int64)
                    _write(ord_dir, f"{tag}-{k:06d}.parquet", pa.table([keys[o], cents, stamps[o]], schema=SCHEMA))
            written = time.time()
            log.write(json.dumps({
                "tick": k, "rate": rate, "due_ms": due * 1000, "written_ms": written * 1000,
                "first_id": int(next_id), "n": int(n),
            }) + "\n")
            log.flush()
            next_id += n
            prev_due = due
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
