"""Greedy LPT bin-packing of test files into N shards (VERDICT r06 #7).

Reads tools/test_durations.txt ("<seconds> <file>" per line, refreshed
by tools/update_durations.py after each green run); files absent from
the table get a conservative default weight so a brand-new heavy file
is placed alone rather than stacked onto the heaviest shard.

Usage: python tools/shard_plan.py N file [file ...]
Prints one line per shard: the space-separated file list (empty line
for an empty shard). N = 0 takes the host's default, ``host_shards()``.
"""

from __future__ import annotations

import os
import sys

DEFAULT_WEIGHT = 120.0
TABLE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "test_durations.txt")


def load_table() -> dict[str, float]:
    weights: dict[str, float] = {}
    if os.path.exists(TABLE):
        for line in open(TABLE):
            parts = line.split()
            if len(parts) == 2:
                try:
                    weights[parts[1]] = float(parts[0])
                except ValueError:
                    pass
    return weights


def shard_count(cores: int, mem_available: int) -> int:
    """Default shard count for a host with ``cores`` CPUs and
    ``mem_available`` bytes free. Each shard is one pytest process with
    a local[4] session and an 8 GB heap (tests/conftest.py), so at most
    one per 4 cores and one per ~10 GB available, at most 4 and at
    least 1."""
    return max(1, min(4, cores // 4, mem_available // (10 << 30)))


def host_shards() -> int:
    """``shard_count`` for this host: its usable CPUs and MemAvailable."""
    with open("/proc/meminfo") as f:
        kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemAvailable:"))
    return shard_count(len(os.sched_getaffinity(0)), kb << 10)


def plan(n: int, files: list[str]) -> list[list[str]]:
    weights = load_table()
    # longest-processing-time first: sort desc, place into lightest bin
    ordered = sorted(
        files, key=lambda f: weights.get(f, DEFAULT_WEIGHT), reverse=True
    )
    bins: list[tuple[float, list[str]]] = [(0.0, []) for _ in range(n)]
    for f in ordered:
        w = weights.get(f, DEFAULT_WEIGHT)
        i = min(range(n), key=lambda k: bins[k][0])
        bins[i] = (bins[i][0] + w, bins[i][1] + [f])
    return [b[1] for b in bins]


if __name__ == "__main__":
    n = int(sys.argv[1]) or host_shards()
    for shard in plan(n, sys.argv[2:]):
        print(" ".join(shard))
