"""Shared pieces of the benchmark: the Spark session, host facts, the
peak-RSS sampler and the percentile and ladder arithmetic the workloads
report with."""

from __future__ import annotations

import math
import os
import platform
import statistics
import subprocess
import sys
import threading


def log(*parts) -> None:
    print("[perfbench]", *parts, file=sys.stderr, flush=True)


def cores() -> int:
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count() or 1


def slots() -> int:
    """Spark's task slots: half the cores. On the sf0.01 inputs and the
    100 ev/s stream more slots do not shorten a query or a micro-batch,
    and the CPU time an operation costs then varies with how much of the
    host is free, as idle task threads and the JVM's own threads contend."""
    return max(1, cores() // 2)


# Driver heap, fixed from the start (-Xms) so peak RSS does not depend on
# when the JVM chose to grow it; the sf0.01 inputs need far less.
HEAP = "1g"


def host_facts() -> dict:
    import pyspark

    return {
        "nproc": cores(),
        "slots": slots(),
        "loadavg": os.getloadavg(),
        "heap": HEAP,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
    }


def steal_s() -> float:
    """CPU time the hypervisor gave other guests instead of this one,
    summed over all CPUs since boot; 0 where /proc/stat is missing."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def _proc_stats() -> dict[int, tuple[int, int, int]]:
    """pid → (parent pid, own CPU ticks, reaped children's CPU ticks)
    of every process in /proc."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
            out[int(d)] = (int(rest[1]), int(rest[11]) + int(rest[12]), int(rest[13]) + int(rest[14]))
        except (OSError, IndexError, ValueError):
            continue
    return out


def tree_cpu_s(skip: frozenset[int] = frozenset()) -> float:
    """CPU seconds, user plus system, used so far by this process and its
    descendants (the JVM and Spark's Python workers), each descendant with
    the children it has reaped; the subtrees under ``skip`` are left out.

    The kernel keeps the time the hypervisor gives other guests out of a
    process's CPU time, so this grows far less than wall time when the
    host is busy; it still grows, as the other guests share its caches.
    This process's own reaped children are left out, so a load generator
    it waits for is not counted either."""
    stats, me = _proc_stats(), os.getpid()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    ticks, todo = stats.get(me, (0, 0, 0))[1], [p for p in kids.get(me, []) if p not in skip]
    while todo:
        pid = todo.pop()
        ticks += stats[pid][1] + stats[pid][2]
        todo.extend(p for p in kids.get(pid, []) if p not in skip)
    return ticks / os.sysconf("SC_CLK_TCK")


def make_session(work: str, app: str, event_log: bool):
    """local[slots()] session whose scratch files all stay under ``work``.

    The JVM compiles with C1 only and collects with the serial collector.
    The sf0.01 queries are too short for C2 to pay back its compiles,
    which otherwise run in the background through the timed window and
    make a query's third call cost half the CPU of its second; parallel
    collector threads spin while they wait for each other, more so when
    the host's other guests hold the cores they wait for."""
    from pyspark.sql import SparkSession

    n = str(slots())
    tmp = os.path.join(work, "tmp")
    b = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app)
        .config("spark.driver.memory", HEAP)
        .config("spark.driver.extraJavaOptions", f"-Xms{HEAP} -XX:TieredStopAtLevel=1 -XX:+UseSerialGC -Djava.io.tmpdir={tmp}")
        .config("spark.local.dir", tmp)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", n)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if event_log:
        evdir = os.path.join(work, "eventlog")
        os.makedirs(evdir, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.dir", evdir)
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM the session launched to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)


class RssSampler:
    """Peak resident memory of the driver: this Python process plus the
    JVMs it launched, sampled every ``period`` seconds from /proc. Spark's
    Python workers and the load generator are left out: their number and
    size vary from run to run with scheduling, not with the program."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @staticmethod
    def _jvms() -> list[int]:
        me, pids = os.getpid(), []
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    comm, rest = f.read().rsplit(")", 1)
                if int(rest.split()[1]) == me and comm.endswith("(java"):
                    pids.append(int(d))
            except (OSError, IndexError, ValueError):
                continue
        return pids

    def _rss_kb(self) -> int:
        total = 0
        for pid in [os.getpid()] + self._jvms():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * (os.sysconf("SC_PAGE_SIZE") // 1024)
            except (OSError, IndexError, ValueError):
                pass
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._rss_kb())
            self._stop.wait(self.period)

    @property
    def peak_mb(self) -> float:
        return max(self.peak_kb, self._rss_kb()) / 1024.0


# -- percentiles ----------------------------------------------------------

def tail_pct(n: int, beyond: int = 10, cap: float = 90.0, floor: float = 50.0) -> float:
    """The highest percentile, at most ``cap``, with at least ``beyond``
    samples above it: 100·(1 − beyond/n), never below the median."""
    if n <= 0:
        raise ValueError("no samples")
    return max(floor, min(cap, math.floor(100.0 * (1.0 - beyond / n))))


# -- the stream ladder ----------------------------------------------------

def backlog_growing(samples: list[tuple[float, float]], rate: float, share: float = 0.5) -> bool:
    """True when the backlog (t in s, rows waiting) grows across a step:
    its least-squares slope exceeds ``share`` of the input rate, i.e. the
    system drains less than (1 − share) of what arrives. Sample it right
    after each commit, at the troughs of its sawtooth. A step holds only a
    few micro-batches, and one slow batch lifts a trough by a batch's worth
    of arrivals, so the share is wide and fewer than three samples never
    count as growth; a step too short to judge is left to the latency limit."""
    if len({t for t, _ in samples}) < 3:
        return False
    ts = [t for t, _ in samples]
    return statistics.linear_regression(ts, [b for _, b in samples]).slope > share * rate


def sustained_rate(steps: list[dict], limit_ms: float) -> float:
    """Highest rate of an ascending ladder reached without a failing step:
    a step passes when its tail latency is within ``limit_ms`` and its
    backlog does not grow. Each step: {rate, tail_ms, growing}. 0 when
    even the first step fails."""
    best = 0.0
    for s in sorted(steps, key=lambda s: s["rate"]):
        if s["tail_ms"] > limit_ms or s["growing"]:
            break
        best = s["rate"]
    return best
