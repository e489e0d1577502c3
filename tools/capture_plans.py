"""Dump .explain("formatted") for registry queries, for plan-identity checks.

Usage: python tools/capture_plans.py <sf_dir> <out_dir> [query ...]

Writes <out_dir>/<query>.txt for each named query (default: every
registered query) over the tables in <sf_dir>. Everything a session
numbers afresh is stripped: expression ids (``#123``), RDD ids
(``RDD[45]``), ``plan_id=6``, lambda-variable suffixes (``x_123``), JVM
object hashes (``@7a50b5f7``) and the ``localCheckpoint at <call site>``
text of a pinned frame. Two captures of the same plan are then
byte-identical and ``diff -r <out_a> <out_b>`` is the plan check between
two checkouts.
Uses the same session configuration as bench.py (tools/bench_session.py)
so the captured plans are the benched plans.
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_VOLATILE = [  # the lambda rule runs first: it needs the ``#`` after the suffix
    (re.compile(r"\b(lambda \w+?)_\d+\b"), r"\1"),
    (re.compile(r"#\d+"), ""),
    (re.compile(r"RDD\[\d+\]"), "RDD"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"@[0-9a-f]{4,16}\b"), ""),
    (re.compile(r"localCheckpoint at [^\s,]+"), "localCheckpoint"),
]


def normalize(text: str) -> str:
    """The plan text with every per-session number stripped."""
    for pattern, repl in _VOLATILE:
        text = pattern.sub(repl, text)
    return text


def main() -> int:
    if len(sys.argv) < 3:
        print(__doc__, file=sys.stderr)
        return 2
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    os.makedirs(out_dir, exist_ok=True)
    from tools.bench_session import make_bench_session

    spark, _ = make_bench_session("willa_spark-capture-plans")
    from willa_spark.queries import QUERIES

    if not names:
        names = list(QUERIES)
    rc = 0
    for name in names:
        try:
            df = QUERIES[name](spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            text = normalize(buf.getvalue())
        except Exception as e:  # keep going; record the failure
            text = f"ERROR capturing plan: {e}\n"
            rc = 1
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
            f.write(text)
        print(f"captured {name} ({len(text)} bytes)", flush=True)
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
