"""One-call array<double> literals for driver-side model parameters
(codebooks, centroids, trained weights).

``F.lit(some_list)`` expands Python-side to ``array(*[lit(x) for x in
some_list])`` (pyspark's own ``lit`` source): one py4j round trip PER
ELEMENT plus a per-element ``Literal`` node under a ``CreateArray``.
Measured at steady state on this host: **1.57 s per 1025-double
literal** — and the training loops (logreg epochs, Lloyd rounds, ADC
lookup tables) rebuild these literals every iteration, so literal
construction dominated those queries' wall time (guide §7.3's
"gigantic expression trees built in loops" class; profiled: 70-80 %
of the PQ/classifier rows was driver gaps, not tasks).

Here the same values are rendered once into ONE ``F.expr`` string —
a single py4j call; the JVM parser builds the identical
``CreateArray(Literal…)`` tree, which ConstantFolding collapses to a
single array literal exactly as it did before. Measured: **5.6 ms**
per 1025-double literal (~280×).

Value fidelity is exact: ``repr(float)`` is the shortest decimal that
round-trips binary64, ``Double.parseDouble`` rounds to nearest, so
every element (including -0.0 and subnormals — verified in-plan) is
bit-identical to the ``F.lit`` form. Non-finite values are rejected
loudly: SQL double literals have no inf/nan spelling, and every caller
trains/derives finite values by construction.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


def _render(v: float) -> str:
    if not math.isfinite(v):
        raise ValueError(
            f"lit_doubles: non-finite value {v!r} has no SQL double-literal "
            "spelling; callers must produce finite parameters"
        )
    return repr(v) + "D"


def lit_doubles(values) -> Column:
    """ONE array<double> literal (single py4j call + single parsed
    expression), bit-identical to ``F.lit([float(v) for v in values])``."""
    vs = [float(v) for v in values]
    if not vs:
        # F.lit([]) would infer array<string>; keep the typed empty form
        return F.array().cast("array<double>")
    return F.expr("array(" + ",".join(_render(v) for v in vs) + ")")


def lit_double_cube(cubes) -> Column:
    """ONE array<array<array<double>>> literal — the full-codebook-set
    form (codebooks[j][c][d]), so ONE expression can iterate subspaces
    with ``transform(sequence(0, m-1), …)`` instead of m Python-built
    trees."""
    cs = [[[float(x) for x in r] for r in rows] for rows in cubes]
    if not cs or any(not rows or any(not r for r in rows) for rows in cs):
        # degenerate shapes never occur for trained codebooks; keep the
        # classic (typed-correct, slow) form rather than mistype them
        return F.lit(cs) if cs else F.array().cast(
            "array<array<array<double>>>"
        )
    return F.expr(
        "array("
        + ",".join(
            "array("
            + ",".join(
                "array(" + ",".join(_render(x) for x in r) + ")" for r in rows
            )
            + ")"
            for rows in cs
        )
        + ")"
    )


def lit_double_rows(rows) -> Column:
    """ONE array<array<double>> literal — the nested (codebook /
    centroid-table) twin of ``lit_doubles``."""
    rs = [[float(x) for x in r] for r in rows]
    if not rs:
        return F.array().cast("array<array<double>>")
    if any(not r for r in rs):
        # array() inside array(...) would parse untyped; an empty ROW
        # never occurs for real codebooks/centroids — fall back to the
        # slow-but-identical classic form rather than mistype it
        return F.lit(rs)
    return F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(_render(x) for x in r) + ")" for r in rs
        )
        + ")"
    )
