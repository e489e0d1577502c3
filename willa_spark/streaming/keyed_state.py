"""The streaming engine's one keyed-state operator.

Structured Streaming covers arbitrary keyed state with one API: a per-key
update function over (key, rows, state). Every Python stateful operator
of the streaming compiler (the nil-dedup of exact outer joins, the fused
table join, the retraction re-key, the windowed and session folds) is
such a function, a ``step``, run by ``keyed_state``.
"""

from __future__ import annotations

from pyspark.errors import PySparkRuntimeError
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..model import KEY, TIMESTAMP, VALUE

_TIMEOUTS = {
    None: "NoTimeout",
    "event": "EventTimeTimeout",
    "processing": "ProcessingTimeTimeout",
}


def _ddl_names(ddl: str) -> list[str]:
    """Column names of a ``name type, ...`` DDL string; commas inside
    ``<...>`` or ``(...)`` type parameters do not split."""
    names, depth, start = [], 0, 0
    for i, ch in enumerate(ddl + ","):
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        elif ch == "," and depth == 0:
            names.append(ddl[start:i].split()[0])
            start = i + 1
    return names


def keyed_state(
    df: DataFrame,
    keys: list,
    step,
    out_ddl: str,
    state_ddl: str,
    *,
    order_by,
    default=None,
    output_mode: str = "update",
    timeout: str | None = None,
) -> DataFrame:
    """Group ``df`` by ``keys`` and run ``step`` once per key and
    micro-batch under ``applyInPandasWithState``.

    ``step(key, state, rows, timed_out, watermark_ms)`` receives:

    - ``key``: the tuple of the key's grouping values;
    - ``state``: the stored state tuple (``state_ddl``), or ``default``
      when the key has none;
    - ``rows``: the key's rows of this micro-batch as one pandas frame,
      sorted stably by ``order_by``; None on a timeout call;
    - ``timed_out``: whether this call is the key's timeout firing;
    - ``watermark_ms``: the current event-time watermark, or None when
      no watermark is defined upstream.

    It returns ``(new_state, out_rows, timeout_at)``:

    - ``new_state``: the tuple to store, or None to remove the key's
      state;
    - ``out_rows``: tuples in ``out_ddl`` column order;
    - ``timeout_at``: None arms nothing. With ``timeout="event"`` it is
      an event time in epoch ms, armed at no earlier than
      ``watermark_ms + 1``: Spark rejects a timeout at or below the
      watermark, and one row its late-row filter admits must not crash
      the query. With ``timeout="processing"`` it is a duration in ms.
      A timeout is armed only while the key keeps state.

    A key with more rows than ``spark.sql.execution.arrow.maxRecordsPerBatch``
    arrives as several Arrow chunks. Sorting each chunk alone would apply
    a later record before an earlier one across a chunk boundary, so the
    chunks are concatenated and sorted once. The key's whole micro-batch
    is then held in one worker; micro-batch sizing (maxOffsetsPerTrigger,
    file batching) bounds it.
    """
    names = _ddl_names(out_ddl)

    def run(key, pdf_iter, state):
        import pandas as pd

        chunks = list(pdf_iter)
        rows = None
        if chunks:
            rows = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
            rows = rows.sort_values(order_by, kind="stable")
        try:
            wm = state.getCurrentWatermarkMs()
        except PySparkRuntimeError:  # no watermark upstream
            wm = None
        new_state, out, at = step(
            key, state.get if state.exists else default, rows, state.hasTimedOut, wm
        )
        if new_state is None:
            if state.exists:
                state.remove()
        else:
            state.update(tuple(new_state))
            if at is not None and timeout == "event":
                state.setTimeoutTimestamp(max(at, wm + 1))
            elif at is not None:
                state.setTimeoutDuration(at)
        if out:
            yield pd.DataFrame(dict(zip(names, map(list, zip(*out)))))

    return df.groupBy(*keys).applyInPandasWithState(
        run, out_ddl, state_ddl, output_mode, _TIMEOUTS[timeout]
    )


def elems_to_tuple(df: DataFrame, elem_cols: list[str], mode: str) -> DataFrame:
    """(key, value, timestamp) with the value rebuilt from the scalar
    columns ``elem_cols``: an array, or a struct with fields ``_1.._n``.
    Python operators emit a tuple's elements as separate nullable columns
    because a NULL element inside an array or struct crossing the Arrow
    boundary fails Spark's row decoder."""
    if mode == "struct":
        value = F.struct(*[F.col(c).alias(f"_{i + 1}") for i, c in enumerate(elem_cols)])
    else:
        value = F.array(*elem_cols)
    return df.select(KEY, value.alias(VALUE), TIMESTAMP)
