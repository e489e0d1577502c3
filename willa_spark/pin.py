"""The one materialization for a frame that feeds several consumers.

Spark does not reuse a subtree across the consumers of a frame: a
self-join's two sides, a broadcast build and its scalar guard, or a
count and a write each re-run the frame's whole lineage. Every such
frame in the package is materialized here, in one of three kinds:

- ``pin(df)``: an eager ``localCheckpoint``. The lineage is truncated
  into executor-local blocks, released when the returned frame is
  garbage-collected. The right kind for a frame that outlives the call
  (a returned result, a model, a drop set).
- ``pin(df, spill_dir=path)``: the frame is written as parquet to
  exactly ``path`` and read back, so every consumer scans storage. The
  durable kind for corpus-scale frames; the caller owns the directory.
- ``with pinned() as keep: keep(df)``: a scoped persist plus an eager
  count; every frame the scope pinned is unpersisted on any exit. The
  kind for a frame whose consumers all finish inside one step.

Several frames given to one call are materialized at the same time
(independent jobs overlap instead of queueing). When one fails, the
first error in argument order is raised once all have finished. A
frame ``pin`` returned is marked on the object itself, so pinning it
again returns it unchanged and starts no job; concurrent pins share no
state.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

from pyspark.sql import DataFrame

_MARK = "_willa_pinned"


def _each(fn: Callable[[DataFrame], DataFrame], frames: tuple[DataFrame, ...]):
    """``fn`` over every frame, concurrently when there are several; one
    frame in gives one frame out, several give a tuple."""
    if len(frames) == 1:
        return fn(frames[0])
    with ThreadPoolExecutor(max_workers=len(frames)) as ex:
        futures = [ex.submit(fn, df) for df in frames]
    return tuple(f.result() for f in futures)


def pin(*frames: DataFrame, spill_dir: str | None = None):
    """Materialize each frame once: an eager ``localCheckpoint``, or a
    parquet write to ``spill_dir`` read back. Returns the pinned frame
    (a tuple for several); an already-pinned frame comes back as is."""
    if spill_dir and len(frames) != 1:
        raise ValueError("pin: spill_dir takes exactly one frame")

    def one(df: DataFrame) -> DataFrame:
        if getattr(df, _MARK, False):
            return df
        if spill_dir:
            df.write.mode("overwrite").parquet(spill_dir)
            out = df.sparkSession.read.parquet(spill_dir)
        else:
            out = df.localCheckpoint(eager=True)
        setattr(out, _MARK, True)
        return out

    return _each(one, frames)


@contextmanager
def pinned() -> Iterator[Callable[..., DataFrame]]:
    """A scope for frames used only inside it. The yielded ``keep``
    persists each frame and counts it eagerly (so concurrent consumers
    read one cache instead of racing to fill it); every frame it kept
    is unpersisted when the scope exits, normally or by an error.
    Frames already pinned by ``pin`` are passed through."""
    kept: list[DataFrame] = []

    def keep(*frames: DataFrame):
        def one(df: DataFrame) -> DataFrame:
            if not getattr(df, _MARK, False):
                df.count()
            return df

        for df in frames:
            if not getattr(df, _MARK, False):
                kept.append(df.persist())
        return _each(one, frames)

    try:
        yield keep
    finally:
        for df in kept:
            df.unpersist()
