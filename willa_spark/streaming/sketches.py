"""Streaming corpus sketches — incremental distinct-count state via
persisted DataSketches HLL unions, the streaming twin of
``functions/sketches.py``.

Why a sketch store instead of a recount: corpus-wide "how many
distinct tokens so far" is a full-shuffle distinct at every ask when
computed exactly, but as an HLL union it is (a) one kilobyte-sized
row per (group, batch) in the store and (b) a register-max merge at
read time (associative + commutative). Replay exactness comes from
the STORE lifecycle — a retried batch overwrites its own partition,
so the store never holds duplicate states. (Union alone would NOT be
enough: re-merging an identical sketch leaves registers unchanged but
shifts the HIP estimator — in-band, yet not bit-stable; pinned in
tests.)

Store layout: ``ingest_batch=<id>`` partitions of (group,
vocab_sketch binary) rows, one per micro-batch — the standard store
lifecycle (``store_step.py``: idempotent replay by partition
overwrite, compaction by merging partitions, which for sketches means
HLL-unioning them:
``store_compact`` would concatenate rows, equally correct since the
read-side union absorbs duplicates of any granularity).

STORE CONTRACT (the IVF generation rule): ``lg_k`` and the tokenizer
are part of the store identity — ``hll_union_agg`` silently downgrades
mixed-lg_k unions to the smallest lg_k present, so changing either
means a new store. Each step records its geometry (``lg_k``, or the
count-min ``(depth, width)``) in its sketch directory and fails loud
when resumed with another; the tokenizer is code and is not recorded.
Sketch BYTES are not canonical across build orders; only estimates are
comparable (pinned in tests).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ..functions.sketches import (
    CMS_DEPTH,
    CMS_WIDTH,
    DEFAULT_LG_K,
    cms_estimate,
    merge_cms,
    token_cms,
    merge_vocab_sketches,
    token_vocab_sketch,
    vocab_estimate,
)
from .store import store_read
from .store_step import Half, store_step


def vocab_sketch_step(
    store_dir: str,
    group_col: str = "lang",
    text_col: str = "text",
    lg_k: int = DEFAULT_LG_K,
    sink: Callable[[DataFrame, int], None] | None = None,
    compact_every: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch step maintaining the per-group vocabulary sketch
    store. Each batch appends its own (group, vocab_sketch) rows —
    batch-local aggregation only, no read-modify-write against the
    store, so a replay simply overwrites its partition. When ``sink``
    is given it receives the CUMULATIVE (group, vocab_estimate) frame
    after each append — a running vocabulary-size stream."""
    append = store_step(
        "vocab_sketch_step",
        os.path.join(store_dir, "vocab_sketches"),
        [Half(max_files=1)],
        lambda batch_df: token_vocab_sketch(batch_df, group_col, text_col, lg_k),
        id_col=None,
        geometry={"family": "hll", "lg_k": lg_k},
        compact_every=compact_every,
    )
    if sink is None:
        return append

    def step(batch_df: DataFrame, batch_id: int) -> None:
        append(batch_df, batch_id)
        sink(
            vocab_estimate_from_store(
                batch_df.sparkSession,
                store_dir,
                group_type=batch_df.schema[group_col].dataType.simpleString(),
            ),
            batch_id,
        )

    return step


def vocab_estimate_from_store(
    spark: SparkSession, store_dir: str, group_type: str = "string"
) -> DataFrame:
    """Current (group, vocab_estimate) from the sketch store: union
    all per-batch sketch states (register-max merge) and estimate.
    Empty frame with the right schema when nothing was ingested yet —
    ``group_type`` names the group column's DDL type for that case
    (the sketch store keeps the BATCH group column's type under the
    ``group`` name, so a bigint domain id read before any ingest must
    not come back as string — the batch-0 schema class, handled the
    same way in domain_mixture_step)."""
    sk = store_read(spark, os.path.join(store_dir, "vocab_sketches"))
    if sk is None:
        return spark.createDataFrame(
            [], f"group {group_type}, vocab_estimate long"
        )
    return vocab_estimate(merge_vocab_sketches(sk))


def cms_step(
    store_dir: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
    text_col: str = "text",
    compact_every: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch step maintaining a persisted count-min sketch:
    each batch appends its own (d, col, count) counter table
    (depth x width rows at most) — batch-local aggregation only.
    Counters are SUMS, so the read-side merge is EXACT: the streaming
    estimate equals the batch estimate over the ingested union
    bit-for-bit (stronger than the HLL half — no HIP caveat); replay
    overwrites its own partition (addition is not idempotent, the
    store lifecycle is the replay guarantee). STORE CONTRACT:
    (depth, width, tokenizer) are the store identity; (depth, width)
    are recorded as its geometry, so resuming with others fails
    loud."""
    return store_step(
        "cms_step",
        os.path.join(store_dir, "cms"),
        [Half(max_files=1)],
        lambda batch_df: token_cms(batch_df, depth, width, text_col),
        id_col=None,
        geometry={"family": "cms", "depth": depth, "width": width},
        compact_every=compact_every,
    )


def cms_estimate_from_store(
    spark: SparkSession,
    store_dir: str,
    terms: DataFrame,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
    term_col: str = "term",
) -> DataFrame:
    """(term, est_count) point queries against the persisted sketch;
    an empty store estimates 0 for every probed term (the sketch of
    nothing), geometry must match the build."""
    sk = store_read(spark, os.path.join(store_dir, "cms"))
    if sk is None:
        sk = spark.createDataFrame([], "d int, col int, count long")
    return cms_estimate(sk, terms, depth, width, term_col)
