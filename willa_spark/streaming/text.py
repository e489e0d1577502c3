"""Streaming text primitives — the micro-batch twins of
``functions.text``. Chunking is a pure per-document function of a
frozen (chunk_size, overlap) config, so the streaming twin IS the
batch kernel applied per batch: no store, no cross-batch state, and
union-over-splits congruity with the batch operator is structural
(the ``dsir_score_step`` frozen-config shape). What is deliberately
NOT streamed: nothing — unlike DSIR model fitting or BPE merge
learning, chunk geometry carries no corpus-level statistic, so there
is no fit/apply split to respect.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

from pyspark.sql import functions as F

from ..functions.text import (
    check_chunk_geometry,
    check_unicode_form,
    chunk_documents,
    normalize_text,
)


def chunk_step(
    chunk_size: int = 256,
    overlap: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> Callable[[DataFrame, int], DataFrame]:
    """foreachBatch step: ``(batch_df, batch_id) -> (id, chunk_id,
    chunk_tokens, chunk_text)`` rows — ``functions.text.
    chunk_documents`` under a frozen geometry. Stateless and
    replay-idempotent BY CONSTRUCTION (a replayed batch re-emits
    identical chunk rows; pair with an overwrite-by-batch sink or
    downstream dedup on (id, chunk_id) under at-least-once delivery).
    Geometry errors fail at STEP CONSTRUCTION, not per batch — a bad
    (chunk_size, overlap) must never take down a running stream's
    Nth micro-batch. Blank/NULL-text docs keep their single
    zero-token chunk row inside each batch (the batch kernel's
    cardinality contract), so chunk-count reconciliation against the
    ingest count stays exact. Chunks feed the streaming retrieval /
    packing consumers (``bm25_index_step`` over chunk rows, the
    pack steps) unchanged — chunk rows are just smaller documents."""
    # validate once, eagerly, via the batch kernel's OWN validator —
    # one predicate, zero drift
    check_chunk_geometry(chunk_size, overlap, "chunk_step")

    def step(batch_df: DataFrame, batch_id: int) -> DataFrame:
        return chunk_documents(
            batch_df,
            chunk_size=chunk_size,
            overlap=overlap,
            id_col=id_col,
            text_col=text_col,
        )

    return step


def normalize_step(
    form: str | None = "NFC",
    strip_control: bool = True,
    collapse_ws: bool = True,
    text_col: str = "text",
    out_col: str = "text_norm",
) -> "Callable[[DataFrame, int], DataFrame]":
    """foreachBatch step: batch rows + ``out_col`` =
    ``functions.text.normalize_text`` under a frozen config — the
    cleanup every ingest stream runs BEFORE fingerprinting/dedup
    steps (composed vs decomposed spellings otherwise miss each
    other's signatures; the normalization form is part of any
    downstream signature store's identity, so changing it means a
    store generation bump, the IVF rule). Stateless, replay-
    idempotent; a bad ``form`` fails at step construction via the
    batch kernel's own validation."""
    # validate once, eagerly, via the batch kernel's OWN validator
    # (the chunk_step rule): reject unknown forms before a stream
    # starts, not on micro-batch N — and with zero drift
    if form is not None:
        check_unicode_form(form, "normalize_step")

    def step(batch_df: DataFrame, batch_id: int) -> DataFrame:
        return batch_df.withColumn(
            out_col,
            normalize_text(
                F.col(text_col),
                form=form,
                strip_control=strip_control,
                collapse_ws=collapse_ws,
            ),
        )

    return step
