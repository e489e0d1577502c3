"""Streaming BPE encoding — the micro-batch twin of
``functions.bpe``: incoming documents segmented/counted per batch
against a FROZEN merge list.

A merge list is driver-side config (like centroids and DSIR models),
and encoding a document is a pure function of that list, so the
streaming twin IS the batch kernel applied per batch — no store, no
cross-batch state, structural congruity (the ``dsir_score_step``
shape). What is deliberately NOT streamed: merge LEARNING —
``bpe_train``'s rounds are sequential corpus-level argmaxes; merges
learned mid-stream would tokenize early and late batches under
different vocabularies (the frozen-model invariant). Re-train
batch-side and roll a new step — rolling a new merge list is a
TOKENIZER CHANGE: token counts from different lists must never share
a budget ledger (the IVF generation rule applied to counting).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

from ..functions.bpe import bpe_encode_docs, bpe_token_counts


def bpe_count_step(
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
    encode: bool = False,
    broadcast_vocab: bool | None = True,
) -> Callable[[DataFrame, int], DataFrame]:
    """foreachBatch step: ``(batch_df, batch_id) -> (id,
    n_bpe_tokens)`` rows (or ``(id, pieces)`` with ``encode=True``)
    under the frozen merge list. Per-batch work is the batch kernel's
    own plan — the merge passes run over the BATCH's distinct words
    (vocab-sized per batch), then join back; empty docs keep their
    0-token/empty-pieces rows (the batch cardinality contract).
    ``broadcast_vocab`` defaults to True HERE (unlike the batch
    kernels' auto mode): a micro-batch's distinct-word table is
    batch-sized by construction, so the auto mode's per-batch
    seg.count() job would spend a dispatch round trip per micro-batch
    answering a question the streaming context already answers; pass
    None/False only for genuinely huge batches.

    JOB-COUNT BOUND per micro-batch: one Spark job per symbol-disjoint
    merge BATCH (``functions.bpe._merge_batches``), not per merge — a
    production ~32k-merge tokenizer costs on the order of 1e3
    checkpointed passes per batch, not 32k. Still linear in the merge
    list; size micro-batch intervals accordingly, or pre-segment a
    static vocabulary and maintain it as a store if batch cadence is
    tighter than that."""

    def step(batch_df: DataFrame, batch_id: int) -> DataFrame:
        fn = bpe_encode_docs if encode else bpe_token_counts
        return fn(
            batch_df,
            merges,
            id_col=id_col,
            text_col=text_col,
            broadcast_vocab=broadcast_vocab,
        )

    return step
