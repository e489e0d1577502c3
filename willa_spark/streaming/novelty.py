"""Streaming novelty scoring — each micro-batch scored against the
n-gram model of everything ingested BEFORE it.

Use case: ingestion-time diversity weighting. Dedup drops documents
that repeat; novelty scores documents by how far their n-gram
distribution sits from the corpus so far (mean NLL under the prior
model — ``selection.cross_entropy_score``'s statistic with the model
roles flipped: HIGH = novel/unlike the ingested corpus, LOW =
redundant-but-not-duplicate). A curation stream can keep near-dup
screens for exact redundancy and use this score to downweight the
long tail of "nothing new here" text that hashing families cannot
see.

Cross-batch state is a persisted (feature, cnt) count store — counts
are SUMS, so the prior model is EXACT over any batching (the CMS /
BM25-stats additivity argument). Replay safety is the near-dedup
discipline verbatim: the probe reads STRICTLY-PRIOR partitions
(``before_batch``), so a replayed batch scores against exactly the
state its first attempt saw and never against its own failed rows;
the count append overwrites its own partition.

Scoring depends on WHEN a document arrives (later batches face a
bigger prior corpus) — that is the semantics, not a defect: novelty
is an arrival-order property. The batch congruity is therefore
prefix-wise: batch i's scores equal ``cross_entropy_score(batch_i,
feature_log_probs(union of batches < i))`` exactly (pinned by test).
The FIRST batch has no prior model and yields an empty scored frame
(schema intact) — every-probe-before-ingest semantics; its counts
still fold in. STORE CONTRACT: (num_buckets, ns, tokenizer) are the
store identity; (num_buckets, ns) are recorded as its geometry, so
resuming with others fails loud.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.selection import (
    DEFAULT_SMOOTH,
    _gram_features,
    _model_from_features,
    cross_entropy_score,
)
from ..pin import pin
from .store_step import Half, store_step


def novelty_score_step(
    store_dir: str,
    num_buckets: int | None = 10_000,
    ns: tuple[int, ...] = (1, 2),
    smooth: float = DEFAULT_SMOOTH,
    id_col: str = "doc_id",
    text_col: str = "text",
    compact_every: int | None = None,
) -> Callable[[DataFrame, int], DataFrame]:
    """foreachBatch step: ``(batch_df, batch_id) -> (id, n_grams,
    novelty_ce)`` under the strictly-prior corpus model, folding the
    batch's own counts into the store afterwards. The batch's gram
    explode runs ONCE (the features feed both the scoring join and
    the count append). Ids must be unique and non-NULL per batch
    (``_check_batch_ids``): here a bad batch would fold corrupted counts
    into cross-batch state that a replay rewrites identically."""

    def emit(batch_df, sigs, prior):
        feats = sigs[0]
        if prior is None:
            scored = batch_df.sparkSession.createDataFrame(
                [],
                f"{id_col} "
                f"{batch_df.schema[id_col].dataType.simpleString()}, "
                "n_grams bigint, novelty_ce double",
            )
        else:
            model = _model_from_features(prior()[0], num_buckets, smooth)
            # pinned BEFORE the count append: the scoring plan reads
            # the store's file listing, which a later batch's
            # compaction may rewrite — the returned frame must not
            # depend on store files staying put
            scored = pin(
                cross_entropy_score(
                    batch_df,
                    model,
                    num_buckets,
                    ns,
                    id_col=id_col,
                    text_col=text_col,
                    _feats=feats,
                )
                .withColumnRenamed("cross_entropy", "novelty_ce")
            )
        # an all-empty batch appends nothing: an empty partition would
        # read back as a prior model with no features
        has_feats = bool(feats.limit(1).count())
        counts = feats.groupBy("feature").agg(F.sum("cnt").alias("cnt"))
        return scored, [counts if has_feats else None]

    return store_step(
        "novelty_score_step",
        store_dir,
        [Half("feature_counts", "feature")],
        # a checkpoint, which the lifecycle's scoped pin passes through:
        # the scores then sum in the batch operator's order, so they
        # equal cross_entropy_score's exactly (prefix congruity)
        lambda batch_df: pin(
            _gram_features(batch_df, num_buckets, ns, id_col, text_col)
        ),
        emit,
        id_col=id_col,
        geometry={"family": "novelty", "num_buckets": num_buckets, "ns": list(ns)},
        unique_ids=True,
        compact_every=compact_every,
    )
