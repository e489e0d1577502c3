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
store identity.
"""

from __future__ import annotations

import os
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
from .store import (
    store_append,
    store_compact_every,
    store_partitions,
    store_read,
)


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
    the count append — eagerly pinned, the dsir frozen-frame
    discipline applied per batch)."""
    counts_dir = os.path.join(store_dir, "feature_counts")

    def step(batch_df: DataFrame, batch_id: int) -> DataFrame:
        spark = batch_df.sparkSession
        store_compact_every(
            spark, [(counts_dir, "feature")], batch_id, compact_every
        )
        # id hygiene fails LOUD before anything persists — here a bad
        # batch would not just mis-score itself (the dsir hazard), it
        # would fold corrupted counts into CROSS-BATCH state that a
        # replay rewrites identically (unrepairable): a NULL id merges
        # every id-less doc into one phantom row, a duplicated id
        # (at-least-once redelivery) doubles its grams in the prior
        # model forever. One batch-sized validation agg, driver-side.
        bad = batch_df.agg(
            F.sum(F.when(F.col(id_col).isNull(), 1).otherwise(0)).alias("n_null"),
            (F.count(F.lit(1)) - F.count_distinct(F.col(id_col))).alias("n_dup"),
        ).collect()[0]
        if bad["n_null"]:
            raise ValueError(
                f"novelty_score_step: {bad['n_null']} NULL {id_col} row(s) "
                "— assign ids upstream (they would merge into one "
                "phantom count row persisted across batches)"
            )
        if bad["n_dup"]:
            raise ValueError(
                f"novelty_score_step: {bad['n_dup']} duplicate {id_col} "
                "row(s) within one micro-batch — dedup upstream "
                "(dropDuplicates) or the doubled gram counts persist "
                "in the prior model across replays"
            )
        feats = pin(_gram_features(
            batch_df, num_buckets, ns, id_col, text_col
        ))
        # cheap local job on the pinned frame — an all-empty batch
        # appends nothing, so "prior partitions exist" (checked via
        # the driver-side listing, no cluster work) means "the prior
        # model has features"
        has_feats = bool(feats.limit(1).count())
        has_prior = any(b < batch_id for b in store_partitions(counts_dir))
        if not has_prior:
            scored = spark.createDataFrame(
                [],
                f"{id_col} "
                f"{batch_df.schema[id_col].dataType.simpleString()}, "
                "n_grams bigint, novelty_ce double",
            )
        else:
            prior = store_read(spark, counts_dir, before_batch=batch_id)
            model = _model_from_features(prior, num_buckets, smooth)
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
        if has_feats:
            store_append(
                feats.groupBy("feature").agg(F.sum("cnt").alias("cnt")),
                counts_dir,
                batch_id,
                sort_by="feature",
            )
        return scored

    return step
