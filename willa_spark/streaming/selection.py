"""Streaming DSIR scoring — the micro-batch twin of
``functions.selection``: incoming documents scored per batch against
FROZEN importance models (the two ``feature_log_probs`` frames, fit
once batch-side on the quality seed and a raw-corpus snapshot), with
optional threshold admission.

Scoring is a pure per-document function of the static models, so the
streaming twin IS the batch kernel applied per batch — no store, no
cross-batch state, congruity with the batch pipeline structural (the
``_decontaminate_fuzzy`` shape). What is deliberately NOT streamed:

- model FITTING — DSIR's raw model is a corpus-level statistic; a
  model updated mid-stream would score early and late batches under
  different distributions (non-reproducible admission). Refit
  batch-side and roll a new step, the IVF-retraining generation rule.
- Gumbel TOP-K selection — a global rank needs the whole corpus;
  streams admit by ``min_log_weight`` threshold instead (pick the
  threshold from the batch-side weight distribution — one
  approx-quantile pass — to hit a target keep rate).
"""

from __future__ import annotations

from collections.abc import Callable
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.selection import importance_log_weights
from ..pin import pin
from .store_step import Half, store_step


def dsir_score_step(
    target_model: DataFrame,
    raw_model: DataFrame,
    min_log_weight: float | None = None,
    num_buckets: int | None = 10_000,
    ns: tuple[int, ...] = (1, 2),
    id_col: str = "doc_id",
    text_col: str = "text",
) -> Callable[[DataFrame, int], DataFrame]:
    """foreachBatch step: ``(batch_df, batch_id) -> batch rows +
    (n_grams, log_weight)``, admission-filtered at ``min_log_weight``
    when set. Models must be the frames ``feature_log_probs`` built
    with the SAME ``num_buckets``/``ns`` (the feature spaces must
    match — a mismatch scores every gram at the floor, which the
    empty-model guard cannot see). Both model frames are eagerly
    PINNED here, once, at step construction: an unpinned model would
    re-run its whole fitting lineage (a corpus-wide explode+shuffle
    for the raw model) on EVERY micro-batch, and — worse — a mutable
    backing source would score late batches under a different
    distribution than early ones, exactly the frozen-model invariant
    this module's header promises. Documents with no features
    (empty/whitespace text) carry no weight row and are dropped —
    the batch kernel's contract.

    Per-batch id hygiene fails LOUD in-plan (the composed pipeline's
    discipline): a NULL id would silently vanish in the score
    re-join, and a doc delivered twice in one batch (at-least-once
    source replay) would have its grams MERGED into one
    doubled-weight row attached to both copies — corrupted admission
    either way. Dedup upstream (``dropDuplicates([id_col])``) before
    scoring replayed streams."""
    target_model, raw_model = pin(target_model, raw_model)

    def step(batch_df: DataFrame, batch_id: int) -> DataFrame:
        # the NULL guard must ride the id PROJECTION, not a post-join
        # column: every join here is id-keyed, so a NULL-id row would
        # vanish before any guard column evaluated (and it must ride
        # BOTH sides of the joins — AQE empty-relation propagation can
        # elide a join before the other side's stage runs)
        checked_id = F.when(
            F.col(id_col).isNull(),
            F.raise_error(
                F.lit(
                    "dsir_score_step: NULL document id — the score "
                    "re-join would silently drop the row; assign ids "
                    "upstream"
                )
            ).cast(batch_df.schema[id_col].dataType),
        ).otherwise(F.col(id_col))
        guarded = batch_df.withColumn(id_col, checked_id)
        w = importance_log_weights(
            guarded,
            target_model,
            raw_model,
            num_buckets=num_buckets,
            ns=ns,
            id_col=id_col,
            text_col=text_col,
        )
        if min_log_weight is not None:
            w = w.filter(w["log_weight"] >= min_log_weight)
        nrow = guarded.groupBy(id_col).agg(F.count(F.lit(1)).alias("__nrow"))
        checked = guarded.join(nrow, id_col).withColumn(
            "__dupck",
            F.when(
                F.col("__nrow") > 1,
                F.raise_error(
                    F.concat(
                        F.lit(
                            "dsir_score_step: duplicate id within one "
                            "micro-batch (grams would merge into one "
                            "doubled-weight row): "
                        ),
                        F.col(id_col).cast("string"),
                    )
                ).cast("boolean"),
            ).otherwise(F.lit(True)),
        )
        return checked.filter(F.col("__dupck")).drop("__nrow", "__dupck").join(
            w, id_col
        )

    return step


def domain_relevance_step(
    centroid: DataFrame,
    min_rel: float | None = None,
    id_col: str = "doc_id",
    source_col: str = "source",
    vec_col: str = "embedding",
) -> Callable[[DataFrame, int], DataFrame]:
    """foreachBatch step: ``(batch_df, batch_id) -> (id, <source_col>,
    domain_rel)`` under a FROZEN target centroid (the 1-row
    ``functions.selection.source_centroid`` frame, fit once
    batch-side on the target snapshot — the frozen-model rule this
    module's header pins: a centroid updated mid-stream would score
    early and late batches against different prototypes), with
    optional admission at ``min_rel``. The centroid is eagerly PINNED
    at step construction (an unpinned frame would re-run the target
    aggregation every micro-batch, and a mutable backing source
    would break the frozen invariant). Per-batch work is one
    broadcast + a map-only scan — the batch kernel's own plan; the
    in-plan dimension guards (ragged centroid, corpus-vs-centroid
    mismatch) ride along unchanged."""
    from pyspark.sql import functions as FN

    from ..functions.selection import score_against_centroid

    centroid = pin(centroid)

    def step(batch_df: DataFrame, batch_id: int) -> DataFrame:
        out = score_against_centroid(
            batch_df, centroid, id_col, source_col, vec_col,
            "domain_relevance_step",
        )
        if min_rel is not None:
            out = out.filter(FN.col("domain_rel") >= min_rel)
        return out

    return step


def kl_drift_step(
    store_dir: str,
    ns: tuple[int, ...] = (1,),
    smooth: float | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    compact_every: int | None = None,
) -> Callable[[DataFrame, int], DataFrame]:
    """foreachBatch DRIFT MONITOR: one (n_grams, kl_to_prior) row per
    micro-batch — the batch's smoothed gram distribution's KL from
    everything ingested STRICTLY BEFORE it, then the batch's counts
    fold into the store. The streaming face of
    ``selection.kl_divergence_profile`` (there: stratum vs corpus;
    here: batch vs prior corpus): a KL spike on an ingestion stream
    IS the drift alarm — a new source coming online, a scraper
    breaking, a language mix shift — caught at the batch boundary
    where it happens, not in next week's batch profile.

    Store discipline is ``novelty_score_step``'s verbatim: counts are
    SUMS (exact over any batching), the probe reads strictly-prior
    partitions (a replayed batch scores against exactly the state its
    first attempt saw), the append overwrites its own partition.
    Batch 0 (no prior) emits ZERO rows rather than a fabricated
    divergence. KL runs over the UNION vocabulary, both sides
    smoothed (absent grams take floor mass on either side — the
    kl_divergence_profile rule). ``ns`` is recorded as the store's
    geometry, so resuming with other gram orders fails loud."""
    from ..functions.selection import DEFAULT_SMOOTH, _gram_features

    s_ = float(DEFAULT_SMOOTH if smooth is None else smooth)

    def emit(batch_df, sigs, prior):
        bc = sigs[0]
        has_feats = bool(bc.limit(1).count())
        if prior is None or not has_feats:
            out = batch_df.sparkSession.createDataFrame(
                [], "n_grams bigint, kl_to_prior double"
            )
        else:
            prior_c = prior()[0].groupBy("feature").agg(F.sum("cnt").alias("__c"))
            full = bc.withColumnRenamed("cnt", "__cg").join(
                prior_c, "feature", "full"
            )
            totals = full.agg(
                F.sum(F.coalesce(F.col("__cg"), F.lit(0)))
                .cast("double")
                .alias("__Tb"),
                F.sum(F.coalesce(F.col("__c"), F.lit(0)))
                .cast("double")
                .alias("__Tp"),
                F.count(F.lit(1)).cast("double").alias("__V"),
            )
            j = full.crossJoin(F.broadcast(totals))
            p = (F.coalesce(F.col("__cg"), F.lit(0)) + s_) / (
                F.col("__Tb") + s_ * F.col("__V")
            )
            q = (F.coalesce(F.col("__c"), F.lit(0)) + s_) / (
                F.col("__Tp") + s_ * F.col("__V")
            )
            # pinned BEFORE the count append (the novelty rule: the
            # returned frame must not depend on store files moving)
            out = pin(
                j.agg(
                    F.sum(F.coalesce(F.col("__cg"), F.lit(0)))
                    .cast("bigint")
                    .alias("n_grams"),
                    F.round(F.sum(p * F.log(p / q)), 6).alias("kl_to_prior"),
                )
            )
        return out, [bc if has_feats else None]

    return store_step(
        "kl_drift_step",
        store_dir,
        [Half("feature_counts", "feature")],
        # ONE checkpoint, on the (feature, cnt) frame both consumers
        # read (feats itself has a single consumer)
        lambda batch_df: pin(
            _gram_features(batch_df, None, ns, id_col, text_col)
            .groupBy("feature")
            .agg(F.sum("cnt").alias("cnt"))
        ),
        emit,
        id_col=id_col,
        # the stored features are the grams of these orders
        geometry={"family": "kl_drift", "ns": list(ns)},
        unique_ids=True,
        compact_every=compact_every,
    )


def classifier_score_step(
    weights: list[float],
    num_buckets: int = 10_000,
    ns: tuple[int, ...] = (1, 2),
    min_prob: float | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    binary: bool = False,
) -> Callable[[DataFrame, int], DataFrame]:
    """foreachBatch step: ``(batch_df, batch_id) -> (id, y?,
    quality_prob)`` under a FROZEN trained classifier
    (``functions.classifier.train_logreg`` output — train batch-side
    on the labeled snapshot, then deploy; the frozen-model rule: a
    model updated mid-stream would admit early and late batches by
    different standards). Weights ride the closure as a literal
    array (driver-side config, ≤ num_buckets+1 doubles — the
    codebook-deployment shape, no store round-trip), so per-batch
    work is the batch kernel's own plan: one gram explode + one
    batch-local (doc, feature) agg + a map-only sigmoid — nothing
    keyed by anything outside the batch, replay-idempotent by
    construction. ``min_prob`` turns scoring into admission (the
    quality-filter deployment). (num_buckets, ns, ``binary``,
    weights) are ONE identity — score with the EXACT geometry you
    trained (store contract: a binary-trained model scored without
    the ``binary`` flag would silently score TF-fraction features —
    the length check cannot catch that class of mismatch, only the
    caller can)."""
    from ..functions.classifier import doc_feature_vectors, score_logreg

    if len(weights) != int(num_buckets) + 1:
        raise ValueError(
            f"classifier_score_step: {len(weights)} weights for "
            f"num_buckets={num_buckets} — mixed model generations? "
            "(num_buckets, ns, weights) are one store identity"
        )

    def step(batch_df: DataFrame, batch_id: int) -> DataFrame:
        fv = doc_feature_vectors(
            batch_df, num_buckets=num_buckets, ns=ns,
            id_col=id_col, text_col=text_col, binary=binary,
        )
        out = score_logreg(fv, weights).withColumnRenamed("id", id_col)
        if min_prob is not None:
            out = out.filter(F.col("quality_prob") >= min_prob)
        return out

    return step


def lm_perplexity_step(
    model: DataFrame,
    max_ppl: float | None = None,
    lam: float | None = None,
    alpha: float | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    scorer: str = "jm",
    discount: float | None = None,
) -> Callable[[DataFrame, int], DataFrame]:
    """foreachBatch step: ``(batch_df, batch_id) -> (id,
    n_transitions, ppl)`` under a FROZEN sequential bigram LM (the
    ``functions.lm.bigram_lm_train`` frame — train batch-side on the
    target snapshot, deploy; the frozen-model rule: an LM refit
    mid-stream would admit early and late batches under different
    distributions). The WHOLE frozen derivation — model pin,
    vocabulary-sized logp tables, broadcast-gate count — happens
    ONCE at step construction via ``lm.make_bigram_scorer`` (re-running
    the count job and the vocab-sized table derivations every
    micro-batch would rebuild state that never changes); per-batch work is only the corpus side (explode +
    joins + agg) — nothing keyed by anything outside the batch,
    replay-idempotent by construction. ``max_ppl`` turns scoring
    into admission — the CCNet deployment (keep the head/middle of
    the perplexity distribution). ``scorer`` picks Jelinek-Mercer
    ("jm", default — ``lam`` applies) or Kneser-Ney ("kn" —
    ``discount`` applies; the remedy the degenerate-discount error
    prescribes is reachable from here); cross-scorer knobs fail loud
    in ``make_bigram_scorer``."""
    from ..functions.lm import DEFAULT_ALPHA, DEFAULT_LAMBDA, make_bigram_scorer

    score = make_bigram_scorer(
        model,
        scorer=scorer,
        lam=DEFAULT_LAMBDA if lam is None else float(lam),
        alpha=DEFAULT_ALPHA if alpha is None else float(alpha),
        discount=discount,
        id_col=id_col,
        text_col=text_col,
    )

    def step(batch_df: DataFrame, batch_id: int) -> DataFrame:
        out = score(batch_df)
        if max_ppl is not None:
            out = out.filter(F.col("ppl") <= max_ppl)
        return out

    return step


def domain_mixture_step(
    model: DataFrame,
    store_dir: str,
    group_col: str = "lang",
    eta: float = 1.0,
    lam: float | None = None,
    alpha: float | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    compact_every: int | None = None,
    scorer: str = "jm",
    discount: float | None = None,
) -> Callable[[DataFrame, int], DataFrame]:
    """foreachBatch MIXTURE MONITOR: after each micro-batch, the
    CUMULATIVE one-step DoReMi weights (group, n_docs, n_transitions,
    share, ce, weight) over EVERYTHING ingested so far — the streaming
    face of ``selection.domain_mixture_weights`` (there: one batch
    corpus; here: the running union), proposing the next-epoch mix as
    the stream grows instead of at snapshot boundaries.

    Congruity is EXACT by construction: the store accumulates the
    ADDITIVE per-group statistics (n_docs, n_transitions, sum_lp from
    ``lm._group_lp_stats`` — sums fold across any batching; ce is a
    ratio and does NOT add, so it is rebuilt from the sums), and the
    tilt/normalize tail is the SHARED
    ``selection.mixture_weights_from_stats`` — so after ingesting
    batches 0..k the emitted frame equals the batch operator over
    their union under the same frozen model (pytest-pinned).

    The reference model is FROZEN (the lm_perplexity_step rule: a
    model refit mid-stream would score early and late batches under
    different distributions); the whole frozen derivation — model
    pin, vocab-sized logp tables, gate count, and the empty-model
    loud guard — happens ONCE at construction (the
    ``make_bigram_scorer`` move). Store discipline is
    ``kl_drift_step``'s verbatim: per-group sums are exact over any
    batching, the prior read is strictly-before (a replayed batch
    recomputes against exactly the state its first attempt saw and
    overwrites its own partition — replay-idempotent), the emitted
    frame is pinned before the append. Unlike the drift monitor,
    batch 0 EMITS (the mixture over one batch is well-defined; a
    drift needs a prior, a mixture does not). Duplicate / NULL ids
    fail LOUD before anything persists (doubled transition mass
    would survive replays); NULL groups / NULL text fail loud in the
    scoring plan (lm.py guards)."""
    from ..functions.selection import mixture_weights_from_stats

    eta_ = float(eta)
    return _mixture_monitor_step(
        model,
        store_dir,
        group_col,
        lam,
        alpha,
        id_col,
        text_col,
        compact_every,
        scorer,
        discount,
        step_name="domain_mixture_step",
        tail=lambda per: mixture_weights_from_stats(
            per, group_col=group_col, eta=eta_
        ),
        empty_ddl=lambda gtype: (
            f"{group_col} {gtype}, n_docs bigint, "
            "n_transitions bigint, share double, ce double, "
            "weight double"
        ),
    )


def domain_mixture_trajectory_step(
    model: DataFrame,
    store_dir: str,
    group_col: str = "lang",
    eta: float = 1.0,
    steps: int = 6,
    lam: float | None = None,
    alpha: float | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    compact_every: int | None = None,
    scorer: str = "jm",
    discount: float | None = None,
    max_groups: int = 100_000,
) -> Callable[[DataFrame, int], DataFrame]:
    """foreachBatch TRAJECTORY MONITOR: after each micro-batch, the
    CUMULATIVE bounded Group-DRO fixed-point trajectory (step, group,
    ce_mix, weight) over everything ingested so far — the streaming
    face of ``selection.domain_mixture_trajectory``, exactly as
    ``domain_mixture_step`` is the one-step row's. Same store
    (``group_lp_stats`` — the two monitors may SHARE a store
    directory ONLY when driven from the SAME foreachBatch callback,
    i.e. one stream, one batch sequence: the store partitions by
    ingest_batch alone, so two separate queries writing one
    store_dir silently overwrite each other's same-numbered batches),
    same frozen-model construction, same replay
    discipline;
    only the tail differs (the SHARED
    ``selection.mixture_trajectory_from_stats``), so congruity with
    the batch operator over the ingested union is exact by
    construction at any batching (pytest-pinned). ``steps`` < 1 fails
    loud at construction, not at the first batch."""
    from ..functions.selection import mixture_trajectory_from_stats

    eta_ = float(eta)
    steps_ = int(steps)
    if steps_ < 1:
        raise ValueError(
            f"domain_mixture_trajectory_step: steps={steps} — the "
            "bounded fixed-point iteration needs at least one step"
        )
    return _mixture_monitor_step(
        model,
        store_dir,
        group_col,
        lam,
        alpha,
        id_col,
        text_col,
        compact_every,
        scorer,
        discount,
        step_name="domain_mixture_trajectory_step",
        tail=lambda per: mixture_trajectory_from_stats(
            per,
            group_col=group_col,
            eta=eta_,
            steps=steps_,
            max_groups=max_groups,
            caller="domain_mixture_trajectory_step",
        ),
        empty_ddl=lambda gtype: (
            f"step int, {group_col} {gtype}, ce_mix double, "
            "weight double"
        ),
    )


def _mixture_monitor_step(
    model: DataFrame,
    store_dir: str,
    group_col: str,
    lam: float | None,
    alpha: float | None,
    id_col: str,
    text_col: str,
    compact_every: int | None,
    scorer: str,
    discount: float | None,
    step_name: str,
    tail: Callable[[DataFrame], DataFrame],
    empty_ddl: Callable[[str], str],
) -> Callable[[DataFrame, int], DataFrame]:
    """The SHARED DoReMi-monitor store machinery (the trajectory
    twin would otherwise have copied the one-step monitor's body —
    the drift class ``lm._frozen_plan`` closed on the construction
    side, closed here on the step side): frozen-model construction,
    id-hygiene loud guard, ONE pin on the batch's additive stats,
    strictly-before prior read, cumulative additive fold to the
    per-domain (group, n_docs, n_transitions, ce) frame, then
    ``tail(per)`` — which MUST materialize/pin ``per`` so the
    emission's lineage is store-free BEFORE the append lands (the
    novelty rule; both shared tails do). ``empty_ddl(gtype)`` names
    the batch-0-and-empty emission's schema with the BATCH group
    column's type."""
    from ..functions.lm import (
        DEFAULT_ALPHA,
        DEFAULT_LAMBDA,
        _frozen_plan,
        _group_lp_stats,
    )

    lam_ = DEFAULT_LAMBDA if lam is None else float(lam)
    alpha_ = DEFAULT_ALPHA if alpha is None else float(alpha)
    # the shared frozen-model construction (lm._frozen_plan): knob
    # validation, model pin, vocab-sized table pins, broadcast gate —
    # all HERE, once, identical to make_bigram_scorer's by sharing
    plan, do_broadcast = _frozen_plan(model, scorer, lam_, alpha_, discount)

    def emit(batch_df, sigs, prior):
        stats = sigs[0]
        has_rows = bool(stats.limit(1).count())
        if prior is None and not has_rows:
            # the empty frame's group column keeps the BATCH schema's
            # type: a hardcoded `string` would make a batch-0
            # emission disagree with every later batch for a
            # non-string group column, breaking sinks that union
            gtype = batch_df.schema[group_col].dataType.simpleString()
            return batch_df.sparkSession.createDataFrame([], empty_ddl(gtype)), [None]
        frames = ([stats] if has_rows else []) + list(prior() if prior else ())
        per = (
            reduce(DataFrame.unionByName, frames)
            .groupBy(group_col)
            .agg(
                F.sum("n_docs").cast("bigint").alias("n_docs"),
                F.sum("n_transitions").cast("bigint").alias("n_transitions"),
                F.sum("sum_lp").alias("sum_lp"),
            )
            .select(
                group_col,
                "n_docs",
                "n_transitions",
                (-F.col("sum_lp") / F.col("n_transitions")).alias("ce"),
            )
        )
        # the tail pins/materializes `per`, so the returned frame's
        # lineage is free of the store files BEFORE the append lands
        # (the novelty rule)
        return tail(per), [stats if has_rows else None]

    return store_step(
        step_name,
        store_dir,
        [Half("group_lp_stats", group_col)],
        # ONE pin on the batch's additive stats — both consumers (the
        # cumulative union and the store append) read it
        lambda batch_df: pin(_group_lp_stats(
            batch_df, plan, group_col, id_col, text_col, do_broadcast
        )),
        emit,
        id_col=id_col,
        unique_ids=True,
        compact_every=compact_every,
    )
