"""Sequential bigram language modeling — conditional perplexity, the
CCNet / KenLM quality-signal shape (Wenzek et al. 2020 §3.3 score
documents under a target-corpus LM; Jelinek-Mercer interpolation per
Chen & Goodman 1999). DISTINCT from ``selection.cross_entropy_score``:
that is a bag-of-grams statistic (independent gram likelihoods — word
ORDER never matters), while this conditions every token on its
predecessor, so "the cat sat" and "sat the cat" score differently.
The two compose the way CCNet composes its signals: the bag model for
cheap hashed-feature banding, the sequential model for the
perplexity-ranked quality buckets.

Model: P(w2 | w1) = λ · c(w1,w2)/c_ctx(w1) + (1−λ) · P_uni(w2), with
P_uni(w2) = (c_tgt(w2) + α) / (T + α·(V+1)) — the unigram backoff
floor-smoothed over the target vocabulary (+1: the one unseen-word
class shares a single floor slot, the DSIR smoothing convention).
When the context w1 is unseen (c_ctx = 0) the first term is dropped
entirely (try_divide semantics) and the backoff carries the mass —
the standard interpolated-backoff degenerate case.

Everything derives from ONE bigram-count frame: c_ctx(w1) = Σ_w2
c(w1,w2), c_tgt(w2) = Σ_w1 c(w1,w2), T = Σ c, V = |distinct w2| —
training is one corpus-scale (w1, w2) partial-agg shuffle and three
vocabulary-sized aggs. Every document is bracketed by sentinels:
tokens t1..tn emit transitions (<s>,t1), (t1,t2), …, (tn,</s>) — n+1
transitions; an EMPTY document emits the single (<s>,</s>) boundary
transition, so every doc gets a perplexity row (unlike the bag
family's feature-less contract, the boundary transition is a real
event the LM models — sentence length is part of the distribution).

100 TB shape: the final log-probabilities are precomputed on the
VOCABULARY-sized model frame (where the pre-joined margins are
consumed — no corpus-side margin joins): an observed-bigram logp
table keyed (w1, w2), a backoff logp table keyed (w2) (an unseen
bigram's probability depends only on w2), and an α-floor literal
for never-seen targets. Scoring is one transition explode
(corpus-scale, map-side) + two joins against those tables —
broadcast when the model is under ``BROADCAST_MODEL_MAX_ROWS`` (the
bpe ``BROADCAST_VOCAB_MAX_WORDS`` rule), hash-joins above it — one
coalesce, then a per-doc partial agg.

Reference parity note: the reference (DaveWM/willa) has no LM
machinery — this module is part of the training-data-pipeline
superset, built from the published CCNet/KenLM descriptions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..pin import pin
from ._guards import check_cols_tuple

BOS = "<s>"
EOS = "</s>"

# broadcast the scoring model below this row count, shuffle-join above
# (a web-scale bigram table does not fit one executor) — the bpe
# BROADCAST_VOCAB_MAX_WORDS convention
BROADCAST_MODEL_MAX_ROWS = 1_000_000

DEFAULT_LAMBDA = 0.8
DEFAULT_ALPHA = 1e-4


def transition_pairs(text: Column) -> Column:
    """array<struct<w1,w2>> of the sequential transitions of one
    lowercased whitespace-tokenized text column, bracketed by the
    BOS/EOS sentinels. The token array is LAMBDA-BOUND (the dedup.
    shingles trick) so the split evaluates once per row, not once per
    transition; '' tokens are filtered BEFORE bracketing so an
    all-whitespace doc emits exactly the (<s>,</s>) boundary. NULL
    text fails LOUD in-plan (the roc_auc / kl_divergence_profile
    convention — and this module's own every-doc-gets-a-row
    contract: split(NULL) would make the array NULL and the explode
    would silently drop the document from training counts AND from
    the scored/admitted stream)."""
    checked = F.when(
        text.isNull(),
        F.raise_error(
            F.lit(
                "bigram LM: NULL text — impute or filter upstream; "
                "a NULL doc would silently vanish from the model "
                "counts and the scored stream"
            )
        ).cast("string"),
    ).otherwise(text)
    toks_expr = F.filter(
        F.split(F.lower(F.trim(checked)), r"\s+"), lambda t: t != ""
    )

    def build(toks):
        n = F.size(toks)
        idx = F.sequence(F.lit(0), n)
        return F.transform(
            idx,
            lambda i: F.struct(
                F.when(i == 0, F.lit(BOS))
                .otherwise(F.element_at(toks, i.cast("int")))
                .alias("w1"),
                F.when(i == n, F.lit(EOS))
                .otherwise(F.element_at(toks, (i + 1).cast("int")))
                .alias("w2"),
            ),
        )

    return F.element_at(F.transform(F.array(toks_expr), build), 1)


def bigram_lm_train(
    docs: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """(w1, w2, c12, c_ctx, c_tgt) — the observed-bigram count table
    with both margins pre-joined, THE model frame ``bigram_perplexity``
    consumes. One corpus-scale (w1, w2) partial-agg shuffle; the
    margin joins run on the vocabulary-sized count frame, never the
    corpus. The scalar totals (T, V) are NOT stored — scoring derives
    them with one vocabulary-sized agg so the model frame stays a
    plain joinable table (no 1-row side state to version)."""
    pairs = docs.select(
        F.explode(transition_pairs(F.col(text_col))).alias("__p")
    ).select(F.col("__p.w1").alias("w1"), F.col("__p.w2").alias("w2"))
    big = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    ctx = big.groupBy("w1").agg(F.sum("c12").alias("c_ctx"))
    tgt = big.groupBy("w2").agg(F.sum("c12").alias("c_tgt"))
    return big.join(ctx, "w1").join(tgt, "w2").select(
        "w1", "w2", "c12", "c_ctx", "c_tgt"
    )


def _model_totals(model: DataFrame) -> DataFrame:
    """1-row (T, V) derived from the model frame — T = total
    transitions, V = distinct target-vocabulary size (includes EOS;
    BOS is context-only by construction). An EMPTY model fails LOUD
    in-plan (unguarded, a 0-row model makes KN score every doc
    ppl = 1.0 — admit-all — while JM's NULL totals make every ppl
    NULL — drop-all; both silent). The guard evaluates
    at ``make_bigram_scorer`` construction (eager pin) or on the
    one-shot scorers' first action."""
    return model.agg(
        F.sum("c12").cast("double").alias("__T"),
        F.count_distinct("w2").cast("double").alias("__V"),
    ).select(
        F.when(F.col("__T").isNotNull() & (F.col("__T") > 0), F.col("__T"))
        .otherwise(
            F.raise_error(
                F.lit(
                    "bigram LM: EMPTY model frame — nothing to score "
                    "(bad training path or over-filtered snapshot?); "
                    "an unguarded empty model admits or drops EVERY "
                    "doc silently"
                )
            ).cast("double")
        )
        .alias("__T"),
        "__V",
    )


def _transitions(
    docs: DataFrame, id_col: str, text_col: str, extra_cols: tuple = ()
) -> DataFrame:
    """(id, [extras...], w1, w2) — the corpus-side transition explode.
    ``extra_cols``: (name, Column) pairs carried through beside the id
    (the group-scoring twin's label column)."""
    sel = [F.col(id_col).alias("id")]
    sel += [e.alias(n) for n, e in extra_cols]
    sel.append(F.explode(transition_pairs(F.col(text_col))).alias("__p"))
    return docs.select(*sel).select(
        "id",
        *[n for n, _ in extra_cols],
        F.col("__p.w1").alias("w1"),
        F.col("__p.w2").alias("w2"),
    )


def _scored_lp(
    docs: DataFrame,
    plan: dict,
    id_col: str,
    text_col: str,
    do_broadcast: bool,
    extra_cols: tuple = (),
) -> DataFrame:
    """(id, [extras...], __lp) — THE shared corpus side of every
    scorer: one transition explode + the plan's left joins (broadcast
    under the gate) + the scalars crossJoin + the lp coalesce. One
    definition so a future change to the gating or join shape cannot
    drift between the per-doc scorers and the group-scoring twin."""
    j = _transitions(docs, id_col, text_col, extra_cols)
    for tab, keys in plan["joins"]:
        j = j.join(F.broadcast(tab) if do_broadcast else tab, keys, "left")
    j = j.crossJoin(F.broadcast(plan["scalars"]))
    return j.select(
        "id", *[n for n, _ in extra_cols], plan["lp"].alias("__lp")
    )


def _jm_plan(model: DataFrame, lam: float, alpha: float) -> dict:
    """Jelinek-Mercer scoring plan over a PINNED model frame: the
    vocabulary-sized logp tables + the per-transition lp expression.
    Operand order matches per-transition math exactly, so the value
    is bit-identical to computing p per row. The backoff weight is
    derived ONCE as back_ = 1.0 - lam_ and the DuckDB oracle spells
    the same subtraction (``(1 - 0.8)``, never the literal ``0.2``):
    1.0 - 0.8 and 0.2 differ by 1 ulp in IEEE doubles, so a literal
    on one side would leave the cross-engine 6dp parity hanging on
    that ulp never landing on a rounding boundary."""
    lam_, a_ = float(lam), float(alpha)
    back_ = 1.0 - lam_
    totals = _model_totals(model)
    denom = F.col("__T") + a_ * (F.col("__V") + 1.0)
    obs = model.crossJoin(F.broadcast(totals)).select(
        "w1",
        "w2",
        F.log(
            lam_ * (F.col("c12").cast("double") / F.col("c_ctx"))
            + back_ * ((F.col("c_tgt") + a_) / denom)
        ).alias("__lp_obs"),
    )
    back = (
        model.select("w2", "c_tgt")
        .distinct()
        .crossJoin(F.broadcast(totals))
        .select(
            "w2",
            F.log(back_ * ((F.col("c_tgt") + a_) / denom)).alias(
                "__lp_back"
            ),
        )
    )
    floor_lp = F.log(back_ * (a_ / denom))
    return {
        "joins": [(obs, ["w1", "w2"]), (back, ["w2"])],
        "scalars": totals,
        "lp": F.coalesce(F.col("__lp_obs"), F.col("__lp_back"), floor_lp),
    }


def _kn_plan(model: DataFrame, alpha: float, discount: float | None) -> dict:
    """Interpolated-Kneser-Ney scoring plan over a PINNED model frame.
    The effective discount is GUARDED in-plan: D = 0 (a model with no
    1-count bigrams under the estimate) makes every unseen-bigram leg
    log(0), which Spark's log returns as NULL and sum would silently
    SKIP while count still counts the row — deflating ppl for exactly
    the zero-probability documents an admission screen most needs to
    reject. A degenerate model fails loud
    instead; pass an explicit 0 < discount < 1 to override the
    estimate."""
    if discount is not None and not (0.0 < float(discount) < 1.0):
        raise ValueError(
            f"kn_bigram_perplexity: discount must be in (0, 1), got "
            f"{discount} — D = 0 assigns ZERO mass to unseen bigrams "
            "(log(0) legs); D >= 1 clamps every 1-count bigram's "
            "discounted term to 0 (the clamp, not negativity — the "
            "mass shifts entirely to backoff), which the standard "
            "bigram-KN estimate n1/(n1+2·n2) never does"
        )
    a_ = float(alpha)
    d_raw = (
        F.lit(float(discount))
        if discount is not None
        else F.when(
            F.col("__n1") + 2.0 * F.col("__n2") > 0,
            F.col("__n1") / (F.col("__n1") + 2.0 * F.col("__n2")),
        ).otherwise(F.lit(0.5))
    )
    stats = model.agg(
        F.count(F.lit(1)).cast("double").alias("__NT"),
        F.count_distinct("w2").cast("double").alias("__V"),
        F.sum((F.col("c12") == 1).cast("double")).alias("__n1"),
        F.sum((F.col("c12") == 2).cast("double")).alias("__n2"),
    ).select(
        # empty-model guard — same failure class as _model_totals
        # (0-row model: every join misses, λ→1, P_cont→1, ppl=1.0
        # admit-all)
        F.when(F.col("__NT") > 0, F.col("__NT"))
        .otherwise(
            F.raise_error(
                F.lit(
                    "bigram LM: EMPTY model frame — nothing to score "
                    "(bad training path or over-filtered snapshot?)"
                )
            ).cast("double")
        )
        .alias("__NT"),
        "__V",
        F.when(d_raw > 0, d_raw)
        .otherwise(
            F.raise_error(
                F.lit(
                    "kn_bigram_perplexity: estimated discount is 0 (the "
                    "model has no 1-count bigrams) — unseen bigrams would "
                    "take log(0); pass an explicit 0 < discount < 1"
                )
            ).cast("double")
        )
        .alias("__D"),
    )
    lam_tab = (
        model.groupBy("w1")
        .agg(
            F.sum("c12").alias("__c_ctx"),
            F.count(F.lit(1)).cast("double").alias("__types"),
        )
        .crossJoin(F.broadcast(stats))
        .select(
            "w1",
            (F.col("__D") * F.col("__types") / F.col("__c_ctx")).alias(
                "__lam"
            ),
        )
    )
    pcont_tab = (
        model.groupBy("w2")
        .agg(F.count(F.lit(1)).cast("double").alias("__n1p"))
        .crossJoin(F.broadcast(stats))
        .select(
            "w2",
            (
                (F.col("__n1p") + a_)
                / (F.col("__NT") + a_ * (F.col("__V") + 1.0))
            ).alias("__pcont"),
        )
    )
    obs = (
        model.join(pcont_tab, "w2")
        .join(lam_tab, "w1")
        .crossJoin(F.broadcast(stats))
        .select(
            "w1",
            "w2",
            F.log(
                F.greatest(
                    F.col("c12").cast("double") - F.col("__D"), F.lit(0.0)
                )
                / F.col("c_ctx")
                + F.col("__lam") * F.col("__pcont")
            ).alias("__lp_obs"),
        )
    )
    floor_pcont = a_ / (F.col("__NT") + a_ * (F.col("__V") + 1.0))
    miss_lp = F.log(
        F.coalesce(F.col("__lam"), F.lit(1.0))
        * F.coalesce(F.col("__pcont"), floor_pcont)
    )
    return {
        "joins": [
            (obs, ["w1", "w2"]),
            (lam_tab, ["w1"]),
            (pcont_tab, ["w2"]),
        ],
        "scalars": stats,
        "lp": F.coalesce(F.col("__lp_obs"), miss_lp),
    }


def _apply_plan(
    docs: DataFrame,
    plan: dict,
    id_col: str,
    text_col: str,
    do_broadcast: bool,
    carry_cols: tuple = (),
) -> DataFrame:
    """Per-doc tail over the shared ``_scored_lp`` corpus side.
    ``carry_cols`` names per-doc-constant columns to ride through the
    explode and the agg (they join the group keys — exact, since they
    are functionally dependent on the id), so composition callers
    (e.g. the curated-admission row carrying ``lang``) need no
    doc-cardinality re-join after scoring."""
    extras = tuple((c, F.col(c)) for c in carry_cols)
    scored = _scored_lp(
        docs, plan, id_col, text_col, do_broadcast, extra_cols=extras
    )
    return scored.groupBy(
        F.col("id").alias(id_col), *[F.col(c) for c in carry_cols]
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_transitions"),
        F.exp(-F.sum("__lp") / F.count(F.lit(1))).alias("ppl"),
    )


def bigram_perplexity(
    docs: DataFrame,
    model: DataFrame,
    lam: float = DEFAULT_LAMBDA,
    alpha: float = DEFAULT_ALPHA,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_max_rows: int = BROADCAST_MODEL_MAX_ROWS,
) -> DataFrame:
    """(id, n_transitions, ppl) — per-document conditional perplexity
    under a FROZEN ``bigram_lm_train`` model: ppl = exp(−Σ ln P(w2|w1)
    / n) over the doc's bracketed transitions, Jelinek-Mercer
    interpolation. Unseen bigram → λ·0 + the (1−λ)-weighted unigram
    backoff (a value depending only on w2, whether or not the context
    was ever seen); unseen target word → the shared α floor slot. LOW
    ppl = target-like text, HIGH = far from the model corpus —
    CCNet's head/middle/tail buckets cut on exactly this number.

    Plan: the final log-probability is PRECOMPUTED on the
    vocabulary-sized model frame (where the pre-joined margins are
    consumed — no corpus-side margin joins): scoring is
    one transition explode + TWO joins against the logp tables
    (broadcast under ``broadcast_max_rows`` — the count is one
    vocabulary-sized job — hash-join above) + one coalesce + a
    per-doc partial agg. No vocab² table, no per-transition division.

    The model frame has multiple consumers here (the logp
    precomputes, the totals agg, the broadcast-gate count), so it is
    PINNED first — unpinned, each consumer re-runs the model's whole
    lineage, which for a ``bigram_lm_train`` frame is the
    corpus-scale training shuffle per consumer. A model the caller
    already pinned with ``pin`` is reused as is. Scoring many batches
    under one frozen model? Use ``make_bigram_scorer`` — it builds
    and PINS these tables once instead of per call."""
    model = pin(model)
    plan = _jm_plan(model, lam, alpha)
    return _apply_plan(
        docs, plan, id_col, text_col, model.count() <= broadcast_max_rows
    )


def kn_bigram_perplexity(
    docs: DataFrame,
    model: DataFrame,
    discount: float | None = None,
    alpha: float = DEFAULT_ALPHA,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_max_rows: int = BROADCAST_MODEL_MAX_ROWS,
) -> DataFrame:
    """(id, n_transitions, ppl) — per-document perplexity under
    interpolated Kneser-Ney smoothing (Chen & Goodman 1999 — the
    smoothing KenLM ships, i.e. what CCNet's wiki LM actually uses),
    over the SAME ``bigram_lm_train`` model frame as the
    Jelinek-Mercer scorer:

        P(w2|w1) = max(c12 − D, 0)/c_ctx + λ(w1) · P_cont(w2)
        λ(w1)    = D · N1+(w1,·) / c_ctx        (the discount mass)
        P_cont(w2) = (N1+(·,w2) + α) / (N_types + α·(V+1))

    N1+(w1,·)/N1+(·,w2) are bigram TYPE counts (how many distinct
    continuations/contexts), the insight KN adds over JM: a word
    seen in many CONTEXTS ("francisco" appears often but only after
    "san") gets continuation mass by type diversity, not raw
    frequency. ``discount=None`` estimates D = n1/(n1 + 2·n2) from
    the counts-of-counts (the standard absolute-discount estimate;
    0.5 if the model has no 1- or 2-count bigrams), computed as a
    1-row frame — no collect, deterministic; a degenerate D = 0
    fails LOUD in-plan, and an explicit discount outside (0, 1)
    fails at call (see ``_kn_plan``). An unseen CONTEXT backs off to
    P_cont(w2) alone (λ taken as 1); an unseen TARGET takes the α
    floor of P_cont.

    Plan: all KN statistics are vocabulary-sized derivations of the
    pinned model frame (two groupBys + two 1-row aggs); scoring is
    one transition explode + THREE broadcast-gated joins — the
    observed-bigram logp table keyed (w1, w2) plus the λ table keyed
    (w1) and the P_cont table keyed (w2), both needed on the
    unseen-bigram legs — then one coalesce layer and a per-doc
    partial agg. Honest join count: the λ/P_cont joins run over ALL
    transitions, not just misses (a miss-only restriction would
    split the corpus-scale frame into a multi-consumer fork and cost
    a pin — worse below ~50% miss rates). Scoring many batches under
    one frozen model? Use ``make_bigram_scorer``."""
    model = pin(model)
    plan = _kn_plan(model, alpha, discount)
    return _apply_plan(
        docs, plan, id_col, text_col, model.count() <= broadcast_max_rows
    )


def bigram_group_cross_entropy(
    docs: DataFrame,
    model: DataFrame,
    group_col: str = "lang",
    lam: float = DEFAULT_LAMBDA,
    alpha: float = DEFAULT_ALPHA,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_max_rows: int = BROADCAST_MODEL_MAX_ROWS,
    scorer: str = "jm",
    discount: float | None = None,
) -> DataFrame:
    """(group, n_docs, n_transitions, ce) — per-GROUP mean conditional
    cross-entropy under a frozen bigram model, Jelinek-Mercer by
    default or interpolated Kneser-Ney with ``scorer="kn"`` (the
    KenLM form — ``discount`` applies there; cross-scorer knobs fail
    loud exactly as in ``make_bigram_scorer``):
    ce_g = −Σ_g ln P(w2|w1) / n_g over every transition of every doc
    in the group (token-weighted, NOT a mean of per-doc means — a
    domain's loss is its corpus loss, so long docs weigh more, the
    LM-training convention). The group-level twin of
    ``bigram_perplexity`` (ce = ln ppl when both are token-weighted):
    per-domain loss is THE input signal for mixture reweighting
    (DoReMi, Xie et al. 2023 — domains with high excess loss get
    upweighted; see ``selection.domain_mixture_weights``).

    Plan: identical to the scoring plan (one transition explode +
    broadcast-gated logp joins) except the final agg keys on the
    GROUP (a handful of rows) instead of the doc. The distinct-doc
    count is SALTED (pmod(xxhash64(id), 64) — the skew_salted_agg
    move): group cardinality is tiny (languages/sources), so an
    unsalted count_distinct(id) would push one row per DOC through
    an exchange keyed on ~5 values — 5 reducers swallowing the
    corpus's doc-cardinality rows at 100 TB (caught by this row's
    pre-parking plan audit). The salt derives FROM the id, so each
    id lands in exactly one (group, salt) cell and the per-cell
    distinct counts SUM exactly; the exchange spreads over
    groups × 64 keys and the final agg folds 64 pre-aggregated rows
    per group. NULL group fails LOUD in-plan (the
    kl_divergence_profile convention: a NULL group would pool every
    unlabeled doc into one phantom domain row)."""
    _check_scorer_knobs(scorer, lam, discount)
    model = pin(model)
    plan = (
        _jm_plan(model, lam, alpha)
        if scorer == "jm"
        else _kn_plan(model, alpha, discount)
    )
    stats = _group_lp_stats(
        docs,
        plan,
        group_col,
        id_col,
        text_col,
        model.count() <= broadcast_max_rows,
    )
    return stats.select(
        group_col,
        "n_docs",
        "n_transitions",
        (-F.col("sum_lp") / F.col("n_transitions")).alias("ce"),
    )


def _group_lp_stats(
    docs: DataFrame,
    plan: dict,
    group_col: str,
    id_col: str,
    text_col: str,
    do_broadcast: bool,
) -> DataFrame:
    """(group, n_docs, n_transitions, sum_lp) — the ADDITIVE per-group
    scoring statistics under an already-built plan: pure sums, so
    frames from disjoint batches fold into the union's frame exactly
    (the streaming ``domain_mixture_step`` accumulates THIS — ce is a
    ratio and does not add). The salted distinct-count shape is
    documented on ``bigram_group_cross_entropy``; NULL group fails
    LOUD here (the shared guard for both consumers)."""
    checked_group = F.when(
        F.col(group_col).isNull(),
        F.raise_error(
            F.lit(
                f"bigram LM group scoring: NULL {group_col} — label "
                "domains upstream (a NULL group would pool every "
                "unlabeled doc into one phantom domain)"
            )
        ).cast(docs.schema[group_col].dataType),
    ).otherwise(F.col(group_col))
    scored = _scored_lp(
        docs,
        plan,
        id_col,
        text_col,
        do_broadcast,
        extra_cols=(("__grp", checked_group),),
    )
    salted = scored.groupBy(
        "__grp", F.pmod(F.xxhash64("id"), F.lit(64)).alias("__salt")
    ).agg(
        F.count_distinct("id").alias("__nd"),
        F.count(F.lit(1)).alias("__n"),
        F.sum("__lp").alias("__s"),
    )
    return salted.groupBy(F.col("__grp").alias(group_col)).agg(
        F.sum("__nd").cast("bigint").alias("n_docs"),
        F.sum("__n").cast("bigint").alias("n_transitions"),
        F.sum("__s").alias("sum_lp"),
    )


def _check_scorer_knobs(scorer: str, lam: float, discount: float | None):
    """The shared cross-knob validation (a knob with nothing to act
    on is a config error, never a silent no-op) —
    used by ``make_bigram_scorer`` and the group scorer."""
    if scorer not in ("jm", "kn"):
        raise ValueError(
            f"bigram LM: unknown scorer {scorer!r} "
            "(jm = Jelinek-Mercer, kn = Kneser-Ney)"
        )
    if scorer == "kn" and lam != DEFAULT_LAMBDA:
        raise ValueError(
            "bigram LM: lam is a Jelinek-Mercer knob — Kneser-Ney "
            "has no interpolation weight (its discount mass is "
            "D-derived); pass discount= instead"
        )
    if scorer == "jm" and discount is not None:
        raise ValueError(
            "bigram LM: discount is a Kneser-Ney knob — "
            "Jelinek-Mercer interpolates with lam, not an absolute "
            "discount"
        )


def _frozen_plan(
    model: DataFrame,
    scorer: str,
    lam: float,
    alpha: float,
    discount: float | None,
    broadcast_max_rows: int = BROADCAST_MODEL_MAX_ROWS,
):
    """The ONE frozen-model construction, shared by
    ``make_bigram_scorer`` and the streaming mixture step so the two
    cannot drift: validate the cross-scorer knobs, pin the model,
    derive and eagerly PIN the vocabulary-sized logp/λ/P_cont tables
    and the scalar frame (a degenerate model fails HERE, at
    construction), and run the broadcast-gate count — returning
    ``(plan, do_broadcast)`` ready for per-batch ``_apply_plan`` /
    ``_group_lp_stats`` calls that pay only corpus-side work."""
    _check_scorer_knobs(scorer, lam, discount)
    model = pin(model)
    do_broadcast = model.count() <= broadcast_max_rows
    plan = (
        _jm_plan(model, lam, alpha)
        if scorer == "jm"
        else _kn_plan(model, alpha, discount)
    )
    # The derived tables are independent per-row derivations of the
    # ALREADY-PINNED model, so they are pinned together (concurrent
    # jobs instead of 3-4 sequential ones) — and inside the broadcast gate
    # each is vocabulary-sized and about to be broadcast anyway, so
    # coalesce(1) turns each pin from a model-shuffle-width tasklet
    # swarm into one task (measured: the sequential 32-task pins cost
    # ~1.2 s of pure per-job scheduling on a 973-row model). coalesce
    # merges output partitions only — every value is computed per-row
    # from exact counts before it applies — and the empty/degenerate
    # model guards still evaluate here, at construction, surfacing
    # from whichever concurrent pin hits them first.
    tabs = [tab for tab, _ in plan["joins"]] + [plan["scalars"]]
    *joins, scalars = pin(*(t.coalesce(1) if do_broadcast else t for t in tabs))
    plan = {
        "joins": [(t, keys) for t, (_, keys) in zip(joins, plan["joins"])],
        "scalars": scalars,
        "lp": plan["lp"],
    }
    return plan, do_broadcast


def make_bigram_scorer(
    model: DataFrame,
    scorer: str = "jm",
    lam: float = DEFAULT_LAMBDA,
    alpha: float = DEFAULT_ALPHA,
    discount: float | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_max_rows: int = BROADCAST_MODEL_MAX_ROWS,
    carry_cols: tuple = (),
):
    """Build a FROZEN scoring closure ONCE: pins the model, derives
    and eagerly PINS the vocabulary-sized logp tables and the scalar
    frame, and runs the broadcast-gate count — so each call of the
    returned ``fn(docs) -> (id, n_transitions, ppl)`` pays only the
    corpus-side work (explode + joins + agg). This is the per-batch
    deployment shape: the one-shot functions above rebuild the
    tables per call, which is fine for a single batch pass but waste
    on every micro-batch of a stream (the streaming step and the
    composed pipeline's LM screen both use this).
    ``scorer``: "jm" (Jelinek-Mercer) or "kn" (Kneser-Ney);
    cross-scorer knobs fail LOUD via the shared
    ``_check_scorer_knobs``."""
    check_cols_tuple("carry_cols", carry_cols)
    plan, do_broadcast = _frozen_plan(
        model, scorer, lam, alpha, discount, broadcast_max_rows
    )

    def score(docs: DataFrame) -> DataFrame:
        return _apply_plan(
            docs, plan, id_col, text_col, do_broadcast, carry_cols
        )

    return score
